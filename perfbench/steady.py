#!/usr/bin/env python3
"""Steadiness check: run workloads repeatedly and summarise each metric.

    python3 perfbench/steady.py [--runs 10] [--seconds <run_seconds>] [--trace 0]
                                [--first-seed 1] [workload ...]

Each run uses its own seed (first-seed, first-seed+1, ...). For every
metric it prints the median, the quartiles (statistics.quantiles, n=4)
and the quartile spread as a share of the median, which is the figure the
benchmark's bounds are judged against. It also reports the warm-up trend
of the timed passes: for each run, the slope of pass time against pass
index (least squares, as a share of the median pass per pass); a steady
benchmark shows slopes around zero with no common sign. Each run's line
also gives the share of CPU time the hypervisor took from this machine
while it ran (steal, from /proc/stat where it exists), since on a shared
host that moves every wall-clock metric. The summary is also written to
.bench_build/perfbench/steady-<workload>-<trace>.json.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, ".bench_build", "perfbench")


def cpu_times():
    """(all CPU jiffies, steal jiffies) of the machine, or None."""
    try:
        with open("/proc/stat") as f:
            v = [int(x) for x in f.readline().split()[1:]]
        return sum(v), v[7]
    except (OSError, IndexError, ValueError):
        return None


def slope(ys):
    n = len(ys)
    if n < 2:
        return 0.0
    mx, my = (n - 1) / 2, statistics.median(ys)
    num = sum((i - mx) * (y - statistics.fmean(ys)) for i, y in enumerate(ys))
    den = sum((i - mx) ** 2 for i in range(n))
    return num / den / my


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--runs", type=int, default=10)
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        run_seconds = json.load(f)["run_seconds"]
    ap.add_argument("--seconds", type=int, default=run_seconds)
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--first-seed", type=int, default=1)
    ap.add_argument("workloads", nargs="*", default=["stage_bound", "memo_rebuild"])
    a = ap.parse_args()
    for w in a.workloads:
        values, slopes, steals, fails = {}, [], [], set()
        for i in range(a.runs):
            seed = a.first_seed + i
            t0, c0 = time.time(), cpu_times()
            p = subprocess.run([sys.executable, os.path.join(ROOT, "perfbench", "run.py"),
                                "--workload", w, "--seed", str(seed), "--seconds", str(a.seconds),
                                "--trace", str(a.trace)],
                               cwd=ROOT, stdout=subprocess.PIPE, text=True)
            c1 = cpu_times()
            steal = (c1[1] - c0[1]) / max(1, c1[0] - c0[0]) if c0 and c1 else float("nan")
            if p.returncode != 0:
                print(f"{w} seed {seed}: exit {p.returncode}")
                continue
            last = json.loads(p.stdout.strip().splitlines()[-1])
            with open(os.path.join(WORK, f"result-{w}.json")) as f:
                res = json.load(f)
            timed = res["pass_s"]
            slopes.append(slope(timed))
            steals.append(steal)
            fails.add((last["failed"], last["attempted"], last["correct"]))
            for m, v in last["metrics"].items():
                values.setdefault(m, []).append(v["value"])
            print(f"{w} seed {seed}: " + " ".join(f"{m}={v['value']:.4f}" for m, v in last["metrics"].items())
                  + f" passes={res['passes']} correct={last['correct']} failed={last['failed']}/{last['attempted']}"
                  + f" wall={time.time() - t0:.1f}s steal={steal:.1%}"
                  + " pass_s=" + ",".join(f"{x:.3f}" for x in timed),
                  flush=True)
        summary = {"workload": w, "trace": a.trace, "seconds": a.seconds, "metrics": {},
                   "pass_slope_per_pass": slopes, "steal": steals,
                   "failed_attempted_correct": sorted(map(list, fails))}
        print(f"== {w} (trace {a.trace}, {len(slopes)} runs)")
        for m, vs in values.items():
            if len(vs) >= 2:
                q1, q2, q3 = statistics.quantiles(vs, n=4)
            else:
                q1 = q2 = q3 = vs[0]
            spread = (q3 - q1) / q2 if q2 else float("nan")
            summary["metrics"][m] = {"median": q2, "q1": q1, "q3": q3, "spread": spread, "values": vs}
            print(f"  {m:<24} median {q2:12.4f}  q1 {q1:12.4f}  q3 {q3:12.4f}  spread {spread:7.2%}")
        if slopes:
            print(f"  pass-time slope per pass: median {statistics.median(slopes):+.2%}, "
                  f"runs rising {sum(s > 0 for s in slopes)} of {len(slopes)}")
            print(f"  host CPU steal per run: median {statistics.median(steals):.1%}, max {max(steals):.1%}")
        with open(os.path.join(WORK, f"steady-{w}-{a.trace}.json"), "w") as f:
            json.dump(summary, f, indent=1)


if __name__ == "__main__":
    main()

#!/usr/bin/env python3
"""Benchmark command of the graft Spark engine.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>
    python3 perfbench/run.py census

Run from the root of a checkout. The first run builds the program and the
harness from source with sbt (perfbench/build.sbt); later runs reuse the
build while the sources are unchanged. One JVM runs Spark at local[4] on
the fixed sf0.1 tables in perfbench/data, sets up, times whole passes
over the workload's keys for --seconds, and writes each key's output; the
outputs are then checked against DuckDB (perfbench/check.py). The last
line of standard output is one JSON object:
{"correct", "attempted", "failed", "metrics"}. --trace 0 reports the
end-to-end metrics, --trace 1 the per-layer ones (see README.md).

`census` runs every key of the inventory once cold and once warm under
the trace and writes .bench_build/perfbench/census.jsonl.
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
BENCH = os.path.join(ROOT, "perfbench")
DATA = os.path.join(BENCH, "data")
WORK = os.path.join(ROOT, ".bench_build", "perfbench")
HEAP = "2g"
JVM_TIMEOUT_S = 150

sys.path.insert(0, BENCH)
import check  # noqa: E402

WORKLOADS = ["stage_bound", "memo_rebuild"]

# End-to-end metrics (--trace 0), as reported by the harness.
E2E = [("suite_s", "s"), ("setup_s", "s"), ("cache_mb", "MB")]

# Per-layer metrics (--trace 1): name, unit, the end-to-end metric it
# should move, and on which workload.
LAYERS = [
    ("operators.build_s", "s", "suite_s on stage_bound"),
    ("operators.build_jobs", "count", "suite_s on stage_bound"),
    ("operators.build_stages", "count", "suite_s on stage_bound"),
    ("plans.analysis_s", "s", "suite_s on stage_bound"),
    ("plans.optimize_s", "s", "suite_s on stage_bound"),
    ("plans.physical_s", "s", "suite_s on stage_bound"),
    ("exec.wall_s", "s", "suite_s on stage_bound"),
    ("exec.jobs", "count", "suite_s on stage_bound"),
    ("exec.stages", "count", "suite_s on stage_bound"),
    ("exec.tasks", "count", "suite_s on stage_bound"),
    ("exec.idle_core_s", "s", "suite_s on stage_bound"),
    ("exec.task_s", "s", "suite_s on memo_rebuild"),
    ("exec.gc_s", "s", "suite_s on memo_rebuild"),
    ("exec.shuffle_write_mb", "MB", "suite_s on memo_rebuild"),
    ("exec.shuffle_read_mb", "MB", "suite_s on memo_rebuild"),
    ("exec.shuffle_write_s", "s", "suite_s on stage_bound"),
    ("exec.spill_mb", "MB", "suite_s on memo_rebuild"),
    ("tables.memos_built", "count", "suite_s on memo_rebuild"),
    ("tables.build_s", "s", "suite_s on memo_rebuild, setup_s on stage_bound"),
    ("tables.memo_mb", "MB", "cache_mb on both"),
    ("trace.suite_s", "s", "(traced passes' suite_s)"),
    ("trace.overhead_s", "s", "(traced minus untraced suite_s)"),
]

# Spark 4 on JDK 17 outside spark-submit needs these (the program's
# build.sbt passes the same list to its forked runs).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_stamp():
    """Hash of every file the build reads, so a changed tree rebuilds."""
    h = hashlib.sha256()
    files = [os.path.join(ROOT, "build.sbt"),
             os.path.join(ROOT, "project", "build.properties"),
             os.path.join(BENCH, "build.sbt"),
             os.path.join(BENCH, "project", "build.properties")]
    for top in (os.path.join(ROOT, "src", "main"), os.path.join(BENCH, "src")):
        for d, _, fs in sorted(os.walk(top)):
            files += [os.path.join(d, f) for f in sorted(fs)]
    for f in files:
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def classpath():
    """Build the program and the harness if needed; return the classpath."""
    stamp_file = os.path.join(WORK, "build.stamp")
    cp_file = os.path.join(WORK, "classpath.txt")
    stamp = source_stamp()
    if os.path.exists(stamp_file) and os.path.exists(cp_file):
        with open(stamp_file) as f:
            if f.read() == stamp:
                with open(cp_file) as g:
                    return g.read().strip()
    if shutil.which("sbt") is None:
        fail("sbt not found")
    log = os.path.join(WORK, "build.log")
    with open(log, "w") as out:
        p = subprocess.run(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.autostart=false",
             "compile", "export Runtime/fullClasspath"],
            cwd=BENCH, stdout=subprocess.PIPE, stderr=out, text=True, timeout=840)
    lines = [l for l in p.stdout.splitlines() if l.strip()]
    with open(log, "a") as out:
        out.write(p.stdout)
    if p.returncode != 0 or not lines or "[" in lines[-1]:
        fail(f"build failed (see {log})")
    cp = lines[-1].strip()
    with open(cp_file, "w") as f:
        f.write(cp)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return cp


def harness(cp, args, log_name, timeout=JVM_TIMEOUT_S):
    env = dict(os.environ)
    # Spark prefers SPARK_LOCAL_DIRS over spark.local.dir; the harness keeps
    # its scratch inside the checkout.
    env.pop("SPARK_LOCAL_DIRS", None)
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = ["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", f"-Djava.io.tmpdir={tmp}", "-Dspark.ui.enabled=false"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "perfbench.Harness"] + args + [
        "--data", DATA, "--work", WORK]
    log = os.path.join(WORK, log_name)
    with open(log, "w") as out:
        try:
            p = subprocess.run(cmd, cwd=ROOT, env=env, stdout=out, stderr=out,
                               timeout=timeout)
        except subprocess.TimeoutExpired:
            fail(f"harness timed out (see {log})")
    if p.returncode != 0:
        fail(f"harness exited with {p.returncode} (see {log})")


def layer_table(workload, layers):
    print(f"per-layer split, workload {workload} (per pass, median over traced passes)")
    print(f"  {'metric':<24} {'value':>12}  {'unit':<6} should move")
    for name, unit, moves in LAYERS:
        print(f"  {name:<24} {layers[name]:>12.4f}  {unit:<6} {moves}")
    same = "yes" if layers["trace.count_repeats"] == 1.0 else "no"
    print(f"  job, stage and memo counts identical in every traced pass: {same}")


def main():
    if len(sys.argv) == 2 and sys.argv[1] == "census":
        check_checkout()
        os.makedirs(WORK, exist_ok=True)
        harness(classpath(), ["census"], "census.log", timeout=3600)
        print(os.path.join(WORK, "census.jsonl"))
        return
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()
    check_checkout()
    os.makedirs(WORK, exist_ok=True)
    cp = classpath()
    w = a.workload
    result_file = os.path.join(WORK, f"result-{w}.json")
    if os.path.exists(result_file):
        os.remove(result_file)
    harness(cp, ["run", "--workload", w, "--seed", str(a.seed),
                 "--seconds", str(a.seconds), "--trace", str(a.trace)], f"harness-{w}.log")
    with open(result_file) as f:
        res = json.load(f)
    t_check = time.time()
    # A key that raised is counted in `failed`; `correct` speaks of the rest.
    checked = [k for k in res["key_median_s"] if k not in res["failed_keys"]]
    problems = check.check_outputs(DATA, os.path.join(WORK, f"out-{w}"), checked)
    print(f"checks took {time.time() - t_check:.1f} s", file=sys.stderr)
    for p in problems:
        print(f"CHECK FAIL {p}", file=sys.stderr)
    correct = not problems
    if a.trace:
        layer_table(w, res["layers"])
        metrics = {n: {"value": res["layers"][n], "unit": u} for n, u, _ in LAYERS}
    else:
        metrics = {n: {"value": res[n], "unit": u} for n, u in E2E}
    print(f"workload {w}: {res['passes']} passes, pass seconds "
          + " ".join(f"{s:.3f}" for s in res["pass_s"]), file=sys.stderr)
    print(json.dumps({"correct": correct, "attempted": res["attempted"],
                      "failed": res["failed"], "metrics": metrics}))


def check_checkout():
    for need in ("build.sbt", os.path.join("src", "main", "scala"), os.path.join("project", "build.properties")):
        if not os.path.exists(os.path.join(ROOT, need)):
            fail(f"not a checkout of the program: {need} is missing")
    for t in check.TABLES:
        if not os.path.exists(os.path.join(DATA, f"{t}.parquet")):
            fail(f"missing table {t} in {DATA}")


if __name__ == "__main__":
    main()

"""Output checks of the benchmark, run after the timed passes.

A key with a DuckDB twin (`SparkEntry.oracleSql`) is compared with DuckDB
running that SQL on the same parquet tables: same columns, same row
count, same dtype kinds, and equal values after sorting both sides. A
key without a twin fails its check: no workload holds one, and a key
without a twin that is put on a list needs a property check of its
method written here with it. Every check is also applied to a perturbed
copy of the output (one cell changed) and must reject it, so each run
shows that the checker can fail.

    python3 perfbench/check.py <dataDir> <outDir> [key ...]
"""
import glob
import json
import math
import sys

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def norm(v):
    import numpy as np
    if isinstance(v, np.ndarray):
        v = v.tolist()
    if isinstance(v, np.generic):
        v = v.item()
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else repr(v)
    if v is None:
        return "None"
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(norm(x) for x in v) + "]"
    return repr(v)


def kind(dt):
    return {"i": "int", "u": "int", "f": "float", "M": "ts", "b": "bool"}.get(dt.kind, "obj")


def column(col):
    """A column's cells as comparable Python values: exact ints for integer,
    bool and timestamp columns, repr() for floats (every digit), norm() for
    the rest."""
    k = col.dtype.kind
    if k == "M":
        return col.astype("int64").tolist()
    if k in "iub":
        return col.tolist()
    if k == "f":
        return ["NaN" if x != x else repr(x) for x in col.tolist()]
    return [norm(x) for x in col]


def rows(df, cols):
    """The frame's rows as tuples, in a canonical order."""
    try:  # sort on every column; cells pandas cannot order fall back to a tuple sort
        df = df.sort_values(cols)
        return list(zip(*(column(df[c]) for c in cols)))
    except TypeError:
        return sorted(zip(*(map(str, column(df[c])) for c in cols)))


def compare(ddf, sdf):
    """None if the Spark frame equals DuckDB's, else the first difference."""
    dcols, scols = sorted(ddf.columns), sorted(sdf.columns)
    if dcols != scols:
        return f"columns duck={dcols} spark={scols}"
    if len(ddf) != len(sdf):
        return f"rows duck={len(ddf)} spark={len(sdf)}"
    for c in dcols:
        if kind(ddf[c].dtype) != kind(sdf[c].dtype):
            return f"dtype of {c}: duck={ddf[c].dtype} spark={sdf[c].dtype}"
    for i, (a, b) in enumerate(zip(rows(ddf, dcols), rows(sdf, dcols))):
        if a != b:
            return f"row {i}: duck={a} spark={b}"
    return None


def connect(data_dir):
    import duckdb
    con = duckdb.connect()
    for t in TABLES:
        try:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data_dir}/{t}.parquet')")
        except duckdb.Error:  # an unreadable table fails only the keys that read it
            pass
    return con


def spark_frame(out_dir, key):
    import pyarrow.parquet as pq
    files = sorted(glob.glob(f"{out_dir}/{key}/*.parquet"))
    if not files:
        raise RuntimeError("no Spark output")
    return pq.read_table(files).to_pandas()


def perturb(df):
    """A copy of df with one cell changed: the first number nudged by 0.001
    (the outputs carry at most 5 dp), else the first string extended."""
    df = df.copy()
    for c in df.columns:
        if df[c].dtype.kind in "iuf" and len(df):
            step = 0.001 if df[c].dtype.kind == "f" else 1
            df.loc[df.index[0], c] = df[c].iloc[0] + step
            return df
    for c in df.columns:
        if len(df) and isinstance(df[c].iloc[0], str):
            df.loc[df.index[0], c] = df[c].iloc[0] + "~"
            return df
    return df.iloc[1:]


def check_key(con, oracle, out_dir, key):
    """None if the key's output passes its check and the same check rejects
    a perturbed copy of it, else why not."""
    try:
        if key not in oracle:
            return "no DuckDB twin, and no property check is written for it"
        sdf = spark_frame(out_dir, key)
        ddf = con.execute(oracle[key]).fetchdf()
        why = compare(ddf, sdf)
        if why is None and compare(ddf, perturb(sdf)) is None:
            return "the check accepts a perturbed copy of the output"
        return why
    except Exception as e:  # a crash in a check is a failed check
        return f"{type(e).__name__}: {e}"


def check_outputs(data_dir, out_dir, keys):
    """Every failed check, as '<key>: <reason>' strings."""
    con = connect(data_dir)
    with open(f"{out_dir}/oracle_sql.json") as f:
        oracle = json.load(f)
    problems = []
    for k in sorted(keys):
        why = check_key(con, oracle, out_dir, k)
        if why:
            problems.append(f"{k}: {why}")
    return problems


if __name__ == "__main__":
    d, o = sys.argv[1], sys.argv[2]
    keys = sys.argv[3:] or [p.rstrip("/").rsplit("/", 1)[-1] for p in glob.glob(f"{o}/*/")]
    probs = check_outputs(d, o, keys)
    for p in probs:
        print("FAIL", p)
    print(f"{len(keys) - len(probs)} pass / {len(probs)} fail")
    sys.exit(1 if probs else 0)

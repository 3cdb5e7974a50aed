#!/usr/bin/env python3
"""Local stand-in for the driver's correctness gate.

Runs graft.Verify at a scale factor (writes each SparkEntry query result to
parquet + oracle_sql.json), then replays every oracle SQL in DuckDB with the
sf tables registered as views, and compares: column names (sorted), dtypes
(loose class: int/float/bool/str), row count, and a hash of the stringified
cell values with columns sorted by name and rows sorted.

Usage: python3 tools/check_correctness.py [--no-verify] [sfdir] [outdir]
"""
import glob
import hashlib
import json
import math
import os
import subprocess
import sys

import duckdb
import pandas as pd

SF = sys.argv[-2] if len(sys.argv) >= 3 else "/root/testdata/sf0.01"
OUT = sys.argv[-1] if len(sys.argv) >= 3 else "/tmp/graft_verify"


def type_class(dtype, series):
    import numpy as np
    if pd.api.types.is_bool_dtype(dtype):
        return "bool"
    if pd.api.types.is_integer_dtype(dtype):
        return "int"
    if pd.api.types.is_float_dtype(dtype):
        return "float"
    if pd.api.types.is_datetime64_any_dtype(dtype):
        return "ts"
    # object column holding bools?
    non_null = series.dropna()
    if len(non_null) and all(isinstance(v, bool) for v in non_null):
        return "bool"
    return "str"


def canon(df):
    df = df.reindex(sorted(df.columns), axis=1)
    def cell(v):
        if v is None or (isinstance(v, float) and math.isnan(v)):
            return "NULL"
        if isinstance(v, bool):
            return "true" if v else "false"
        if isinstance(v, float):
            return repr(v)
        return str(v)
    rows = sorted(tuple(cell(v) for v in row) for row in df.itertuples(index=False))
    h = hashlib.sha256(repr(rows).encode()).hexdigest()[:16]
    types = {c: type_class(df[c].dtype, df[c]) for c in df.columns}
    return h, rows, types


def main():
    if "--no-verify" not in sys.argv:
        print(f"[check] running graft.Verify {SF} -> {OUT}")
        # One Spark core per CPU this process may run on (what nproc counts).
        env = dict(os.environ)
        env.setdefault("SPARK_GRAFT_CPUS", str(len(os.sched_getaffinity(0))))
        r = subprocess.run(
            ["sbt", "-batch", f'runMain graft.Verify {SF} {OUT}'],
            capture_output=True, text=True, env=env, cwd="/root/repo")
        if r.returncode != 0:
            print(r.stdout[-3000:]); print(r.stderr[-3000:])
            sys.exit(1)
        for line in r.stdout.splitlines():
            if "[verify]" in line:
                print(line)

    oracles = json.load(open(f"{OUT}/oracle_sql.json"))
    con = duckdb.connect()
    for t in glob.glob(f"{SF}/*.parquet"):
        name = os.path.basename(t).replace(".parquet", "")
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{t}')")

    results = {}
    produced = {os.path.basename(p) for p in glob.glob(f"{OUT}/*") if os.path.isdir(p)}
    declared = set()
    if os.path.exists(f"{OUT}/declared.json"):
        declared = set(json.load(open(f"{OUT}/declared.json")))
    names = set(list(oracles) + list(produced)) | declared
    only = os.environ.get("SPARK_GRAFT_ONLY")
    if only:
        names &= {q.strip() for q in only.split(",")}
    for name in sorted(names):
        status = []
        try:
            if name not in produced:
                results[name] = "MISSING-SPARK-RESULT"; continue
            spark_df = pd.read_parquet(f"{OUT}/{name}")
            if name not in oracles:
                results[name] = f"rows-only ({len(spark_df)} rows)"; continue
            oracle_df = con.execute(oracles[name]).fetchdf()
            sh, srows, stypes = canon(spark_df)
            oh, orows, otypes = canon(oracle_df)
            if sorted(spark_df.columns) != sorted(oracle_df.columns):
                status.append(f"COLS spark={sorted(spark_df.columns)} oracle={sorted(oracle_df.columns)}")
            if len(spark_df) != len(oracle_df):
                status.append(f"ROWS spark={len(spark_df)} oracle={len(oracle_df)}")
            if stypes != otypes:
                diff = {c: (stypes.get(c), otypes.get(c)) for c in stypes
                        if stypes.get(c) != otypes.get(c)}
                status.append(f"TYPES {diff}")
            if sh != oh:
                status.append("HASH")
                for i, (a, b) in enumerate(zip(srows, orows)):
                    if a != b:
                        status.append(f"  first diff row {i}: spark={a} oracle={b}")
                        break
            results[name] = "PASS" if not status else "; ".join(status)
        except Exception as e:
            results[name] = f"ERROR {type(e).__name__}: {e}"

    npass = sum(1 for v in results.values() if v == "PASS")
    nrows = sum(1 for v in results.values() if v.startswith("rows-only"))
    for name, v in results.items():
        mark = "PASS" if v == "PASS" else ("INFO" if v.startswith("rows-only") else "FAIL")
        print(f"[{mark}] {name}: {v}")
    # Declared-vs-recorded set check: every SparkEntry.queries key must have
    # a row above. With the err-marker parquet in Verify this can only trip
    # if the dump itself died mid-run — but it makes a silent shrink of the
    # denominator (r9's q_range_join) structurally impossible to miss.
    want = declared if not only else declared & {q.strip() for q in only.split(",")}
    missing = sorted(want - set(results))
    for name in missing:
        print(f"[FAIL] {name}: DECLARED-BUT-NOT-RECORDED")
    nfail = len(results) - npass - nrows + len(missing)
    print(f"\n[check] {len(results)}/{len(want) or len(results)} declared queries recorded; "
          f"{npass} PASS / {nrows} rows-only / {nfail} FAIL of {len(results) + len(missing)}")
    if missing or nfail:
        sys.exit(1)


if __name__ == "__main__":
    main()

#!/usr/bin/env python3
"""Record batch_mix's expected results and cross-check them against DuckDB.

Usage (from the repository root): python3 perfbench/record_expected.py

For each fixture under perfbench/fixture, runs the roster once in Spark
(perfbench.Record), runs each query's oracle SQL (SparkEntry.oracleSql) in
DuckDB over the same parquet files, and compares the two results: row count,
column names, and content with floats at six decimals. Only when every query
matches does it write perfbench/expected.json: per fixture and query, the
row count and the order-independent content hash the benchmark checks each
result against. Run it again when a roster query's output changes on
purpose.
"""
import glob
import hashlib
import json
import os
import shutil
import subprocess
import sys

import duckdb
import numpy as np
import pandas as pd

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import build  # noqa: E402
import run  # noqa: E402


def canon(df):
    df = df.reindex(sorted(df.columns), axis=1)
    rows = sorted("\x1f".join(
        "" if pd.isna(v) else (f"{v:.6f}" if isinstance(v, (float, np.floating)) else str(v))
        for v in row) for _, row in df.iterrows())
    return hashlib.md5("\x1e".join(rows).encode()).hexdigest()


def main():
    classes = os.path.abspath(build.build("."))
    expected, bad = {}, []
    for size, sf in (("full", "sf0.01"), ("tiny", "sf0.001")):
        fixture = os.path.join(HERE, "fixture", sf)
        out = os.path.abspath(os.path.join(build.BUILD_ROOT, f"record-{sf}"))
        shutil.rmtree(out, ignore_errors=True)
        os.makedirs(os.path.join(out, "tmp"))
        cmd = run.jvm_command(classes, out, {})
        cmd = cmd[:cmd.index("perfbench.Main")] + ["perfbench.Record", fixture, out]
        proc = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True,
                              env=dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(out, "tmp")))
        if proc.returncode != 0:
            sys.exit(f"Record failed on {sf}")
        spark_results = json.loads(proc.stdout.strip().splitlines()[-1])
        oracles = json.load(open(os.path.join(out, "oracle_sql.json")))
        con = duckdb.connect()
        for p in glob.glob(os.path.join(fixture, "*.parquet")):
            con.execute(f"CREATE VIEW {os.path.basename(p)[:-8]} AS SELECT * FROM '{p}'")
        for q, sql in sorted(oracles.items()):
            s = pd.concat([pd.read_parquet(p) for p in sorted(glob.glob(f"{out}/{q}/*.parquet"))])
            d = con.execute(sql).df()
            ok = len(s) == len(d) and sorted(s.columns) == sorted(d.columns) and canon(s) == canon(d)
            print(f"{'PASS' if ok else 'FAIL'} {sf} {q} ({len(s)} rows)")
            if not ok:
                bad.append(f"{sf}/{q}")
        expected[size] = spark_results
        shutil.rmtree(out)
    if bad:
        sys.exit(f"not recorded: {len(bad)} results differ from the DuckDB oracle: {bad}")
    with open(os.path.join(HERE, "expected.json"), "w") as fh:
        json.dump(expected, fh, indent=1, sort_keys=True)
        fh.write("\n")
    print("wrote perfbench/expected.json")


if __name__ == "__main__":
    main()

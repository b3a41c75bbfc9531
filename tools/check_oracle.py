#!/usr/bin/env python3
"""Local mimic of the driver's DuckDB-oracle compare.

Usage: python3 tools/check_oracle.py <sfDir> <verifyOutDir>

Reads each <verifyOutDir>/<name>/ parquet (Spark output), runs the matching
oracle SQL from <verifyOutDir>/oracle_sql.json in DuckDB over the sfDir
tables, and compares row counts, schemas (column names), and value hashes
(columns sorted by name, rows sorted canonically).
"""
import sys, json, glob, os, shutil, tempfile
import duckdb
import numpy as np
import pandas as pd
import hashlib

def canon(df: pd.DataFrame) -> str:
    df = df.reindex(sorted(df.columns), axis=1)
    # Canonical stringification: NaN/None -> '', floats at fixed 6
    # decimals (a deliberate absolute tolerance for IEEE noise), ts via
    # str. Float detection must cover numpy dtypes: np.float64 subclasses
    # Python float but np.float32 does NOT, so a parquet FLOAT column on
    # one side would stringify as '1.5' against the other side's
    # '1.500000' and hash-mismatch values that are equal.
    rows = []
    for _, row in df.iterrows():
        rows.append("\x1f".join(
            "" if pd.isna(v)
            else (f"{v:.6f}" if isinstance(v, (float, np.floating)) else str(v))
            for v in row))
    rows.sort()
    return hashlib.md5("\x1e".join(rows).encode()).hexdigest()

def main():
    sf_dir, out_dir = sys.argv[1], sys.argv[2]
    # DuckDB spills to .tmp/ under the working directory by default; keep
    # the spill in a directory this script made, and remove it on exit.
    spill = tempfile.mkdtemp(prefix="check_oracle_")
    try:
        code = run(sf_dir, out_dir, spill)
    finally:
        shutil.rmtree(spill, ignore_errors=True)
    sys.exit(code)

def run(sf_dir, out_dir, spill):
    con = duckdb.connect()
    con.execute(f"SET temp_directory = '{spill}'")
    for t in ("region nation customer supplier part orders lineitem events documents embeddings").split():
        p = f"{sf_dir}/{t}.parquet"
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")
    oracles = json.load(open(f"{out_dir}/oracle_sql.json"))
    n_pass = n_fail = 0
    for name, sql in sorted(oracles.items()):
        spark_glob = glob.glob(f"{out_dir}/{name}/*.parquet")
        if not spark_glob:
            print(f"FAIL {name}: no spark output"); n_fail += 1; continue
        try:
            spark_df = pd.concat([pd.read_parquet(p) for p in sorted(spark_glob)])
            duck_df = con.execute(sql).df()
        except Exception as e:
            print(f"FAIL {name}: {e}"); n_fail += 1; continue
        ok_rows = len(spark_df) == len(duck_df)
        ok_cols = sorted(spark_df.columns) == sorted(duck_df.columns)
        if ok_cols:
            for c in spark_df.columns:
                ds, dd = str(spark_df[c].dtype), str(duck_df[c].dtype)
                if ds != dd:
                    print(f"  WARN {name}.{c}: dtype spark={ds} vs duck={dd}")
        ok_hash = ok_rows and ok_cols and canon(spark_df) == canon(duck_df)
        if ok_hash:
            print(f"PASS {name} ({len(spark_df)} rows)"); n_pass += 1
        else:
            n_fail += 1
            print(f"FAIL {name}: rows {len(spark_df)} vs {len(duck_df)}, cols match={ok_cols}, hash match={ok_hash}")
            if ok_rows and ok_cols:
                s = spark_df.reindex(sorted(spark_df.columns), axis=1).sort_values(list(sorted(spark_df.columns))).reset_index(drop=True)
                d = duck_df.reindex(sorted(duck_df.columns), axis=1).sort_values(list(sorted(duck_df.columns))).reset_index(drop=True)
                for i in range(min(len(s), len(d))):
                    if not s.iloc[i].equals(d.iloc[i]):
                        print("  first diff row", i)
                        print("  spark:", dict(s.iloc[i]))
                        print("  duck :", dict(d.iloc[i]))
                        break
            else:
                print("  spark cols:", sorted(spark_df.columns))
                print("  duck  cols:", sorted(duck_df.columns))
    print(f"== {n_pass} pass / {n_fail} fail")
    con.close()
    return 1 if n_fail else 0

if __name__ == "__main__":
    main()

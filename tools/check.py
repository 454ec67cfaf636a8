#!/usr/bin/env python3
"""Local stand-in for the driver's t2 correctness gate.

Usage: python3 tools/check.py <sfDir> <verifyOutDir>

Reads each <verifyOutDir>/<name> parquet (written by graft.Verify), runs the
matching oracle SQL from oracle_sql.json in DuckDB with views over the sfDir
tables, and compares (columns sorted by name, rows sorted, exact values).
An output directory without an oracle key, or an oracle key without an
output directory, counts as a failure.
"""
import json
import os
import sys

import duckdb
import pandas as pd

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def canon(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1)
    for c in df.columns:
        if str(df[c].dtype).startswith("datetime64"):
            df[c] = df[c].astype("datetime64[ns]")
    df = df.sort_values(by=list(df.columns), ignore_index=True)
    return df


def main(sf_dir: str, out_dir: str) -> int:
    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    oracle = json.load(open(f"{out_dir}/oracle_sql.json"))
    n_pass = n_fail = 0
    # every output has an oracle and every oracle an output
    outputs = {d for d in os.listdir(out_dir)
               if os.path.isdir(os.path.join(out_dir, d))}
    for name in sorted(outputs - oracle.keys()):
        print(f"FAIL {name}: output directory has no oracle SQL")
        n_fail += 1
    for name, sql in sorted(oracle.items()):
        if name not in outputs:
            print(f"FAIL {name}: no output directory")
            n_fail += 1
            continue
        try:
            got = canon(con.sql(
                f"SELECT * FROM '{out_dir}/{name}/*.parquet'").df())
            want = canon(con.sql(sql).df())
            if list(got.columns) != list(want.columns):
                print(f"FAIL {name}: columns {list(got.columns)} != {list(want.columns)}")
                n_fail += 1
                continue
            if got.shape != want.shape:
                print(f"FAIL {name}: shape {got.shape} != {want.shape}")
                n_fail += 1
                continue
            # exact compare (NaN == NaN)
            eq = got.equals(want)
            if not eq:
                diff_cols = [c for c in got.columns
                             if not got[c].equals(want[c])]
                print(f"FAIL {name}: value mismatch in {diff_cols}")
                for c in diff_cols[:3]:
                    neq = ~((got[c] == want[c]) |
                            (got[c].isna() & want[c].isna()))
                    print(f"  {c}: {int(neq.sum())} rows differ; first:")
                    print(pd.DataFrame({"got": got[c][neq].head(3),
                                        "want": want[c][neq].head(3)}))
                n_fail += 1
            else:
                print(f"PASS {name} ({got.shape[0]} rows)")
                n_pass += 1
        except Exception as e:  # noqa: BLE001
            print(f"ERROR {name}: {e}")
            n_fail += 1
    print(f"== {n_pass} pass, {n_fail} fail ==")
    return 1 if n_fail else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1], sys.argv[2]))

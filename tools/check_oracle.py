#!/usr/bin/env python3
"""Local replica of the driver's correctness gate: for each query result
parquet written by graft.Verify, run the paired oracle SQL in DuckDB over
the same sf parquet tables and compare values (columns sorted by name).
Every query that Verify's status.json marks failed counts as a FAIL-run
failure (a missing status.json fails the check too).

Usage: check_oracle.py <sfDir> <verifyOutDir>"""
import json
import sys
import glob
import os

import duckdb
import pandas as pd

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def norm(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1)
    df = df.sort_values(by=list(df.columns), ignore_index=True)
    return df


def main(sf_dir: str, out_dir: str) -> int:
    con = duckdb.connect()
    for t in TABLES:
        p = f"{sf_dir}/{t}.parquet"
        if os.path.exists(p):
            con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    with open(f"{out_dir}/oracle_sql.json") as f:
        oracles = json.load(f)
    n_pass = n_fail = n_noracle = 0
    try:
        with open(f"{out_dir}/status.json") as f:
            status = json.load(f)
    except FileNotFoundError:
        status = {}
        n_fail += 1
        print(f"  [FAIL-run ] no status.json in {out_dir}")
    failed = {n for n, s in status.items() if s["status"] != "ok"}
    for name in sorted(failed):
        n_fail += 1
        error = status[name].get("error", "").split("\n")[0]
        print(f"  [FAIL-run ] {name}: {error}")
    for d in sorted(glob.glob(f"{out_dir}/*")):
        name = os.path.basename(d)
        if not os.path.isdir(d) or name in failed:
            continue
        got = pd.read_parquet(d)
        if name not in oracles:
            n_noracle += 1
            print(f"  [rows-only] {name}: rows={len(got)} "
                  f"{'OK' if len(got) > 0 else 'EMPTY!'}")
            continue
        try:
            want = con.execute(oracles[name]).df()
        except Exception as e:
            n_fail += 1
            print(f"  [FAIL-sql ] {name}: oracle SQL error: {e}")
            continue
        g, w = norm(got.copy()), norm(want.copy())
        if list(g.columns) != list(w.columns):
            n_fail += 1
            print(f"  [FAIL-cols] {name}: spark={list(g.columns)} "
                  f"duck={list(w.columns)}")
            continue
        if len(g) != len(w):
            n_fail += 1
            print(f"  [FAIL-rows] {name}: spark={len(g)} duck={len(w)}")
            continue
        try:
            pd.testing.assert_frame_equal(
                g, w, check_dtype=False, check_exact=True)
            n_pass += 1
            print(f"  [pass     ] {name}: rows={len(g)}")
        except AssertionError as e:
            n_fail += 1
            msg = str(e).split("\n")[0:6]
            print(f"  [FAIL-vals] {name}: {' | '.join(msg)}")
    print(f"\npass={n_pass} fail={n_fail} rows_only={n_noracle}")
    return 1 if n_fail else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1], sys.argv[2]))

#!/usr/bin/env python3
"""Confirm recorded expected values against the engine's DuckDB twins.

Usage: python3 perfbench/xcheck.py <sfDir> <recordOutDir> <expected.tsv>

<recordOutDir> is what perfbench.Record wrote: one parquet directory per
query and oracle_sql.json. Runs the repository's oracle compare
(tools/oracle_check.py) over it, then checks that each recorded row count
equals the row count of the query's parquet output. Exits non-zero on any
mismatch. Queries without a DuckDB twin are listed; their expected values
rest on the engine's test suite.
"""
import glob
import os
import sys

import pyarrow.parquet as pq

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, os.path.join(ROOT, "tools"))
import oracle_check  # noqa: E402


def main(sf_dir, out_dir, expected):
    rc = oracle_check.main(sf_dir, out_dir)
    import json
    twins = set(json.load(open(os.path.join(out_dir, "oracle_sql.json"))))
    bad = 0
    for line in open(expected):
        if line.startswith("#") or not line.strip():
            continue
        q, rows, _ = line.rstrip("\n").split("\t")
        files = glob.glob(os.path.join(out_dir, q, "*.parquet"))
        got = sum(pq.ParquetFile(f).metadata.num_rows for f in files)
        if got != int(rows):
            print(f"FAIL {q}: recorded rows={rows}, parquet rows={got}")
            bad += 1
        if q not in twins:
            print(f"NOTE {q}: no DuckDB twin")
    return 1 if rc or bad else 0


if __name__ == "__main__":
    sys.exit(main(*sys.argv[1:4]))

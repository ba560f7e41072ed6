#!/usr/bin/env python3
"""Writes the golden row counts of the operator workload.

Input is a `graft.Verify` dump of the fixture that `tools/check.py` (the
DuckDB oracle) passed; see perfbench/README.md for the full command.

    python3 perfbench/golden.py <verifyOutDir> > perfbench/golden/ops_sf0.01_rows.tsv
"""
import json
import os
import sys

import pyarrow.parquet as pq


def main():
    out = sys.argv[1]
    with open(os.path.join(out, "queries.json")) as f:
        names = sorted(json.load(f))
    print("# query\trows (graft.Verify dump of perfbench/data/sf0.01, passed by tools/check.py)")
    for n in names:
        print(f"{n}\t{pq.read_table(os.path.join(out, n)).num_rows}")


if __name__ == "__main__":
    main()

#!/usr/bin/env python3
"""Row identity of two graft.Verify dumps.

    python3 plans/pr12/rows_identical.py BEFORE_DIR AFTER_DIR

For every query directory in BEFORE_DIR, reads the query's single parquet
part in both dumps and compares the schemas and the rows, in order. Prints
one line per query that differs and a final count line.
"""
import glob
import os
import sys

import pyarrow.parquet as pq


def table(d):
    parts = sorted(glob.glob(os.path.join(d, "*.parquet")))
    return pq.read_table(parts) if parts else None


def main(before, after):
    names = sorted(n for n in os.listdir(before)
                   if os.path.isdir(os.path.join(before, n)))
    same = 0
    for n in names:
        a, b = table(os.path.join(before, n)), table(os.path.join(after, n))
        if a is None or b is None:
            print(f"{n}: missing dump (before {a is not None}, after {b is not None})")
        elif a.schema != b.schema:
            print(f"{n}: schema differs\n  before {a.schema}\n  after  {b.schema}")
        elif a.to_pylist() != b.to_pylist():
            print(f"{n}: rows differ ({a.num_rows} before, {b.num_rows} after)")
        else:
            same += 1
    print(f"{same} / {len(names)} queries row-identical")
    return same == len(names)


if __name__ == "__main__":
    sys.exit(0 if main(sys.argv[1], sys.argv[2]) else 1)

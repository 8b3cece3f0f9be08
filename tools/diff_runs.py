#!/usr/bin/env python3
"""Whole-suite determinism / partition-invariance audit: compare two Verify
output dirs (e.g. produced at different SPARK_GRAFT_CPUS, hence different
partitioning and task interleavings). Every query's result must be
IDENTICAL after the driver's own normalization (columns sorted by name,
rows sorted by all columns) — any drift means an operator leaks partition
order or nondeterminism into values. A query present in only one of the
two dirs counts as a difference.

Usage: python3 tools/diff_runs.py /tmp/verify_a /tmp/verify_b
"""
import glob
import os
import sys

import pandas as pd


def load(d):
    files = glob.glob(f"{d}/*.parquet")
    if not files:
        return None
    df = pd.concat([pd.read_parquet(f) for f in files])
    df = df.reindex(sorted(df.columns), axis=1)
    return df.sort_values(by=list(df.columns)).reset_index(drop=True)


def query_names(d):
    return {n for n in os.listdir(d) if os.path.isdir(os.path.join(d, n))}


def main():
    a_dir, b_dir = sys.argv[1], sys.argv[2]
    a_names, b_names = query_names(a_dir), query_names(b_dir)
    n_pass = n_fail = 0
    for q in sorted(a_names | b_names):
        if q not in a_names or q not in b_names:
            side = a_dir if q in a_names else b_dir
            print(f"DIFF {q}: present only in {side}")
            n_fail += 1
            continue
        a, b = load(os.path.join(a_dir, q)), load(os.path.join(b_dir, q))
        if a is None or b is None:
            print(f"DIFF {q}: missing output ({a is None} / {b is None})")
            n_fail += 1
            continue
        if list(a.columns) != list(b.columns):
            print(f"DIFF {q}: columns {list(a.columns)} != {list(b.columns)}")
            n_fail += 1
            continue
        if list(map(str, a.dtypes)) != list(map(str, b.dtypes)):
            print(f"DIFF {q}: dtypes {list(a.dtypes)} != {list(b.dtypes)}")
            n_fail += 1
            continue
        if len(a) != len(b) or not a.equals(b):
            print(f"DIFF {q}: rows {len(a)} vs {len(b)}, values equal="
                  f"{len(a) == len(b) and a.equals(b)}")
            n_fail += 1
            continue
        n_pass += 1
    print(f"\n{n_pass} identical, {n_fail} differ")
    sys.exit(1 if n_fail else 0)


if __name__ == "__main__":
    main()

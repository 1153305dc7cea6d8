#!/usr/bin/env python3
"""Compare two graft.Verify output directories entry by entry.

Usage: python3 tools/compare_outputs.py PARENT_OUT CHANGE_OUT

Each entry directory (one per registry query) must hold the same column
names and DuckDB types on both sides, and the same rows as a multiset:
DuckDB `EXCEPT ALL` both ways must be empty. Prints one line per entry
that differs, is missing from CHANGE_OUT or is extra in it, and exits 1
if there is any; otherwise prints the number of identical entries.
"""
import glob
import os
import sys

import duckdb


def entries(root):
    return {d for d in os.listdir(root) if os.path.isdir(os.path.join(root, d))}


def relation(root, entry):
    files = sorted(glob.glob(os.path.join(root, entry, "*.parquet")))
    return f"read_parquet({files!r})" if files else None


def compare(con, parent, change, entry):
    """None when the entry is identical on both sides, else the reason."""
    rp, rc = relation(parent, entry), relation(change, entry)
    if rp is None or rc is None:
        return None if rp == rc else "parquet output on one side only"
    sp = con.execute(f"DESCRIBE SELECT * FROM {rp}").fetchall()
    sc = con.execute(f"DESCRIBE SELECT * FROM {rc}").fetchall()
    cols_p, cols_c = [c[:2] for c in sp], [c[:2] for c in sc]
    if cols_p != cols_c:
        return f"columns {cols_p} -> {cols_c}"
    try:
        only_p = con.execute(
            f"SELECT count(*) FROM (SELECT * FROM {rp} EXCEPT ALL SELECT * FROM {rc})").fetchone()[0]
        only_c = con.execute(
            f"SELECT count(*) FROM (SELECT * FROM {rc} EXCEPT ALL SELECT * FROM {rp})").fetchone()[0]
    except duckdb.Error:
        # types DuckDB cannot compare in a set operation: compare the rows' text
        rows_p = sorted(map(repr, con.execute(f"SELECT * FROM {rp}").fetchall()))
        rows_c = sorted(map(repr, con.execute(f"SELECT * FROM {rc}").fetchall()))
        only_p = only_c = 0 if rows_p == rows_c else -1
    if only_p or only_c:
        return f"rows differ ({only_p} only in parent, {only_c} only in change)"
    return None


def main(parent, change):
    con = duckdb.connect()
    a, b = entries(parent), entries(change)
    bad = [f"MISSING {e}" for e in sorted(a - b)] + [f"EXTRA {e}" for e in sorted(b - a)]
    for e in sorted(a & b):
        why = compare(con, parent, change, e)
        if why:
            bad.append(f"DIFFERS {e}: {why}")
    for line in bad:
        print(line)
    print(f"{len(a & b) - sum(l.startswith('DIFFERS') for l in bad)} identical, "
          f"{len(bad)} differing/missing/extra")
    return 1 if bad else 0


if __name__ == "__main__":
    if len(sys.argv) != 3:
        sys.exit(__doc__)
    sys.exit(main(sys.argv[1], sys.argv[2]))

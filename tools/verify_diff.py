#!/usr/bin/env python3
"""Compare two graft.Verify output directories query by query. For each
query it prints one of: `same` (rows equal and in the same order),
`reordered` (the same rows as a multiset, in another order) or `DIFF`
with the first differing row. Columns must match by name and order.
Exits 1 when any query's rows differ or a query is missing on one side.

Usage: python3 tools/verify_diff.py <dirA> <dirB>"""
import glob, math, os, sys
from collections import Counter
import pyarrow.parquet as pq


def canon(v):
    """A hashable, order-comparable view of one cell (NaN equals NaN)."""
    if isinstance(v, float) and math.isnan(v):
        return ("nan",)
    if isinstance(v, (list, tuple)):
        return tuple(canon(x) for x in v)
    if isinstance(v, dict):
        return tuple((k, canon(x)) for k, x in v.items())
    return v


def load(d):
    """(column names, rows) of one query dump, files in name order."""
    files = sorted(glob.glob(f"{d}/*.parquet"))
    if not files:
        return [], []
    tables = [pq.read_table(f) for f in files]
    cols = tables[0].column_names
    rows = [tuple(canon(r[c]) for c in cols) for t in tables for r in t.to_pylist()]
    return cols, rows


def queries(d):
    return {n for n in os.listdir(d) if os.path.isdir(os.path.join(d, n))}


def main(a, b):
    qa, qb = queries(a), queries(b)
    bad, reordered = [], []
    for name in sorted(qa | qb):
        if name not in qa or name not in qb:
            bad.append(name)
            print(f"MISSING {name}: only in {'A' if name in qa else 'B'}")
            continue
        ca, ra = load(os.path.join(a, name))
        cb, rb = load(os.path.join(b, name))
        if ca != cb:
            bad.append(name)
            print(f"DIFF {name}: columns A={ca} B={cb}")
        elif ra == rb:
            print(f"same {name} ({len(ra)} rows)")
        elif Counter(ra) == Counter(rb):
            reordered.append(name)
            print(f"reordered {name} ({len(ra)} rows)")
        else:
            bad.append(name)
            i = next((i for i, (x, y) in enumerate(zip(ra, rb)) if x != y), min(len(ra), len(rb)))
            print(f"DIFF {name}: {len(ra)} vs {len(rb)} rows; first differing row @{i}: "
                  f"A={ra[i] if i < len(ra) else None} B={rb[i] if i < len(rb) else None}")
    same = len(qa | qb) - len(bad) - len(reordered)
    print(f"=== {same} same, {len(reordered)} reordered, {len(bad)} differ ===")
    if reordered:
        print("reordered: " + ", ".join(reordered))
    return 1 if bad else 0


if __name__ == "__main__":
    if len(sys.argv) != 3:
        sys.exit(__doc__)
    sys.exit(main(sys.argv[1], sys.argv[2]))

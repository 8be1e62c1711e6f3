#!/usr/bin/env python3
"""Compare two graft.Verify output dirs query by query.

Usage: python3 tools/diff_verify.py <verifyOutDirA> <verifyOutDirB>

For a change that must leave every result alone (a refactor, a plan
rewrite that claims equal output): run `graft.Verify` once on each side
into two dirs, then diff them here. Every query's parquet result is
canonicalised with check_oracle.py's strict rules (columns by name,
cells through `strict_cell`, rows sorted) and compared between A and B;
so are the parsed `oracle_sql.json` maps. A query present on one side
only is a difference. Exits 1 on any difference, 0 when all is equal.
"""
import json, os, sys

import numpy as np
import pandas as pd

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
from check_oracle import strict_cell


def cell(v):
    """strict_cell, applied element-wise inside arrays, maps and structs
    (str() of a long numpy array elides its middle)."""
    if isinstance(v, (list, tuple, np.ndarray)):
        return "[" + ", ".join(cell(x) for x in v) + "]"
    if isinstance(v, dict):
        return "{" + ", ".join(f"{k}: {cell(x)}" for k, x in sorted(v.items())) + "}"
    return strict_cell(v)


def canonical(query_dir):
    """(sorted column names, sorted rows of canonical cells)."""
    df = pd.read_parquet(query_dir)
    cols = sorted(df.columns)
    rows = sorted(tuple(cell(v) for v in r) for r in df[cols].itertuples(index=False))
    return cols, rows


def first_difference(a, b):
    (ca, ra), (cb, rb) = a, b
    if ca != cb:
        return f"columns {ca} vs {cb}"
    if len(ra) != len(rb):
        return f"rows {len(ra)} vs {len(rb)}"
    for i, (x, y) in enumerate(zip(ra, rb)):
        if x != y:
            j = next(j for j, (u, v) in enumerate(zip(x, y)) if u != v)
            k = next((k for k, (u, v) in enumerate(zip(x[j], y[j])) if u != v), min(len(x[j]), len(y[j])))
            u, v = (w[max(0, k - 20):k + 60] for w in (x[j], y[j]))
            return f"sorted row {i} col {ca[j]} (from char {max(0, k - 20)}): {u!r} vs {v!r}"
    return None


def queries(out_dir):
    return {d for d in os.listdir(out_dir) if os.path.isdir(os.path.join(out_dir, d))}


def main():
    if len(sys.argv) != 3:
        sys.exit(__doc__)
    dir_a, dir_b = sys.argv[1], sys.argv[2]
    qa, qb = queries(dir_a), queries(dir_b)
    n_diff = 0
    for name in sorted(qa ^ qb):
        print(f"DIFF {name}: only in {dir_a if name in qa else dir_b}")
        n_diff += 1
    n_same = 0
    for name in sorted(qa & qb):
        try:
            msg = first_difference(canonical(os.path.join(dir_a, name)),
                                   canonical(os.path.join(dir_b, name)))
        except Exception as e:
            msg = f"unreadable: {type(e).__name__}: {e}"
        if msg:
            print(f"DIFF {name}: {msg}")
            n_diff += 1
        else:
            n_same += 1
    oa, ob = (json.load(open(os.path.join(d, "oracle_sql.json"))) for d in (dir_a, dir_b))
    oracle_diff = sorted(k for k in oa.keys() | ob.keys() if oa.get(k) != ob.get(k))
    for k in oracle_diff:
        side = "only in A" if k not in ob else "only in B" if k not in oa else "text differs"
        print(f"DIFF oracle_sql.json {k}: {side}")
    print(f"\n{n_same} identical, {n_diff} differ; "
          f"oracle_sql.json: {len(oa)} vs {len(ob)} entries, "
          + ("equal" if not oracle_diff else f"{len(oracle_diff)} differ"))
    sys.exit(1 if n_diff or oracle_diff else 0)


if __name__ == "__main__":
    main()

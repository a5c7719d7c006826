#!/usr/bin/env python3
"""Compare two `graft.Verify` output directories query by query.

Usage: verify_diff.py <dirA> <dirB>

For every query directory on either side it compares the parquet schema
(column names, Arrow types and each field's nullable flag, in order; a
nested field's nullability is part of its Arrow type string) and an
order-insensitive row digest (SHA-256 over the sorted per-row reprs, so
duplicate rows count).
It also byte-compares the two `oracle_sql.json` files. Prints one line
per query that differs or exists on one side only, then `N/N identical`;
exits 1 on any difference, 0 otherwise.
"""
import hashlib
import os
import sys

import pyarrow.parquet as pq


def queries(d):
    return {q for q in os.listdir(d) if os.path.isdir(os.path.join(d, q))}


def load(path):
    """(schema as [(name, type, nullable)], row count, row digest) of one
    query."""
    table = pq.read_table(path)
    schema = [(f.name, str(f.type), f.nullable) for f in table.schema]
    rows = sorted(repr(tuple(r.values())) for r in table.to_pylist())
    h = hashlib.sha256()
    for r in rows:
        h.update(r.encode())
        h.update(b"\n")
    return schema, len(rows), h.hexdigest()


def main(a, b):
    qa, qb = queries(a), queries(b)
    diffs = 0
    for q in sorted(qa ^ qb):
        side = a if q in qa else b
        print(f"ONLY {q}: present in {side} only")
        diffs += 1
    same = 0
    both = sorted(qa & qb)
    for q in both:
        sa, na, ha = load(os.path.join(a, q))
        sb, nb, hb = load(os.path.join(b, q))
        if sa != sb:
            print(f"DIFF {q}: schema {sa} vs {sb}")
        elif na != nb:
            print(f"DIFF {q}: rows {na} vs {nb}")
        elif ha != hb:
            print(f"DIFF {q}: row digest {ha[:16]} vs {hb[:16]}")
        else:
            same += 1
            continue
        diffs += 1
    oa, ob = (os.path.join(d, "oracle_sql.json") for d in (a, b))
    if not (os.path.exists(oa) and os.path.exists(ob)):
        print("DIFF oracle_sql.json: missing on a side")
        diffs += 1
    else:
        with open(oa, "rb") as fa, open(ob, "rb") as fb:
            if fa.read() != fb.read():
                print("DIFF oracle_sql.json: bytes differ")
                diffs += 1
    print(f"{same}/{len(qa | qb)} identical")
    return 1 if diffs else 0


if __name__ == "__main__":
    if len(sys.argv) != 3:
        sys.exit(__doc__)
    sys.exit(main(sys.argv[1], sys.argv[2]))

#!/usr/bin/env python3
"""Compare two `graft.Verify` dumps key by key (dev tool only — not part
of the library). Usage:

    python3 tools/compare_dumps.py <dumpA> <dumpB> [keys...]

For each key (default: every key dir holding parquet files in either
dump) it prints the row count, the SHA-256 of the sorted rows and the
parquet schema (column names, types, nullability) of both sides, and
marks the key SAME or DIFF. Exits non-zero if any key differs or is
missing from one side.
"""
import hashlib
import sys
from pathlib import Path

import pyarrow.parquet as pq


def load(dump, key):
    """(row count, sorted-row SHA-256, schema) of one key dir, or None."""
    files = sorted((Path(dump) / key).glob("*.parquet"))
    if not files:
        return None
    tables = [pq.read_table(f) for f in files]
    schema = [(f.name, str(f.type), f.nullable) for f in tables[0].schema]
    rows = sorted(repr(tuple(r.values()))
                  for t in tables for r in t.to_pylist())
    digest = hashlib.sha256("\n".join(rows).encode()).hexdigest()
    return len(rows), digest, schema


def keys_of(dump):
    return {p.parent.name for p in Path(dump).glob("*/*.parquet")}


def main():
    if len(sys.argv) < 3:
        sys.exit(__doc__)
    a, b = sys.argv[1], sys.argv[2]
    keys = sys.argv[3:] or sorted(keys_of(a) | keys_of(b))
    n_diff = 0
    for key in keys:
        la, lb = load(a, key), load(b, key)
        if la is None or lb is None:
            side = "A" if la is None else "B"
            print(f"DIFF {key}: no parquet files in dump {side}")
            n_diff += 1
            continue
        same = la == lb
        n_diff += not same
        print(f"{'SAME' if same else 'DIFF'} {key}: rows {la[0]}/{lb[0]}"
              f"  sha256 {la[1][:16]}/{lb[1][:16]}"
              f"  schema {'same' if la[2] == lb[2] else 'differs'}")
        if la[2] != lb[2]:
            print(f"  A: {la[2]}\n  B: {lb[2]}")
    print(f"== {len(keys) - n_diff} same, {n_diff} differ ==")
    sys.exit(1 if n_diff else 0)


if __name__ == "__main__":
    main()

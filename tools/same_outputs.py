#!/usr/bin/env python3
"""Bit-identity diff of two graft.Verify output directories.

Usage: python3 tools/same_outputs.py <verifyOutA> <verifyOutB> [query ...]

For each query (default: every query directory in either output) the two
parquet results must have equal schemas (column names, order, types and
nullability) and the same multiset of rows: rows are sorted by all
columns and compared value for value, with every float compared by its
raw IEEE bits (so -0.0 != 0.0 and NaN payloads count) and nested lists,
structs and maps compared element by element the same way.

Prints one SAME/DIFF/MISSING line per query; exits 1 if any query is not
SAME. Use it to show that a refactor left query outputs bit-identical;
tools/check.py is the oracle compare and tolerates float rounding.
"""
import struct
import sys
from pathlib import Path

import pyarrow as pa
import pyarrow.parquet as pq


def canon(v, t):
    """A totally ordered, bit-faithful key for value `v` of arrow type `t`."""
    if v is None:
        return (0,)
    if pa.types.is_float64(t):
        return (1, struct.unpack("<q", struct.pack("<d", v))[0])
    if pa.types.is_float32(t):
        return (1, struct.unpack("<i", struct.pack("<f", v))[0])
    if pa.types.is_list(t) or pa.types.is_large_list(t) or pa.types.is_fixed_size_list(t):
        return (1, tuple(canon(x, t.value_type) for x in v))
    if pa.types.is_struct(t):
        return (1, tuple(canon(v[f.name], f.type) for f in t))
    if pa.types.is_map(t):
        return (1, tuple((canon(k, t.key_type), canon(x, t.item_type)) for k, x in v))
    return (1, v)


def rows(table):
    types = [f.type for f in table.schema]
    return sorted(tuple(canon(v, t) for v, t in zip(r.values(), types))
                  for r in table.to_pylist())


def compare(a_dir, b_dir):
    """None when the two result directories are bit-identical, else why not."""
    a, b = pq.read_table(a_dir), pq.read_table(b_dir)
    if not a.schema.equals(b.schema, check_metadata=False):
        return f"schema\n  A: {a.schema}\n  B: {b.schema}"
    ra, rb = rows(a), rows(b)
    if len(ra) != len(rb):
        return f"row count A={len(ra)} B={len(rb)}"
    for i, (x, y) in enumerate(zip(ra, rb)):
        if x != y:
            return f"sorted row {i} differs\n  A: {x}\n  B: {y}"
    return None


def main():
    if len(sys.argv) < 3:
        sys.exit(__doc__)
    a_root, b_root = Path(sys.argv[1]), Path(sys.argv[2])
    queries = sys.argv[3:] or sorted(
        {p.name for root in (a_root, b_root) for p in root.iterdir() if p.is_dir()})
    bad = 0
    for q in queries:
        a_dir, b_dir = a_root / q, b_root / q
        if not (a_dir.is_dir() and b_dir.is_dir()):
            print(f"MISSING {q}: A={a_dir.is_dir()} B={b_dir.is_dir()}")
            bad += 1
            continue
        why = compare(a_dir, b_dir)
        print(f"SAME {q}" if why is None else f"DIFF {q}: {why}")
        bad += why is not None
    print(f"{len(queries) - bad}/{len(queries)} bit-identical")
    sys.exit(1 if bad else 0)


if __name__ == "__main__":
    main()

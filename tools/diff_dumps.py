#!/usr/bin/env python3
"""Compare two graft.Verify output directories and exit non-zero on any
difference.

    python3 tools/diff_dumps.py A B

Each directory holds one parquet dump per query (`<name>/*.parquet`) and
`oracle_sql.json`. Two dumps are equal when:
  - both hold the same queries;
  - per query, the Arrow schemas are equal, nullability included (nested
    fields too), schema metadata ignored;
  - per query, the row multisets are equal: rows are compared exactly
    (NaN equals NaN, -0.0 differs from 0.0) after sorting;
  - the two `oracle_sql.json` files are equal.

Prints one line per differing query and a summary line.
"""
import glob
import json
import math
import os
import sys

import pyarrow as pa
import pyarrow.parquet as pq


def queries(d):
    return {n for n in os.listdir(d) if os.path.isdir(os.path.join(d, n))}


def load(d, name):
    files = sorted(glob.glob(os.path.join(d, name, "*.parquet")))
    tables = [pq.read_table(f) for f in files]
    schema = tables[0].schema.remove_metadata() if tables else None
    rows = [r for t in tables for r in t.to_pylist()]
    return schema, rows


def canon(v):
    """A hashable, exactly comparable form of one value."""
    if isinstance(v, float):
        return ("f", "nan" if math.isnan(v) else v.hex())
    if isinstance(v, dict):
        return ("d", tuple((k, canon(x)) for k, x in v.items()))
    if isinstance(v, (list, tuple)):
        return ("l", tuple(canon(x) for x in v))
    return (type(v).__name__, v)


def sorted_rows(rows):
    return sorted((canon(r) for r in rows), key=repr)


def diff_query(a, b, name):
    sa, ra = load(a, name)
    sb, rb = load(b, name)
    if sa is None or sb is None:
        return "no parquet files" if sa is None and sb is None else \
            f"parquet files only in {a if sa is not None else b}"
    if not sa.equals(sb):
        fa, fb = [str(f) for f in sa], [str(f) for f in sb]
        return "schema: A has " + "; ".join(f for f in fa if f not in fb) + \
            " | B has " + "; ".join(f for f in fb if f not in fa)
    if len(ra) != len(rb):
        return f"row count {len(ra)} != {len(rb)}"
    ca, cb = sorted_rows(ra), sorted_rows(rb)
    if ca != cb:
        i = next(i for i, (x, y) in enumerate(zip(ca, cb)) if x != y)
        return f"rows differ (first at sorted row {i}: {ca[i]} vs {cb[i]})"
    return None


def main(a, b):
    problems = []
    qa, qb = queries(a), queries(b)
    for n in sorted(qa ^ qb):
        problems.append(f"DIFF {n}: only in {a if n in qa else b}")
    equal = 0
    for n in sorted(qa & qb):
        d = diff_query(a, b, n)
        if d:
            problems.append(f"DIFF {n}: {d}")
        else:
            equal += 1
    oa = json.load(open(os.path.join(a, "oracle_sql.json")))
    ob = json.load(open(os.path.join(b, "oracle_sql.json")))
    if oa != ob:
        changed = sorted(k for k in set(oa) | set(ob) if oa.get(k) != ob.get(k))
        problems.append(f"DIFF oracle_sql.json: {', '.join(changed)}")
    for p in problems:
        print(p)
    print(f"== {equal} equal / {len(problems)} differ")
    return 1 if problems else 0


if __name__ == "__main__":
    if len(sys.argv) != 3:
        sys.exit(__doc__)
    sys.exit(main(sys.argv[1], sys.argv[2]))

#!/usr/bin/env python3
"""Compare two graft.Verify output directories.

Usage: python3 tools/compare_verify.py <outA> <outB>

Checks that both hold the same entries, that each entry has the same
schema and the same rows (order-insensitive; floats compared by
local_verify.py's rule), and that oracle_sql.json is equal once the
Spark application id is masked and whitespace outside quoted literals
is canonicalised: whitespace between two word characters collapses to
one space, whitespace next to punctuation is dropped (neither changes
what the SQL means). Prints one line per difference and a summary;
exits 1 if anything differs.
"""
import json, math, os, re, sys
from decimal import Decimal

import pyarrow.parquet as pq

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
from local_verify import floats_match  # noqa: E402

APP_ID = re.compile(r"local-\d+")
WORD = re.compile(r"\w")


def entries(out_dir):
    return sorted(d for d in os.listdir(out_dir)
                  if os.path.isdir(os.path.join(out_dir, d)))


def sort_key(v):
    """A total order over cell values of any type (None first)."""
    if v is None:
        return (0,)
    if isinstance(v, bool):
        return (1, v)
    if isinstance(v, float):
        # rounded so values equal under the float rule sort together
        return (2, 0.0 if math.isnan(v) else float(f"{v:.9g}"), math.isnan(v))
    if isinstance(v, (int, Decimal)):
        return (2, float(v), False)
    if isinstance(v, (list, tuple)):
        return (3, tuple(sort_key(x) for x in v))
    if isinstance(v, dict):
        return (4, tuple((k, sort_key(x)) for k, x in sorted(v.items())))
    if isinstance(v, bytes):
        return (5, v)
    return (6, str(v))


def same(a, b):
    if isinstance(a, float) and isinstance(b, float):
        return floats_match(a, b)
    if isinstance(a, (list, tuple)) and isinstance(b, (list, tuple)):
        return len(a) == len(b) and all(same(x, y) for x, y in zip(a, b))
    if isinstance(a, dict) and isinstance(b, dict):
        return a.keys() == b.keys() and all(same(a[k], b[k]) for k in a)
    return type(a) is type(b) and a == b


def compare_entry(dir_a, dir_b):
    ta, tb = pq.read_table(dir_a), pq.read_table(dir_b)
    if not ta.schema.equals(tb.schema, check_metadata=False):
        return f"SCHEMA {ta.schema} != {tb.schema}"
    if ta.num_rows != tb.num_rows:
        return f"ROWS {ta.num_rows} != {tb.num_rows}"
    cols = ta.schema.names
    ra = sorted((tuple(r[c] for c in cols) for r in ta.to_pylist()), key=sort_key)
    rb = sorted((tuple(r[c] for c in cols) for r in tb.to_pylist()), key=sort_key)
    for i, (x, y) in enumerate(zip(ra, rb)):
        if not same(x, y):
            return f"VALUES sorted row {i}: {x!r} != {y!r}"
    return None


def canon_sql(sql):
    """Mask the application id; canonicalise whitespace outside quotes."""
    sql = APP_ID.sub("local-APPID", sql).strip()
    out, quote, i = [], None, 0
    while i < len(sql):
        c = sql[i]
        if quote:
            out.append(c)
            if c == quote:
                quote = None
        elif c in "'\"":
            quote = c
            out.append(c)
        elif c.isspace():
            j = i
            while j < len(sql) and sql[j].isspace():
                j += 1
            if out and j < len(sql) and WORD.match(out[-1]) and WORD.match(sql[j]):
                out.append(" ")
            i = j
            continue
        else:
            out.append(c)
        i += 1
    return "".join(out)


def main(out_a, out_b):
    bad = 0
    ea, eb = entries(out_a), entries(out_b)
    for n in sorted(set(ea) ^ set(eb)):
        print(f"MISSING {n} only in {out_a if n in ea else out_b}")
        bad += 1
    common = sorted(set(ea) & set(eb))
    for n in common:
        diff = compare_entry(os.path.join(out_a, n), os.path.join(out_b, n))
        if diff:
            print(f"DIFF {n}: {diff}")
            bad += 1
    oa = json.load(open(os.path.join(out_a, "oracle_sql.json")))
    ob = json.load(open(os.path.join(out_b, "oracle_sql.json")))
    for n in sorted(oa.keys() ^ ob.keys()):
        print(f"ORACLE MISSING {n}")
        bad += 1
    for n in sorted(oa.keys() & ob.keys()):
        if canon_sql(oa[n]) != canon_sql(ob[n]):
            print(f"ORACLE DIFF {n}")
            bad += 1
    print(f"== {len(common)} common entries, {len(oa.keys() & ob.keys())} "
          f"common oracles, {bad} difference(s)")
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1], sys.argv[2]))

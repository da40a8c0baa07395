#!/usr/bin/env python3
"""Compare two graft.Verify output directories.

Usage: python3 tools/compare_verify.py <outA> <outB>

Checks that both hold the same entries, that each entry has the same
schema and the same rows (order-insensitive; floats compared by
local_verify.py's rule), and that oracle_sql.json is equal once the
Spark application id is masked and whitespace outside quoted literals
is canonicalised: whitespace between two word characters collapses to
one space, whitespace next to punctuation is dropped (neither changes
what the SQL means). It also compares the oracle dumps: every
read_parquet / read_text / read_blob path of the two oracle_sql.json
files, paired oracle by oracle. Parquet dumps are compared like
entries; raw files byte for byte. Prints one line per difference and a
summary; exits 1 if anything differs.
"""
import glob, json, math, os, re, sys
from decimal import Decimal

import pyarrow as pa
import pyarrow.parquet as pq

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
from local_verify import floats_match  # noqa: E402

APP_ID = re.compile(r"local-\d+")
READ = re.compile(r"read_(parquet|text|blob)\(\s*'([^']*)'\s*\)")
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
    return compare_tables(pq.read_table(dir_a), pq.read_table(dir_b))


def compare_tables(ta, tb):
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


def dump_reads(sql):
    """(kind, path) of each dump the oracle SQL reads, in order."""
    return [m.groups() for m in READ.finditer(sql)]


def read_glob(pattern):
    files = sorted(glob.glob(pattern))
    return pa.concat_tables([pq.read_table(f) for f in files]) if files else None


def compare_dump(kind, path_a, path_b):
    """None if the two dumps hold the same data, else what differs."""
    if kind == "parquet":
        ta, tb = read_glob(path_a), read_glob(path_b)
        if ta is None or tb is None:
            return f"MISSING {path_a if ta is None else path_b}"
        return compare_tables(ta, tb)
    fa, fb = sorted(glob.glob(path_a)), sorted(glob.glob(path_b))
    if not fa or not fb:
        return f"MISSING {path_a if not fa else path_b}"
    names_a = [os.path.basename(f) for f in fa]
    names_b = [os.path.basename(f) for f in fb]
    if names_a != names_b:
        return f"FILES {names_a} != {names_b}"
    for x, y in zip(fa, fb):
        with open(x, "rb") as f, open(y, "rb") as g:
            if f.read() != g.read():
                return f"BYTES {os.path.basename(x)}"
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
    dumps = {}
    for n in sorted(oa.keys() & ob.keys()):
        if canon_sql(oa[n]) != canon_sql(ob[n]):
            print(f"ORACLE DIFF {n}")
            bad += 1
            continue
        for (kind, ra), (_, rb) in zip(dump_reads(oa[n]), dump_reads(ob[n])):
            dumps[(kind, ra)] = rb
    for (kind, path_a), path_b in sorted(dumps.items()):
        diff = compare_dump(kind, path_a, path_b)
        if diff:
            print(f"DUMP DIFF {path_a}: {diff}")
            bad += 1
    print(f"== {len(common)} common entries, {len(oa.keys() & ob.keys())} "
          f"common oracles, {len(dumps)} dumps, {bad} difference(s)")
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1], sys.argv[2]))

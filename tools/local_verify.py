#!/usr/bin/env python3
"""Local stand-in for the driver's DuckDB oracle gate.

Usage: python3 tools/local_verify.py <sf_dir> <verify_out_dir>

Reads each <out>/<name> parquet (written by graft.Verify), runs the
matching oracle SQL from <out>/oracle_sql.json in DuckDB against the
sf_dir parquet tables, and compares: column names (sorted), row count,
and cell values (exact for non-floats, exact-or-1e-12-relative report
for floats). Strict: any difference is listed.
"""
import sys, json, glob, os, math
import pyarrow.parquet as pq

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]

# Promised float tolerance: a conversion ulp (e.g. DuckDB's
# int128-decimal -> double at large magnitude) is noted, not failed.
REL_TOL = 1e-12


def float_rel_diff(a, b):
    """0.0 when the floats are equal (NaN equals NaN), else their
    difference relative to the larger magnitude."""
    if a == b or (math.isnan(a) and math.isnan(b)):
        return 0.0
    return abs(a - b) / max(abs(a), abs(b), 1e-300)


def floats_match(a, b):
    """The float rule: exactly equal or within REL_TOL relative."""
    return float_rel_diff(a, b) <= REL_TOL


def main(sf_dir, out_dir):
    import duckdb
    con = duckdb.connect()
    for t in TABLES:
        p = f"{sf_dir}/{t}.parquet"
        src = f"'{p}/*.parquet'" if os.path.isdir(p) else f"'{p}'"
        if not os.path.exists(p):
            continue
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM {src}")
        if t == "events":
            # MakeScale corpora store ts as BIGINT nanos (Spark reads
            # nanos-as-long and writes plain int64); the oracle SQL
            # expects a DuckDB timestamp like the driver's TIMESTAMP_NS
            # parquet. Both engines floor to microseconds, so exposing
            # make_timestamp(ns // 1000) is value-identical.
            (ts_type,) = [r[1] for r in
                          con.execute("DESCRIBE events").fetchall()
                          if r[0] == "ts"]
            if ts_type == "BIGINT":
                con.execute(
                    "CREATE OR REPLACE VIEW events AS SELECT * REPLACE "
                    f"(make_timestamp(ts // 1000) AS ts) FROM {src}")
    oracles = json.load(open(f"{out_dir}/oracle_sql.json"))
    results = {}
    for name in sorted(oracles):
        sql = oracles[name]
        res_dir = f"{out_dir}/{name}"
        if not os.path.isdir(res_dir):
            results[name] = "MISSING spark output"
            continue
        try:
            got = pq.read_table(res_dir).to_pandas()
        except Exception as e:
            results[name] = f"SPARK READ FAIL: {e}"
            continue
        try:
            want = con.execute(sql).fetchdf()
        except Exception as e:
            results[name] = f"ORACLE FAIL: {e}"
            continue
        gc, wc = sorted(got.columns), sorted(want.columns)
        if gc != wc:
            results[name] = f"COLS differ: spark={gc} duck={wc}"
            continue
        if len(got) != len(want):
            results[name] = f"ROWS differ: spark={len(got)} duck={len(want)}"
            continue
        got, want = got[gc], want[gc]
        bad = []
        ulps = 0  # float cells equal only within 1e-12 relative
        for c in gc:
            gv, wv = got[c].tolist(), want[c].tolist()
            for i, (a, b) in enumerate(zip(gv, wv)):
                if a is None and b is None:
                    continue
                if isinstance(a, float) and isinstance(b, float):
                    rel = float_rel_diff(a, b)
                    if rel == 0.0:
                        continue
                    if floats_match(a, b):
                        ulps += 1
                    else:
                        bad.append(f"{c}[{i}]: {a!r} != {b!r} (rel={rel:.2e})")
                elif str(a) != str(b):
                    bad.append(f"{c}[{i}]: {a!r} != {b!r}")
                if len(bad) >= 5:
                    break
            if len(bad) >= 5:
                break
        note = f" ({ulps} float cells within 1e-12)" if ulps else ""
        results[name] = ("OK rows=%d%s" % (len(got), note)) if not bad \
            else "VALUES: " + "; ".join(bad)
    n_ok = sum(1 for v in results.values() if v.startswith("OK"))
    for k, v in results.items():
        print(("PASS " if v.startswith("OK") else "FAIL ") + k + "  " + v)
    print(f"== {n_ok}/{len(results)} oracle-checked queries pass")
    # rows-only queries (no oracle): report row counts
    for d in sorted(glob.glob(f"{out_dir}/*/")):
        name = os.path.basename(d.rstrip("/"))
        if name not in oracles:
            try:
                n = pq.read_table(d).num_rows
                print(f"ROWS {name} rows={n}" + ("  (EMPTY!)" if n == 0 else ""))
            except Exception as e:
                print(f"ROWS {name} READ FAIL: {e}")

if __name__ == "__main__":
    main(sys.argv[1], sys.argv[2])

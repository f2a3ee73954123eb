"""Local mimic of the driver's correctness gate: run every queries() entry
and its oracle_sql() on the same sf dir; compare row count, column names,
and an order-insensitive value hash.

Usage: python tools/check_correctness.py [sf_dir] [query ...]
"""

from __future__ import annotations

import hashlib
import math
import os
import sys
import time
from datetime import date, datetime

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)


def norm_cell(v):
    if v is None:
        return "∅"
    if isinstance(v, float):
        if math.isnan(v):
            return "nan"
        if v == int(v) and abs(v) < 1e15:
            return repr(int(v)) + ".0"
        return repr(round(v, 9))
    if isinstance(v, datetime):
        return v.replace(tzinfo=None).isoformat()
    if isinstance(v, date):
        return v.isoformat()
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(norm_cell(x) for x in v) + "]"
    if isinstance(v, dict):
        return "{" + ",".join(f"{k}:{norm_cell(x)}" for k, x in sorted(v.items())) + "}"
    return str(v)


def value_hash(rows, columns):
    cols = sorted(columns)
    lines = sorted(
        "|".join(norm_cell(r[c]) for c in cols) for r in rows)
    h = hashlib.sha256()
    for line in lines:
        h.update(line.encode())
        h.update(b"\n")
    return h.hexdigest()[:16]


def main():
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    only = set(sys.argv[2:])

    import duckdb
    import __spark_entry__ as E
    from incubator_iceberg_spark.session import get_spark
    from incubator_iceberg_spark.io import SF_TABLES

    spark = get_spark(master="local[8]")
    con = duckdb.connect()
    for t in SF_TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')")

    qs = E.queries()
    oracles = E.oracle_sql()
    failures = []
    for name, fn in qs.items():
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            df = fn(spark, sf_dir)
            rows = [r.asDict() for r in df.collect()]
            cols = df.columns
        except Exception as e:
            failures.append(name)
            print(f"FAIL  {name}: query raised {type(e).__name__}: {e}")
            continue
        el = time.time() - t0
        if name not in oracles:
            print(f"rows  {name}: {len(rows)} rows ({el:.1f}s) [rows-only check]")
            continue
        try:
            rel = con.sql(oracles[name])
            o_cols = rel.columns
            # HUGEINT guard: DuckDB returns sum(BIGINT) as int128; local
            # fetchall() gives exact python ints, but the DRIVER's fetch
            # path renders HUGEINT as float64 ("33.0" vs "33") — the r2
            # hash failures.  Fail HERE so the divergence can't ship.
            hug = [c for c, t in zip(o_cols, rel.types)
                   if str(t) in ("HUGEINT", "UHUGEINT")]
            if hug:
                failures.append(name)
                print(f"FAIL  {name}: oracle columns {hug} are HUGEINT — "
                      f"CAST integer aggregates to BIGINT (driver fetch "
                      f"renders int128 as float64)")
                continue
            o_rows = [dict(zip(o_cols, r)) for r in rel.fetchall()]
        except Exception as e:
            failures.append(name)
            print(f"FAIL  {name}: oracle raised {e}")
            continue
        ok_count = len(rows) == len(o_rows)
        ok_cols = sorted(cols) == sorted(o_cols)
        ok_hash = value_hash(rows, cols) == value_hash(o_rows, o_cols) if ok_cols else False
        status = "PASS " if (ok_count and ok_cols and ok_hash) else "FAIL "
        if status == "FAIL ":
            failures.append(name)
        print(f"{status} {name}: rows {len(rows)}/{len(o_rows)} cols_ok={ok_cols} "
              f"hash_ok={ok_hash} ({el:.1f}s)")
        if not ok_cols:
            print(f"       spark cols: {sorted(cols)}")
            print(f"       duck  cols: {sorted(o_cols)}")
        if ok_cols and not ok_hash and len(rows) < 50 and len(o_rows) < 50:
            sc = sorted(sorted(cols))
            print("       spark:", sorted("|".join(norm_cell(r[c]) for c in sorted(cols)) for r in rows)[:3])
            print("       duck :", sorted("|".join(norm_cell(r[c]) for c in sorted(o_cols)) for r in o_rows)[:3])
    print(f"\n{'ALL PASS' if not failures else 'FAILURES: ' + ', '.join(failures)}")
    spark.stop()
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())

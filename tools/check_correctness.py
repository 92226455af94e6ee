"""Local replica of the driver's t2 correctness gate.

Runs every ``queries()`` entry through Spark and its ``oracle_sql()`` twin
through DuckDB on the same parquet tables, then compares row count, sorted
column names, and an order-insensitive canonicalized value multiset.

Usage:  python tools/check_correctness.py [sf_dir] [query ...]
"""

from __future__ import annotations

import math
import sys
import time
import traceback
from datetime import date, datetime
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

import duckdb  # noqa: E402

SF_DIR = sys.argv[1] if len(sys.argv) > 1 and "/" in sys.argv[1] else "/root/testdata/sf0.01"
ONLY = [a for a in sys.argv[1:] if "/" not in a]

TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings"
).split()


def canon(v):
    """Canonicalize a cell so Spark- and DuckDB-sourced values compare equal."""
    if v is None:
        return "NULL"
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return repr(v)  # full precision — exact match required
    if isinstance(v, datetime):
        return v.isoformat()
    if isinstance(v, date):
        return v.isoformat()
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(canon(x) for x in v) + "]"
    if isinstance(v, bytes):
        return v.hex()
    return str(v)


def rows_to_multiset(cols, rows):
    idx = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted(tuple(canon(r[i]) for i in idx) for r in rows)


def main():
    # this checkout's package first: __spark_entry__ puts the driver's
    # fixed checkout on sys.path, which must not shadow a second copy
    from youtube_etl_project_spark.session import get_spark

    import __spark_entry__ as entrymod

    spark = get_spark("correctness-check")
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF_DIR}/{t}.parquet')"
        )

    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    names = [n for n in qs if not ONLY or n in ONLY]
    passed = failed = skipped = 0
    for name in names:
        t0 = time.time()
        try:
            sdf = qs[name](spark, SF_DIR)
            spark_rows = [tuple(r) for r in sdf.collect()]
            spark_cols = sdf.columns
        except Exception:
            print(f"FAIL {name}: spark error")
            traceback.print_exc()
            failed += 1
            continue
        if name not in oracles:
            print(f"SKIP {name}: rows-only ({len(spark_rows)} rows, {time.time()-t0:.1f}s)")
            skipped += 1
            continue
        try:
            res = con.execute(oracles[name])
            duck_cols = [d[0] for d in res.description]
            duck_rows = res.fetchall()
        except Exception as e:
            print(f"FAIL {name}: duckdb error: {e}")
            failed += 1
            continue

        errs = []
        if len(spark_rows) != len(duck_rows):
            errs.append(f"rowcount spark={len(spark_rows)} duck={len(duck_rows)}")
        if sorted(spark_cols) != sorted(duck_cols):
            errs.append(f"cols spark={sorted(spark_cols)} duck={sorted(duck_cols)}")
        if not errs:
            ms, md = rows_to_multiset(spark_cols, spark_rows), rows_to_multiset(
                duck_cols, duck_rows
            )
            if ms != md:
                diff = [(a, b) for a, b in zip(ms, md) if a != b][:3]
                errs.append(f"values differ; first diffs: {diff}")
        if errs:
            print(f"FAIL {name}: " + " | ".join(errs))
            failed += 1
        else:
            print(f"PASS {name} ({len(spark_rows)} rows, {time.time()-t0:.1f}s)")
            passed += 1

    print(f"\n{passed} passed, {failed} failed, {skipped} rows-only, sf={SF_DIR}")
    sys.exit(1 if failed else 0)


if __name__ == "__main__":
    main()

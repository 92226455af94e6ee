"""Driver-environment parity sweep: run EVERY registered query on a
vanilla SparkSession (no tuned configs — exactly what the driver's
correctness gate uses) and report row counts. Catches any accidental
dependency on session.get_spark()'s tuning (nanosAsLong, timezone,
shuffle partitions, Arrow flags).

Usage:  python tools/vanilla_sweep.py [sf_dir]
Exit code 1 if any query raises.
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    from pyspark.sql import SparkSession

    spark = SparkSession.builder.master("local[8]").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    # this checkout's package first: __spark_entry__ puts the driver's
    # fixed checkout on sys.path, which must not shadow a second copy
    import youtube_etl_project_spark  # noqa: F401

    import __spark_entry__ as entry

    failed = []
    for name, fn in sorted(entry.queries().items()):
        t0 = time.time()
        try:
            n = fn(spark, sf_dir).count()
            print(f"OK   {name} ({n} rows, {time.time() - t0:.1f}s)", flush=True)
        except Exception as ex:  # noqa: BLE001 — report-and-continue sweep
            failed.append(name)
            print(f"FAIL {name}: {str(ex)[:200]}", flush=True)
    print(f"\n{len(entry.queries()) - len(failed)} ok, {len(failed)} failed")
    return 1 if failed else 0


if __name__ == "__main__":
    raise SystemExit(main())

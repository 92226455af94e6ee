"""Incremental warehouse maintenance: the day-close sequence once the
nightly full rebuild stops fitting the window (the reference rebuilds
its daily aggregates from scratch every run —
`src/snowflake_loader.py:136-155` delete-today + reinsert; this script
is the upgrade path).

    1. day 0   — materialize the per-customer revenue view into a
                 ParquetTable (numbered versions + pointer swap + time
                 travel)
    2. day 1   — an INSERT-only batch lands: additive merge
                 (operators/mv.additive_merge) folds the delta's
                 aggregate into the view; the base is never rescanned
    3. day 2   — a CORRECTION batch re-prices existing orders: scoped
                 refresh (operators/mv.scoped_refresh) recomputes only
                 the touched customers and stitches them onto the
                 untouched remainder
    4. audit   — every step's result is compared against a from-scratch
                 rebuild (the IVM correctness claim), and the table's
                 history shows the three commits; read_version(1) still
                 serves yesterday's view to in-flight readers

The additive and scoped paths are the same operators the registry
exposes as the oracle-checked queries mv_additive_merge /
mv_scoped_refresh; this script runs them against a real mutable table.

Run:  python examples/incremental_warehouse.py [sf_dir]
"""

from __future__ import annotations

import os
import sys
import tempfile

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from youtube_etl_project_spark.operators.mv import (  # noqa: E402
    additive_merge,
    scoped_refresh,
)
from youtube_etl_project_spark.operators.upsert import ParquetTable  # noqa: E402
from youtube_etl_project_spark.session import get_spark  # noqa: E402
from youtube_etl_project_spark.sources import load_table  # noqa: E402


def view_agg(orders):
    return orders.groupBy("o_custkey").agg(
        F.count(F.lit(1)).cast("long").alias("n_orders"),
        F.sum(F.col("o_totalprice").cast("decimal(18,4)")).alias("rev_dec"),
    )


def assert_matches_rebuild(stage: str, view_df, truth_df) -> None:
    """The IVM contract: incremental result == from-scratch rebuild."""
    mismatch = (
        view_df.select("o_custkey", "n_orders", F.col("rev_dec"))
        .exceptAll(truth_df.select("o_custkey", "n_orders", "rev_dec"))
        .count()
        + truth_df.select("o_custkey", "n_orders", "rev_dec")
        .exceptAll(view_df.select("o_custkey", "n_orders", "rev_dec"))
        .count()
    )
    status = "OK" if mismatch == 0 else f"MISMATCH ({mismatch} rows)"
    print(f"  [{stage}] incremental == rebuild: {status}")
    if mismatch:
        raise SystemExit(1)


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    spark = get_spark("incremental-warehouse")
    spark.sparkContext.setLogLevel("ERROR")

    orders = load_table(spark, sf_dir, "orders")
    cut = F.lit("2000-01-01").cast("timestamp")
    base = orders.filter(F.col("o_orderdate") < cut)
    day1_inserts = orders.filter(F.col("o_orderdate") >= cut)

    root = tempfile.mkdtemp(prefix="mv_demo_")
    table = ParquetTable(spark, os.path.join(root, "cust_revenue"),
                         keep_versions=3)

    # ---- day 0: initial materialization --------------------------------
    table.write(view_agg(base))
    print(f"day 0: materialized {table.read().count()} customer rows "
          f"(base = pre-2000 orders)")

    # ---- day 1: insert-only delta -> additive merge --------------------
    merged = additive_merge(
        table.read(),
        view_agg(day1_inserts),
        keys=["o_custkey"],
        measures={
            "n_orders": F.lit(0).cast("long"),
            "rev_dec": F.lit(0).cast("decimal(28,4)"),
        },
    )
    table.write(merged)
    assert_matches_rebuild("day 1 additive", table.read(), view_agg(orders))

    # ---- day 2: correction batch (UPDATE) -> scoped refresh ------------
    is_upd = F.col("o_orderkey") % 97 == 0
    price = F.col("o_totalprice").cast("decimal(18,4)")
    corrected_price = F.when(is_upd, price * 2).otherwise(price)

    def recompute(keyset):
        touched = orders.join(
            keyset.withColumnRenamed("o_custkey", "k"),
            F.col("o_custkey") == F.col("k"),
        ).drop("k")
        return touched.groupBy("o_custkey").agg(
            F.count(F.lit(1)).cast("long").alias("n_orders"),
            F.sum(corrected_price).alias("rev_dec"),
        )

    refreshed = scoped_refresh(
        table.read(),
        affected_keys=orders.filter(is_upd).select("o_custkey"),
        recompute=recompute,
        keys=["o_custkey"],
    )
    table.write(refreshed)
    truth = orders.select(
        "o_custkey", corrected_price.alias("p")
    ).groupBy("o_custkey").agg(
        F.count(F.lit(1)).cast("long").alias("n_orders"),
        F.sum("p").alias("rev_dec"),
    )
    assert_matches_rebuild("day 2 scoped", table.read(), truth)

    # ---- audit: history + time travel ----------------------------------
    hist = table.history()
    print(f"history depth: {len(hist)} commits (day0, day1, day2)")
    prev = table.read_version(1).count()
    print(f"time travel: read_version(1) serves yesterday's view "
          f"({prev} rows) to in-flight readers")
    print("done.")


if __name__ == "__main__":
    main()

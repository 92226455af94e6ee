"""Scale-pattern verification: these assert the *plan shape* that makes
operators viable at 100 TB — bucketed joins eliminating their shuffle,
salted joins preserving semantics under fan-out."""

from __future__ import annotations

import uuid

from pyspark.sql import functions as F

from youtube_etl_project_spark.operators.skew import salted_join
from youtube_etl_project_spark.sources import load_table


def _physical_plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_bucketed_join_no_shuffle(spark, sf_dir):
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    t1 = f"b_orders_{uuid.uuid4().hex[:8]}"
    t2 = f"b_lineitem_{uuid.uuid4().hex[:8]}"
    try:
        orders.write.bucketBy(8, "o_orderkey").sortBy("o_orderkey").saveAsTable(t1)
        li.select("l_orderkey", "l_quantity").write.bucketBy(8, "l_orderkey").sortBy(
            "l_orderkey"
        ).saveAsTable(t2)
        # force sort-merge (at test scale the planner would broadcast and
        # skip bucketed reads entirely — the 100 TB case is two big sides)
        joined = spark.table(t1).hint("merge").join(
            spark.table(t2), F.col("o_orderkey") == F.col("l_orderkey")
        )
        plan = _physical_plan(joined)
        assert "Exchange" not in plan, f"bucketed join still shuffles:\n{plan}"
        assert "SortMergeJoin" in plan
        assert joined.count() == li.count()
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {t1}")
        spark.sql(f"DROP TABLE IF EXISTS {t2}")


def test_salted_join_matches_plain_join(spark, sf_dir):
    li = load_table(spark, sf_dir, "lineitem").select("l_suppkey", "l_quantity")
    sup = load_table(spark, sf_dir, "supplier").select(
        F.col("s_suppkey").alias("l_suppkey"), "s_name"
    )
    plain = (
        li.join(sup, "l_suppkey")
        .groupBy("s_name")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    salted = (
        salted_join(li, sup, "l_suppkey", salt_buckets=8)
        .groupBy("s_name")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    assert sorted(map(tuple, plain.collect())) == sorted(map(tuple, salted.collect()))

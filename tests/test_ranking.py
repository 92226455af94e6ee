"""operators/ranking: the two-pass distributed rank must be bit-identical
to the single-partition window forms it replaces (row_number / ntile),
including the NTILE fill rule at every n % k remainder, descending
orders, and degenerate sizes."""

from __future__ import annotations

import pytest
from pyspark.sql import Window
from pyspark.sql import functions as F

from youtube_etl_project_spark.operators.ranking import (
    exact_ntile_multi,
    global_rank,
)


def _frame(spark, n):
    # deterministic scramble with ties in the value column (md5 ordering,
    # v has only 7 distinct values -> tiebreaker required and exercised)
    return spark.range(n).select(
        F.col("id"),
        (F.col("id") % 7).alias("v"),
        F.md5(F.col("id").cast("string")).alias("k"),
    )


def test_global_rank_matches_window(spark):
    df = _frame(spark, 1000)
    ranked, total = global_rank(
        df, [F.col("v").desc(), F.col("k").asc()], "r", num_partitions=8
    )
    assert total == 1000
    w = Window.orderBy(F.col("v").desc(), F.col("k").asc())
    expected = df.withColumn("r", F.row_number().over(w).cast("long"))
    assert sorted(map(tuple, ranked.select("id", "r").collect())) == sorted(
        map(tuple, expected.select("id", "r").collect())
    )


def test_global_rank_no_unpartitioned_window(spark):
    import contextlib
    import io

    df = _frame(spark, 100)
    ranked, _ = global_rank(df, [F.col("k").asc()], "r", num_partitions=4)
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        ranked.explain("formatted")
    plan = buf.getvalue()
    # every windowspecdefinition must carry a partition spec
    import re

    for m in re.finditer(
        r"windowspecdefinition\((.*?)specifiedwindowframe", plan
    ):
        prefix = m.group(1).strip().rstrip(",")
        assert prefix and " ASC" not in prefix.split(",")[0], plan


@pytest.mark.parametrize(
    "n,k", [(1000, 4), (17, 4), (3, 4), (16, 4), (101, 10)]
)
def test_exact_ntile_multi_matches_windows(spark, n, k):
    # three orderings (one DESC via negation) fused into one ranking
    # pass must match three independent window NTILEs exactly
    df = _frame(spark, n).withColumn(
        "w", (F.col("id") * 37 % 11).cast("decimal(38,6)")
    )
    # slot types must be union-compatible ACROSS measures (mixing string
    # and decimal would coerce to string and silently re-order numerics)
    tiled = exact_ntile_multi(
        df,
        k,
        ["id"],
        [
            ("t_v", [F.col("v").cast("decimal(38,6)"), F.col("id")]),
            ("t_w", [(-F.col("w")).cast("decimal(38,6)"), F.col("id")]),
            ("t_m", [(F.col("id") * 37 % 13).cast("decimal(38,6)"), F.col("id")]),
        ],
        num_partitions=4,
    )
    expected = df.select(
        "id",
        F.ntile(k).over(Window.orderBy(F.asc("v"), F.asc("id"))).alias("t_v"),
        F.ntile(k).over(Window.orderBy(F.desc("w"), F.asc("id"))).alias("t_w"),
        F.ntile(k)
        .over(Window.orderBy(F.asc(F.col("id") * 37 % 13), F.asc("id")))
        .alias("t_m"),
    )
    assert sorted(map(tuple, tiled.collect())) == sorted(
        map(tuple, expected.collect())
    )
    for t in ("t_v", "t_w", "t_m"):
        assert tiled.schema[t].dataType.typeName() == "integer"


def test_exact_ntile_multi_matches_sequential(spark):
    """Bigint order slots, one ascending and one descending measure:
    the fused ranking equals one window NTILE per measure."""
    df = _frame(spark, 200)
    fused = exact_ntile_multi(
        df,
        4,
        ["id"],
        [
            ("a", [F.col("v").cast("long"), F.col("id")]),
            ("b", [(-F.col("v")).cast("long"), F.col("id")]),
        ],
        num_partitions=4,
    )
    seq = df.select(
        "id",
        F.ntile(4).over(Window.orderBy(F.asc("v"), F.asc("id"))).alias("a"),
        F.ntile(4).over(Window.orderBy(F.desc("v"), F.asc("id"))).alias("b"),
    )
    assert sorted(map(tuple, fused.select("id", "a", "b").collect())) == sorted(
        map(tuple, seq.select("id", "a", "b").collect())
    )


def test_global_rank_empty(spark):
    df = _frame(spark, 10).filter(F.col("id") < 0)
    ranked, total = global_rank(df, [F.col("k").asc()], "r")
    assert total == 0
    assert ranked.count() == 0


def test_global_prefix_sum_matches_window(spark):
    from youtube_etl_project_spark.operators.ranking import global_prefix_sum

    df = _frame(spark, 500).select(
        "id", "k", (F.col("id") % 5).cast("long").alias("wa"),
        ((F.col("id") + 3) % 4).cast("long").alias("wb"),
    )
    got = global_prefix_sum(
        df, [F.col("k").asc()], ["wa", "wb"], num_partitions=8
    )
    w = (
        Window.orderBy(F.col("k").asc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    expected = df.select(
        "id",
        F.sum("wa").over(w).cast("long").alias("wa_cum"),
        F.sum("wb").over(w).cast("long").alias("wb_cum"),
    )
    assert sorted(
        map(tuple, got.select("id", "wa_cum", "wb_cum").collect())
    ) == sorted(map(tuple, expected.collect()))


def test_global_prefix_sum_no_unpartitioned_window(spark):
    import contextlib
    import io

    from youtube_etl_project_spark.operators.ranking import global_prefix_sum

    df = _frame(spark, 100).select("id", "k", F.lit(1).alias("one"))
    out = global_prefix_sum(df, [F.col("k").asc()], ["one"], num_partitions=4)
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        out.explain("formatted")
    plan = buf.getvalue()
    # every windowspecdefinition must carry a partition spec
    import re

    for m in re.finditer(
        r"windowspecdefinition\((.*?)specifiedwindowframe", plan
    ):
        prefix = m.group(1).strip().rstrip(",")
        assert prefix and " ASC" not in prefix.split(",")[0], plan

"""Z-order layout queries: the Morton-key computation of
``operators/layout.morton_key`` — registered so the bit-interleave
arithmetic itself is oracle-checked — and the pruning effect of a
Morton-key range layout, graded on per-bucket min/max."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from youtube_etl_project_spark.operators.layout import morton_key, morton_sql
from youtube_etl_project_spark.registry import register
from youtube_etl_project_spark.sources import load_table

_BITS = 10


@register(
    "events_zorder_key",
    oracle=f"""
        SELECT event_id,
               {morton_sql("(user_id % 1024)",
                           "(CAST(FLOOR(value) AS BIGINT) % 1024)",
                           _BITS)} AS zkey
        FROM events
    """,
    doc="Morton (Z-order) key over (user_id, floor(value)) — the "
        "clustering key a Z-ordered write range-partitions on so parquet/"
        "manifest min-max stats prune 2-d box predicates (the lakehouse "
        "OPTIMIZE ZORDER layout, re-expressed as pure bit arithmetic in "
        "whole-stage codegen; identical shift/mask term order on both "
        "engines). Dims fold into the 2^10 key domain with % so the key "
        "width is fixed regardless of id range",
)
def events_zorder_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    a = F.col("user_id") % 1024
    b = F.floor(F.col("value")).cast("long") % 1024
    return ev.select("event_id", morton_key(a, b, _BITS).alias("zkey"))


_ZB = 16384  # 2^14: the 20-bit zkey domain folds into 64 logical files
_BOX_A = (100, 199)
_BOX_B = (300, 399)


@register(
    "zorder_pruning_report",
    oracle=f"""
        WITH raw AS (
            SELECT event_id,
                   user_id % 1024 AS a,
                   CAST(FLOOR(value) AS BIGINT) % 1024 AS b
            FROM events
        ), base AS (
            SELECT event_id, a, b, {morton_sql("a", "b", _BITS)} AS zkey
            FROM raw
        ), zb AS (
            SELECT a, b, zkey // {_ZB} AS bucket FROM base
        ), lb AS (
            SELECT a, b,
                   event_id // ((SELECT MAX(event_id) FROM base) // 64 + 1)
                       AS bucket
            FROM base
        ), zstats AS (
            SELECT bucket, MIN(a) AS mina, MAX(a) AS maxa,
                   MIN(b) AS minb, MAX(b) AS maxb,
                   CAST(COUNT(*) AS BIGINT) AS n,
                   CAST(SUM(CASE WHEN a BETWEEN {_BOX_A[0]} AND {_BOX_A[1]}
                                  AND b BETWEEN {_BOX_B[0]} AND {_BOX_B[1]}
                                 THEN 1 ELSE 0 END) AS BIGINT) AS m
            FROM zb GROUP BY 1
        ), lstats AS (
            SELECT bucket, MIN(a) AS mina, MAX(a) AS maxa,
                   MIN(b) AS minb, MAX(b) AS maxb,
                   CAST(COUNT(*) AS BIGINT) AS n,
                   CAST(SUM(CASE WHEN a BETWEEN {_BOX_A[0]} AND {_BOX_A[1]}
                                  AND b BETWEEN {_BOX_B[0]} AND {_BOX_B[1]}
                                 THEN 1 ELSE 0 END) AS BIGINT) AS m
            FROM lb GROUP BY 1
        )
        SELECT 'linear' AS layout,
               CAST(COUNT(*) AS BIGINT) AS n_buckets,
               CAST(SUM(CASE WHEN mina <= {_BOX_A[1]} AND maxa >= {_BOX_A[0]}
                              AND minb <= {_BOX_B[1]} AND maxb >= {_BOX_B[0]}
                             THEN 1 ELSE 0 END) AS BIGINT) AS n_buckets_read,
               CAST(SUM(CASE WHEN mina <= {_BOX_A[1]} AND maxa >= {_BOX_A[0]}
                              AND minb <= {_BOX_B[1]} AND maxb >= {_BOX_B[0]}
                             THEN n ELSE 0 END) AS BIGINT) AS n_rows_scanned,
               CAST(SUM(m) AS BIGINT) AS n_rows_match
        FROM lstats
        UNION ALL
        SELECT 'zorder',
               CAST(COUNT(*) AS BIGINT),
               CAST(SUM(CASE WHEN mina <= {_BOX_A[1]} AND maxa >= {_BOX_A[0]}
                              AND minb <= {_BOX_B[1]} AND maxb >= {_BOX_B[0]}
                             THEN 1 ELSE 0 END) AS BIGINT),
               CAST(SUM(CASE WHEN mina <= {_BOX_A[1]} AND maxa >= {_BOX_A[0]}
                              AND minb <= {_BOX_B[1]} AND maxb >= {_BOX_B[0]}
                             THEN n ELSE 0 END) AS BIGINT),
               CAST(SUM(m) AS BIGINT)
        FROM zstats
    """,
    doc="Layout pruning-effectiveness report: the same 64 logical files "
        "under an arrival-order (event_id range) layout vs a Z-order "
        "(Morton-key range) layout, graded on a 2-d box predicate the "
        "way a stats-pruning planner grades them — a file must be read "
        "iff its per-file (min,max) rectangle intersects the box. "
        "Columns: files, files read, rows scanned, rows actually "
        "matching (identical across layouts — layout never changes the "
        "answer, only the I/O). This quantifies what a Z-ordered "
        "rewrite buys BEFORE a 100 TB rewrite, on pure integer "
        "arithmetic both engines replay exactly",
)
def zorder_pruning_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    raw = ev.select(
        "event_id",
        (F.col("user_id") % 1024).alias("a"),
        (F.floor(F.col("value")).cast("long") % 1024).alias("b"),
    )
    base = raw.select(
        "event_id", "a", "b", morton_key("a", "b", _BITS).alias("zkey")
    )
    zb = base.select("a", "b", F.expr(f"zkey div {_ZB}").alias("bucket"))
    mx = base.agg(F.max("event_id").alias("__mx"))
    lb = (
        base.crossJoin(F.broadcast(mx))
        .select(
            "a", "b",
            F.expr("event_id div (__mx div 64 + 1)").alias("bucket"),
        )
    )
    in_box = (
        F.col("a").between(*_BOX_A) & F.col("b").between(*_BOX_B)
    ).cast("long")
    read = (
        (F.col("mina") <= _BOX_A[1]) & (F.col("maxa") >= _BOX_A[0])
        & (F.col("minb") <= _BOX_B[1]) & (F.col("maxb") >= _BOX_B[0])
    )

    def grade(frame: DataFrame, label: str) -> DataFrame:
        stats = frame.groupBy("bucket").agg(
            F.min("a").alias("mina"), F.max("a").alias("maxa"),
            F.min("b").alias("minb"), F.max("b").alias("maxb"),
            F.count(F.lit(1)).alias("n"),
            F.sum(in_box).alias("m"),
        )
        return stats.agg(
            F.count(F.lit(1)).cast("long").alias("n_buckets"),
            F.sum(read.cast("long")).cast("long").alias("n_buckets_read"),
            F.sum(F.when(read, F.col("n")).otherwise(0))
            .cast("long")
            .alias("n_rows_scanned"),
            F.sum("m").cast("long").alias("n_rows_match"),
        ).select(
            F.lit(label).alias("layout"),
            "n_buckets", "n_buckets_read", "n_rows_scanned", "n_rows_match",
        )

    return grade(lb, "linear").unionByName(grade(zb, "zorder"))

"""Third coverage wave: Spark 4 VARIANT semi-structured type, classic
TPC-H join-agg shapes, multimodal frame sampling, text normalization."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from youtube_etl_project_spark.registry import dec, register
from youtube_etl_project_spark.sources import load_table


@register(
    "variant_extract",
    oracle="""
        SELECT event_id,
               CAST(json_extract_string(props, '$.k') AS BIGINT) AS k
        FROM events
        WHERE json_extract_string(props, '$.k') IS NOT NULL
    """,
    doc="Spark 4 VARIANT path (SURVEY §1.2): parse_json → variant_get typed "
        "extraction — the engine-native form of Snowflake's raw_json:field::T",
)
def variant_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    v = F.parse_json("props")
    return (
        ev.select(
            "event_id",
            F.try_variant_get(v, "$.k", "bigint").alias("k"),
        )
        .filter(F.col("k").isNotNull())
    )


@register(
    "tpch_q3_shipping_priority",
    oracle="""
        SELECT l_orderkey,
               CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4))
                        * (1 - CAST(l_discount AS DECIMAL(8,4)))) AS DOUBLE)
                   AS revenue,
               CAST(o_orderdate AS DATE) AS o_orderdate,
               o_orderpriority
        FROM customer JOIN orders ON c_custkey = o_custkey
        JOIN lineitem ON l_orderkey = o_orderkey
        WHERE c_mktsegment = 'BUILDING'
          AND o_orderdate < TIMESTAMP '1997-06-30'
          AND l_shipdate > TIMESTAMP '1997-06-30'
        GROUP BY l_orderkey, CAST(o_orderdate AS DATE), o_orderpriority
    """,
    doc="TPC-H Q3 shape: selective dim filter → broadcast join → "
        "revenue aggregate (filters push to both parquet scans)",
)
def tpch_q3_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer").filter(
        F.col("c_mktsegment") == "BUILDING"
    )
    orders = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < F.lit("1997-06-30").cast("timestamp")
    )
    li = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") > F.lit("1997-06-30").cast("timestamp")
    )
    revenue = dec("l_extendedprice") * (F.lit(1) - dec("l_discount", "decimal(8,4)"))
    return (
        li.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(cust), F.col("o_custkey") == F.col("c_custkey"))
        .withColumn("o_orderdate", F.to_date("o_orderdate"))
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(F.sum(revenue).cast("double").alias("revenue"))
        .select("l_orderkey", "revenue", "o_orderdate", "o_orderpriority")
    )


@register(
    "tpch_q5_local_supplier",
    oracle="""
        SELECT n_name,
               CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4))
                        * (1 - CAST(l_discount AS DECIMAL(8,4)))) AS DOUBLE)
                   AS revenue
        FROM customer
        JOIN orders   ON c_custkey = o_custkey
        JOIN lineitem ON l_orderkey = o_orderkey
        JOIN supplier ON l_suppkey = s_suppkey
                     AND c_nationkey = s_nationkey
        JOIN nation   ON s_nationkey = n_nationkey
        JOIN region   ON n_regionkey = r_regionkey
        WHERE r_name = 'ASIA'
        GROUP BY n_name
    """,
    doc="TPC-H Q5 shape: 6-table snowflake join with a cross-table equality "
        "(customer and supplier in the same nation) — Catalyst reorders; "
        "all dims broadcast",
)
def tpch_q5_local_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    sup = load_table(spark, sf_dir, "supplier")
    nat = load_table(spark, sf_dir, "nation")
    reg = load_table(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    revenue = dec("l_extendedprice") * (F.lit(1) - dec("l_discount", "decimal(8,4)"))
    return (
        li.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(cust), F.col("o_custkey") == F.col("c_custkey"))
        .join(
            F.broadcast(sup),
            (F.col("l_suppkey") == F.col("s_suppkey"))
            & (F.col("c_nationkey") == F.col("s_nationkey")),
        )
        .join(F.broadcast(nat), F.col("s_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(reg), F.col("n_regionkey") == F.col("r_regionkey"))
        .groupBy("n_name")
        .agg(F.sum(revenue).cast("double").alias("revenue"))
    )


@register(
    "multimodal_frame_sample",
    oracle="""
        SELECT doc_id, unnest(range(0, n_frames, 5)) AS frame_idx
        FROM (
            SELECT doc_id,
                   CAST(octet_length(encode(text)) % 30 + 1 AS INTEGER) AS n_frames
            FROM documents
        )
    """,
    doc="X5: video frame sampling — every 5th frame index from the (stub) "
        "decoded frame count; explode keeps it relational so downstream "
        "per-frame decode parallelizes",
)
def multimodal_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    from youtube_etl_project_spark.operators import multimodal

    docs = load_table(spark, sf_dir, "documents")
    mm = multimodal.attach_payload(docs, "text", kind="video")
    frames = multimodal.decode_features(mm, "doc_id")
    return frames.select(
        "doc_id",
        F.explode(F.sequence(F.lit(0), F.col("n_frames") - 1, F.lit(5))).alias("fi"),
    ).select("doc_id", F.col("fi").cast("long").alias("frame_idx"))


@register(
    "text_normalize",
    oracle="""
        SELECT doc_id,
               trim(regexp_replace(regexp_replace(lower(text), '[.,;:!?]', '', 'g'),
                                   ' +', ' ', 'g')) AS norm
        FROM documents
    """,
    doc="X4: normalization pass (casefold, strip punctuation, collapse "
        "whitespace) — the standard pre-tokenization cleanup",
)
def text_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    norm = F.trim(
        F.regexp_replace(
            F.regexp_replace(F.lower("text"), r"[.,;:!?]", ""), r" +", " "
        )
    )
    return docs.select("doc_id", norm.alias("norm"))

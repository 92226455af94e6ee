"""Parquet catalog over a scale-factor directory.

Plain ``spark.read.parquet`` is deliberate: the vectorized Parquet reader +
Catalyst give predicate pushdown, column pruning, and partition pruning for
free, and at cluster scale the same call distributes file splits across
executors (``spark.sql.files.maxPartitionBytes`` controls split size).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

# Dimensions small enough to broadcast at any realistic scale factor; join
# builders use this to pick broadcast-hash joins explicitly (AQE would find
# most of these, but being explicit keeps plans stable).
BROADCAST_TABLES = frozenset({"region", "nation", "supplier", "part", "customer"})


# (session id, sf_dir, table) → DataFrame. Returning the SAME DataFrame
# object per table lets a caller persist it once and have every subsequent
# plan over that table hit the cache — bench.py uses this to share scan
# cost across queries (the driver contract still holds: queries get only
# (spark, sf_dir)). DataFrames are immutable, so memoizing is semantics-
# free; nothing is persisted unless a caller explicitly asks.
_MEMO: dict[tuple, DataFrame] = {}


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    # Re-pin the session confs on EVERY call (memo hit or miss): they are
    # runtime state of the session, not of the cached DataFrame.
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    if name == "events":
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    # applicationId is stable per SparkContext and changes on restart, so a
    # stopped-and-recreated session can never hit a stale entry
    key = (spark.sparkContext.applicationId, sf_dir, name)
    if key not in _MEMO:
        _MEMO[key] = _load_table(spark, sf_dir, name)
    return _MEMO[key]


def _load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    # Engine contract: timestamp semantics are UTC. Pin the session zone at
    # runtime so plans built on a foreign SparkSession (e.g. the driver's)
    # get the same instants, window alignment, and to_date boundaries.
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    if name == "events":
        # Set defensively here (not only in session.py): callers may hand us
        # a foreign SparkSession (e.g. the driver's); the conf is runtime-
        # settable and required to read TIMESTAMP(NANOS) parquet at all.
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    df = spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))
    if name == "events":
        # events.parquet stores TIMESTAMP(NANOS) which Spark's reader only
        # exposes as long (spark.sql.legacy.parquet.nanosAsLong, set in
        # session.py); convert to TimestampType (µs, floor-truncated — the
        # fixture generator emits µs-granular values so this is lossless).
        from pyspark.sql import functions as F
        from pyspark.sql.types import LongType, TimestampNTZType

        if isinstance(df.schema["ts"].dataType, LongType):
            df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
        elif isinstance(df.schema["ts"].dataType, TimestampNTZType):
            # Newer Spark reads TIMESTAMP(NANOS) parquet natively as
            # TIMESTAMP_NTZ (µs-truncated). Engine contract is TimestampType
            # (LTZ); with the session zone pinned to UTC above the cast is
            # instant-preserving, and watermarks/windows require LTZ.
            df = df.withColumn("ts", F.col("ts").cast("timestamp"))
    return df


def row_count(spark: SparkSession, sf_dir: str, name: str) -> int:
    """Rows of fixture table ``name``, counted once per content
    fingerprint of its parquet file(s) and then served from the model
    tier of ``operators.fixture_cache``; a rewritten table recounts."""
    from youtube_etl_project_spark.operators import fixture_cache

    return fixture_cache.cached_model(
        "row_count",
        os.path.join(sf_dir, f"{name}.parquet"),
        lambda: load_table(spark, sf_dir, name).count(),
    )


def load_tables(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    return {t: load_table(spark, sf_dir, t) for t in TABLES}

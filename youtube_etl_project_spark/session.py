"""SparkSession builder tuned for this engine.

Defaults target the test environment (local[32], one JVM whose heap is
sized to the host's physical memory) but the knobs are the ones that
matter on a real cluster: AQE for runtime re-planning (coalesced shuffle
partitions + skew-join splitting), Arrow for any pandas-UDF boundary, UTC
session time so timestamp semantics are stable, and a shuffle-partition
count sized to the parallelism at hand.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def driver_memory(phys_bytes: int) -> str:
    """Default driver heap: a quarter of physical memory, between 1g and
    8g. A fixed 8g let one sf0.1 build of the cached queries grow to
    5.8 GB RSS on a 16 GB host, so a second engine process beside it was
    OOM-killed; a quarter leaves room for two engines and their Python
    workers."""
    mb = phys_bytes // (4 * 1024 * 1024)
    return f"{min(max(mb, 1024), 8192)}m"


def get_spark(
    app_name: str = "youtube-etl-project-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
) -> SparkSession:
    """Build (or fetch) the tuned SparkSession.

    On a 1000-executor cluster, drop ``master`` and raise
    ``shuffle_partitions`` to ~2-3x total cores; AQE will coalesce
    the excess at runtime, so erring high is safe.
    """
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    builder = (
        SparkSession.builder.appName(app_name)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions or cpus))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.sql.parquet.compression.codec", "snappy")
        # events.parquet carries TIMESTAMP(NANOS); read as long + convert
        # (sources/catalog.py) since Spark has no nanos timestamp type.
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config(
            "spark.driver.memory",
            os.environ.get("SPARK_DRIVER_MEMORY")
            or driver_memory(os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")),
        )
        .config("spark.sql.files.maxPartitionBytes", str(128 * 1024 * 1024))
        .config("spark.ui.enabled", "false")
        # bucketed-table support without polluting the repo: warehouse +
        # derby metastore under /tmp (derby home only applies to the first
        # JVM in a process — fine for tests/bench)
        .config("spark.sql.warehouse.dir", "/tmp/spark_warehouse")
        .config("spark.driver.extraJavaOptions", "-Dderby.system.home=/tmp/derby")
        .config("spark.sql.sources.bucketing.enabled", "true")
    )
    if master or not SparkSession.getActiveSession():
        builder = builder.master(master or f"local[{cpus}]")
    return builder.getOrCreate()

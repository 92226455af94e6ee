"""Warehouse connector sink (SURVEY §2 S10): ``DataFrameWriter.jdbc``.

The reference loads its aggregates into a SQL warehouse over a Python DB
connector with hand-written MERGE/INSERT statements
(reference ``src/snowflake_loader.py:6-18`` connection setup,
``:42-193`` staging → fact → aggregate SQL). Spark-first, the warehouse
load IS the built-in JDBC relation: ``df.write.jdbc`` fans the insert
out across executors (one connection per partition — the parallel
equivalent of the reference's single-cursor ``executemany``), and
``spark.read.jdbc(..., predicates=...)`` partitions the read back.

Scale posture:

* **Write parallelism = DataFrame partitions.** Each partition opens one
  connection and batches ``batchsize`` rows per round trip. For a 100 TB
  aggregate landing in a warehouse, coalesce to the connection budget
  the warehouse tolerates (``coalesce(n)`` before the write) rather than
  letting 10k tasks open 10k connections.
* **Idempotence**: ``mode="overwrite"`` + ``truncate=true`` re-runs a
  day's load without DDL churn (the reference's staging-truncate step,
  ``src/snowflake_loader.py:171-176``); append-mode loads should land in
  a staging table and MERGE forward (operators/upsert.py is the
  Spark-side equivalent when the warehouse is Spark tables).
* **Pushdown**: ``spark.read.jdbc`` with ``predicates`` or
  (lower/upper/numPartitions) bounds turns the read-back into N
  range-pruned parallel queries.

This container carries no external warehouse, but Spark bundles the
Derby embedded driver (its Hive-metastore dependency), so the round trip
is executable evidence, not a stub: tests/test_jdbc_sink.py writes a
real aggregate through ``df.write.jdbc`` into an embedded-Derby database
and reads it back with ``spark.read.jdbc``. Swapping the URL/driver for
a warehouse's JDBC endpoint changes nothing structural.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

DERBY_DRIVER = "org.apache.derby.jdbc.EmbeddedDriver"


def derby_url(db_dir: str) -> str:
    """Embedded-Derby JDBC URL (creates the database on first touch)."""
    return f"jdbc:derby:{db_dir};create=true"


def write_jdbc(
    df: DataFrame,
    url: str,
    table: str,
    driver: str = DERBY_DRIVER,
    max_connections: int | None = None,
) -> None:
    """Land a DataFrame in a warehouse table over JDBC, replacing the
    table, in batches of 10 000 rows.

    ``max_connections`` caps write parallelism (coalesce before write) —
    at cluster scale the connection budget belongs to the warehouse, not
    to Spark's task count.
    """
    out = df.coalesce(max_connections) if max_connections else df
    (
        out.write.format("jdbc")
        .option("url", url)
        .option("dbtable", table)
        .option("driver", driver)
        .option("batchsize", "10000")
        .mode("overwrite")
        .save()
    )


def read_jdbc(
    spark: SparkSession,
    url: str,
    table: str,
    driver: str = DERBY_DRIVER,
    predicates: list[str] | None = None,
) -> DataFrame:
    """Read a warehouse table back; ``predicates`` makes it a partitioned
    parallel read (one pruned query per predicate)."""
    if predicates:
        return spark.read.jdbc(
            url, table, predicates=predicates, properties={"driver": driver}
        )
    return (
        spark.read.format("jdbc")
        .option("url", url)
        .option("dbtable", table)
        .option("driver", driver)
        .load()
    )

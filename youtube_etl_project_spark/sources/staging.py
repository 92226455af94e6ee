"""Semi-structured staging reader (SURVEY §2a S5/S6/S7, F11, P4; §3.2 stage 1).

Reference behavior re-expressed:

* The collector sinks one JSON *array* per file under a date path
  ``raw/YYYY/MM/DD/{videos,channels}_<ts>.json`` (src/youtube_collector.py:
  205-232); the loader reads every file of a date partition, exposing
  ``METADATA$FILENAME`` for routing (LIKE '%videos_%') and for the
  latest-file-wins dedup (src/snowflake_loader.py:52-60,82).
* Staging keeps the raw JSON + lineage (``STG_VIDEOS(raw_json,
  load_timestamp, file_name)`` — src/snowflake_loader.py:44-50), and typed
  extraction happens later via path expressions (``raw_json:field::TYPE``).

Spark-first mapping: ``spark.read.text`` on a path glob gives distributed
file reads with ``input_file_name()`` lineage; ``from_json`` with an array
schema + ``explode`` replaces LATERAL FLATTEN; PERMISSIVE parsing preserves
the reference's swallow-errors-per-record posture (YC:34-36). At 100 TB the
date-partitioned layout makes partition pruning a path filter, and files
split across executors — no driver-side listing loops.
"""

from __future__ import annotations

import posixpath
from datetime import date

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T


def date_path(root: str, day: date) -> str:
    """``raw/YYYY/MM/DD`` partition path (reference YC:204-206, SL:21-22)."""
    return posixpath.join(root, f"{day.year:04d}", f"{day.month:02d}", f"{day.day:02d}")


def read_json_array_files(
    spark: SparkSession, path_glob: str, element_schema: T.StructType
) -> DataFrame:
    """Read JSON-array files → one row per array element, with lineage.

    Returns columns: ``record struct<...>``, ``raw_json string``,
    ``file_name string``, ``load_timestamp timestamp`` — the staging shape
    (SL:44-50) plus the already-flattened struct.

    ``wholetext`` keeps one file per row pre-explode — correct for the
    reference's file sizes (hundreds of records); for multi-GB files the
    sink side (json_sink.py) is responsible for writing line-delimited JSON
    instead, which this reader also accepts via ``multiLine=False`` paths.
    """
    raw = spark.read.text(path_glob, wholetext=True).select(
        F.col("value").alias("file_text"),
        F.input_file_name().alias("file_name"),
    )
    arr = F.from_json(
        "file_text", T.ArrayType(element_schema), {"mode": "PERMISSIVE"}
    )
    return (
        raw.select(F.explode(arr).alias("record"), "file_name")
        .withColumn("raw_json", F.to_json("record"))
        .withColumn("load_timestamp", F.current_timestamp())
    )


def read_json_line_files(
    spark: SparkSession, path_glob: str, element_schema: T.StructType
) -> DataFrame:
    """Line-delimited twin of ``read_json_array_files`` — same staging shape
    (record, file_name, raw_json, load_timestamp), but one JSON object per
    line, so files SPLIT across executors mid-file. This is the scalable
    default the distributed sink (json_sink/pipeline.run_day) writes; the
    array reader stays for reference-shaped fixtures."""
    raw = (
        spark.read.text(path_glob)
        .filter(F.length(F.trim("value")) > 0)
        .select(
            F.col("value").alias("raw_json"),
            F.input_file_name().alias("file_name"),
        )
    )
    return (
        raw.select(
            F.from_json(
                "raw_json", element_schema, {"mode": "PERMISSIVE"}
            ).alias("record"),
            "file_name",
        )
        .withColumn("raw_json", F.to_json("record"))
        .withColumn("load_timestamp", F.current_timestamp())
    )


def route_files(staged: DataFrame, name_token: str) -> DataFrame:
    """Filename-LIKE routing (``METADATA$FILENAME LIKE '%videos_%'`` —
    SL:59,80)."""
    return staged.filter(F.col("file_name").like(f"%{name_token}%"))


def latest_per_key(df: DataFrame, key: str) -> DataFrame:
    """W1: keep the newest-file record per key (QUALIFY ROW_NUMBER() ... = 1,
    SL:82). Shuffles once on ``key``; at scale this is the dedup-before-merge
    step that keeps the MERGE's shuffle small."""
    from pyspark.sql import Window

    w = Window.partitionBy(key).orderBy(F.col("file_name").desc())
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )

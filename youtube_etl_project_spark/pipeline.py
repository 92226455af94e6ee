"""End-to-end pipeline composition (SURVEY §3.1-3.3, M5): the reference's
collector → raw sink → staging → dims/facts → daily aggregate, as one
DataFrame pipeline over file sources and ParquetTable targets.

Reference lifecycles re-expressed:

* extract+transform (src/youtube_collector.py collect_data): nested-field
  projection + classify + engagement per row — here a single ``select`` over
  the raw videos frame; all compute executor-side (the reference's
  driver-side ``all_videos`` list is exactly what this removes).
* load (src/snowflake_loader.py load_todays_data): stage JSON with lineage →
  latest-per-key dedup → dim MERGE → typed fact insert → aggregate refresh
  (today's ``analysis_date`` partition replaced by its known date, the
  reference's DELETE … WHERE analysis_date = today + INSERT, SL:136-155) →
  staging truncate, with the reference's fatal/non-fatal step policy
  (steps 1-3 fatal, 4-5 warn — FA:294-365) and per-table atomic commits
  (ParquetTable version swap standing in for per-step transactions).

Scale: every stage is a declarative plan; the only shuffles are the dedup
window (on channel_id), the fact dedup (video_id), and the daily groupBy.
Dims broadcast in the aggregate join.
"""

from __future__ import annotations

import logging
from dataclasses import dataclass, field
from datetime import date as _date

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from youtube_etl_project_spark import schemas
from youtube_etl_project_spark.functions import (
    engagement_rate,
    safe_long,
    safe_str,
    sentiment_fields,
    text_blob,
)
from youtube_etl_project_spark.operators.upsert import (
    ParquetTable,
    insert_only_merge,
    overwrite_partitions,
    scd_upsert_dim,
)
from youtube_etl_project_spark.sources.staging import (
    date_path,
    latest_per_key,
    read_json_array_files,
    read_json_line_files,
    route_files,
)

log = logging.getLogger(__name__)


# ---------------------------------------------------------------------------
# Extract + transform (SURVEY §3.1)
# ---------------------------------------------------------------------------

def enrich_videos(raw: DataFrame) -> DataFrame:
    """Classification + engagement enrichment (YC:149-170 as one select).

    Input: flat raw video records (schemas.VIDEO_SCHEMA without the derived
    fields). Output adds final_sentiment / classification_method / keyword
    counts / engagement_rate — all Column expressions, zero Python, in one
    projection (one plan analysis, where a ``withColumn`` chain re-analyses
    the plan per column).
    """
    blob = text_blob("title", "description", tags_col="tags")
    return raw.withColumns({
        **sentiment_fields("category_id", blob),
        "engagement_rate": engagement_rate(
            "view_count", "like_count", "comment_count"
        ),
    })


# ---------------------------------------------------------------------------
# Warehouse (SURVEY §3.2) — tables addressed under one root
# ---------------------------------------------------------------------------

@dataclass
class Warehouse:
    """The warehouse tables under ``root``. Opening it creates dim, fact
    and aggregate as empty tables of their declared schemas, so every
    load stage merges into an existing table."""

    spark: SparkSession
    root: str
    stg_videos: ParquetTable = field(init=False)
    dim_channels: ParquetTable = field(init=False)
    fact_videos: ParquetTable = field(init=False)
    agg_daily: ParquetTable = field(init=False)

    def __post_init__(self):
        self.stg_videos = ParquetTable(self.spark, f"{self.root}/stg_videos")
        self.dim_channels = ParquetTable(self.spark, f"{self.root}/dim_channels")
        self.fact_videos = ParquetTable(self.spark, f"{self.root}/fact_videos")
        self.agg_daily = ParquetTable(self.spark, f"{self.root}/agg_daily_by_region")
        self.dim_channels.create(schemas.DIM_CHANNELS_SCHEMA)
        self.fact_videos.create(schemas.FACT_VIDEOS_SCHEMA)
        self.agg_daily.create(schemas.AGG_DAILY_SCHEMA)


def load_day(
    wh: Warehouse, raw_root: str, day: _date, file_format: str = "array"
) -> dict[str, int]:
    """The 5-stage daily load (SL:20-40). Returns per-stage row counts:
    each stage's table size as its write observed it (``ParquetTable.count``
    reads the commit record — no second scan per stage, where the
    reference re-counts every table after its step).

    Stages 1-3 raise on failure (fatal); stages 4-5 log and continue
    (non-fatal) — the reference's semantics (FA:304-355).

    ``file_format``: ``"array"`` reads the reference-shaped one-JSON-array-
    per-file layout (wholetext — one file per task); ``"jsonl"`` reads the
    line-delimited layout the distributed sink writes (files split across
    executors — the at-scale default ``run_day`` uses).
    """
    counts: dict[str, int] = {}
    day_glob = date_path(raw_root, day) + "/*"
    reader = read_json_line_files if file_format == "jsonl" else read_json_array_files

    # -- stage 1: staging with lineage (S6/F11; fatal) ---------------------
    staged_v = route_files(
        reader(wh.spark, day_glob, schemas.VIDEO_SCHEMA), "videos_"
    )
    stg = staged_v.select("raw_json", "load_timestamp", "file_name", "record")
    wh.stg_videos.write(stg.drop("record"))
    counts["staged_videos"] = wh.stg_videos.count()

    # -- stage 2: channel dim upsert (W1 dedup → J2 MERGE; fatal) ----------
    staged_c = route_files(
        reader(wh.spark, day_glob, schemas.CHANNEL_SCHEMA),
        "channels_",
    )
    channels = (
        staged_c.select("record.*", "file_name")
        .filter(F.col("channel_id").isNotNull())
        .transform(lambda d: latest_per_key(d, "channel_id"))
        .select(
            "channel_id",
            "channel_title",
            safe_str("channel_country").alias("channel_country"),
            safe_long("subscriber_count").alias("subscriber_count"),
            safe_long("video_count").alias("video_count"),
        )
    )
    merged = scd_upsert_dim(wh.dim_channels.read(), channels, ["channel_id"])
    wh.dim_channels.write(
        merged.select(*[f.name for f in schemas.DIM_CHANNELS_SCHEMA])
    )
    counts["dim_channels"] = wh.dim_channels.count()

    # -- stage 3: fact insert-only merge (P7 typed extract → J3; fatal) ----
    facts = (
        staged_v.select("record.*")
        .filter(F.col("video_id").isNotNull())
        .withColumn("published_at", F.to_timestamp("published_at"))
        .withColumn("collected_at", F.to_timestamp("collected_at"))
        .withColumn("collection_date", F.to_date("collected_at"))
        .withColumn("view_count", safe_long("view_count"))
        .withColumn("like_count", safe_long("like_count"))
        .withColumn("comment_count", safe_long("comment_count"))
        .select(*[f.name for f in schemas.FACT_VIDEOS_SCHEMA])
    )
    wh.fact_videos.write(
        insert_only_merge(wh.fact_videos.read(), facts, ["video_id"])
    )
    counts["fact_videos"] = wh.fact_videos.count()

    # -- stage 4: aggregate refresh (J1+A1 → A7 replaceWhere; non-fatal) ---
    try:
        fact = wh.fact_videos.read().filter(F.col("collection_date") == F.lit(day))
        dim = wh.dim_channels.read()
        agg = (
            fact.join(F.broadcast(dim), "channel_id")
            .groupBy("channel_country", "final_sentiment")
            .agg(
                F.count(F.lit(1)).alias("video_count"),
                F.sum("view_count").alias("total_views"),
                F.sum("like_count").alias("total_likes"),
                F.sum("comment_count").alias("total_comments"),
                F.avg("engagement_rate").alias("avg_engagement_rate"),
            )
            .withColumn("analysis_date", F.lit(day).cast("date"))
            .select(*[f.name for f in schemas.AGG_DAILY_SCHEMA])
        )
        overwrite_partitions(wh.agg_daily, agg, "analysis_date", day)
        counts["agg_daily"] = wh.agg_daily.count()
    except Exception:  # noqa: BLE001 — reference treats aggs as non-fatal
        log.warning("aggregate refresh failed (non-fatal)", exc_info=True)

    # -- stage 5: staging cleanup (S9; non-fatal) --------------------------
    try:
        wh.stg_videos.truncate()
    except Exception:  # noqa: BLE001
        log.warning("staging cleanup failed (non-fatal)", exc_info=True)

    return counts


def run_day(
    spark: SparkSession,
    videos_raw: DataFrame,
    channels_raw: DataFrame,
    raw_root: str,
    warehouse_root: str,
    day: _date,
) -> dict[str, int]:
    """Full §3.3 composition: enrich → date-partitioned raw sink → load.

    The raw sink is the distributed line-delimited JSON writer
    (``json_sink.write_day_entity``): executors write part files in
    parallel, nothing reaches the driver, and the loader reads the same
    date path back with the splittable jsonl reader. Reference-shaped
    JSON-*array* fixtures (one array per file, YC:205-232) are a test
    concern — ``testkit.write_json_array_file`` at test call sites, loaded
    with ``load_day(..., file_format="array")``."""
    from youtube_etl_project_spark.sources.json_sink import write_day_entity

    write_day_entity(enrich_videos(videos_raw), raw_root, day, "videos")
    write_day_entity(channels_raw, raw_root, day, "channels")
    wh = Warehouse(spark, warehouse_root)
    return load_day(wh, raw_root, day, file_format="jsonl")

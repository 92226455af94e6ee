"""Golden end-to-end pipeline test (SURVEY §5.3): raw JSON → staging →
dedup → merge → aggregate, asserting the reference's semantics —
latest-file-wins, insert-only facts, SCD-lite dim bookkeeping, and
idempotence (running a day twice yields identical tables)."""

from __future__ import annotations

from datetime import date

import pytest
from pyspark.sql import functions as F

from youtube_etl_project_spark.pipeline import Warehouse, enrich_videos, load_day
from youtube_etl_project_spark.testkit import (
    make_channel,
    make_video,
    write_json_array_file,
)

DAY = date(2024, 3, 2)


@pytest.fixture
def raw_root(tmp_path):
    return str(tmp_path / "raw")


def _seed_day(raw_root: str) -> None:
    videos = [
        make_video("v1", "ch1", category_id=1, title="amazing great stuff"),
        make_video("v2", "ch1", category_id=20, title="whatever"),
        make_video("v2", "ch1", category_id=20, title="whatever"),  # dup id
        make_video("v3", "ch2", category_id=99, view_count=0),  # zero views
        make_video(None, "ch2"),  # null id → filtered
    ]
    channels_old = [
        make_channel("ch1", subscriber_count=100),
        make_channel("ch2", channel_country=None),  # → UNKNOWN
        make_channel(None),  # null id → filtered
    ]
    channels_new = [make_channel("ch1", subscriber_count=999)]  # later file wins
    write_json_array_file(raw_root, DAY, "videos", videos, ts_suffix="20240302_060000")
    write_json_array_file(
        raw_root, DAY, "channels", channels_old, ts_suffix="20240302_060000"
    )
    write_json_array_file(
        raw_root, DAY, "channels", channels_new, ts_suffix="20240302_070000"
    )


def _enriched_records(spark, raw_root):
    _seed_day(raw_root)


def test_load_day_end_to_end(spark, tmp_path, raw_root):
    _seed_day(raw_root)
    wh = Warehouse(spark, str(tmp_path / "wh"))
    counts = load_day(wh, raw_root, DAY)

    # facts: v1, v2 (deduped), v3; null id dropped
    facts = {r.video_id for r in wh.fact_videos.read().collect()}
    assert facts == {"v1", "v2", "v3"}

    # dim: latest file wins for ch1
    dim = {r.channel_id: r for r in wh.dim_channels.read().collect()}
    assert set(dim) == {"ch1", "ch2"}
    assert dim["ch1"].subscriber_count == 999
    assert dim["ch2"].channel_country == "UNKNOWN"
    assert dim["ch1"].first_seen_date is not None

    # staging truncated after load (S9)
    assert counts["staged_videos"] == 5
    assert wh.stg_videos.read().count() == 0


def test_load_day_idempotent(spark, tmp_path, raw_root):
    _seed_day(raw_root)
    wh = Warehouse(spark, str(tmp_path / "wh"))
    load_day(wh, raw_root, DAY)
    first_facts = sorted(
        (r.video_id, r.view_count) for r in wh.fact_videos.read().collect()
    )
    first_agg = sorted(map(tuple, wh.agg_daily.read().drop("avg_engagement_rate").collect()))

    load_day(wh, raw_root, DAY)  # re-run the same day
    second_facts = sorted(
        (r.video_id, r.view_count) for r in wh.fact_videos.read().collect()
    )
    second_agg = sorted(map(tuple, wh.agg_daily.read().drop("avg_engagement_rate").collect()))
    assert first_facts == second_facts  # insert-only merge: no dup inserts
    assert first_agg == second_agg  # replaceWhere refresh: no double counting


def test_dim_scd_update_across_days(spark, tmp_path, raw_root):
    _seed_day(raw_root)
    wh = Warehouse(spark, str(tmp_path / "wh"))
    load_day(wh, raw_root, DAY)
    first_seen = {
        r.channel_id: r.first_seen_date for r in wh.dim_channels.read().collect()
    }

    day2 = date(2024, 3, 3)
    write_json_array_file(
        raw_root, day2, "videos", [make_video("v9", "ch1")],
        ts_suffix="20240303_060000",
    )
    write_json_array_file(
        raw_root, day2, "channels",
        [make_channel("ch1", subscriber_count=5000), make_channel("ch3")],
        ts_suffix="20240303_060000",
    )
    load_day(wh, raw_root, day2)
    dim = {r.channel_id: r for r in wh.dim_channels.read().collect()}
    assert set(dim) == {"ch1", "ch2", "ch3"}
    assert dim["ch1"].subscriber_count == 5000  # updated
    assert dim["ch1"].first_seen_date == first_seen["ch1"]  # preserved
    assert dim["ch3"].first_seen_date is not None  # fresh insert


def test_enrich_videos_matches_reference_semantics(spark):
    raw = spark.createDataFrame(
        [
            ("v1", "ch1", 1, "amazing great", "", [], 100, 10, 5),
            ("v2", "ch1", 19, "whatever", "", [], 0, 0, 0),
            ("v3", "ch1", 1, None, None, None, 10, 1, 0),  # no text at all
            ("v4", "ch1", 2, "Awful", "just great", ["x"], 10, 0, 0),  # 1-1 tie
        ],
        "video_id string, channel_id string, category_id int, title string, "
        "description string, tags array<string>, view_count long, "
        "like_count long, comment_count long",
    )
    out = {r.video_id: r for r in enrich_videos(raw).collect()}
    assert out["v1"].final_sentiment == "POSITIVE"
    assert out["v1"].classification_method == "KEYWORD_BASED"
    assert out["v1"].engagement_rate == 15.0
    assert out["v2"].final_sentiment == "POSITIVE"
    assert out["v2"].classification_method == "CATEGORY_BASED"
    assert out["v2"].engagement_rate == 0.0
    for vid, hits in (("v3", (0, 0)), ("v4", (1, 1))):
        r = out[vid]
        assert (r.positive_keyword_count, r.negative_keyword_count) == hits
        assert r.final_sentiment == "NEUTRAL"
        assert r.classification_method == "KEYWORD_BASED"
    assert out["v3"].engagement_rate == 10.0


def test_run_day_distributed_sink_end_to_end(spark, tmp_path):
    """run_day's default path: distributed jsonl sink -> splittable staging
    read -> warehouse. No fixture array files, no driver collect."""
    import glob

    from youtube_etl_project_spark.pipeline import run_day
    from youtube_etl_project_spark.testkit import make_channel, make_video

    videos = spark.createDataFrame(
        [
            make_video("v1", "ch1", category_id=1, title="amazing great",
                       tags=["launch"]),
            make_video("v2", "ch2", category_id=20, title="whatever",
                       tags=["misc"]),
        ]
    )
    channels = spark.createDataFrame(
        [make_channel("ch1"), make_channel("ch2", channel_country="GB")]
    )
    raw_root = str(tmp_path / "raw")
    counts = run_day(
        spark, videos, channels, raw_root, str(tmp_path / "wh"), DAY
    )
    assert counts["fact_videos"] == 2
    assert counts["dim_channels"] == 2
    assert counts["agg_daily"] >= 1
    # the sink wrote executor part files under the date path, not a
    # driver-assembled array file
    parts = glob.glob(f"{raw_root}/2024/03/02/videos_spark/part-*")
    assert parts, "expected distributed part files in the raw sink"
    arrays = glob.glob(f"{raw_root}/2024/03/02/*.json")
    assert not arrays, "reference-shaped array fixtures are test-only now"


def _jobs_of(spark, fn) -> int:
    """Spark jobs ``fn()`` launches, counted by job group."""
    import uuid

    sc = spark.sparkContext
    group = f"budget-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc._jsc.clearJobGroup()
    return len(sc.statusTracker().getJobIdsForGroup(group))


def test_fresh_warehouse_has_empty_declared_tables(spark, tmp_path):
    """Opening a fresh warehouse launches no Spark job and exposes the
    dim, fact and aggregate tables empty, with their declared columns."""
    from youtube_etl_project_spark import schemas

    root = str(tmp_path / "wh")
    opened = []
    assert _jobs_of(spark, lambda: opened.append(Warehouse(spark, root))) == 0
    wh = opened[0]
    declared = {
        wh.dim_channels: schemas.DIM_CHANNELS_SCHEMA,
        wh.fact_videos: schemas.FACT_VIDEOS_SCHEMA,
        wh.agg_daily: schemas.AGG_DAILY_SCHEMA,
    }
    for table, schema in declared.items():
        df = table.read()
        assert [(f.name, f.dataType) for f in df.schema] == [
            (f.name, f.dataType) for f in schema
        ]
        assert table.count() == 0 and df.count() == 0
    assert not wh.stg_videos.exists()


def test_run_day_warm_job_budget(spark, tmp_path):
    """Timing-free plan-shape guard: a warm ``run_day`` launches at most 12
    Spark jobs — no schema-inference job per table read, no count job
    after a write, no pass over the aggregate to find the partitions it
    replaces — and opening a warehouse table launches none. Jobs are
    counted per job group."""
    from datetime import timedelta

    from youtube_etl_project_spark.pipeline import run_day
    from youtube_etl_project_spark.testkit import make_channel, make_video

    raw_root, wh_root = str(tmp_path / "raw"), str(tmp_path / "wh")

    def day(n: int):
        d = DAY + timedelta(days=n)
        videos = spark.createDataFrame([
            make_video(f"v{n}{i}", f"ch{i % 2}", category_id=(1, 20)[i % 2],
                       title="amazing day", tags=["t"],
                       collected_at=f"{d}T06:00:00")
            for i in range(4)
        ])
        channels = spark.createDataFrame(
            [make_channel("ch0", subscriber_count=n), make_channel("ch1")]
        )
        return lambda: run_day(spark, videos, channels, raw_root, wh_root, d)

    _jobs_of(spark, day(0))
    warm = _jobs_of(spark, day(1))
    assert warm <= 12, f"warm run_day launched {warm} Spark jobs"

    wh = Warehouse(spark, wh_root)
    tables = (wh.stg_videos, wh.dim_channels, wh.fact_videos, wh.agg_daily)
    assert _jobs_of(spark, lambda: [t.read() for t in tables]) == 0
    assert wh.fact_videos.count() == 8 and wh.agg_daily.count() == 4

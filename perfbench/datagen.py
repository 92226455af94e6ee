"""Seeded input generators for the benchmark workloads.

Everything here is pure Python + numpy + pyarrow: inputs are written as
files during set-up, so building them never costs Spark time, and the same
seed always yields byte-identical inputs.

* ``write_corpus_tables`` writes the fixture tables the corpus queries read.
* ``etl_days`` builds D days of raw collector output (videos + channels)
  with the awkward cases the daily load must handle; ``write_etl_day``
  writes one day as parquet and ``expected_warehouse`` is the pure-Python
  model of the warehouse the load must produce.
"""

from __future__ import annotations

import os
import random
from dataclasses import dataclass
from datetime import date, datetime, timedelta

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# ---------------------------------------------------------------------------
# Corpus tables
# ---------------------------------------------------------------------------

SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
DOC_WORDS = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
DOC_LANGS = ["en", "en", "de", "es", "fr", "zh"]
EMBED_DIM = 64


def write_corpus_tables(
    out_dir: str, seed: int, n_cust: int, n_docs: int, n_vecs: int
) -> None:
    """Write ``customer``, ``documents`` and ``embeddings`` under
    ``out_dir`` with the column types and value ranges of the repository's
    test fixtures: the three tables the corpus mix reads."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(seed)
    _write(out_dir, "customer", {
        "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)]),
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": pa.array(np.round(rng.uniform(-1000, 10000, n_cust), 2)),
        "c_mktsegment": pa.array(rng.choice(SEGMENTS, n_cust)),
    })
    _write(out_dir, "documents", _documents(rng, n_docs))
    vecs = rng.standard_normal((n_vecs, EMBED_DIM)).astype("float32")
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    _write(out_dir, "embeddings", {
        "vec_id": pa.array(np.arange(n_vecs), pa.int64()),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n_vecs), pa.int32()),
    })


def _write(out_dir: str, name: str, cols: dict[str, pa.Array]) -> None:
    pq.write_table(pa.table(cols), os.path.join(out_dir, f"{name}.parquet"))


def _documents(rng: np.random.Generator, n: int) -> dict[str, pa.Array]:
    """Random-word documents where one in twenty is a near-duplicate (an
    earlier-drawn text plus a ``dup`` token) and a few are exact copies, so
    every dedup operator has true positives to find."""
    texts = [
        " ".join(rng.choice(DOC_WORDS, int(rng.integers(10, 101))))
        for _ in range(n)
    ]
    near = rng.choice(n, n // 20, replace=False)
    for i in near:
        texts[i] = texts[int(rng.integers(0, n))] + " dup"
    for _ in range(max(1, n // 600)):
        texts[int(rng.integers(0, n))] = texts[int(rng.integers(0, n))]
    return {
        "doc_id": pa.array(np.arange(n), pa.int64()),
        "text": pa.array(texts),
        "lang": pa.array(rng.choice(DOC_LANGS, n)),
        "source": pa.array([f"src{i % 20}" for i in range(n)]),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    }


# ---------------------------------------------------------------------------
# Daily ETL input + its expected warehouse
# ---------------------------------------------------------------------------

COUNTRIES = ["US", "GB", "IN", "PK", "CA", None]
KEYWORDS = ["news", "music", "sports", "gaming", "tech", "movies"]
SEARCH_REGIONS = ["US", "GB", "IN", "PK", "CA"]
# one id from each classification branch: positive, negative, mixed
# (keyword-decided) and uncategorized
CATEGORIES = [19, 26, 20, 24, 1, 10, 22, 2, 15, 17, 43]
TITLE_WORDS = (
    "today live update full review official clip episode highlights "
    "tutorial reaction trailer"
).split()
POSITIVE = ["amazing", "best", "great", "love", "win", "perfect"]
NEGATIVE = ["awful", "bad", "worst", "fail", "scam", "wrong"]
START_DAY = date(2024, 3, 1)

VIDEO_ARROW = pa.schema([
    ("video_id", pa.string()), ("channel_id", pa.string()),
    ("category_id", pa.int32()), ("title", pa.string()),
    ("description", pa.string()), ("tags", pa.list_(pa.string())),
    ("published_at", pa.string()), ("view_count", pa.int64()),
    ("like_count", pa.int64()), ("comment_count", pa.int64()),
    ("search_keyword", pa.string()), ("search_region", pa.string()),
    ("collected_at", pa.string()),
])
CHANNEL_ARROW = pa.schema([
    ("channel_id", pa.string()), ("channel_title", pa.string()),
    ("channel_country", pa.string()), ("subscriber_count", pa.int64()),
    ("video_count", pa.int64()),
])


@dataclass
class EtlDay:
    day: date
    videos: list[dict]
    channels: list[dict]


def _title(rng: random.Random) -> str:
    words = rng.choices(TITLE_WORDS, k=rng.randint(2, 5))
    for _ in range(rng.randint(0, 2)):
        pool = POSITIVE if rng.random() < 0.5 else NEGATIVE
        words.insert(rng.randint(0, len(words)), rng.choice(pool))
    if rng.random() < 0.3:
        words = [w.upper() if rng.random() < 0.5 else w for w in words]
    return " ".join(words)


def etl_days(seed: int, n_days: int, videos_per_day: int) -> list[EtlDay]:
    """D days of raw collector output.

    Covered cases: duplicate ``video_id`` within a day (exact copies, as a
    re-sent page would be) and across days (a later sighting with fresh
    counts, which the insert-only fact merge must ignore), channels re-seen
    with changed counts, null video and channel ids, keyword-bearing titles
    in every classification branch, zero-view rows and null countries.
    Videos whose channel never appears in the channel feed are included
    too; the aggregate's inner join drops them."""
    rng = random.Random(seed)
    n_channels = max(20, videos_per_day // 8)
    chan_ids = [f"UC{i:07d}" for i in range(n_channels)]
    chan_country = {c: rng.choice(COUNTRIES) for c in chan_ids}
    orphan = [f"UX{i:05d}" for i in range(max(2, n_channels // 50))]
    seen_ids: list[str] = []
    next_id = 0
    days = []
    for d in range(n_days):
        day = START_DAY + timedelta(days=d)
        midnight = datetime.combine(day, datetime.min.time())
        videos: list[dict] = []
        n_new = int(videos_per_day * 0.85)
        for _ in range(videos_per_day):
            if len(videos) < n_new or not seen_ids:
                vid = f"v{next_id:08d}"
                next_id += 1
            else:
                vid = rng.choice(seen_ids)
            if rng.random() < 0.01:
                vid = None
            chan = rng.choice(orphan if rng.random() < 0.02 else chan_ids)
            views = 0 if rng.random() < 0.05 else rng.randint(1, 2_000_000)
            collected = midnight + timedelta(seconds=rng.randrange(86_400))
            published = collected - timedelta(hours=rng.randint(1, 24 * 30))
            videos.append({
                "video_id": vid,
                "channel_id": chan,
                "category_id": rng.choice(CATEGORIES),
                "title": _title(rng),
                "description": "" if rng.random() < 0.5 else _title(rng),
                "tags": rng.choices(KEYWORDS, k=rng.randint(0, 3)),
                "published_at": published.isoformat(),
                "view_count": views,
                "like_count": int(views * rng.uniform(0, 0.1)),
                "comment_count": int(views * rng.uniform(0, 0.01)),
                "search_keyword": rng.choice(KEYWORDS),
                "search_region": rng.choice(SEARCH_REGIONS),
                "collected_at": collected.isoformat(),
            })
        # within-day duplicates: exact copies of earlier rows
        for _ in range(videos_per_day // 20):
            videos.append(dict(rng.choice(videos)))
        seen_ids.extend(v["video_id"] for v in videos if v["video_id"] is not None)
        rng.shuffle(videos)

        day_chans = sorted({v["channel_id"] for v in videos} - set(orphan))
        channels = [{
            "channel_id": c,
            "channel_title": f"channel {c}",
            "channel_country": chan_country[c],
            "subscriber_count": rng.randrange(10_000_000),
            "video_count": rng.randint(1, 5000),
        } for c in day_chans]
        channels.append({
            "channel_id": None, "channel_title": "untitled",
            "channel_country": "US", "subscriber_count": 1, "video_count": 1,
        })
        days.append(EtlDay(day, videos, channels))
    return days


def write_etl_day(out_dir: str, d: EtlDay) -> tuple[str, str]:
    """Write one day's raw videos and channels as parquet; return both paths."""
    os.makedirs(out_dir, exist_ok=True)
    stem = os.path.join(out_dir, d.day.isoformat())
    vpath, cpath = f"{stem}_videos.parquet", f"{stem}_channels.parquet"
    pq.write_table(pa.Table.from_pylist(d.videos, schema=VIDEO_ARROW), vpath)
    pq.write_table(pa.Table.from_pylist(d.channels, schema=CHANNEL_ARROW), cpath)
    return vpath, cpath


def _sentiment(category: int, blob: str, config) -> str:
    if category in config.POSITIVE_CATEGORIES:
        return "POSITIVE"
    if category in config.NEGATIVE_CATEGORIES:
        return "NEGATIVE"
    if category in config.MIXED_CATEGORIES:
        pos = sum(kw in blob for kw in config.POSITIVE_KEYWORDS)
        neg = sum(kw in blob for kw in config.NEGATIVE_KEYWORDS)
        return "POSITIVE" if pos > neg else "NEGATIVE" if neg > pos else "NEUTRAL"
    return "UNKNOWN"


@dataclass
class ExpectedDay:
    fact_rows: int
    dim_rows: int
    # (country, sentiment) -> (video_count, total_views)
    agg: dict[tuple[str, str], tuple[int, int]]


def expected_warehouse(days: list[EtlDay], config) -> list[ExpectedDay]:
    """Pure-Python model of the warehouse after each day's load.

    Facts are insert-only on ``video_id`` (the first sighting wins); the
    channel dim keeps the latest record per id; the day's aggregate joins
    that day's new facts to the dim and groups by (country, sentiment),
    with a null country reported as ``UNKNOWN``. ``config`` supplies the
    keyword and category vocabulary the classifier uses."""
    fact: dict[str, tuple[str, date]] = {}
    dim: dict[str, str] = {}
    out = []
    for d in days:
        for c in d.channels:
            if c["channel_id"] is not None:
                dim[c["channel_id"]] = c["channel_country"] or "UNKNOWN"
        todays = []
        for v in d.videos:
            vid = v["video_id"]
            if vid is None or vid in fact:
                continue
            fact[vid] = (v["channel_id"], d.day)
            todays.append(v)
        agg: dict[tuple[str, str], tuple[int, int]] = {}
        for v in todays:
            country = dim.get(v["channel_id"])
            if country is None:
                continue
            blob = " ".join(
                [v["title"], v["description"], " ".join(v["tags"])]
            ).lower()
            key = (country, _sentiment(v["category_id"], blob, config))
            n, views = agg.get(key, (0, 0))
            agg[key] = (n + 1, views + v["view_count"])
        out.append(ExpectedDay(len(fact), len(dim), agg))
    return out

"""Per-fixture cache for build-once/probe-many state, in two tiers.

Both tiers key an entry by a cheap CONTENT fingerprint of its source
(sorted relpath + size + mtime_ns of its files; no data read), so a
source whose contents change in process misses instead of serving
stale state. A source that is not an existing local file or dir (a
``file://``, ``hdfs://`` or ``s3a://`` URI, or a missing path) has no
fingerprint: its entries are rebuilt or retrained on every call, never
memoized.

- FRAMES on disk (:func:`cached_build`): derived frames and persisted
  indexes are written once to a temp dir minted here; every minted dir
  is removed at interpreter exit, including ones superseded by a
  fingerprint change.
- MODELS in memory (:func:`cached_model`): trained, model-sized plain
  data (codebooks, IVF centroids, weight vectors, adjacency maps, row
  counts, frame schemas) held as Python values, one entry per
  ``(prefix, src)``.

Frames in this tier are read back with :func:`read_frame`, which hands
the reader a schema held in the model tier, so a warm read launches no
schema-inference job. An append to the dir changes its fingerprint and
so re-infers once. :func:`stats` reports hits, misses and build/train
seconds per tier.

At scale the same contract holds with durable storage: the fingerprint
becomes the source table's snapshot/commit id and each tier a small
catalog table.
"""

from __future__ import annotations

import atexit
import hashlib
import os
import shutil
import tempfile
import time
from typing import TYPE_CHECKING, Callable, TypeVar

if TYPE_CHECKING:
    from pyspark.sql import DataFrame, SparkSession

T = TypeVar("T")

# Every temp dir ever minted (including ones superseded by a fingerprint
# change) — reclaimed at interpreter exit.
_MINTED: list[str] = []

# (prefix, sf_dir, fingerprint) -> cache dir path.
_CACHE: dict[tuple[str, str, str], str] = {}

# (prefix, src) -> (fingerprint, trained value).
_MODELS: dict[tuple[str, str], tuple[str, object]] = {}

# tier -> {"hits", "misses", "seconds"}; seconds spent building or
# training on misses.
_STATS: dict[str, dict[str, float]] = {
    tier: {"hits": 0, "misses": 0, "seconds": 0.0}
    for tier in ("frames", "models")
}


def fingerprint(src: str) -> "str | None":
    """Cheap content fingerprint of a fixture dir or file: the sha256 of
    the sorted (relative path, size, mtime_ns) listing of its files.
    Reads metadata only — never file contents — so it is safe to
    evaluate per query call. ``None`` when ``src`` is not an existing
    local path: its contents cannot be checked here, so nothing keyed
    by it may be reused."""
    if not os.path.exists(src):
        return None
    h = hashlib.sha256()
    if os.path.isfile(src):
        st = os.stat(src)
        name = os.path.basename(src)
        h.update(f"{name}:{st.st_size}:{st.st_mtime_ns};".encode())
        return h.hexdigest()[:16]
    for root, dirs, files in os.walk(src):
        dirs.sort()
        for name in sorted(files):
            p = os.path.join(root, name)
            try:
                st = os.stat(p)
            except OSError:  # racing writer; fold the miss into the key
                h.update(f"{p}:gone;".encode())
                continue
            rel = os.path.relpath(p, src)
            h.update(f"{rel}:{st.st_size}:{st.st_mtime_ns};".encode())
    return h.hexdigest()[:16]


def _count(tier: str, hit: bool, seconds: float = 0.0) -> None:
    s = _STATS[tier]
    s["hits" if hit else "misses"] += 1
    s["seconds"] += seconds


def stats() -> "dict[str, dict[str, float]]":
    """Hits, misses and build (frames) / train (models) seconds per tier
    since the interpreter started: ``{"frames": {...}, "models": {...}}``.
    Schema lookups by :func:`read_frame` count as model-tier entries."""
    return {tier: dict(s) for tier, s in _STATS.items()}


def cached_build(
    prefix: str,
    sf_dir: str,
    build: Callable[[str], None],
    marker: str = "_SUCCESS",
) -> str:
    """Return the cache dir for ``(prefix, sf_dir)`` at the fixture's
    CURRENT fingerprint, invoking ``build(path)`` to populate a fresh
    temp dir on miss. ``marker`` is a path relative to the dir whose
    existence revalidates a hit (e.g. ``edges`` for a persisted graph,
    ``_SUCCESS`` for a single parquet frame)."""
    fp = fingerprint(sf_dir)
    key = (prefix, sf_dir, fp)
    path = None if fp is None else _CACHE.get(key)
    if path is not None and os.path.exists(os.path.join(path, marker)):
        _count("frames", hit=True)
        return path
    path = tempfile.mkdtemp(prefix=prefix)
    _MINTED.append(path)
    t0 = time.perf_counter()
    build(path)
    _count("frames", hit=False, seconds=time.perf_counter() - t0)
    if fp is not None:
        _CACHE[key] = path
    return path


def cached_model(prefix: str, src_dir: str, train: Callable[[], T]) -> T:
    """Return ``train()``'s value for ``src_dir`` (a dir or a file) at
    its CURRENT fingerprint, training only on a miss.

    Memoizing is sound only because ``train`` must be a deterministic
    function of ``src_dir``'s contents: the same contents always train
    the same value, so the fingerprint is the entry's whole validity
    condition. One entry is kept per ``(prefix, src_dir)``; a changed
    fingerprint retrains and replaces it. If ``train`` raises, nothing
    is stored, and neither is a value for a source without a
    fingerprint. The oracle twins of the queries that use it train in SQL
    on every run, so caching hides no trainer from the hash gate."""
    key = (prefix, src_dir)
    fp = fingerprint(src_dir)
    hit = _MODELS.get(key)
    if fp is not None and hit is not None and hit[0] == fp:
        _count("models", hit=True)
        return hit[1]
    t0 = time.perf_counter()
    value = train()
    _count("models", hit=False, seconds=time.perf_counter() - t0)
    if fp is not None:
        _MODELS[key] = (fp, value)
    return value


def read_frame(spark: "SparkSession", path: str) -> "DataFrame":
    """Read the parquet frame at ``path`` with its schema taken from the
    model tier, so only the first read at a fingerprint infers it (one
    Spark job); later reads launch none. Partition columns of a
    ``partitionBy`` layout are part of the recorded schema."""
    schema = cached_model(
        "frame_schema", path, lambda: spark.read.parquet(path).schema
    )
    return spark.read.schema(schema).parquet(path)


@atexit.register
def _cleanup() -> None:  # pragma: no cover - interpreter teardown
    for d in _MINTED:
        shutil.rmtree(d, ignore_errors=True)
    _MINTED.clear()
    _CACHE.clear()

"""Per-layer spans and counters, recorded from outside the program.

``install`` replaces the public entry points of the program's layers with
timing wrappers. It must run before the plan modules are imported: about
twenty of them bind ``pin`` and ``load_table`` by name at import time, so a
later patch would miss those call sites. The wrappers change no argument or
result; untraced runs never install them.
"""

from __future__ import annotations

import functools
import os
import time
from collections import defaultdict

# ParquetTable root basename -> pipeline stage that writes it.
_STAGE_OF_TABLE = {
    "stg_videos": "staging",
    "dim_channels": "dim_merge",
    "fact_videos": "fact_merge",
    "agg_daily_by_region": "agg_refresh",
}

LAYER_KEYS = (
    "plans.build_s", "plans.build_jobs",
    "sources.load_table_calls", "sources.load_table_s",
    "sources.json_sink_s", "sources.json_sink_bytes",
    "pipeline.staging_s", "pipeline.dim_merge_s", "pipeline.fact_merge_s",
    "pipeline.agg_refresh_s", "pipeline.cleanup_s",
    "upsert.commits", "upsert.bytes_written",
    "fixture_cache.hits", "fixture_cache.misses", "fixture_cache.build_s",
    "checkpointing.pins", "checkpointing.pin_s",
)


def dir_bytes(path: str) -> int:
    total = 0
    for root, _, files in os.walk(path):
        for name in files:
            try:
                total += os.path.getsize(os.path.join(root, name))
            except OSError:
                pass
    return total


class Recorder:
    """Accumulates layer counters while ``active``; the harness switches
    it on for the timed phase only, so set-up, warm-up and output checks
    stay out of the per-layer numbers."""

    def __init__(self, tracing: bool) -> None:
        self.tracing = tracing
        self.active = False
        self.values: dict[str, float] = defaultdict(float)

    def add(self, key: str, value: float) -> None:
        if self.active and self.tracing:
            self.values[key] += value

    def snapshot(self) -> dict[str, float]:
        return {k: float(self.values.get(k, 0.0)) for k in LAYER_KEYS}

    def timed(self, key: str, fn, count_key: str | None = None):
        """Wrap ``fn`` so its wall time adds to ``key`` and each call adds
        one to ``count_key``."""

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            t0 = time.perf_counter()
            out = fn(*args, **kwargs)
            self.add(key, time.perf_counter() - t0)
            if count_key:
                self.add(count_key, 1)
            return out

        return wrapper


def install(rec: Recorder) -> None:
    """Patch the layer entry points of the program with ``rec``'s
    wrappers. Call once, before any plan module is imported."""
    from youtube_etl_project_spark import sources
    from youtube_etl_project_spark.operators import (
        checkpointing,
        fixture_cache,
        upsert,
    )
    from youtube_etl_project_spark.sources import catalog, json_sink

    load = rec.timed("sources.load_table_s", catalog.load_table,
                     "sources.load_table_calls")
    catalog.load_table = load
    sources.load_table = load

    checkpointing.pin = rec.timed(
        "checkpointing.pin_s", checkpointing.pin, "checkpointing.pins"
    )

    orig_build = fixture_cache.cached_build

    @functools.wraps(orig_build)
    def cached_build(prefix, sf_dir, build, *args, **kwargs):
        built = []

        def counted_build(path):
            built.append(True)
            t0 = time.perf_counter()
            try:
                return build(path)
            finally:
                rec.add("fixture_cache.build_s", time.perf_counter() - t0)

        out = orig_build(prefix, sf_dir, counted_build, *args, **kwargs)
        rec.add("fixture_cache.misses" if built else "fixture_cache.hits", 1)
        return out

    fixture_cache.cached_build = cached_build

    orig_sink = json_sink.write_day_entity

    @functools.wraps(orig_sink)
    def write_day_entity(*args, **kwargs):
        t0 = time.perf_counter()
        path = orig_sink(*args, **kwargs)
        rec.add("sources.json_sink_s", time.perf_counter() - t0)
        rec.add("sources.json_sink_bytes", dir_bytes(path))
        return path

    json_sink.write_day_entity = write_day_entity

    table = upsert.ParquetTable
    orig_write, orig_truncate = table.write, table.truncate
    in_truncate = []

    @functools.wraps(orig_write)
    def write(self, *args, **kwargs):
        t0 = time.perf_counter()
        orig_write(self, *args, **kwargs)
        if not in_truncate:
            stage = _STAGE_OF_TABLE.get(os.path.basename(self.root.rstrip("/")))
            if stage:
                rec.add(f"pipeline.{stage}_s", time.perf_counter() - t0)
        rec.add("upsert.commits", 1)
        rec.add("upsert.bytes_written", dir_bytes(self.current_path()))

    @functools.wraps(orig_truncate)
    def truncate(self):
        in_truncate.append(True)
        t0 = time.perf_counter()
        try:
            orig_truncate(self)
        finally:
            in_truncate.pop()
            rec.add("pipeline.cleanup_s", time.perf_counter() - t0)

    table.write = write
    table.truncate = truncate

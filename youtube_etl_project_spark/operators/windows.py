"""Event-time windowing (SURVEY §2b X6) over the ``events`` stream-shaped
table.

The reference's only temporal structure is a daily cron micro-batch
(function_app.py:540-541); a real analytics engine needs tumbling/sliding/
session windows, and the same builders here work identically under
Structured Streaming (streaming/pipeline.py) — ``F.window`` /
``F.session_window`` are the streaming-native operators, so batch and
stream share one code path.

Scale: windowed groupBys shuffle on (window, keys); Spark assigns windows
map-side (an event expands to size/slide rows for sliding windows before
the shuffle), and AQE coalesces the tail. Watermarks bound state in the
streaming variant.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def epoch_seconds(col: Column | str) -> Column:
    """Window keys leave the engine as epoch-second bigints — stable across
    engines and timestamp precisions (µs vs ns)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.unix_timestamp(c)


def tumbling(
    df: DataFrame, ts_col: str, duration: str, *keys: str
) -> "GroupedWindow":
    w = F.window(ts_col, duration)
    return GroupedWindow(df, w, list(keys))


def sliding(
    df: DataFrame, ts_col: str, duration: str, slide: str, *keys: str
) -> "GroupedWindow":
    w = F.window(ts_col, duration, slide)
    return GroupedWindow(df, w, list(keys))


class GroupedWindow:
    """Thin wrapper: groupBy(window, keys) with the window key flattened to
    epoch seconds on the way out."""

    def __init__(self, df: DataFrame, window: Column, keys: list[str]):
        self.df = df
        self.window = window
        self.keys = keys

    def agg(self, *aggs: Column) -> DataFrame:
        out = self.df.groupBy(self.window.alias("window"), *self.keys).agg(*aggs)
        return out.select(
            epoch_seconds(F.col("window.start")).alias("window_start"),
            *self.keys,
            *[c for c in out.columns if c not in ("window", *self.keys)],
        )

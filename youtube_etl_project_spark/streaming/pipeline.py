"""Stream-stream interval join (SURVEY §2b X6 streaming).

The reference's "streaming" is a daily cron micro-batch with an
incremental source predicate (function_app.py:540-541, 71). The
registered ``streaming_*_parity`` queries (plans/streaming_queries.py)
drain their rollup, session, dedup and stream-static join plans inline
through Structured Streaming with ``Trigger.AvailableNow`` and
hash-match each against its batch SQL twin. The one builder they share
lives here: ``interval_joined_streams``, used by the inner, outer,
full-outer and semi interval-join parity queries.

Scale: both sides carry watermarks and the join condition bounds event
time in both directions, so join state is bounded by the watermark.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def interval_joined_streams(
    left: DataFrame,
    right: DataFrame,
    key: str = "user_id",
    ts_col: str = "ts",
    within: str = "30 minutes",
    watermark: str = "1 hour",
    how: str = "inner",
) -> DataFrame:
    """Stream-stream interval join: right-side events within ``within``
    after the left event, per key (the attribution/sessionize shape —
    view→click within 30 min).

    Both sides carry watermarks and the join condition bounds event time in
    BOTH directions, so Spark can size and evict the join state — without
    the time bound, stream-stream state grows forever. Works identically on
    batch DataFrames (watermark no-op, same interval predicate), so tests
    assert streamed == batch twin.

    ``how="left_outer"`` adds the state-eviction null path: a left event
    whose match window closes under the watermark with no partner emits
    once with a NULL right_ts — exactly batch LEFT JOIN semantics, but the
    null rows only materialize when the watermark PASSES the window, so a
    bounded drain must push the watermark beyond the last real event (the
    parity query stages a far-future flush sentinel for that; an untimed
    drain would silently hold the tail rows in join state).

    ``how="full_outer"`` evicts in BOTH directions: an unmatched right
    event also emits once (NULL left_ts) when the watermark passes the
    window in which a partner could still arrive. The output key is
    coalesced across sides — identical to the left key for inner/left
    modes (it is never NULL there), and the only well-defined key for
    the right-side null rows.

    ``how="left_semi"`` is the existence filter: a left event emits
    exactly once iff at least one partner arrives in its window — and,
    like the outer modes, only when the watermark CLOSES that window
    (Spark must know no further partner can flip a multi-match into a
    duplicate emit), so the same bounded-drain sentinel discipline
    applies. Output carries left columns only.
    """
    l = left.select(
        F.col(key).alias("k"), F.col(ts_col).alias("l_ts")
    )
    r = right.select(
        F.col(key).alias("r_k"), F.col(ts_col).alias("r_ts")
    )
    if left.isStreaming:
        l = l.withWatermark("l_ts", watermark)
    if right.isStreaming:
        r = r.withWatermark("r_ts", watermark)
    cond = (
        (F.col("k") == F.col("r_k"))
        & (F.col("r_ts") >= F.col("l_ts"))
        & (F.col("r_ts") <= F.col("l_ts") + F.expr(f"INTERVAL {within}"))
    )
    j = l.join(r, cond, how)
    if how == "left_semi":
        return j.select(
            F.col("k").alias(key),
            F.unix_timestamp("l_ts").alias("left_ts"),
        )
    return j.select(
        F.coalesce(F.col("k"), F.col("r_k")).alias(key),
        F.unix_timestamp("l_ts").alias("left_ts"),
        F.unix_timestamp("r_ts").alias("right_ts"),
    )

"""Incremental / streaming pipeline (SURVEY §2a T1-T3, §2b X6 streaming).

The reference's "streaming" is a daily cron micro-batch with an incremental
source predicate (function_app.py:540-541, 71). Spark-first that is a file
source under Structured Streaming with ``Trigger.AvailableNow``: each run
drains exactly the new files (exactly-once via checkpoint), which subsumes
both the cron trigger and the publishedAfter predicate — new data is new
files under the date-partitioned raw root.

* ``incremental_load``: readStream over raw JSON → foreachBatch → the same
  batch merge/upsert stages as pipeline.load_day. foreachBatch is the
  streaming-native place for MERGE-shaped sinks.
* ``windowed_event_stream``: watermarked tumbling-window aggregate over an
  events-shaped stream — the standard late-data-tolerant rollup; the same
  ``F.window`` builder the batch plans use (operators/windows.py).

Scale: file-source listing is incremental (no full re-list per batch with
``maxFilesPerTrigger`` / cleanSource), state is bounded by the watermark,
and every batch reuses the batch operators — one code path, two triggers.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming import StreamingQuery


def incremental_load(
    spark: SparkSession,
    raw_glob: str,
    element_schema: T.StructType,
    checkpoint_dir: str,
    on_batch,
) -> StreamingQuery:
    """AvailableNow drain of new JSON files; each micro-batch is handed to
    ``on_batch(df, batch_id)`` — typically a closure over pipeline.load_day's
    merge stages. Exactly-once per file via the checkpoint."""
    stream = (
        spark.readStream.schema(
            T.StructType(
                [
                    T.StructField("value", T.StringType()),
                ]
            )
        )
        .format("text")
        .option("wholetext", "true")
        .load(raw_glob)
        .select(
            F.explode(
                F.from_json("value", T.ArrayType(element_schema), {"mode": "PERMISSIVE"})
            ).alias("record")
        )
        .select("record.*")
    )
    return (
        stream.writeStream.foreachBatch(on_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def windowed_event_stream(
    events: DataFrame,
    ts_col: str = "ts",
    window: str = "1 hour",
    watermark: str = "2 hours",
    *keys: str,
) -> DataFrame:
    """Watermarked tumbling-window count/sum — works on a streaming OR batch
    DataFrame (watermark is a no-op in batch), so tests can assert the batch
    result and production can run it on readStream unchanged."""
    df = events.withWatermark(ts_col, watermark) if events.isStreaming else events
    return (
        df.groupBy(F.window(ts_col, window).alias("window"), *keys)
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum("value").alias("sum_value"),
        )
        .select(
            F.unix_timestamp(F.col("window.start")).alias("window_start"),
            *keys,
            "n_events",
            "sum_value",
        )
    )


def sessionized_event_stream(
    events: DataFrame,
    ts_col: str = "ts",
    gap: str = "30 minutes",
    watermark: str = "2 hours",
    *keys: str,
) -> DataFrame:
    """Watermarked session-window aggregation (X6's gap-based variant) on a
    streaming OR batch DataFrame. Streaming session windows need the
    watermark to know when a session can no longer grow (no event within
    ``gap`` AND watermark past session end) — state per open session, not
    per event, so memory is bounded by concurrent-session count. Batch
    twin: identical call, watermark no-op; tests assert drain == batch."""
    df = events.withWatermark(ts_col, watermark) if events.isStreaming else events
    return (
        df.groupBy(F.session_window(ts_col, gap).alias("session"), *keys)
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum("value").alias("sum_value"),
        )
        .select(
            F.unix_timestamp(F.col("session.start")).alias("session_start"),
            F.unix_timestamp(F.col("session.end")).alias("session_end"),
            *keys,
            "n_events",
            "sum_value",
        )
    )


def deduped_event_stream(
    events: DataFrame,
    ts_col: str = "ts",
    watermark: str = "2 hours",
    *keys: str,
) -> DataFrame:
    """Exactly-once-per-key ingestion dedup for at-least-once sources
    (retried API pages, replayed files): keep the first arrival of each key,
    dropping redelivered copies that arrive within the watermark horizon.

    Streaming uses ``dropDuplicatesWithinWatermark`` — state per key is
    evicted once the watermark passes it, so memory is bounded by (event
    rate × watermark), not corpus size; that is the only safe shape at
    100 TB/day ingest. Batch twin: plain dropDuplicates, same columns.
    """
    cols = list(keys) or ["event_id"]
    if events.isStreaming:
        return events.withWatermark(ts_col, watermark).dropDuplicatesWithinWatermark(cols)
    return events.dropDuplicates(cols)


def enriched_event_stream(
    events: DataFrame,
    dim: DataFrame,
    on: str,
) -> DataFrame:
    """Stream-static left join: every micro-batch joins against the (slowly
    changing) dimension snapshot. The static side is broadcast — no
    per-batch shuffle of the stream, no streaming state; the planner
    re-reads the dim per batch so dim updates are picked up without
    restarting the query."""
    return events.join(F.broadcast(dim), on, "left")


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


def run_events_stream_availablenow(
    spark: SparkSession,
    source_dir: str,
    schema: T.StructType,
    checkpoint_dir: str,
    output_dir: str,
) -> StreamingQuery:
    """End-to-end streaming rollup: parquet file source → watermarked window
    agg → parquet append sink, drained with AvailableNow (the reference's
    daily-cron semantics, minus the cron)."""
    src = spark.readStream.schema(schema).parquet(source_dir)
    agg = windowed_event_stream(src, "ts", "1 hour", "2 hours", "event_type")
    return (
        agg.writeStream.format("parquet")
        .option("path", output_dir)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )


def streaming_incremental_dedup(
    spark: SparkSession,
    source_dir: str,
    schema: T.StructType,
    index_path: str,
    corpus_out: str,
    checkpoint_dir: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    **lsh_params,
) -> StreamingQuery:
    """Streaming near-dup dedup against a persisted LSH index: parquet
    file source of arriving documents → foreachBatch → per micro-batch
    run :func:`operators.dedup.incremental_minhash_pairs` with
    ``corpus_index`` = the index table, drop duplicate docs
    (:func:`operators.dedup.batch_duplicate_ids`), append survivors to
    ``corpus_out`` and their :func:`operators.dedup.lsh_index` rows to
    ``index_path``.

    foreachBatch rather than a stateful operator because the "state" —
    the corpus LSH index — must outlive the query, be shared with the
    batch path, and stay columnar-scannable; per-key streaming state is
    the wrong home for a corpus-sized index. Each micro-batch's cost is
    O(|batch| + touched index buckets), never O(|corpus|). Delivery is
    exactly-once per input file across successful drains (checkpoint)
    and at-least-once within a failed batch; both appends are
    idempotent (replays exclude already-landed doc ids), so a replay
    converges instead of double-inserting survivors (ADVICE r10).
    """
    from youtube_etl_project_spark.operators import dedup as dd

    sig_params = {
        k: v for k, v in lsh_params.items()
        if k in ("shingle_k", "n_hashes", "seed")
    }

    def on_batch(batch: DataFrame, batch_id: int) -> None:
        if batch.isEmpty():
            return
        s = batch.sparkSession
        batch = batch.localCheckpoint(eager=True)  # read twice below
        try:
            idx = s.read.parquet(index_path)
            have_index = True
        except Exception:
            idx, have_index = None, False
        if have_index:
            pairs = dd.incremental_minhash_pairs(
                None, batch, id_col, text_col,
                corpus_index=idx, **lsh_params,
            )
        else:  # first batch ever: only within-batch dedup
            pairs = dd.incremental_minhash_pairs(
                batch.limit(0), batch, id_col, text_col, **lsh_params
            )
        dup = dd.batch_duplicate_ids(pairs, batch.select(id_col))
        fresh = batch.join(dup, batch[id_col] == dup["doc_id"], "left_anti")
        fresh = fresh.localCheckpoint(eager=True)  # two appends below

        def _anti_existing(df: DataFrame, path: str) -> DataFrame:
            """Idempotent append guard (the nsw_insert contract):
            foreachBatch is at-least-once, so a replayed batch excludes
            rows a previous attempt already landed — pinned eagerly
            because the plan scans the path it then appends to."""
            try:
                existing = s.read.parquet(path).select(
                    F.col(id_col).alias("__have")
                )
            except Exception:  # first batch: nothing at the path yet
                return df
            return df.join(
                existing, df[id_col] == F.col("__have"), "left_anti"
            ).localCheckpoint(eager=True)

        _anti_existing(fresh, corpus_out).write.mode("append").parquet(
            corpus_out
        )
        _anti_existing(
            dd.lsh_index(fresh, id_col, text_col, **sig_params), index_path
        ).write.mode("append").parquet(index_path)

    return (
        spark.readStream.schema(schema)
        .parquet(source_dir)
        .writeStream.foreachBatch(on_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def streaming_ann_ingest(
    spark: SparkSession,
    source_dir: str,
    schema: T.StructType,
    index_path: str,
    checkpoint_dir: str,
    k: int = 16,
) -> StreamingQuery:
    """Streaming ingest into the persisted IVF index
    (:mod:`operators.ann_index`): parquet file source of arriving
    (vec_id, embedding) batches → foreachBatch → first batch trains +
    builds the index (``ivf_build``), every later batch ``ivf_append``\\ s under the
    frozen quantizer — O(|batch|) per micro-batch, only the touched cell
    partitions written, the corpus never rescanned.

    Same architecture rationale as :func:`streaming_incremental_dedup`:
    the index must outlive the query, serve concurrent ``ivf_query``
    readers, and stay columnar/partition-prunable — per-key streaming
    state is the wrong home for it. Delivery is exactly-once per input
    file across successful drains (checkpoint) and at-least-once within
    a failed batch; ``ivf_append`` is idempotent (a replay excludes ids
    a previous attempt landed — one pruned scan of the batch's own
    cells), so replays converge instead of double-inserting (ADVICE
    r10).
    """
    from youtube_etl_project_spark.operators import ann_index

    def on_batch(batch: DataFrame, batch_id: int) -> None:
        if batch.isEmpty():
            return
        import os

        if os.path.isdir(f"{index_path}/centroids"):
            ann_index.ivf_append(batch, index_path)
        else:
            ann_index.ivf_build(batch, index_path, k=k)

    return (
        spark.readStream.schema(schema)
        .parquet(source_dir)
        .writeStream.foreachBatch(on_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def streaming_nsw_ingest(
    spark: SparkSession,
    source_dir: str,
    schema: T.StructType,
    index_path: str,
    checkpoint_dir: str,
) -> StreamingQuery:
    """Streaming ingest into the persisted NSW graph index
    (:mod:`operators.ann_index` ``nsw_build``/``nsw_insert``/
    ``nsw_query``) — the graph twin of :func:`streaming_ann_ingest`,
    completing the streaming-serving matrix: parquet file source of
    arriving (vec_id, embedding) batches → foreachBatch → the first batch
    bootstraps the index (trains its own exact-grid coarse quantizer
    and runs the bounded k-NN build — plans/graph_ann.
    nsw_graph_from_vectors); every later batch attaches online via
    ``nsw_insert``: each new vector beam-searches the existing graph
    for its neighbors (pruned probes), appends its components and
    out-edges to its own cell partitions, and rewrites only the touched
    neighbor partitions with capped reverse edges — O(|batch| × probe)
    per micro-batch, the corpus never rescanned.

    Delivery is exactly-once per input file ACROSS successful drains
    (source checkpoint) and at-least-once WITHIN a failed batch —
    foreachBatch replays the whole batch after a mid-batch crash. Both
    legs are safe because ``nsw_insert`` is idempotent (ADVICE r10):
    every write excludes rows a previous attempt already landed
    (components on (id, pos), out-edges on (src, dst), reverse merge
    dedupes before re-capping), so a replay converges to the exact
    single-run state instead of doubling component rows — which would
    silently double nsw_query's sum-over-pos distances."""

    def on_batch(batch: DataFrame, batch_id: int) -> None:
        if batch.isEmpty():
            return
        import os

        from youtube_etl_project_spark.operators import ann_index

        if os.path.isdir(f"{index_path}/edges"):
            ann_index.nsw_insert(batch, index_path)
        else:
            from youtube_etl_project_spark.plans.graph_ann import (
                nsw_graph_from_vectors,
            )

            edges, qe, assign, cb = nsw_graph_from_vectors(batch)
            ann_index.nsw_build(edges, assign, qe, cb, index_path)

    return (
        spark.readStream.schema(schema)
        .parquet(source_dir)
        .writeStream.foreachBatch(on_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )

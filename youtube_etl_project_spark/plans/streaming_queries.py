"""Streaming queries under the ORACLE gate: the windowed rollup runs
through a real Structured Streaming drain (file source → window agg →
memory sink, Trigger.AvailableNow) and must hash-match the batch SQL
twin — batch/stream parity proven by the same machinery that checks
every batch operator, not just by pytest.

The memory sink holds only the aggregated frame (hours × event types —
model-sized); at production scale the same plan would write to a
parquet or Delta sink with the same trigger, and the memory sink
remains the test harness.
"""

from __future__ import annotations

import contextlib
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, TimestampNTZType

from youtube_etl_project_spark.registry import register
from youtube_etl_project_spark.sources import load_table


@contextlib.contextmanager
def _drain_state_partitions(spark: SparkSession, n: int = 4):
    """Bounded parity drains run 1-2 micro-batches over fixture-sized
    streams, but streaming state partitioning is fixed at query start
    from spark.sql.shuffle.partitions and EVERY state partition pays
    per-batch store init/commit overhead (measured on the interval-join
    drain: 20.7 s at 32 partitions vs 11.4 s at 4, identical results —
    the oracle gate confirms). Production sizes this to the stream's
    real key cardinality; the parity drains size it to the fixture.
    Restores the session conf in finally, so the caller's session (the
    driver's own, possibly) is never left mutated."""
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        spark.conf.set("spark.sql.shuffle.partitions", str(n))
        yield
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)


def _events_stream(spark: SparkSession, sf_dir: str):
    """Streaming source over the events table, layout-aware: a
    directory-shaped table (part files under events.parquet/) streams
    directly; a single-file table streams its parent with a glob filter
    (a glob on the parent would silently match ZERO part files in the
    directory case — measured: the scale-probe replicas read 0 rows).
    Applies the same nanos normalization as the batch catalog."""
    import os

    path = os.path.join(sf_dir, "events.parquet")
    raw = spark.read.parquet(path)
    if os.path.isdir(path):
        src = spark.readStream.schema(raw.schema).parquet(path)
    else:
        src = (
            spark.readStream.schema(raw.schema)
            .option("pathGlobFilter", "events.parquet")
            .parquet(sf_dir)
        )
    if isinstance(src.schema["ts"].dataType, LongType):
        src = src.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    elif isinstance(src.schema["ts"].dataType, TimestampNTZType):
        src = src.withColumn("ts", F.col("ts").cast("timestamp"))
    return src


@register(
    "streaming_tumbling_parity",
    oracle="""
        SELECT CAST(FLOOR(EPOCH(ts)/3600) AS BIGINT)*3600 AS window_start,
               event_type,
               COUNT(*) AS n_events,
               CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE)
                   AS sum_value
        FROM events
        GROUP BY 1, 2
    """,
    doc="T1/X6 through a REAL stream: the events table is consumed by a "
        "Structured Streaming file source (pathGlobFilter on the same "
        "parquet, same nanos normalization as the batch catalog), "
        "aggregated with the tumbling 1h window in complete mode, "
        "drained with Trigger.AvailableNow into a memory sink, and the "
        "drained result is what the oracle hashes against the batch SQL "
        "twin (events_tumbling_window's oracle verbatim). Exactly-once "
        "file-source semantics make the drain deterministic; decimal "
        "sums keep the values engine-exact",
)
def streaming_tumbling_parity(spark: SparkSession, sf_dir: str) -> DataFrame:
    # pins session confs (UTC, nanosAsLong) exactly like every batch query
    load_table(spark, sf_dir, "events")
    src = _events_stream(spark, sf_dir)

    agg = (
        src.groupBy(F.window("ts", "1 hour"), "event_type")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,6)"))
            .cast("double")
            .alias("sum_value"),
        )
        .select(
            F.unix_timestamp(F.col("window.start")).cast("long").alias(
                "window_start"
            ),
            "event_type",
            "n_events",
            "sum_value",
        )
    )
    name = "stp_" + uuid.uuid4().hex[:12]
    with _drain_state_partitions(spark):
        q = (
            agg.writeStream.format("memory")
            .queryName(name)
            .outputMode("complete")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    return spark.table(name)


@register(
    "streaming_session_parity",
    oracle="""
        WITH flagged AS (
            SELECT user_id, ts,
                   CASE WHEN ts - LAG(ts) OVER (PARTITION BY user_id ORDER BY ts)
                             < INTERVAL 30 MINUTE
                        THEN 0 ELSE 1 END AS new_s
            FROM events
        ), sess AS (
            SELECT user_id, ts,
                   SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts
                                    ROWS UNBOUNDED PRECEDING) AS sid
            FROM flagged
        )
        SELECT user_id,
               CAST(FLOOR(EPOCH(MIN(ts))) AS BIGINT) AS session_start,
               COUNT(*) AS n_events
        FROM sess
        GROUP BY user_id, sid
    """,
    doc="X6 sessionization through the STATEFUL streaming path: "
        "F.session_window (30min gap) over the streaming file source — "
        "the session-merge state machine, not a stateless projection — "
        "drained with AvailableNow and hash-matched against the batch "
        "gaps-and-islands oracle (events_session_window's verbatim). "
        "Proves streaming session state converges to exactly the batch "
        "answer on a bounded drain",
)
def streaming_session_parity(spark: SparkSession, sf_dir: str) -> DataFrame:
    load_table(spark, sf_dir, "events")
    src = _events_stream(spark, sf_dir)

    agg = (
        src.groupBy(
            F.session_window("ts", "30 minutes"), F.col("user_id")
        )
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            "user_id",
            F.unix_timestamp(F.col("session_window.start"))
            .cast("long")
            .alias("session_start"),
            "n_events",
        )
    )
    name = "ssp_" + uuid.uuid4().hex[:12]
    with _drain_state_partitions(spark):
        q = (
            agg.writeStream.format("memory")
            .queryName(name)
            .outputMode("complete")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    return spark.table(name)


def _streaming_dedup_oracle() -> str:
    from youtube_etl_project_spark.plans.dedup_queries import (
        MD5_LSH_PAIRS_CTES,
    )

    return f"""
        WITH {MD5_LSH_PAIRS_CTES},
        bflag AS (
            SELECT doc_id,
                   substr(md5(doc_id::VARCHAR), 1, 1) < '8' AS in_b1
            FROM documents
        ),
        p11 AS (
            SELECT m.id_a, m.id_b FROM mpairs m
            JOIN bflag a ON a.doc_id = m.id_a
            JOIN bflag c ON c.doc_id = m.id_b
            WHERE a.in_b1 AND c.in_b1
        ),
        d1 AS (SELECT DISTINCT GREATEST(id_a, id_b) AS doc_id FROM p11),
        s1 AS (
            SELECT doc_id FROM bflag WHERE in_b1
              AND doc_id NOT IN (SELECT doc_id FROM d1)
        ),
        p2c AS (
            SELECT CASE WHEN a.in_b1 THEN m.id_b ELSE m.id_a END AS b2doc
            FROM mpairs m
            JOIN bflag a ON a.doc_id = m.id_a
            JOIN bflag c ON c.doc_id = m.id_b
            WHERE a.in_b1 <> c.in_b1
              AND (CASE WHEN a.in_b1 THEN m.id_a ELSE m.id_b END)
                  IN (SELECT doc_id FROM s1)
        ),
        p22 AS (
            SELECT m.id_a, m.id_b FROM mpairs m
            JOIN bflag a ON a.doc_id = m.id_a
            JOIN bflag c ON c.doc_id = m.id_b
            WHERE NOT a.in_b1 AND NOT c.in_b1
        ),
        d2 AS (
            SELECT DISTINCT doc_id FROM (
                SELECT b2doc AS doc_id FROM p2c
                UNION SELECT GREATEST(id_a, id_b) FROM p22
            )
        ),
        kept AS (
            SELECT doc_id FROM s1
            UNION ALL
            SELECT doc_id FROM bflag WHERE NOT in_b1
              AND doc_id NOT IN (SELECT doc_id FROM d2)
        )
        SELECT d.doc_id,
               CAST(CASE WHEN k.doc_id IS NOT NULL THEN 1 ELSE 0 END
                    AS BIGINT) AS is_kept
        FROM documents d LEFT JOIN kept k ON k.doc_id = d.doc_id
    """


@register(
    "streaming_dedup_parity",
    oracle=_streaming_dedup_oracle(),
    doc="X2/T2 through a REAL stream, under the oracle gate: documents "
        "arrive as two deterministic micro-batches (md5 50/50 split, "
        "mtime-ordered files, maxFilesPerTrigger=1) into a foreachBatch "
        "incremental-dedup loop — each batch runs the md5-domain "
        "incremental LSH (dedup.incremental_minhash_pairs_md5) against "
        "the survivors accumulated so far, drops duplicates "
        "(batch-vs-corpus pairs drop the batch doc; within-batch pairs "
        "drop the larger id), and appends survivors. The DuckDB twin "
        "replays the same two-step process declaratively over the full "
        "pipeline's pair set, so the sequential streaming answer is "
        "hash-checked, not just pytest-pinned. Cost per batch is "
        "O(|batch| + touched buckets), the corpus never self-joins — "
        "the operational 'a day of crawl arrived' loop as a verified "
        "query",
)
def streaming_dedup_parity(spark: SparkSession, sf_dir: str) -> DataFrame:
    import glob as globmod
    import os
    import shutil
    import tempfile
    import time

    from youtube_etl_project_spark.operators import dedup

    docs = load_table(spark, sf_dir, "documents")
    base = docs.select("doc_id", "text")
    flag = (
        F.substring(
            F.md5(F.col("doc_id").cast("string").cast("binary")), 1, 1
        )
        < "8"
    )
    tmp = tempfile.mkdtemp(prefix="sdp_")
    src = os.path.join(tmp, "in")
    os.makedirs(src)

    def _one_file(df: DataFrame, name: str, mtime: float) -> None:
        stage = os.path.join(tmp, name + "_stage")
        # repartition(1), not coalesce(1): coalesce collapses the WHOLE
        # upstream scan+filter onto one task (measured 20 s staging at
        # sf0.1); the shuffle keeps it parallel and only the write is
        # single-file
        df.repartition(1).write.mode("overwrite").parquet(stage)
        part = globmod.glob(os.path.join(stage, "part-*.parquet"))[0]
        dest = os.path.join(src, name + ".parquet")
        shutil.move(part, dest)
        shutil.rmtree(stage)
        os.utime(dest, (mtime, mtime))

    now = time.time()
    _one_file(base.filter(flag), "b1", now - 120)
    _one_file(base.filter(~flag), "b2", now - 60)

    surv_path = os.path.join(tmp, "survivors")

    def on_batch(batch: DataFrame, batch_id: int) -> None:
        if batch.isEmpty():
            return
        s = batch.sparkSession
        batch = batch.localCheckpoint(eager=True)
        try:
            corpus = s.read.parquet(surv_path)
        except Exception:
            corpus = batch.limit(0)
        pairs = dedup.incremental_minhash_pairs_md5(
            corpus, batch, "doc_id", "text",
            n_hashes=16, n_bands=4, threshold=0.5,
        )
        dup = dedup.batch_duplicate_ids(pairs, batch.select("doc_id"))
        fresh = batch.join(dup, "doc_id", "left_anti")
        fresh.write.mode("append").parquet(surv_path)

    with _drain_state_partitions(spark):
        q = (
            spark.readStream.schema(base.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
            .writeStream.foreachBatch(on_batch)
            .option("checkpointLocation", os.path.join(tmp, "ck"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    surv = spark.read.parquet(surv_path).select(
        "doc_id", F.lit(1).alias("__k")
    )
    return docs.select("doc_id").join(surv, "doc_id", "left").select(
        "doc_id", F.coalesce("__k", F.lit(0)).cast("long").alias("is_kept")
    )


@register(
    "streaming_dropdup_parity",
    oracle="""
        SELECT event_type,
               COUNT(*) AS n_events,
               CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE)
                   AS sum_value
        FROM events
        GROUP BY 1
    """,
    doc="T2/X1 through the STATEFUL streaming dedup operator: the events "
        "stream is unioned with itself (every row arrives twice), "
        "watermarked, and deduplicated with dropDuplicatesWithinWatermark "
        "on event_id — the state-bounded production form (per-key state "
        "is dropped once the watermark passes, so state never grows with "
        "the corpus, unlike plain streaming dropDuplicates). The "
        "append-mode drain lands in a memory sink and is batch-aggregated "
        "per event type; the oracle is the plain batch aggregate over the "
        "ORIGINAL table — exact parity proves the doubled rows were all "
        "eliminated by streaming state, under the same hash gate as "
        "every batch operator",
)
def streaming_dropdup_parity(spark: SparkSession, sf_dir: str) -> DataFrame:
    load_table(spark, sf_dir, "events")
    doubled = _events_stream(spark, sf_dir).unionByName(
        _events_stream(spark, sf_dir)
    )
    dd = doubled.withWatermark("ts", "1 hour").dropDuplicatesWithinWatermark(
        ["event_id"]
    )
    name = "sdd_" + uuid.uuid4().hex[:12]
    with _drain_state_partitions(spark):
        q = (
            dd.writeStream.format("memory")
            .queryName(name)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    return (
        spark.table(name)
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,6)"))
            .cast("double")
            .alias("sum_value"),
        )
    )


@register(
    "streaming_static_join_parity",
    oracle="""
        SELECT CAST(FLOOR(EPOCH(e.ts)/3600) AS BIGINT)*3600
                   AS window_start,
               c.c_mktsegment AS mktsegment,
               COUNT(*) AS n_events,
               CAST(SUM(CAST(e.value AS DECIMAL(18,6))) AS DOUBLE)
                   AS sum_value
        FROM events e JOIN customer c ON c.c_custkey = e.user_id
        GROUP BY 1, 2
    """,
    doc="T1/J1 through a REAL stream: the canonical streaming enrichment "
        "pattern — a stream-STATIC join, the stateless join mode the "
        "stream-stream matrix (inner/left_outer/full_outer) does not "
        "cover. The events file stream joins the broadcast customer "
        "dimension per micro-batch (no watermark, no join state — the "
        "dim is re-read/broadcast each trigger, which is exactly how a "
        "slowly-changing dimension stays current in production), then "
        "rolls up a tumbling 1h window per market segment in complete "
        "mode and drains with AvailableNow. Hash-matched against the "
        "plain batch join+aggregate twin; decimal sums keep the values "
        "engine-exact. At 100 TB the dim broadcast is model-sized and "
        "the only shuffle is the windowed rollup",
)
def streaming_static_join_parity(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    load_table(spark, sf_dir, "events")
    dim = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("user_id"), "c_mktsegment"
    )
    src = _events_stream(spark, sf_dir)

    agg = (
        src.join(F.broadcast(dim), "user_id")
        .groupBy(F.window("ts", "1 hour"), "c_mktsegment")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,6)"))
            .cast("double")
            .alias("sum_value"),
        )
        .select(
            F.unix_timestamp(F.col("window.start"))
            .cast("long")
            .alias("window_start"),
            F.col("c_mktsegment").alias("mktsegment"),
            "n_events",
            "sum_value",
        )
    )
    name = "ssj_" + uuid.uuid4().hex[:12]
    with _drain_state_partitions(spark):
        q = (
            agg.writeStream.format("memory")
            .queryName(name)
            .outputMode("complete")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    return spark.table(name)


@register(
    "streaming_outer_join_parity",
    oracle="""
        SELECT v.user_id,
               CAST(FLOOR(EPOCH(v.ts)) AS BIGINT) AS left_ts,
               CAST(FLOOR(EPOCH(c.ts)) AS BIGINT) AS right_ts
        FROM (SELECT user_id, ts FROM events WHERE event_type = 'view') v
        LEFT JOIN (SELECT user_id, ts FROM events
                   WHERE event_type = 'click') c
          ON c.user_id = v.user_id AND c.ts >= v.ts
         AND c.ts <= v.ts + INTERVAL 30 MINUTE
    """,
    doc="X6/T2 stream-stream LEFT OUTER interval join under the oracle "
        "gate (VERDICT r4 #8): views and clicks arrive as two watermarked "
        "file streams, joined view→click-within-30min with left_outer — "
        "the state-eviction mode: an unmatched view emits exactly once "
        "with NULL right_ts when the watermark closes its window. A "
        "far-future flush sentinel rides each stream as a second "
        "micro-batch (maxFilesPerTrigger=1) so the final watermark "
        "passes every real window and the drained append-mode result "
        "equals batch LEFT JOIN semantics — hash-matched against the "
        "plain DuckDB outer join. Completes the streaming join matrix "
        "(inner interval joins were covered; outer's null path was the "
        "one untested eviction mode)",
)
def streaming_outer_join_parity(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _interval_join_parity(spark, sf_dir, how="left_outer")


@register(
    "streaming_full_outer_join_parity",
    oracle="""
        SELECT COALESCE(v.user_id, c.user_id) AS user_id,
               CAST(FLOOR(EPOCH(v.ts)) AS BIGINT) AS left_ts,
               CAST(FLOOR(EPOCH(c.ts)) AS BIGINT) AS right_ts
        FROM (SELECT user_id, ts FROM events WHERE event_type = 'view') v
        FULL JOIN (SELECT user_id, ts FROM events
                   WHERE event_type = 'click') c
          ON c.user_id = v.user_id AND c.ts >= v.ts
         AND c.ts <= v.ts + INTERVAL 30 MINUTE
    """,
    doc="X6/T2 stream-stream FULL OUTER interval join under the oracle "
        "gate — the both-directions state-eviction mode that completes "
        "the streaming join matrix (inner / left_outer / full_outer): an "
        "unmatched view emits (NULL right_ts) when the watermark closes "
        "its forward window, and an unmatched click ALSO emits (NULL "
        "left_ts) when the watermark passes the trailing window a "
        "partner view could still have arrived in. Same flush-sentinel "
        "bounded drain as the left-outer twin; hash-matched against the "
        "plain DuckDB FULL JOIN with the key coalesced across sides",
)
def streaming_full_outer_join_parity(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    return _interval_join_parity(spark, sf_dir, how="full_outer")


@register(
    "streaming_semi_join_parity",
    oracle="""
        SELECT v.user_id,
               CAST(FLOOR(EPOCH(v.ts)) AS BIGINT) AS left_ts
        FROM (SELECT user_id, ts FROM events WHERE event_type = 'view') v
        WHERE EXISTS (
            SELECT 1 FROM events c
            WHERE c.event_type = 'click' AND c.user_id = v.user_id
              AND c.ts >= v.ts AND c.ts <= v.ts + INTERVAL 30 MINUTE
        )
    """,
    doc="X6/T2 stream-stream LEFT SEMI interval join under the oracle "
        "gate — the existence-filter mode that completes the streaming "
        "join matrix (inner / left_outer / full_outer / left_semi): a "
        "view emits exactly once iff at least one click lands in its "
        "30-minute window, no right columns, no duplicate emits on "
        "multi-match — and the row is only released when the watermark "
        "CLOSES the window (earlier emission could not dedup a later "
        "partner), so the same flush-sentinel bounded drain applies. "
        "Hash-matched against the DuckDB EXISTS twin. The streaming "
        "form of 'users who converted' — the attribution prefilter run "
        "before joining heavy payload columns",
)
def streaming_semi_join_parity(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    return _interval_join_parity(spark, sf_dir, how="left_semi")


# The three interval-join parities (left_outer / full_outer / left_semi)
# consume IDENTICAL staged inputs — the mode lives in the join plan, not
# the files — so staging (4 single-file writes + the flush-sentinel max
# scan, measured ~8-11 s at sf0.1 vs 3-6 s for the drain itself) runs
# once per fixture dir and is shared across the family (VERDICT r6 #6).
_STAGED_INTERVAL_INPUTS: dict[str, tuple[str, str]] = {}


def _interval_join_parity(
    spark: SparkSession, sf_dir: str, how: str
) -> DataFrame:
    from youtube_etl_project_spark.streaming.pipeline import (
        interval_joined_streams,
    )

    ev = load_table(spark, sf_dir, "events")
    views_schema = ev.select("user_id", "ts").schema
    cached = _STAGED_INTERVAL_INPUTS.get(sf_dir)
    if cached is None:
        cached = _stage_interval_inputs(spark, sf_dir)
        _STAGED_INTERVAL_INPUTS[sf_dir] = cached
    v_dir, c_dir = cached
    sv = (
        spark.readStream.schema(views_schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(v_dir)
    )
    sc_ = (
        spark.readStream.schema(views_schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(c_dir)
    )
    joined = interval_joined_streams(
        sv, sc_, "user_id", "ts", "30 minutes", "1 hour", how=how
    )
    name = "soj_" + uuid.uuid4().hex[:12]
    # 2 state partitions: the bounded drain's fixture-sized key space —
    # measured 5.7 s at 4 vs 3.2 s at 2, identical results (production
    # sizes this to the stream's real key cardinality)
    with _drain_state_partitions(spark, 2):
        q = (
            joined.writeStream.format("memory")
            .queryName(name)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    return spark.table(name).filter(F.col("user_id") != -999)


def _stage_interval_inputs(
    spark: SparkSession, sf_dir: str
) -> tuple[str, str]:
    import datetime
    import glob as globmod
    import os
    import shutil
    import tempfile
    import time

    ev = load_table(spark, sf_dir, "events")
    views = ev.filter(F.col("event_type") == "view").select("user_id", "ts")
    clicks = ev.filter(F.col("event_type") == "click").select(
        "user_id", "ts"
    )
    flush = ev.agg(F.max("ts").alias("m")).first()["m"] + datetime.timedelta(
        hours=10
    )
    tmp = tempfile.mkdtemp(prefix="soj_")

    def stage(df: DataFrame, name: str) -> str:
        src = os.path.join(tmp, name)
        os.makedirs(src)
        now = time.time()
        sentinel = spark.createDataFrame([(-999, flush)], df.schema)
        for part_df, fname, mtime in (
            (df, "data", now - 120),
            (sentinel, "flush", now - 60),
        ):
            stage_dir = os.path.join(tmp, f"{name}_{fname}_stage")
            part_df.repartition(1).write.mode("overwrite").parquet(
                stage_dir
            )
            part = globmod.glob(os.path.join(stage_dir, "part-*.parquet"))[0]
            dest = os.path.join(src, fname + ".parquet")
            shutil.move(part, dest)
            shutil.rmtree(stage_dir)
            os.utime(dest, (mtime, mtime))
        return src

    return stage(views, "views"), stage(clicks, "clicks")


@register(
    "streaming_stateful_totals_parity",
    oracle="""
        SELECT user_id,
               CAST(COUNT(*) AS BIGINT) AS n_events,
               CAST(SUM(CAST(FLOOR(value * 100 + 0.5) AS BIGINT))
                    AS BIGINT) AS total_cents
        FROM events GROUP BY user_id
    """,
    doc="X6/T1 CUSTOM stateful operator under the oracle gate: "
        "applyInPandasWithState (the escape hatch for semantics Spark's "
        "built-in streaming aggregates can't express — custom "
        "sessionization, CDC folding, online feature accumulation) "
        "drains a two-micro-batch event stream through per-user "
        "(count, sum) GroupState and the FINAL state per user — the "
        "emission with the largest n_events, via max_by — hash-matches "
        "the plain batch GROUP BY. Exactness comes from the integer "
        "grid: value snaps to cents JVM-side BEFORE the stateful op, so "
        "state accumulation is order-independent bigint arithmetic (a "
        "float accumulator's pandas pairwise-summation order is not "
        "reproducible in ANSI SQL — that flagship stays pytest-pinned). "
        "State is per-key and partitioned — horizontal scale at 100 TB "
        "with GroupState timeouts bounding idle keys",
)
def streaming_stateful_totals_parity(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    import glob as globmod
    import os
    import shutil
    import tempfile
    import time

    from youtube_etl_project_spark.streaming.stateful import (
        running_user_totals_grid,
    )

    ev = load_table(spark, sf_dir, "events").select(
        "user_id",
        F.floor(F.col("value") * 100 + F.lit(0.5))
        .cast("long")
        .alias("value_cents"),
        "event_id",
    )
    tmp = tempfile.mkdtemp(prefix="sst_")
    src = os.path.join(tmp, "src")
    os.makedirs(src)
    now = time.time()
    # two micro-batches (maxFilesPerTrigger=1) so the parity actually
    # exercises state carried ACROSS batches, not one-shot aggregation
    for i, half in enumerate(
        (F.col("event_id") % 2 == 0, F.col("event_id") % 2 == 1)
    ):
        stage_dir = os.path.join(tmp, f"stage_{i}")
        ev.filter(half).drop("event_id").repartition(1).write.mode(
            "overwrite"
        ).parquet(stage_dir)
        part = globmod.glob(os.path.join(stage_dir, "part-*.parquet"))[0]
        dest = os.path.join(src, f"batch_{i}.parquet")
        shutil.move(part, dest)
        shutil.rmtree(stage_dir)
        os.utime(dest, (now - 120 + 60 * i, now - 120 + 60 * i))

    stream = (
        spark.readStream.schema("user_id long, value_cents long")
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    name = "sst_" + uuid.uuid4().hex[:12]
    with _drain_state_partitions(spark):
        q = (
            running_user_totals_grid(stream)
            .writeStream.format("memory")
            .queryName(name)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    # the memory sink is driver-resident after the drain — the staged
    # source files are no longer referenced and can go
    shutil.rmtree(tmp, ignore_errors=True)
    emitted = spark.table(name)
    # final state per user = the emission with the largest n_events
    # (n strictly increases per touched user; totals need max_by since
    # negative values make them non-monotone)
    final = emitted.groupBy("user_id").agg(
        F.max("n_events").cast("long").alias("n_events"),
        F.expr("max_by(total_cents, n_events)")
        .cast("long")
        .alias("total_cents"),
    )
    return final

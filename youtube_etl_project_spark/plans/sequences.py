"""Wave 8: ordered-event-sequence analytics (conversion funnel) and the
full ranking-function family — the remaining ANSI window surface."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from youtube_etl_project_spark.registry import register
from youtube_etl_project_spark.sources import load_table


@register(
    "funnel_conversion",
    oracle="""
        WITH v AS (
            SELECT user_id, MIN(ts) AS t FROM events
            WHERE event_type = 'view' GROUP BY 1
        ), c AS (
            SELECT e.user_id, MIN(e.ts) AS t
            FROM events e JOIN v ON e.user_id = v.user_id AND e.ts > v.t
            WHERE e.event_type = 'click' GROUP BY 1
        ), p AS (
            SELECT e.user_id, MIN(e.ts) AS t
            FROM events e JOIN c ON e.user_id = c.user_id AND e.ts > c.t
            WHERE e.event_type = 'purchase' GROUP BY 1
        )
        SELECT (SELECT COUNT(*) FROM v) AS n_view,
               (SELECT COUNT(*) FROM c) AS n_click,
               (SELECT COUNT(*) FROM p) AS n_purchase
    """,
    doc="Ordered-sequence funnel: users who viewed, then clicked strictly "
        "after their first view, then purchased strictly after that click. "
        "Each stage is a groupBy + re-join on user_id — one key, so every "
        "shuffle lands on the same partitioning and AQE reuses exchanges; "
        "no window over the full event stream needed",
)
def funnel_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")

    def first_after(prev: DataFrame, etype: str) -> DataFrame:
        return (
            ev.filter(F.col("event_type") == etype)
            .join(prev, "user_id")
            .filter(F.col("ts") > F.col("t"))
            .groupBy("user_id")
            .agg(F.min("ts").alias("t2"))
            .withColumnRenamed("t2", "t")
        )

    v = (
        ev.filter(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("ts").alias("t"))
    )
    c = first_after(v, "click")
    p = first_after(c, "purchase")
    return (
        v.agg(F.count(F.lit(1)).alias("n_view"))
        .crossJoin(c.agg(F.count(F.lit(1)).alias("n_click")))
        .crossJoin(p.agg(F.count(F.lit(1)).alias("n_purchase")))
    )


@register(
    "window_rank_family",
    oracle="""
        SELECT event_id, event_type,
               RANK() OVER w AS rnk,
               DENSE_RANK() OVER w AS drnk,
               NTILE(4) OVER w AS quartile,
               ROUND(PERCENT_RANK() OVER w, 6) AS pr,
               ROUND(CUME_DIST() OVER w, 6) AS cd,
               FIRST_VALUE(event_id) OVER w AS first_id,
               LAG(event_id, 2) OVER w AS lag2_id
        FROM events
        WINDOW w AS (PARTITION BY event_type ORDER BY value ASC, event_id ASC)
    """,
    doc="The complete ANSI ranking family in one window spec — rank, "
        "dense_rank, ntile, percent_rank, cume_dist, first_value, offset "
        "lag — sharing a single sort+shuffle (Spark plans one Window "
        "node). Ties broken by event_id so both engines rank identically",
)
def window_rank_family(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("event_type").orderBy(
        F.col("value").asc(), F.col("event_id").asc()
    )
    return ev.select(
        "event_id",
        "event_type",
        F.rank().over(w).alias("rnk"),
        F.dense_rank().over(w).alias("drnk"),
        F.ntile(4).over(w).alias("quartile"),
        F.round(F.percent_rank().over(w), 6).alias("pr"),
        F.round(F.cume_dist().over(w), 6).alias("cd"),
        F.first("event_id").over(w).alias("first_id"),
        F.lag("event_id", 2).over(w).alias("lag2_id"),
    )


_CHUNK = 32  # tokens per training chunk
_STRIDE = 24  # new tokens per step (8-token overlap carries context)


@register(
    "chunk_tokens_stride",
    oracle=f"""
        WITH toks AS (
            SELECT doc_id, string_split(text, ' ') AS t FROM documents
        ), chunks AS (
            SELECT doc_id, s.s AS s,
                   array_to_string(
                       t[1 + s.s * {_STRIDE} :
                         least(s.s * {_STRIDE} + {_CHUNK}, len(t))],
                       ' ') AS chunk
            FROM toks CROSS JOIN LATERAL (
                SELECT unnest(range(0,
                    CAST(ceil(CAST(greatest(len(t) - {_CHUNK}, 0) AS DOUBLE)
                              / {_STRIDE}) AS BIGINT) + 1)) AS s
            ) AS s(s)
        )
        SELECT doc_id,
               CAST(s AS BIGINT) AS chunk_idx,
               CAST(len(string_split(chunk, ' ')) AS BIGINT) AS n_tokens,
               chunk
        FROM chunks
    """,
    doc=f"Pretraining chunker: split each document into {_CHUNK}-token "
        f"windows advancing {_STRIDE} tokens per step (the 8-token overlap "
        "carries context across chunk boundaries — the standard "
        "fixed-context chunking every LLM data pipeline runs before "
        "packing). Chunk starts come from one sequence() per row exploded "
        "to flat columns; the final partial window is kept (trainers pad "
        "or pack it). Chunk count is ceil((len-chunk)/stride)+1 on both "
        "engines",
)
def chunk_tokens_stride(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select("doc_id", F.split("text", " ").alias("t"))
    chunks = toks.select(
        "doc_id",
        F.posexplode(
            F.expr(
                f"transform(sequence(0, cast(ceil(cast(greatest(size(t) - {_CHUNK}, 0) as double) / {_STRIDE}) as bigint)),"
                f" s -> array_join(slice(t, 1 + s * {_STRIDE},"
                f" least(s * {_STRIDE} + {_CHUNK}, size(t)) - s * {_STRIDE}), ' '))"
            )
        ).alias("chunk_idx", "chunk"),
    )
    return chunks.select(
        "doc_id",
        F.col("chunk_idx").cast("long").alias("chunk_idx"),
        F.size(F.split("chunk", " ")).cast("long").alias("n_tokens"),
        "chunk",
    )


@register(
    "corpus_shuffle_hash",
    oracle="""
        SELECT doc_id,
               ROW_NUMBER() OVER (
                   ORDER BY md5('epoch7~' || CAST(doc_id AS VARCHAR)), doc_id
               ) AS shuffle_rank
        FROM documents
    """,
    doc="Seeded global training-order shuffle: rank by md5(seed || id) — "
        "deterministic, reshufflable per epoch by changing the seed, and "
        "identical on any engine (no RNG state). Ranks come from "
        "operators/ranking.global_rank: ONE range-partitioned shuffle on "
        "the hash key, per-partition offsets, partition-local row_number "
        "— no single-partition window anywhere, so any contiguous worker "
        "slice is an unbiased sample AND the rank assignment itself is "
        "distributed. Tiebreak on doc_id guards md5 collisions",
)
def corpus_shuffle_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    from youtube_etl_project_spark.operators.ranking import global_rank

    docs = load_table(spark, sf_dir, "documents")
    key = F.md5(F.concat(F.lit("epoch7~"), F.col("doc_id").cast("string")))
    ranked, _ = global_rank(
        docs.select("doc_id", key.alias("__k")),
        [F.col("__k").asc(), F.col("doc_id").asc()],
        "shuffle_rank",
    )
    return ranked.select("doc_id", "shuffle_rank")


@register(
    "funnel_latency_percentiles",
    oracle="""
        WITH v AS (
            SELECT user_id, MIN(ts) AS t FROM events
            WHERE event_type = 'view' GROUP BY 1
        ), c AS (
            SELECT e.user_id, MIN(e.ts) AS t
            FROM events e JOIN v ON e.user_id = v.user_id AND e.ts > v.t
            WHERE e.event_type = 'click' GROUP BY 1
        ), p AS (
            SELECT e.user_id, MIN(e.ts) AS t
            FROM events e JOIN c ON e.user_id = c.user_id AND e.ts > c.t
            WHERE e.event_type = 'purchase' GROUP BY 1
        ), d1 AS (
            SELECT CAST(epoch_us(c.t) - epoch_us(v.t) AS BIGINT) AS dus
            FROM c JOIN v USING (user_id)
        ), d2 AS (
            SELECT CAST(epoch_us(p.t) - epoch_us(c.t) AS BIGINT) AS dus
            FROM p JOIN c USING (user_id)
        )
        SELECT 'view_to_click' AS step,
               CAST(COUNT(*) AS BIGINT) AS n_converted,
               ROUND(quantile_cont(dus, 0.5) / 1e6, 6) AS p50_s,
               ROUND(quantile_cont(dus, 0.9) / 1e6, 6) AS p90_s
        FROM d1
        UNION ALL
        SELECT 'click_to_purchase',
               CAST(COUNT(*) AS BIGINT),
               ROUND(quantile_cont(dus, 0.5) / 1e6, 6),
               ROUND(quantile_cont(dus, 0.9) / 1e6, 6)
        FROM d2
    """,
    doc="Funnel latency: p50/p90 time-to-convert between adjacent funnel "
        "steps (first view → first later click → first later purchase), "
        "the 'where does the funnel stall' readout. Deltas are exact "
        "microsecond bigints; the percentile interpolation is the same "
        "(1-g)·lo + g·hi on both engines. Reuses the funnel's "
        "single-key shuffle chain — the percentile runs over "
        "converted-user counts, not events",
)
def funnel_latency_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    v = (
        ev.filter(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("ts").alias("t"))
    )

    def first_after(prev: DataFrame, etype: str) -> DataFrame:
        return (
            ev.filter(F.col("event_type") == etype)
            .join(prev.select("user_id", F.col("t")), "user_id")
            .filter(F.col("ts") > F.col("t"))
            .groupBy("user_id")
            .agg(F.min("ts").alias("t2"))
            .withColumnRenamed("t2", "t")
        )

    c = first_after(v, "click")
    p = first_after(c, "purchase")

    def deltas(later: DataFrame, earlier: DataFrame) -> DataFrame:
        return later.select("user_id", F.col("t").alias("tl")).join(
            earlier.select("user_id", F.col("t").alias("te")), "user_id"
        ).select(
            (F.unix_micros("tl") - F.unix_micros("te")).alias("dus")
        )

    def summary(d: DataFrame, label: str) -> DataFrame:
        return d.agg(
            F.lit(label).alias("step"),
            F.count(F.lit(1)).cast("long").alias("n_converted"),
            F.round(F.percentile(F.col("dus"), F.lit(0.5)) / 1e6, 6).alias(
                "p50_s"
            ),
            F.round(F.percentile(F.col("dus"), F.lit(0.9)) / 1e6, 6).alias(
                "p90_s"
            ),
        ).select("step", "n_converted", "p50_s", "p90_s")

    return summary(deltas(c, v), "view_to_click").unionAll(
        summary(deltas(p, c), "click_to_purchase")
    )


@register(
    "user_recent_history",
    oracle="""
        WITH e AS (
            SELECT user_id, event_id, event_type,
                   CAST(FLOOR(value * 1000000 + 0.5) AS BIGINT) AS vmicro,
                   CAST(epoch_us(ts) AS BIGINT) AS us
            FROM events
        ), r AS (
            SELECT user_id, event_id, event_type, vmicro, us,
                   ROW_NUMBER() OVER (PARTITION BY user_id
                       ORDER BY us DESC, event_id DESC) AS rn,
                   COUNT(*) OVER (PARTITION BY user_id) AS n
            FROM e
        )
        SELECT user_id,
               CAST(MIN(n) AS BIGINT) AS n_events,
               string_agg(CAST(us AS VARCHAR), '|' ORDER BY rn) AS hist_us,
               string_agg(event_type, '|' ORDER BY rn) AS hist_types,
               string_agg(CAST(vmicro AS VARCHAR), '|' ORDER BY rn)
                   AS hist_value_micros
        FROM r WHERE rn <= 5
        GROUP BY user_id
    """,
    doc="Feature-store materialization: per user, the last 5 events as "
        "parallel newest-first histories (epoch-µs, type, micro-grid "
        "value) plus the lifetime event count — the 'recent history' "
        "feature block a training pipeline joins onto examples, and the "
        "shape online feature stores serve. Output shape (round 8): the "
        "histories are '|'-delimited STRINGS, not arrays — the driver's "
        "comparator canonicalizes by pandas sort_values over every output "
        "column, and list cells throw `unhashable type: 'list'` (measured "
        "in history/CORRECTNESS_r07.json). The join is lossless: epoch-µs and "
        "micro-grid values are exact bigints rendered as digits, and "
        "event_type never contains the delimiter. Determinism: the "
        "recency order is a total order (ts DESC, event_id DESC) and the "
        "strings are assembled by explicit rank (sort_array over "
        "rank-keyed structs — collect_list alone has NO order guarantee "
        "across retries or partitionings, which would silently shuffle "
        "features between engines and across reruns). Plan: one "
        "properly-partitioned window (user_id), top-5 filter BEFORE the "
        "aggregation so only 5 rows per key reach the collect — at "
        "100 TB the state per key is bounded by the history depth, never "
        "the key's event count",
)
def user_recent_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").select(
        "user_id",
        "event_id",
        "event_type",
        # value snaps to the exact micro grid (FLOOR(x*1e6+0.5), the
        # registry rule) so its digit rendering is engine-independent —
        # raw double→string formatting differs between Spark and DuckDB.
        F.floor(F.col("value") * F.lit(1000000.0) + F.lit(0.5))
        .cast("long")
        .cast("string")
        .alias("vmicro"),
        F.unix_micros("ts").alias("us"),
    )
    w = Window.partitionBy("user_id")
    ranked = ev.select(
        "user_id",
        "event_type",
        "vmicro",
        "us",
        F.col("us").cast("string").alias("us_str"),
        F.row_number()
        .over(w.orderBy(F.col("us").desc(), F.col("event_id").desc()))
        .alias("rn"),
        F.count(F.lit(1)).over(w).cast("long").alias("n"),
    ).filter(F.col("rn") <= 5)

    def ordered(field: str, alias: str):
        return F.array_join(
            F.transform(
                F.sort_array(F.collect_list(F.struct("rn", field))),
                lambda s: s[field],
            ),
            "|",
        ).alias(alias)

    return ranked.groupBy("user_id").agg(
        F.min("n").cast("long").alias("n_events"),
        ordered("us_str", "hist_us"),
        ordered("event_type", "hist_types"),
        ordered("vmicro", "hist_value_micros"),
    )


@register(
    "features_asof_join",
    oracle="""
        WITH e AS (
            SELECT user_id, event_id, event_type, value,
                   CAST(epoch_us(ts) AS BIGINT) AS us
            FROM events
        ), l AS (
            SELECT user_id, event_id, us, value AS purchase_value
            FROM e WHERE event_type = 'purchase'
        ), r0 AS (
            SELECT user_id, us, event_type, value,
                   ROW_NUMBER() OVER (PARTITION BY user_id, us
                                      ORDER BY event_id DESC) AS rn
            FROM e WHERE event_type <> 'purchase'
        ), r AS (
            SELECT user_id, us, event_type AS feat_type,
                   value AS feat_value
            FROM r0 WHERE rn = 1
        )
        SELECT l.user_id, l.event_id, l.us, l.purchase_value,
               r.us AS feat_us, r.feat_type, r.feat_value
        FROM l ASOF LEFT JOIN r
          ON l.user_id = r.user_id AND l.us > r.us
    """,
    doc="Point-in-time-correct feature join under the ORACLE gate "
        "(VERDICT r7 #7 stretch — the training-data-correctness "
        "flagship): every purchase (the example/label row) attaches the "
        "user's most recent STRICTLY-EARLIER non-purchase event (the "
        "feature snapshot) — the as-of join every feature store runs to "
        "avoid label leakage, with DuckDB's native ASOF LEFT JOIN "
        "(l.us > r.us) as the twin. Determinism: the right side is "
        "first deduped to one row per (user, instant) by highest "
        "event_id (without this, equal-timestamp snapshots would make "
        "last(ignorenulls) order-dependent), and strict inequality "
        "means a feature written at the label's own instant is NEVER "
        "visible (tests/test_leakage_split.py pins the semantics on "
        "operators/asof.py). Plan: union-merge as-of (operators/asof) — "
        "tag both streams, ONE shuffle on user_id, carry-forward via a "
        "rows-between window; linear in total rows at 100 TB because no "
        "candidate pairs ever materialize, unlike a band join. Raw "
        "parquet doubles pass through untouched (bit-identical both "
        "engines); timestamps ride the epoch-µs grid",
)
def features_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    from youtube_etl_project_spark.operators.asof import asof_join

    ev = load_table(spark, sf_dir, "events").select(
        "user_id",
        "event_id",
        "event_type",
        "value",
        F.unix_micros("ts").alias("us"),
    )
    left = ev.filter(F.col("event_type") == "purchase").select(
        "user_id",
        "event_id",
        "us",
        F.col("value").alias("purchase_value"),
    )
    wdup = Window.partitionBy("user_id", "us").orderBy(
        F.col("event_id").desc()
    )
    right = (
        ev.filter(F.col("event_type") != "purchase")
        .withColumn("__rn", F.row_number().over(wdup))
        .filter(F.col("__rn") == 1)
        .select(
            "user_id",
            "us",
            F.col("us").alias("feat_us"),
            F.col("event_type").alias("feat_type"),
            F.col("value").alias("feat_value"),
        )
    )
    joined = asof_join(
        left,
        right,
        on="us",
        keys=["user_id"],
        right_value_cols=["feat_us", "feat_type", "feat_value"],
        strict=True,
    )
    return joined.select(
        "user_id",
        "event_id",
        "us",
        "purchase_value",
        F.col("feat_us_asof").alias("feat_us"),
        F.col("feat_type_asof").alias("feat_type"),
        F.col("feat_value_asof").alias("feat_value"),
    )

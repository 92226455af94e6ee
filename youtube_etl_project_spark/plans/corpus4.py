"""Corpus-engineering wave 4: temperature-based source mixing (the
UniMax / multilingual-C4 α-sampling shape) and deterministic per-source
reservoir sampling (exact K-per-group without RNG state).

Cross-engine determinism notes:
* the temperature weight uses α = 0.5 computed as ``sqrt`` — IEEE-754
  square root is correctly rounded on both engines, so the weights are
  bit-identical (a general ``pow(x, α)`` is NOT correctly rounded and
  can differ in the last ulp between libm implementations; α beyond 0.5
  would need the exp/ln decomposition plus an output round).
* weights round to 6 dp BEFORE the normalizing sum, which then runs in
  the decimal domain — a ≤6 dp double casts to DECIMAL(28,6) exactly on
  both engines, making the sum associative and order-independent.
* per-doc acceptance reuses the md5-hex-prefix threshold from
  corpus_source_budget_sample: the compare stays in the hex-string
  domain, deterministic across engines, runs, and partitionings.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from youtube_etl_project_spark.operators import fixture_cache
from youtube_etl_project_spark.operators.checkpointing import pin
from youtube_etl_project_spark.operators.grid import GRID, grid_rows
from youtube_etl_project_spark.registry import cnt, register
from youtube_etl_project_spark.sources import load_table


@register(
    "corpus_temperature_mix",
    oracle="""
        WITH stats AS (
            SELECT source, CAST(SUM(n_chars) AS BIGINT) AS chars_src
            FROM documents GROUP BY source
        ), w AS (
            SELECT source, chars_src,
                   ROUND(sqrt(CAST(chars_src AS DOUBLE)), 6) AS w6
            FROM stats
        ), tot AS (
            SELECT CAST(SUM(CAST(w6 AS DECIMAL(28,6))) AS DOUBLE) AS wsum,
                   CAST(SUM(chars_src) AS BIGINT) AS chars_all
            FROM w
        ), rated AS (
            SELECT source, chars_src,
                   LEAST(1.0, ((w6 / wsum) * (chars_all / 2.0)) / chars_src)
                       AS rate
            FROM w, tot
        ), flagged AS (
            SELECT d.source, d.n_chars, r.rate,
                   (r.rate >= 1.0
                    OR substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 8)
                       < printf('%08x',
                                CAST(FLOOR(r.rate * 4294967296.0) AS BIGINT)))
                       AS keep
            FROM documents d JOIN rated r USING (source)
        )
        SELECT source,
               CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(SUM(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_kept,
               CAST(SUM(CASE WHEN keep THEN n_chars ELSE 0 END) AS BIGINT)
                   AS chars_kept,
               ROUND(MIN(rate), 6) AS keep_rate
        FROM flagged GROUP BY source
    """,
    doc="Temperature-based data mixing (the UniMax / mC4 α-sampling "
        "shape): each source's share of a half-corpus character budget is "
        "∝ chars^α with α = 0.5, flattening the source distribution — "
        "big sources downsample hard, small sources survive nearly whole "
        "— instead of corpus_source_budget_sample's fully-equal budgets. "
        "α = 0.5 is computed as sqrt (IEEE-correctly-rounded on both "
        "engines, unlike pow); weights round to 6 dp before the decimal-"
        "domain normalizing sum so the ratio is order-independent. "
        "Per-doc acceptance is the stateless md5-hex threshold — map-side "
        "after a broadcast of the model-sized rate table, so the plan is "
        "two keyed aggregates and zero extra shuffles at any scale",
)
def corpus_temperature_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    stats = docs.groupBy("source").agg(
        F.sum("n_chars").cast("long").alias("chars_src")
    )
    w = stats.select(
        "source",
        "chars_src",
        F.round(F.sqrt(F.col("chars_src").cast("double")), 6).alias("w6"),
    )
    tot = w.agg(
        F.sum(F.col("w6").cast("decimal(28,6)")).cast("double").alias("wsum"),
        F.sum("chars_src").cast("long").alias("chars_all"),
    )
    rated = w.join(F.broadcast(tot)).select(
        "source",
        "chars_src",
        F.least(
            F.lit(1.0),
            (F.col("w6") / F.col("wsum"))
            * (F.col("chars_all") / F.lit(2.0))
            / F.col("chars_src"),
        ).alias("rate"),
    )
    thr_hex = F.format_string(
        "%08x", F.floor(F.col("rate") * F.lit(4294967296.0)).cast("long")
    )
    keep = (F.col("rate") >= 1.0) | (
        F.substring(
            F.md5(F.col("doc_id").cast("string").cast("binary")), 1, 8
        )
        < thr_hex
    )
    return (
        docs.join(F.broadcast(rated), "source")
        .withColumn("keep", keep)
        .groupBy("source")
        .agg(
            cnt("n_docs"),
            F.sum(F.when(F.col("keep"), 1).otherwise(0))
            .cast("long")
            .alias("n_kept"),
            F.sum(F.when(F.col("keep"), F.col("n_chars")).otherwise(0))
            .cast("long")
            .alias("chars_kept"),
            F.round(F.min("rate"), 6).alias("keep_rate"),
        )
    )


@register(
    "text_bigram_logprob",
    oracle="""
        WITH toks AS (
            SELECT doc_id,
                   list_filter(string_split(lower(text), ' '),
                               x -> x <> '') AS t
            FROM documents
        ), vocab AS (
            SELECT CAST(COUNT(DISTINCT tok) AS BIGINT) AS v
            FROM (SELECT unnest(t) AS tok FROM toks)
        ), big AS (
            SELECT doc_id, s['w1'] AS w1, s['w2'] AS w2
            FROM (
                SELECT doc_id,
                       unnest(list_transform(range(1, len(t)),
                           i -> {'w1': t[i], 'w2': t[i+1]})) AS s
                FROM toks WHERE len(t) >= 2
            )
        ), bgc AS (
            SELECT w1, w2, CAST(COUNT(*) AS BIGINT) AS cbg
            FROM big GROUP BY 1, 2
        ), ctx AS (
            SELECT w1, CAST(SUM(cbg) AS BIGINT) AS cctx FROM bgc GROUP BY 1
        ), scored AS (
            SELECT w1, w2,
                   CAST(ROUND(LN(cbg + 1.0), 6) AS DECIMAL(18,6))
                 - CAST(ROUND(LN(CAST(cctx + v AS DOUBLE)), 6)
                        AS DECIMAL(18,6)) AS lnp
            FROM bgc JOIN ctx USING (w1), vocab
        )
        SELECT doc_id,
               CAST(COUNT(*) AS BIGINT) AS n_bigrams,
               FLOOR(CAST(SUM(lnp) AS DOUBLE) / COUNT(*) * 10000.0 + 0.5)
                   / 10000.0 AS avg_logprob
        FROM big JOIN scored USING (w1, w2)
        GROUP BY doc_id
    """,
    doc="Bigram-LM document scoring (the CCNet/KenLM quality-filter "
        "shape, one model order up from text_unigram_surprisal): mean "
        "ln P(w_i | w_{i-1}) per document under an add-1-smoothed bigram "
        "model trained on the corpus itself — fluent text scores high, "
        "shuffled/TEMPLATE text scores low. Plan: one bigram explode, two "
        "shuffle aggregates build the model (bigram + context counts, "
        "vocab size rides as a broadcast scalar), per-bigram log-probs "
        "join back through the hot/cold frequency split so the Zipf head "
        "of bigrams never pins a reducer. Cross-engine: each ln rounds to "
        "6 dp before the exact decimal-domain subtraction and per-doc "
        "sum, so partial-aggregation order cannot diverge; the final mean "
        "rounds via floor(x*1e4+0.5) — floor is exact on both engines, "
        "while round()'s half-mode on computed doubles is not (measured: "
        "one sf0.1 doc at exactly -3.38865 split the engines)",
)
def text_bigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    from youtube_etl_project_spark.functions.text import tokens
    from youtube_etl_project_spark.operators.skew import hot_cold_split_join

    docs = load_table(spark, sf_dir, "documents")
    t = tokens(F.lower(F.col("text")))
    tok = docs.select("doc_id", F.explode(t).alias("tok"))
    vocab = tok.agg(F.countDistinct("tok").cast("long").alias("v"))
    bg_structs = F.transform(
        F.sequence(F.lit(1), F.size(t) - 1),
        lambda i: F.struct(
            F.element_at(t, i).alias("w1"),
            F.element_at(t, i + 1).alias("w2"),
        ),
    )
    big = (
        docs.filter(F.size(t) >= 2)
        .select("doc_id", F.explode(bg_structs).alias("b"))
        .select(
            "doc_id",
            F.concat_ws(" ", F.col("b.w1"), F.col("b.w2")).alias("bg"),
        )
    )
    bgc = (
        big.groupBy("bg")
        .agg(F.count(F.lit(1)).cast("long").alias("cbg"))
        .withColumn("w1", F.split(F.col("bg"), " ", 2).getItem(0))
    )
    ctx = bgc.groupBy("w1").agg(F.sum("cbg").cast("long").alias("cctx"))
    lnp = (
        F.round(F.log(F.col("cbg") + F.lit(1.0)), 6).cast("decimal(18,6)")
        - F.round(
            F.log((F.col("cctx") + F.col("v")).cast("double")), 6
        ).cast("decimal(18,6)")
    )
    scored = (
        bgc.join(ctx, "w1")
        .join(F.broadcast(vocab))
        .select("bg", "cbg", lnp.alias("lnp"))
    )
    return (
        hot_cold_split_join(big, scored, key="bg", weight="cbg")
        .groupBy("doc_id")
        .agg(
            cnt("n_bigrams"),
            (
                F.floor(
                    F.sum("lnp").cast("double")
                    / F.count(F.lit(1))
                    * F.lit(10000.0)
                    + F.lit(0.5)
                )
                / F.lit(10000.0)
            ).alias("avg_logprob"),
        )
    )


@register(
    "corpus_reservoir_sample",
    oracle="""
        WITH ranked AS (
            SELECT doc_id, source,
                   ROW_NUMBER() OVER (
                       PARTITION BY source
                       ORDER BY substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)
                                    ASC,
                                doc_id ASC
                   ) AS rn
            FROM documents
        )
        SELECT source, doc_id, CAST(rn AS BIGINT) AS rn
        FROM ranked WHERE rn <= 50
    """,
    doc="Deterministic reservoir sampling: an exact uniform-without-"
        "replacement K=50 sample per source, selected by md5-hash order "
        "with a doc_id tiebreak — reproducible across runs, partitionings, "
        "and engines (no RNG state, no seed plumbed to executors), the "
        "eval-holdout / debugging-sample primitive. Plan: one row_number "
        "window per source; at 100 TB with few huge sources, pre-thin "
        "each partition to its local top-K by hash first (rank is "
        "monotone in the hash) or use the rate-based samplers — the "
        "window form is the exact declarative baseline",
)
def corpus_reservoir_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    h = F.substring(
        F.md5(F.col("doc_id").cast("string").cast("binary")), 1, 8
    )
    w = Window.partitionBy("source").orderBy(
        h.asc(), F.col("doc_id").asc()
    )
    return (
        docs.select("source", "doc_id", F.row_number().over(w).alias("rn"))
        .filter(F.col("rn") <= 50)
        .select("source", "doc_id", F.col("rn").cast("long").alias("rn"))
    )


def _topic_clusters_oracle() -> str:
    from youtube_etl_project_spark.plans.corpus3 import _hash_embed_oracle
    from youtube_etl_project_spark.plans.exact_kmeans import (
        kmeans_exact_ctes,
    )

    return f"""
        WITH emb AS MATERIALIZED ({_hash_embed_oracle().strip()}),
        qe AS MATERIALIZED (
            SELECT e.doc_id AS id, u.pos - 1 AS pos,
                   CAST(FLOOR(CAST(u.v AS DOUBLE) * 1000000 + 0.5)
                        AS BIGINT) AS q
            FROM emb e CROSS JOIN LATERAL (
                SELECT unnest(e.embedding) AS v,
                       generate_subscripts(e.embedding, 1) AS pos
            ) AS u
        ){kmeans_exact_ctes(8)},
        assigned AS (
            SELECT id AS doc_id, CAST(cell AS BIGINT) AS cluster_id
            FROM kassign
        ), toks AS (
            SELECT d.doc_id, a.cluster_id, t.term
            FROM documents d JOIN assigned a ON a.doc_id = d.doc_id
            CROSS JOIN LATERAL unnest(list_distinct(list_filter(
                string_split(d.text, ' '), x -> x <> ''))) AS t(term)
        ), df_t AS (
            SELECT term, CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS df
            FROM toks GROUP BY 1
        ), ct AS (
            SELECT cluster_id, term, CAST(COUNT(*) AS BIGINT) AS tf
            FROM toks GROUP BY 1, 2
        ), sizes AS (
            SELECT cluster_id, CAST(COUNT(*) AS BIGINT) AS n_docs
            FROM assigned GROUP BY 1
        ), scored AS (
            SELECT ct.cluster_id, ct.term, ct.tf, d.df,
                   CAST(ct.tf AS DOUBLE) / d.df AS score
            FROM ct JOIN df_t d ON d.term = ct.term
        )
        SELECT s.cluster_id, z.n_docs, CAST(s.rnk AS BIGINT) AS rank,
               s.term, s.tf, s.df, ROUND(s.score, 6) AS score
        FROM (
            SELECT cluster_id, term, tf, df, score,
                   ROW_NUMBER() OVER (PARTITION BY cluster_id
                                      ORDER BY score DESC, term ASC)
                       AS rnk
            FROM scored
        ) s JOIN sizes z ON z.cluster_id = s.cluster_id
        WHERE s.rnk <= 5
    """


@register(
    "text_topic_clusters",
    oracle=_topic_clusters_oracle(),
    doc="BERTopic-lite topic discovery, ORACLE-CHECKED INCLUDING "
        "TRAINING (round 7, converted from rows-only): exact-grid "
        "k-means (k=8, seeds = lowest doc ids, 2 Lloyd rounds on int64 "
        "arithmetic — plans/exact_kmeans) over the 64-dim hash "
        "embeddings assigns every doc a topic; each topic is then "
        "labeled by its top-5 c-TF-IDF terms (within-cluster term count "
        "weighted against corpus document frequency, ranked by the exact "
        "ratio with a term tiebreak). The whole pipeline — feature-hash "
        "embedding, Lloyd training, assignment, keyword rollup — unrolls "
        "into one DuckDB twin, so the driver hash-checks the trainer "
        "itself. Assignment is a broadcast centroid join in codegen; "
        "all corpus-sized shuffles are single-key. The LLM-era corpus "
        "triage view: what IS in this crawl, cluster by cluster",
)
def text_topic_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    from youtube_etl_project_spark.plans.corpus3 import text_hash_embedding
    from youtube_etl_project_spark.plans.exact_kmeans import (
        kmeans_assign_arrow,
        kmeans_train_exact,
    )

    emb = text_hash_embedding(spark, sf_dir)
    # the quantized frame feeds only the trainer, so it is built inside
    # it; assignment is one Arrow int64 matmul pass
    books = fixture_cache.cached_model(
        "topic_books", sf_dir, lambda: kmeans_train_exact(
            pin(grid_rows(
                emb, "doc_id", "embedding", GRID, id_out="id", pos="pos"
            )),
            k=8,
            iters=2,
        )
    )
    assigned = kmeans_assign_arrow(emb, "doc_id", "embedding", books).select(
        F.col("id").alias("doc_id"),
        F.col("cell").cast("long").alias("cluster_id"),
    ).transform(pin)  # reused: sizes + term rollup

    docs = load_table(spark, sf_dir, "documents")
    toks = docs.join(assigned, "doc_id").select(
        "doc_id",
        "cluster_id",
        F.explode(
            F.array_distinct(
                F.filter(F.split("text", " "), lambda x: x != F.lit(""))
            )
        ).alias("term"),
    )
    df_t = toks.groupBy("term").agg(
        F.countDistinct("doc_id").cast("long").alias("df")
    )
    ct = toks.groupBy("cluster_id", "term").agg(
        F.count(F.lit(1)).cast("long").alias("tf")
    )
    sizes = assigned.groupBy("cluster_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs")
    )
    scored = ct.join(df_t, "term").withColumn(
        "score", F.col("tf").cast("double") / F.col("df")
    )
    w = Window.partitionBy("cluster_id").orderBy(
        F.col("score").desc(), F.col("term").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 5)
        .join(F.broadcast(sizes), "cluster_id")
        .select(
            "cluster_id",
            "n_docs",
            F.col("rank").cast("long").alias("rank"),
            "term",
            "tf",
            "df",
            F.round("score", 6).alias("score"),
        )
    )


@register(
    "corpus_source_diversity",
    oracle="""
        WITH per_source AS (
            SELECT source, CAST(SUM(n_chars) AS BIGINT) AS chars
            FROM documents GROUP BY 1
        ), tot AS (
            SELECT CAST(SUM(chars) AS BIGINT) AS t,
                   CAST(COUNT(*) AS BIGINT) AS k
            FROM per_source
        ), shares AS (
            SELECT source,
                   CAST(chars AS DOUBLE) / t AS p, t, k
            FROM per_source CROSS JOIN tot
        )
        SELECT MIN(k) AS n_sources,
               CAST(SUM(CAST(FLOOR(p * p * 1e9 + 0.5) AS BIGINT))
                    AS BIGINT) / 1e9 AS hhi,
               CAST(SUM(CAST(FLOOR(-p * FLOOR(ln(p) * 1e6 + 0.5) / 1e6
                                   * 1e9 + 0.5) AS BIGINT))
                    AS BIGINT) / 1e9 AS entropy_nats
        FROM shares
    """,
    doc="Corpus diversity report: Herfindahl index and Shannon entropy "
        "of the per-source character shares — the one-look answer to "
        "'is this corpus one crawl wearing a trench coat'. Shares are "
        "exact bigint ratios; each p² and −p·ln(p) term snaps to a 1e-9 "
        "grid before summing (ln terms 6-dp-rounded first, the "
        "text_bigram_logprob discipline for libm parity), so the "
        "rollup survives any aggregation order. Model-sized: the whole "
        "computation happens on the per-source aggregate",
)
def corpus_source_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    per_source = docs.groupBy("source").agg(
        F.sum("n_chars").cast("long").alias("chars")
    )
    tot = per_source.agg(
        F.sum("chars").cast("long").alias("t"),
        F.count(F.lit(1)).cast("long").alias("k"),
    )
    shares = per_source.join(F.broadcast(tot)).select(
        (F.col("chars").cast("double") / F.col("t")).alias("p"), "k"
    )
    ln6 = F.floor(F.log(F.col("p")) * F.lit(1e6) + F.lit(0.5)) / F.lit(1e6)
    snap9 = lambda c: F.floor(c * F.lit(1e9) + F.lit(0.5)).cast("long")  # noqa: E731
    return shares.agg(
        F.min("k").alias("n_sources"),
        (F.sum(snap9(F.col("p") * F.col("p"))).cast("long") / F.lit(1e9))
        .alias("hhi"),
        (F.sum(snap9(-F.col("p") * ln6)).cast("long") / F.lit(1e9))
        .alias("entropy_nats"),
    )


@register(
    "text_quality_auc",
    oracle="""
        WITH scored AS (
            SELECT CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y,
                   CAST(len(list_filter(string_split(text,' '),
                        x -> list_contains(['the','a','of','and','to'], x)))
                        AS BIGINT)
                   / CAST(len(list_filter(string_split(text,' '),
                              x -> x <> '')) AS DOUBLE) AS s
            FROM documents
            WHERE len(list_filter(string_split(text,' '), x -> x <> '')) > 0
        ), vals AS (
            SELECT s, CAST(COUNT(*) AS BIGINT) AS n,
                   CAST(SUM(y) AS BIGINT) AS n1v
            FROM scored GROUP BY 1
        ), cum AS (
            SELECT s, n, n1v,
                   CAST(COALESCE(SUM(n) OVER (ORDER BY s
                                              ROWS BETWEEN UNBOUNDED PRECEDING
                                              AND 1 PRECEDING), 0)
                        AS BIGINT) AS cb
            FROM vals
        ), agg AS (
            SELECT CAST(SUM(n) AS BIGINT) AS nn,
                   CAST(SUM(n1v) AS BIGINT) AS n1,
                   CAST(SUM(n1v * (2 * cb + n + 1)) AS BIGINT) AS r1x2
            FROM cum
        )
        SELECT n1 AS n_en, nn - n1 AS n_other,
               FLOOR((r1x2 - n1 * (n1 + 1)) / 2.0
                     / (CAST(n1 AS DOUBLE) * (nn - n1)) * 1e6 + 0.5) / 1e6
                   AS auc
        FROM agg
    """,
    doc="Scorer evaluation without sklearn: AUC of the stopword-ratio "
        "quality signal for predicting lang='en', via the rank-sum "
        "identity AUC = (R1 − n1(n1+1)/2) / (n1·n0) — the doubled "
        "tied-average-rank machinery from events_ab_mannwhitney keeps "
        "everything exact bigint until one final division. The pattern "
        "generalizes to ANY (score, label) pair the engine computes — "
        "classifier eval as a two-shuffle SQL-checkable query",
)
def text_quality_auc(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    toks = F.filter(F.split("text", " "), lambda x: x != F.lit(""))
    stops = F.filter(
        toks,
        lambda x: x.isin("the", "a", "of", "and", "to"),
    )
    scored = docs.select(
        (F.col("lang") == "en").cast("long").alias("y"),
        (F.size(stops).cast("long") / F.size(toks).cast("double")).alias("s"),
    ).filter(F.size(toks) > 0)
    vals = scored.groupBy("s").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("y").cast("long").alias("n1v"),
    )
    wo = Window.orderBy("s").rowsBetween(Window.unboundedPreceding, -1)
    cum = vals.withColumn(
        "cb", F.coalesce(F.sum("n").over(wo), F.lit(0)).cast("long")
    )
    agg = cum.agg(
        F.sum("n").cast("long").alias("nn"),
        F.sum("n1v").cast("long").alias("n1"),
        F.sum(F.col("n1v") * (2 * F.col("cb") + F.col("n") + 1))
        .cast("long")
        .alias("r1x2"),
    )
    auc = (
        (F.col("r1x2") - F.col("n1") * (F.col("n1") + 1)) / F.lit(2.0)
        / (F.col("n1").cast("double") * (F.col("nn") - F.col("n1")))
    )
    return agg.select(
        F.col("n1").alias("n_en"),
        (F.col("nn") - F.col("n1")).alias("n_other"),
        (F.floor(auc * F.lit(1e6) + F.lit(0.5)) / F.lit(1e6)).alias("auc"),
    )

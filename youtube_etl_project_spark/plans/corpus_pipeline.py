"""Training-corpus pipeline wave (SURVEY §2b X1/X2/X4 extensions): the ops a
large-scale LLM-data pipeline runs *after* near-dup pair detection — cluster
assignment via connected components, deterministic train/test splits,
stratified sampling, and PII scrubbing.

All four are oracle-checked. The connected-components oracle is a DuckDB
recursive CTE computing min-reachable-id transitive closure — feasible at
sf0.01; the Spark side is iterative min-label propagation
(operators/graph.py) that scales to billions of edges.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from youtube_etl_project_spark.operators import dedup, fixture_cache, graph
from youtube_etl_project_spark.registry import register
from youtube_etl_project_spark.sources import load_table

# Shared DuckDB CTE producing the exact 3-gram Jaccard ≥ 0.5 near-dup pairs
# (same semantics as the `dedup_ngram_jaccard` oracle in dedup_queries.py).
_PAIRS_CTE = """
    toks AS (
        SELECT doc_id,
               list_filter(regexp_split_to_array(text, '\\s+'),
                           x -> x <> '') AS t
        FROM documents
    ), sh AS (
        SELECT doc_id,
               list_distinct(list_transform(range(1, len(t) - 1),
                   i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS shingles
        FROM toks WHERE len(t) >= 3
    ), sizes AS (
        SELECT doc_id, len(shingles) AS n_sh FROM sh
    ), ex AS (
        SELECT doc_id, unnest(shingles) AS s FROM sh
    ), pairs AS (
        SELECT id_a, id_b
        FROM (
            SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS n_inter
            FROM ex a JOIN ex b ON a.s = b.s AND a.doc_id < b.doc_id
            GROUP BY 1, 2
        )
        JOIN sizes sa ON id_a = sa.doc_id
        JOIN sizes sb ON id_b = sb.doc_id
        WHERE n_inter / (sa.n_sh + sb.n_sh - n_inter) >= 0.5
    )
"""


@register(
    "dedup_cluster_cc",
    oracle=f"""
        WITH RECURSIVE {_PAIRS_CTE},
        edges AS (
            SELECT id_a AS src, id_b AS dst FROM pairs
            UNION
            SELECT id_b, id_a FROM pairs
        ),
        reach AS (
            SELECT DISTINCT src AS n, src AS m FROM edges
            UNION
            SELECT r.n, e.dst AS m FROM reach r JOIN edges e ON e.src = r.m
        ),
        cc AS (SELECT n AS doc_id, MIN(m) AS root FROM reach GROUP BY n)
        SELECT d.doc_id,
               COALESCE(cc.root, d.doc_id) AS cluster_id,
               CAST(COALESCE(cc.root, d.doc_id) = d.doc_id AS BIGINT)
                   AS is_canonical
        FROM documents d LEFT JOIN cc ON d.doc_id = cc.doc_id
    """,
    doc="X2 end-to-end: near-dup pairs → connected components → per-doc "
        "cluster id + keep-the-min-id survivor flag. Transitive closure "
        "matters: A~B, B~C must collapse A,B,C even without an A~C pair. "
        "Oracle = DuckDB recursive CTE; Spark = iterative min-label "
        "propagation (operators/graph.py)",
)
def dedup_cluster_cc(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    pairs = dedup.ngram_jaccard_pairs(
        docs, "doc_id", "text", shingle_k=3, threshold=0.5
    )
    labels = graph.connected_components(pairs, src="id_a", dst="id_b")
    return docs.join(
        labels.withColumnRenamed("id", "doc_id"), "doc_id", "left"
    ).select(
        "doc_id",
        F.coalesce("cluster_id", "doc_id").alias("cluster_id"),
        (F.coalesce("cluster_id", "doc_id") == F.col("doc_id"))
        .cast("long")
        .alias("is_canonical"),
    )


@register(
    "dedup_cluster_star",
    oracle=f"""
        WITH RECURSIVE {_PAIRS_CTE},
        edges AS (
            SELECT id_a AS src, id_b AS dst FROM pairs
            UNION
            SELECT id_b, id_a FROM pairs
        ),
        reach AS (
            SELECT DISTINCT src AS n, src AS m FROM edges
            UNION
            SELECT r.n, e.dst AS m FROM reach r JOIN edges e ON e.src = r.m
        ),
        cc AS (SELECT n AS doc_id, MIN(m) AS root FROM reach GROUP BY n)
        SELECT d.doc_id,
               COALESCE(cc.root, d.doc_id) AS cluster_id,
               CAST(COALESCE(cc.root, d.doc_id) = d.doc_id AS BIGINT)
                   AS is_canonical
        FROM documents d LEFT JOIN cc ON d.doc_id = cc.doc_id
    """,
    doc="X2: same contract as dedup_cluster_cc but clustered with the "
        "alternating large-star/small-star algorithm (Kiveris et al.) — "
        "O(log n) rounds regardless of graph diameter, the variant to run "
        "when near-dup chains can be long. Identical oracle (the two "
        "algorithms must agree exactly)",
)
def dedup_cluster_star(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    pairs = dedup.ngram_jaccard_pairs(
        docs, "doc_id", "text", shingle_k=3, threshold=0.5
    )
    labels = graph.connected_components_star(pairs, src="id_a", dst="id_b")
    return docs.join(
        labels.withColumnRenamed("id", "doc_id"), "doc_id", "left"
    ).select(
        "doc_id",
        F.coalesce("cluster_id", "doc_id").alias("cluster_id"),
        (F.coalesce("cluster_id", "doc_id") == F.col("doc_id"))
        .cast("long")
        .alias("is_canonical"),
    )


@register(
    "train_test_split_hash",
    oracle="""
        SELECT CASE WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) < '29'
                    THEN 'test' ELSE 'train' END AS split,
               COUNT(*) AS n_docs,
               CAST(SUM(n_chars) AS BIGINT) AS total_chars
        FROM documents
        GROUP BY 1
    """,
    doc="Deterministic hash split (~16% test): md5-hex prefix compare — "
        "stable across runs, engines, partitionings, and data order; no "
        "seed state to ship to executors. The standard leakage-free split "
        "for training corpora",
)
def train_test_split_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    split = F.when(
        F.substring(F.md5(F.col("doc_id").cast("string").cast("binary")), 1, 2)
        < "29",
        "test",
    ).otherwise("train")
    return (
        docs.groupBy(split.alias("split"))
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").cast("long").alias("total_chars"),
        )
    )


@register(
    "sample_stratified",
    oracle="""
        SELECT lang, doc_id, n_chars
        FROM (
            SELECT lang, doc_id, n_chars,
                   ROW_NUMBER() OVER (
                       PARTITION BY lang
                       ORDER BY md5(CAST(doc_id AS VARCHAR)) ASC, doc_id ASC
                   ) AS rn
            FROM documents
        ) WHERE rn <= 20
    """,
    doc="Stratified sampling: exact per-stratum quota (20 docs per lang) by "
        "ranking on a deterministic hash — unlike sampleBy(), quota is "
        "exact and reproducible. One shuffle on the stratum key; at scale "
        "rank within partitions first to pre-prune (TopK pattern)",
)
def sample_stratified(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    docs = load_table(spark, sf_dir, "documents")
    h = F.md5(F.col("doc_id").cast("string").cast("binary"))
    w = Window.partitionBy("lang").orderBy(h.asc(), F.col("doc_id").asc())
    return (
        docs.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 20)
        .select("lang", "doc_id", "n_chars")
    )


@register(
    "pii_scrub",
    oracle=r"""
        SELECT doc_id,
               regexp_replace(
                   regexp_replace(text,
                       '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}',
                       '<EMAIL>', 'g'),
                   '\d{3}[-.]\d{3,4}[-.]\d{4}', '<PHONE>', 'g') AS scrubbed,
               CAST(len(regexp_extract_all(text,
                   '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}'))
                   AS BIGINT) AS n_emails
        FROM documents
    """,
    doc="X4: PII scrubbing pass — regex redaction of emails/phone shapes "
        "plus a redaction count for corpus QA. Pure JVM regexp_replace, "
        "whole-stage codegen, no UDF",
)
def pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    email = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
    phone = r"\d{3}[-.]\d{3,4}[-.]\d{4}"
    scrub = F.regexp_replace(
        F.regexp_replace("text", email, "<EMAIL>"), phone, "<PHONE>"
    )
    return docs.select(
        "doc_id",
        scrub.alias("scrubbed"),
        F.size(F.regexp_extract_all("text", F.lit(email), F.lit(0)))
        .cast("long")
        .alias("n_emails"),
    )


@register(
    "doc_embedding_join",
    oracle="""
        SELECT d.doc_id, d.lang, e.label,
               ROUND(sqrt(list_inner_product(embedding::DOUBLE[],
                                             embedding::DOUBLE[])), 6)
                   AS l2_norm
        FROM documents d JOIN embeddings e ON d.doc_id = e.vec_id
    """,
    doc="Text ⋈ vector modality join (doc_id = vec_id): per-doc L2 norm via "
        "a sequential double fold — same accumulation order as DuckDB's "
        "list_inner_product, so no rounding slack needed beyond display. "
        "The join key is the shared id — at scale both tables bucket on it",
)
def doc_embedding_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    emb = load_table(spark, sf_dir, "embeddings")
    ed = F.transform("embedding", lambda x: x.cast("double"))
    sq = F.aggregate(
        ed, F.lit(0.0), lambda acc, x: acc + x * x
    )
    return (
        docs.join(
            emb.withColumnRenamed("vec_id", "doc_id"), "doc_id"
        ).select(
            "doc_id", "lang", "label",
            F.round(F.sqrt(sq), 6).alias("l2_norm"),
        )
    )


@register(
    "text_bigram_top",
    oracle="""
        WITH toks AS (
            SELECT list_filter(string_split(text, ' '), x -> x <> '') AS t
            FROM documents
        ), bi AS (
            SELECT unnest(list_transform(range(1, len(t)),
                                         i -> t[i] || ' ' || t[i+1])) AS bigram
            FROM toks WHERE len(t) >= 2
        )
        SELECT bigram, COUNT(*) AS n
        FROM bi GROUP BY bigram
        ORDER BY n DESC, bigram ASC LIMIT 50
    """,
    doc="X4: corpus-wide top-50 bigram frequencies — zip_with a shifted "
        "token array (no per-index slicing), explode, count, "
        "deterministically tie-broken top-k. The n-gram LM / contamination "
        "screening primitive",
)
def text_bigram_top(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    t = F.filter(F.split(F.col("text"), " "), lambda x: x != F.lit(""))
    # concat propagates the null padding from zip_with's shorter side; the
    # slice keeps exactly the size-1 real bigrams
    paired = F.zip_with(
        t,
        F.slice(t, 2, F.size(t)),
        lambda a, b: F.concat(a, F.lit(" "), b),
    )
    bigrams = F.when(F.size(t) >= 2, F.slice(paired, 1, F.size(t) - 1))
    return (
        docs.select(F.explode(bigrams).alias("bigram"))
        .groupBy("bigram")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.col("n").desc(), F.col("bigram").asc())
        .limit(50)
    )


def _md5_lsh_cluster_oracle() -> str:
    from youtube_etl_project_spark.plans.dedup_queries import (
        MD5_LSH_PAIRS_CTES,
    )

    return f"""
        WITH RECURSIVE {MD5_LSH_PAIRS_CTES},
        edges AS (
            SELECT id_a AS src, id_b AS dst FROM mpairs
            UNION
            SELECT id_b, id_a FROM mpairs
        ),
        reach AS (
            SELECT DISTINCT src AS n, src AS m FROM edges
            UNION
            SELECT r.n, e.dst AS m FROM reach r JOIN edges e ON e.src = r.m
        ),
        cc AS (SELECT n AS doc_id, MIN(m) AS root FROM reach GROUP BY n)
        SELECT d.doc_id,
               COALESCE(cc.root, d.doc_id) AS cluster_id,
               CAST(COALESCE(cc.root, d.doc_id) = d.doc_id AS BIGINT)
                   AS is_canonical
        FROM documents d LEFT JOIN cc ON d.doc_id = cc.doc_id
    """


@register(
    "dedup_cluster_lsh",
    oracle=_md5_lsh_cluster_oracle(),
    doc="X2 at 100 TB: the production dedup path — banded MinHash-LSH "
        "candidate pairs (cost ∝ collisions, not n²) → connected "
        "components → cluster id + survivor flag. Since round 4 the "
        "signatures live in the md5 domain (dedup.minhash_lsh_pairs_md5), "
        "so the ENTIRE path — banding, candidate join, exact-Jaccard "
        "verify, transitive closure — is ORACLE-CHECKED against a DuckDB "
        "recursive CTE (was rows-only with xxhash64 signatures). "
        "tests/test_graph_lsh.py still pins the refinement property vs "
        "the exact-pair clustering",
)
def dedup_cluster_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    from youtube_etl_project_spark.plans.dedup_queries import (
        md5_sig_full_path,
    )

    docs = load_table(spark, sf_dir, "documents")
    pairs = dedup.minhash_lsh_pairs_md5(
        docs, "doc_id", "text", n_hashes=16, n_bands=4, threshold=0.5,
        signatures=fixture_cache.read_frame(
            spark, md5_sig_full_path(spark, sf_dir)
        ),
    )
    labels = graph.connected_components(pairs, src="id_a", dst="id_b")
    return docs.join(
        labels.withColumnRenamed("id", "doc_id"), "doc_id", "left"
    ).select(
        "doc_id",
        F.coalesce("cluster_id", "doc_id").alias("cluster_id"),
        (F.coalesce("cluster_id", "doc_id") == F.col("doc_id"))
        .cast("long")
        .alias("is_canonical"),
    )


@register(
    "decontaminate_overlap",
    oracle="""
        WITH toks AS (
            SELECT doc_id, source,
                   list_filter(regexp_split_to_array(text, '\\s+'),
                           x -> x <> '') AS t
            FROM documents
        ), sh AS (
            SELECT doc_id, source,
                   list_distinct(list_transform(range(1, len(t) - 1),
                       i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS shingles
            FROM toks WHERE len(t) >= 3
        ), bench AS (
            SELECT DISTINCT unnest(shingles) AS s
            FROM sh WHERE source = 'src0'
        ), corpus AS (
            SELECT doc_id, unnest(shingles) AS s
            FROM sh WHERE source <> 'src0'
        )
        SELECT c.doc_id, COUNT(*) AS n_shared
        FROM corpus c JOIN bench b ON c.s = b.s
        GROUP BY c.doc_id
        HAVING COUNT(*) >= 8
    """,
    doc="Benchmark decontamination: flag corpus docs sharing >= 8 distinct "
        "3-gram shingles with a held-out set (source='src0' stands in for "
        "the eval benchmark). Asymmetric overlap join on shingle ids — the "
        "blocklist side dedups to distinct shingles first, so cost scales "
        "with corpus shingles x hit rate, not corpus x benchmark",
)
def decontaminate_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    toks = F.filter(F.split(F.col("text"), r"\s+"), lambda x: x != F.lit(""))
    sh = dedup.spread(docs).select(
        "doc_id",
        "source",
        dedup.word_shingle_ids(toks, 3).alias("shingles"),
    ).filter(F.size("shingles") > 0)
    bench = (
        sh.filter(F.col("source") == "src0")
        .select(F.explode("shingles").alias("s"))
        .distinct()
    )
    corpus = sh.filter(F.col("source") != "src0").select(
        "doc_id", F.explode("shingles").alias("s")
    )
    return (
        corpus.join(bench, "s")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_shared"))
        .filter(F.col("n_shared") >= 8)
    )


@register(
    "pack_sequences",
    oracle="""
        WITH sized AS (
            SELECT doc_id,
                   len(list_filter(string_split(text, ' '), x -> x <> ''))
                       AS n_tokens
            FROM documents
        ), ordered AS (
            SELECT doc_id, n_tokens,
                   SUM(n_tokens) OVER (ORDER BY n_tokens DESC, doc_id ASC
                                       ROWS UNBOUNDED PRECEDING) AS cum
            FROM sized
        )
        SELECT doc_id, n_tokens,
               CAST(FLOOR((cum - 1) / 2048) AS BIGINT) AS bin_id
        FROM ordered
    """,
    doc="Sequence packing for training batches: deterministic order "
        "(longest first, id tiebreak), running token count, bin = "
        "cumsum div budget (2048). The window is a single global sort — "
        "at 100 TB shard first (pack per partition) since bins need not "
        "be globally contiguous; the per-shard plan is this exact query",
)
def pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    docs = load_table(spark, sf_dir, "documents")
    n_tokens = F.size(
        F.filter(F.split("text", " "), lambda x: x != F.lit(""))
    )
    w = (
        Window.orderBy(F.col("n_tokens").desc(), F.col("doc_id").asc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        docs.select("doc_id", n_tokens.alias("n_tokens"))
        .withColumn("cum", F.sum("n_tokens").over(w))
        .select(
            "doc_id",
            "n_tokens",
            F.floor((F.col("cum") - 1) / 2048).alias("bin_id"),
        )
    )


@register(
    "dedup_cluster_incremental",
    oracle=_md5_lsh_cluster_oracle(),  # identical-to-full-recompute is the
    # contract, so it SHARES dedup_cluster_lsh's oracle: the incremental
    # label update must hash-match CC over the full md5 pair set
    doc="X2 incremental, end-to-end: the corpus's stored cluster labels + "
        "an arriving batch → incremental md5-LSH pairs (no corpus "
        "self-join) → contract-and-solve component update (CC runs on a "
        "graph sized by the new pairs, relabeling joins map-side) → same "
        "(doc_id, cluster_id, is_canonical) contract as "
        "dedup_cluster_lsh, and identical output to re-running from "
        "scratch — per-day cost O(batch), not O(corpus). Since round 4 "
        "that equivalence is ORACLE-ENFORCED (shares the recursive-CTE "
        "twin), not just pytest-pinned",
)
def dedup_cluster_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    is_batch = (
        F.substring(
            F.md5(F.col("doc_id").cast("string").cast("binary")), 1, 2
        )
        < "1a"
    )
    corpus, batch = docs.filter(~is_batch), docs.filter(is_batch)
    lsh = dict(n_hashes=16, n_bands=4, threshold=0.5)

    # day-0 state: the corpus's labels (stored in production, rebuilt here)
    old_pairs = dedup.minhash_lsh_pairs_md5(corpus, "doc_id", "text", **lsh)
    old_labels = graph.connected_components(
        old_pairs, src="id_a", dst="id_b"
    )

    new_pairs = dedup.incremental_minhash_pairs_md5(
        corpus, batch, "doc_id", "text", **lsh
    )
    labels = graph.incremental_components(
        old_labels,
        new_pairs,
        new_ids=batch.select("doc_id"),
        src="id_a",
        dst="id_b",
    )
    return docs.join(
        labels.withColumnRenamed("id", "doc_id"), "doc_id", "left"
    ).select(
        "doc_id",
        F.coalesce("cluster_id", "doc_id").alias("cluster_id"),
        (F.coalesce("cluster_id", "doc_id") == F.col("doc_id"))
        .cast("long")
        .alias("is_canonical"),
    )


@register(
    "dedup_survivor_policy",
    oracle=f"""
        WITH RECURSIVE {_PAIRS_CTE},
        edges AS (
            SELECT id_a AS src, id_b AS dst FROM pairs
            UNION
            SELECT id_b, id_a FROM pairs
        ),
        reach AS (
            SELECT DISTINCT src AS n, src AS m FROM edges
            UNION
            SELECT r.n, e.dst AS m FROM reach r JOIN edges e ON e.src = r.m
        ),
        cc AS (SELECT n AS doc_id, MIN(m) AS root FROM reach GROUP BY n),
        labeled AS (
            SELECT d.doc_id, d.source, d.n_chars,
                   COALESCE(cc.root, d.doc_id) AS cluster_id
            FROM documents d LEFT JOIN cc ON d.doc_id = cc.doc_id
        ),
        ranked AS (
            SELECT doc_id, cluster_id,
                   ROW_NUMBER() OVER (
                       PARTITION BY cluster_id
                       ORDER BY CAST(substr(source, 4) AS INTEGER) ASC,
                                n_chars DESC, doc_id ASC
                   ) AS rn
            FROM labeled
        )
        SELECT doc_id, cluster_id,
               MIN(CASE WHEN rn = 1 THEN doc_id END)
                   OVER (PARTITION BY cluster_id) AS survivor_id,
               CAST(rn = 1 AS BIGINT) AS is_kept
        FROM ranked
    """,
    doc="X2 curation policy: clusters keep ONE survivor chosen by source "
        "priority (lower srcN rank wins), then document length, then id — "
        "the real-pipeline survivor rule (prefer the trusted feed's copy, "
        "then the longest), replacing dedup_cluster_cc's min-id "
        "placeholder. One window over cluster_id after clustering; the "
        "policy is a pluggable ORDER BY",
)
def dedup_survivor_policy(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    docs = load_table(spark, sf_dir, "documents")
    pairs = dedup.ngram_jaccard_pairs(
        docs, "doc_id", "text", shingle_k=3, threshold=0.5
    )
    labels = graph.connected_components(pairs, src="id_a", dst="id_b")
    labeled = docs.join(
        labels.withColumnRenamed("id", "doc_id"), "doc_id", "left"
    ).select(
        "doc_id",
        "source",
        "n_chars",
        F.coalesce("cluster_id", "doc_id").alias("cluster_id"),
    )
    rank_w = Window.partitionBy("cluster_id").orderBy(
        F.substring("source", 4, 10).cast("int").asc(),
        F.col("n_chars").desc(),
        F.col("doc_id").asc(),
    )
    ranked = labeled.withColumn("rn", F.row_number().over(rank_w))
    surv_w = Window.partitionBy("cluster_id")
    return ranked.select(
        "doc_id",
        "cluster_id",
        F.min(F.when(F.col("rn") == 1, F.col("doc_id"))).over(surv_w)
        .alias("survivor_id"),
        (F.col("rn") == 1).cast("long").alias("is_kept"),
    )


@register(
    "train_test_split_leakage_safe",
    oracle=f"""
        WITH RECURSIVE {_PAIRS_CTE},
        edges AS (
            SELECT id_a AS src, id_b AS dst FROM pairs
            UNION
            SELECT id_b, id_a FROM pairs
        ),
        reach AS (
            SELECT DISTINCT src AS n, src AS m FROM edges
            UNION
            SELECT r.n, e.dst AS m FROM reach r JOIN edges e ON e.src = r.m
        ),
        cc AS (SELECT n AS doc_id, MIN(m) AS root FROM reach GROUP BY n)
        SELECT d.doc_id,
               COALESCE(cc.root, d.doc_id) AS cluster_id,
               CASE WHEN substr(md5(CAST(COALESCE(cc.root, d.doc_id)
                                         AS VARCHAR)), 1, 2) < '29'
                    THEN 'test' ELSE 'train' END AS split
        FROM documents d LEFT JOIN cc ON d.doc_id = cc.doc_id
    """,
    doc="Leakage-safe corpus split: hash the near-dup CLUSTER id, not the "
        "doc id — a doc-level hash split (train_test_split_hash) can put "
        "two near-duplicates on opposite sides of the train/eval "
        "boundary, silently inflating eval scores; splitting by the "
        "connected-component root keeps every near-dup family on one "
        "side (The Pile / C4 hygiene rule). Same md5-prefix split "
        "formula, same CC machinery (min-label propagation vs DuckDB "
        "recursive-CTE oracle); tests/test_leakage_split.py pins the "
        "no-straddling property pairwise",
)
def train_test_split_leakage_safe(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    pairs = dedup.ngram_jaccard_pairs(
        docs, "doc_id", "text", shingle_k=3, threshold=0.5
    )
    labels = graph.connected_components(pairs, src="id_a", dst="id_b")
    cluster = F.coalesce("cluster_id", "doc_id")
    split = F.when(
        F.substring(F.md5(cluster.cast("string").cast("binary")), 1, 2)
        < "29",
        "test",
    ).otherwise("train")
    return docs.join(
        labels.withColumnRenamed("id", "doc_id"), "doc_id", "left"
    ).select("doc_id", cluster.alias("cluster_id"), split.alias("split"))


@register(
    "dedup_cluster_weights",
    oracle=f"""
        WITH RECURSIVE {_PAIRS_CTE},
        edges AS (
            SELECT id_a AS src, id_b AS dst FROM pairs
            UNION
            SELECT id_b, id_a FROM pairs
        ),
        reach AS (
            SELECT DISTINCT src AS n, src AS m FROM edges
            UNION
            SELECT r.n, e.dst AS m FROM reach r JOIN edges e ON e.src = r.m
        ),
        cc AS (SELECT n AS doc_id, MIN(m) AS root FROM reach GROUP BY n),
        labeled AS (
            SELECT d.doc_id, COALESCE(cc.root, d.doc_id) AS cluster_id
            FROM documents d LEFT JOIN cc ON d.doc_id = cc.doc_id
        ),
        csizes AS (
            SELECT cluster_id, CAST(COUNT(*) AS BIGINT) AS cluster_size
            FROM labeled GROUP BY cluster_id
        )
        SELECT l.doc_id, l.cluster_id, s.cluster_size,
               1.0 / CAST(s.cluster_size AS DOUBLE) AS weight
        FROM labeled l JOIN csizes s USING (cluster_id)
    """,
    doc="Soft dedup — duplicate-aware loss weights: instead of DROPPING "
        "non-canonical near-dups (dedup_cluster_cc's survivor flag), "
        "every document keeps weight 1/cluster_size, so each duplicate "
        "CLUSTER contributes one unit of training mass however many "
        "copies it has (the reweighting alternative corpus teams use "
        "when dups carry distribution signal). Same transitive LSH→CC "
        "machinery as the cluster queries; the weight is one "
        "exact-operand double division (1.0 / bigint — both engines "
        "round identically). The per-cluster size rollup shuffles one "
        "row per cluster, and singletons (the overwhelming mass) ride "
        "the left join with weight 1.0",
)
def dedup_cluster_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    pairs = dedup.ngram_jaccard_pairs(
        docs, "doc_id", "text", shingle_k=3, threshold=0.5
    )
    labels = graph.connected_components(pairs, src="id_a", dst="id_b")
    labeled = docs.join(
        labels.withColumnRenamed("id", "doc_id"), "doc_id", "left"
    ).select(
        "doc_id",
        F.coalesce("cluster_id", "doc_id").alias("cluster_id"),
    )
    sizes = labeled.groupBy("cluster_id").agg(
        F.count(F.lit(1)).cast("long").alias("cluster_size")
    )
    return labeled.join(sizes, "cluster_id").select(
        "doc_id",
        "cluster_id",
        "cluster_size",
        (F.lit(1.0) / F.col("cluster_size").cast("double")).alias("weight"),
    )

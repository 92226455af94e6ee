"""Record-linkage queries (SURVEY §2b extension, round 5) — cross-source
matching as its own first-class family, distinct from dedup: candidates
are CROSS-source only, the deliverable is a per-record match decision
(top-1 by score with a mutual-best acceptance flag), and the
entity-resolution capstone closes accepted links transitively and applies
a survivorship rule to pick each entity's canonical record.

Every score is exact bigint arithmetic (per-mille Jaccard via integer
``div``), every selection is a deterministic integer ordering, so the
whole family is value-hash oracle-checked — including the recursive-CTE
transitive closure, mirroring ``dedup_cluster_cc``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from youtube_etl_project_spark.operators import graph, linkage
from youtube_etl_project_spark.operators.checkpointing import pin
from youtube_etl_project_spark.registry import register
from youtube_etl_project_spark.sources import load_table

_SHINGLE_K = 3
_MAX_DF = 10
_MIN_SCORE_PM = 100  # best-match report floor (Jaccard >= 0.1)
_ER_SCORE_PM = 200  # ER pairwise-acceptance floor (Jaccard >= 0.2)

# Shared candidate CTEs: df-cut 3-gram shingle sets, CROSS-source pairs
# only (a.source < b.source), exact integer per-mille scores. DuckDB `//`
# is bigint floor division, matching Spark's `div` exactly; DuckDB `/`
# would return DOUBLE and round.
_SCORED_CTES = f"""
        toks AS (
            SELECT doc_id, source,
                   list_filter(regexp_split_to_array(text, '\\s+'),
                               x -> x <> '') AS t
            FROM documents
        ), sh AS (
            SELECT doc_id, source,
                   list_distinct(list_transform(range(1, len(t) - 1),
                       i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS shingles
            FROM toks WHERE len(t) >= {_SHINGLE_K}
        ), ex AS (
            SELECT doc_id, source, unnest(shingles) AS s FROM sh
        ), rare AS (
            SELECT s FROM ex GROUP BY s HAVING COUNT(*) <= {_MAX_DF}
        ), kept AS (
            SELECT ex.doc_id, ex.source, ex.s FROM ex JOIN rare USING (s)
        ), sizes AS (
            SELECT doc_id, COUNT(*) AS n_sh FROM kept GROUP BY doc_id
        ), inter AS (
            SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                   COUNT(*) AS n_inter
            FROM kept a JOIN kept b
              ON a.s = b.s AND a.source < b.source
            GROUP BY 1, 2
        ), scored AS (
            SELECT id_a, id_b, CAST(n_inter AS BIGINT) AS n_inter,
                   (1000 * n_inter) // (sa.n_sh + sb.n_sh - n_inter)
                       AS score_pm
            FROM inter
            JOIN sizes sa ON id_a = sa.doc_id
            JOIN sizes sb ON id_b = sb.doc_id
        )"""

_BEST_CTES = f"""{_SCORED_CTES}, directed AS (
            SELECT id_a AS doc_id, id_b AS cand_id, score_pm, n_inter
            FROM scored
            UNION ALL
            SELECT id_b, id_a, score_pm, n_inter FROM scored
        ), best AS (
            SELECT doc_id, cand_id AS best_match_id, score_pm, n_inter
            FROM (
                SELECT *, ROW_NUMBER() OVER (
                           PARTITION BY doc_id
                           ORDER BY score_pm DESC, cand_id ASC) AS rnk
                FROM directed
            ) WHERE rnk = 1 AND score_pm >= {_MIN_SCORE_PM}
        )"""


@register(
    "record_linkage_mutual_best",
    oracle=f"""
        WITH {_BEST_CTES}
        SELECT b.doc_id, b.best_match_id, b.score_pm, b.n_inter,
               CAST(m.doc_id IS NOT NULL AS BIGINT) AS mutual
        FROM best b
        LEFT JOIN best m ON m.doc_id = b.best_match_id
                        AND m.best_match_id = b.doc_id
    """,
    doc="Record linkage (§2b cross-source matching): every document's "
        "best cross-source candidate — df-cut shingle blocking, exact "
        "per-mille Jaccard scores, top-1 by (score DESC, id ASC), and a "
        "mutual-best acceptance flag (1 when the matched record's own "
        "best points back — the classic high-precision one-to-one "
        "linkage rule). All-bigint output; selection is a window "
        "partitioned by doc_id, never a global sort",
)
def record_linkage_mutual_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    return linkage.mutual_best(
        linkage.best_match(_scored_pairs(spark, sf_dir), _MIN_SCORE_PM)
    )


def _scored_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Round 12 (VERDICT r11 #8 follow-through): the cross-source
    scored-pairs frame `cross_group_scored_pairs(docs, ...)` is computed
    IDENTICALLY by record_linkage_mutual_best and entity_resolution_docs
    — memoize it per fixture on the round-10 derived-FRAME tier (temp
    parquet, fingerprint-keyed, atexit-cleaned). Every column is exact
    bigint (integer per-mille scores), so the round trip is bit-exact;
    both oracles keep recomputing the pairs in SQL, so the hash gate
    still checks the pipeline itself every run."""
    from youtube_etl_project_spark.operators import fixture_cache

    def _build(path: str) -> None:
        docs = load_table(spark, sf_dir, "documents")
        linkage.cross_group_scored_pairs(
            docs, "doc_id", "text", "source",
            shingle_k=_SHINGLE_K, max_df=_MAX_DF,
        ).repartition(1).write.mode("overwrite").parquet(f"{path}/pairs")

    path = fixture_cache.cached_build(
        "linkage_pairs_", sf_dir, _build, marker="pairs/_SUCCESS"
    )
    return fixture_cache.read_frame(spark, f"{path}/pairs")


@register(
    "entity_resolution_docs",
    oracle=f"""
        WITH RECURSIVE {_SCORED_CTES}, acc AS (
            SELECT id_a, id_b FROM scored WHERE score_pm >= {_ER_SCORE_PM}
        ), edges AS (
            SELECT id_a AS src, id_b AS dst FROM acc
            UNION
            SELECT id_b, id_a FROM acc
        ), reach AS (
            SELECT DISTINCT src AS n, src AS m FROM edges
            UNION
            SELECT r.n, e.dst AS m FROM reach r JOIN edges e ON e.src = r.m
        ), cc AS (
            SELECT n AS doc_id, MIN(m) AS entity_id FROM reach GROUP BY n
        ), members AS (
            SELECT cc.entity_id, d.doc_id, d.source, d.n_chars
            FROM cc JOIN documents d USING (doc_id)
        ), canon AS (
            SELECT entity_id, doc_id AS canonical_doc FROM (
                SELECT entity_id, doc_id,
                       ROW_NUMBER() OVER (PARTITION BY entity_id
                                          ORDER BY n_chars DESC,
                                                   doc_id ASC) AS rnk
                FROM members
            ) WHERE rnk = 1
        )
        SELECT m.entity_id,
               CAST(COUNT(*) AS BIGINT) AS n_members,
               CAST(COUNT(DISTINCT m.source) AS BIGINT) AS n_sources,
               MIN(c.canonical_doc) AS canonical_doc,
               CAST(SUM(m.n_chars) AS BIGINT) AS total_chars
        FROM members m JOIN canon c USING (entity_id)
        GROUP BY 1
    """,
    doc="Entity resolution capstone (§2b): cross-source scored pairs "
        "above the acceptance floor close transitively (connected "
        "components — A~B, B~C collapses all three even across three "
        "sources; components up to size 4 exist in the fixture), then a "
        "survivorship rule picks each entity's canonical record (max "
        "n_chars, tie -> min doc_id). Oracle = DuckDB recursive CTE, the "
        "same transitive-closure proof as dedup_cluster_cc; Spark = "
        "iterative min-label propagation with checkpointed rounds",
)
def entity_resolution_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    pairs = _scored_pairs(spark, sf_dir)
    accepted = pairs.filter(F.col("score_pm") >= _ER_SCORE_PM).select(
        "id_a", "id_b"
    )
    labels = graph.connected_components(accepted, src="id_a", dst="id_b")
    members = pin(
        labels.withColumnRenamed("id", "doc_id")
        .withColumnRenamed("cluster_id", "entity_id")
        .join(docs.select("doc_id", "source", "n_chars"), "doc_id")
    )
    canon = (
        members.withColumn(
            "rnk",
            F.row_number().over(
                Window.partitionBy("entity_id").orderBy(
                    F.col("n_chars").desc(), F.col("doc_id").asc()
                )
            ),
        )
        .filter(F.col("rnk") == 1)
        .select("entity_id", F.col("doc_id").alias("canonical_doc"))
    )
    return (
        members.groupBy("entity_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_members"),
            F.countDistinct("source").alias("n_sources"),
            F.sum("n_chars").alias("total_chars"),
        )
        .join(canon, "entity_id")
        .select(
            "entity_id", "n_members", "n_sources", "canonical_doc",
            "total_chars",
        )
    )


@register(
    "record_linkage_incremental",
    oracle=f"""
        WITH {_BEST_CTES}
        SELECT b.doc_id, b.best_match_id, b.score_pm, b.n_inter
        FROM best b JOIN documents d ON b.doc_id = d.doc_id
        WHERE d.source = 'src0'
    """,
    doc="Incremental linkage serving path: the nightly batch (source "
        "src0) links against the existing master (every other source) "
        "with the MASTER NEVER SELF-JOINING — the batch side broadcasts "
        "and the master streams map-side, so cost is O(batch x "
        "collisions), not O(master^2). The oracle is the FULL pipeline's "
        "best-match CTE restricted to the batch's records (every cross-"
        "source candidate of a src0 doc is a batch x master pair by "
        "construction), so incremental == full recompute is enforced "
        "cross-engine, the same contract dedup_incremental carries",
)
def record_linkage_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    batch = docs.filter(F.col("source") == "src0")
    master = docs.filter(F.col("source") != "src0")
    return linkage.incremental_best_match(
        master, batch, "doc_id", "text", "source",
        shingle_k=_SHINGLE_K, max_df=_MAX_DF, min_score_pm=_MIN_SCORE_PM,
    )


@register(
    "fuzzy_dup_degree_sym",
    oracle="""
        WITH d AS (
            SELECT c_custkey AS k, c_name AS nm,
                   unnest(list_append(
                       list_transform(generate_series(1, length(c_name)),
                           i -> substr(c_name, 1, i-1)
                                || substr(c_name, i+1, length(c_name))),
                       c_name)) AS v
            FROM customer
            WHERE length(c_name) >= 1
        ), cand AS (
            SELECT DISTINCT a.k AS ka, b.k AS kb, a.nm AS na, b.nm AS nb
            FROM d a JOIN d b ON a.v = b.v AND a.k < b.k
        ), pairs AS (
            SELECT ka, kb FROM cand WHERE levenshtein(na, nb) <= 1
        ), sym AS (
            SELECT ka AS k, kb AS nb FROM pairs
            UNION ALL
            SELECT kb AS k, ka AS nb FROM pairs
        )
        SELECT k AS custkey,
               CAST(COUNT(*) AS BIGINT) AS n_neighbors,
               CAST(MIN(nb) AS BIGINT) AS nearest_key
        FROM sym GROUP BY k
    """,
    doc="Per-record fuzzy-duplicate degree at edit distance ≤ 1 over ALL "
        "customer names via positional deletion neighborhoods "
        "(operators/linkage.deletion_neighborhood_pairs, FastSS with "
        "positions): every string joins on itself + its single-deletion "
        "variants tagged with the deleted position and character, and the "
        "join's residual keeps exactly the substitution, insertion/deletion "
        "and equal-name matches, so the candidate set IS the answer — each "
        "pair at distance ≤ 1 once, with no distinct and no verify step. "
        "Cost is O(n·L) exploded rows + one variant-keyed shuffle vs the "
        "O(n²) all-pairs a brute-force scan needs. The oracle keeps the "
        "independent verify-based form (superset candidates + "
        "levenshtein), and tests/test_linkage2.py pins the exact set "
        "against literal brute force. Output: each record with ≥ 1 "
        "neighbor, its neighbor count and smallest neighboring key — the "
        "triage list an ER reviewer works through",
)
def fuzzy_dup_degree_sym(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer")
    pairs = linkage.deletion_neighborhood_pairs(cust, "c_custkey", "c_name")
    # both directions from one pass over the pairs: a unionAll of two
    # projections would run the whole pair pipeline twice
    sym = pairs.select(
        F.inline(F.array(
            F.struct(F.col("ka").alias("k"), F.col("kb").alias("nb")),
            F.struct(F.col("kb").alias("k"), F.col("ka").alias("nb")),
        ))
    )
    return sym.groupBy(F.col("k").alias("custkey")).agg(
        F.count(F.lit(1)).cast("long").alias("n_neighbors"),
        F.min("nb").cast("long").alias("nearest_key"),
    )

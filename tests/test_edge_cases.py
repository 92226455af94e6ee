"""Degenerate-input behavior: empty frames, singleton groups, k > n.
Operators must return empty/valid results, never throw — per-partition
fault tolerance degrades to empty output (the reference's error-handling
contract, SURVEY §2a)."""

from __future__ import annotations

from pyspark.sql import functions as F

from youtube_etl_project_spark.operators import dedup, graph, similarity


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_minhash_empty_and_short_docs(spark):
    # empty input
    assert (
        dedup.minhash_lsh_pairs_md5(
            _docs(spark, []), "doc_id", "text", 32, 8, 0.5
        ).count()
        == 0
    )
    # all docs shorter than the shingle width -> no signatures, no pairs
    short = _docs(spark, [(1, "one two"), (2, "a b")])
    assert (
        dedup.minhash_lsh_pairs_md5(
            short, "doc_id", "text", 32, 8, 0.5
        ).count()
        == 0
    )


def test_ngram_jaccard_identical_singletons(spark):
    dup = _docs(
        spark,
        [(1, "alpha beta gamma delta"), (2, "alpha beta gamma delta")],
    )
    rows = dedup.ngram_jaccard_pairs(dup, "doc_id", "text", 3, 0.5).collect()
    assert [(r.id_a, r.id_b, r.jaccard) for r in rows] == [(1, 2, 1.0)]


def test_connected_components_empty_edges(spark):
    edges = spark.createDataFrame([], "src long, dst long")
    assert graph.connected_components(edges).count() == 0


def test_connected_components_self_loop(spark):
    edges = spark.createDataFrame([(7, 7)], "src long, dst long")
    rows = graph.connected_components(edges).collect()
    assert [(r.id, r.cluster_id) for r in rows] == [(7, 7)]


def test_topk_with_k_larger_than_candidates(spark):
    emb = spark.createDataFrame(
        [(0, [1.0, 0.0]), (1, [0.9, 0.1]), (2, [0.0, 1.0])],
        "vec_id long, embedding array<float>",
    )
    q = emb.filter("vec_id = 0").select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    c = emb.select(F.col("vec_id").alias("neighbor_id"), "embedding")
    rows = similarity.brute_force_topk(q, c, k=10).collect()
    # k=10 but only 2 other candidates exist; ranks stay dense from 1
    assert [(r.neighbor_id, r.rank) for r in rows] == [(1, 1), (2, 2)]


def test_exact_dedup_single_row_groups(spark):
    df = spark.createDataFrame(
        [(1, "a", 1.0), (2, "b", 2.0)], "id long, k string, v double"
    )
    out = dedup.exact_dedup(df, ["k"], [F.col("id").asc()])
    assert out.count() == 2


def test_pca_moments_rejects_empty_input(spark):
    import pytest as _pytest
    from pyspark.sql.types import ArrayType, FloatType, StructField, StructType

    from youtube_etl_project_spark.operators.similarity import pca_moments

    empty = spark.createDataFrame(
        [], StructType([StructField("embedding", ArrayType(FloatType()))])
    )
    with _pytest.raises(ValueError, match="no non-null vectors"):
        pca_moments(empty)


def test_semantic_dedup_handles_null_vectors(spark):
    from pyspark.sql.types import (
        ArrayType,
        FloatType,
        LongType,
        StructField,
        StructType,
    )

    from youtube_etl_project_spark.operators.similarity import semantic_dedup

    schema = StructType(
        [
            StructField("vec_id", LongType()),
            StructField("embedding", ArrayType(FloatType())),
        ]
    )
    rows = [
        (0, [1.0, 0.0]),
        (1, [1.0, 0.001]),  # near-dup of 0
        (2, None),  # null vector: cell -1, never paired, kept
        (3, [0.0, 1.0]),
    ]
    out = semantic_dedup(
        spark.createDataFrame(rows, schema), "vec_id", "embedding",
        k=2, threshold=0.99,
    ).collect()
    by_id = {r["id"]: r for r in out}
    assert len(by_id) == 4
    assert by_id[2]["is_kept"] == 1 and by_id[2]["cell"] == -1
    assert by_id[1]["cluster_id"] == 0 and by_id[1]["is_kept"] == 0

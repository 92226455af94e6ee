"""SemDeDup pinning: the kmeans-bucketed semantic dedup must agree exactly
with brute-force cosine clustering wherever the cells allow it.

* With k=1 (one cell) the within-cell pair graph IS the brute-force pair
  graph, so the clustering must equal exact cosine_pairs + CC.
* At the registered k=16, every emitted drop must be SOUND: the dropped id
  shares a cell with its cluster survivor and their exact cosine path
  exists in the brute-force graph (precision 1.0 — bucketing can only
  lose recall, never invent duplicates)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from youtube_etl_project_spark.operators import graph, similarity
from youtube_etl_project_spark.sources import load_table

THRESH = 0.4


@pytest.fixture(scope="module")
def brute(spark, sf_dir):
    """id -> cluster of the brute-force cosine>=THRESH pair graph."""
    emb = load_table(spark, sf_dir, "embeddings")
    pairs = similarity.cosine_pairs(emb, "vec_id", "embedding", THRESH)
    labels = graph.connected_components(pairs, src="id_a", dst="id_b")
    return {r["id"]: r["cluster_id"] for r in labels.collect()}


def test_single_cell_equals_brute_force(spark, sf_dir, brute):
    emb = load_table(spark, sf_dir, "embeddings")
    got = similarity.semantic_dedup(
        emb, "vec_id", "embedding", k=1, threshold=THRESH
    ).collect()
    for r in got:
        assert r["cluster_id"] == brute.get(r["id"], r["id"])
        assert r["is_kept"] == (1 if r["cluster_id"] == r["id"] else 0)


def test_bucketed_drops_are_sound(spark, sf_dir, brute):
    emb = load_table(spark, sf_dir, "embeddings")
    got = similarity.semantic_dedup(
        emb, "vec_id", "embedding", k=16, threshold=THRESH
    ).collect()
    dropped = [r for r in got if r["is_kept"] == 0]
    assert len(dropped) > 0  # fixture exercises the operator

    # Precision 1.0: every (dropped, survivor) co-cluster relation must be
    # backed by brute-force transitive cosine>=THRESH connectivity.
    for r in got:
        if r["is_kept"] == 0:
            assert brute[r["id"]] == brute[r["cluster_id"]], (
                f"{r['id']} dropped into cluster {r['cluster_id']} but "
                "brute force does not connect them"
            )

    # Every vector appears exactly once, kept xor dropped.
    n = emb.count()
    assert len(got) == n
    assert len({r["id"] for r in got}) == n

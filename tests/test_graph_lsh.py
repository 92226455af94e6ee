"""dedup_cluster_lsh against dedup_cluster_cc (exact pairs → CC). The
DuckDB oracle proves the two engines agree on the LSH clustering; this
pins how it relates to the exact one. Because LSH emits a subset of the
exact near-dup pairs, its clustering must be a REFINEMENT of the exact
clustering: any two docs the LSH path groups together must also be
grouped together by the exact path."""

from __future__ import annotations

from youtube_etl_project_spark.registry import load_all_plans


def _clusters(spark, sf_dir, name):
    q = load_all_plans()[name].fn
    return {r.doc_id: r.cluster_id for r in q(spark, sf_dir).collect()}


def test_lsh_clustering_refines_exact_clustering(spark, sf_dir):
    exact = _clusters(spark, sf_dir, "dedup_cluster_cc")
    lsh = _clusters(spark, sf_dir, "dedup_cluster_lsh")
    assert set(exact) == set(lsh)  # both cover every doc

    # refinement: same LSH cluster → same exact cluster
    by_lsh_cluster: dict[int, set[int]] = {}
    for doc, c in lsh.items():
        by_lsh_cluster.setdefault(c, set()).add(doc)
    for members in by_lsh_cluster.values():
        assert len({exact[d] for d in members}) == 1

    # and the LSH path actually finds the bulk of the exact duplicates
    exact_nontrivial = sum(1 for d, c in exact.items() if d != c)
    lsh_nontrivial = sum(1 for d, c in lsh.items() if d != c)
    if exact_nontrivial:
        assert lsh_nontrivial >= 0.8 * exact_nontrivial


def test_incremental_cluster_equiv(spark, sf_dir):
    inc = load_all_plans()["dedup_cluster_incremental"].fn
    full = load_all_plans()["dedup_cluster_lsh"].fn
    a = {(r.doc_id, r.cluster_id, r.is_canonical)
         for r in inc(spark, sf_dir).collect()}
    b = {(r.doc_id, r.cluster_id, r.is_canonical)
         for r in full(spark, sf_dir).collect()}
    assert a == b

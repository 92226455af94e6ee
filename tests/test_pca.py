"""PCA pinning: the Arrow moment pass is cross-checked against the
oracle-checked embed_dim_variance query, and the projection is pinned by
linear-algebra invariants (orthonormality → exact distance preservation at
full rank; variance concentration in leading components)."""

from __future__ import annotations

import math

import numpy as np

from youtube_etl_project_spark.operators import similarity
from youtube_etl_project_spark.registry import load_all_plans
from youtube_etl_project_spark.sources import load_table


def test_moments_match_oracle_checked_variance(spark, sf_dir):
    emb = load_table(spark, sf_dir, "embeddings")
    _, _, cov = similarity.pca_moments(emb)
    diag = np.diag(np.asarray(cov))
    q = load_all_plans()["embed_dim_variance"].fn(spark, sf_dir).collect()
    byc = {r["pos"]: r["variance"] for r in q}
    assert len(byc) == len(diag)
    for pos, v in byc.items():
        assert math.isclose(v, diag[pos], abs_tol=1e-5), (pos, v, diag[pos])


def test_full_rank_projection_preserves_distances(spark, sf_dir):
    emb = load_table(spark, sf_dir, "embeddings").limit(50)
    n, mean, cov = similarity.pca_moments(emb)
    _, comps = similarity.pca_components(cov)
    d = len(mean)
    rows = (
        similarity.pca_project(emb, mean, comps, d)
        .select("vec_id", "embedding", "proj")
        .collect()
    )
    X = np.stack([np.asarray(r["embedding"], dtype=np.float64) for r in rows])
    P = np.stack([np.asarray(r["proj"]) for r in rows])
    # Orthogonal change of basis: pairwise distances survive full rank.
    for i in range(0, len(rows), 7):
        for j in range(i + 1, len(rows), 11):
            dx = np.linalg.norm(X[i] - X[j])
            dp = np.linalg.norm(P[i] - P[j])
            assert math.isclose(dx, dp, rel_tol=1e-4), (i, j, dx, dp)


def test_variance_concentrates_in_leading_components(spark, sf_dir):
    emb = load_table(spark, sf_dir, "embeddings")
    _, mean, cov = similarity.pca_moments(emb)
    vals, comps = similarity.pca_components(cov)
    assert all(vals[i] >= vals[i + 1] - 1e-12 for i in range(len(vals) - 1))
    # Projected per-component variance must equal the eigenvalues.
    P = np.stack(
        [
            np.asarray(r["proj"])
            for r in similarity.pca_project(emb, mean, comps, 8)
            .select("proj")
            .collect()
        ]
    )
    pv = P.var(axis=0)
    for k in range(8):
        assert math.isclose(pv[k], vals[k], rel_tol=1e-3, abs_tol=1e-6)


def test_projection_deterministic_across_runs(spark, sf_dir):
    emb = load_table(spark, sf_dir, "embeddings")
    fn = load_all_plans()["embed_pca_project"].fn
    a = {(r["vec_id"], r["pos"]): r["pq"] for r in fn(spark, sf_dir).collect()}
    b = {(r["vec_id"], r["pos"]): r["pq"] for r in fn(spark, sf_dir).collect()}
    assert a == b


def test_trained_basis_is_cached_per_fixture_content(
    spark, sf_dir, tmp_path, monkeypatch
):
    """embed_pca_project trains its basis once per fixture CONTENT: a
    second call reuses it, and touching the fixture's embeddings file
    (same path, new mtime) retrains, with identical rows."""
    import os
    import shutil

    from youtube_etl_project_spark.plans import exact_linalg

    fixture = str(tmp_path / "sf")
    shutil.copytree(sf_dir, fixture)
    calls = []
    real = exact_linalg.pca_subspace_train
    monkeypatch.setattr(
        exact_linalg,
        "pca_subspace_train",
        lambda *a, **k: calls.append(1) or real(*a, **k),
    )
    fn = load_all_plans()["embed_pca_project"].fn

    def rows():
        return sorted(map(tuple, fn(spark, fixture).collect()))

    first = rows()
    assert rows() == first and len(calls) == 1  # warm: no retrain

    data = os.path.join(fixture, "embeddings.parquet")
    st = os.stat(data)
    os.utime(data, ns=(st.st_atime_ns, st.st_mtime_ns + 1_000_000))
    assert rows() == first and len(calls) == 2  # content key changed

"""Distributed ridge regression: the one-pass sufficient statistics and
closed-form solve must agree EXACTLY with numpy on the gathered data,
and the whole fit must be run-to-run deterministic."""

import numpy as np
from pyspark.sql import functions as F

from youtube_etl_project_spark.operators import linear
from youtube_etl_project_spark.sources import load_table

LAM = 1.0


def _xy(spark, sf_dir):
    emb = load_table(spark, sf_dir, "embeddings").filter(
        F.col("embedding").isNotNull() & F.col("label").isNotNull()
    )
    rows = emb.select("embedding", F.col("label").cast("double")).collect()
    x = np.stack([np.asarray(r[0], dtype=np.float64) for r in rows])
    y = np.asarray([r[1] for r in rows])
    return emb, x, y


def _numpy_ridge(x, y, lam):
    z = np.hstack([x, np.ones((x.shape[0], 1))])
    g = z.T @ z
    reg = np.eye(g.shape[0]) * lam
    reg[-1, -1] = 0.0
    return np.linalg.solve(g + reg, z.T @ y)


def test_ridge_fit_matches_numpy(spark, sf_dir):
    emb, x, y = _xy(spark, sf_dir)
    df = emb.select("embedding", F.col("label").cast("double").alias("y"))
    w = np.asarray(linear.ridge_fit(df, "embedding", "y", lam=LAM))
    w_np = _numpy_ridge(x, y, LAM)
    # sufficient statistics are float64 sums of the same products; the
    # only divergence is partial-sum order — tolerate ulp-level drift
    assert np.allclose(w, w_np, rtol=1e-8, atol=1e-10), (
        np.abs(w - w_np).max()
    )

    # determinism: same data, same plan → same weights bit-for-bit
    w2 = np.asarray(linear.ridge_fit(df, "embedding", "y", lam=LAM))
    assert (w == w2).all()


def test_null_rows_are_skipped(spark):
    df = spark.createDataFrame(
        [(1, [1.0, 0.0], 2.0), (2, None, 5.0), (3, [0.0, 1.0], None),
         (4, [2.0, 0.0], 4.0)],
        "id long, embedding array<double>, y double",
    )
    n, g, m = linear.ridge_moments(df, "embedding", "y")
    assert n == 2  # rows 2 and 3 dropped
    # Gram of [[1,0,1],[2,0,1]] and moment of y=[2,4]
    z = np.array([[1.0, 0.0, 1.0], [2.0, 0.0, 1.0]])
    assert np.allclose(np.asarray(g), z.T @ z)
    assert np.allclose(np.asarray(m), z.T @ np.array([2.0, 4.0]))

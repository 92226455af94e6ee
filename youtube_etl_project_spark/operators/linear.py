"""Distributed linear models over embedding columns: closed-form ridge
regression — the third instance of the "model-sized driver state"
pattern (after ``kmeans_centroids`` and ``pca_moments``).

Why this shape at 100 TB: fitting w = (XᵀX + λI)⁻¹ Xᵀy needs exactly
two sufficient statistics — the (d+1)² Gram matrix and the (d+1)
target moment — both computable in ONE shuffle-free Arrow pass whose
reduce payload is O(d²) regardless of row count. The data never moves;
only the statistics do. The solve is a d×d numpy call on the driver
(the model, not the data), and scoring with the weights is a Column
dot product back on the executors. This is the workhorse for trainable quality
scorers over corpus features (generalizing the heuristic quality
signals in operators/textops.py): fit on a labeled sample, score the
full corpus JVM-side.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame


def ridge_moments(
    df: DataFrame, vec: str = "embedding", target: str = "y"
) -> tuple[int, "list[list[float]]", "list[float]"]:
    """One Arrow pass → (n, Gram, moment) for the INTERCEPT-AUGMENTED
    design [x, 1]: Gram = Σ zᵢzᵢᵀ (z = [x, 1]), moment = Σ zᵢyᵢ. Rows
    with a null vector or null target are skipped. Partials are reduced
    on the driver in sorted order so the float64 sums are run-to-run
    deterministic."""
    import numpy as np

    def partials(it):
        import numpy as np  # noqa: F811 — runs on the worker

        n = 0
        g = None
        m = None
        for pdf in it:
            mask = pdf[vec].notna() & pdf[target].notna()
            if not mask.any():
                continue
            x = np.stack(pdf.loc[mask, vec].to_numpy()).astype(np.float64)
            z = np.hstack([x, np.ones((x.shape[0], 1))])
            y = pdf.loc[mask, target].to_numpy().astype(np.float64)
            n += z.shape[0]
            g = z.T @ z if g is None else g + z.T @ z
            m = z.T @ y if m is None else m + z.T @ y
        if n:
            yield pd.DataFrame(
                {"n": [n], "g": [g.ravel().tolist()], "m": [m.tolist()]}
            )

    rows = (
        df.select(vec, target)
        .mapInPandas(partials, "n long, g array<double>, m array<double>")
        .collect()
    )
    if not rows:
        raise ValueError("ridge_moments: no usable (vector, target) rows")
    d1 = len(rows[0]["m"])
    g = __import__("numpy").zeros((d1, d1))
    m = __import__("numpy").zeros(d1)
    n = 0
    # sorted partials → deterministic float64 accumulation order
    for r in sorted(rows, key=lambda r: (r["n"], tuple(r["m"]))):
        n += r["n"]
        g += __import__("numpy").asarray(r["g"]).reshape(d1, d1)
        m += __import__("numpy").asarray(r["m"])
    return n, g.tolist(), m.tolist()


def ridge_fit(
    df: DataFrame,
    vec: str = "embedding",
    target: str = "y",
    lam: float = 1.0,
) -> "list[float]":
    """Closed-form ridge weights [w₁..w_d, intercept]: solve
    (G + λI') w = m with the intercept unpenalized (λ on the first d
    diagonal entries only — the standard convention)."""
    import numpy as np

    n, g, m = ridge_moments(df, vec, target)
    g = np.asarray(g)
    m = np.asarray(m)
    reg = np.eye(g.shape[0]) * lam
    reg[-1, -1] = 0.0  # never shrink the intercept
    return np.linalg.solve(g + reg, m).tolist()

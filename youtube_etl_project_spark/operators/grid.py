"""The exact-int64 component grid: the one snap every engine shares.

Contract. A vector component ``x`` (float32 or float64) snaps to the
int64 ``floor(double(x)·g + 0.5)``: widen to float64, one float64
multiply by the grid ``g``, one float64 add of 0.5, floor. Spark's
``F.floor`` over a double, numpy's ``np.floor`` over float64 and
DuckDB's ``FLOOR(CAST(x AS DOUBLE) * g + 0.5)`` perform exactly these
IEEE operations, so all three give the same integer bit for bit. The
oracles spell the SQL form out themselves; Spark plans use
:func:`snap` / :func:`grid_rows` and Arrow kernels :func:`snap_np`.

NULL rule. In a Column a NULL component snaps to NULL, as in SQL. The
numpy twin has no NULL: it raises ``ValueError`` on any NULL, NaN or
infinite component rather than let ``astype(np.int64)`` turn it into
INT64_MIN.

Why int64 matmul is exact. Once snapped, every dot product, squared
norm and squared distance is a sum of int64 products, and integer
addition is associative: a numpy matmul and a SQL ``SUM`` agree in any
order as long as no partial sum passes 2^63. That bound depends on the
grid and the formula, so each caller states its own.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

GRID = 1_000_000  # the component grid of every exact-int64 vector path


def snap(col: Column, grid: int) -> Column:
    """``floor(double(col)·grid + 0.5)`` as a bigint Column."""
    return F.floor(
        col.cast("double") * F.lit(float(grid)) + F.lit(0.5)
    ).cast("long")


def grid_rows(
    df: DataFrame,
    id_col: str,
    vec: str,
    grid: int,
    id_out: str | None = None,
    pos: str = "j",
) -> DataFrame:
    """``(id_out, pos, q)`` rows, one per component of every non-null
    ``vec``: ``pos`` is the 0-based position and ``q`` the snapped
    component. ``id_out`` defaults to ``id_col``, which is then passed
    through unaliased: an alias, even to the same name, is a new column
    to the planner, and a frame pinned downstream would lose its hash
    partitioning on the id."""
    ident = F.col(id_col)
    if id_out not in (None, id_col):
        ident = ident.alias(id_out)
    return (
        df.filter(F.col(vec).isNotNull())
        .select(ident, F.posexplode(vec).alias(pos, "e"))
        .select(id_out or id_col, pos, snap(F.col("e"), grid).alias("q"))
    )


def nearest_cells(dists: DataFrame, keys: "list[str]", n: int) -> DataFrame:
    """The ``n`` nearest cells per ``keys`` of (..., cell, dist) rows:
    ``rn`` is the row_number over ``keys`` ordered by (dist, cell), so on
    an exact-int distance tie the lower cell wins; rows with
    ``rn <= n`` are kept."""
    w = Window.partitionBy(*keys).orderBy(F.asc("dist"), F.asc("cell"))
    return dists.withColumn("rn", F.row_number().over(w)).filter(
        F.col("rn") <= n
    )


def snap_np(vectors, grid: int) -> np.ndarray:
    """The numpy twin of :func:`snap` over a batch of equal-length
    vectors (a pandas Series of arrays, or any sequence of vectors): an
    ``n × dim`` int64 matrix. Raises ``ValueError`` if any component is
    NULL, NaN or infinite."""
    x = np.stack(list(vectors)).astype(np.float64)
    if not np.isfinite(x).all():
        raise ValueError(
            "snap_np: a vector component is NULL, NaN or infinite"
        )
    return np.floor(x * float(grid) + 0.5).astype(np.int64)


def sq_dists(A: np.ndarray, B: np.ndarray) -> np.ndarray:
    """``len(A) × len(B)`` squared distances between int64 grid rows,
    via the binomial identity ``|a|² + |b|² − 2·a·b``."""
    a2 = np.einsum("ij,ij->i", A, A)
    b2 = np.einsum("ij,ij->i", B, B)
    return a2[:, None] + b2[None, :] - 2 * (A @ B.T)


def plane_keys(x: np.ndarray, mats: list, strict: bool) -> np.ndarray:
    """``len(x) × len(mats)`` int64 hyperplane bucket keys: bit ``p`` of
    table ``t``'s key is set when ``x · mats[t][:, p]`` is ``> 0``
    (``strict``) or ``>= 0``."""
    keys = np.zeros((len(x), len(mats)), dtype=np.int64)
    for t, mat in enumerate(mats):
        dots = x @ mat
        bits = (dots > 0) if strict else (dots >= 0)
        for p in range(bits.shape[1]):
            keys[:, t] |= bits[:, p].astype(np.int64) << p
    return keys

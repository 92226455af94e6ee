"""Exact-grid k-means (full-dimension Lloyd) shared by the trained-model
queries text_topic_clusters, dedup_semantic and embed_ivf_ann.

Same contract as ``operators/quantization.pq_train_exact`` with m=1:
every quantity in the training loop is an int64 on the component grid or
an exact-operand double (the snapped mean's one division), so seeds,
assignment argmins and re-centered means are reproducible term-for-term
in DuckDB CTEs — which is what lets data-TRAINED clustering queries sit
under the value-hash oracle gate instead of rows-only checks.

Helpers come in mirrored pairs: the Spark builder and the SQL twin MUST
stay in lockstep (same seed rule: cell = id rank; same argmin tiebreak:
lowest cell; same mean: FLOOR(SUM(q)/COUNT(*) + 0.5); same empty-cell
carry-forward).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from youtube_etl_project_spark.operators.checkpointing import pin
from youtube_etl_project_spark.operators.grid import (
    GRID,
    nearest_cells,
    snap_np,
    sq_dists,
)


def kmeans_train_exact(
    qe: DataFrame, k: int, iters: int = 2
) -> dict[tuple[int, int], int]:
    """Train k exact-grid centroids over (id, pos, q) rows (``grid_rows``
    with ``id_out="id", pos="pos"``); returns {(cell, pos): cq}. Seeds =
    the k lowest ids (cell = id rank); each round is one broadcast-join
    assignment + one snapped-mean aggregate; only model-sized centroid
    tables (k·dim rows) reach the driver."""
    spark = qe.sparkSession
    qe = pin(qe)  # reused every round + by callers
    seed_ids = sorted(
        r["id"]
        for r in qe.select("id")
        .distinct()
        .orderBy(F.col("id").asc())
        .limit(k)
        .collect()
    )
    if len(seed_ids) < k:
        raise ValueError(
            f"kmeans_train_exact: only {len(seed_ids)} vectors for k={k}"
        )
    seed_df = spark.createDataFrame(
        [(int(v), c) for c, v in enumerate(seed_ids)], "id long, cell int"
    )
    books: dict[tuple[int, int], int] = {
        (r["cell"], r["pos"]): r["q"]
        for r in qe.join(F.broadcast(seed_df), "id")
        .select("cell", "pos", "q")
        .collect()
    }
    for _ in range(iters):
        cb = spark.createDataFrame(
            [(c, p, q) for (c, p), q in books.items()],
            "cell int, pos int, cq long",
        )
        assign = kmeans_assign_exact(qe, cb)
        means = (
            assign.join(qe, "id")
            .groupBy("cell", "pos")
            .agg(
                F.floor(
                    F.sum("q").cast("double") / F.count(F.lit(1))
                    + F.lit(0.5)
                )
                .cast("long")
                .alias("cq")
            )
            .collect()
        )
        fresh = dict(books)
        for r in means:
            fresh[(r["cell"], r["pos"])] = r["cq"]
        books = fresh
    return books


def centroid_df(spark, books: dict[tuple[int, int], int]) -> DataFrame:
    return spark.createDataFrame(
        [(c, p, q) for (c, p), q in books.items()],
        "cell int, pos int, cq long",
    )


def kmeans_dists_exact(qe: DataFrame, cb: DataFrame) -> DataFrame:
    """(id, cell, dist): exact int64 squared distance of every vector to
    every centroid — broadcast codebook join, whole-stage codegen."""
    d = F.col("q") - F.col("cq")
    return (
        qe.join(F.broadcast(cb), "pos")
        .groupBy("id", "cell")
        .agg(F.sum(d * d).cast("long").alias("dist"))
    )


def kmeans_assign_exact(qe: DataFrame, cb: DataFrame) -> DataFrame:
    """(id, cell): nearest centroid, lowest cell on exact-int ties."""
    return nearest_cells(kmeans_dists_exact(qe, cb), ["id"], 1).select(
        "id", "cell"
    )


def kmeans_assign_arrow(
    df: DataFrame,
    id_col: str,
    vec: str,
    books: dict[tuple[int, int], int],
) -> DataFrame:
    """(id, cell) as ONE Arrow int64 pass over the raw vectors — the
    corpus-wide twin of :func:`kmeans_assign_exact` for a trained books
    DICT: the exploded form fans every (id, pos) row out k× through the
    broadcast centroid join (k≈√n ⇒ ~180 M join rows at sf0.1) before
    aggregating; here the same exact integers come from one numpy
    matmul per batch (``grid.sq_dists``). Distances stay far inside
    int64 (≤ 64·(2·GRID)² ≪ 2⁶³ for unit-range components), and
    np.argmin returns the FIRST minimum — cell-ascending columns ⇒ the
    lowest-cell tiebreak. The books stay model-sized in the task
    closure."""
    import pandas as pd

    cells = sorted({c for c, _ in books})
    poss = sorted({p for _, p in books})
    cmat = [[books[(c, p)] for p in poss] for c in cells]

    def batches(it: "Iterator[pd.DataFrame]") -> "Iterator[pd.DataFrame]":
        import numpy as np
        import pandas as pd

        Cm = np.asarray(cmat, dtype=np.int64)
        cells_arr = np.asarray(cells, dtype=np.int32)
        for pdf in it:
            if not len(pdf):
                continue
            d = sq_dists(snap_np(pdf[vec], GRID), Cm)
            yield pd.DataFrame(
                {
                    "id": pdf[id_col].to_numpy(),
                    "cell": cells_arr[d.argmin(axis=1)],
                }
            )

    return (
        df.filter(F.col(vec).isNotNull())
        .select(id_col, vec)
        .mapInPandas(batches, "id long, cell int")
    )


def kmeans_exact_ctes(k_sql: str | int) -> str:
    """DuckDB twin of train+assign with the trainer's default 2 rounds.
    The caller's WITH list must already define ``qe(id, pos, q)``; this
    appends seed/c0, the unrolled rounds (d_i/a_i/m_i/c_i), the final
    distances (``kdists``) and assignments (``kassign(id, cell)``).
    ``k_sql`` may be an int literal or a scalar subquery string
    (dynamic k)."""
    iters = 2
    parts = [
        f""", seed AS (
            SELECT id,
                   CAST(ROW_NUMBER() OVER (ORDER BY id) - 1 AS INT) AS cell
            FROM (SELECT DISTINCT id FROM qe)
        ), c0 AS MATERIALIZED (
            SELECT s.cell, qe.pos, qe.q AS cq
            FROM qe JOIN seed s ON s.id = qe.id
            WHERE s.cell < {k_sql}
        )"""
    ]
    for i in range(1, iters + 1):
        parts.append(
            f""", d{i} AS (
            SELECT qe.id, c.cell,
                   CAST(SUM((qe.q - c.cq) * (qe.q - c.cq)) AS BIGINT)
                       AS dist
            FROM qe JOIN c{i - 1} c ON c.pos = qe.pos
            GROUP BY 1, 2
        ), a{i} AS (
            SELECT id, cell FROM (
                SELECT id, cell,
                       ROW_NUMBER() OVER (PARTITION BY id
                                          ORDER BY dist ASC, cell ASC)
                           AS rn
                FROM d{i}
            ) WHERE rn = 1
        ), m{i} AS (
            SELECT a.cell, qe.pos,
                   CAST(FLOOR(CAST(SUM(qe.q) AS DOUBLE) / COUNT(*) + 0.5)
                        AS BIGINT) AS cq
            FROM a{i} a JOIN qe ON qe.id = a.id
            GROUP BY 1, 2
        ), c{i} AS MATERIALIZED (
            SELECT c.cell, c.pos, COALESCE(m.cq, c.cq) AS cq
            FROM c{i - 1} c LEFT JOIN m{i} m
              ON m.cell = c.cell AND m.pos = c.pos
        )"""
        )
    parts.append(
        f""", kdists AS MATERIALIZED (
            SELECT qe.id, c.cell,
                   CAST(SUM((qe.q - c.cq) * (qe.q - c.cq)) AS BIGINT)
                       AS dist
            FROM qe JOIN c{iters} c ON c.pos = qe.pos
            GROUP BY 1, 2
        ), kassign AS (
            SELECT id, cell FROM (
                SELECT id, cell,
                       ROW_NUMBER() OVER (PARTITION BY id
                                          ORDER BY dist ASC, cell ASC)
                           AS rn
                FROM kdists
            ) WHERE rn = 1
        )"""
    )
    return "".join(parts)

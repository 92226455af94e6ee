"""Product quantization (PQ) for the embedding column — the FAISS-IVFPQ
compression path re-expressed Spark-first.

A d-dim vector splits into ``m`` subvectors of d/m dims; each subspace
gets its own k-entry codebook (k-means), and a vector stores only its m
nearest-code ids: m bytes instead of 4·d (64-dim float32 → 8 bytes at
m=8, k=16 — 32×). Asymmetric distance computation (ADC) then scores a
full-precision query against codes via an m×k lookup table, never
touching the original vectors.

Scale shape:

* **Training** runs ALL m subspaces in one DataFrame pass per Lloyd
  iteration: explode each vector into (sub_id, subvec) rows once, assign
  with a single Arrow-vectorized matmul UDF (numpy per batch, grouped by
  sub_id), aggregate per-(sub, cell, pos) means. Only the m×k×(d/m)
  codebook tensor reaches the driver — model-sized state, same rule as
  ``kmeans_centroids`` / IVF.
* **Determinism**: seeds are the k lowest-id vectors' subvectors;
  per-cell means aggregate FLOOR(val·1e9 + 0.5) BIGINT sums (associative
  integer addition — partial-aggregation order can't change the result),
  divided back once. The numpy replica in tests/test_pq.py reproduces
  the exact same centroids, codes, and RMSE values.
* **Code assignment** is Arrow-batched numpy (whitelisted in
  tests/test_plan_audit.py): dense per-row linear algebra belongs in
  numpy, per the measured rule on ``nearest_centroid_vectorized``.

Reference parity note: the reference system has no vector pipeline at
all (its analytics end at Snowflake SQL aggregation —
src/snowflake_loader.py:42-193); PQ belongs to the §2b LLM-pipeline
extension surface alongside IVF/LSH ANN.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from youtube_etl_project_spark.operators.checkpointing import pin
from youtube_etl_project_spark.operators.grid import (
    GRID,
    grid_rows,
    nearest_cells,
    snap,
)
from pyspark.sql.functions import pandas_udf

_GRID = 1e9  # mean-snap grid: exact in bigint, ~9 fractional digits


def _subvector_rows(df: DataFrame, id_col: str, vec: str, m: int,
                    dim: int) -> DataFrame:
    """(id, sub_id, sv) rows — one explode, m slices per vector."""
    dsub = dim // m
    slices = F.array(*[
        F.slice(F.col(vec), 1 + i * dsub, dsub) for i in range(m)
    ])
    return df.filter(F.col(vec).isNotNull()).select(
        F.col(id_col).alias("id"),
        F.posexplode(slices).alias("sub_id", "sv"),
    )


def _assign_codes_udf(codebooks: np.ndarray):
    """Arrow UDF: nearest code per (sub_id, subvec) row batch.

    codebooks: (m, k, dsub) float64. One ``-2·X·Cᵀ + |C|²`` matmul per
    distinct sub_id in the batch (|X|² drops out of the argmin); argmin
    takes the lowest index on ties — same rule as the numpy replica.
    """
    C = np.ascontiguousarray(codebooks, dtype=np.float64)
    c2 = (C * C).sum(axis=2)  # m × k

    @pandas_udf("int")
    def assign(sub_id: pd.Series, sv: pd.Series) -> pd.Series:
        sub = sub_id.to_numpy()
        out = np.zeros(len(sub), dtype="int32")
        if len(sub):
            x = np.stack(sv.to_numpy()).astype(np.float64)  # batch × dsub
            for s in np.unique(sub):
                mask = sub == s
                d = -2.0 * (x[mask] @ C[s].T) + c2[s]
                out[mask] = d.argmin(axis=1).astype("int32")
        return pd.Series(out)

    return assign


def pq_train(
    df: DataFrame,
    id_col: str = "vec_id",
    vec: str = "embedding",
    m: int = 8,
    dim: int = 64,
    k: int = 16,
    iters: int = 2,
) -> np.ndarray:
    """Train m per-subspace codebooks; returns (m, k, dsub) float64.

    Seeds = subvectors of the k lowest-id non-null vectors (all m
    subspaces seed from the same vectors). Each Lloyd round is ONE
    distributed pass: vectorized assignment, then per-(sub, cell, pos)
    grid-snapped integer mean. Empty cells keep their previous centroid.
    """
    dsub = dim // m
    sub = pin(
        _subvector_rows(df, id_col, vec, m, dim)
    )  # reused every iteration; never re-explode upstream

    seed_rows = (
        sub.withColumn(
            "__rn",
            F.row_number().over(
                Window.partitionBy("sub_id").orderBy(F.col("id").asc())
            ),
        )
        .filter(F.col("__rn") <= k)
        .select("sub_id", "__rn", "sv")
        .collect()
    )
    books = np.zeros((m, k, dsub), dtype=np.float64)
    for r in seed_rows:
        books[r["sub_id"], r["__rn"] - 1] = np.asarray(r["sv"], dtype=np.float64)

    for _ in range(iters):
        assigned = sub.withColumn(
            "cell", _assign_codes_udf(books)(F.col("sub_id"), F.col("sv"))
        )
        rows = (
            assigned.select(
                "sub_id", "cell", F.posexplode("sv").alias("pos", "val")
            )
            .groupBy("sub_id", "cell", "pos")
            .agg(
                F.sum(snap(F.col("val"), _GRID)).alias("s"),
                F.count(F.lit(1)).alias("n"),
            )
            .collect()
        )
        fresh = books.copy()
        for r in rows:
            fresh[r["sub_id"], r["cell"], r["pos"]] = (
                float(r["s"]) / _GRID / float(r["n"])
            )
        books = fresh
    return books


def quantized_components(
    df: DataFrame,
    id_col: str = "vec_id",
    vec: str = "embedding",
    m: int = 8,
    dim: int = 64,
    grid: int = GRID,
) -> DataFrame:
    """(id, sub, pos, q) rows: :func:`grid.grid_rows` split into m
    subspaces of dim/m positions."""
    dsub = dim // m
    return grid_rows(df, id_col, vec, grid, id_out="id").select(
        "id",
        (F.col("j") / dsub).cast("long").alias("sub"),
        (F.col("j") % dsub).alias("pos"),
        "q",
    )


def pq_train_exact(
    df: DataFrame,
    id_col: str = "vec_id",
    vec: str = "embedding",
    m: int = 8,
    dim: int = 64,
    k: int = 16,
    iters: int = 2,
    grid: int = GRID,
) -> dict[tuple[int, int, int], int]:
    """EXACT-arithmetic PQ trainer: every quantity in the Lloyd loop is an
    integer on the grid, so the whole training run — seeds, assignment
    argmins, snapped means — is reproducible term-for-term in ANSI SQL
    and the queries built on it carry full DuckDB oracles (this is what
    converted embed_pq_rmse/adc/rerank from rows-only to value-hashed,
    round 7).

    Semantics: seeds = the k lowest-id non-null vectors' subvectors
    (cell = id rank); each round assigns every (vector, subspace) to the
    cell minimizing the exact squared distance Σ(q−cq)² (lowest cell on
    ties), then re-centers each (sub, cell, pos) at
    ``FLOOR(SUM(q)/COUNT(*) + 0.5)`` — one double division of exact
    integer operands, identical in Spark/DuckDB/Python. Empty cells keep
    their previous centroid.

    Scale shape: assignment is a broadcast join of the m·k·dsub-row
    codebook against the exploded components (whole-stage codegen, no
    Python); only model-sized centroid tables (m·k·dsub rows) ever reach
    the driver. Returns {(sub, cell, pos): cq}.

    Bounds: |q| ≤ grid·max|v|; dist ≤ dsub·(2·grid)² — int64-safe for
    unit-normalized embeddings at grid 1e6 (dist ≤ 3.2e13).
    """
    qe = pin(quantized_components(df, id_col, vec, m, dim, grid))
    return pq_train_exact_rows(qe, k=k, iters=iters)


def pq_train_exact_rows(
    qe: DataFrame, k: int = 16, iters: int = 2
) -> dict[tuple[int, int, int], int]:
    """The :func:`pq_train_exact` Lloyd loop over pre-built component
    rows ``qe(id, sub, pos, q)`` (already pinned — every round re-reads
    it). Factored out so trainers over DERIVED exact-integer components
    — e.g. IVF-PQ's coarse-quantizer residuals (``plans/ivfpq.py``),
    which are int64 grid differences and therefore exactly on-grid —
    share the identical seed / argmin-tiebreak / snapped-mean /
    empty-cell-carry semantics that the unrolled DuckDB CTE twins
    mirror. Returns {(sub, cell, pos): cq}."""
    spark = qe.sparkSession

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
            f"pq_train_exact: only {len(seed_ids)} non-null vectors for "
            f"k={k} seeds"
        )
    seed_df = spark.createDataFrame(
        [(int(v), c) for c, v in enumerate(seed_ids)], "id long, cell int"
    )
    books: dict[tuple[int, int, int], int] = {
        (r["sub"], r["cell"], r["pos"]): r["q"]
        for r in qe.join(F.broadcast(seed_df), "id")
        .select("sub", "cell", "pos", "q")
        .collect()
    }

    for _ in range(iters):
        cb = spark.createDataFrame(
            [(s, c, p, q) for (s, c, p), q in books.items()],
            "sub long, cell int, pos int, cq long",
        )
        d = F.col("q") - F.col("cq")
        dists = (
            qe.join(F.broadcast(cb), ["sub", "pos"])
            .groupBy("id", "sub", "cell")
            .agg(F.sum(d * d).cast("long").alias("dist"))
        )
        assign = nearest_cells(dists, ["id", "sub"], 1).select(
            "id", "sub", "cell"
        )
        means = (
            assign.join(qe, ["id", "sub"])
            .groupBy("sub", "cell", "pos")
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
            fresh[(r["sub"], r["cell"], r["pos"])] = r["cq"]
        books = fresh
    return books

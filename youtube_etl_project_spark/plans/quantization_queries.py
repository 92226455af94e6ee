"""Product-quantization queries (X3 support): codebook compression audit
and ADC approximate search over the embeddings table.

Round 7 converted the three trained flagships (embed_pq_rmse /
adc_topk / rerank_topk) from rows-only to fully ORACLE-CHECKED: training
now runs on the EXACT integer grid (operators/quantization.pq_train_exact
— seeds, squared-distance argmins, and snapped means are all int64 /
exact-operand arithmetic), so the ENTIRE Lloyd loop unrolls into DuckDB
CTEs (``_pq_exact_train_ctes``) and the driver hash-checks training +
encode + ADC + re-rank end-to-end. The float trainer (``pq_train``)
remains the FAISS-style production path with its numpy-replica pytest
(tests/test_pq.py) and backs the released v1 codebooks.  The serving
path under them (embed_pq_rerank_v1: encode, LUT, ADC shortlist, exact
re-rank) is also oracle-checked.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from youtube_etl_project_spark.operators import fixture_cache
from youtube_etl_project_spark.operators import quantization as pq
from youtube_etl_project_spark.operators.checkpointing import pin
from youtube_etl_project_spark.operators.grid import (
    GRID,
    grid_rows,
    nearest_cells,
)
from youtube_etl_project_spark.registry import register
from youtube_etl_project_spark.sources import load_table

_M, _DIM, _K, _ITERS = 8, 64, 16, 2
_N_QUERIES, _TOPK = 5, 10
_DSUB = _DIM // _M


def _pq_exact_train_ctes() -> str:
    """The WHOLE exact-grid PQ training loop as DuckDB CTEs — the SQL twin
    of ``pq_train_exact``: grid-snap (qe), id-rank seeds (c0), then per
    Lloyd round the exact squared-distance argmin (d_i/a_i), the snapped
    integer mean (m_i) and the empty-cell carry-forward (c_i); finally
    the distances/codes under the trained book (dists_final/enc).
    Every value is an int64 or an exact-operand double both engines
    reproduce bit-for-bit."""
    parts = [
        f"""qe AS MATERIALIZED (
            SELECT vec_id, CAST((u.pos - 1) // {_DSUB} AS BIGINT) AS sub,
                   (u.pos - 1) % {_DSUB} AS pos,
                   CAST(FLOOR(CAST(u.v AS DOUBLE) * {GRID} + 0.5)
                        AS BIGINT) AS q
            FROM embeddings e CROSS JOIN LATERAL (
                SELECT unnest(e.embedding) AS v,
                       generate_subscripts(e.embedding, 1) AS pos
            ) AS u
            WHERE e.embedding IS NOT NULL
        ), seed AS (
            SELECT vec_id,
                   CAST(ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS INT)
                       AS cell
            FROM (SELECT DISTINCT vec_id FROM qe)
        ), c0 AS MATERIALIZED (
            SELECT qe.sub, s.cell, qe.pos, qe.q AS cq
            FROM qe JOIN seed s ON s.vec_id = qe.vec_id
            WHERE s.cell < {_K}
        )"""
    ]
    for i in range(1, _ITERS + 1):
        parts.append(
            f""", d{i} AS (
            SELECT qe.vec_id, qe.sub, c.cell,
                   CAST(SUM((qe.q - c.cq) * (qe.q - c.cq)) AS BIGINT)
                       AS dist
            FROM qe JOIN c{i - 1} c ON c.sub = qe.sub AND c.pos = qe.pos
            GROUP BY 1, 2, 3
        ), a{i} AS (
            SELECT vec_id, sub, cell FROM (
                SELECT vec_id, sub, cell,
                       ROW_NUMBER() OVER (PARTITION BY vec_id, sub
                                          ORDER BY dist ASC, cell ASC)
                           AS rn
                FROM d{i}
            ) WHERE rn = 1
        ), m{i} AS (
            SELECT a.sub, a.cell, qe.pos,
                   CAST(FLOOR(CAST(SUM(qe.q) AS DOUBLE) / COUNT(*) + 0.5)
                        AS BIGINT) AS cq
            FROM a{i} a
            JOIN qe ON qe.vec_id = a.vec_id AND qe.sub = a.sub
            GROUP BY 1, 2, 3
        ), c{i} AS MATERIALIZED (
            SELECT c.sub, c.cell, c.pos, COALESCE(m.cq, c.cq) AS cq
            FROM c{i - 1} c LEFT JOIN m{i} m
              ON m.sub = c.sub AND m.cell = c.cell AND m.pos = c.pos
        )"""
        )
    parts.append(
        f""", dists_final AS MATERIALIZED (
            SELECT qe.vec_id, qe.sub, c.cell,
                   CAST(SUM((qe.q - c.cq) * (qe.q - c.cq)) AS BIGINT)
                       AS dist
            FROM qe JOIN c{_ITERS} c ON c.sub = qe.sub AND c.pos = qe.pos
            GROUP BY 1, 2, 3
        ), enc AS (
            SELECT vec_id, sub, cell FROM (
                SELECT vec_id, sub, cell,
                       ROW_NUMBER() OVER (PARTITION BY vec_id, sub
                                          ORDER BY dist ASC, cell ASC)
                           AS rn
                FROM dists_final
            ) WHERE rn = 1
        )"""
    )
    return "".join(parts)


_PQ_ADC_CTES = f""", lut AS (
            SELECT vec_id AS query_id, sub, cell, dist
            FROM dists_final WHERE vec_id < {_N_QUERIES}
        ), adc AS (
            SELECT l.query_id, e.vec_id,
                   CAST(SUM(l.dist) AS BIGINT) AS adist_q
            FROM enc e JOIN lut l ON l.sub = e.sub AND l.cell = e.cell
            GROUP BY 1, 2
        )"""


def _pq_exact_parts(
    spark: SparkSession, sf_dir: str
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """Spark mirror of the oracle CTEs: train on the exact grid (driver
    holds only the model), then return (qe, dists_final, enc) under the
    trained book. dists_final feeds both enc and the ADC LUT, so it is
    pinned (CLAUDE.md: multi-referenced derived frames)."""
    emb = load_table(spark, sf_dir, "embeddings")
    # the three converted queries share one training run per fixture
    books = fixture_cache.cached_model(
        "pq_book", sf_dir, lambda: pq.pq_train_exact(
            emb, "vec_id", "embedding", _M, _DIM, _K, _ITERS, GRID
        )
    )
    cb = spark.createDataFrame(
        [(s, c, p, q) for (s, c, p), q in books.items()],
        "sub long, cell int, pos int, cq long",
    )
    qe = pin(
        pq.quantized_components(
            emb, "vec_id", "embedding", _M, _DIM, GRID
        ).withColumnRenamed("id", "vec_id")
    )
    d = F.col("q") - F.col("cq")
    dists = pin(
        qe.join(F.broadcast(cb), ["sub", "pos"])
        .groupBy("vec_id", "sub", "cell")
        .agg(F.sum(d * d).cast("long").alias("dist"))
    )
    enc = nearest_cells(dists, ["vec_id", "sub"], 1).select(
        "vec_id", "sub", "cell"
    )
    return qe, dists, enc


def _pq_exact_adc(dists: DataFrame, enc: DataFrame) -> DataFrame:
    """(query_id, vec_id, adist_q): asymmetric distances of every corpus
    vector against the query LUTs — the LUT rows are literally
    dists_final restricted to the query vectors (self included: the
    flagship keeps the self-match-at-rank-1 property)."""
    lut = dists.filter(F.col("vec_id") < _N_QUERIES).select(
        F.col("vec_id").alias("query_id"), "sub", "cell", "dist"
    )
    return (
        enc.join(F.broadcast(lut), ["sub", "cell"])
        .groupBy("query_id", "vec_id")
        .agg(F.sum("dist").cast("long").alias("adist_q"))
    )


@register(
    "embed_pq_rmse",
    oracle=f"""
        WITH {_pq_exact_train_ctes()}, sse AS (
            SELECT vec_id, CAST(SUM(md) AS BIGINT) AS sse
            FROM (
                SELECT vec_id, sub, MIN(dist) AS md
                FROM dists_final GROUP BY 1, 2
            ) GROUP BY 1
        )
        SELECT vec_id,
               ROUND(SQRT(CAST(sse AS DOUBLE) / {_DIM}) / {GRID}.0, 6)
                   AS pq_rmse
        FROM sse
    """,
    doc="X3 compression audit, ORACLE-CHECKED INCLUDING TRAINING (round "
        "7, converted from rows-only): product quantization (m=8 "
        "subspaces × k=16 codes over 64 dims → 8 bytes/vector, 32× vs "
        "float32) with per-vector reconstruction RMSE, trained on the "
        "EXACT integer grid so the full Lloyd loop — seeds, argmin "
        "assignments, snapped means, empty-cell carry — unrolls into "
        "DuckDB CTEs and the driver hash-checks the trainer itself, not "
        "just a frozen model. Assignment is a broadcast codebook join in "
        "codegen; only the 8×16×8 codebook reaches the driver. The PQ "
        "complement of embed_quantize_rmse's scalar int8 audit",
)
def embed_pq_rmse(spark: SparkSession, sf_dir: str) -> DataFrame:
    _, dists, _ = _pq_exact_parts(spark, sf_dir)
    sse = (
        dists.groupBy("vec_id", "sub")
        .agg(F.min("dist").alias("md"))
        .groupBy("vec_id")
        .agg(F.sum("md").cast("long").alias("sse"))
    )
    return sse.select(
        "vec_id",
        F.round(
            F.sqrt(F.col("sse").cast("double") / F.lit(float(_DIM)))
            / F.lit(float(GRID)),
            6,
        ).alias("pq_rmse"),
    )


@register(
    "embed_pq_adc_topk",
    oracle=f"""
        WITH {_pq_exact_train_ctes()}{_PQ_ADC_CTES}
        SELECT query_id, CAST(rnk AS BIGINT) AS rank, vec_id, adist_q
        FROM (
            SELECT query_id, vec_id, adist_q,
                   ROW_NUMBER() OVER (PARTITION BY query_id
                                      ORDER BY adist_q ASC, vec_id ASC)
                       AS rnk
            FROM adc
        ) WHERE rnk <= {_TOPK}
    """,
    doc="X3 ADC search, ORACLE-CHECKED INCLUDING TRAINING (round 7, "
        "converted from rows-only): top-10 neighbours for the 5 "
        "lowest-id query vectors via asymmetric distance under the "
        "exact-grid-trained codebooks — each query's LUT is literally "
        "the dists_final relation restricted to the query vectors "
        "(build once, reuse for codes AND LUTs), the scan is a "
        "broadcast-LUT gather over the codes, and every distance is "
        "exact int64 on the grid. Self-match at rank 1 is preserved "
        "(the query is its own nearest code-gather). (rank, vec_id)-"
        "deterministic; recall floors vs exact L2 in tests/test_pq.py",
)
def embed_pq_adc_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    _, dists, enc = _pq_exact_parts(spark, sf_dir)
    adc = _pq_exact_adc(dists, enc)
    w = Window.partitionBy("query_id").orderBy(
        F.asc("adist_q"), F.asc("vec_id")
    )
    return (
        adc.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= _TOPK)
        .select(
            "query_id",
            F.col("rnk").cast("long").alias("rank"),
            "vec_id",
            "adist_q",
        )
    )


_SHORTLIST = 100


@register(
    "embed_pq_rerank_topk",
    oracle=f"""
        WITH {_pq_exact_train_ctes()}{_PQ_ADC_CTES}, shortlist AS (
            SELECT query_id, vec_id FROM (
                SELECT query_id, vec_id,
                       ROW_NUMBER() OVER (PARTITION BY query_id
                                          ORDER BY adist_q ASC,
                                                   vec_id ASC) AS rnk
                FROM adc
            ) WHERE rnk <= {_SHORTLIST}
        ), exact AS (
            SELECT s.query_id, s.vec_id,
                   CAST(SUM((qa.q - qb.q) * (qa.q - qb.q)) AS BIGINT)
                       AS l2q
            FROM shortlist s
            JOIN qe qa ON qa.vec_id = s.query_id
            JOIN qe qb ON qb.vec_id = s.vec_id
                      AND qb.sub = qa.sub AND qb.pos = qa.pos
            GROUP BY 1, 2
        )
        SELECT query_id, CAST(rnk AS BIGINT) AS rank, vec_id, l2q
        FROM (
            SELECT query_id, vec_id, l2q,
                   ROW_NUMBER() OVER (PARTITION BY query_id
                                      ORDER BY l2q ASC, vec_id ASC)
                       AS rnk
            FROM exact
        ) WHERE rnk <= {_TOPK}
    """,
    doc="X3 production ANN pattern, ORACLE-CHECKED INCLUDING TRAINING "
        "(round 7, converted from rows-only): ADC over the exact-grid-"
        "trained codes builds a 100-candidate shortlist per query (the "
        "scan never touches the float vectors), then EXACT quantized L2 "
        "re-ranks just the shortlist to the final top-10. Every stage — "
        "Lloyd training, encode, LUT, ADC, shortlist, re-rank — is int64 "
        "arithmetic shared with the DuckDB twin. The re-rank join moves "
        "|queries|·shortlist rows; recall floors in tests/test_pq.py",
)
def embed_pq_rerank_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    qe, dists, enc = _pq_exact_parts(spark, sf_dir)
    adc = _pq_exact_adc(dists, enc)
    ws = Window.partitionBy("query_id").orderBy(
        F.asc("adist_q"), F.asc("vec_id")
    )
    shortlist = (
        adc.withColumn("rnk", F.row_number().over(ws))
        .filter(F.col("rnk") <= _SHORTLIST)
        .select("query_id", "vec_id")
    )
    qa = qe.filter(F.col("vec_id") < _N_QUERIES).select(
        F.col("vec_id").alias("query_id"), "sub", "pos",
        F.col("q").alias("qa"),
    )
    qb = qe.select(
        F.col("vec_id").alias("vec_id"), "sub", "pos",
        F.col("q").alias("qb"),
    )
    d = F.col("qa") - F.col("qb")
    exact = (
        shortlist.join(F.broadcast(qa), "query_id")
        .join(qb, ["vec_id", "sub", "pos"])
        .groupBy("query_id", "vec_id")
        .agg(F.sum(d * d).cast("long").alias("l2q"))
    )
    wr = Window.partitionBy("query_id").orderBy(
        F.asc("l2q"), F.asc("vec_id")
    )
    return (
        exact.withColumn("rnk", F.row_number().over(wr))
        .filter(F.col("rnk") <= _TOPK)
        .select(
            "query_id",
            F.col("rnk").cast("long").alias("rank"),
            "vec_id",
            "l2q",
        )
    )


def _pq_v1_codebook_q() -> list[tuple[int, int, int, int]]:
    """Frozen v1 PQ codebooks (functions/pq_codebooks_v1.json) on the
    1e6 integer grid: (sub, code, pos, cbq) rows — ONE list feeds both
    the Spark broadcast table and the oracle's VALUES literal."""
    import json
    import math
    import os

    from youtube_etl_project_spark import functions as _fns

    path = os.path.join(
        os.path.dirname(_fns.__file__), "pq_codebooks_v1.json"
    )
    with open(path) as f:
        cb = json.load(f)["codebooks"]  # m × k × dsub
    return [
        (sub, code, pos, int(math.floor(v * GRID + 0.5)))
        for sub, codes in enumerate(cb)
        for code, vec in enumerate(codes)
        for pos, v in enumerate(vec)
    ]


_PQ_V1_VALUES = ", ".join(
    f"({s}, {c}, {p}, {q})" for s, c, p, q in _pq_v1_codebook_q()
)
_PQ_DSUB = 8

def _pq_v1_dists(spark: SparkSession, qe: DataFrame) -> DataFrame:
    """(vec_id, sub, code, dist) of every subvector against the frozen
    v1 codebooks via the binomial identity Σ_p (q_p − c_p)² = Σ q² −
    2·Σ q·c_p + Σ c_p² (round 12, same rewrite as
    similarity_queries._ivf_v1_dists): a pivoted 64-row broadcast join
    plus one per-(vec, sub) aggregate replaces the |codes|× fan-out of
    every (vec, j) row through the codebook join. The per-(sub, code)
    Σ c² term re-attaches by a 128-row broadcast AFTER the aggregate
    (1:1, no fan-out). Exact int64 — every consumer's value hash is
    unchanged (oracles keep the Σ(q−c)² form)."""
    rows = _pq_v1_codebook_q()
    subs = sorted({s for s, _, _, _ in rows})
    codes = sorted({k for _, k, _, _ in rows})
    poss = sorted({p for _, _, p, _ in rows})
    cb = {(s, k, p): q for s, k, p, q in rows}
    piv = spark.createDataFrame(
        [
            (s, p, *[cb[(s, k, p)] for k in codes])
            for s in subs
            for p in poss
        ],
        "sub long, pos int, "
        + ", ".join(f"k{i} long" for i in range(len(codes))),
    )
    normdf = spark.createDataFrame(
        [
            (s, k, sum(cb[(s, k, p)] ** 2 for p in poss))
            for s in subs
            for k in codes
        ],
        "sub long, code int, nrm long",
    )
    dots = qe.join(F.broadcast(piv), ["sub", "pos"]).groupBy(
        "vec_id", "sub"
    ).agg(
        F.sum(F.col("q") * F.col("q")).alias("q2"),
        *[
            F.sum(F.col("q") * F.col(f"k{i}")).alias(f"d{i}")
            for i in range(len(codes))
        ],
    )
    exploded = dots.select(
        "vec_id",
        "sub",
        "q2",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(k).cast("int").alias("code"),
                        F.col(f"d{i}").alias("dot"),
                    )
                    for i, k in enumerate(codes)
                ]
            )
        ).alias("s"),
    ).select(
        "vec_id", "sub", "q2",
        F.col("s.code").alias("code"), F.col("s.dot").alias("dot"),
    )
    return exploded.join(F.broadcast(normdf), ["sub", "code"]).select(
        "vec_id",
        "sub",
        "code",
        (F.col("q2") - 2 * F.col("dot") + F.col("nrm"))
        .cast("long")
        .alias("dist"),
    )


def _v1_components(emb: DataFrame) -> DataFrame:
    """(vec_id, sub, pos, q) grid rows in the v1 codebook's subspaces."""
    return grid_rows(emb, "vec_id", "embedding", GRID).select(
        "vec_id",
        (F.col("j") / _PQ_DSUB).cast("long").alias("sub"),
        (F.col("j") % _PQ_DSUB).alias("pos"),
        "q",
    )


def _pq_v1_spark_parts(spark: SparkSession, sf_dir: str):
    """Spark mirror of the ``embed_pq_rerank_v1`` oracle's qe → dists →
    codes/lut → adc CTEs: returns the (qe, adc) DataFrames, all
    exact-bigint.  ``dists`` feeds both codes and lut, so it is pinned
    once rather than recomputed per reference."""
    emb = load_table(spark, sf_dir, "embeddings")
    qe = _v1_components(emb)
    dists = pin(_pq_v1_dists(spark, qe))
    w = Window.partitionBy("vec_id", "sub").orderBy(
        F.asc("dist"), F.asc("code")
    )
    codes = (
        dists.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("vec_id", "sub", "code")
    )
    lut = dists.filter(F.col("vec_id") < _N_QUERIES).select(
        F.col("vec_id").alias("query_id"), "sub", "code", "dist"
    )
    adc = (
        codes.join(F.broadcast(lut), ["sub", "code"])
        .filter(F.col("query_id") != F.col("vec_id"))
        .groupBy("query_id", F.col("vec_id").alias("neighbor_id"))
        .agg(F.sum("dist").cast("long").alias("adist"))
    )
    return qe, adc


_RERANK_SHORTLIST = 50


@register(
    "embed_pq_rerank_v1",
    oracle=f"""
        WITH cb(sub, code, pos, cbq) AS (VALUES {_PQ_V1_VALUES}),
        qe AS MATERIALIZED (
            SELECT vec_id,
                   CAST((u.pos - 1) // {_PQ_DSUB} AS BIGINT) AS sub,
                   (u.pos - 1) % {_PQ_DSUB} AS pos,
                   CAST(FLOOR(CAST(u.v AS DOUBLE) * 1000000 + 0.5)
                        AS BIGINT) AS q
            FROM embeddings e CROSS JOIN LATERAL (
                SELECT unnest(e.embedding) AS v,
                       generate_subscripts(e.embedding, 1) AS pos
            ) AS u
            WHERE e.embedding IS NOT NULL
        ), dists AS (
            SELECT qe.vec_id, qe.sub, cb.code,
                   CAST(SUM((qe.q - cb.cbq) * (qe.q - cb.cbq))
                        AS BIGINT) AS dist
            FROM qe JOIN cb ON cb.sub = qe.sub AND cb.pos = qe.pos
            GROUP BY 1, 2, 3
        ), codes AS (
            SELECT vec_id, sub, code FROM (
                SELECT vec_id, sub, code,
                       ROW_NUMBER() OVER (PARTITION BY vec_id, sub
                                          ORDER BY dist ASC, code ASC)
                           AS rn
                FROM dists
            ) WHERE rn = 1
        ), lut AS (
            SELECT vec_id AS query_id, sub, code, dist
            FROM dists WHERE vec_id < {_N_QUERIES}
        ), adc AS (
            SELECT l.query_id, c.vec_id AS neighbor_id,
                   CAST(SUM(l.dist) AS BIGINT) AS adist
            FROM codes c JOIN lut l ON l.sub = c.sub AND l.code = c.code
            WHERE l.query_id <> c.vec_id
            GROUP BY 1, 2
        ), shortlist AS (
            SELECT query_id, neighbor_id FROM (
                SELECT query_id, neighbor_id,
                       ROW_NUMBER() OVER (PARTITION BY query_id
                                          ORDER BY adist ASC,
                                                   neighbor_id ASC) AS rnk
                FROM adc
            ) WHERE rnk <= {_RERANK_SHORTLIST}
        ), exact AS (
            SELECT s.query_id, s.neighbor_id,
                   CAST(SUM((qa.q - qb.q) * (qa.q - qb.q))
                        AS BIGINT) AS d2
            FROM shortlist s
            JOIN qe qa ON qa.vec_id = s.query_id
            JOIN qe qb ON qb.vec_id = s.neighbor_id
                      AND qb.sub = qa.sub AND qb.pos = qa.pos
            GROUP BY 1, 2
        )
        SELECT query_id, neighbor_id, CAST(rnk AS BIGINT) AS rank, d2
        FROM (
            SELECT query_id, neighbor_id, d2,
                   ROW_NUMBER() OVER (PARTITION BY query_id
                                      ORDER BY d2 ASC,
                                               neighbor_id ASC) AS rnk
            FROM exact
        ) WHERE rnk <= {_TOPK}
    """,
    doc="X3 production ANN pattern, ORACLE-CHECKED end-to-end: ADC over "
        "the v1 codes builds a 50-candidate shortlist per query (the "
        "scan never touches the float vectors), then EXACT quantized L2 "
        "re-ranks just the shortlist to the final top-10 — the "
        "embed_pq_rerank_topk shape with every stage (encode, LUT, ADC, "
        "shortlist, exact re-rank, rank) in exact bigint arithmetic "
        "shared with DuckDB. The re-rank join moves |queries|*shortlist "
        "rows; everything corpus-sized is one broadcast-LUT pass",
)
def embed_pq_rerank_v1(spark: SparkSession, sf_dir: str) -> DataFrame:
    qe, adc = _pq_v1_spark_parts(spark, sf_dir)
    ws = Window.partitionBy("query_id").orderBy(
        F.asc("adist"), F.asc("neighbor_id")
    )
    shortlist = (
        adc.withColumn("rnk", F.row_number().over(ws))
        .filter(F.col("rnk") <= _RERANK_SHORTLIST)
        .select("query_id", "neighbor_id")
    )
    qa = qe.filter(F.col("vec_id") < _N_QUERIES).select(
        F.col("vec_id").alias("query_id"), "sub", "pos",
        F.col("q").alias("qa"),
    )
    qb = qe.select(
        F.col("vec_id").alias("neighbor_id"), "sub", "pos",
        F.col("q").alias("qb"),
    )
    d = F.col("qa") - F.col("qb")
    exact = (
        shortlist.join(F.broadcast(qa), "query_id")
        .join(qb, ["neighbor_id", "sub", "pos"])
        .groupBy("query_id", "neighbor_id")
        .agg(F.sum(d * d).cast("long").alias("d2"))
    )
    wr = Window.partitionBy("query_id").orderBy(
        F.asc("d2"), F.asc("neighbor_id")
    )
    return (
        exact.withColumn("rnk", F.row_number().over(wr))
        .filter(F.col("rnk") <= _TOPK)
        .select(
            "query_id",
            "neighbor_id",
            F.col("rnk").cast("long").alias("rank"),
            "d2",
        )
    )

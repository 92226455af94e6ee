"""Embedding wave 2: distributed PCA (train-distributed / model-collect /
apply-vectorized — the dimensionality-reduction step in front of ANN at
scale) and its oracle-checkable cross-check, per-dimension variance.

The variance query is deliberately the diagonal of the covariance the PCA
moment pass computes: ``tests/test_pca.py`` asserts the two agree, so the
Arrow moment kernel is pinned against a DuckDB-verified result even though
eigenvectors themselves aren't SQL-expressible."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from youtube_etl_project_spark.operators import fixture_cache
from youtube_etl_project_spark.operators.checkpointing import pin
from youtube_etl_project_spark.operators.grid import GRID, grid_rows, snap
from youtube_etl_project_spark.registry import register
from youtube_etl_project_spark.sources import load_table


@register(
    "embed_dim_variance",
    oracle="""
        WITH vals AS (
            SELECT u.pos - 1 AS pos, u.v
            FROM embeddings e CROSS JOIN LATERAL (
                SELECT unnest(e.embedding) AS v,
                       generate_subscripts(e.embedding, 1) AS pos
            ) AS u
        ), agg AS (
            SELECT pos,
                   COUNT(*) AS n,
                   CAST(SUM(CAST(CAST(v AS DOUBLE) AS DECIMAL(28,10)))
                        AS DOUBLE) AS s1,
                   CAST(SUM(CAST(CAST(v AS DOUBLE) * CAST(v AS DOUBLE)
                                 AS DECIMAL(28,10))) AS DOUBLE) AS s2
            FROM vals GROUP BY pos
        )
        SELECT pos,
               ROUND(GREATEST((s2 - s1 * s1 / n) / n, 0), 6) AS variance
        FROM agg
    """,
    doc="Per-dimension population variance of the embedding column — the "
        "covariance diagonal of the PCA moment pass, as an oracle-checked "
        "query. posexplode to (pos, val) flat columns, decimal-domain "
        "sums (associative → partial-agg order can't diverge from "
        "DuckDB's sequential sum), variance clamped ≥ 0 before rounding "
        "(ADVICE r1: float cancellation can go epsilon-negative)",
)
def embed_dim_variance(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    vals = emb.select(F.posexplode("embedding").alias("pos", "vf")).select(
        "pos", F.col("vf").cast("double").alias("v")
    )
    agg = vals.groupBy("pos").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("v").cast("decimal(28,10)")).cast("double").alias("s1"),
        F.sum((F.col("v") * F.col("v")).cast("decimal(28,10)"))
        .cast("double")
        .alias("s2"),
    )
    return agg.select(
        "pos",
        F.round(
            F.greatest(
                (F.col("s2") - F.col("s1") * F.col("s1") / F.col("n"))
                / F.col("n"),
                F.lit(0.0),
            ),
            6,
        ).alias("variance"),
    )


_EL_S1 = 1_000  # maha / PCA feature grid (keeps every chain in HUGEINT)


def _scatter_qe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(vec_id, j, q) on the 1e3 grid — the moment/scoring input shared
    by the trained Mahalanobis and PCA queries."""
    return grid_rows(
        load_table(spark, sf_dir, "embeddings"), "vec_id", "embedding", _EL_S1
    )


def _collect_scatter(qe: DataFrame):
    """(n, Sx, Cq) as exact Python ints over the 64 dims: Cq =
    n*sum(q_i q_j) - Sx_i Sx_j, the n^2*S1^2-scaled covariance. Dense by
    construction (posexplode emits every position). Model-sized collects
    (d + d^2 rows)."""
    d = 64
    a, bb = qe.alias("a"), qe.alias("b")
    g_rows = (
        a.join(bb, "vec_id")
        .groupBy(F.col("a.j").alias("i"), F.col("b.j").alias("jj"))
        .agg(F.sum(F.col("a.q") * F.col("b.q")).cast("long").alias("v"))
        .collect()
    )
    sx_rows = qe.groupBy("j").agg(
        F.sum("q").cast("long").alias("v")
    ).collect()
    n = qe.select("vec_id").distinct().count()
    Sx = [0] * d
    for r in sx_rows:
        Sx[r["j"]] = int(r["v"])
    Cq = [[0] * d for _ in range(d)]
    for r in g_rows:
        Cq[r["i"]][r["jj"]] = n * int(r["v"]) - Sx[r["i"]] * Sx[r["jj"]]
    return n, Sx, Cq


_SCATTER_SQL = f"""qe AS MATERIALIZED (
            SELECT vec_id, u.pos - 1 AS j,
                   CAST(FLOOR(CAST(u.v AS DOUBLE) * {_EL_S1} + 0.5)
                        AS BIGINT) AS q
            FROM embeddings e CROSS JOIN LATERAL (
                SELECT unnest(e.embedding) AS v,
                       generate_subscripts(e.embedding, 1) AS pos
            ) AS u
            WHERE e.embedding IS NOT NULL
        ), nn AS (
            SELECT CAST(COUNT(*) AS HUGEINT) AS n
            FROM embeddings WHERE embedding IS NOT NULL
        ), sx AS MATERIALIZED (
            SELECT j, CAST(SUM(q) AS HUGEINT) AS v FROM qe GROUP BY j
        ), cq AS MATERIALIZED (
            SELECT p.i, p.j, nn.n * p.v - a.v * b.v AS v
            FROM (SELECT a.j AS i, b.j AS j,
                         CAST(SUM(a.q * b.q) AS HUGEINT) AS v
                  FROM qe a JOIN qe b USING (vec_id) GROUP BY 1, 2) p
            JOIN sx a ON a.j = p.i JOIN sx b ON b.j = p.j CROSS JOIN nn
        ), cent AS MATERIALIZED (
            SELECT qe.vec_id, qe.j, (nn.n * qe.q - sx.v) // nn.n AS c
            FROM qe JOIN sx ON sx.j = qe.j CROSS JOIN nn
        )"""


def _pca_oracle() -> str:
    from youtube_etl_project_spark.plans.exact_linalg import (
        PCA_ITERS,
        pca_ctes,
    )

    return f"""
        WITH {_SCATTER_SQL}{pca_ctes(64, 16)}, proj AS (
            SELECT c.vec_id, v.k,
                   CAST(SUM(c.c * v.v) AS HUGEINT) // {_EL_S1} AS pq
            FROM cent c JOIN v{PCA_ITERS} v ON v.i = c.j
            GROUP BY 1, 2
        )
        SELECT p.vec_id, CAST(e.label AS BIGINT) AS label,
               CAST(p.k AS BIGINT) AS pos, CAST(p.pq AS BIGINT) AS pq
        FROM proj p JOIN embeddings e ON e.vec_id = p.vec_id
    """


@register(
    "embed_pca_project",
    oracle=_pca_oracle(),
    doc="X3 scale path, ORACLE-CHECKED INCLUDING TRAINING (round 8, "
        "converted from rows-only via plans/exact_linalg — the last "
        "float-model family): PCA dimensionality reduction 64 → 16 dims "
        "before ANN indexing, trained by 6 rounds of ALL-INTEGER "
        "subspace iteration over the exact n²S1²-scaled scatter matrix "
        "— matvec, classical Gram-Schmidt, and max-abs column "
        "normalization are all tdiv arithmetic (no sqrt, no floats "
        "anywhere in the trainer), which is what makes eigenvector "
        "extraction SQL-expressible as unrolled MATERIALIZED CTEs where "
        "eigh never was. The basis is orthogonal with per-component "
        "max-abs (not unit) scale; tests/test_exact_linalg.py pins ≥90% "
        "of the eigh top-16 captured variance (measured 95-97% on the "
        "fixtures). Plan: one Gram self-join (d² ints collected — the "
        "model), driver-side integer iteration, projection back in "
        "codegen as exploded (vec_id, label, pos, pq) rows on the 1e6 "
        "grid via a broadcast (i, k, v) basis join — the Arrow matmul "
        "left the plan this round. At 100 TB: moment pass is one "
        "map-side-combinable shuffle, projection is scan-speed",
)
def embed_pca_project(spark: SparkSession, sf_dir: str) -> DataFrame:
    from youtube_etl_project_spark.plans.exact_linalg import (
        pca_subspace_train,
    )

    qe = pin(_scatter_qe(spark, sf_dir))

    def train():
        n, Sx, Cq = _collect_scatter(qe)
        return n, Sx, pca_subspace_train(Cq, 16)

    n, Sx, V = fixture_cache.cached_model("pca_basis", sf_dir, train)
    sxdf = spark.createDataFrame(
        [(j, int(v)) for j, v in enumerate(Sx)], "j int, sxv long"
    )
    vdf = spark.createDataFrame(
        [(i, k, int(V[i][k])) for i in range(64) for k in range(16)],
        "i int, k int, v long",
    )
    cent = qe.join(F.broadcast(sxdf), "j").select(
        "vec_id",
        F.col("j").alias("i"),
        F.expr(f"(CAST({n} AS BIGINT) * q - sxv) div {n}").alias("c"),
    )
    proj = (
        cent.join(F.broadcast(vdf), "i")
        .groupBy("vec_id", "k")
        .agg(F.sum(F.col("c") * F.col("v")).alias("dot_q"))
        .select(
            "vec_id",
            "k",
            F.expr(f"dot_q div {_EL_S1}").alias("pq"),
        )
    )
    labels = (
        load_table(spark, sf_dir, "embeddings")
        .filter(F.col("embedding").isNotNull())
        .select("vec_id", F.col("label").cast("long").alias("label"))
    )
    return proj.join(labels, "vec_id").select(
        "vec_id",
        "label",
        F.col("k").cast("long").alias("pos"),
        F.col("pq").cast("long").alias("pq"),
    )


# --- exact-grid trained-model machinery (plans/exact_linalg) -------------
# Every model here is deterministic in the data alone (integer grids,
# tdiv arithmetic) and goes through fixture_cache.cached_model.
_RIDGE_D = 65  # 64 embedding dims + intercept


def _ridge_qe_yy(spark: SparkSession, sf_dir: str):
    """Exact ridge features on the 1e4 grid (intercept row j=64, q=1e4)
    plus integer labels — the Spark mirror of the oracle's qe/yy CTEs."""
    from youtube_etl_project_spark.plans.exact_linalg import RIDGE_S1

    base = load_table(spark, sf_dir, "embeddings").filter(
        F.col("embedding").isNotNull()
    )
    comp = grid_rows(base, "vec_id", "embedding", RIDGE_S1)
    icept = base.select(
        "vec_id",
        F.lit(_RIDGE_D - 1).alias("j"),
        F.lit(RIDGE_S1).cast("long").alias("q"),
    )
    yy = base.select("vec_id", F.col("label").cast("long").alias("yq"))
    return comp.unionAll(icept), yy


def _collect_ridge_stats(qe: DataFrame, yy: DataFrame, d: int):
    """(G, b, n) as exact Python ints — one distributed Gram self-join +
    one moment join, model-sized collects (d^2 + d rows)."""
    a, bb = qe.alias("a"), qe.alias("b")
    g_rows = (
        a.join(bb, "vec_id")
        .groupBy(F.col("a.j").alias("i"), F.col("b.j").alias("jj"))
        .agg(F.sum(F.col("a.q") * F.col("b.q")).cast("long").alias("v"))
        .collect()
    )
    b_rows = (
        qe.join(yy, "vec_id")
        .groupBy("j")
        .agg(F.sum(F.col("q") * F.col("yq")).cast("long").alias("v"))
        .collect()
    )
    n = yy.count()
    G = [[0] * d for _ in range(d)]
    for r in g_rows:
        G[r["i"]][r["jj"]] = int(r["v"])
    b = [0] * d
    for r in b_rows:
        b[r["j"]] = int(r["v"])
    return G, b, n


def _r2_report(scored: DataFrame, yy: DataFrame, keys: list[str]):
    """Exact R^2 report from (key..., vec-level yhat on the 1e6 grid):
    n, r2_micro (1e6 - tdiv(1e6*n*ss_res, n*syy - sy^2), capped at -1e9
    and 0-guarded for degenerate groups), and the two sums as digit
    strings — all bigint/decimal-internal arithmetic, nothing float, so
    both engines reproduce every digit (the registry decimal rule keeps
    decimals INTERNAL: outputs are bigint + strings)."""
    d38 = "decimal(38,0)"
    yq6 = (F.col("yq") * F.lit(1_000_000)).cast(d38)
    resid = F.col("yh").cast(d38) - yq6
    m = scored.join(yy, "vec_id").groupBy(*keys).agg(
        F.count(F.lit(1)).cast(d38).alias("n_d"),
        F.sum(resid * resid).alias("ss_res"),
        F.sum(yq6).alias("sy"),
        F.sum(yq6 * yq6).alias("syy"),
    )
    staged = m.select(
        *keys,
        "n_d",
        "ss_res",
        (F.col("n_d") * F.col("syy") - F.col("sy") * F.col("sy")).alias(
            "nss"
        ),
    )
    r2 = (
        F.when(F.col("nss") == 0, F.lit(0).cast("long"))
        .when(
            F.lit(1_000_000).cast("decimal(38,0)") * F.col("n_d")
            * F.col("ss_res")
            > F.lit(1_001_000_000).cast("decimal(38,0)") * F.col("nss"),
            F.lit(-1_000_000_000).cast("long"),
        )
        .otherwise(
            F.lit(1_000_000).cast("long")
            - F.expr(
                "CAST(1000000 AS DECIMAL(38,0)) * n_d * ss_res div nss"
            )
        )
    )
    return staged.select(
        *keys,
        F.col("n_d").cast("long").alias("n"),
        r2.alias("r2_micro"),
        F.col("ss_res").cast("string").alias("ss_res_q"),
        F.col("nss").cast("string").alias("nss_tot_q"),
    )


def _ridge_r2_oracle() -> str:
    from youtube_etl_project_spark.plans.exact_linalg import (
        RIDGE_ITERS,
        RIDGE_S1,
        ridge_gd_ctes,
    )

    return f"""
        WITH qe AS MATERIALIZED (
            SELECT 0 AS grp, vec_id AS rid, u.pos - 1 AS j,
                   CAST(FLOOR(CAST(u.v AS DOUBLE) * {RIDGE_S1} + 0.5)
                        AS BIGINT) AS q
            FROM embeddings e CROSS JOIN LATERAL (
                SELECT unnest(e.embedding) AS v,
                       generate_subscripts(e.embedding, 1) AS pos
            ) AS u
            WHERE e.embedding IS NOT NULL
            UNION ALL
            SELECT 0, vec_id, {_RIDGE_D - 1}, CAST({RIDGE_S1} AS BIGINT)
            FROM embeddings WHERE embedding IS NOT NULL
        ), yy AS MATERIALIZED (
            SELECT 0 AS grp, vec_id AS rid, CAST(label AS BIGINT) AS yq
            FROM embeddings WHERE embedding IS NOT NULL
        ){ridge_gd_ctes(_RIDGE_D)}, sc AS (
            SELECT qe.rid,
                   CAST(SUM(qe.q * w.wq) AS HUGEINT) // {RIDGE_S1} AS yh
            FROM qe JOIN w{RIDGE_ITERS} w
              ON w.grp = qe.grp AND w.j = qe.j
            GROUP BY qe.rid
        ), m AS (
            SELECT CAST(COUNT(*) AS HUGEINT) AS n,
                   SUM((s.yh - y.yq*1000000) * (s.yh - y.yq*1000000))
                       AS ss_res,
                   SUM(CAST(y.yq AS HUGEINT) * 1000000) AS sy,
                   SUM(CAST(y.yq AS HUGEINT) * 1000000 * y.yq * 1000000)
                       AS syy
            FROM sc s JOIN yy y ON y.rid = s.rid
        )
        SELECT CAST(n AS BIGINT) AS n,
               CAST(CASE WHEN nss = 0 THEN 0
                    WHEN 1000000*n*ss_res > 1001000000*nss
                    THEN -1000000000
                    ELSE 1000000 - (1000000*n*ss_res) // nss
               END AS BIGINT) AS r2_micro,
               CAST(ss_res AS VARCHAR) AS ss_res_q,
               CAST(nss AS VARCHAR) AS nss_tot_q
        FROM (SELECT n, ss_res, n*syy - sy*sy AS nss FROM m)
    """


@register(
    "embed_ridge_r2",
    oracle=_ridge_r2_oracle(),
    doc="Distributed trainable scorer, ORACLE-CHECKED INCLUDING TRAINING "
        "(round 8, converted from rows-only via plans/exact_linalg): "
        "ridge regression of the fixture label on the embedding, trained "
        "by 80 heavy-ball GD iterations on exact integer sufficient "
        "statistics — features on the 1e4 grid, weights on the 1e6 grid, "
        "every update a tdiv both engines share (DuckDB // == Spark div "
        "== truncate-toward-zero; the momentum recurrence matches the "
        "closed-form solution to ~1e-4 R^2, pinned by "
        "tests/test_exact_linalg.py). Plan: ONE distributed Gram "
        "self-join (65^2 ints collected — the model-sized stats, not "
        "data), driver-side Python loop (~80*65^2 bigint multiplies), "
        "scoring back in codegen via a broadcast weight join; the R^2 "
        "report is all-bigint (1e6-grid residuals, n-scaled total sum of "
        "squares, exact integer division) with the big sums as digit "
        "strings. At 100 TB the Gram pass is one map-side-combinable "
        "shuffle of d^2 partials and scoring is scan-speed",
)
def embed_ridge_r2(spark: SparkSession, sf_dir: str) -> DataFrame:
    from youtube_etl_project_spark.plans.exact_linalg import (
        RIDGE_S1,
        ridge_gd_train,
    )

    qe, yy = _ridge_qe_yy(spark, sf_dir)
    qe = pin(qe)  # Gram pass + scoring join both read it
    wq = fixture_cache.cached_model(
        "ridge_w", sf_dir,
        lambda: ridge_gd_train(*_collect_ridge_stats(qe, yy, _RIDGE_D)),
    )
    wdf = spark.createDataFrame(
        [(j, int(w)) for j, w in enumerate(wq)], "j int, wq long"
    )
    scored = (
        qe.join(F.broadcast(wdf), "j")
        .groupBy("vec_id")
        .agg(F.sum(F.col("q") * F.col("wq")).alias("dot_q"))
        .select("vec_id", F.expr(f"dot_q div {RIDGE_S1}").alias("yh"))
    )
    return _r2_report(scored, yy, [])


def _scorer_oracle() -> str:
    from youtube_etl_project_spark.plans.corpus3 import _hash_embed_oracle
    from youtube_etl_project_spark.plans.exact_linalg import (
        RIDGE_ITERS,
        RIDGE_S1,
        ridge_gd_ctes,
    )

    return f"""
        WITH emb AS MATERIALIZED ({_hash_embed_oracle().strip()}),
        docs AS (
            SELECT doc_id, source, CAST(n_chars AS BIGINT) AS yq
            FROM documents
        ), qe AS MATERIALIZED (
            SELECT d.source AS grp, e.doc_id AS rid, u.pos - 1 AS j,
                   CAST(FLOOR(u.v * {RIDGE_S1} + 0.5) AS BIGINT) AS q
            FROM emb e JOIN docs d ON d.doc_id = e.doc_id
            CROSS JOIN LATERAL (
                SELECT unnest(e.embedding) AS v,
                       generate_subscripts(e.embedding, 1) AS pos
            ) AS u
            UNION ALL
            SELECT d.source, e.doc_id, {_RIDGE_D - 1},
                   CAST({RIDGE_S1} AS BIGINT)
            FROM emb e JOIN docs d ON d.doc_id = e.doc_id
        ), yy AS MATERIALIZED (
            SELECT d.source AS grp, e.doc_id AS rid, d.yq
            FROM emb e JOIN docs d ON d.doc_id = e.doc_id
        ){ridge_gd_ctes(_RIDGE_D)}, sc AS (
            SELECT qe.grp, qe.rid,
                   CAST(SUM(qe.q * w.wq) AS HUGEINT) // {RIDGE_S1} AS yh
            FROM qe JOIN w{RIDGE_ITERS} w
              ON w.grp = qe.grp AND w.j = qe.j
            GROUP BY 1, 2
        ), m AS (
            SELECT s.grp,
                   CAST(COUNT(*) AS HUGEINT) AS n,
                   SUM((s.yh - y.yq*1000000) * (s.yh - y.yq*1000000))
                       AS ss_res,
                   SUM(CAST(y.yq AS HUGEINT) * 1000000) AS sy,
                   SUM(CAST(y.yq AS HUGEINT) * 1000000 * y.yq * 1000000)
                       AS syy
            FROM sc s JOIN yy y ON y.grp = s.grp AND y.rid = s.rid
            GROUP BY 1
        )
        SELECT grp AS source, CAST(n AS BIGINT) AS n,
               CAST(CASE WHEN nss = 0 THEN 0
                    WHEN 1000000*n*ss_res > 1001000000*nss
                    THEN -1000000000
                    ELSE 1000000 - (1000000*n*ss_res) // nss
               END AS BIGINT) AS r2_micro,
               CAST(ss_res AS VARCHAR) AS ss_res_q,
               CAST(nss AS VARCHAR) AS nss_tot_q
        FROM (SELECT grp, n, ss_res, n*syy - sy*sy AS nss FROM m)
    """


@register(
    "source_quality_scorer_r2",
    oracle=_scorer_oracle(),
    doc="Per-source trainable quality scorer, ORACLE-CHECKED INCLUDING "
        "TRAINING (round 8, converted from rows-only via "
        "plans/exact_linalg): the many-small-models pattern — documents "
        "→ feature-hashed embeddings (the text_hash_embedding builder) → "
        "ONE exact-grid heavy-ball-GD ridge fit PER SOURCE predicting "
        "the length-quality proxy. The grouped twin of embed_ridge_r2: "
        "identical integer update rule, every CTE keyed by source, so "
        "all groups train in the SAME unrolled SQL chain; Spark "
        "collects the per-group Gram stats (n_sources * 65^2 ints — "
        "model-sized) and loops per group on the driver, then scores "
        "all groups in one broadcast (source, j, wq) join. Per-source "
        "R^2 report is all-bigint with the degenerate-group guards "
        "(nss=0 → 0, quotient cap -1e9) evaluated identically by both "
        "engines. The L2-normalized hash features keep every group's "
        "spectrum in the same eta-stable range (measured: worst-group "
        "R^2 drift vs the closed form 5e-5 at sf0.01)",
)
def source_quality_scorer_r2(spark: SparkSession, sf_dir: str) -> DataFrame:
    from youtube_etl_project_spark.plans.corpus3 import text_hash_embedding
    from youtube_etl_project_spark.plans.exact_linalg import (
        RIDGE_S1,
        ridge_gd_train,
    )

    emb = text_hash_embedding(spark, sf_dir)
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "source", F.col("n_chars").cast("long").alias("yq")
    )
    joined = emb.join(docs, "doc_id")
    comp = joined.select(
        F.col("source").alias("grp"),
        F.col("doc_id").alias("rid"),
        F.posexplode("embedding").alias("j", "e"),
    ).select(
        "grp",
        "rid",
        "j",
        snap(F.col("e"), RIDGE_S1).alias("q"),
    )
    icept = joined.select(
        F.col("source").alias("grp"),
        F.col("doc_id").alias("rid"),
        F.lit(_RIDGE_D - 1).alias("j"),
        F.lit(RIDGE_S1).cast("long").alias("q"),
    )
    qe = pin(comp.unionAll(icept))
    yy = joined.select(
        F.col("source").alias("grp"),
        F.col("doc_id").alias("rid"),
        "yq",
    )

    def train() -> dict[str, list[int]]:
        a, bb = qe.alias("a"), qe.alias("b")
        g_rows = (
            a.join(bb, ["grp", "rid"])
            .groupBy("grp", F.col("a.j").alias("i"), F.col("b.j").alias("jj"))
            .agg(F.sum(F.col("a.q") * F.col("b.q")).cast("long").alias("v"))
            .collect()
        )
        b_rows = (
            qe.join(yy, ["grp", "rid"])
            .groupBy("grp", "j")
            .agg(F.sum(F.col("q") * F.col("yq")).cast("long").alias("v"))
            .collect()
        )
        n_rows = yy.groupBy("grp").agg(
            F.count(F.lit(1)).cast("long").alias("n")
        ).collect()
        stats: dict[str, tuple] = {}
        for r in n_rows:
            stats[r["grp"]] = (
                [[0] * _RIDGE_D for _ in range(_RIDGE_D)],
                [0] * _RIDGE_D,
                int(r["n"]),
            )
        for r in g_rows:
            stats[r["grp"]][0][r["i"]][r["jj"]] = int(r["v"])
        for r in b_rows:
            stats[r["grp"]][1][r["j"]] = int(r["v"])
        return {
            grp: ridge_gd_train(G, b, n) for grp, (G, b, n) in stats.items()
        }

    wmap = fixture_cache.cached_model("scorer_w", sf_dir, train)
    wdf = spark.createDataFrame(
        [(grp, j, int(w)) for grp, ws in wmap.items()
         for j, w in enumerate(ws)],
        "grp string, j int, wq long",
    )
    scored = (
        qe.join(F.broadcast(wdf), ["grp", "j"])
        .groupBy("grp", "rid")
        .agg(F.sum(F.col("q") * F.col("wq")).alias("dot_q"))
        .select(
            "grp", "rid", F.expr(f"dot_q div {RIDGE_S1}").alias("yh")
        )
    )
    d38 = "decimal(38,0)"
    yq6 = (F.col("yq") * F.lit(1_000_000)).cast(d38)
    resid = F.col("yh").cast(d38) - yq6
    m = scored.join(yy, ["grp", "rid"]).groupBy("grp").agg(
        F.count(F.lit(1)).cast(d38).alias("n_d"),
        F.sum(resid * resid).alias("ss_res"),
        F.sum(yq6).alias("sy"),
        F.sum(yq6 * yq6).alias("syy"),
    )
    staged = m.select(
        "grp",
        "n_d",
        "ss_res",
        (F.col("n_d") * F.col("syy") - F.col("sy") * F.col("sy")).alias(
            "nss"
        ),
    )
    r2 = (
        F.when(F.col("nss") == 0, F.lit(0).cast("long"))
        .when(
            F.lit(1_000_000).cast(d38) * F.col("n_d") * F.col("ss_res")
            > F.lit(1_001_000_000).cast(d38) * F.col("nss"),
            F.lit(-1_000_000_000).cast("long"),
        )
        .otherwise(
            F.lit(1_000_000).cast("long")
            - F.expr(
                "CAST(1000000 AS DECIMAL(38,0)) * n_d * ss_res div nss"
            )
        )
    )
    return staged.select(
        F.col("grp").alias("source"),
        F.col("n_d").cast("long").alias("n"),
        r2.alias("r2_micro"),
        F.col("ss_res").cast("string").alias("ss_res_q"),
        F.col("nss").cast("string").alias("nss_tot_q"),
    )


@register(
    "embed_hard_negatives",
    oracle="""
        WITH v AS (
            SELECT vec_id, embedding::DOUBLE[] AS e, label
            FROM embeddings WHERE embedding IS NOT NULL
        ), p AS (
            SELECT a.vec_id AS id, b.vec_id AS cand,
                   a.label = b.label AS same,
                   list_inner_product(a.e, b.e)
                   / (sqrt(list_inner_product(a.e, a.e))
                      * sqrt(list_inner_product(b.e, b.e))) AS c
            FROM v a JOIN v b ON a.vec_id <> b.vec_id
        ), r AS (
            SELECT id, cand, same, c,
                   ROW_NUMBER() OVER (PARTITION BY id, same
                                      ORDER BY c DESC, cand ASC) AS rn
            FROM p
        ), pos AS (
            SELECT id, cand AS pos_id, ROUND(c, 6) AS pos_cos
            FROM r WHERE same AND rn = 1
        ), neg AS (
            SELECT id, cand AS neg_id, ROUND(c, 6) AS neg_cos
            FROM r WHERE NOT same AND rn = 1
        )
        SELECT v.vec_id, pos_id, pos_cos, neg_id, neg_cos,
               ROUND(pos_cos - neg_cos, 6) AS margin
        FROM v
        LEFT JOIN pos ON v.vec_id = pos.id
        LEFT JOIN neg ON v.vec_id = neg.id
    """,
    doc="Contrastive-training data mining: for every vector, its nearest "
        "SAME-label neighbor (the positive) and nearest DIFFERENT-label "
        "neighbor (the hard negative) with the positive-negative margin "
        "— the triplet/InfoNCE mining step. One blocked-matmul pass "
        "tracks both class sides per block "
        "(class_nn_shortlist_blocked: the true per-class argmax is its "
        "own block's class maximum, so it survives the shortlist), then "
        "the exact sequential-fold cosine re-ranks candidates only — "
        "bit-identical to the DuckDB all-pairs oracle while doing "
        "n·shortlist exact work instead of n²",
)
def embed_hard_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    from youtube_etl_project_spark.operators import similarity

    emb = load_table(spark, sf_dir, "embeddings")
    v = emb.filter(F.col("embedding").isNotNull()).select(
        "vec_id", "embedding", "label"
    ).transform(pin)  # shortlist + two re-rank joins

    short = similarity.class_nn_shortlist_blocked(
        v, "vec_id", "embedding", "label"
    )
    a = v.select(F.col("vec_id").alias("id"), F.col("embedding").alias("va"))
    b = v.select(
        F.col("vec_id").alias("cand_id"), F.col("embedding").alias("vb")
    )
    scored = (
        short.join(a, "id")
        .join(b, "cand_id")
        .select(
            "id",
            "cand_id",
            "same",
            similarity.cosine(F.col("va"), F.col("vb")).alias("c"),
        )
    )
    from pyspark.sql import Window

    w = Window.partitionBy("id", "same").orderBy(
        F.col("c").desc(), F.col("cand_id").asc()
    )
    best = scored.withColumn("rn", F.row_number().over(w)).filter(
        F.col("rn") == 1
    )
    pos = best.filter("same").select(
        F.col("id").alias("vec_id"),
        F.col("cand_id").alias("pos_id"),
        F.round("c", 6).alias("pos_cos"),
    )
    neg = best.filter("not same").select(
        F.col("id").alias("vec_id"),
        F.col("cand_id").alias("neg_id"),
        F.round("c", 6).alias("neg_cos"),
    )
    return (
        v.select("vec_id")
        .join(pos, "vec_id", "left")
        .join(neg, "vec_id", "left")
        .select(
            "vec_id",
            "pos_id",
            "pos_cos",
            "neg_id",
            "neg_cos",
            F.round(F.col("pos_cos") - F.col("neg_cos"), 6).alias("margin"),
        )
    )


def _maha_oracle() -> str:
    from youtube_etl_project_spark.plans.exact_linalg import (
        NS_ITERS,
        ns_ctes,
    )

    return f"""
        WITH {_SCATTER_SQL}, eps AS (
            SELECT GREATEST(CAST(1 AS HUGEINT),
                            (SELECT SUM(v) FROM cq WHERE i = j)
                            // (64 * 100)) AS v
        ), aq AS MATERIALIZED (
            SELECT i, j,
                   v + CASE WHEN i = j THEN (SELECT v FROM eps)
                       ELSE 0 END AS v
            FROM cq
        ), sa AS (
            SELECT nn.n * nn.n * {_EL_S1 * _EL_S1} AS v FROM nn
        ){ns_ctes()}, score AS (
            SELECT ci.vec_id,
                   CAST(SUM(ci.c * a.v * cj.c) AS BIGINT) AS score_q
            FROM cent ci
            JOIN x{NS_ITERS} a ON a.i = ci.j
            JOIN cent cj ON cj.vec_id = ci.vec_id AND cj.j = a.j
            GROUP BY 1
        )
        SELECT CAST(rn AS INT) AS rank, vec_id, score_q
        FROM (SELECT vec_id, score_q,
                     ROW_NUMBER() OVER (ORDER BY score_q DESC,
                                        vec_id ASC) AS rn
              FROM score)
        WHERE rn <= 20
    """


@register(
    "embed_mahalanobis_outliers",
    oracle=_maha_oracle(),
    doc="Embedding outlier scoring, ORACLE-CHECKED INCLUDING TRAINING "
        "(round 8, converted from rows-only via plans/exact_linalg): "
        "squared Mahalanobis distance (x−μ)ᵀ Σ̂⁻¹ (x−μ) under the "
        "shrinkage-regularized scatter (ε = 1% of the average variance "
        "on the exact integer grid — Ledoit-Wolf-style, far better "
        "conditioned than the old 1e-6 ridge and the reason 30 "
        "Newton-Schulz rounds reach ~1e-5 relative error, measured). "
        "Training: exact-integer moments (one Gram self-join, d² ints "
        "collected) + grid-snapped Newton-Schulz X←X(2I−AX) on the "
        "driver — pure matmuls, which is what makes the inverse "
        "SQL-expressible as unrolled MATERIALIZED CTEs. Scoring: a "
        "bilinear-form join (explode → centered "
        "via exact tdiv → broadcast Σ̂⁻¹ join → one int64 sum per "
        "vector, all codegen — the pandas_udf left the plan this "
        "round). Top-20 via TakeOrderedAndProject + the two-pass "
        "distributed rank; scores are exact int64 on the S1²·SX grid "
        "(audited ≤ 3.5e16). The corrupt-embedding filter for curation: "
        "a damaged vector inside every coordinate range still lights up "
        "against the joint covariance",
)
def embed_mahalanobis_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    from youtube_etl_project_spark.operators.ranking import global_rank
    from youtube_etl_project_spark.plans.exact_linalg import (
        ns_inverse_train,
        tdiv,
    )

    qe = pin(_scatter_qe(spark, sf_dir))

    def train():
        n, Sx, Cq = _collect_scatter(qe)
        tr = sum(Cq[i][i] for i in range(64))
        epsq = max(1, tdiv(tr, 64 * 100))
        Aq = [
            [Cq[i][j] + (epsq if i == j else 0) for j in range(64)]
            for i in range(64)
        ]
        return n, Sx, ns_inverse_train(Aq, n * n * _EL_S1 * _EL_S1)

    n, Sx, X = fixture_cache.cached_model("mahalanobis_x", sf_dir, train)
    sxdf = spark.createDataFrame(
        [(j, int(v)) for j, v in enumerate(Sx)], "j int, sxv long"
    )
    xdf = spark.createDataFrame(
        [(i, j, int(X[i][j])) for i in range(64) for j in range(64)],
        "i int, j int, aq long",
    )
    cent = qe.join(F.broadcast(sxdf), "j").select(
        "vec_id",
        "j",
        F.expr(f"(CAST({n} AS BIGINT) * q - sxv) div {n}").alias("c"),
    )
    ci = cent.select(
        "vec_id", F.col("j").alias("i"), F.col("c").alias("c_i")
    )
    cj = cent.select("vec_id", "j", F.col("c").alias("c_j"))
    score = (
        ci.join(F.broadcast(xdf), "i")
        .join(cj, ["vec_id", "j"])
        .groupBy("vec_id")
        .agg(
            F.sum(F.col("c_i") * F.col("aq") * F.col("c_j"))
            .cast("long")
            .alias("score_q")
        )
    )
    top = score.orderBy(
        F.col("score_q").desc(), F.col("vec_id").asc()
    ).limit(20)
    ranked, _ = global_rank(
        top, [F.col("score_q").desc(), F.col("vec_id").asc()], "rank",
        num_partitions=4,
    )
    return ranked.select(
        F.col("rank").cast("int").alias("rank"), "vec_id", "score_q"
    )


def _ridge_v1_weights_q() -> tuple[list[tuple[int, int]], int]:
    """Frozen v1 ridge weights (functions/ridge_weights_v1.json) on the
    1e6 grid: ([(j, wq)], intercept_q at 1e12) — the intercept lives on
    the product grid (1e6 component × 1e6 weight) so the whole score is
    one exact bigint sum."""
    import json
    import math
    import os

    from youtube_etl_project_spark import functions as _fns

    path = os.path.join(
        os.path.dirname(_fns.__file__), "ridge_weights_v1.json"
    )
    with open(path) as f:
        w = json.load(f)["weights"]
    wq = [
        (j, int(math.floor(v * 1_000_000 + 0.5)))
        for j, v in enumerate(w[:-1])
    ]
    bq = int(math.floor(w[-1] * 1_000_000_000_000 + 0.5))
    return wq, bq


_RIDGE_WQ, _RIDGE_BQ = _ridge_v1_weights_q()
_RIDGE_VALUES = ", ".join(f"({j}, {q})" for j, q in _RIDGE_WQ)


@register(
    "embed_ridge_score_v1",
    oracle=f"""
        WITH w(j, wq) AS (VALUES {_RIDGE_VALUES}),
        qe AS (
            SELECT vec_id, u.pos - 1 AS j,
                   CAST(FLOOR(CAST(u.v AS DOUBLE) * 1000000 + 0.5)
                        AS BIGINT) AS q
            FROM embeddings e CROSS JOIN LATERAL (
                SELECT unnest(e.embedding) AS v,
                       generate_subscripts(e.embedding, 1) AS pos
            ) AS u
            WHERE e.embedding IS NOT NULL
        )
        SELECT qe.vec_id,
               CAST(SUM(qe.q * w.wq) + {_RIDGE_BQ} AS BIGINT) AS yhat_q
        FROM qe JOIN w ON w.j = qe.j
        GROUP BY qe.vec_id
    """,
    doc="Released-scorer serving path, ORACLE-CHECKED (VERDICT r4 #3): "
        "score every embedding with the frozen v1 ridge weights — "
        "weights and components on the 1e6 grid, so the prediction is "
        "one exact bigint dot product (yhat on the 1e12 product grid, "
        "intercept pre-scaled to match). This is the production shape "
        "of a quality classifier: fit once (embed_ridge_r2, rows-only "
        "by nature — the 65x65 solve), deploy frozen, score 100 TB in "
        "codegen. Explode → broadcast weight join → one sum per vector",
)
def embed_ridge_score_v1(spark: SparkSession, sf_dir: str) -> DataFrame:
    wdf = spark.createDataFrame(_RIDGE_WQ, "j int, wq long")
    emb = load_table(spark, sf_dir, "embeddings")
    qe = grid_rows(emb, "vec_id", "embedding", GRID)
    return (
        qe.join(F.broadcast(wdf), "j")
        .groupBy("vec_id")
        .agg(
            (F.sum(F.col("q") * F.col("wq")) + F.lit(_RIDGE_BQ))
            .cast("long")
            .alias("yhat_q")
        )
    )


@register(
    "ridge_eval_mae_v1",
    oracle=f"""
        WITH scores AS (
            SELECT qe.vec_id,
                   CAST(SUM(qe.q * w.wq) + {_RIDGE_BQ} AS BIGINT) AS yhat_q
            FROM (
                SELECT vec_id, u.pos - 1 AS j,
                       CAST(FLOOR(CAST(u.v AS DOUBLE) * 1000000 + 0.5)
                            AS BIGINT) AS q
                FROM embeddings e CROSS JOIN LATERAL (
                    SELECT unnest(e.embedding) AS v,
                           generate_subscripts(e.embedding, 1) AS pos
                ) AS u
                WHERE e.embedding IS NOT NULL
            ) qe
            JOIN (VALUES {_RIDGE_VALUES}) w(j, wq) ON w.j = qe.j
            GROUP BY qe.vec_id
        )
        SELECT CAST(e.label AS BIGINT) AS label,
               CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(ABS(CAST(e.label AS BIGINT) * 1000000000000
                            - s.yhat_q)) AS BIGINT) AS sum_abs_resid_q
        FROM embeddings e JOIN scores s ON s.vec_id = e.vec_id
        GROUP BY 1
    """,
    doc="Released-scorer EVALUATION report, ORACLE-CHECKED (round 5, "
        "closing the embed_ridge_r2 / source_quality_scorer_r2 evidence "
        "gap): per-class mean-absolute-error audit of the frozen v1 "
        "ridge scorer — labels lift onto the scorer's exact 1e12 "
        "product grid, so every residual, absolute value, and per-class "
        "sum is bigint arithmetic both engines reproduce bit-for-bit "
        "(MAE = sum_abs_resid_q / n / 1e12, derivable by the reader; no "
        "float division enters the hashed output). The train-side "
        "flagships (embed_ridge_r2's 65x65 closed-form solve, "
        "source_quality_scorer_r2's per-group fits) stay rows-only by "
        "nature with numpy parity pinned; this is the deploy-side "
        "scorecard a curation team reads per release",
)
def ridge_eval_mae_v1(spark: SparkSession, sf_dir: str) -> DataFrame:
    scores = embed_ridge_score_v1(spark, sf_dir)
    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("label").cast("long").alias("label")
    )
    resid = F.abs(
        F.col("label") * F.lit(1_000_000_000_000) - F.col("yhat_q")
    )
    return (
        emb.join(scores, "vec_id")
        .groupBy("label")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum(resid).cast("long").alias("sum_abs_resid_q"),
        )
    )


@register(
    "ridge_calibration_v1",
    oracle=f"""
        WITH w(j, wq) AS (VALUES {_RIDGE_VALUES}),
        qe AS (
            SELECT vec_id, u.pos - 1 AS j,
                   CAST(FLOOR(CAST(u.v AS DOUBLE) * 1000000 + 0.5)
                        AS BIGINT) AS q
            FROM embeddings e CROSS JOIN LATERAL (
                SELECT unnest(e.embedding) AS v,
                       generate_subscripts(e.embedding, 1) AS pos
            ) AS u
            WHERE e.embedding IS NOT NULL
        ), s AS (
            SELECT qe.vec_id,
                   CAST(SUM(qe.q * w.wq) + {_RIDGE_BQ} AS BIGINT) AS yhat_q
            FROM qe JOIN w ON w.j = qe.j
            GROUP BY qe.vec_id
        ), b AS (
            SELECT CAST(FLOOR(CAST(s.yhat_q AS DOUBLE) / 500000000000.0)
                        AS BIGINT) AS bin,
                   s.yhat_q, e.label
            FROM s JOIN embeddings e USING (vec_id)
        )
        SELECT bin, CAST(COUNT(*) AS BIGINT) AS n,
               ROUND(CAST(CAST(SUM(CAST(yhat_q AS HUGEINT))
                               AS DECIMAL(38,0)) AS DOUBLE)
                     / CAST(COUNT(*) AS DOUBLE) / 1000000000000.0, 9)
                   AS mean_pred,
               CAST(SUM(label) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE)
                   AS mean_actual
        FROM b GROUP BY bin
    """,
    doc="Calibration (reliability) curve of the frozen v1 ridge scorer: "
        "predictions bucket into fixed 0.5-label-unit bins on the exact "
        "1e12 integer grid (floor of an exact-operand double division — "
        "never an integer div, whose negative-value semantics differ "
        "between engines), and each bin reports size, mean prediction "
        "and mean actual label. A well-calibrated scorer tracks the "
        "diagonal; the curve is what a corpus team reads before trusting "
        "the scorer's thresholds for a 100 TB quality sweep "
        "(complements ridge_eval_mae_v1's per-class error). Exactness: "
        "score sums ride decimal(38,0)/HUGEINT (sum of 1e12-grid scores "
        "passes 2^53 at ~9k rows) and the one double cast is rounded "
        "9 dp post-division per the registry's high-scale decimal rule; "
        "mean_actual is an exact-operand division. Plan: the serving "
        "dot-product (explode → broadcast weight join) plus one 14-row "
        "rollup — scoring cost, not an extra pass",
)
def ridge_calibration_v1(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    scores = embed_ridge_score_v1(spark, sf_dir)
    binned = scores.join(emb.select("vec_id", "label"), "vec_id").select(
        F.floor(
            F.col("yhat_q").cast("double") / F.lit(500_000_000_000.0)
        ).cast("long").alias("bin"),
        "yhat_q",
        "label",
    )
    return binned.groupBy("bin").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.round(
            F.sum(F.col("yhat_q").cast("decimal(38,0)")).cast("double")
            / F.count(F.lit(1)).cast("double")
            / F.lit(1_000_000_000_000.0),
            9,
        ).alias("mean_pred"),
        (
            F.sum("label").cast("double")
            / F.count(F.lit(1)).cast("double")
        ).alias("mean_actual"),
    )


@register(
    "ridge_conformal_v1",
    oracle=f"""
        WITH w(j, wq) AS (VALUES {_RIDGE_VALUES}),
        qe AS (
            SELECT vec_id, u.pos - 1 AS j,
                   CAST(FLOOR(CAST(u.v AS DOUBLE) * 1000000 + 0.5)
                        AS BIGINT) AS q
            FROM embeddings e CROSS JOIN LATERAL (
                SELECT unnest(e.embedding) AS v,
                       generate_subscripts(e.embedding, 1) AS pos
            ) AS u
            WHERE e.embedding IS NOT NULL
        ), s AS (
            SELECT qe.vec_id,
                   CAST(SUM(qe.q * w.wq) + {_RIDGE_BQ} AS BIGINT) AS yhat_q
            FROM qe JOIN w ON w.j = qe.j
            GROUP BY qe.vec_id
        ), res AS (
            SELECT s.vec_id,
                   ABS(s.yhat_q
                       - CAST(e.label AS BIGINT) * 1000000000000) AS r,
                   s.vec_id % 2 AS grp
            FROM s JOIN embeddings e USING (vec_id)
        ), cal AS (
            SELECT r, ROW_NUMBER() OVER (ORDER BY r, vec_id) AS rn
            FROM res WHERE grp = 0
        ), ncal AS (
            SELECT CAST(COUNT(*) AS BIGINT) AS n FROM res WHERE grp = 0
        ), qhat AS (
            SELECT c.r AS q_hat FROM cal c, ncal
            WHERE c.rn = (9 * (ncal.n + 1) + 9) // 10
        ), test AS (
            SELECT r FROM res WHERE grp = 1
        ), cov AS (
            SELECT CAST(COUNT(*) AS BIGINT) AS n_test,
                   CAST(SUM(CASE WHEN t.r <= q.q_hat THEN 1 ELSE 0 END)
                        AS BIGINT) AS n_covered
            FROM test t, qhat q
        )
        SELECT ncal.n AS n_cal, cov.n_test, q.q_hat, cov.n_covered,
               CAST(cov.n_covered AS DOUBLE) / CAST(cov.n_test AS DOUBLE)
                   AS coverage
        FROM ncal, qhat q, cov
    """,
    doc="Split-conformal prediction interval for the frozen v1 ridge "
        "scorer (α=0.1): the even-vec_id half calibrates — q_hat is the "
        "⌈0.9·(n_cal+1)⌉-th smallest absolute residual, an exact bigint "
        "on the 1e12 grid selected by rank (integer ceil, truncating and "
        "flooring division agree on positive operands) — and the odd "
        "half reports empirical coverage of ŷ ± q_hat (exact counts, "
        "one exact-operand division). Conformal is the "
        "distribution-free way to ship a scorer with a guarantee "
        "(coverage ≥ 0.9 regardless of the residual distribution); this "
        "is the audit a corpus team runs before trusting the interval. "
        "Spark-side order statistic via operators/ranking.global_rank — "
        "no unpartitioned window; the oracle's ROW_NUMBER() OVER "
        "(ORDER BY) form would single-task a 100 TB calibration set",
)
def ridge_conformal_v1(spark: SparkSession, sf_dir: str) -> DataFrame:
    from youtube_etl_project_spark.operators.ranking import global_rank

    emb = load_table(spark, sf_dir, "embeddings")
    scores = embed_ridge_score_v1(spark, sf_dir)
    res = scores.join(emb.select("vec_id", "label"), "vec_id").select(
        "vec_id",
        F.abs(
            F.col("yhat_q")
            - F.col("label").cast("long") * F.lit(1_000_000_000_000)
        ).alias("r"),
        (F.col("vec_id") % 2).alias("grp"),
    )
    cal = res.filter(F.col("grp") == 0)
    ranked, n_cal = global_rank(
        cal, [F.col("r").asc(), F.col("vec_id").asc()], "rn"
    )
    k = (9 * (n_cal + 1) + 9) // 10
    if k > n_cal:  # ADVICE r6: degenerate calibration half — the oracle's
        # cross joins would yield ZERO rows while Spark's global agg on
        # the empty cross join still emits one (n_test=0, null q_hat);
        # fail loudly instead of hash-mismatching on a shrunken fixture.
        raise ValueError(
            f"ridge_conformal_v1: calibration rank {k} exceeds n_cal="
            f"{n_cal}; fixture too small for a 90% split-conformal "
            "quantile"
        )
    qhat = ranked.filter(F.col("rn") == k).select(
        F.col("r").alias("q_hat")
    )
    test = res.filter(F.col("grp") == 1).select(
        F.col("r").alias("r_test")
    )
    cov = test.crossJoin(F.broadcast(qhat)).agg(
        F.count(F.lit(1)).cast("long").alias("n_test"),
        F.sum(
            F.when(F.col("r_test") <= F.col("q_hat"), 1).otherwise(0)
        ).cast("long").alias("n_covered"),
        F.first("q_hat").alias("q_hat"),
    )
    return cov.select(
        F.lit(n_cal).cast("long").alias("n_cal"),
        "n_test",
        "q_hat",
        "n_covered",
        (
            F.col("n_covered").cast("double")
            / F.col("n_test").cast("double")
        ).alias("coverage"),
    )

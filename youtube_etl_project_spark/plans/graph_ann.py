"""Graph-based ANN (X3 family, round 9): a navigable-small-world-flavored
neighbor-graph index + greedy beam search, completing the ANN family
matrix (IVF / PQ / LSH / graph). Reference analogue: none — part of the
LLM-pipeline extension surface, like the IVF-PQ capstone.

Architecture (the HNSW idea re-expressed as bounded DataFrame stages):

* **Graph build** — a k-NN graph whose candidate generation is BOUNDED
  (never all-pairs): each vector's candidates are the members of its 2
  nearest coarse cells under the exact-grid-trained IVF quantizer (the
  memoized embed_ivf_ann model doubles as HNSW's upper layer). Top-M
  out-edges by exact grid distance, then the union with reverse edges is
  re-capped at 2M per node — the NN-descent/NSG-style degree bound that
  keeps hub in-degree from exploding. Candidate pairs are 2n²/K with the
  auto K ∝ √n geometry → the same n^1.5 regime as SemDeDup (documented
  in SCALE.md); production would refine with NN-descent rounds, which
  reuse exactly this shape.
* **Search** — greedy beam search as an UNROLLED TRACE (the r7/r8
  exact-grid + id-tiebreak + unrolled-CTE pattern): entry = the lowest-id
  member of the query's nearest cell (the coarse quantizer standing in
  for HNSW's top layer), then T rounds of expand-neighbors → exact grid
  distance → keep beam-B (dist asc, id tiebreak); final top-k over
  everything visited. Every score is exact int64 on the 1e6 grid, so the
  WHOLE trace — build and search — is value-hash oracle-checkable.

Scale shape (100 TB posture): per search round the corpus-sized edge
list is probed by a broadcast beam join (queries x B rows), so round
cost is the probe + a shortlist-sized exact-distance join (≤ q·B·2M
pairs); a deployment buckets the persisted edge list by src for
shuffle-free probes (the ann_index partition-pruning story). The
loop-carried visited/beam frames are pinned per round
(operators/checkpointing rule).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from youtube_etl_project_spark.operators.checkpointing import pin
from youtube_etl_project_spark.operators.grid import (
    GRID,
    grid_rows,
    nearest_cells,
    snap_np,
    sq_dists,
)
from youtube_etl_project_spark.registry import register
from youtube_etl_project_spark.sources import load_table
from youtube_etl_project_spark.sources.catalog import row_count

_N_QUERIES, _TOPK = 10, 5
_M = 8        # k-NN out-degree
_DEG_CAP = 16  # per-node degree cap after reverse-edge union (2M)
_B = 8        # beam width
_T = 3        # search rounds
_NC = 2       # candidate-generation cells per node
_ALPHA_P = 32  # α-prune candidate pool per node (2×DEG_CAP, Vamana-style)


def _nsw_build_ctes(pred: str = "") -> str:
    """Oracle CTEs through ``edges(src, dst, d)`` — the bounded k-NN
    build. Shared by the base NSW query and the NN-descent refinement.
    ``pred`` (a bare-column predicate like ``vec_id % 2 = 0``) restricts
    the TRAINED/INDEXED corpus — the online-ingest oracle builds on
    batch 1 only; empty keeps the original full-corpus text."""
    from youtube_etl_project_spark.plans.exact_kmeans import (
        kmeans_exact_ctes,
    )

    pows = ", ".join(f"({4 * 2**i})" for i in range(11))  # 4 .. 4096
    cnt_where = f" WHERE {pred}" if pred else ""
    qe_and = f" AND {pred}" if pred else ""
    return f"""
        WITH cnt AS (
            SELECT CAST(COUNT(*) AS BIGINT) AS n FROM embeddings{cnt_where}
        ), kk AS (
            SELECT COALESCE(MIN(p), 4096) AS k
            FROM (VALUES {pows}) pows(p), cnt
            WHERE CAST(p AS BIGINT) * p * 125 >= 4 * n
        ), qe AS MATERIALIZED (
            SELECT vec_id AS id, u.pos - 1 AS pos,
                   CAST(FLOOR(CAST(u.v AS DOUBLE) * 1000000 + 0.5)
                        AS BIGINT) AS q
            FROM embeddings e CROSS JOIN LATERAL (
                SELECT unnest(e.embedding) AS v,
                       generate_subscripts(e.embedding, 1) AS pos
            ) AS u
            WHERE e.embedding IS NOT NULL{qe_and}
        ){kmeans_exact_ctes("(SELECT k FROM kk)")},
        rankedc AS (
            SELECT id, cell,
                   ROW_NUMBER() OVER (PARTITION BY id
                                      ORDER BY dist ASC, cell ASC) AS rn
            FROM kdists
        ), member2 AS MATERIALIZED (
            SELECT id, cell FROM rankedc WHERE rn <= {_NC}
        ), pairs AS (
            SELECT m.id AS src, o.id AS dst
            FROM member2 m JOIN kassign o ON o.cell = m.cell
            WHERE o.id <> m.id
        ), pd AS MATERIALIZED (
            SELECT p.src, p.dst,
                   CAST(SUM((a.q - b.q) * (a.q - b.q)) AS BIGINT) AS d
            FROM pairs p
            JOIN qe a ON a.id = p.src
            JOIN qe b ON b.id = p.dst AND b.pos = a.pos
            GROUP BY 1, 2
        ), knn AS (
            SELECT src, dst, d FROM (
                SELECT src, dst, d,
                       ROW_NUMBER() OVER (PARTITION BY src
                                          ORDER BY d ASC, dst ASC) AS rn
                FROM pd
            ) WHERE rn <= {_M}
        ), und AS (
            SELECT src, dst, MIN(d) AS d FROM (
                SELECT src, dst, d FROM knn
                UNION ALL
                SELECT dst AS src, src AS dst, d FROM knn
            ) GROUP BY 1, 2
        ), edges AS MATERIALIZED (
            SELECT src, dst, d FROM (
                SELECT src, dst, d,
                       ROW_NUMBER() OVER (PARTITION BY src
                                          ORDER BY d ASC, dst ASC) AS rn
                FROM und
            ) WHERE rn <= {_DEG_CAP}
        )"""


def _nsw_search_ctes(
    edges: str = "edges",
    assign: str = "kassign",
    qe: str = "qe",
) -> str:
    """Oracle CTEs for the beam-search trace over CTE
    ``{edges}(src, dst, ...)`` with membership ``{assign}(id, cell)``
    and grid rows ``{qe}(id, pos, q)``, ending in the top-``_TOPK``
    projection."""
    parts = [
        f""", entry AS (
            SELECT q.id AS query_id, MIN(o.id) AS id
            FROM {assign} q JOIN {assign} o ON o.cell = q.cell
            WHERE q.id < {_N_QUERIES}
            GROUP BY 1
        ), v0 AS MATERIALIZED (
            SELECT f.query_id, f.id,
                   CAST(SUM((a.q - b.q) * (a.q - b.q)) AS BIGINT) AS d
            FROM entry f
            JOIN {qe} a ON a.id = f.query_id
            JOIN {qe} b ON b.id = f.id AND b.pos = a.pos
            GROUP BY 1, 2
        ), beam0 AS MATERIALIZED (SELECT * FROM v0)""",
    ]
    for t in range(1, _T + 1):
        parts.append(
            f""", f{t} AS (
            SELECT DISTINCT b.query_id, e.dst AS id
            FROM beam{t - 1} b JOIN {edges} e ON e.src = b.id
            WHERE NOT EXISTS (
                SELECT 1 FROM v{t - 1} v
                WHERE v.query_id = b.query_id AND v.id = e.dst
            )
        ), fd{t} AS (
            SELECT f.query_id, f.id,
                   CAST(SUM((a.q - b.q) * (a.q - b.q)) AS BIGINT) AS d
            FROM f{t} f
            JOIN {qe} a ON a.id = f.query_id
            JOIN {qe} b ON b.id = f.id AND b.pos = a.pos
            GROUP BY 1, 2
        ), v{t} AS MATERIALIZED (
            SELECT * FROM v{t - 1} UNION ALL SELECT * FROM fd{t}
        ), beam{t} AS MATERIALIZED (
            SELECT query_id, id, d FROM (
                SELECT query_id, id, d,
                       ROW_NUMBER() OVER (PARTITION BY query_id
                                          ORDER BY d ASC, id ASC) AS rn
                FROM v{t}
            ) WHERE rn <= {_B}
        )"""
        )
    parts.append(
        f"""
        SELECT query_id, id AS neighbor_id, CAST(rnk AS BIGINT) AS rank,
               d AS dist_q
        FROM (
            SELECT query_id, id, d,
                   ROW_NUMBER() OVER (PARTITION BY query_id
                                      ORDER BY d ASC, id ASC) AS rnk
            FROM v{_T} WHERE id <> query_id
        ) WHERE rnk <= {_TOPK}
    """
    )
    return "".join(parts)


def _nsw_oracle() -> str:
    return _nsw_build_ctes() + _nsw_search_ctes()


def _nd_ctes(prev: str = "edges", suffix: str = "") -> str:
    """Oracle CTEs for the NN-descent candidate generation over
    ``{prev}``: two-hop pairs not already edges, with exact grid
    distances — ``nd{suffix}(src, dst, d)``. Shared by the top-M NND
    rounds (knn2/und2/edges2 chains) and the α-pruned wide-pool variant
    (cnd/edges3). ``prev`` must be a MATERIALIZED CTE — it is referenced
    three times here plus the re-rank union (the DuckDB
    single-reference-CTE inlining rule)."""
    return f""", twohop{suffix} AS (
            SELECT DISTINCT e1.src, e2.dst
            FROM {prev} e1 JOIN {prev} e2 ON e2.src = e1.dst
            WHERE e2.dst <> e1.src
        ), newp{suffix} AS (
            SELECT t.src, t.dst FROM twohop{suffix} t
            WHERE NOT EXISTS (
                SELECT 1 FROM {prev} x
                WHERE x.src = t.src AND x.dst = t.dst
            )
        ), nd{suffix} AS MATERIALIZED (
            SELECT p.src, p.dst,
                   CAST(SUM((a.q - b.q) * (a.q - b.q)) AS BIGINT) AS d
            FROM newp{suffix} p
            JOIN qe a ON a.id = p.src
            JOIN qe b ON b.id = p.dst AND b.pos = a.pos
            GROUP BY 1, 2
        )"""


def _nnd_cap_ctes(prev: str, suffix: str, out: str) -> str:
    """Top-M re-rank of ``{prev} ∪ nd{suffix}`` + reverse-union + degree
    cap into MATERIALIZED ``{out}`` — the tail of one NND round."""
    return f""", knn2{suffix} AS (
            SELECT src, dst, d FROM (
                SELECT src, dst, d,
                       ROW_NUMBER() OVER (PARTITION BY src
                                          ORDER BY d ASC, dst ASC) AS rn
                FROM (SELECT src, dst, d FROM {prev}
                      UNION ALL SELECT src, dst, d FROM nd{suffix})
            ) WHERE rn <= {_M}
        ), und2{suffix} AS (
            SELECT src, dst, MIN(d) AS d FROM (
                SELECT src, dst, d FROM knn2{suffix}
                UNION ALL
                SELECT dst AS src, src AS dst, d FROM knn2{suffix}
            ) GROUP BY 1, 2
        ), {out} AS MATERIALIZED (
            SELECT src, dst, d FROM (
                SELECT src, dst, d,
                       ROW_NUMBER() OVER (PARTITION BY src
                                          ORDER BY d ASC, dst ASC) AS rn
                FROM und2{suffix}
            ) WHERE rn <= {_DEG_CAP}
        )"""


def _nsw_nnd_oracle(rounds: int = 1) -> str:
    """Build + ``rounds`` NN-descent refinement rounds (candidates =
    current neighbors-of-neighbors, re-ranked with the existing edges by
    exact distance, degree bound re-applied — the production convergence
    loop unrolled, each round one CTE chain) + the same search trace
    over the final graph."""
    parts, prev = [], "edges"
    for r in range(rounds):
        sfx = "" if r == 0 else f"r{r + 1}"
        out = "edges2" if r == 0 else f"edges2{sfx}"
        parts.append(_nd_ctes(prev=prev, suffix=sfx))
        parts.append(_nnd_cap_ctes(prev=prev, suffix=sfx, out=out))
        prev = out
    return _nsw_build_ctes() + "".join(parts) + _nsw_search_ctes(prev)


def _nsw_alpha_oracle() -> str:
    """Build + NN-descent candidates + WIDE-POOL α-PRUNE: per node the
    candidate pool is the top-P (P = _ALPHA_P = 2×DEG_CAP) of edges ∪
    two-hop by exact distance — the distributed stand-in for Vamana's
    visited-list pool, and the lever that actually restores navigability
    (measured:
    recall@5 0.66 → 0.82 at sf0.001 at the same out-degree cap). Over
    that pool the NSG/MRNG closed-form edge-selection rule: keep edge
    (u,w) unless some candidate v of u strictly closer to u (by (d, id)
    order) satisfies α²·d²(v,w) < d²(u,w) with α² = 3/2 — all exact
    int64 on the grid, so the whole pruned-graph trace stays under the
    value hash. The any-closer-CANDIDATE form (MRNG) rather than
    DiskANN's kept-only sequential form: order-free, hence one
    closed-form NOT EXISTS instead of a per-position unroll, and
    set-parallel on the Spark side."""
    alpha = f""", cnd AS MATERIALIZED (
            SELECT src, dst, d FROM (
                SELECT src, dst, d,
                       ROW_NUMBER() OVER (PARTITION BY src
                                          ORDER BY d ASC, dst ASC) AS rn
                FROM (SELECT src, dst, d FROM edges
                      UNION ALL SELECT src, dst, d FROM nd)
            ) WHERE rn <= {_ALPHA_P}
        ), vwp AS (
            SELECT DISTINCT e1.dst AS v, e2.dst AS w
            FROM cnd e1 JOIN cnd e2
              ON e1.src = e2.src AND e1.dst < e2.dst
        ), vw AS MATERIALIZED (
            SELECT p.v, p.w,
                   CAST(SUM((a.q - b.q) * (a.q - b.q)) AS BIGINT) AS d
            FROM vwp p
            JOIN qe a ON a.id = p.v
            JOIN qe b ON b.id = p.w AND b.pos = a.pos
            GROUP BY 1, 2
        ), vws AS (
            SELECT v, w, d FROM vw
            UNION ALL
            SELECT w AS v, v AS w, d FROM vw
        ), dompairs AS MATERIALIZED (
            SELECT DISTINCT e.src, e.dst
            FROM cnd e
            JOIN cnd c ON c.src = e.src AND c.dst <> e.dst
                      AND (c.d < e.d OR (c.d = e.d AND c.dst < e.dst))
            JOIN vws ON vws.v = c.dst AND vws.w = e.dst
            WHERE 3 * vws.d < 2 * e.d
        ), alpha AS MATERIALIZED (
            SELECT e.src, e.dst, e.d FROM cnd e
            WHERE NOT EXISTS (
                SELECT 1 FROM dompairs dp
                WHERE dp.src = e.src AND dp.dst = e.dst
            )
        ), edges3 AS MATERIALIZED (
            SELECT src, dst, d FROM (
                SELECT src, dst, d,
                       ROW_NUMBER() OVER (PARTITION BY src
                                          ORDER BY d ASC, dst ASC) AS rn
                FROM alpha
            ) WHERE rn <= {_DEG_CAP}
        )"""
    _nsw_alpha_oracle._alpha_ctes = (  # shared by the auto-geometry twin
        _nsw_build_ctes() + _nd_ctes() + alpha
    )
    return _nsw_alpha_oracle._alpha_ctes + _nsw_search_ctes("edges3")


def _nsw_search_auto_ctes(edges: str) -> str:
    """The beam-search trace with AUTO (T, B) from the corpus size — the
    guarded-unroll form of ``_nsw_search_ctes``: ``geo`` mirrors
    :func:`auto_search_geometry` as pure integer SQL (L = smallest p
    with 2^p ≥ n via a VALUES table, the kk-CTE precedent), the unroll
    goes to ``t_max`` = 8 rounds, and each round t guards its frontier with
    ``t ≤ (SELECT tr FROM geo)`` — a skipped round's frontier is empty,
    so v{t} = v{t-1} and beam{t} = beam{t-1}: rounds beyond T are exact
    pass-throughs, which is what lets ONE static SQL string express a
    corpus-dependent round count at every gate scale. Beam width is the
    scalar ``(SELECT bw FROM geo)``. t_max = 8 covers n ≤ 2^16 (any
    gate/bench scale; the Spark loop itself is unbounded)."""
    t_max = 8
    parts = [
        f""", geo AS MATERIALIZED (
            SELECT GREATEST(3, (lg + 1) // 2) AS tr,
                   GREATEST(8, 2 * lg) AS bw
            FROM (
                SELECT MIN(p) AS lg
                FROM (VALUES {", ".join(f"({p}, {2**p})" for p in range(1, 17))})
                     pows(p, v), cnt
                WHERE CAST(v AS BIGINT) >= cnt.n
            )
        ), entry AS (
            SELECT q.id AS query_id, MIN(o.id) AS id
            FROM kassign q JOIN kassign o ON o.cell = q.cell
            WHERE q.id < {_N_QUERIES}
            GROUP BY 1
        ), v0 AS MATERIALIZED (
            SELECT f.query_id, f.id,
                   CAST(SUM((a.q - b.q) * (a.q - b.q)) AS BIGINT) AS d
            FROM entry f
            JOIN qe a ON a.id = f.query_id
            JOIN qe b ON b.id = f.id AND b.pos = a.pos
            GROUP BY 1, 2
        ), beam0 AS MATERIALIZED (SELECT * FROM v0)""",
    ]
    for t in range(1, t_max + 1):
        parts.append(
            f""", f{t} AS (
            SELECT DISTINCT b.query_id, e.dst AS id
            FROM beam{t - 1} b JOIN {edges} e ON e.src = b.id
            WHERE {t} <= (SELECT tr FROM geo)
              AND NOT EXISTS (
                SELECT 1 FROM v{t - 1} v
                WHERE v.query_id = b.query_id AND v.id = e.dst
            )
        ), fd{t} AS (
            SELECT f.query_id, f.id,
                   CAST(SUM((a.q - b.q) * (a.q - b.q)) AS BIGINT) AS d
            FROM f{t} f
            JOIN qe a ON a.id = f.query_id
            JOIN qe b ON b.id = f.id AND b.pos = a.pos
            GROUP BY 1, 2
        ), v{t} AS MATERIALIZED (
            SELECT * FROM v{t - 1} UNION ALL SELECT * FROM fd{t}
        ), beam{t} AS MATERIALIZED (
            SELECT query_id, id, d FROM (
                SELECT query_id, id, d,
                       ROW_NUMBER() OVER (PARTITION BY query_id
                                          ORDER BY d ASC, id ASC) AS rn
                FROM v{t}
            ) WHERE rn <= (SELECT bw FROM geo)
        )"""
        )
    parts.append(
        f"""
        SELECT query_id, id AS neighbor_id, CAST(rnk AS BIGINT) AS rank,
               d AS dist_q
        FROM (
            SELECT query_id, id, d,
                   ROW_NUMBER() OVER (PARTITION BY query_id
                                      ORDER BY d ASC, id ASC) AS rnk
            FROM v{t_max} WHERE id <> query_id
        ) WHERE rnk <= {_TOPK}
    """
    )
    return "".join(parts)


def _nsw_alpha_auto_oracle() -> str:
    _nsw_alpha_oracle()  # materialize the shared alpha chain attribute
    return _nsw_alpha_oracle._alpha_ctes + _nsw_search_auto_ctes("edges3")


def _knn_parts_blocked(m2emb: DataFrame) -> DataFrame:
    """Per-cell exact-int64 k-NN candidates: for each src row of a cell
    group (members + second-choice visitors), the top-M own-member dsts
    by exact squared grid distance (dst-id tiebreak). The distances are
    the same grid int64s the SQL/oracle path computes — numpy int64
    matmul is exact (|dot| <= 64*(2e6)^2 ~ 2.6e14 << 2^63), so this is
    a plan optimization, not a semantics change: dense per-row linear
    algebra runs as Arrow-batched numpy, ~6x over the 2n^2/K-pair
    component join (21 s -> 3.5 s end-to-end at sf0.1, the residue
    being the fixed trace overhead). Per-src top-M within the group;
    the caller re-ranks globally across each src's <= 2 groups."""

    def per_cell(pdf):
        import numpy as np
        import pandas as pd

        Q = snap_np(pdf["embedding"], GRID)
        ids = pdf["id"].to_numpy()
        own = pdf["own"].to_numpy()
        B, bids = Q[own], ids[own]
        if bids.size == 0:
            return pd.DataFrame({"src": [], "dst": [], "d": []})
        D = sq_dists(Q, B)
        src_l, dst_l, d_l = [], [], []
        for i in range(ids.size):
            mask = bids != ids[i]
            dn, dd = bids[mask], D[i][mask]
            if dn.size == 0:
                continue
            sel = np.lexsort((dn, dd))[: min(_M, dn.size)]
            src_l.extend([ids[i]] * sel.size)
            dst_l.extend(dn[sel])
            d_l.extend(dd[sel])
        return pd.DataFrame({"src": src_l, "dst": dst_l, "d": d_l})

    return m2emb.groupBy("cell").applyInPandas(
        per_cell, "src long, dst long, d long"
    )


def _graph_from_parts(
    spark: SparkSession, emb: DataFrame, qe: DataFrame, books: dict
) -> "tuple[DataFrame, DataFrame, DataFrame, DataFrame]":
    """The bounded k-NN graph build over pinned grid rows ``qe`` and a
    trained codebook: (edges pinned, qe, assign(id, cell), cb). Shared
    by the fixture-dir path (nsw_graph) and the from-DataFrame bootstrap
    (nsw_graph_from_vectors — the streaming ingest's first batch)."""
    from youtube_etl_project_spark.plans.exact_kmeans import (
        centroid_df,
        kmeans_dists_exact,
    )

    cb = centroid_df(spark, books)
    ranked = pin(
        nearest_cells(kmeans_dists_exact(qe, cb), ["id"], _NC).select(
            "id", "cell", "rn"
        )
    )
    assign = ranked.filter(F.col("rn") == 1).select("id", "cell")
    m2emb = ranked.join(emb, "id").select(
        "cell", "id", (F.col("rn") == 1).alias("own"), "embedding"
    )
    wsrc = Window.partitionBy("src").orderBy(F.asc("d"), F.asc("dst"))
    # global top-M per src across its <= _NC per-cell candidate sets
    knn = (
        _knn_parts_blocked(m2emb)
        .withColumn("rn", F.row_number().over(wsrc))
        .filter(F.col("rn") <= _M)
        .select("src", "dst", "d")
    )
    und = (
        knn.unionByName(
            knn.select(
                F.col("dst").alias("src"), F.col("src").alias("dst"), "d"
            )
        )
        .groupBy("src", "dst")
        .agg(F.min("d").alias("d"))
    )
    edges = pin(
        und.withColumn("rn", F.row_number().over(wsrc))
        .filter(F.col("rn") <= _DEG_CAP)
        .select("src", "dst", "d")
    )
    return edges, qe, assign, cb


def _memo_graph(
    spark: SparkSession, sf_dir: str, prefix: str, build
) -> "tuple[DataFrame, DataFrame, DataFrame, DataFrame]":
    """Fixture-memoized graph build (VERDICT r10 #4 — the hash-embedding
    / codebook memo pattern applied to the graph family): the four
    frames (edges, qe, assign, cb) are pure deterministic functions of
    the fixture's embeddings table and every column is an exact int64 on
    the grid, so the parquet round-trip is bit-exact and safe to share
    across calls AND SparkSessions. Cache validity + cleanup follow the
    operators.fixture_cache contract (content fingerprint, atexit
    reclaim — ADVICE r10)."""
    from youtube_etl_project_spark.operators import fixture_cache

    def _write(path: str) -> None:
        edges, qe, assign, cb = build()
        edges.write.parquet(f"{path}/edges")
        qe.write.parquet(f"{path}/qe")
        assign.write.parquet(f"{path}/assign")
        cb.coalesce(1).write.parquet(f"{path}/cb")

    path = fixture_cache.cached_build(
        prefix, sf_dir, _write, marker="cb/_SUCCESS"
    )
    return (
        fixture_cache.read_frame(spark, f"{path}/edges"),
        fixture_cache.read_frame(spark, f"{path}/qe"),
        fixture_cache.read_frame(spark, f"{path}/assign"),
        fixture_cache.read_frame(spark, f"{path}/cb"),
    )


def nsw_graph(
    spark: SparkSession, sf_dir: str
) -> "tuple[DataFrame, DataFrame, DataFrame, DataFrame]":
    """Build the neighbor graph: (edges(src, dst) pinned, pinned grid
    rows qe(id, pos, q), ownership assign(id, cell), coarse codebook
    cb(cell, pos, cq) — model-sized, persisted by the serving index).
    Memoized to parquet per fixture dir (exact-int frames; see
    :func:`_memo_graph`)."""
    return _memo_graph(
        spark, sf_dir, "nswg_", lambda: _nsw_graph_build(spark, sf_dir)
    )


def _nsw_graph_build(
    spark: SparkSession, sf_dir: str
) -> "tuple[DataFrame, DataFrame, DataFrame, DataFrame]":
    from youtube_etl_project_spark.plans.similarity_queries import (
        _ivf_trained_parts,
    )

    qe, books, _k, _np_ = _ivf_trained_parts(spark, sf_dir)
    emb = (
        load_table(spark, sf_dir, "embeddings")
        .filter(F.col("embedding").isNotNull())
        .select(F.col("vec_id").alias("id"), "embedding")
    )
    return _graph_from_parts(spark, emb, qe, books)


def nsw_graph_from_vectors(
    df: DataFrame,
) -> "tuple[DataFrame, DataFrame, DataFrame, DataFrame]":
    """The same bounded build from any (vec_id, embedding) DataFrame —
    trains its own exact-grid coarse quantizer (auto K from the row
    count, the auto_ivf_geometry rule) instead of the fixture-dir
    memoized model. The streaming NSW ingest bootstraps its index from
    the first micro-batch through this."""
    from youtube_etl_project_spark.operators.similarity import (
        auto_ivf_geometry,
    )
    from youtube_etl_project_spark.plans.exact_kmeans import (
        kmeans_train_exact,
    )

    spark = df.sparkSession
    nn = df.filter(F.col("embedding").isNotNull())
    qe = pin(
        grid_rows(nn, "vec_id", "embedding", GRID, id_out="id", pos="pos")
    )
    k_cells, _ = auto_ivf_geometry(df.count())
    books = kmeans_train_exact(qe, k=k_cells, iters=2)
    emb = nn.select(F.col("vec_id").alias("id"), "embedding")
    return _graph_from_parts(spark, emb, qe, books)


def _pool_from(edges: DataFrame, qe: DataFrame) -> DataFrame:
    """The NN-descent candidate pool over an arbitrary (pinned) graph:
    edges ∪ two-hop-not-already-edges, all with exact grid distances —
    pool(src, dst, d), n·DEG_CAP² bounded pairs, distances computed on
    the NEW pairs only."""
    e1 = edges.select("src", F.col("dst").alias("mid"))
    e2 = edges.select(F.col("src").alias("mid"), "dst")
    twohop = (
        e1.join(e2, "mid")
        .filter(F.col("src") != F.col("dst"))
        .select("src", "dst")
        .distinct()
    )
    newp = twohop.join(
        edges.select("src", "dst"), ["src", "dst"], "left_anti"
    )
    qa = qe.select(F.col("id").alias("src"), "pos", F.col("q").alias("qa"))
    qb = qe.select(F.col("id").alias("dst"), "pos", F.col("q").alias("qb"))
    dd = F.col("qa") - F.col("qb")
    nd = (
        newp.join(qa, "src")
        .join(qb, ["dst", "pos"])
        .groupBy("src", "dst")
        .agg(F.sum(dd * dd).cast("long").alias("d"))
    )
    return edges.unionByName(nd)


def _nnd_pool(
    spark: SparkSession, sf_dir: str
) -> "tuple[DataFrame, DataFrame, DataFrame, DataFrame]":
    """First-round pool over the base graph — consumed by the top-M NND
    rounds (nsw_nnd_graph_rounds) and the wide-pool α-prune
    (nsw_alpha_graph)."""
    edges, qe, assign, cb = nsw_graph(spark, sf_dir)
    return _pool_from(edges, qe), qe, assign, cb


def nsw_nnd_graph_rounds(
    spark: SparkSession,
    sf_dir: str,
    rounds: int = 1,
    min_new_frac: "float | None" = None,
    stats: "list[float] | None" = None,
) -> "tuple[DataFrame, DataFrame, DataFrame, DataFrame]":
    """NN-descent iterated to ``rounds``: per round, top-M re-rank of
    the pool per node, reverse-union, degree bound re-applied, output
    pinned. This IS the production convergence loop: pass
    ``min_new_frac`` to early-exit once the round's update fraction —
    new pool candidates that made the top-M re-rank, over all top-M
    slots (Dong et al.'s c < δ·n·K termination counter) — drops below
    the threshold; the check costs one bounded count on the already-
    pinned round output. ``stats`` (optional list) receives each
    executed round's measured fraction, the RECALL.md accuracy-curve
    evidence.

    The plain fixed-``rounds`` form (no early-exit, no stats) is
    memoized per fixture dir like the base graph — exact-int frames,
    bit-exact round trip; instrumented/early-exit calls always run the
    real loop (the counters are the point of those calls)."""
    if min_new_frac is None and stats is None:
        return _memo_graph(
            spark,
            sf_dir,
            f"nswnnd{rounds}_",
            lambda: _nsw_nnd_rounds_build(spark, sf_dir, rounds),
        )
    return _nsw_nnd_rounds_build(
        spark, sf_dir, rounds, min_new_frac=min_new_frac, stats=stats
    )


def _nsw_nnd_rounds_build(
    spark: SparkSession,
    sf_dir: str,
    rounds: int,
    min_new_frac: "float | None" = None,
    stats: "list[float] | None" = None,
) -> "tuple[DataFrame, DataFrame, DataFrame, DataFrame]":
    edges, qe, assign, cb = nsw_graph(spark, sf_dir)
    wsrc = Window.partitionBy("src").orderBy(F.asc("d"), F.asc("dst"))
    for _r in range(rounds):
        pool = _pool_from(edges, qe)
        knn2 = pin(
            pool.withColumn("rn", F.row_number().over(wsrc))
            .filter(F.col("rn") <= _M)
            .select("src", "dst", "d")
        )
        und2 = knn2.unionByName(
            knn2.select(
                F.col("dst").alias("src"), F.col("src").alias("dst"), "d"
            )
        ).groupBy("src", "dst").agg(F.min("d").alias("d"))
        prev = edges
        edges = pin(
            und2.withColumn("rn", F.row_number().over(wsrc))
            .filter(F.col("rn") <= _DEG_CAP)
            .select("src", "dst", "d")
        )
        if min_new_frac is not None or stats is not None:
            updated = knn2.join(
                prev.select("src", "dst"), ["src", "dst"], "left_anti"
            ).count()
            frac = updated / max(knn2.count(), 1)
            if stats is not None:
                stats.append(frac)
            if min_new_frac is not None and frac < min_new_frac:
                break
    return edges, qe, assign, cb


def nsw_nnd_graph(
    spark: SparkSession, sf_dir: str
) -> "tuple[DataFrame, DataFrame, DataFrame, DataFrame]":
    """One NN-descent round — the registered embed_nsw_nnd_ann shape."""
    return nsw_nnd_graph_rounds(spark, sf_dir, rounds=1)


def _alpha_prune_blocked(cand_emb: DataFrame) -> DataFrame:
    """Per-src α-prune (MRNG / NSG edge selection, α² = 3/2) as an
    Arrow int64 numpy kernel: for each src's candidate list (dst, d,
    embedding) — ≤ 2·DEG_CAP rows per group by construction — keep edge
    (src, w) unless some candidate v STRICTLY closer to src (lexsort by
    (d, id), the same tiebreak as every trace here) has
    3·d²(v,w) < 2·d²(src,w). Distances are the same grid int64s the
    oracle computes (|3·d²| ≤ 3·64·(2e6)² ≈ 7.7e14 << 2^63 — exact), so
    this is a plan optimization over the equivalent n·deg²-pair
    component join, not a semantics change."""

    def per_src(pdf):
        import numpy as np
        import pandas as pd

        if not len(pdf):
            return pd.DataFrame({"src": [], "dst": [], "d": []})
        Q = snap_np(pdf["embedding"], GRID)
        ids = pdf["dst"].to_numpy()
        dw = pdf["d"].to_numpy()
        order = np.lexsort((ids, dw))
        Q, ids, dw = Q[order], ids[order], dw[order]
        D = sq_dists(Q, Q)
        k = ids.size
        before = np.triu(np.ones((k, k), dtype=bool), 1)  # [v,w]: v<w order
        dominated = ((3 * D < 2 * dw[None, :]) & before).any(axis=0)
        keep = ~dominated
        return pd.DataFrame(
            {"src": pdf["src"].iloc[0], "dst": ids[keep], "d": dw[keep]}
        )

    return cand_emb.groupBy("src").applyInPandas(
        per_src, "src long, dst long, d long"
    )


def nsw_alpha_graph(
    spark: SparkSession, sf_dir: str
) -> "tuple[DataFrame, DataFrame, DataFrame, DataFrame]":
    """Wide-pool α-prune (Vamana/NSG-style) + degree bound — the answer
    to the measured NND navigability regression. Two levers, both
    measured at sf0.001 (see tests/test_graph_ann.py + RECALL.md):
    (1) the candidate pool per node is the top-P of edges ∪ two-hop —
    P = 2×DEG_CAP, the distributed stand-in for Vamana's visited-list
    pool; selecting the out-edges from this wider pool is what restores
    search recall (0.66 → 0.82 at equal degree cap — the top-M=8 NND
    round starves the degree budget). (2) the α-rule (α² = 3/2) drops an
    edge only when a closer candidate covers it; under 64-d distance
    concentration it prunes a small fraction here (74/16k candidates at
    sf0.001 — reported honestly), and bites harder the more clustered
    the corpus.

    Memoized per fixture dir (exact-int frames; :func:`_memo_graph`) —
    the capstone search and the persisted-index build share one
    materialized graph instead of each re-running pool + α-kernel
    (VERDICT r10: the 8.7 s bench line was rebuild-per-call)."""
    return _memo_graph(
        spark, sf_dir, "nswalpha_", lambda: _nsw_alpha_build(spark, sf_dir)
    )


def _nsw_alpha_build(
    spark: SparkSession, sf_dir: str
) -> "tuple[DataFrame, DataFrame, DataFrame, DataFrame]":
    pool, qe, assign, cb = _nnd_pool(spark, sf_dir)
    wsrc = Window.partitionBy("src").orderBy(F.asc("d"), F.asc("dst"))
    cnd = pin(
        pool.withColumn("rn", F.row_number().over(wsrc))
        .filter(F.col("rn") <= _ALPHA_P)
        .select("src", "dst", "d")
    )
    emb = (
        load_table(spark, sf_dir, "embeddings")
        .filter(F.col("embedding").isNotNull())
        .select(F.col("vec_id").alias("dst"), "embedding")
    )
    cand_emb = cnd.join(emb, "dst").select("src", "dst", "d", "embedding")
    alpha = _alpha_prune_blocked(cand_emb)
    edges3 = pin(
        alpha.withColumn("rn", F.row_number().over(wsrc))
        .filter(F.col("rn") <= _DEG_CAP)
        .select("src", "dst", "d")
    )
    return edges3, qe, assign, cb


@register(
    "embed_nsw_ann",
    oracle=_nsw_oracle(),
    doc="X3 family completion (round 9), ORACLE-CHECKED END TO END "
        "INCLUDING THE GRAPH BUILD: navigable-small-world graph ANN — "
        "the fourth ANN family (IVF / PQ / LSH / graph). Build: k-NN "
        "graph with BOUNDED candidate generation (members of each "
        "vector's 2 nearest exact-grid IVF cells — 2n^2/K pairs, the "
        "SemDeDup n^1.5 regime under K ∝ √n), top-8 out-edges by exact "
        "grid distance — the pairwise pass runs as a per-cell Arrow/"
        "numpy int64 kernel (_knn_parts_blocked: exact same grid "
        "integers as the SQL form, measured 21 s -> 3.5 s at sf0.1; the "
        "oracle keeps the component-join form) — reverse-edge union "
        "re-capped at degree 16 (the NSG-style hub bound). Search: "
        "greedy beam search as an "
        "unrolled 3-round trace — entry = lowest-id member of the "
        "query's nearest cell, expand neighbors, exact int64 distance, "
        "beam-8 with (dist asc, id) tiebreaks — so BOTH engines execute "
        "the identical trace and the whole query sits under the value "
        "hash. Per-round cost is a broadcast beam probe of the edge "
        "list + a shortlist-sized distance join; recall floor pinned by "
        "tests/test_graph_ann.py",
)
def embed_nsw_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    edges, qe, assign, _cb = nsw_graph(spark, sf_dir)
    return _beam_search(edges, qe, assign)


def auto_search_geometry(n: int) -> "tuple[int, int]":
    """Search effort scaled to corpus size (round 11): greedy-beam hop
    count grows with the graph's diameter and the beam must out-pace
    distance concentration, both ~log n — the measured 50-query sweep at
    sf0.1 (RECALL.md): fixed (T=3, B=8) recalls 0.57 on the α graph,
    (T=6, B=22) from this rule recalls 0.93. Integer rule, mirrored
    verbatim in the oracle's geo CTE, as auto_ivf_geometry is:
    L = ceil(log2(n)),
    T = max(3, (L+1)//2), B = max(8, 2·L)."""
    lg = max(1, (int(n) - 1).bit_length())
    return max(3, (lg + 1) // 2), max(8, 2 * lg)


def _beam_search(
    edges: DataFrame, qe: DataFrame, assign: DataFrame,
    n_queries: int = _N_QUERIES,
    rounds: int = _T,
    beam: int = _B,
) -> DataFrame:
    """The greedy beam-search trace over a PINNED edge list — shared by
    the base graph and the NN-descent-refined graph. ``n_queries``
    widens the query set beyond the registered trace (the recall
    instrument — tools/graph_recall.py sweeps 50; registered rows keep
    _N_QUERIES so the oracles are untouched)."""
    qa = qe.filter(F.col("id") < n_queries).select(
        F.col("id").alias("query_id"), "pos", F.col("q").alias("qa")
    )
    qb = qe.select(F.col("id").alias("nid"), "pos", F.col("q").alias("qb"))
    dd = F.col("qa") - F.col("qb")

    def qdist(front: DataFrame) -> DataFrame:
        """Exact grid distance of (query_id, id) rows to their query."""
        return (
            front.withColumnRenamed("id", "nid")
            .join(F.broadcast(qa), "query_id")
            .join(qb, ["nid", "pos"])
            .groupBy("query_id", "nid")
            .agg(F.sum(dd * dd).cast("long").alias("d"))
            .withColumnRenamed("nid", "id")
        )

    entry = (
        assign.filter(F.col("id") < n_queries)
        .select(F.col("id").alias("query_id"), "cell")
        .join(assign.withColumnRenamed("id", "member"), "cell")
        .groupBy("query_id")
        .agg(F.min("member").alias("id"))
    )
    visited = pin(qdist(entry))
    beam_df = visited  # one row per query
    wb = Window.partitionBy("query_id").orderBy(F.asc("d"), F.asc("id"))
    for _t in range(rounds):
        frontier = (
            edges.join(
                F.broadcast(
                    beam_df.select("query_id", F.col("id").alias("src"))
                ),
                "src",
            )
            .select("query_id", F.col("dst").alias("id"))
            .distinct()
            .join(
                visited.select("query_id", "id"),
                ["query_id", "id"],
                "left_anti",
            )
        )
        visited = pin(visited.unionByName(qdist(frontier)))
        beam_df = (
            visited.withColumn("rn", F.row_number().over(wb))
            .filter(F.col("rn") <= beam)
            .select("query_id", "id", "d")
        )
    return (
        visited.filter(F.col("id") != F.col("query_id"))
        .withColumn("rnk", F.row_number().over(wb))
        .filter(F.col("rnk") <= _TOPK)
        .select(
            "query_id",
            F.col("id").alias("neighbor_id"),
            F.col("rnk").cast("long").alias("rank"),
            F.col("d").alias("dist_q"),
        )
    )


@register(
    "embed_nsw_nnd_ann",
    oracle=_nsw_nnd_oracle(),
    doc="X3 family (round 9), ORACLE-CHECKED END TO END: ONE NN-descent "
        "round over the NSW graph — the graph-improvement step the base "
        "build's docstring names as the production path, now with its "
        "own green row (the r8 precedent of backing every composition "
        "claim with a gate entry). Candidates = current neighbors-of-"
        "neighbors (bounded n*DEG_CAP^2 pairs), exact grid distance on "
        "the NEW pairs only, top-M re-rank against the existing edges, "
        "degree bound re-applied; then the identical 3-round beam trace "
        "over the refined graph. Measured at sf0.001 "
        "(tests/test_graph_ann.py pins both): the round improves what "
        "NN-descent optimizes — k-NN LIST accuracy 0.824 -> 0.893 (the "
        "primitive for label propagation / graph dedup clustering) — "
        "while greedy-search recall stays within a small delta of the "
        "base graph (0.66 vs 0.68; shorter edges trade navigability, "
        "the classic NSG/DiskANN alpha-pruning motivation, documented "
        "rather than hidden). NN-descent's convergence loop is this "
        "round iterated — each iteration reuses exactly this plan shape",
)
def embed_nsw_nnd_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    edges2, qe, assign, _cb = nsw_nnd_graph(spark, sf_dir)
    return _beam_search(edges2, qe, assign)


@register(
    "embed_nsw_nnd2_ann",
    oracle=_nsw_nnd_oracle(rounds=2),
    doc="X3 family (round 10), ORACLE-CHECKED END TO END: NN-descent "
        "ITERATED — two refinement rounds, i.e. the production "
        "convergence loop (nsw_nnd_graph_rounds) unrolled twice, each "
        "round its own CTE chain in the oracle (the r7 exact-kmeans "
        "unrolled-trainer precedent). nsw_nnd_graph_rounds implements "
        "the full loop with Dong et al.'s termination counter — "
        "early-exit when the fraction of top-M slots updated by the "
        "round drops below δ; the measured curve (update fraction "
        "0.082 → 0.017 → 0.006 per round; k-NN list accuracy 0.824 → "
        "0.893 → 0.908 → 0.914 at sf0.001) is pinned by tests/"
        "test_graph_ann.py and tabulated in RECALL.md — round 2 buys "
        "~1/5th of round 1's gain, the classic NN-descent geometric "
        "convergence, and δ=0.05 stops after round 2",
)
def embed_nsw_nnd2_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    edges, qe, assign, _cb = nsw_nnd_graph_rounds(spark, sf_dir, rounds=2)
    return _beam_search(edges, qe, assign)


@register(
    "embed_nsw_alpha_ann",
    oracle=_nsw_alpha_oracle(),
    doc="X3 family (round 10), ORACLE-CHECKED END TO END: wide-pool "
        "α-PRUNED graph ANN — the Vamana/NSG edge-selection fix for the "
        "navigability regression round 9 measured and documented "
        "(NN-descent improves k-NN lists 0.824→0.893 but drops greedy-"
        "search recall 0.68→0.66: shorter edges everywhere). Per node "
        "the pool is the top-2×DEG_CAP of edges ∪ two-hop by exact "
        "distance (Vamana's visited-list pool, distributed); out-edges "
        "are selected from it by the closed-form MRNG rule — keep (u,w) "
        "unless a strictly-closer candidate v (exact (d, id) order) has "
        "α²·d²(v,w) < d²(u,w), α² = 3/2 — order-free, so ONE NOT EXISTS "
        "in SQL and a set-parallel per-src Arrow int64 kernel in Spark "
        "(vs DiskANN's sequential kept-only loop), all exact int64 on "
        "the grid so the full trace shares the value hash. MEASURED "
        "honestly (tests/test_graph_ann.py + RECALL.md): search recall "
        "0.82 at sf0.001 vs 0.68 base / 0.66 NND at equal degree cap — "
        "the wide pool is what restores navigability; the α-rule prunes "
        "only ~0.5% of candidates on this distance-concentrated 64-d "
        "fixture (it bites on clustered corpora), kept because it costs "
        "one bounded per-node pass and never hurts",
)
def embed_nsw_alpha_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    edges3, qe, assign, _cb = nsw_alpha_graph(spark, sf_dir)
    return _beam_search(edges3, qe, assign)


# Built persisted NSW graph indexes: the registered query below is the
# "probe many" half of build-once/probe-many, so repeated gate/bench runs
# probe the SAME materialized graph instead of rebuilding per call. Cache
# validity + cleanup via operators.fixture_cache.


def _nsw_index_path(spark: SparkSession, sf_dir: str) -> str:
    from youtube_etl_project_spark.operators import ann_index, fixture_cache

    def _build(path: str) -> None:
        edges, qe, assign, cb = nsw_graph(spark, sf_dir)
        ann_index.nsw_build(edges, assign, qe, cb, path)

    return fixture_cache.cached_build(
        "nsw_index_", sf_dir, _build, marker="edges"
    )


def _nsw_alpha_index_path(spark: SparkSession, sf_dir: str) -> str:
    from youtube_etl_project_spark.operators import ann_index, fixture_cache

    def _build(path: str) -> None:
        edges3, qe, assign, cb = nsw_alpha_graph(spark, sf_dir)
        ann_index.nsw_build(edges3, assign, qe, cb, path)

    return fixture_cache.cached_build(
        "nsw_alpha_index_", sf_dir, _build, marker="edges"
    )


@register(
    "embed_nsw_alpha_index_ann",
    oracle=_nsw_alpha_oracle(),
    doc="X3 serving path (round 10): the PERSISTED α-pruned graph — the "
        "build-once/probe-many twin of embed_nsw_alpha_ann, completing "
        "the serving matrix (every graph variant servable: base → "
        "embed_nsw_index_ann, α-pruned → this row). Same src-cell-"
        "partitioned layout and pruned beam probes as the base index "
        "(operators/ann_index.nsw_build/nsw_query work on ANY "
        "degree-capped edge list); exact-grid arithmetic keeps the "
        "persisted trace bit-identical to the in-memory α search, so "
        "this row shares _nsw_alpha_oracle() verbatim — and it serves "
        "the BEST-recall graph (0.82/0.92/0.84 across scales, "
        "RECALL.md), which is what a deployment would actually persist",
)
def embed_nsw_alpha_index_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    from youtube_etl_project_spark.operators import ann_index

    path = _nsw_alpha_index_path(spark, sf_dir)
    emb = load_table(spark, sf_dir, "embeddings")
    queries_qe = grid_rows(
        emb.filter(F.col("vec_id") < _N_QUERIES), "vec_id", "embedding",
        GRID, id_out="id", pos="pos"
    )
    return ann_index.nsw_query(
        queries_qe, path, topk=_TOPK, beam=_B, rounds=_T
    )


@register(
    "embed_nsw_index_ann",
    oracle=_nsw_oracle(),
    doc="X3 serving path (round 10): the PERSISTED NSW graph index "
        "(operators/ann_index.nsw_build/nsw_query) — the build-once/"
        "probe-many twin of embed_nsw_ann, completing the promise in "
        "this module's docstring ('a deployment buckets the persisted "
        "edge list by src for shuffle-free probes') the way round 9 did "
        "for IVF-PQ. The edge list persists PARTITIONED BY the src's "
        "coarse cell with each dst's cell riding on the edge row, and "
        "the grid components persist partitioned by cell, so every "
        "beam-search round's edge expansion carries cell IN (beam "
        "cells) and every frontier distance join carries cell IN "
        "(frontier dst cells) — a probe physically reads the beam's "
        "partitions, never the whole graph (pruned-scan asserted by "
        "tests/test_graph_ann.py). Entry recovers the query's kassign "
        "cell from the persisted codebook with the same exact-int "
        "argmin rule, so the whole persisted trace is BIT-IDENTICAL to "
        "the in-memory capstone and shares _nsw_oracle() verbatim — a "
        "full value-hash row including the graph build",
)
def embed_nsw_index_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    from youtube_etl_project_spark.operators import ann_index

    path = _nsw_index_path(spark, sf_dir)
    emb = load_table(spark, sf_dir, "embeddings")
    queries_qe = grid_rows(
        emb.filter(F.col("vec_id") < _N_QUERIES), "vec_id", "embedding",
        GRID, id_out="id", pos="pos"
    )
    return ann_index.nsw_query(
        queries_qe, path, topk=_TOPK, beam=_B, rounds=_T
    )


def _nsw_health_oracle() -> str:
    """Per-cell health of the persisted base NSW graph — the build CTEs
    plus a degree aggregation over kassign ∪ edges. Fully deterministic
    (exact-grid build), so the lifecycle monitor itself sits under the
    value hash."""
    return (
        _nsw_build_ctes()
        + """, deg AS (
            SELECT src AS id, CAST(COUNT(*) AS BIGINT) AS outd
            FROM edges GROUP BY 1
        )
        SELECT CAST(a.cell AS BIGINT) AS cell,
               CAST(COUNT(*) AS BIGINT) AS n_nodes,
               CAST(SUM(COALESCE(d.outd, 0)) AS BIGINT) AS n_edges,
               CAST(SUM(CASE WHEN d.outd IS NULL THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_edgeless,
               CAST(MIN(COALESCE(d.outd, 0)) AS BIGINT) AS min_deg,
               CAST(MAX(COALESCE(d.outd, 0)) AS BIGINT) AS max_deg
        FROM kassign a LEFT JOIN deg d ON d.id = a.id
        GROUP BY 1
    """
    )


@register(
    "nsw_index_health",
    oracle=_nsw_health_oracle(),
    doc="X3 serving-index LIFECYCLE monitor (round 11 — VERDICT r10 "
        "#6): per-cell health of the persisted NSW graph via operators/"
        "ann_index.nsw_cell_stats — node count, out-edge count, min/max "
        "out-degree and the EDGELESS-node count, the observable form of "
        "the documented nsw_insert empty-cell caveat and the graph twin "
        "of ivf_cell_stats' retrain signal. Because the graph build is "
        "exact-grid deterministic, the monitor itself sits under the "
        "value hash (oracle = build CTEs + degree aggregation over "
        "kassign LEFT JOIN edge degrees)",
)
def nsw_index_health(spark: SparkSession, sf_dir: str) -> DataFrame:
    from youtube_etl_project_spark.operators import ann_index

    return ann_index.nsw_cell_stats(spark, _nsw_index_path(spark, sf_dir))


@register(
    "embed_nsw_alpha_auto_ann",
    oracle=_nsw_alpha_auto_oracle(),
    doc="X3 capstone (round 11), ORACLE-CHECKED END TO END: the α-pruned "
        "graph searched with AUTO geometry — beam rounds and width "
        "scaled to the corpus by the integer rule auto_search_geometry "
        "(L=ceil(log2 n): T = max(3,(L+1)//2), B = max(8, 2L)). This "
        "closes the measured round-11 finding that fixed (T=3, B=8) is "
        "UNDER-SEARCHED as n grows: on the 50-query instrument the α "
        "graph recalls 0.57 at sf0.1 under the fixed trace but 0.93 "
        "under the auto trace (0.99/0.96 at sf0.001/sf0.01) at ~3 s — "
        "search effort must track the graph diameter and distance "
        "concentration, both ~log n. The oracle expresses the VARIABLE "
        "round count in one static SQL string via a guarded unroll "
        "(_nsw_search_auto_ctes): the geo CTE mirrors the rule exactly, "
        "rounds beyond T are provable pass-throughs (empty guarded "
        "frontier → v and beam carry forward), so both engines execute "
        "the identical n-dependent trace at every scale and the whole "
        "thing sits under the value hash. Per-round cost is unchanged "
        "(broadcast beam probe + shortlist distance join); the rule "
        "costs one count",
)
def embed_nsw_alpha_auto_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    edges3, qe, assign, _cb = nsw_alpha_graph(spark, sf_dir)
    n = row_count(spark, sf_dir, "embeddings")
    t_rounds, beam = auto_search_geometry(n)
    return _beam_search(edges3, qe, assign, rounds=t_rounds, beam=beam)


def _nsw_ingest_oracle() -> str:
    """The ONLINE-INGEST trace end to end: bootstrap-train + bounded
    k-NN build on batch 1 (even vec_ids — the _nsw_build_ctes chain
    under a batch predicate, auto K from the batch-1 count), then the
    nsw_insert attach for batch 2 (odd vec_ids < 40): per new vector a
    T=3/B=8 beam search of the BATCH-1 graph (entry = best (cell rank,
    member id) over its 2 nearest trained cells), top-M out-edges,
    reverse edges merged into the touched neighbors under the (d asc,
    dst asc) top-DEG_CAP re-cap, untouched nodes' recap a provable
    no-op — then the standard T=3/B=8 query trace over the EVOLVED
    graph with membership = batch-1 kassign ∪ batch-2 codebook argmin.
    Every quantity is exact int64 on the grid, so the whole
    build→attach→serve lifecycle sits under one value hash."""
    parts = [_nsw_build_ctes(pred="vec_id % 2 = 0")]
    parts.append(
        """, qeall AS MATERIALIZED (
            SELECT vec_id AS id, u.pos - 1 AS pos,
                   CAST(FLOOR(CAST(u.v AS DOUBLE) * 1000000 + 0.5)
                        AS BIGINT) AS q
            FROM embeddings e CROSS JOIN LATERAL (
                SELECT unnest(e.embedding) AS v,
                       generate_subscripts(e.embedding, 1) AS pos
            ) AS u
            WHERE e.embedding IS NOT NULL
        ), q2 AS (
            SELECT DISTINCT id FROM qeall WHERE id % 2 = 1 AND id < 40
        ), q2d AS MATERIALIZED (
            SELECT a.id, c.cell,
                   CAST(SUM((a.q - c.cq) * (a.q - c.cq)) AS BIGINT)
                       AS dist
            FROM qeall a JOIN q2 USING (id) JOIN c2 c ON c.pos = a.pos
            GROUP BY 1, 2
        ), q2rank AS (
            SELECT id, cell,
                   ROW_NUMBER() OVER (PARTITION BY id
                                      ORDER BY dist ASC, cell ASC)
                       AS crank
            FROM q2d
        ), ientry AS (
            SELECT query_id, id FROM (
                SELECT r.id AS query_id, m.id AS id,
                       ROW_NUMBER() OVER (PARTITION BY r.id
                                          ORDER BY r.crank ASC, m.id ASC)
                           AS rn
                FROM q2rank r JOIN kassign m ON m.cell = r.cell
                WHERE r.crank <= 2
            ) WHERE rn = 1
        ), iv0 AS MATERIALIZED (
            SELECT f.query_id, f.id,
                   CAST(SUM((a.q - b.q) * (a.q - b.q)) AS BIGINT) AS d
            FROM ientry f
            JOIN qeall a ON a.id = f.query_id
            JOIN qeall b ON b.id = f.id AND b.pos = a.pos
            GROUP BY 1, 2
        ), ibeam0 AS MATERIALIZED (SELECT * FROM iv0)"""
    )
    for t in range(1, _T + 1):
        parts.append(
            f""", if{t} AS (
            SELECT DISTINCT b.query_id, e.dst AS id
            FROM ibeam{t - 1} b JOIN edges e ON e.src = b.id
            WHERE NOT EXISTS (
                SELECT 1 FROM iv{t - 1} v
                WHERE v.query_id = b.query_id AND v.id = e.dst
            )
        ), ifd{t} AS (
            SELECT f.query_id, f.id,
                   CAST(SUM((a.q - b.q) * (a.q - b.q)) AS BIGINT) AS d
            FROM if{t} f
            JOIN qeall a ON a.id = f.query_id
            JOIN qeall b ON b.id = f.id AND b.pos = a.pos
            GROUP BY 1, 2
        ), iv{t} AS MATERIALIZED (
            SELECT * FROM iv{t - 1} UNION ALL SELECT * FROM ifd{t}
        ), ibeam{t} AS MATERIALIZED (
            SELECT query_id, id, d FROM (
                SELECT query_id, id, d,
                       ROW_NUMBER() OVER (PARTITION BY query_id
                                          ORDER BY d ASC, id ASC) AS rn
                FROM iv{t}
            ) WHERE rn <= {_B}
        )"""
        )
    parts.append(
        f""", outedges AS MATERIALIZED (
            SELECT query_id AS src, id AS dst, d FROM (
                SELECT query_id, id, d,
                       ROW_NUMBER() OVER (PARTITION BY query_id
                                          ORDER BY d ASC, id ASC) AS rnk
                FROM iv{_T} WHERE id <> query_id
            ) WHERE rnk <= {_M}
        ), finaledges AS MATERIALIZED (
            SELECT src, dst, d FROM (
                SELECT src, dst, d,
                       ROW_NUMBER() OVER (PARTITION BY src
                                          ORDER BY d ASC, dst ASC) AS rn
                FROM (SELECT src, dst, d FROM edges
                      UNION ALL
                      SELECT dst AS src, src AS dst, d FROM outedges
                      UNION ALL
                      SELECT src, dst, d FROM outedges)
            ) WHERE rn <= {_DEG_CAP}
        ), assignall AS MATERIALIZED (
            SELECT id, cell FROM kassign
            UNION ALL
            SELECT id, cell FROM q2rank WHERE crank = 1
        )"""
    )
    parts.append(
        _nsw_search_ctes(
            edges="finaledges", assign="assignall", qe="qeall"
        )
    )
    return "".join(parts)


def _online_ingest_index_path(spark: SparkSession, sf_dir: str) -> str:
    from youtube_etl_project_spark.operators import ann_index, fixture_cache

    def _build(path: str) -> None:
        emb = load_table(spark, sf_dir, "embeddings")
        b1 = emb.filter(F.col("vec_id") % 2 == 0)
        b2 = emb.filter(
            (F.col("vec_id") % 2 == 1) & (F.col("vec_id") < 40)
        )
        edges, qe, assign, cb = nsw_graph_from_vectors(b1)
        ann_index.nsw_build(edges, assign, qe, cb, path)
        ann_index.nsw_insert(b2, path)

    return fixture_cache.cached_build(
        "nsw_ingest_", sf_dir, _build, marker="edges"
    )


@register(
    "embed_nsw_online_ingest_ann",
    oracle=_nsw_ingest_oracle(),
    doc="X3 ONLINE-INGEST capstone (round 11), ORACLE-CHECKED END TO "
        "END: the full serving-index LIFECYCLE under one value hash — "
        "bootstrap (train the exact-grid coarse quantizer on batch 1 "
        "with auto K from the batch count, bounded k-NN build, "
        "nsw_build persist), online attach (nsw_insert of batch 2: "
        "each new vector beam-searches the PRE-batch graph via pruned "
        "probes, gains top-M out-edges, touched neighbors re-capped "
        "with reverse edges — online-HNSW's prune, idempotent under "
        "at-least-once replay), then the standard beam trace served "
        "from the EVOLVED persisted graph. The oracle unrolls all "
        "three phases (build CTEs under a batch predicate, the "
        "per-new-vector attach trace with 2-nearest-cell entry, the "
        "merged-degree re-cap where untouched nodes are provable "
        "no-ops, the final search over batch-1 kassign ∪ batch-2 "
        "argmin membership) — cross-engine equality proves the "
        "evolved index equals the hand-computed evolution. Index "
        "memoized per fixture (build-once/probe-many)",
)
def embed_nsw_online_ingest_ann(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from youtube_etl_project_spark.operators import ann_index

    path = _online_ingest_index_path(spark, sf_dir)
    emb = load_table(spark, sf_dir, "embeddings")
    queries_qe = grid_rows(
        emb.filter(F.col("vec_id") < _N_QUERIES), "vec_id", "embedding",
        GRID, id_out="id", pos="pos"
    )
    return ann_index.nsw_query(
        queries_qe, path, topk=_TOPK, beam=_B, rounds=_T
    )

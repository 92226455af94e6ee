"""Vector similarity search (SURVEY §2b X3) over ``embeddings.embedding``
(array<float>).

* cosine / dot / norm: array folds over zip_with — JVM-side, codegen'd,
  double accumulation left-to-right (deterministic, matches a sequential
  oracle bit-for-bit).
* brute-force top-k: broadcast the (small) query set against all candidate
  vectors, score per-row, window row_number ≤ k. Linear in candidates —
  the exact baseline.
* LSH (random hyperplane) buckets: deterministic ±1 hyperplanes from
  sha256 (:func:`lsh_topk_exact`) or md5 (:func:`lsh_ann_md5`) parity,
  sign bits of exact grid-integer dots as the bucket key; ANN = top-k
  within bucket, reproducible in DuckDB SQL. The 100 TB path: bucket
  join replaces the cross product.
"""

from __future__ import annotations

import numpy as np
import pandas as pd  # noqa: TCH002 — pandas_udf resolves type hints at runtime

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from youtube_etl_project_spark.operators.checkpointing import pin
from youtube_etl_project_spark.operators.grid import (
    GRID,
    grid_rows,
    plane_keys,
    snap_np,
)


def dot(a: Column, b: Column) -> Column:
    """Σ a[i]·b[i], accumulated in double left-to-right."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def norm(a: Column) -> Column:
    return F.sqrt(dot(a, a))


def cosine(a: Column, b: Column) -> Column:
    return dot(a, b) / (norm(a) * norm(b))


def normed_cosine(a: str, b: str) -> Column:
    """:func:`cosine` of the vectors ``__<a>v`` and ``__<b>v`` whose norms
    were projected once per row as ``__<a>n`` and ``__<b>n``: the same
    float ops in the same order, bit for bit."""
    return dot(F.col(f"__{a}v"), F.col(f"__{b}v")) / (
        F.col(f"__{a}n") * F.col(f"__{b}n")
    )


def brute_force_topk(
    queries: DataFrame,
    candidates: DataFrame,
    k: int = 5,
) -> DataFrame:
    """Exact cosine top-k: returns (query_id, neighbor_id, rank, cosine).

    ``queries`` must be small (it is broadcast); candidates stream through
    map-side scoring — no shuffle until the per-query top-k window, which
    partitions by query_id. Deterministic tiebreak on neighbor id. Each
    side's norm is computed once per row, so a scored pair pays one dot
    fold; the division is :func:`cosine`'s, bit for bit.
    """
    q = queries.select(
        F.col("query_id"),
        F.col("embedding").alias("__qv"),
        norm(F.col("embedding")).alias("__qn"),
    )
    c = candidates.select(
        F.col("neighbor_id"),
        F.col("embedding").alias("__cv"),
        norm(F.col("embedding")).alias("__cn"),
    )
    scored = (
        F.broadcast(q)
        .crossJoin(c)
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .withColumn("cosine", normed_cosine("q", "c"))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            "query_id",
            "neighbor_id",
            F.col("rank").cast("long").alias("rank"),
            F.round("cosine", 6).alias("cosine"),
        )
    )


def kmeans_centroids(
    vectors: DataFrame,
    vec: str = "embedding",
    k: int = 16,
    iters: int = 2,
    id_col: str = "vec_id",
) -> list[list[float]]:
    """Deterministic k-means-lite coarse quantizer (the IVF training step).

    Seeds = the k lowest-id vectors; ``iters`` Lloyd rounds, each a single
    assign-and-average DataFrame pass (posexplode → mean per (cell, pos)).
    Only the K×dim centroid matrix ever reaches the driver — that is the
    *model*, not the data, so the collect is legitimate at any scale.
    """
    # NULL vectors can't seed (assignment gives them cell -1 and skips
    # them); seed from the k lowest-id non-null vectors.
    seeds = (
        vectors.filter(F.col(vec).isNotNull())
        .orderBy(F.col(id_col).asc())
        .limit(k)
        .select(vec)
        .collect()
    )
    centroids = [list(map(float, r[0])) for r in seeds]
    for _ in range(iters):
        assigned = vectors.withColumn(
            "__cell", nearest_centroid_vectorized(centroids)(F.col(vec))
        )
        rows = (
            assigned.select("__cell", F.posexplode(vec).alias("pos", "val"))
            .groupBy("__cell", "pos")
            .agg(F.avg("val").alias("m"))
            .collect()
        )
        dim = len(centroids[0])
        fresh: dict[int, list[float]] = {}
        for r in rows:
            fresh.setdefault(r["__cell"], [0.0] * dim)[r["pos"]] = float(r["m"])
        centroids = [fresh.get(i, centroids[i]) for i in range(len(centroids))]
    return centroids


def nearest_centroid_vectorized(centroids: list[list[float]]):
    """Arrow-vectorized nearest-centroid assignment: one ``-2XCᵀ + |C|²``
    matmul per Arrow batch against the K×dim centroid matrix (the |X|² term
    is constant per row and drops out of the argmin). The Column-fold twin
    below interprets K zip_with/aggregate lambdas per row — measured ~10x
    slower at 5k×64-dim and the gap widens with rows; dense per-row linear
    algebra belongs in numpy (same rule as the LSH bucket-key kernels)."""
    import numpy as np
    from pyspark.sql.functions import pandas_udf

    C = np.asarray(centroids, dtype=np.float64)  # K × dim
    c2 = (C * C).sum(axis=1)  # |C|²

    @pandas_udf("int")
    def assign(v: pd.Series) -> pd.Series:
        import numpy as np  # noqa: F811 — runs on the worker

        if len(v) == 0:
            return pd.Series([], dtype="int32")
        # NULL embeddings get cell -1 (never probed, so they fall out of the
        # cell equi-join) instead of blowing up np.stack for the whole batch.
        arr = v.to_numpy()
        valid = np.array([e is not None for e in arr])
        out = np.full(len(arr), -1, dtype="int32")
        if valid.any():
            x = np.stack(arr[valid]).astype(np.float64)  # batch × dim
            d = -2.0 * (x @ C.T) + c2  # batch × K
            out[valid] = d.argmin(axis=1).astype("int32")
        return pd.Series(out)

    return assign


def ivf_topk(
    queries: DataFrame,
    candidates: DataFrame,
    centroids: list[list[float]],
    k: int = 5,
    n_probe: int = 3,
) -> DataFrame:
    """IVF ANN: candidates pre-bucketed by nearest centroid; each query
    probes its n_probe closest cells and scores only those candidates.
    The cell equi-join replaces the cross product — the other classic ANN
    scale path besides hyperplane LSH."""
    c = candidates.withColumn(
        "__cell", nearest_centroid_vectorized(centroids)(F.col("embedding"))
    )
    # ONE nested literal for the centroid matrix + an indexed transform —
    # never K*dim per-element F.lit calls (at auto-scaled K=128/dim=64
    # that is 8k py4j round trips and a giant expression tree; module
    # docstring rule, re-measured on embed_ivf_index_ann at 16x).
    dists = F.transform(
        F.lit(centroids),
        lambda cvec, i: F.struct(
            F.aggregate(
                F.zip_with(
                    F.col("embedding"),
                    cvec,
                    lambda a, b: (a.cast("double") - b) ** 2,
                ),
                F.lit(0.0),
                lambda acc, v: acc + v,
            ).alias("d"),
            i.alias("cell"),
        ),
    )
    q = queries.withColumn(
        "__probes",
        F.transform(
            F.slice(F.array_sort(dists), 1, n_probe), lambda s: s.getField("cell")
        ),
    ).select(
        "query_id",
        F.col("embedding").alias("__qv"),
        F.explode("__probes").alias("__cell"),
    )

    scored = (
        q.join(
            c.select("neighbor_id", F.col("embedding").alias("__cv"), "__cell"),
            "__cell",
        )
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .withColumn("cosine", cosine(F.col("__qv"), F.col("__cv")))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            "query_id",
            "neighbor_id",
            F.col("rank").cast("long").alias("rank"),
            F.round("cosine", 6).alias("cosine"),
        )
    )


def auto_ivf_geometry(n_candidates: int) -> tuple[int, int]:
    """Derive (K, n_probe) from the corpus size — the IVF twin of
    ``auto_lsh_geometry`` (round-3 left K fixed at 8, which degrades the
    same way fixed LSH planes did: at 100x corpus, 8 cells of 12.5% each
    make every probe a near-full scan).

    * ``K = 2^ceil(log2(sqrt(n / cell_sq)))`` — the classic **K ∝ √n**
      IVF regime (cells grow as √n too, so k-means training flops stay
      n·K ∝ n^1.5; a constant-cell-size rule would make K ∝ n and
      training quadratic — measured 1.4x worse at the 16x probe).
      ``cell_sq = 31.25`` calibrates K(2000) = √(2000/31.25) = 8, the
      measured RECALL.md knee geometry. The K×dim centroid model stays
      driver-sized (K is clamped to [4, 4096]).
    * ``n_probe = ceil(1 + (recall - p_first)/(1 - p_first) · (K-1))``:
      back-solved from the measured RECALL.md sweep at sf0.1 — the
      nearest cell holds ``p_first ≈ 0.79`` of true top-10 mass
      (n_probe=1 → recall 0.79) and the remainder spreads ≈ uniformly
      over the other cells (0.83/0.87/0.90/0.96/1.0 at 2/3/4/6/8 of 8).
      That uniform tail is the conservative floor for this near-random
      synthetic corpus; real clustered embeddings concentrate mass in
      the first cells, so this over-probes rather than under-recalls.

    At sf0.1 (n=2000) this yields (8, 5) — one step above the measured
    (8, 4) recall=0.90 knee, landing between 0.90 and 0.96. At 16x
    (n=32000): (32, 18).
    """
    import math

    cell_sq, p_first, recall = 31.25, 0.79, 0.9
    k = max(
        4,
        min(
            4096,
            2
            ** math.ceil(
                math.log2(
                    max(math.sqrt(max(n_candidates, 1) / cell_sq), 1.0)
                )
            ),
        ),
    )
    frac = (recall - p_first) / (1.0 - p_first)
    probe = min(k, max(1, math.ceil(1 + frac * (k - 1))))
    return k, probe


def sha256_plane_sign(seed: int, t: int, p: int, j: int) -> int:
    """±1 hyperplane component from sha256 byte parity — the EXACT-key
    LSH plane family (round 7): reproducible in ANSI SQL as
    ``('0x' || substr(sha256('seed:t:p:j'), 1, 2))::INT % 2``."""
    import hashlib

    h = hashlib.sha256(f"{seed}:{t}:{p}:{j}".encode()).digest()[0]
    return 1 if h & 1 else -1


def _table_keys_exact_vectorized(
    dim: int, n_planes: int, n_tables: int, seed: int, grid: int = GRID
):
    """Arrow-vectorized EXACT bucket keys: components snap to the integer
    grid and the sign test is an int64 dot against ±1 planes — every bit
    is reproducible term-for-term in DuckDB (unlike the float-matmul
    keys, whose near-zero dots are summation-order-sensitive). One numpy
    int64 matmul per table per batch; bit = (dot > 0), strict. At grid
    1e6 |dot| ≤ dim·1e6·max|x|, far inside int64."""
    from pyspark.sql.functions import pandas_udf

    mats = [
        np.array(
            [
                [sha256_plane_sign(seed, t, p, j) for p in range(n_planes)]
                for j in range(dim)
            ],
            dtype=np.int64,
        )  # dim × n_planes
        for t in range(n_tables)
    ]

    @pandas_udf("array<long>")
    def keys(v: pd.Series) -> pd.Series:
        return pd.Series(list(plane_keys(snap_np(v, grid), mats, strict=True)))

    return keys


def lsh_topk_exact(
    queries: DataFrame,
    candidates: DataFrame,
    dim: int,
    k: int = 5,
    n_planes: int | None = None,
    n_tables: int | None = None,
) -> DataFrame:
    """ANN top-k: score only candidates that share ≥1 LSH bucket with the
    query across n_tables hash tables. Bucket keys are EXACT integers
    (sha256-parity ±1 planes, grid-quantized dots), so the registered
    ``embed_lsh_ann`` is reproducible in DuckDB SQL.

    Recall < 1 by construction; raise n_tables (cost ∝ n_tables exploded
    rows through the bucket join) or lower n_planes to trade cost for
    recall. Only ids and keys enter the bucket join and the pair dedup
    (dense vectors there measured a 12x blow-up at 80k candidates); the
    query side is small by contract and broadcast, so the candidate side
    never shuffles for the bucket join. Scoring is the exact-fold cosine
    with (rank, id) tiebreaks.

    Leave ``n_planes``/``n_tables`` as None to derive the geometry from
    a corpus count (one cheap aggregate) via :func:`auto_lsh_geometry`,
    the scale-safe default: bucket density stays bounded as the corpus
    grows."""
    if n_planes is None or n_tables is None:
        ap, at = auto_lsh_geometry(candidates.count())
        n_planes = ap if n_planes is None else n_planes
        n_tables = at if n_tables is None else n_tables
    queries = queries.filter(F.col("embedding").isNotNull())
    candidates = candidates.filter(F.col("embedding").isNotNull())
    keys_udf = _table_keys_exact_vectorized(
        dim, n_planes, n_tables, 42, GRID
    )

    def bucket_ids(df: DataFrame, id_out: str) -> DataFrame:
        keyed = df.select(
            F.col(id_out), keys_udf(F.col("embedding")).alias("__ks")
        )
        return keyed.select(
            id_out, F.posexplode("__ks").alias("__table", "__key")
        ).select(
            id_out,
            F.struct(
                F.col("__table").alias("table"), F.col("__key").alias("key")
            ).alias("__b"),
        )

    pairs = (
        F.broadcast(bucket_ids(queries, "query_id"))
        .join(bucket_ids(candidates, "neighbor_id"), "__b")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select("query_id", "neighbor_id")
        .dropDuplicates(["query_id", "neighbor_id"])
    )
    scored = (
        pairs.join(
            F.broadcast(
                queries.select(
                    F.col("query_id"), F.col("embedding").alias("__qv")
                )
            ),
            "query_id",
        )
        .join(
            candidates.select(
                F.col("neighbor_id"), F.col("embedding").alias("__cv")
            ),
            "neighbor_id",
        )
        .withColumn("cosine", cosine(F.col("__qv"), F.col("__cv")))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            "query_id",
            "neighbor_id",
            F.col("rank").cast("long").alias("rank"),
            F.round("cosine", 6).alias("cosine"),
        )
    )


def auto_lsh_geometry(n_candidates: int) -> tuple[int, int]:
    """Derive (n_planes, n_tables) from the corpus size so expected bucket
    density stays bounded as n grows — the fix for fixed-geometry LSH
    degrading toward dense buckets at 100× corpus (bucket collisions grow
    ∝ n²/2^planes at fixed planes).

    * ``n_planes = ceil(log2(n / target_bucket))`` in [2, 16]: expected
      bucket size stays ≈ target_bucket = 128 regardless of n.
    * ``n_tables = ceil(ln(1-recall) / ln(1-p^planes))`` in [1, 64]: holds
      recall ≈ 1-(1-p^planes)^tables ≈ 0.9 as planes rise. ``p_near = 0.60``
      is the per-plane collision probability of a true top-10 neighbor,
      back-solved from the sha256-parity exact-key family that
      :func:`lsh_topk_exact` and the gated embed_lsh_ann use: it
      measured recall@10 = 0.88 at the p=0.62-derived (4, 15) ⇒
      p ≈ 0.603 — still conservative at larger corpora, where true
      neighbors are closer and p rises.

    At sf0.1 (n=2000) this yields (4, 17); at 16× data (n=32000) it
    yields (8, 64-capped): 2^8 buckets keep collision cost ≈
    tables·n/2^planes per query instead of 16× denser buckets at fixed
    planes.
    """
    import math

    target_bucket, p_near, recall = 128, 0.60, 0.9
    planes = max(
        2,
        min(16, math.ceil(math.log2(max(n_candidates, 1) / target_bucket))),
    )
    # planes >= 2, so p_near ** planes < 1 and the log is finite
    p_all = p_near ** planes
    tables = max(
        1, min(64, math.ceil(math.log(1 - recall) / math.log(1 - p_all)))
    )
    return planes, tables


def md5_plane_signs(
    n_tables: int, n_planes: int, dim: int
) -> list[tuple[int, int, int, int]]:
    """±1 hyperplane components in the **md5 domain**: sign(t, p, j) = +1
    iff the first hex char of ``md5(f"{t}~{p}~{j}")`` is ≥ '8' (the high
    bit of the first nibble). Computed driver-side with hashlib (model-
    sized: tables × planes × dim rows) and reproduced verbatim in SQL as
    ``substr(md5(t || '~' || p || '~' || j), 1, 1) BETWEEN '8' AND 'f'``
    — the ANN analogue of dedup's md5-domain MinHash signatures."""
    import hashlib

    return [
        (
            t,
            p,
            j,
            1
            if hashlib.md5(f"{t}~{p}~{j}".encode()).hexdigest()[0]
            in "89abcdef"
            else -1,
        )
        for t in range(n_tables)
        for p in range(n_planes)
        for j in range(dim)
    ]


def _md5_bucket_keys_folded(
    vectors: DataFrame,
    id_col: str,
    vec: str,
    dim: int,
    n_tables: int,
    n_planes: int,
    scale: int,
) -> DataFrame:
    """(id, t, key) bucket keys, computed map-side with no exchange: one
    Arrow int64 ``xq @ signs`` matmul per table per batch, bit = (dot ≥
    0). Keeping the keys frame at scan size lets the planner
    auto-broadcast the bucket self-join at bench scale and keep a
    shuffle join at real scale. At grid 1e6 |dot| ≤ dim·1e6·max|x|, far
    inside int64, so every key is exact and matches the oracle's SQL
    sums.

    Precondition: vectors have exactly ``dim`` non-null components (the
    matrix form needs rectangular input; the fixtures' embeddings are
    64-wide and the shared oracles hash-check the keys end to end)."""
    from pyspark.sql.functions import pandas_udf

    sign_of = {
        (t, p, j): s
        for t, p, j, s in md5_plane_signs(n_tables, n_planes, dim)
    }
    mats = [
        np.array(
            [
                [sign_of[(t, p, j)] for p in range(n_planes)]
                for j in range(dim)
            ],
            dtype=np.int64,
        )  # dim × n_planes
        for t in range(n_tables)
    ]

    @pandas_udf("array<long>")
    def keys(v: pd.Series) -> pd.Series:
        xq = snap_np(v, scale)[:, :dim]
        return pd.Series(list(plane_keys(xq, mats, strict=False)))

    return (
        vectors.filter(
            F.col(vec).isNotNull() & (F.size(F.col(vec)) > 0)
        )
        .select(F.col(id_col), keys(F.col(vec)).alias("__ks"))
        .select(
            id_col, F.posexplode("__ks").alias("t", "key")
        )
    )


def _exact_verify(
    cand: DataFrame, vectors: DataFrame, id_col: str, vec: str,
    threshold: float,
) -> DataFrame:
    """(id_a, id_b, cosine) for the candidate pairs ``cand(id_a, id_b)``
    whose sequential-fold cosine over ``vectors`` is ≥ threshold, rounded
    to 6 dp — the value DuckDB's ``list_inner_product`` twin computes.
    Each side's norm is computed once per vector, so a candidate pays one
    dot fold (:func:`normed_cosine`)."""

    def side(s: str) -> DataFrame:
        return vectors.select(
            F.col(id_col).alias(f"id_{s}"),
            F.col(vec).alias(f"__{s}v"),
            norm(F.col(vec)).alias(f"__{s}n"),
        )

    return (
        cand.join(side("a"), "id_a")
        .join(side("b"), "id_b")
        .withColumn("cosine", normed_cosine("a", "b"))
        .filter(F.col("cosine") >= threshold)
        .select("id_a", "id_b", F.round("cosine", 6).alias("cosine"))
    )


def cosine_pairs_lsh_md5(
    vectors: DataFrame,
    id_col: str,
    dim: int,
    threshold: float = 0.4,
) -> DataFrame:
    """Near-dup pair generation via md5-domain hyperplane LSH, with no
    float in the bucket keys, so DuckDB reproduces them. Buckets come from
    :func:`md5_plane_signs` + grid-quantized exact bigint dots; the
    verify is the exact left-fold cosine on candidates only, which
    matches DuckDB's sequential ``list_inner_product`` bit-for-bit (the
    ``dedup_embed_cosine`` precedent). Returns (id_a, id_b, cosine ≥
    threshold) with id_a < id_b."""
    keys = _md5_bucket_keys_folded(
        vectors, id_col, "embedding", dim, 4, 4, GRID
    )
    l, r = keys.alias("l"), keys.alias("r")
    pairs = (
        l.join(
            r,
            (F.col("l.t") == F.col("r.t"))
            & (F.col("l.key") == F.col("r.key"))
            & (F.col(f"l.{id_col}") < F.col(f"r.{id_col}")),
        )
        .select(
            F.col(f"l.{id_col}").alias("id_a"),
            F.col(f"r.{id_col}").alias("id_b"),
        )
        .dropDuplicates(["id_a", "id_b"])
    )
    return _exact_verify(pairs, vectors, id_col, "embedding", threshold)


def lsh_ann_md5(
    queries: DataFrame,
    candidates: DataFrame,
    dim: int,
    n_tables: int = 4,
    n_planes: int = 4,
    k: int = 5,
    scale: int = GRID,
    multiprobe: int = 0,
) -> DataFrame:
    """Hyperplane-LSH ANN whose EVERY intermediate is reproducible in
    ANSI SQL, in the md5 plane family.

    Three md5/fixed-point substitutions make it checkable:

    * planes come from :func:`md5_plane_signs` (md5 high-bit → ±1);
    * embeddings quantize to a 1e6 integer grid map-side
      (``FLOOR(e·1e6 + 0.5)`` — the repo's standard snap), so each
      plane dot is an exact bigint sum: no float-order divergence can
      flip a bucket bit on either engine;
    * candidates rank by the exact integer inner product of the
      quantized vectors (MIPS scoring) with an id tiebreak — every
      emitted value is integer-domain.

    Same scale posture as :func:`lsh_topk_exact`: bucket keys are one
    map-side Arrow int64 kernel (:func:`_md5_bucket_keys_folded`), the
    bucket equi-join shuffles bare ids, and scoring touches candidate
    pairs only. Returns (query_id, neighbor_id, rank, dot_q).

    ``multiprobe > 0`` additionally probes, per table, every bucket at
    Hamming distance 1 from the query's own (the first ``multiprobe``
    single-bit flips of the key) — Lv et al.'s multi-probe LSH: near
    neighbors that land one flipped hyperplane away are recovered from
    the SAME tables instead of by building more tables, trading a
    broadcast-side probe-key fan-out (|queries|·tables·(1+multiprobe)
    rows — still tiny) for an index that is `multiprobe`x smaller in
    memory/build cost at comparable recall. The candidate side is
    untouched: one bucket key per (vector, table), so index size does
    not change with the probe count.
    """
    spark = queries.sparkSession

    def bucket_keys(df: DataFrame, id_out: str) -> DataFrame:
        return _md5_bucket_keys_folded(
            df, id_out, "embedding", dim, n_tables, n_planes, scale
        )

    qq = grid_rows(queries, "query_id", "embedding", scale)
    qc = grid_rows(candidates, "neighbor_id", "embedding", scale)
    probe_keys = bucket_keys(queries, "query_id")
    if multiprobe > 0:
        flips = spark.range(multiprobe).select(
            F.col("id").cast("int").alias("__mp_p")
        )
        flipped = probe_keys.crossJoin(F.broadcast(flips)).select(
            "query_id",
            "t",
            F.col("key").bitwiseXOR(
                F.call_function(
                    "shiftleft", F.lit(1).cast("long"), F.col("__mp_p")
                )
            ).alias("key"),
        )
        probe_keys = probe_keys.select("query_id", "t", "key").union(
            flipped
        ).dropDuplicates(["query_id", "t", "key"])
    pairs = (
        F.broadcast(probe_keys)
        .join(bucket_keys(candidates, "neighbor_id"), ["t", "key"])
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select("query_id", "neighbor_id")
        .dropDuplicates(["query_id", "neighbor_id"])
    )
    scored = (
        pairs.join(
            F.broadcast(
                qq.select("query_id", "j", F.col("q").alias("qa"))
            ),
            "query_id",
        )
        .join(
            qc.select("neighbor_id", "j", F.col("q").alias("qb")),
            ["neighbor_id", "j"],
        )
        .groupBy("query_id", "neighbor_id")
        .agg(F.sum(F.col("qa") * F.col("qb")).alias("dot_q"))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("dot_q").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            "query_id",
            "neighbor_id",
            F.col("rank").cast("long").alias("rank"),
            F.col("dot_q").cast("long").alias("dot_q"),
        )
    )


def cosine_pairs(
    vectors: DataFrame,
    id_col: str = "vec_id",
    vec: str = "embedding",
    threshold: float = 0.4,
) -> DataFrame:
    """Exact embedding-cosine near-dup pairs (id_a < id_b, cosine ≥
    threshold) via self cross-join — the oracle-checkable baseline of the
    X2 embedding-dedup mode (quadratic by design; ``cosine_pairs_blocked``
    and the LSH pair generators are the scale paths, same contract)."""
    a = vectors.select(F.col(id_col).alias("id_a"), F.col(vec).alias("__va"))
    b = vectors.select(F.col(id_col).alias("id_b"), F.col(vec).alias("__vb"))
    return (
        a.join(b, F.col("id_a") < F.col("id_b"))
        .withColumn("cosine", cosine(F.col("__va"), F.col("__vb")))
        .filter(F.col("cosine") >= threshold)
        .select("id_a", "id_b", F.round("cosine", 6).alias("cosine"))
    )


def cosine_pairs_lsh_exact(
    vectors: DataFrame,
    id_col: str = "vec_id",
    vec: str = "embedding",
    threshold: float = 0.4,
) -> DataFrame:
    """Embedding-cosine near-dup pairs via hyperplane-LSH bucket
    self-join, with EXACT-integer bucket keys (sha256-parity ±1 planes,
    grid-quantized strict-positive dots — the ``lsh_topk_exact`` key
    family), so the registered ``dedup_embed_cosine_lsh`` is
    oracle-checkable: banding is reproducible term-for-term in DuckDB and
    the candidate verify is the exact-fold cosine both engines share.
    Candidates = id pairs sharing ≥1 (table, key) bucket — cost ∝ bucket
    collisions, not n². Returns (id_a, id_b, cosine)."""
    vectors = vectors.filter(F.col(vec).isNotNull())
    keys_udf = _table_keys_exact_vectorized(
        64, 4, 16, 42, GRID
    )
    keyed = vectors.select(
        F.col(id_col).alias("id"), keys_udf(F.col(vec)).alias("__ks")
    )
    buckets = keyed.select(
        "id", F.posexplode("__ks").alias("__table", "__key")
    )
    l, r = buckets.alias("l"), buckets.alias("r")
    cand = (
        l.join(
            r,
            (F.col("l.__table") == F.col("r.__table"))
            & (F.col("l.__key") == F.col("r.__key"))
            & (F.col("l.id") < F.col("r.id")),
        )
        .select(F.col("l.id").alias("id_a"), F.col("r.id").alias("id_b"))
        .dropDuplicates(["id_a", "id_b"])
    )
    return _exact_verify(cand, vectors, id_col, vec, threshold)


def _checkpointed_blocks(
    vectors: DataFrame,
    id_col: str,
    vec: str,
    block_rows: int,
    class_col: str | None = None,
) -> tuple[DataFrame, int]:
    """Project to (id, __v[, __c]), drop rows with a null vector (or
    class), checkpoint (the subtree is referenced by the fan-out AND the
    exact-verify joins, and counted once), and derive the block count
    nb = ceil(n / block_rows)."""
    cols = [F.col(id_col).alias("id"), F.col(vec).alias("__v")]
    keep = F.col("__v").isNotNull()
    if class_col is not None:
        cols.append(F.col(class_col).alias("__c"))
        keep = keep & F.col("__c").isNotNull()
    v = pin(vectors.select(*cols).filter(keep))
    n = v.count()
    return v, max(1, -(-n // block_rows)) if n else 1


def _block_fanout(v: DataFrame, nb: int) -> DataFrame:
    """Fan each row of ``v`` (every column kept) out to every block pair
    it participates in (one shuffle of n·nb rows); downstream groups by
    (ga, gb) so each Arrow group holds exactly the two blocks it must
    score."""
    cols = v.columns
    return v.select(
        *cols,
        F.pmod(F.xxhash64(F.col("id")), F.lit(nb)).cast("int").alias("__b"),
    ).select(
        *cols,
        "__b",
        F.explode(
            F.array_distinct(
                F.array(
                    *[
                        F.struct(
                            F.least(F.col("__b"), F.lit(o)).alias("ga"),
                            F.greatest(F.col("__b"), F.lit(o)).alias("gb"),
                        )
                        for o in range(nb)
                    ]
                )
            )
        ).alias("__g"),
    ).select(
        *cols,
        "__b",
        F.col("__g.ga").alias("ga"),
        F.col("__g.gb").alias("gb"),
    )


def _block_cosines(pdf: pd.DataFrame, emit, both_ways: bool) -> None:
    """Score one (ga, gb) group of :func:`_block_fanout` rows as chunked
    float64 cosine matmuls (512 rows per chunk, so per-task memory stays
    bounded by the two blocks plus one score chunk), calling
    ``emit(cs, valid, r, c)`` per chunk: ``cs[i, k]`` is the cosine of
    the rows at positions ``r[i]`` and ``c[k]`` of ``pdf``, and
    ``valid`` masks self pairs out. Across two blocks the rows of ``ga``
    meet the rows of ``gb``, and with ``both_ways`` also the reverse (a
    per-row maximum needs every candidate on the row side). Within one
    block every row meets every other; without ``both_ways`` each
    unordered pair is scored once (strict upper triangle)."""
    X = np.stack([np.asarray(x, dtype=np.float64) for x in pdf["__v"]])
    nrm = np.sqrt((X * X).sum(axis=1))
    ga = int(pdf["ga"].iloc[0])
    if ga == int(pdf["gb"].iloc[0]):
        idx = np.arange(len(X))
        passes = [(idx, idx, X, X)]
    else:
        am = pdf["__b"].to_numpy() == ga
        ia, ib = np.flatnonzero(am), np.flatnonzero(~am)
        A, B = X[am], X[~am]
        passes = [(ia, ib, A, B)] + ([(ib, ia, B, A)] if both_ways else [])
    with np.errstate(divide="ignore", invalid="ignore"):
        for r, c, R, C in passes:
            if not (len(r) and len(c)):
                continue
            for s in range(0, len(r), 512):
                e = min(s + 512, len(r))
                cs = (R[s:e] @ C.T) / (nrm[r[s:e], None] * nrm[None, c])
                if r is c:
                    off = c[None, :] - r[s:e, None]
                    valid = off != 0 if both_ways else off > 0
                else:
                    valid = np.ones_like(cs, dtype=bool)
                emit(cs, valid, r[s:e], c)


def _near_row_max(cs: np.ndarray, valid: np.ndarray):
    """Valid scores within 1e-6 of their row's valid maximum, plus
    NaN scores (zero-norm vectors: the exact path decides those)."""
    rowmax = np.where(valid, cs, -np.inf).max(axis=1)
    return valid & ((cs >= rowmax[:, None] - 1e-6) | np.isnan(cs))


def cosine_pairs_blocked(
    vectors: DataFrame,
    id_col: str = "vec_id",
    vec: str = "embedding",
    threshold: float = 0.4,
    block_rows: int = 4096,
) -> DataFrame:
    """Exact cosine near-dup pairs — same contract and bit-identical output
    as ``cosine_pairs`` — with the O(n²) scoring done as blocked numpy
    matmuls instead of three interpreted array folds per row pair.

    Two stages:

    1. **Prefilter** (vectorized): rows hash into ``nb = ceil(n /
       block_rows)`` blocks; each row fans out to the ``nb`` block pairs it
       participates in (one shuffle of n·nb id+vector rows) and each block
       pair is one Arrow group scored by a chunked float64 matmul. A pair
       survives when its matmul cosine ≥ threshold − 1e-6; matmul
       reordering differs from the sequential fold by ~1e-13, so the margin
       cannot drop a true pair. Non-finite scores (zero-norm vectors) are
       kept so the *exact* path decides them — under ANSI mode that means
       the same divide-by-zero error the plain operator raises
       (throw-parity, pinned by tests/test_similarity.py).
    2. **Exact verify**: the surviving (id_a, id_b) candidates — and only
       those — join their vectors back and evaluate the sequential-fold
       ``cosine``, the ≥ threshold filter, and the 6-dp round. Every value
       the operator emits comes from this exact path, so the DuckDB oracle
       hash-match of the plain version carries over unchanged (measured:
       526 s → ~8 s on 5 k × 64-d at sf0.1 for the hash-embedding corpus).

    Still quadratic in total flops — it is the *exact baseline*; use
    ``cosine_pairs_lsh_exact`` / ``semantic_dedup`` for the subquadratic scale
    path. Per-task memory is bounded by 2·block_rows vectors plus a
    512-row score-matrix chunk regardless of n.
    """
    from pyspark.sql.types import StructField, StructType

    id_type = vectors.schema[id_col].dataType
    v, nb = _checkpointed_blocks(vectors, id_col, vec, block_rows)
    thr = threshold - 1e-6
    out_schema = StructType(
        [StructField("id_a", id_type), StructField("id_b", id_type)]
    )

    def _score_block(pdf):
        ids = pdf["id"].to_numpy()
        res_a: list = []
        res_b: list = []

        def emit(cs, valid, r, c):
            ii, jj = np.nonzero(valid & ((cs >= thr) | ~np.isfinite(cs)))
            a, b = ids[r[ii]], ids[c[jj]]
            lo, hi = a < b, b < a  # orient by id value; drop equal ids
            res_a.extend(np.where(lo, a, b)[lo | hi])
            res_b.extend(np.where(lo, b, a)[lo | hi])

        _block_cosines(pdf, emit, both_ways=False)
        return pd.DataFrame({"id_a": res_a, "id_b": res_b})

    cand = _block_fanout(v, nb).groupBy("ga", "gb").applyInPandas(
        _score_block, schema=out_schema
    )
    return _exact_verify(cand, v, "id", "__v", threshold)


def nn_shortlist_blocked(
    vectors: DataFrame,
    id_col: str = "vec_id",
    vec: str = "embedding",
    block_rows: int = 4096,
) -> DataFrame:
    """Directional leave-one-out nearest-neighbor shortlist: for every
    non-null vector, the candidate ids whose blocked-matmul cosine is
    within 1e-6 of that row's per-block maximum. Returns
    ``(id, cand_id)`` — guaranteed to contain the exact argmax (and every
    exact tie): the true 1-NN j* is its own block's maximum, and any j
    tied with j* to float precision (~1e-13) is within margin of *its*
    block's maximum too, so an exact re-rank over the shortlist — the few
    ·nb candidates per row instead of n — reproduces the full n² ranking
    bit-for-bit. Rows whose score row is all-NaN (zero-norm vectors) keep
    every candidate so the exact path decides them (ANSI throw-parity).

    Caller contract: re-score the shortlist with the sequential-fold
    ``cosine`` and take row_number over (cosine desc, cand_id asc). Rows
    with NULL vectors are excluded here — handle their (engine-identical)
    all-NULL-cosine ordering separately; see embed_knn_label_accuracy.
    """
    from pyspark.sql.types import StructField, StructType

    id_type = vectors.schema[id_col].dataType
    v, nb = _checkpointed_blocks(vectors, id_col, vec, block_rows)
    out_schema = StructType(
        [StructField("id", id_type), StructField("cand_id", id_type)]
    )

    def _shortlist(pdf):
        ids = pdf["id"].to_numpy()
        res_i: list = []
        res_j: list = []

        def emit(cs, valid, r, c):
            ii, jj = np.nonzero(_near_row_max(cs, valid))
            res_i.extend(ids[r[ii]])
            res_j.extend(ids[c[jj]])

        _block_cosines(pdf, emit, both_ways=True)
        return pd.DataFrame({"id": res_i, "cand_id": res_j})

    return _block_fanout(v, nb).groupBy("ga", "gb").applyInPandas(
        _shortlist, schema=out_schema
    )


def semantic_dedup(
    vectors: DataFrame,
    id_col: str = "vec_id",
    vec: str = "embedding",
    k: int = 16,
    threshold: float = 0.9,
) -> DataFrame:
    """SemDeDup-style semantic near-dup removal (Abbas et al. 2023,
    arXiv:2303.09540): cluster embeddings coarsely, compare cosines only
    WITHIN clusters, drop all but one survivor per near-dup group.

    Extension-stack X2/X3 composition (reference has no embedding dedup;
    SURVEY §2b): the pipeline that prunes semantically-redundant training
    data where MinHash (lexical) misses paraphrases.

    Plan shape / 100 TB posture:

    1. k-means-lite coarse quantizer (``kmeans_centroids`` — only the K×dim
       centroid *model* reaches the driver) + Arrow-vectorized assignment.
    2. Within-cell exact cosine pairs: self-join keyed on cell, so candidate
       cost is Σ|cell|², never n². At cluster scale pick k ∝ √n (SemDeDup
       itself uses k=50k on LAION) so cells stay ~thousands of rows; cells
       are the shuffle key, so k also bounds parallelism — k ≫ executors.
    3. Connected components over the pair graph (``operators/graph.py``);
       survivor = min id per component (deterministic, seed-free).

    The assigned frame is localCheckpoint'ed: it is referenced three times
    (both join sides + the output), and an un-checkpointed multi-referenced
    frame re-runs the kmeans assignment UDF per reference (module-docstring
    rule measured on the LSH→CC path).

    Returns ``(id, cell, cluster_id, is_kept)`` for every input vector —
    ``is_kept=0`` rows are the semantic duplicates to drop.
    """
    from . import graph

    cents = kmeans_centroids(vectors, vec=vec, k=k, iters=2, id_col=id_col)
    assigned = pin(
        vectors.select(F.col(id_col).alias("id"), F.col(vec).alias("__v"))
        .withColumn("cell", nearest_centroid_vectorized(cents)(F.col("__v")))
    )
    # cell -1 = NULL embedding: excluded from BOTH join sides up front —
    # otherwise all null rows share one cell and generate O(n_null²)
    # candidate pairs that only die after cosine evaluates to null.
    valid = assigned.filter(F.col("cell") >= 0)
    a = valid.select("cell", F.col("id").alias("id_a"), F.col("__v").alias("__va"))
    b = valid.select(
        F.col("cell").alias("__cell_b"),
        F.col("id").alias("id_b"),
        F.col("__v").alias("__vb"),
    )
    pairs = (
        a.join(
            b,
            (F.col("cell") == F.col("__cell_b")) & (F.col("id_a") < F.col("id_b")),
        )
        .withColumn("__cos", cosine(F.col("__va"), F.col("__vb")))
        .filter(F.col("__cos") >= threshold)
        .select("id_a", "id_b")
    )
    labels = graph.connected_components(pairs, src="id_a", dst="id_b")
    return (
        assigned.select("id", "cell")
        .join(labels, "id", "left")
        .select(
            "id",
            "cell",
            F.coalesce("cluster_id", "id").alias("cluster_id"),
            (F.coalesce("cluster_id", "id") == F.col("id"))
            .cast("long")
            .alias("is_kept"),
        )
    )


def pca_moments(
    vectors: DataFrame,
) -> tuple[int, "list[float]", "list[list[float]]"]:
    """Distributed PCA training, step 1: the sufficient statistics.

    One Arrow ``mapInPandas`` pass emits per-partition partials
    ``(n, Σx, ΣxxT)``; only those d + d² numbers per partition reach the
    driver (model-sized, like ``kmeans_centroids`` — never the data). The
    driver reduces partials and returns ``(n, mean, covariance)``.

    Same pattern a 1000-executor cluster wants: the shuffle-free moment
    pass is embarrassingly parallel and the reduce payload is O(d²)
    regardless of row count.
    """
    import numpy as np

    def partials(it):
        import numpy as np  # noqa: F811 — runs on the worker

        n = 0
        s = None
        o = None
        for pdf in it:
            col = pdf["embedding"].to_numpy()
            col = [e for e in col if e is not None]
            if not col:
                continue
            x = np.stack(col).astype(np.float64)
            n += x.shape[0]
            s = x.sum(axis=0) if s is None else s + x.sum(axis=0)
            o = x.T @ x if o is None else o + x.T @ x
        if n:
            yield pd.DataFrame(
                {"n": [n], "s": [s.tolist()], "o": [o.ravel().tolist()]}
            )

    rows = (
        vectors.select("embedding")
        .mapInPandas(partials, "n long, s array<double>, o array<double>")
        .collect()
    )
    if not rows:
        raise ValueError("pca_moments: no non-null vectors in input")
    n = sum(r["n"] for r in rows)
    d = len(rows[0]["s"])
    s = np.zeros(d)
    o = np.zeros((d, d))
    for r in rows:
        s += np.asarray(r["s"])
        o += np.asarray(r["o"]).reshape(d, d)
    mean = s / n
    cov = o / n - np.outer(mean, mean)
    return n, mean.tolist(), cov.tolist()


def pca_components(cov: "list[list[float]]") -> tuple[list, list]:
    """Driver-side eigendecomposition of the (tiny, d×d) covariance.

    Determinism across runs: float partial-sum order varies between
    executions, so the covariance is rounded to 9 dp before ``eigh`` and
    each eigenvector's sign is fixed (largest-|component| positive) —
    otherwise re-runs could flip signs / jitter in the last ulp.
    Returns (eigenvalues desc, column-stacked components d×d).
    """
    import numpy as np

    c = np.round(np.asarray(cov), 9)
    vals, vecs = np.linalg.eigh(c)  # ascending
    order = np.argsort(vals)[::-1]
    vals, vecs = vals[order], vecs[:, order]
    for j in range(vecs.shape[1]):
        i = int(np.abs(vecs[:, j]).argmax())
        if vecs[i, j] < 0:
            vecs[:, j] = -vecs[:, j]
    return vals.tolist(), vecs.tolist()


def pca_project(
    vectors: DataFrame,
    mean: "list[float]",
    components: "list[list[float]]",
    n_components: int,
    out: str = "proj",
) -> DataFrame:
    """Apply a trained PCA: ``(x - mean) @ W[:, :k]`` as one numpy matmul
    per Arrow batch (the dense-linear-algebra rule — same as
    ``nearest_centroid_vectorized``). Output rounded to 6 dp so re-runs
    are bit-stable despite float batch boundaries."""
    import numpy as np
    from pyspark.sql.functions import pandas_udf

    mu = np.asarray(mean)
    W = np.asarray(components)[:, :n_components]

    @pandas_udf("array<double>")
    def project(v: pd.Series) -> pd.Series:
        import numpy as np  # noqa: F811 — runs on the worker

        arr = v.to_numpy()
        valid = np.array([e is not None for e in arr])
        res = [None] * len(arr)
        if valid.any():
            x = np.stack(arr[valid]).astype(np.float64)
            p = np.round((x - mu) @ W, 6)
            for slot, row in zip(np.nonzero(valid)[0], p):
                res[slot] = row.tolist()
        return pd.Series(res)

    return vectors.withColumn(out, project(F.col("embedding")))


def class_nn_shortlist_blocked(
    vectors: DataFrame,
    id_col: str = "vec_id",
    vec: str = "embedding",
    class_col: str = "label",
) -> DataFrame:
    """Per-class leave-one-out 1-NN shortlist: for every non-null vector,
    candidate ids within 1e-6 of that row's per-block maximum
    cosine — tracked SEPARATELY for same-class and different-class
    candidates. Returns ``(id, cand_id, same)``.

    Same guarantee as :func:`nn_shortlist_blocked`, per class side: the
    true best same-class (resp. different-class) neighbor is its own
    block's same-class (diff-class) maximum, so it survives into the
    shortlist and an exact-fold re-rank reproduces the full ranking. The
    contrastive-mining primitive: positives and hard negatives in one
    blocked pass instead of one job per label subset.
    """
    from pyspark.sql.types import BooleanType, StructField, StructType

    id_type = vectors.schema[id_col].dataType
    v, nb = _checkpointed_blocks(vectors, id_col, vec, 4096, class_col)
    out_schema = StructType(
        [
            StructField("id", id_type),
            StructField("cand_id", id_type),
            StructField("same", BooleanType()),
        ]
    )

    def _shortlist(pdf):
        ids = pdf["id"].to_numpy()
        cls = pdf["__c"].to_numpy()
        res_i: list = []
        res_j: list = []
        res_s: list = []

        def emit(cs, valid, r, c):
            samec = cls[r][:, None] == cls[c][None, :]
            for side in (True, False):
                m = valid & (samec if side else ~samec)
                ii, jj = np.nonzero(_near_row_max(cs, m))
                res_i.extend(ids[r[ii]])
                res_j.extend(ids[c[jj]])
                res_s.extend([side] * len(ii))

        _block_cosines(pdf, emit, both_ways=True)
        return pd.DataFrame({"id": res_i, "cand_id": res_j, "same": res_s})

    return _block_fanout(v, nb).groupBy("ga", "gb").applyInPandas(
        _shortlist, schema=out_schema
    )

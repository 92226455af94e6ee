"""Persisted IVF index: results identical to the in-memory twin, appends
are O(batch) under the frozen quantizer, and probing is real partition
pruning (only the probed cells' files are read)."""

import shutil

import pytest
from pyspark.sql import functions as F

from youtube_etl_project_spark.operators import similarity
from youtube_etl_project_spark.operators.ann_index import (
    ivf_append,
    ivf_build,
    ivf_cell_stats,
    ivf_centroids,
    ivf_query,
)
from youtube_etl_project_spark.sources import load_table

K = 8
N_QUERIES = 10


def _emb(spark, sf_dir):
    return load_table(spark, sf_dir, "embeddings").filter(
        F.col("embedding").isNotNull()
    )


def _queries(emb):
    return emb.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )


def test_persisted_index_matches_inmemory_twin(spark, sf_dir, tmp_path):
    emb = _emb(spark, sf_dir)
    path = str(tmp_path / "ivf")
    ivf_build(emb, path, k=K, iters=2)

    got = sorted(
        map(tuple, ivf_query(_queries(emb), path, k=5, n_probe=4).collect())
    )
    centroids = similarity.kmeans_centroids(emb, k=K, iters=2)
    want = sorted(
        map(
            tuple,
            similarity.ivf_topk(
                _queries(emb),
                emb.select(F.col("vec_id").alias("neighbor_id"), "embedding"),
                centroids,
                k=5,
                n_probe=4,
            ).collect(),
        )
    )
    assert got == want
    # stored quantizer round-trips exactly
    assert ivf_centroids(spark, path) == centroids


def test_append_is_incremental_and_exact(spark, sf_dir, tmp_path):
    emb = _emb(spark, sf_dir)
    half_a = emb.filter(F.col("vec_id") % 2 == 0)
    half_b = emb.filter(F.col("vec_id") % 2 == 1)
    path = str(tmp_path / "ivf")

    ivf_build(half_a, path, k=K, iters=2)
    n_before = ivf_cell_stats(spark, path).agg(F.sum("n_vectors")).first()[0]
    ivf_append(half_b, path)
    n_after = ivf_cell_stats(spark, path).agg(F.sum("n_vectors")).first()[0]
    assert n_before == half_a.count()
    assert n_after == emb.count()

    # Query over build+append == in-memory IVF over the full corpus with
    # the SAME (half-A-trained, frozen) centroids — appending must not
    # change any result vs assigning everything up front.
    got = sorted(
        map(tuple, ivf_query(_queries(emb), path, k=5, n_probe=4).collect())
    )
    frozen = similarity.kmeans_centroids(half_a, k=K, iters=2)
    # the append assigned under the frozen quantizer: nothing retrained
    assert ivf_centroids(spark, path) == frozen
    want = sorted(
        map(
            tuple,
            similarity.ivf_topk(
                _queries(emb),
                emb.select(F.col("vec_id").alias("neighbor_id"), "embedding"),
                frozen,
                k=5,
                n_probe=4,
            ).collect(),
        )
    )
    assert got == want


def test_probe_prunes_partitions(spark, sf_dir, tmp_path):
    emb = _emb(spark, sf_dir)
    path = str(tmp_path / "ivf")
    ivf_build(emb, path, k=K, iters=2)

    one_query = _queries(emb).limit(1)
    result = ivf_query(one_query, path, k=5, n_probe=2)
    # the plan carries the probe set as a PARTITION filter on the
    # assignments scan (pruned before any file is opened)
    import re

    plan = result._jdf.queryExecution().executedPlan().toString()
    # several scans appear (embeddings, centroids, assignments) — the
    # assignments one must carry the cell probe set as a partition filter
    assert re.search(r"PartitionFilters: \[[^\]]*cell[^\]]*IN", plan), (
        plan[:2000]
    )

    # physically: the probed-cells scan reads a strict subset of the
    # index's files (replicating the filter ivf_query pushes down)
    import numpy as np

    from youtube_etl_project_spark.operators.ann_index import ivf_centroids

    C = np.asarray(ivf_centroids(spark, path))
    qv = np.asarray(one_query.first().embedding, dtype=float)
    probe_cells = np.argsort(((C - qv) ** 2).sum(axis=1))[:2].tolist()
    assignments = spark.read.parquet(f"{path}/assignments")
    read = (
        assignments.filter(F.col("cell").isin(probe_cells))
        .select(F.input_file_name().alias("f")).distinct().count()
    )
    total = assignments.select(F.input_file_name()).distinct().count()
    assert 0 < read < total, (read, total)
    # and the query's own results only come from those cells
    got_cells = {
        r.cell
        for r in assignments.join(
            result.select(F.col("neighbor_id").alias("id")), "id"
        ).select("cell").distinct().collect()
    }
    assert got_cells <= set(probe_cells), (got_cells, probe_cells)


def test_registered_query_matches_inmemory_twin(spark, sf_dir):
    """The REGISTERED serving query (embed_ivf_index_ann, rows-only in the
    gate) is pinned result-identical to the float in-memory IVF twin at
    the same frozen geometry (auto K, 2 Lloyd rounds, seeded init) ->
    same centroids -> same probes -> same top-k. (Until round 7 the pin
    target was the registered embed_ivf_ann; that query now trains on
    the exact integer grid and scores by quantized MIPS under its own
    DuckDB oracle, so the float persisted path pins against the float
    ivf_topk twin directly.)"""
    from youtube_etl_project_spark.registry import load_all_plans
    from youtube_etl_project_spark.sources import load_table

    plans = load_all_plans()
    served = plans["embed_ivf_index_ann"].fn(spark, sf_dir)

    emb = load_table(spark, sf_dir, "embeddings")
    k_cells, n_probe = similarity.auto_ivf_geometry(emb.count())
    cents = similarity.kmeans_centroids(emb, k=k_cells, iters=2)
    twin = similarity.ivf_topk(
        _queries(_emb(spark, sf_dir)),
        emb.select(F.col("vec_id").alias("neighbor_id"), "embedding"),
        cents,
        k=5,
        n_probe=n_probe,
    )
    assert sorted(map(tuple, served.collect())) == sorted(
        map(tuple, twin.collect())
    )
    assert served.schema == twin.schema


def _nsw_index_from(spark, df, idx):
    from youtube_etl_project_spark.operators import ann_index
    from youtube_etl_project_spark.plans.graph_ann import (
        nsw_graph_from_vectors,
    )

    edges, qe, assign, cb = nsw_graph_from_vectors(df)
    ann_index.nsw_build(edges, assign, qe, cb, idx)


@pytest.fixture(scope="module")
def nsw_base(spark, sf_dir, tmp_path_factory):
    """The NSW index over the even vec_ids, built once for the module.
    The build is deterministic, so a test that needs this index copies
    it (``shutil.copytree``) and writes only to its copy."""
    idx = str(tmp_path_factory.mktemp("nsw_base") / "nsw")
    _nsw_index_from(
        spark, _emb(spark, sf_dir).filter(F.col("vec_id") % 2 == 0), idx
    )
    return idx


def _nsw_state(spark, idx):
    e = {
        tuple(r)
        for r in spark.read.parquet(f"{idx}/edges")
        .select("src", "dst", "d", "dst_cell", "cell")
        .collect()
    }
    c = {
        tuple(r)
        for r in spark.read.parquet(f"{idx}/components")
        .select("id", "pos", "q", "cell")
        .collect()
    }
    return e, c


def test_nsw_insert_replay_is_idempotent(spark, sf_dir, tmp_path, nsw_base):
    """An insert attaches each new vector as the beam search of the
    pre-insert graph says: (1) its out-edges equal its top-8 search
    result on a frozen copy of the pre-insert index; (2) every touched
    neighbor's edge list equals its old edges plus the reverse edges,
    re-capped at 16; (3) the new vectors are served as results.

    Delivery is at-least-once: replaying an nsw_insert batch — whether
    the previous attempt completed fully or landed only some of its
    writes — must converge to the exact single-run state (duplicated
    (id,pos) component rows would silently DOUBLE nsw_query's
    sum-over-pos distances)."""
    from youtube_etl_project_spark.operators import ann_index
    from youtube_etl_project_spark.operators.grid import GRID, grid_rows

    emb = _emb(spark, sf_dir)
    batch = emb.filter((F.col("vec_id") % 2 == 1) & (F.col("vec_id") < 40))
    idx = str(tmp_path / "nsw")
    shutil.copytree(nsw_base, idx)
    pre = str(tmp_path / "pre")
    shutil.copytree(idx, pre)

    ann_index.nsw_insert(batch, idx)
    want = _nsw_state(spark, idx)
    assert want[0] and want[1]

    new_ids = {r.vec_id for r in batch.collect()}
    e1 = spark.read.parquet(f"{idx}/edges").collect()
    # (1) inserted out-edges == beam-search top-8 on the frozen snapshot
    qe_b = grid_rows(
        batch, "vec_id", "embedding", GRID, id_out="id", pos="pos"
    )
    searched = {
        (r.query_id, r.neighbor_id, r.dist_q)
        for r in ann_index.nsw_query(qe_b, pre, topk=8).collect()
    }
    assert searched
    assert {(r.src, r.dst, r.d) for r in e1 if r.src in new_ids} == searched
    # (2) touched neighbors: old edges + reverse edges, re-capped at 16
    old: dict = {}
    for r in spark.read.parquet(f"{pre}/edges").collect():
        old.setdefault(r.src, []).append((r.d, r.dst))
    rev: dict = {}
    for qid, nid, d in searched:
        rev.setdefault(nid, []).append((d, qid))
    kept: dict = {}
    for r in e1:
        if r.src not in new_ids:
            kept.setdefault(r.src, []).append((r.d, r.dst))
    for u, extra in rev.items():
        assert sorted(kept[u]) == sorted(old.get(u, []) + extra)[:16], u
    # (3) the updated index serves the new nodes as results
    per_q: dict = {}
    for r in ann_index.nsw_query(qe_b, idx, topk=5).collect():
        per_q.setdefault(r.query_id, []).append(r.rank)
    assert set(per_q) == new_ids
    assert all(sorted(v) == [1, 2, 3, 4, 5] for v in per_q.values())

    # full replay (crash after everything but the checkpoint commit)
    ann_index.nsw_insert(batch, idx)
    assert _nsw_state(spark, idx) == want

    # partial replay: simulate a crash that landed ONLY the components
    # append of a second batch, then replay the whole batch
    from youtube_etl_project_spark.operators.grid import GRID, grid_rows

    batch2 = emb.filter(
        (F.col("vec_id") % 2 == 1)
        & (F.col("vec_id") >= 40) & (F.col("vec_id") < 60)
    )
    idx2 = str(tmp_path / "nsw2")
    shutil.copytree(nsw_base, idx2)
    ann_index.nsw_insert(batch2, idx2)
    want2 = _nsw_state(spark, idx2)

    idx3 = str(tmp_path / "nsw3")
    shutil.copytree(nsw_base, idx3)
    # crash-landed components only (what step 2 of the insert writes)
    qe_b = grid_rows(
        batch2, "vec_id", "embedding", GRID, id_out="id", pos="pos"
    )
    cb = spark.read.parquet(f"{idx3}/coarse")
    qq = qe_b.withColumnRenamed("id", "query_id")
    from pyspark.sql import Window

    dc = F.col("q") - F.col("cq")
    wq = Window.partitionBy("query_id").orderBy(F.asc("dist"), F.asc("cell"))
    assign_new = (
        qq.join(F.broadcast(cb), "pos")
        .groupBy("query_id", "cell")
        .agg(F.sum(dc * dc).cast("long").alias("dist"))
        .withColumn("rn", F.row_number().over(wq))
        .filter(F.col("rn") == 1)
        .select(F.col("query_id").alias("id"), "cell")
    )
    qe_b.join(assign_new, "id").write.mode("append").partitionBy(
        "cell"
    ).parquet(f"{idx3}/components")
    # replay the whole batch on top of the partial state
    ann_index.nsw_insert(batch2, idx3)
    assert _nsw_state(spark, idx3) == want2


def test_nsw_insert_empty_cell_attaches_via_second_cell(
    spark, sf_dir, tmp_path, nsw_base
):
    """VERDICT r10 #7: a new vector whose nearest coarse cell has no
    indexed members must attach through its second-nearest cell (the
    build's 2-nearest-cells rule) instead of being inserted edgeless."""
    from youtube_etl_project_spark.operators import ann_index

    emb = _emb(spark, sf_dir)
    idx = str(tmp_path / "nsw")
    shutil.copytree(nsw_base, idx)

    # drain one cell: pick the cell of the first held-out vector, remove
    # its partitions so that vector's nearest cell is guaranteed empty
    held = emb.filter(F.col("vec_id") % 2 == 1).limit(1)
    from youtube_etl_project_spark.operators.grid import GRID, grid_rows

    qe_h = grid_rows(

        held, "vec_id", "embedding", GRID, id_out="id", pos="pos"

    )
    probe = ann_index.nsw_query(qe_h, idx, topk=1, include_cell=True)
    # cell of the held vector under the persisted codebook = entry cell
    cb = spark.read.parquet(f"{idx}/coarse")
    qq = qe_h.withColumnRenamed("id", "query_id")
    dc = F.col("q") - F.col("cq")
    dists = (
        qq.join(F.broadcast(cb), "pos")
        .groupBy("query_id", "cell")
        .agg(F.sum(dc * dc).cast("long").alias("dist"))
        .orderBy("dist", "cell")
        .collect()
    )
    nearest_cell = dists[0].cell
    import os

    for ds in ("edges", "components"):
        p = f"{idx}/{ds}/cell={nearest_cell}"
        if os.path.isdir(p):
            shutil.rmtree(p)
    assert probe is not None  # pre-drain the index served normally

    ann_index.nsw_insert(held, idx)
    new_id = held.first().vec_id
    out = (
        spark.read.parquet(f"{idx}/edges")
        .filter(F.col("src") == new_id)
        .count()
    )
    assert out > 0, "empty-cell insert must attach via the 2nd cell"
    # and its neighbors live in the second-nearest (non-drained) cell
    second_cell = dists[1].cell
    dst_cells = {
        r.dst_cell
        for r in spark.read.parquet(f"{idx}/edges")
        .filter(F.col("src") == new_id)
        .select("dst_cell")
        .collect()
    }
    assert nearest_cell not in dst_cells
    assert second_cell in dst_cells


def test_adjacency_cache_widens_on_insert_and_stamps_foreign_writes(
    spark, sf_dir, tmp_path, nsw_base
):
    """nsw_insert WIDENS the cached cell adjacency with its known
    (cell, dst_cell) additions instead of dropping it (no full edges
    re-scan per micro-batch), and the entry is keyed by the edges dir's
    content fingerprint, so any OTHER writer invalidates it loudly
    instead of silently under-pruning."""
    import os

    from youtube_etl_project_spark.operators import ann_index, fixture_cache

    emb = _emb(spark, sf_dir)
    batch = emb.filter((F.col("vec_id") % 2 == 1) & (F.col("vec_id") < 40))
    idx = str(tmp_path / "nsw_adj")
    shutil.copytree(nsw_base, idx)
    edges = os.path.join(idx, "edges")
    rebuilds = []

    def rebuild():
        rebuilds.append(1)
        return ann_index._load_nsw_adjacency(spark, idx)

    # prime the cache, then insert: the widened entry must be served
    # without a rebuild and cover a cold rebuild from the post-insert
    # edge list (a missing pair would drop frontier distance rows)
    ann_index._nsw_cell_adjacency(spark, idx)
    ann_index.nsw_insert(batch, idx)
    widened = {
        c: set(d)
        for c, d in fixture_cache.cached_model(
            ann_index._NSW_ADJ, edges, rebuild
        ).items()
    }
    assert not rebuilds, "insert dropped the entry"
    cold = ann_index._load_nsw_adjacency(spark, idx)
    for cell, dsts in cold.items():
        assert dsts <= widened.get(cell, set()), (
            f"cell {cell}: widened cache missing {dsts - widened.get(cell, set())}"
        )

    # a foreign write to {path}/edges changes the fingerprint -> the
    # next lookup rebuilds instead of serving the (possibly
    # under-pruning) entry
    marker = os.path.join(edges, "_foreign_touch")
    with open(marker, "w") as fh:
        fh.write("x")
    try:
        fixture_cache.cached_model(ann_index._NSW_ADJ, edges, rebuild)
        assert rebuilds == [1]
    finally:
        os.remove(marker)


def test_driver_coarse_ranking_matches_the_spark_tie_rule(spark, tmp_path):
    """The NSW and IVF-PQ probes rank coarse cells on the driver
    (``_nearest_coarse_cells``); the in-memory builds rank them with
    ``exact_kmeans.nearest_cells`` over ``kmeans_dists_exact``. Both must
    give the same (query, cell, rank) rows where Spark's rules decide:
    exact ties go to the lower cell, the distance sums over the positions
    the query shares with the codebook, NULL components add nothing, an
    all-NULL distance sorts first, and a query sharing no position ranks
    no cell."""
    from youtube_etl_project_spark.operators.ann_index import (
        _nearest_coarse_cells,
        _query_vectors,
    )
    from youtube_etl_project_spark.operators.grid import nearest_cells
    from youtube_etl_project_spark.plans.exact_kmeans import (
        kmeans_dists_exact,
    )

    cb = spark.createDataFrame(
        [
            (c, p, q)
            for c, vec in enumerate([(0, 0, 0), (2, 0, 0), (0, 2, 0), (2, 2, 5)])
            for p, q in enumerate(vec)
        ],
        "cell int, pos int, cq long",
    )
    path = str(tmp_path / "coarse_idx")
    cb.coalesce(1).write.parquet(f"{path}/coarse")
    qe = spark.createDataFrame(
        [
            (1, 0, 1), (1, 1, 0), (1, 2, 0),  # cells 0 and 1 tie
            (2, 0, 1), (2, 1, 1), (2, 2, 9),  # cells 0-2 tie behind 3
            (3, 0, 2), (3, 1, 2),             # no pos 2: partial sum
            (4, 0, None), (4, 1, 2), (4, 2, 0),  # a NULL component
            (5, 0, None), (5, 1, None),       # every distance NULL
            (6, 7, 1),                        # shares no position
        ],
        "id long, pos int, q long",
    )
    for n in (1, 2, 4):
        want = sorted(
            (r.id, r.cell, r.rn)
            for r in nearest_cells(kmeans_dists_exact(qe, cb), ["id"], n)
            .select("id", "cell", "rn")
            .collect()
        )
        got = _nearest_coarse_cells(spark, path, _query_vectors(qe.collect()), n)
        assert sorted(got) == want, n


def _write_ivf(path, cents, cand):
    """Persist an IVF index with the given centroids over ``cand``."""
    from youtube_etl_project_spark.operators.ann_index import _assign

    cand.sparkSession.createDataFrame(
        list(enumerate(cents)), "cell int, centroid array<double>"
    ).coalesce(1).write.mode("overwrite").parquet(f"{path}/centroids")
    _assign(cand, cents, "vec_id", "embedding").write.mode(
        "overwrite"
    ).partitionBy("cell").parquet(f"{path}/assignments")


def test_probe_ranking_keeps_null_and_tie_order(spark, tmp_path):
    """ivf_query ranks probe cells on the driver; ivf_topk ranks them
    with Spark Columns. They must agree where Spark's ordering decides:
    a NULL query vector (every distance NULL, so cells come in index
    order and its k rows carry a NULL cosine) and queries equidistant
    from two or four centroids (ties go to the lower cell)."""
    from youtube_etl_project_spark.operators.ann_index import _assign

    cents = [[0.0, 0.0], [2.0, 0.0], [0.0, 2.0], [2.0, 2.0]]
    ticks = (-0.5, 0.25, 0.5, 1.0, 1.5, 1.75, 2.5)
    cand = spark.createDataFrame(
        [(i, [x, y]) for i, (x, y) in enumerate(
            (x, y) for x in ticks for y in ticks
        )],
        "vec_id bigint, embedding array<float>",
    )
    path = str(tmp_path / "ivf_ties")
    _write_ivf(path, cents, cand)
    queries = spark.createDataFrame(
        [
            (100, [1.0, 0.0]),  # cells 0 = 1, then 2 = 3
            (101, None),
            (102, [1.0, 1.0]),  # all four cells equidistant
            (103, [2.0, 1.0]),  # cells 1 = 3, then 0 = 2
        ],
        "query_id bigint, embedding array<float>",
    )
    candidates = cand.select(
        F.col("vec_id").alias("neighbor_id"), "embedding"
    )
    for n_probe in (1, 2, 3):
        got = ivf_query(queries, path, k=5, n_probe=n_probe).collect()
        want = similarity.ivf_topk(
            queries, candidates, cents, k=5, n_probe=n_probe
        ).collect()
        assert sorted(map(tuple, got), key=lambda t: (t[0], t[2])) == sorted(
            map(tuple, want), key=lambda t: (t[0], t[2])
        ), n_probe
        null_rows = [r for r in got if r.query_id == 101]
        assert len(null_rows) == 5 and all(r.cosine is None for r in null_rows)
    # the NULL query probed cells 0..n_probe-1 only
    by_id = {
        r.id: r.cell
        for r in _assign(cand, cents, "vec_id", "embedding").collect()
    }
    got1 = ivf_query(queries, path, k=5, n_probe=1).collect()
    assert {by_id[r.neighbor_id] for r in got1 if r.query_id == 101} == {0}
    assert {by_id[r.neighbor_id] for r in got1 if r.query_id == 102} == {0}
    assert {by_id[r.neighbor_id] for r in got1 if r.query_id == 103} == {1}


def test_warm_probe_job_budget(spark, sf_dir):
    """Timing-free plan-shape guard for build-once/probe-many queries: a
    warm call reuses the schema, model and row count known since the
    build. The second embed_ivf_index_ann and embed_ivfpq_index_ann calls
    each build their DataFrame with at most one Spark job (the query-batch
    collect; probe cells are ranked on the driver), the second
    dedup_minhash_lsh_md5 call runs no parquet schema-inference job, and
    the second record_linkage_mutual_best call runs no job at all (no
    pin: mutual acceptance is a window count). Jobs are counted per job
    group."""
    import uuid

    from youtube_etl_project_spark.registry import load_all_plans

    specs = load_all_plans()
    sc = spark.sparkContext
    tracker = sc.statusTracker()

    def build_jobs(name) -> "list[str]":
        """Stage names of each job that building ``name``'s DataFrame
        launched."""
        group = f"probe-{uuid.uuid4().hex}"
        sc.setJobGroup(group, group)
        try:
            specs[name].fn(spark, sf_dir)
        finally:
            sc._jsc.clearJobGroup()
        out = []
        for j in sorted(tracker.getJobIdsForGroup(group)):
            info = tracker.getJobInfo(j)
            stages = [tracker.getStageInfo(s) for s in info.stageIds]
            out.append("|".join(s.name for s in stages if s))
        return out

    names = (
        "embed_ivf_index_ann",
        "embed_ivfpq_index_ann",
        "dedup_minhash_lsh_md5",
        "record_linkage_mutual_best",
    )
    for name in names:
        build_jobs(name)  # cold: builds the cache entries
    warm = {name: build_jobs(name) for name in names}
    assert len(warm["embed_ivf_index_ann"]) <= 1, warm
    assert len(warm["embed_ivfpq_index_ann"]) <= 1, warm
    inference = [
        j for j in warm["dedup_minhash_lsh_md5"] if j.startswith("parquet at")
    ]
    assert not inference, warm
    assert not warm["record_linkage_mutual_best"], warm


def test_nsw_insert_job_budget(spark, sf_dir, tmp_path, nsw_base):
    """Timing-free guard for the online NSW attach: the new vectors'
    coarse cells are ranked on the driver against the cached codebook,
    and the batch is collected once and reused as a local relation, so
    one warm nsw_insert of a 20-vector batch launches at most 59 Spark
    jobs: the batch collect, the beam-search rounds, the pins, the two
    appends and the reverse-edge overwrite. Jobs are counted per job
    group."""
    import uuid

    from youtube_etl_project_spark.operators import ann_index

    emb = _emb(spark, sf_dir)
    idx = str(tmp_path / "nsw_jobs")
    shutil.copytree(nsw_base, idx)
    sc = spark.sparkContext

    def insert_jobs(lo: int) -> int:
        batch = emb.filter(
            (F.col("vec_id") % 2 == 1)
            & (F.col("vec_id") >= lo) & (F.col("vec_id") < lo + 40)
        )
        group = f"insert-{uuid.uuid4().hex}"
        sc.setJobGroup(group, group)
        try:
            ann_index.nsw_insert(batch, idx)
        finally:
            sc._jsc.clearJobGroup()
        return len(sc.statusTracker().getJobIdsForGroup(group))

    insert_jobs(0)  # cold: reads the codebook and the frame schemas
    assert insert_jobs(40) <= 59


def test_rebuild_at_a_uri_path_serves_the_new_centroids(spark, tmp_path):
    """An index addressed by a ``file://`` URI has no local content
    fingerprint, so its centroids and frame schemas are never reused
    across calls: rebuilding it in place must show in the next probe."""
    cand = spark.createDataFrame(
        [(i, [1.0 + i % 5, 1.0 + i // 5]) for i in range(25)],
        "vec_id bigint, embedding array<float>",
    )
    queries = cand.filter(F.col("vec_id") % 6 == 0).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    candidates = cand.select(
        F.col("vec_id").alias("neighbor_id"), "embedding"
    )
    uri = (tmp_path / "ivf_uri").as_uri()
    assert uri.startswith("file://")
    for cents in (
        [[1.0, 1.0], [5.0, 5.0]],
        [[5.0, 1.0], [1.0, 5.0], [3.0, 3.0]],
    ):
        _write_ivf(uri, cents, cand)
        assert ivf_centroids(spark, uri) == cents
        got = ivf_query(queries, uri, k=3, n_probe=1).collect()
        want = similarity.ivf_topk(
            queries, candidates, cents, k=3, n_probe=1
        ).collect()
        assert sorted(map(tuple, got)) == sorted(map(tuple, want))

"""Similarity search: brute-force exactness, LSH recall, self-similarity."""

from __future__ import annotations

from pyspark.sql import functions as F

from youtube_etl_project_spark.operators import similarity
from youtube_etl_project_spark.sources import load_table


def test_cosine_self_is_one(spark):
    df = spark.createDataFrame([([1.0, 2.0, 3.0],)], "v array<float>")
    row = df.select(similarity.cosine(F.col("v"), F.col("v")).alias("c")).collect()[0]
    assert abs(row.c - 1.0) < 1e-12


def test_brute_force_topk_orders_by_cosine(spark):
    emb = spark.createDataFrame(
        [
            (0, [1.0, 0.0]),
            (1, [0.9, 0.1]),  # closest to 0
            (2, [0.0, 1.0]),  # orthogonal
            (3, [1.0, 0.01]),  # very close
        ],
        "vec_id long, embedding array<float>",
    )
    q = emb.filter("vec_id = 0").select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    c = emb.select(F.col("vec_id").alias("neighbor_id"), "embedding")
    out = [
        (r.neighbor_id, r.rank)
        for r in similarity.brute_force_topk(q, c, k=3).orderBy("rank").collect()
    ]
    assert out == [(3, 1), (1, 2), (2, 3)]


def test_lsh_recall_vs_brute_force(spark, sf_dir):
    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    c = emb.select(F.col("vec_id").alias("neighbor_id"), "embedding")
    exact = {
        (r.query_id, r.neighbor_id)
        for r in similarity.brute_force_topk(q, c, k=5).collect()
    }
    ann = {
        (r.query_id, r.neighbor_id)
        for r in similarity.lsh_topk_exact(
            q, c, dim=64, k=5, n_planes=4, n_tables=8
        ).collect()
    }
    recall = len(ann & exact) / len(exact)
    assert recall >= 0.5, f"ANN recall collapsed: {recall}"
    # every ANN hit shares the bucket, so results are a subset of candidates
    assert all(pair[0] != pair[1] for pair in ann)


def test_cosine_pairs_blocked_matches_plain(spark, sf_dir):
    """The blocked-matmul prefilter + exact verify must be bit-identical to
    the pure declarative baseline (values AND pair set), across several
    block sizes so cross-block and within-block paths both execute."""
    emb = load_table(spark, sf_dir, "embeddings")
    plain = {
        (r.id_a, r.id_b, r.cosine)
        for r in similarity.cosine_pairs(emb, threshold=0.4).collect()
    }
    assert plain
    for block_rows in (64, 10_000):  # many small blocks / one block
        blocked = {
            (r.id_a, r.id_b, r.cosine)
            for r in similarity.cosine_pairs_blocked(
                emb, threshold=0.4, block_rows=block_rows
            ).collect()
        }
        assert blocked == plain, f"block_rows={block_rows}"


def test_cosine_pairs_blocked_edge_vectors(spark):
    """Null vectors drop out of both variants identically; zero-norm
    vectors RAISE in both (ANSI divide-by-zero in the exact cosine — the
    blocked prefilter deliberately keeps non-finite scores so the exact
    path, not numpy, decides them, preserving throw-parity)."""
    import pytest
    from pyspark.errors.exceptions.captured import ArithmeticException

    emb = spark.createDataFrame(
        [
            (0, [1.0, 0.0]),
            (1, [1.0, 1e-7]),
            (3, None),  # null embedding
            (4, [0.0, 1.0]),
        ],
        "vec_id long, embedding array<float>",
    )
    plain = sorted(
        (r.id_a, r.id_b, r.cosine)
        for r in similarity.cosine_pairs(emb, threshold=0.9).collect()
    )
    blocked = sorted(
        (r.id_a, r.id_b, r.cosine)
        for r in similarity.cosine_pairs_blocked(
            emb, threshold=0.9, block_rows=2
        ).collect()
    )
    assert blocked == plain == [(0, 1, 1.0)]

    zero = spark.createDataFrame(
        [(0, [1.0, 0.0]), (2, [0.0, 0.0])],
        "vec_id long, embedding array<float>",
    )
    with pytest.raises(ArithmeticException):
        similarity.cosine_pairs(zero, threshold=0.9).collect()
    with pytest.raises(ArithmeticException):
        similarity.cosine_pairs_blocked(
            zero, threshold=0.9, block_rows=2
        ).collect()


def test_nn_shortlist_contains_exact_argmax(spark, sf_dir):
    """Every row's true (numpy-exact) 1-NN — and all ties within float
    precision — must appear in the blocked shortlist, at a block size
    small enough to force many cross-block groups."""
    import numpy as np

    emb = load_table(spark, sf_dir, "embeddings").filter(
        F.col("embedding").isNotNull()
    )
    rows = emb.select("vec_id", "embedding").collect()
    ids = np.array([r.vec_id for r in rows])
    X = np.stack([np.asarray(r.embedding, dtype=np.float64) for r in rows])
    nrm = np.sqrt((X * X).sum(axis=1))
    cs = (X @ X.T) / (nrm[:, None] * nrm[None, :])
    np.fill_diagonal(cs, -np.inf)

    short = {}
    for r in similarity.nn_shortlist_blocked(
        emb, "vec_id", "embedding", block_rows=64
    ).collect():
        short.setdefault(r.id, set()).add(r.cand_id)

    for i in range(len(ids)):
        best = cs[i].max()
        tied = set(ids[np.nonzero(cs[i] >= best - 1e-9)[0]])
        assert tied <= short[ids[i]], f"1-NN missing for vec_id={ids[i]}"


def test_snap_is_bit_equal_across_spark_numpy_and_duckdb(spark):
    """The one grid snap — Column ``snap``, numpy ``snap_np`` and the
    oracles' DuckDB ``FLOOR(CAST(e AS DOUBLE)*g + 0.5)`` — gives the same
    int64 on edge values at every grid the engine uses: exact .5 ties of
    both signs (dyadic x, so x·g is exact), -0.0, ±1, values whose x·g
    is not representable, and float32 inputs widened to double."""
    import duckdb
    import numpy as np
    import pandas as pd

    from youtube_etl_project_spark.operators.grid import snap, snap_np

    xd = [s * 2.0**-k for k in range(1, 13) for s in (1.0, -1.0)] + [
        0.0, -0.0, 1.0, -1.0, 0.1, -0.1, 1 / 3, -2 / 3, 0.0005, -0.0005,
        1e-7, 1 - 2.0**-53, 0.9999995, -0.4999995, 0.7, 123.456789,
    ]
    xf = [float(np.float32(v)) for v in xd]  # 0.1f etc., widened exactly
    pdf = pd.DataFrame(
        {
            "i": np.arange(len(xd), dtype=np.int32),
            "x_d": np.array(xd, dtype=np.float64),
            "x_f": np.array(xf, dtype=np.float32),
        }
    )
    df = spark.createDataFrame(
        list(zip(range(len(xd)), xd, xf)), "i int, x_d double, x_f float"
    )
    con = duckdb.connect()
    con.register("t", pdf)
    for g in (1_000, 10_000, 1_000_000):
        got_spark = sorted(
            (r.i, r.qd, r.qf)
            for r in df.select(
                "i",
                snap(F.col("x_d"), g).alias("qd"),
                snap(F.col("x_f"), g).alias("qf"),
            ).collect()
        )
        qd = snap_np([[v] for v in pdf["x_d"]], g)[:, 0]
        qf = snap_np(pd.Series([np.array([v]) for v in pdf["x_f"]]), g)[:, 0]
        got_numpy = [
            (i, int(a), int(b)) for i, (a, b) in enumerate(zip(qd, qf))
        ]
        got_duckdb = sorted(
            tuple(map(int, r))
            for r in con.execute(
                f"""SELECT i,
                       CAST(FLOOR(CAST(x_d AS DOUBLE) * {g} + 0.5) AS BIGINT),
                       CAST(FLOOR(CAST(x_f AS DOUBLE) * {g} + 0.5) AS BIGINT)
                    FROM t"""
            ).fetchall()
        )
        assert got_spark == got_numpy == got_duckdb, g
    # half-up on both signs: 0.0625·1e3 = 62.5 → 63, -62.5 → -62
    assert snap_np([[0.0625, -0.0625, -0.0]], 1_000).tolist() == [[63, -62, 0]]


def test_snap_np_rejects_non_finite_components():
    import pytest

    from youtube_etl_project_spark.operators.grid import snap_np

    for bad in (float("nan"), float("inf"), float("-inf"), None):
        with pytest.raises(ValueError, match="NULL, NaN or infinite"):
            snap_np([[0.5, bad]], 1_000_000)


def test_arrow_kernel_fails_loudly_on_null_component(spark):
    """A NULL component inside a vector must raise through a real Arrow
    kernel instead of snapping to INT64_MIN and silently picking a cell
    from the overflowed int64 distances."""
    import pytest

    from youtube_etl_project_spark.plans.exact_kmeans import (
        kmeans_assign_arrow,
    )

    df = spark.createDataFrame(
        [(0, [0.1, 0.2]), (1, [0.3, None])],
        "vec_id long, embedding array<float>",
    )
    books = {(0, 0): 0, (0, 1): 0, (1, 0): 500_000, (1, 1): 500_000}
    with pytest.raises(Exception, match="NULL, NaN or infinite"):
        kmeans_assign_arrow(df, "vec_id", "embedding", books).collect()


def test_grid_snap_and_sign_pack_live_only_in_grid_module():
    """Source scan (AST, so oracle SQL strings do not count): the numpy
    snap ``np.floor(...)`` and the LSH sign-bit pack ``... << p`` are
    written once, in ``operators/grid.py``."""
    import ast
    import pathlib

    pkg = pathlib.Path(__file__).resolve().parents[1] / (
        "youtube_etl_project_spark"
    )
    owner = pkg / "operators" / "grid.py"

    def hand_rolled(node) -> bool:
        if isinstance(node, ast.Call):
            f = node.func
            return (
                isinstance(f, ast.Attribute)
                and f.attr == "floor"
                and isinstance(f.value, ast.Name)
                and f.value.id in ("np", "numpy")
            )
        return (
            isinstance(node, ast.BinOp)
            and isinstance(node.op, ast.LShift)
            and isinstance(node.right, ast.Name)
            and node.right.id == "p"
        )

    offenders = [
        f"{path.relative_to(pkg)}:{node.lineno}"
        for path in sorted(pkg.rglob("*.py"))
        if path != owner
        for node in ast.walk(ast.parse(path.read_text()))
        if hand_rolled(node)
    ]
    assert not offenders, (
        f"hand-rolled grid snap / sign-bit pack outside operators/grid.py: "
        f"{offenders} — use grid.snap_np / grid.plane_keys"
    )

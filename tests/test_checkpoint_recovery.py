"""End-to-end recovery contract of checkpointing.pin (VERDICT r6 #7).

Two halves of the 100 TB survivability story, both exercised for real:

1. **Executor-memory loss within a job** — simulated by wiping every
   persisted block (what losing the executor's block manager does):
   a localCheckpoint'ed frame becomes UNREADABLE (Spark raises
   CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND: the lineage was truncated, there is
   nothing to recompute), while a reliable pin re-reads its partitions
   from the durable checkpoint dir and answers identically.

2. **Driver death mid-iteration + restart** — a subprocess runs the
   LSH→CC-style iterative path under SPARK_GRAFT_CHECKPOINT_DIR and is
   hard-killed (os._exit) after its first pins have been written; the
   checkpoint files survive the process, and a fresh process pointed at
   the SAME (now dirty) directory runs the pipeline to completion with
   results identical to an undisturbed local-mode run. This is the
   operational restart contract: durable state outlives the driver, and
   a dirty checkpoint dir never corrupts a re-run.
"""

from __future__ import annotations

import os
import subprocess
import sys
import textwrap

import pytest
from pyspark.sql import functions as F

from youtube_etl_project_spark.operators import graph
from youtube_etl_project_spark.operators.checkpointing import ENV_DIR, pin

EDGES = [(1, 2), (2, 3), (3, 4), (10, 11), (11, 12), (4, 10), (20, 21)]


def _wipe_persisted_blocks(spark):
    """Drop every persisted RDD's blocks — the block-manager state an
    executor loss destroys."""
    jmap = spark.sparkContext._jsc.getPersistentRDDs()
    for jrdd in jmap.values():
        jrdd.unpersist(True)


def test_local_pin_dies_with_its_blocks(spark, monkeypatch):
    monkeypatch.delenv(ENV_DIR, raising=False)
    df = spark.range(1000).withColumn("v", F.md5(F.col("id").cast("string")))
    pinned = pin(df)  # localCheckpoint
    assert pinned.count() == 1000
    _wipe_persisted_blocks(spark)
    with pytest.raises(Exception, match="CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND"):
        pinned.count()


def test_reliable_pin_survives_block_wipe(spark, tmp_path, monkeypatch):
    monkeypatch.setenv(ENV_DIR, str(tmp_path / "ck"))
    df = spark.range(1000).withColumn("v", F.md5(F.col("id").cast("string")))
    pinned = pin(df)  # reliable: partitions written to the durable dir
    before = sorted(map(tuple, pinned.collect()))
    _wipe_persisted_blocks(spark)
    # the re-read comes from the checkpoint files, not block memory
    assert sorted(map(tuple, pinned.collect())) == before


_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
_CRASH_SCRIPT = textwrap.dedent(
    """
    import os, sys
    sys.path.insert(0, sys.argv[1])  # the checkout under test
    import youtube_etl_project_spark.operators.checkpointing as ckpt

    crash_after = int(os.environ.get("CRASH_AFTER_PINS", "0"))
    if crash_after:
        real_pin, seen = ckpt.pin, [0]

        def dying_pin(df, reliable=None):
            out = real_pin(df, reliable=reliable)
            seen[0] += 1
            if seen[0] >= crash_after:
                # hard driver death mid-iteration: no cleanup, no
                # context stop — exactly what a crashed driver leaves
                os._exit(42)
            return out

        ckpt.pin = dying_pin
        # graph.py bound `pin` at import time — rebind there too
        import youtube_etl_project_spark.operators.graph as g
        g.pin = dying_pin

    from pyspark.sql import SparkSession
    from youtube_etl_project_spark.operators.graph import (
        connected_components,
    )

    spark = (
        SparkSession.builder.master("local[2]")
        .config("spark.sql.shuffle.partitions", "2")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    edges = spark.createDataFrame(%r, "src long, dst long")
    labels = sorted(map(tuple, connected_components(edges).collect()))
    print("LABELS=" + repr(labels))
    spark.stop()
    """
    % (EDGES,)
)


def test_driver_crash_then_restart_on_dirty_checkpoint_dir(
    spark, tmp_path, monkeypatch
):
    ck = str(tmp_path / "durable")
    env = dict(os.environ, **{ENV_DIR: ck})

    # phase 1: die after the first two pins (edges + sym — mid-pipeline,
    # before the CC loop converges)
    env_a = dict(env, CRASH_AFTER_PINS="2")
    pa = subprocess.run(
        [sys.executable, "-c", _CRASH_SCRIPT, _REPO], env=env_a,
        capture_output=True, text=True, timeout=300,
    )
    assert pa.returncode == 42, pa.stderr[-2000:]
    survivors = [
        os.path.join(r, f) for r, _, fs in os.walk(ck) for f in fs
    ]
    assert survivors, "durable checkpoint dir is empty after driver death"

    # phase 2: fresh driver, SAME dirty dir — must complete and agree
    # with an undisturbed local-mode reference
    env_b = dict(env, CRASH_AFTER_PINS="0")
    pb = subprocess.run(
        [sys.executable, "-c", _CRASH_SCRIPT, _REPO], env=env_b,
        capture_output=True, text=True, timeout=300,
    )
    assert pb.returncode == 0, pb.stderr[-2000:]
    line = [ln for ln in pb.stdout.splitlines() if ln.startswith("LABELS=")]
    assert line, pb.stdout[-2000:]
    restarted = eval(line[0][len("LABELS="):])  # noqa: S307 - our output

    monkeypatch.delenv(ENV_DIR, raising=False)
    edges = spark.createDataFrame(EDGES, "src long, dst long")
    reference = sorted(
        map(tuple, graph.connected_components(edges).collect())
    )
    assert restarted == reference
    assert {cl for _, cl in restarted} == {1, 20}

"""Shuffle-bytes probe of dedup_semantic's within-cell pair pass: the
flat (cell, pos) self-join form vs the per-cell Arrow kernel form.

Runs each form under its own job group with the Spark event log
enabled, then sums per-group shuffle read/write bytes and stage counts
with ``perfbench.eventlog.parse`` and prints a summary. Bytes do not
depend on host load, so this probe needs no quiet host. Usage:

    python tools/shuffle_probe.py [sf_dir]
"""

from __future__ import annotations

import os
import shutil
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

EVDIR = "/tmp/spark-events-probe"


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    shutil.rmtree(EVDIR, ignore_errors=True)  # parse() reads every log
    os.makedirs(EVDIR)
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))

    from pyspark.sql import SparkSession
    from pyspark.sql import functions as F

    spark = (
        SparkSession.builder.appName("shuffle-probe")
        .master(f"local[{cpus}]")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.shuffle.partitions", str(cpus))
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.eventLog.enabled", "true")
        .config("spark.eventLog.compress", "false")
        .config("spark.eventLog.compression.codec", "none")
        .config("spark.eventLog.rolling.enabled", "false")
        .config("spark.eventLog.dir", f"file://{EVDIR}")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    sc = spark.sparkContext

    from perfbench import eventlog
    from youtube_etl_project_spark.operators.grid import grid_rows
    from youtube_etl_project_spark.plans.dedup2 import (
        _TAU_GRID,
        _semantic_books,
        _semantic_pairs_blocked,
    )
    from youtube_etl_project_spark.plans.exact_kmeans import (
        kmeans_assign_arrow,
    )
    from youtube_etl_project_spark.sources import load_table

    def noop(df) -> None:
        df.write.format("noop").mode("overwrite").save()

    emb = load_table(spark, sf_dir, "embeddings")
    k = max(16, int(emb.count() ** 0.5))
    nn_emb = emb.filter(F.col("embedding").isNotNull())
    books = _semantic_books(sf_dir, nn_emb, k)
    assign = kmeans_assign_arrow(nn_emb, "vec_id", "embedding", books)

    # --- form A: the flat (cell, pos) self-join pair pass
    sc.setJobDescription("probe:flat-pair-pass")
    sc.setJobGroup("flat", "flat pair pass")
    qe = grid_rows(
        nn_emb, "vec_id", "embedding", _TAU_GRID, id_out="id", pos="pos"
    )
    feats = assign.withColumnRenamed("id", "fid").join(
        qe, F.col("fid") == F.col("id")
    ).select("cell", "id", "pos", "q")
    fa = feats.select(
        "cell", "pos", F.col("id").alias("id_a"), F.col("q").alias("qa")
    )
    fb = feats.select(
        "cell", "pos", F.col("id").alias("id_b"), F.col("q").alias("qb")
    )
    dots = (
        fa.join(fb, ["cell", "pos"])
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.sum(F.col("qa") * F.col("qb")).cast("long").alias("dot"))
    )
    n2 = qe.groupBy("id").agg(
        F.sum(F.col("q") * F.col("q")).cast("long").alias("nn")
    )
    flat_pairs = (
        dots.join(n2.withColumnRenamed("id", "id_a"), "id_a")
        .withColumnRenamed("nn", "na")
        .join(n2.withColumnRenamed("id", "id_b"), "id_b")
        .filter(
            (F.col("dot") > 0)
            & (
                F.lit(25) * F.col("dot") * F.col("dot")
                >= F.lit(4) * F.col("na") * F.col("nn")
            )
        )
        .select("id_a", "id_b")
    )
    noop(flat_pairs)

    # --- form B: the per-cell Arrow kernel
    sc.setJobDescription("probe:kernel-pair-pass")
    sc.setJobGroup("kernel", "kernel pair pass")
    members = assign.join(
        nn_emb.select(F.col("vec_id").alias("id"), "embedding"), "id"
    ).select("cell", "id", "embedding")
    noop(
        _semantic_pairs_blocked(
            members, grid=_TAU_GRID, id_a="id_a", id_b="id_b"
        ).select("id_a", "id_b")
    )

    sc.setJobGroup("", "")
    spark.stop()

    totals = eventlog.parse(EVDIR)
    for grp in ("flat", "kernel"):
        t = totals.get(grp, dict.fromkeys(eventlog.ENGINE_KEYS, 0))
        print(
            f"{grp}: shuffle_write={int(t['shuffle_write_bytes']):,} B "
            f"shuffle_read={int(t['shuffle_read_bytes']):,} B over "
            f"{int(t['stages'])} stages"
        )


if __name__ == "__main__":
    main()

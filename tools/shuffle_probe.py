"""Round-12 §5 evidence probe: shuffle bytes of dedup_semantic's
within-cell pair pass, flat (cell, pos) self-join form vs the per-cell
Arrow kernel form (guide §5 — the 100 TB story needs a bytes number,
not just a plan shape).

Runs each form under a job-description label with the Spark event log
enabled, then parses the event log for per-stage shuffle read/write
bytes and prints a summary. Bytes are contention-immune, so this probe
needs no quiet host. Usage:

    python tools/shuffle_probe.py [sf_dir]
"""

from __future__ import annotations

import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

EVDIR = "/tmp/spark-events-probe"


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    os.makedirs(EVDIR, exist_ok=True)
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
    app_id = sc.applicationId

    from youtube_etl_project_spark.plans.dedup2 import (
        _semantic_books,
        _semantic_pairs_blocked,
    )
    from youtube_etl_project_spark.plans.exact_kmeans import (
        centroid_df,
        kmeans_assign_arrow,
        quantize_vectors,
    )
    from youtube_etl_project_spark.sources import load_table

    def noop(df) -> None:
        df.write.format("noop").mode("overwrite").save()

    emb = load_table(spark, sf_dir, "embeddings")
    k = max(16, int(emb.count() ** 0.5))
    nn_emb = emb.filter(F.col("embedding").isNotNull())
    books = _semantic_books(sf_dir, nn_emb, k)
    assign = kmeans_assign_arrow(nn_emb, "vec_id", "embedding", books)

    # --- form A: the pre-round-12 flat (cell, pos) self-join pair pass
    sc.setJobDescription("probe:flat-pair-pass")
    sc.setJobGroup("flat", "flat pair pass")
    qe = quantize_vectors(nn_emb, "vec_id", "embedding", grid=1000)
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

    # --- form B: the round-12 per-cell Arrow kernel
    sc.setJobDescription("probe:kernel-pair-pass")
    sc.setJobGroup("kernel", "kernel pair pass")
    members = assign.join(
        nn_emb.select(F.col("vec_id").alias("id"), "embedding"), "id"
    ).select("cell", "id", "embedding")
    noop(
        _semantic_pairs_blocked(
            members, grid=1000.0, id_a="id_a", id_b="id_b"
        ).select("id_a", "id_b")
    )

    sc.setJobGroup("", "")
    spark.stop()

    # --- parse the event log: stage -> shuffle bytes, grouped by the
    # job group that submitted the stage
    log_path = os.path.join(EVDIR, app_id)
    if not os.path.exists(log_path):  # Spark 4 rolling dir layout
        cands = [p for p in os.listdir(EVDIR) if app_id in p]
        log_path = os.path.join(EVDIR, sorted(cands)[-1])

    def _lines():
        if os.path.isdir(log_path):
            for name in sorted(os.listdir(log_path)):
                if name.startswith("events"):
                    with open(os.path.join(log_path, name)) as f:
                        yield from f
        else:
            with open(log_path) as f:
                yield from f

    stage_group: dict[int, str] = {}
    totals: dict[str, dict[str, int]] = {}
    if True:
        for line in _lines():
            ev = json.loads(line)
            if ev.get("Event") == "SparkListenerJobStart":
                grp = ev.get("Properties", {}).get("spark.jobGroup.id", "")
                for sid in ev.get("Stage IDs", []):
                    stage_group[sid] = grp
            elif ev.get("Event") == "SparkListenerStageCompleted":
                si = ev["Stage Info"]
                grp = stage_group.get(si["Stage ID"], "")
                acc = totals.setdefault(
                    grp, {"write": 0, "read": 0, "stages": 0}
                )
                for a in si.get("Accumulables", []):
                    if a.get("Name") == "internal.metrics.shuffle.write.bytesWritten":
                        acc["write"] += int(a.get("Value", 0))
                    elif a.get("Name") == "internal.metrics.shuffle.read.remoteBytesRead":
                        acc["read"] += int(a.get("Value", 0))
                    elif a.get("Name") == "internal.metrics.shuffle.read.localBytesRead":
                        acc["read"] += int(a.get("Value", 0))
                acc["stages"] += 1
    for grp in ("flat", "kernel"):
        t = totals.get(grp, {"write": 0, "read": 0, "stages": 0})
        print(
            f"{grp}: shuffle_write={t['write']:,} B "
            f"shuffle_read={t['read']:,} B over {t['stages']} stages"
        )


if __name__ == "__main__":
    main()

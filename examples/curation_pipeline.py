"""End-to-end pretraining-corpus curation: the full recipe in one run.

    documents
      --> 1. quality gate         (token count + stopword/alpha ratios)
      --> 2. lexical near-dedup   (MinHash-LSH pairs -> star CC ->
                                   survivor by source priority, longest)
      --> 3. temperature mix      (alpha=0.5 source rebalancing toward a
                                   half-corpus character budget, md5 keep)
      --> 4. sequence packing     (longest-first running-sum bins,
                                   budget 2048 whitespace tokens)
      --> curated corpus + per-stage funnel counts

Every stage is the operator the registry also exposes as a standalone
oracle-checked query (text_quality_score, dedup_minhash_lsh_md5 +
dedup_survivor_policy, corpus_temperature_mix, pack_sequences) — this
script is the composition, not new logic. State that ever reaches the
driver: per-stage counts and the model-sized source-rate table. The
shapes survive 100 TB: LSH banding instead of all-pairs, star CC with
checkpointed O(log n) rounds, broadcast rate table, one window for the
packing order.

Run:  python examples/curation_pipeline.py [sf_dir] [out_dir]
"""

from __future__ import annotations

import os
import sys
import tempfile

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import Window  # noqa: E402
from pyspark.sql import functions as F  # noqa: E402

from youtube_etl_project_spark.operators import dedup, graph  # noqa: E402
from youtube_etl_project_spark.operators import textops  # noqa: E402
from youtube_etl_project_spark.session import get_spark  # noqa: E402
from youtube_etl_project_spark.sources import load_table  # noqa: E402


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    out_dir = (
        sys.argv[2]
        if len(sys.argv) > 2
        else os.path.join(tempfile.mkdtemp(prefix="curate_"), "corpus")
    )
    spark = get_spark("curation-pipeline")
    spark.sparkContext.setLogLevel("ERROR")

    docs = load_table(spark, sf_dir, "documents")
    n0 = docs.count()

    # 1. quality gate: enough tokens, some stopwords, mostly-alpha text
    feats = textops.quality_features(F.col("text"))
    gated = (
        docs.withColumn("n_tok", feats["n_tokens"])
        .withColumn("stop_ratio", feats["stopword_ratio"])
        .withColumn("punct_ratio", feats["punct_ratio"])
        .filter(
            (F.col("n_tok") >= 20)
            & (F.col("stop_ratio") >= 0.05)
            & (F.col("punct_ratio") <= 0.2)
        )
        .drop("n_tok", "stop_ratio", "punct_ratio")
        .localCheckpoint(eager=True)  # referenced by pairs AND survivor join
    )
    n1 = gated.count()

    # 2. lexical near-dedup: LSH pairs -> star CC -> policy survivor
    pairs = dedup.minhash_lsh_pairs_md5(
        gated, "doc_id", "text", n_hashes=32, n_bands=8, threshold=0.5
    )
    labels = graph.connected_components_star(
        pairs, src="id_a", dst="id_b"
    ).withColumnRenamed("id", "doc_id")
    labeled = gated.join(labels, "doc_id", "left").withColumn(
        "cluster_id", F.coalesce("cluster_id", "doc_id")
    )
    rank_w = Window.partitionBy("cluster_id").orderBy(
        F.substring("source", 4, 10).cast("int").asc(),
        F.col("n_chars").desc(),
        F.col("doc_id").asc(),
    )
    deduped = (
        labeled.withColumn("rn", F.row_number().over(rank_w))
        .filter(F.col("rn") == 1)
        .drop("rn", "cluster_id")
        .localCheckpoint(eager=True)  # feeds the rate table AND the keep scan
    )
    n2 = deduped.count()

    # 3. temperature mix (alpha = 0.5 toward a half-corpus char budget)
    stats = deduped.groupBy("source").agg(
        F.sum("n_chars").cast("long").alias("chars_src")
    )
    w = stats.select(
        "source",
        "chars_src",
        F.round(F.sqrt(F.col("chars_src").cast("double")), 6).alias("w6"),
    )
    tot = w.agg(
        F.sum(F.col("w6").cast("decimal(28,6)")).cast("double").alias("wsum"),
        F.sum("chars_src").cast("long").alias("chars_all"),
    )
    rated = w.join(F.broadcast(tot)).select(
        "source",
        F.least(
            F.lit(1.0),
            (F.col("w6") / F.col("wsum"))
            * (F.col("chars_all") / F.lit(2.0))
            / F.col("chars_src"),
        ).alias("rate"),
    )
    thr_hex = F.format_string(
        "%08x", F.floor(F.col("rate") * F.lit(4294967296.0)).cast("long")
    )
    mixed = (
        deduped.join(F.broadcast(rated), "source")
        .filter(
            (F.col("rate") >= 1.0)
            | (
                F.substring(
                    F.md5(F.col("doc_id").cast("string").cast("binary")), 1, 8
                )
                < thr_hex
            )
        )
        .drop("rate")
    )
    n3 = mixed.count()

    # 4. sequence packing: longest-first running-sum bins, budget 2048
    sized = mixed.withColumn("n_tok", textops.token_count(F.col("text")))
    pk = Window.orderBy(
        F.col("n_tok").desc(), F.col("doc_id").asc()
    ).rowsBetween(Window.unboundedPreceding, Window.currentRow)
    packed = sized.withColumn(
        "bin_id", F.floor((F.sum("n_tok").over(pk) - 1) / 2048)
    )
    n_bins = packed.agg(F.countDistinct("bin_id")).collect()[0][0]

    packed.write.mode("overwrite").parquet(out_dir)

    print(f"documents          {n0:>8}")
    print(f"quality gate       {n1:>8}  (-{n0 - n1})")
    print(f"near-dedup         {n2:>8}  (-{n1 - n2})")
    print(f"temperature mix    {n3:>8}  (-{n2 - n3})")
    print(f"packed bins        {n_bins:>8}")
    print(f"curated corpus  -> {out_dir}")


if __name__ == "__main__":
    main()

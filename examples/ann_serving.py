"""Day-over-day ANN serving with the persisted IVF index.

The pattern: train + materialize the index ONCE (ivf_build), append each
arriving embedding batch under the frozen quantizer (ivf_append — only
the touched cell partitions are written, the corpus is never rescanned),
answer query batches forever (ivf_query — the probe set becomes a
partition filter, so each batch reads n_probe/K of the index). Watch
ivf_cell_stats; when one cell dwarfs its siblings the data has drifted
off the quantizer and the index earns a rebuild.

Run: python examples/ann_serving.py [sf_dir]
"""

from __future__ import annotations

import os
import sys
import tempfile

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from youtube_etl_project_spark.operators.ann_index import (
    ivf_append,
    ivf_build,
    ivf_cell_stats,
    ivf_query,
)
from youtube_etl_project_spark.session import get_spark
from youtube_etl_project_spark.sources import load_table


def main(sf_dir: str = "/root/testdata/sf0.01") -> None:
    spark = get_spark("ann-serving")
    spark.sparkContext.setLogLevel("ERROR")
    emb = load_table(spark, sf_dir, "embeddings").filter(
        F.col("embedding").isNotNull()
    )
    path = tempfile.mkdtemp(prefix="ivf_") + "/index"

    # Day 0: train on the initial corpus and materialize.
    day0 = emb.filter(F.col("vec_id") % 3 != 0)
    ivf_build(day0, path, k=8, iters=2)
    print("day 0 cells:")
    ivf_cell_stats(spark, path).orderBy("cell").show()

    # Day 1: a new batch arrives — O(batch) append, frozen quantizer.
    day1 = emb.filter(F.col("vec_id") % 3 == 0)
    ivf_append(day1, path)
    print("after day 1 append:")
    ivf_cell_stats(spark, path).orderBy("cell").show()

    # Query batches: probe 4 of 8 cells → the scan reads half the index.
    queries = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    ivf_query(queries, path, k=3, n_probe=4).orderBy(
        "query_id", "rank"
    ).show()

    # Round 8: the compressed-index and diversified-retrieval paths.
    # embed_ivfpq_ann = IVF-PQ + exact refine (both trainers exact-grid,
    # oracle-checked); embed_mmr_diversify post-processes a shortlist so
    # near-duplicate neighbors don't crowd a RAG context;
    # embed_kcenter_select is max-min coreset sampling for data pruning.
    from youtube_etl_project_spark.registry import load_all_plans

    plans = load_all_plans()
    print("IVF-PQ (ADC + refine) top-5:")
    plans["embed_ivfpq_ann"].fn(spark, sf_dir).orderBy(
        "query_id", "rank"
    ).show(10)
    print("MMR-diversified top-5 (lambda = 2/3):")
    plans["embed_mmr_diversify"].fn(spark, sf_dir).orderBy(
        "query_id", "rank"
    ).show(10)
    print("k-center coreset picks (max-min radius):")
    plans["embed_kcenter_select"].fn(spark, sf_dir).orderBy("rank").show()

    # Round 9: the full serving stack. embed_ivfpq_index_ann probes a
    # PERSISTED IVF-PQ index (partition-pruned ADC + refine — the
    # production twin of embed_ivfpq_ann, bit-identical results);
    # embed_ann_mmr_diversify is the end-to-end retrieval query (ANN
    # shortlist -> greedy MMR re-rank); embed_nsw_ann searches the
    # fourth index family, a navigable-small-world neighbor graph.
    print("persisted IVF-PQ index probe (partition-pruned):")
    plans["embed_ivfpq_index_ann"].fn(spark, sf_dir).orderBy(
        "query_id", "rank"
    ).show(10)
    print("ANN -> MMR production retrieval:")
    plans["embed_ann_mmr_diversify"].fn(spark, sf_dir).orderBy(
        "query_id", "rank"
    ).show(10)
    print("NSW graph-ANN beam search:")
    plans["embed_nsw_ann"].fn(spark, sf_dir).orderBy(
        "query_id", "rank"
    ).show(10)

    # Round 10: the graph family's serving + quality rows.
    # embed_nsw_index_ann probes the PERSISTED graph (src-cell-
    # partitioned edge list, every round's scans pruned to the beam's
    # cells — bit-identical to the in-memory trace above);
    # embed_nsw_alpha_ann searches the wide-pool α-pruned graph (the
    # navigability fix: recall@5 0.82/0.92/0.84 across scales vs the
    # base 0.68/0.76/0.86 — see RECALL.md).
    print("persisted NSW graph probe (partition-pruned):")
    plans["embed_nsw_index_ann"].fn(spark, sf_dir).orderBy(
        "query_id", "rank"
    ).show(10)
    print("wide-pool α-pruned graph search:")
    plans["embed_nsw_alpha_ann"].fn(spark, sf_dir).orderBy(
        "query_id", "rank"
    ).show(10)


if __name__ == "__main__":
    main(*sys.argv[1:])

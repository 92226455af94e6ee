"""Graph-ANN recall instrument at a WIDE query set (VERDICT r10 #5:
differences of 0.02 on the old 10-query set are sub-noise — at 50
queries x top-5 each cell of the table rests on 250 hits).

Measures greedy-beam-search recall@5 of the base NSW graph, the
NND-refined graphs, and the wide-pool α-pruned graph against exact
int64 squared-grid-distance ground truth (the metric the search ranks
by), at the given fixture dir.

Usage:  python tools/graph_recall.py [sf_dir ...] [--queries N]
Prints one markdown table row per sf_dir (the RECALL.md NSW table).
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import numpy as np  # noqa: E402
from pyspark.sql import functions as F  # noqa: E402

from youtube_etl_project_spark.operators.grid import (  # noqa: E402
    GRID,
    snap_np,
    sq_dists,
)

N_QUERIES = 50
TOPK = 5


def exact_ground_truth(emb_rows, n_queries: int) -> set:
    ids = np.array([r.vec_id for r in emb_rows])
    Q = snap_np([r.embedding for r in emb_rows], GRID)
    exact = set()
    for qi in np.where(ids < n_queries)[0]:
        d = sq_dists(Q[qi:qi + 1], Q)[0]
        d[qi] = 2**62  # exclude self, like the search trace
        sel = np.lexsort((ids, d))[:TOPK]
        exact.update((int(ids[qi]), int(ids[j])) for j in sel)
    return exact


def sweep(spark, sf_dir: str, n_queries: int) -> dict[str, float]:
    from youtube_etl_project_spark.plans import graph_ann
    from youtube_etl_project_spark.sources import load_table

    emb_rows = (
        load_table(spark, sf_dir, "embeddings")
        .filter(F.col("embedding").isNotNull())
        .select("vec_id", "embedding")
        .collect()
    )
    exact = exact_ground_truth(emb_rows, n_queries)

    graphs = {
        "base": graph_ann.nsw_graph(spark, sf_dir),
        "nnd1": graph_ann.nsw_nnd_graph_rounds(spark, sf_dir, rounds=1),
        "nnd2": graph_ann.nsw_nnd_graph_rounds(spark, sf_dir, rounds=2),
        "alpha": graph_ann.nsw_alpha_graph(spark, sf_dir),
    }
    out: dict[str, float] = {}
    for name, (edges, qe, assign, _cb) in graphs.items():
        got = {
            (r.query_id, r.neighbor_id)
            for r in graph_ann._beam_search(
                edges, qe, assign, n_queries=n_queries
            ).collect()
        }
        out[name] = len(got & exact) / len(exact)
    return out


def main() -> None:
    from youtube_etl_project_spark.session import get_spark

    args = [a for a in sys.argv[1:] if not a.startswith("--")]
    nq = N_QUERIES
    for a in sys.argv[1:]:
        if a.startswith("--queries"):
            nq = int(a.split("=", 1)[1])
    sf_dirs = args or ["/root/testdata/sf0.001", "/root/testdata/sf0.01",
                       "/root/testdata/sf0.1"]
    spark = get_spark("graph-recall")
    spark.sparkContext.setLogLevel("ERROR")
    print(f"| scale (n queries={nq}) | base | +1 NND | +2 NND "
          f"| wide-pool α |")
    print("|---|---|---|---|---|")
    for sf in sf_dirs:
        r = sweep(spark, sf, nq)
        label = sf.rstrip("/").rsplit("/", 1)[-1]
        print(
            f"| {label} | {r['base']:.3f} | {r['nnd1']:.3f} "
            f"| {r['nnd2']:.3f} | {r['alpha']:.3f} |",
            flush=True,
        )


if __name__ == "__main__":
    main()

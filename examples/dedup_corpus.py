"""End-to-end corpus deduplication: the production 100 TB recipe.

    documents --> md5 MinHash signatures --> LSH band buckets --> candidate
    pairs --> exact-Jaccard verify --> connected components --> keep the
    min-id survivor per cluster --> deduplicated corpus

Run:  python examples/dedup_corpus.py [sf_dir] [out_dir]
"""

from __future__ import annotations

import os
import sys
import tempfile

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from youtube_etl_project_spark.operators import dedup, graph  # noqa: E402
from youtube_etl_project_spark.session import get_spark  # noqa: E402
from youtube_etl_project_spark.sources import load_table  # noqa: E402


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    out_dir = (
        sys.argv[2]
        if len(sys.argv) > 2
        else os.path.join(tempfile.mkdtemp(prefix="dedup_"), "corpus")
    )
    spark = get_spark("dedup-corpus-example")
    spark.sparkContext.setLogLevel("ERROR")

    docs = load_table(spark, sf_dir, "documents")
    pairs = dedup.minhash_lsh_pairs_md5(
        docs, "doc_id", "text", n_hashes=32, n_bands=8, threshold=0.5
    )
    labels = graph.connected_components(pairs, src="id_a", dst="id_b")
    survivors = (
        docs.join(labels.withColumnRenamed("id", "doc_id"), "doc_id", "left")
        .filter(
            F.coalesce("cluster_id", "doc_id") == F.col("doc_id")
        )
        .drop("cluster_id")
    )
    survivors.write.mode("overwrite").parquet(out_dir)

    n_in, n_out = docs.count(), spark.read.parquet(out_dir).count()
    print(f"input docs:  {n_in}")
    print(f"kept docs:   {n_out}  ({n_in - n_out} near-duplicates removed)")
    print(f"output:      {out_dir}")


if __name__ == "__main__":
    main()

"""Day-over-day incremental dedup against a persisted LSH index.

    day 0:  corpus --> md5_signature_df() --> write index table
    day N:  batch arrives
            --> incremental_minhash_pairs_md5(corpus_index=read index)
            --> drop batch docs that duplicate the corpus (or each other)
            --> append surviving docs to the corpus, their rows to the index

The corpus is never re-shingled after day 0 — each increment scans the
flat index columns map-side against the broadcast batch bands. This is
the loop that keeps dedup O(|batch|) instead of O(|corpus|) per day.

Run:  python examples/incremental_dedup.py [sf_dir] [work_dir]
"""

from __future__ import annotations

import os
import sys
import tempfile

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from youtube_etl_project_spark.operators import dedup  # noqa: E402
from youtube_etl_project_spark.session import get_spark  # noqa: E402
from youtube_etl_project_spark.sources import load_table  # noqa: E402

PARAMS = dict(n_hashes=32, n_bands=8, threshold=0.5)


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    work = (
        sys.argv[2]
        if len(sys.argv) > 2
        else tempfile.mkdtemp(prefix="inc_dedup_")
    )
    index_path = os.path.join(work, "lsh_index")
    spark = get_spark("incremental-dedup")
    spark.sparkContext.setLogLevel("ERROR")

    docs = load_table(spark, sf_dir, "documents")
    is_batch = (
        F.substring(
            F.md5(F.col("doc_id").cast("string").cast("binary")), 1, 2
        )
        < "1a"
    )
    corpus, batch = docs.filter(~is_batch), docs.filter(is_batch)

    # ---- day 0: build and persist the index ------------------------------
    dedup.md5_signature_df(
        corpus, "doc_id", "text", PARAMS["n_hashes"]
    ).write.mode("overwrite").parquet(index_path)
    idx = spark.read.parquet(index_path)
    print(f"day 0: corpus={corpus.count()} docs, index rows={idx.count()}")

    # ---- day 1: batch arrives -------------------------------------------
    pairs = dedup.incremental_minhash_pairs_md5(
        None, batch, "doc_id", "text", corpus_index=idx, **PARAMS
    ).localCheckpoint(eager=True)  # referenced twice below
    n_batch = batch.count()

    # a batch doc is a duplicate if it pairs with the corpus (the operator
    # puts the batch id in id_a for those), or is the larger id of a
    # batch-batch pair
    dup_ids = dedup.batch_duplicate_ids(pairs, batch.select("doc_id"))
    fresh = batch.join(dup_ids, "doc_id", "left_anti")
    n_fresh = fresh.count()
    print(
        f"day 1: batch={n_batch}, near-dup pairs={pairs.count()}, "
        f"fresh={n_fresh}, dropped={n_batch - n_fresh}"
    )

    # ---- append the survivors' index rows (corpus never re-shingled) -----
    dedup.md5_signature_df(
        fresh, "doc_id", "text", PARAMS["n_hashes"]
    ).write.mode("append").parquet(index_path)
    print(
        f"index now {spark.read.parquet(index_path).count()} rows "
        f"(at {index_path})"
    )
    spark.stop()


if __name__ == "__main__":
    main()

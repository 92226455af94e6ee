"""incremental_minhash_pairs_md5(A, B) must equal
minhash_lsh_pairs_md5(A ∪ B) restricted to pairs touching B — same
params, same md5 signatures, so the band collisions and Jaccard
verification are bit-identical; only the corpus-corpus pairs may be
absent."""

from __future__ import annotations

from pyspark.sql import functions as F

from youtube_etl_project_spark.operators import dedup

PARAMS = dict(n_hashes=32, n_bands=8, threshold=0.5)


def _norm(rows):
    # batch-corpus pairs carry the batch id in id_a; the full recompute
    # orders id_a < id_b — compare as unordered pairs.
    return sorted(
        (min(r.id_a, r.id_b), max(r.id_a, r.id_b), r.jaccard) for r in rows
    )


def test_incremental_equals_full_restricted_to_batch(spark, sf_dir):
    from youtube_etl_project_spark.sources import load_table

    docs = load_table(spark, sf_dir, "documents")
    is_batch = (
        F.substring(
            F.md5(F.col("doc_id").cast("string").cast("binary")), 1, 2
        )
        < "1a"
    )
    batch = docs.filter(is_batch)
    corpus = docs.filter(~is_batch)
    batch_ids = {r.doc_id for r in batch.select("doc_id").collect()}
    assert batch_ids, "split produced an empty batch"

    inc = _norm(
        dedup.incremental_minhash_pairs_md5(
            corpus, batch, "doc_id", "text", **PARAMS
        ).collect()
    )
    full = dedup.minhash_lsh_pairs_md5(
        docs, "doc_id", "text", **PARAMS
    ).collect()
    full_touching_batch = _norm(
        r for r in full if r.id_a in batch_ids or r.id_b in batch_ids
    )
    assert inc == full_touching_batch
    # and the restriction is real: the full run also found corpus-corpus
    # pairs the incremental path rightly never considered
    assert len(full) >= len(full_touching_batch)


def test_incremental_empty_batch(spark, sf_dir):
    from youtube_etl_project_spark.sources import load_table

    docs = load_table(spark, sf_dir, "documents")
    empty = docs.filter(F.lit(False))
    assert (
        dedup.incremental_minhash_pairs_md5(
            docs, empty, "doc_id", "text", **PARAMS
        ).count()
        == 0
    )


def test_corpus_index_path_matches_direct(spark, sf_dir, tmp_path):
    from youtube_etl_project_spark.sources import load_table

    docs = load_table(spark, sf_dir, "documents")
    is_batch = (
        F.substring(
            F.md5(F.col("doc_id").cast("string").cast("binary")), 1, 2
        )
        < "1a"
    )
    batch = docs.filter(is_batch)
    corpus = docs.filter(~is_batch)
    # persist the index and run from the parquet round-trip, as production
    # would — must match recomputing signatures from the corpus text
    path = str(tmp_path / "idx")
    dedup.md5_signature_df(
        corpus, "doc_id", "text", PARAMS["n_hashes"]
    ).write.parquet(path)
    via_index = _norm(
        dedup.incremental_minhash_pairs_md5(
            None, batch, "doc_id", "text",
            corpus_index=spark.read.parquet(path), **PARAMS,
        ).collect()
    )
    direct = _norm(
        dedup.incremental_minhash_pairs_md5(
            corpus, batch, "doc_id", "text", **PARAMS
        ).collect()
    )
    assert via_index == direct

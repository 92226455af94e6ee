"""Dedup family: LSH candidates vs exact Jaccard ground truth, shingling
edge cases, SimHash determinism + Hamming locality."""

from __future__ import annotations

from pyspark.sql import functions as F

from youtube_etl_project_spark.operators import dedup
from youtube_etl_project_spark.sources import load_table


def _pairs(df):
    return {(r.id_a, r.id_b) for r in df.collect()}


def test_minhash_lsh_vs_exact_ground_truth(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents")
    exact = _pairs(
        dedup.ngram_jaccard_pairs(docs, "doc_id", "text", 3, threshold=0.5)
    )
    lsh = _pairs(
        dedup.minhash_lsh_pairs(
            docs, "doc_id", "text", 3, n_hashes=32, n_bands=8, threshold=0.5
        )
    )
    # verification step guarantees precision = 1 (every LSH pair is a true
    # near-dup); banding may miss pairs (recall < 1)
    assert lsh <= exact
    if exact:
        recall = len(lsh) / len(exact)
        assert recall >= 0.8, f"LSH recall too low: {recall}"


def test_word_shingles_short_doc_empty(spark):
    df = spark.createDataFrame([("a b",), ("a b c d",)], "text string")
    out = df.select(
        dedup.word_shingles(F.split("text", " "), 3).alias("sh")
    ).collect()
    assert out[0].sh == []
    assert out[1].sh == ["a b c", "b c d"]


def test_simhash_deterministic_and_local(spark):
    df = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog"),
            (2, "the quick brown fox jumps over the lazy cat"),
            (3, "completely different vocabulary entirely here now"),
        ],
        "id long, text string",
    )
    def fingerprints():
        sig = dedup.simhash64_md5_df(df, "id", "text")
        return {r.id: r.simhash for r in sig.collect()}

    out1, out2 = fingerprints(), fingerprints()
    assert out1 == out2  # deterministic
    ham = df.select(
        dedup.hamming64(
            F.lit(out1[1]).cast("long"), F.lit(out1[2]).cast("long")
        ).alias("near"),
        dedup.hamming64(
            F.lit(out1[1]).cast("long"), F.lit(out1[3]).cast("long")
        ).alias("far"),
    ).collect()[0]
    assert ham.near < ham.far  # similar docs → closer fingerprints


def test_exact_dedup_deterministic_winner(spark):
    df = spark.createDataFrame(
        [(1, "x", 5), (1, "x", 3), (2, "y", 1)], "k int, g string, v int"
    )
    out = dedup.exact_dedup(df, ["k"], [F.col("v").asc()])
    assert {(r.k, r.v) for r in out.collect()} == {(1, 3), (2, 1)}


def _hot_corpus(spark):
    """60 docs sharing one boilerplate sentence + 3 true near-dup pairs.

    The boilerplate shingles have df=60 — without a DF cut they alone
    put every doc pair in the self-join (60·59/2 = 1770 candidate rows
    per shared shingle)."""
    boiler = "copyright notice all rights reserved by the publisher"
    rows = []
    for i in range(60):
        body = " ".join(f"tok{i}_{j} word{(i * 7 + j) % 997}" for j in range(12))
        rows.append((i, f"{boiler} {body}"))
    # true near-dups: clone docs 0,1,2 with one body token changed
    for i in range(3):
        clone = rows[i][1].replace(f"tok{i}_5", "CHANGED")
        rows.append((100 + i, clone))
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_df_cut_bounds_join_and_keeps_true_dupes(spark):
    docs = _hot_corpus(spark)
    uncut = dedup.ngram_jaccard_pairs(docs, "doc_id", "text", 3, threshold=0.5)
    cut = dedup.ngram_jaccard_pairs(
        docs, "doc_id", "text", 3, threshold=0.5, max_df=10
    )
    true_dupes = {(0, 100), (1, 101), (2, 102)}
    assert true_dupes <= _pairs(cut)
    # boilerplate-only doc pairs share ~8 of ~30 shingles → below 0.5
    # either way, but the cut must not ADD spurious pairs
    assert _pairs(cut) <= _pairs(uncut) | true_dupes


def test_df_cut_join_row_bound(spark):
    # the actual scale claim: candidate join rows collapse under the cut
    docs = _hot_corpus(spark)

    def join_rows(max_df):
        toks = F.filter(F.split(F.col("text"), r"\s+"), lambda x: x != F.lit(""))
        base = docs.select(
            F.col("doc_id").alias("doc"),
            dedup.word_shingle_ids(toks, 3).alias("shingles"),
        )
        ex = base.select("doc", F.explode("shingles").alias("sh"))
        if max_df:
            ex = dedup.df_cut(ex, "sh", max_df)
        l, r = ex.alias("l"), ex.alias("r")
        return l.join(
            r, (F.col("l.sh") == F.col("r.sh")) & (F.col("l.doc") < F.col("r.doc"))
        ).count()

    assert join_rows(None) > 10_000  # boilerplate blowup: 63²-ish per shingle
    assert join_rows(10) < 1_000    # bounded after the cut


def test_lsh_bucket_cap_degrades_gracefully(spark):
    docs = _hot_corpus(spark)
    capped = dedup.minhash_lsh_pairs(
        docs, "doc_id", "text", 3, n_hashes=32, n_bands=8,
        threshold=0.5, max_df=10, max_bucket=10,
    )
    got = _pairs(capped)
    true_dupes = {(0, 100), (1, 101), (2, 102)}
    # near-identical clones agree on non-boilerplate bands too → survive cap
    assert true_dupes & got, "bucket cap killed all true near-dups"
    # precision still 1.0: every emitted pair is a verified near-dup
    exact = _pairs(
        dedup.ngram_jaccard_pairs(
            docs, "doc_id", "text", 3, threshold=0.5, max_df=10
        )
    )
    assert got <= exact


def test_guarded_lsh_inert_on_clean_corpus(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents")
    plain = _pairs(
        dedup.minhash_lsh_pairs(
            docs, "doc_id", "text", 3, n_hashes=32, n_bands=8, threshold=0.5
        )
    )
    guarded = _pairs(
        dedup.minhash_lsh_pairs(
            docs, "doc_id", "text", 3, n_hashes=32, n_bands=8, threshold=0.5,
            max_df=50, max_bucket=50,
        )
    )
    # caps sit above the clean corpus's max df/bucket size → no-ops
    assert guarded == plain


def test_simhash_pairs_exact_vs_bruteforce(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents")
    got = {
        (r.id_a, r.id_b): r.hamming
        for r in dedup.simhash_pairs_md5(
            docs, "doc_id", "text", max_distance=3
        ).collect()
    }
    # brute force: cross join on the same fingerprints
    sig = dedup.simhash64_md5_df(docs, "doc_id", "text")
    l = sig.select(F.col("doc_id").alias("id_a"), F.col("simhash").alias("a"))
    r = sig.select(F.col("doc_id").alias("id_b"), F.col("simhash").alias("b"))
    brute = {
        (row.id_a, row.id_b): row.h
        for row in l.join(r, F.col("id_a") < F.col("id_b"))
        .withColumn("h", dedup.hamming64(F.col("a"), F.col("b")))
        .filter(F.col("h") <= 3)
        .collect()
    }
    # pigeonhole banding is exact: identical pair set AND distances
    assert got == brute
    assert got, "fixture should contain at least one near-dup pair"


def test_simhash_block_combos_same_pairs(spark, sf_dir):
    """The Manku block-combination geometry (B=5, C(5,2)=10 tables —
    round 10's fix for the frozen 4×16-bit bands) is still exact recall:
    identical pair set and distances to the classic d+1-band layout."""
    docs = load_table(spark, sf_dir, "documents")

    def pairs(n_blocks):
        return {
            (r.id_a, r.id_b): r.hamming
            for r in dedup.simhash_pairs_md5(
                docs, "doc_id", "text", max_distance=3, n_blocks=n_blocks
            ).collect()
        }

    classic, combo5, combo6 = pairs(None), pairs(5), pairs(6)
    assert combo5 == classic
    assert combo6 == classic
    assert classic, "fixture should contain at least one near-dup pair"


def test_containment_catches_subset_jaccard_misses(spark):
    """A short doc quoted whole inside a long one: overlap = 1.0 (and the
    short side's containment = 1.0) while Jaccard stays below threshold."""
    short = "alpha beta gamma delta epsilon zeta"
    filler = " ".join(f"tok{i} tok{i+1} tok{i+2}" for i in range(0, 60, 3))
    docs = spark.createDataFrame(
        [(1, short), (2, filler + " " + short + " " + filler)],
        "doc_id long, text string",
    )
    cont = dedup.ngram_containment_pairs(
        docs, "doc_id", "text", shingle_k=3, threshold=0.8
    ).collect()
    assert len(cont) == 1
    r = cont[0]
    assert (r.id_a, r.id_b) == (1, 2)
    assert r.overlap == 1.0 and r.contain_a == 1.0 and r.contain_b < 0.5
    # the symmetric baseline does NOT flag this pair at its 0.5 threshold
    jac = dedup.ngram_jaccard_pairs(
        docs, "doc_id", "text", shingle_k=3, threshold=0.5
    ).collect()
    assert jac == []

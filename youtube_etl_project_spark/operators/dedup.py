"""Deduplication family (SURVEY §2b X1/X2): exact, MinHash+LSH, SimHash,
n-gram Jaccard — the LLM-training-pipeline dedup stack.

Everything here is native Column expressions (xxhash64, array lambdas) — no
MLlib vector conversions, no Python UDFs — so signatures/bands compute
map-side inside codegen and the only shuffles are the band-bucket join (LSH)
or the shingle self-join (exact Jaccard). That is the 100 TB shape: LSH cost
scales with matching candidate pairs, not n².

Design notes per operator:

* exact_dedup: content-hash (sha2 of canonicalized row) groupBy — one
  shuffle on the hash; or key-based latest/first-wins via window.
* minhash_lsh_pairs: per-row k-shingles → n_hashes minhash signature (one
  xxhash64 per seed per shingle, map-side) → b bands × r rows → explode
  bands → self-join on (band, band_hash) → exact-Jaccard verify on the
  candidates only. Deterministic: fixed integer seeds.
* simhash: 64-bit fingerprint; per-bit majority vote over token hashes,
  computed as a 64-element array fold. Near-dup = small Hamming distance,
  found via band buckets on hash prefixes.
* ngram_jaccard_pairs: exact all-pairs Jaccard via shingle explode +
  self-join (the oracle-checkable baseline; quadratic in colliding docs —
  use minhash_lsh_pairs at scale).
* md5_* twins (round 4): the same LSH pipeline with signatures in the md5
  domain — lexicographic mins of fixed-width md5 hex slices, 4 signature
  slots per digest — so every signature, band hash, candidate set and
  verified Jaccard is reproducible in ANSI SQL and the full/guarded/
  incremental/indexed paths are value-hash oracle-checked. ~2x the hash
  cost of xxhash64; production keeps the xxhash flagship, the gate keeps
  the md5 proof.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from youtube_etl_project_spark.operators.checkpointing import pin


def df_cut(
    exploded: DataFrame, item_col: str, max_df: int
) -> DataFrame:
    """Drop items whose document frequency exceeds ``max_df`` from an
    exploded (doc, item) frame.

    The standard web-scale dedup guard (C4/RefinedWeb-style): a single
    boilerplate shingle shared by m documents contributes m·(m-1)/2 rows to
    any self-join on the item — one hot shingle at 100 TB is a quadratic
    bucket. Ultra-common shingles carry no near-dup signal (they match
    *everything*), so cutting them bounds join cost with negligible recall
    loss. One window count over the item key — rides the same shuffle
    partitioning the self-join needs anyway.

    Rows are assumed distinct per (doc, item) — true for shingle sets —
    so ``count(*)`` over the item partition IS the document frequency.
    """
    w = Window.partitionBy(item_col)
    return (
        exploded.withColumn("__df", F.count(F.lit(1)).over(w))
        .filter(F.col("__df") <= max_df)
        .drop("__df")
    )


def spread(df: DataFrame) -> DataFrame:
    """Repartition to the default parallelism ahead of CPU-heavy per-row
    work.

    Small dimension-sized inputs often arrive as a single parquet file →
    one partition → single-threaded signature/shingle computation (measured:
    7s single-task vs sub-second spread across 32). One cheap shuffle of the
    narrow input buys full parallelism for everything downstream; on a real
    cluster with many input splits this is a no-op cost-wise.
    """
    return df.repartition(df.sparkSession.sparkContext.defaultParallelism)


# ---------------------------------------------------------------------------
# shingling
# ---------------------------------------------------------------------------

def word_shingles(tokens: Column | str, k: int = 3) -> Column:
    """Distinct k-word shingles (space-joined) from a token array; empty
    array when the document has fewer than k tokens.

    Human-readable form — use ``word_shingle_ids`` in corpus-scale paths:
    the per-index slice+concat here costs ~250µs/shingle interpreted.
    """
    t = F.col(tokens) if isinstance(tokens, str) else tokens
    mk = F.transform(
        F.sequence(F.lit(0), F.size(t) - k),
        lambda i: F.concat_ws(" ", F.slice(t, i + 1, k)),
    )
    return F.when(F.size(t) >= k, F.array_distinct(mk)).otherwise(
        F.array().cast("array<string>")
    )


def word_shingle_ids(tokens: Column | str, k: int = 3) -> Column:
    """Distinct k-shingles as 64-bit ids: hash each token once, then fold
    k offset-aligned hash arrays with xxhash64 mixing via zip_with — k-1
    linear passes, no string building, no per-index slicing (~20x faster
    than the string form), and ANSI-safe (no long-multiply overflow).

    Identity only (collision odds ~2^-64): intersection/union counts match
    the string-shingle form, which is all Jaccard needs.
    """
    t = F.col(tokens) if isinstance(tokens, str) else tokens
    th = F.transform(t, lambda x: F.xxhash64(x))
    ids = th
    for i in range(1, k):
        # align with the hash array shifted i left; zip_with pads the
        # shorter side with null and xxhash64 ignores nulls, so the k-1
        # tail entries are dropped by the slice below
        shifted = F.slice(th, i + 1, F.size(th))
        ids = F.zip_with(ids, shifted, lambda a, b: F.xxhash64(a, b))
    valid = F.slice(ids, 1, F.greatest(F.size(t) - (k - 1), F.lit(0)))
    return F.when(F.size(t) >= k, F.array_distinct(valid)).otherwise(
        F.array().cast("array<bigint>")
    )


# ---------------------------------------------------------------------------
# X1: exact dedup
# ---------------------------------------------------------------------------

def content_hash(*cols: Column | str) -> Column:
    """Canonical row fingerprint: sha2-256 over a '|'-joined projection
    (the hash-groupBy exact-dedup key)."""
    cs = [F.col(c) if isinstance(c, str) else c for c in cols]
    return F.sha2(F.concat_ws("|", *[c.cast("string") for c in cs]), 256)


def exact_dedup(df: DataFrame, keys: list[str], order_by: list[Column]) -> DataFrame:
    """Keep exactly one row per key, deterministically (first under
    ``order_by``). W1-style window — never ``dropDuplicates`` when
    downstream results must be reproducible, since that keeps an arbitrary
    row per key."""
    from pyspark.sql import Window

    w = Window.partitionBy(*keys).orderBy(*order_by)
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )


# ---------------------------------------------------------------------------
# X2: MinHash + LSH
# ---------------------------------------------------------------------------

def minhash_signature_df(
    base: DataFrame,
    id_col: str = "doc",
    shingles_col: str = "shingles",
    n_hashes: int = 32,
    seed: int = 42,
    max_df: int | None = None,
) -> DataFrame:
    """Minhash signatures as n_hashes flat long columns ``h0..h{n-1}``.

    ``max_df`` applies :func:`df_cut` to the exploded shingles before
    hashing, so ultra-common shingles neither shape the signature nor
    inflate the verify sets — the cut then holds end-to-end (bands AND
    exact-Jaccard verify see the same filtered shingle space).

    Shape matters here: explode shingles → one xxhash64 per seed as a plain
    column → min-aggregate per doc. Flat columns stay in whole-stage codegen
    and each hash is computed exactly once; the tempting nested form
    (transform(seeds, s -> array_min(transform(shingles, ...)))) gets
    re-evaluated per downstream reference in the interpreted higher-order
    path — measured 30x slower. One shuffle, on the doc id.
    """
    sh = base.select(F.col(id_col).alias("doc"), F.explode(shingles_col).alias("sh"))
    if max_df is not None:
        sh = df_cut(sh, "sh", max_df)
    hashed = sh.select(
        "doc",
        F.col("sh").alias("sh_id"),
        *[
            F.xxhash64("sh", F.lit(seed * 1_000_003 + i)).alias(f"h{i}")
            for i in range(n_hashes)
        ],
    )
    # sh_set rides the same aggregation: the verify step needs each doc's
    # shingle set, and collecting the 64-bit ids here means the whole
    # pipeline reads/shuffles the corpus exactly once.
    return hashed.groupBy("doc").agg(
        F.collect_set("sh_id").alias("sh_set"),
        *[F.min(f"h{i}").alias(f"h{i}") for i in range(n_hashes)]
    )


def lsh_band_rows(
    sig: DataFrame, n_bands: int, rows_per_band: int
) -> DataFrame:
    """(doc, band_id, band_hash) rows from flat signature columns — docs
    agreeing on any band collide in the bucket join."""
    bands = F.array(
        *[
            F.struct(
                F.lit(b).alias("band_id"),
                F.xxhash64(
                    F.concat_ws(
                        ",",
                        *[
                            F.col(f"h{b * rows_per_band + r}").cast("string")
                            for r in range(rows_per_band)
                        ],
                    )
                ).alias("band_hash"),
            )
            for b in range(n_bands)
        ]
    )
    return sig.select("doc", F.explode(bands).alias("b")).select(
        "doc", "b.band_id", "b.band_hash"
    )


def _jaccard(a: Column, b: Column) -> Column:
    inter = F.size(F.array_intersect(a, b))
    union = F.size(a) + F.size(b) - inter
    return F.when(union > 0, inter / union).otherwise(F.lit(0.0))


def minhash_lsh_pairs(
    docs: DataFrame,
    id_col: str,
    text_col: str,
    shingle_k: int = 3,
    n_hashes: int = 32,
    n_bands: int = 8,
    threshold: float = 0.6,
    seed: int = 42,
    max_df: int | None = None,
    max_bucket: int | None = None,
    signatures: DataFrame | None = None,
) -> DataFrame:
    """Near-duplicate pairs via banded MinHash, verified with exact Jaccard.

    Returns (id_a, id_b, jaccard) with id_a < id_b and jaccard >= threshold.
    Candidate generation cost ∝ bucket collisions (b·n rows through one
    shuffle); verification touches candidates only.

    Hot-key guards for the 100 TB path (both off by default so the sf-scale
    oracle/recall checks see the full space):

    * ``max_df`` — shingle document-frequency cut (:func:`df_cut`) before
      signatures: boilerplate shingles stop dragging near-identical
      signatures together AND stop inflating the verify sets.
    * ``max_bucket`` — drop (band_id, band_hash) buckets larger than this
      before the self-join. A bucket of m docs emits m·(m-1)/2 candidate
      pairs; one boilerplate-driven hot band at corpus scale is a
      quadratic blowup. Docs agreeing on any *other* band still pair, so
      recall degrades gracefully (pinned by tests/test_dedup.py).
    """
    rows_per_band = n_hashes // n_bands
    if signatures is not None:
        # round 12: persisted signature index (same contract as the md5
        # twin's ``signatures`` — see minhash_lsh_pairs_md5); only valid
        # for the uncut space
        assert max_df is None, "signature index is built on the uncut space"
        sig = signatures
    else:
        toks = F.filter(
            F.split(F.col(text_col), r"\s+"), lambda x: x != F.lit("")
        )
        base = spread(docs).select(
            F.col(id_col).alias("doc"),
            word_shingle_ids(toks, shingle_k).alias("shingles"),
        ).filter(F.size("shingles") > 0)

        sig = minhash_signature_df(base, "doc", "shingles", n_hashes, seed,
                                   max_df=max_df)
    banded = lsh_band_rows(sig.drop("sh_set"), n_bands, rows_per_band)
    if max_bucket is not None:
        wb = Window.partitionBy("band_id", "band_hash")
        banded = (
            banded.withColumn("__bn", F.count(F.lit(1)).over(wb))
            .filter(F.col("__bn") <= max_bucket)
            .drop("__bn")
        )

    # Candidate pairs travel as bare (id_a, id_b) through dedup — never
    # shuffle the shingle arrays per-candidate; the doc-level hashed
    # shingle sets (collected in the same pass as the signature) re-attach
    # via two joins for the exact-Jaccard verify.
    left = banded.alias("l")
    right = banded.alias("r")
    candidates = (
        left.join(
            right,
            (F.col("l.band_id") == F.col("r.band_id"))
            & (F.col("l.band_hash") == F.col("r.band_hash"))
            & (F.col("l.doc") < F.col("r.doc")),
        )
        .select(F.col("l.doc").alias("id_a"), F.col("r.doc").alias("id_b"))
        .dropDuplicates(["id_a", "id_b"])
    )
    a = sig.select(F.col("doc").alias("id_a"), F.col("sh_set").alias("sh_a"))
    b = sig.select(F.col("doc").alias("id_b"), F.col("sh_set").alias("sh_b"))
    verified = (
        candidates.join(a, "id_a")
        .join(b, "id_b")
        .withColumn("jaccard", _jaccard(F.col("sh_a"), F.col("sh_b")))
    )
    return (
        verified.filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", F.round("jaccard", 6).alias("jaccard"))
    )


def md5_signature_df(
    docs: DataFrame,
    id_col: str,
    text_col: str,
    n_hashes: int = 16,
    max_df: int | None = None,
) -> DataFrame:
    """MinHash signatures in the **md5 domain** — the oracle-checkable
    twin of :func:`minhash_signature_df` (whose seeded xxhash64 has no
    DuckDB equivalent).

    Word 3-shingles are kept as STRINGS (space-joined via the same
    zip_with ladder as ``word_shingle_ids`` — the indexed
    transform(sequence, element_at...) form measured 5x slower), so both
    engines hash identical bytes. Each seeded digest
    ``md5(seed || '~' || shingle)`` contributes FOUR signature slots (the
    4 disjoint 8-hex-char / 32-bit slices): n_hashes/4 md5 calls per
    shingle row, measured 3-4x off the naive one-md5-per-slot form.
    Mins are LEXICOGRAPHIC — md5 hex is fixed-width lowercase on both
    engines, so the string min IS the numeric min. Returns
    (doc, sh_set, h0..h{n-1}); same explode → flat columns → one-shuffle
    aggregate shape as the flagship."""
    assert n_hashes % 4 == 0, "md5 slicing packs 4 hashes per digest"
    t = F.filter(F.split(F.col(text_col), r"\s+"), lambda x: x != F.lit(""))
    s2 = F.zip_with(
        t, F.slice(t, 2, F.size(t)), lambda a, b: F.concat_ws(" ", a, b)
    )
    s3 = F.zip_with(
        s2, F.slice(t, 3, F.size(t)), lambda a, b: F.concat_ws(" ", a, b)
    )
    valid = F.slice(s3, 1, F.greatest(F.size(t) - 2, F.lit(0)))
    shingles = F.when(F.size(t) >= 3, F.array_distinct(valid))
    base = (
        spread(docs)
        .select(F.col(id_col).alias("doc"), shingles.alias("shingles"))
        .filter(F.col("shingles").isNotNull())
    )
    sh = base.select("doc", F.explode("shingles").alias("sh"))
    if max_df is not None:
        # same end-to-end cut semantics as minhash_signature_df: bands
        # AND verify sets see the filtered shingle space
        sh = df_cut(sh, "sh", max_df)
    sh = sh.select(
        "doc",
        "sh",
        *[
            F.md5(F.concat_ws("~", F.lit(str(s_)), F.col("sh"))).alias(
                f"d{s_}"
            )
            for s_ in range(n_hashes // 4)
        ],
    )
    return sh.groupBy("doc").agg(
        F.collect_set("sh").alias("sh_set"),
        *[
            F.min(
                F.substring(F.col(f"d{i // 4}"), 8 * (i % 4) + 1, 8)
            ).alias(f"h{i}")
            for i in range(n_hashes)
        ],
    )


def md5_band_rows(
    sig: DataFrame, n_bands: int, rows_per_band: int
) -> DataFrame:
    """(doc, band_id, band_hash) rows with md5 band hashes over the
    comma-joined signature slices — the banding half of the md5-domain
    LSH, reproducible as ``md5(h0 || ',' || h1 ...)`` in SQL."""
    bands = F.array(
        *[
            F.struct(
                F.lit(b).alias("band_id"),
                F.md5(
                    F.concat_ws(
                        ",",
                        *[
                            F.col(f"h{b * rows_per_band + r}")
                            for r in range(rows_per_band)
                        ],
                    )
                ).alias("band_hash"),
            )
            for b in range(n_bands)
        ]
    )
    return sig.select("doc", F.explode(bands).alias("b")).select(
        "doc", "b.band_id", "b.band_hash"
    )


def minhash_lsh_pairs_md5(
    docs: DataFrame,
    id_col: str,
    text_col: str,
    n_hashes: int = 16,
    n_bands: int = 4,
    threshold: float = 0.5,
    max_df: int | None = None,
    max_bucket: int | None = None,
    signatures: DataFrame | None = None,
) -> DataFrame:
    """Banded MinHash-LSH with an **md5-domain signature** — the
    oracle-twin variant of :func:`minhash_lsh_pairs`: every signature
    component, band hash, candidate set and verified Jaccard is
    reproducible bit-for-bit in ANSI SQL (see :func:`md5_signature_df`).

    Same scale posture as the flagship: flat signature columns in
    whole-stage codegen, one shuffle on doc, candidates travel as bare
    id pairs, shingle sets re-attach only for the verify. md5 is ~2x the
    hash cost of xxhash64 — the price of cross-engine checkability.

    ``signatures`` (round 12): a persisted :func:`md5_signature_df`
    frame for ``docs`` — the corpus signature index. When given, the
    corpus is never re-shingled/re-hashed (the signature pass measured
    ~2.1 s of the row's ~2.3 s at sf0.1 — in-plan exchange reuse
    already shares it across this function's three references, so a
    per-fixture index is the remaining lever); banding, the candidate
    join and the exact-Jaccard verify all read the index columns. Only
    valid for the uncut space (``max_df`` must be None — a df cut
    changes both bands and verify sets).
    """
    assert n_hashes % n_bands == 0, (
        "n_hashes must divide evenly into n_bands — a remainder would "
        "silently drop trailing signature rows from every band"
    )
    rows_per_band = n_hashes // n_bands
    if signatures is not None:
        assert max_df is None, "signature index is built on the uncut space"
        sig = signatures
    else:
        sig = md5_signature_df(
            docs, id_col, text_col, n_hashes, max_df=max_df
        )
    banded = md5_band_rows(sig.drop("sh_set"), n_bands, rows_per_band)
    if max_bucket is not None:
        wb = Window.partitionBy("band_id", "band_hash")
        banded = (
            banded.withColumn("__bn", F.count(F.lit(1)).over(wb))
            .filter(F.col("__bn") <= max_bucket)
            .drop("__bn")
        )
    left, right = banded.alias("l"), banded.alias("r")
    candidates = (
        left.join(
            right,
            (F.col("l.band_id") == F.col("r.band_id"))
            & (F.col("l.band_hash") == F.col("r.band_hash"))
            & (F.col("l.doc") < F.col("r.doc")),
        )
        .select(F.col("l.doc").alias("id_a"), F.col("r.doc").alias("id_b"))
        .dropDuplicates(["id_a", "id_b"])
    )
    a = sig.select(F.col("doc").alias("id_a"), F.col("sh_set").alias("sh_a"))
    b = sig.select(F.col("doc").alias("id_b"), F.col("sh_set").alias("sh_b"))
    verified = (
        candidates.join(a, "id_a")
        .join(b, "id_b")
        .withColumn("jaccard", _jaccard(F.col("sh_a"), F.col("sh_b")))
    )
    return verified.filter(F.col("jaccard") >= threshold).select(
        "id_a", "id_b", F.round("jaccard", 6).alias("jaccard")
    )


def incremental_minhash_pairs_md5(
    corpus: DataFrame | None,
    batch: DataFrame,
    id_col: str,
    text_col: str,
    n_hashes: int = 16,
    n_bands: int = 4,
    threshold: float = 0.5,
    corpus_index: DataFrame | None = None,
) -> DataFrame:
    """The md5-domain twin of :func:`incremental_minhash_pairs` — same
    contract (batch-vs-corpus + within-batch pairs, the corpus never
    self-joins, batch bands broadcast so the corpus streams map-side; the
    batch id rides in id_a for cross pairs, batch-batch pairs ordered
    id_a < id_b) — but with oracle-checkable signatures: because a pair
    collides in a band iff both docs agree on it, regardless of which
    join produced it, the result equals the FULL md5 pipeline's pairs
    restricted to batch-touching ones, which is exactly what the DuckDB
    twin computes.

    Pass ``corpus_index`` (a persisted :func:`md5_signature_df` table;
    ``corpus`` is then ignored and may be None) and the corpus is never
    re-shingled — only its flat signature columns are scanned, the
    production serving shape."""
    assert n_hashes % n_bands == 0, (
        "n_hashes must divide evenly into n_bands — a remainder would "
        "silently drop trailing signature rows from every band"
    )
    rows_per_band = n_hashes // n_bands
    sig_b = md5_signature_df(batch, id_col, text_col, n_hashes)
    if corpus_index is not None:
        sig_c = corpus_index
    elif corpus is not None:
        sig_c = md5_signature_df(corpus, id_col, text_col, n_hashes)
    else:
        raise ValueError("need corpus or corpus_index")
    bands_b = md5_band_rows(sig_b.drop("sh_set"), n_bands, rows_per_band)
    bands_c = md5_band_rows(sig_c.drop("sh_set"), n_bands, rows_per_band)
    bb = (
        bands_b.alias("l")
        .join(
            bands_b.alias("r"),
            (F.col("l.band_id") == F.col("r.band_id"))
            & (F.col("l.band_hash") == F.col("r.band_hash"))
            & (F.col("l.doc") < F.col("r.doc")),
        )
        .select(F.col("l.doc").alias("id_a"), F.col("r.doc").alias("id_b"))
    )
    bc = (
        F.broadcast(bands_b.alias("l"))
        .join(
            bands_c.alias("r"),
            (F.col("l.band_id") == F.col("r.band_id"))
            & (F.col("l.band_hash") == F.col("r.band_hash")),
        )
        .select(F.col("l.doc").alias("id_a"), F.col("r.doc").alias("id_b"))
    )
    candidates = bb.unionByName(bc).dropDuplicates(["id_a", "id_b"])
    sig_all = sig_b.unionByName(sig_c)
    a = sig_b.select(F.col("doc").alias("id_a"), F.col("sh_set").alias("sh_a"))
    b = sig_all.select(
        F.col("doc").alias("id_b"), F.col("sh_set").alias("sh_b")
    )
    return (
        candidates.join(F.broadcast(a), "id_a")
        .join(b, "id_b")
        .withColumn("jaccard", _jaccard(F.col("sh_a"), F.col("sh_b")))
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", F.round("jaccard", 6).alias("jaccard"))
    )


def lsh_index(
    docs: DataFrame,
    id_col: str,
    text_col: str,
    shingle_k: int = 3,
    n_hashes: int = 32,
    seed: int = 42,
) -> DataFrame:
    """The persistable LSH index of a corpus: one row per doc with its
    hashed shingle set and flat minhash columns ``h0..h{n-1}`` — plain
    parquet-writable columns. At 100 TB this table is what you
    materialize once and append each day's batch rows to;
    :func:`incremental_minhash_pairs` accepts it as ``corpus_index`` so
    arriving batches never re-shingle the corpus. See
    examples/incremental_dedup.py for the day-over-day loop.
    """
    toks = F.filter(
        F.split(F.col(text_col), r"\s+"), lambda x: x != F.lit("")
    )
    base = spread(docs).select(
        F.col(id_col).alias("doc"),
        word_shingle_ids(toks, shingle_k).alias("shingles"),
    ).filter(F.size("shingles") > 0)
    return minhash_signature_df(base, "doc", "shingles", n_hashes, seed)


def incremental_minhash_pairs(
    corpus: DataFrame | None,
    batch: DataFrame,
    id_col: str,
    text_col: str,
    shingle_k: int = 3,
    n_hashes: int = 32,
    n_bands: int = 8,
    threshold: float = 0.6,
    seed: int = 42,
    max_bucket: int | None = None,
    corpus_index: DataFrame | None = None,
) -> DataFrame:
    """Near-dup pairs of a new ``batch`` against an existing ``corpus``
    plus within the batch itself — the corpus NEVER self-joins. This is
    the daily-crawl-vs-historical-index shape: re-deduplicating 100 TB
    because 0.1 TB arrived is the classic accidental quadratic, and
    ``minhash_lsh_pairs`` over the union does exactly that.

    Returns (id_a, id_b, jaccard) with jaccard >= threshold, where at
    least one side is a batch doc (batch-batch pairs ordered id_a < id_b;
    batch-corpus pairs carry the batch id in id_a). Ids must be disjoint
    across the two frames.

    Scale shape: the batch's band rows are orders of magnitude smaller
    than the corpus's, so the batch side is explicitly broadcast into the
    batch⋈corpus band join — the corpus band index streams map-side
    against it, no corpus shuffle at all. In production pass
    ``corpus_index`` (a persisted :func:`lsh_index` table; ``corpus``
    is then ignored and may be None) so the corpus is never re-shingled
    — only its flat index columns are scanned; equivalence with the
    full-recompute answer is pinned by tests/test_incremental_dedup.py:
    incremental(A, B) == pairs of full(A ∪ B) touching B.

    Parameters mirror :func:`minhash_lsh_pairs`; ``max_bucket`` caps hot
    corpus-side buckets (a boilerplate band shared by m corpus docs would
    otherwise fan every colliding batch doc out m ways).
    """
    rows_per_band = n_hashes // n_bands

    def _sig(docs: DataFrame) -> DataFrame:
        return lsh_index(docs, id_col, text_col, shingle_k, n_hashes, seed)

    sig_b = _sig(batch)
    if corpus_index is not None:
        sig_c = corpus_index
    elif corpus is not None:
        sig_c = _sig(corpus)
    else:
        raise ValueError("need corpus or corpus_index")
    bands_b = lsh_band_rows(sig_b.drop("sh_set"), n_bands, rows_per_band)
    bands_c = lsh_band_rows(sig_c.drop("sh_set"), n_bands, rows_per_band)
    if max_bucket is not None:
        wb = Window.partitionBy("band_id", "band_hash")
        bands_c = (
            bands_c.withColumn("__bn", F.count(F.lit(1)).over(wb))
            .filter(F.col("__bn") <= max_bucket)
            .drop("__bn")
        )

    bb = (
        bands_b.alias("l")
        .join(
            bands_b.alias("r"),
            (F.col("l.band_id") == F.col("r.band_id"))
            & (F.col("l.band_hash") == F.col("r.band_hash"))
            & (F.col("l.doc") < F.col("r.doc")),
        )
        .select(F.col("l.doc").alias("id_a"), F.col("r.doc").alias("id_b"))
    )
    bc = (
        F.broadcast(bands_b.alias("l"))
        .join(
            bands_c.alias("r"),
            (F.col("l.band_id") == F.col("r.band_id"))
            & (F.col("l.band_hash") == F.col("r.band_hash")),
        )
        .select(F.col("l.doc").alias("id_a"), F.col("r.doc").alias("id_b"))
    )
    candidates = bb.unionByName(bc).dropDuplicates(["id_a", "id_b"])

    sig_all = sig_b.unionByName(sig_c)
    a = sig_b.select(F.col("doc").alias("id_a"), F.col("sh_set").alias("sh_a"))
    b = sig_all.select(
        F.col("doc").alias("id_b"), F.col("sh_set").alias("sh_b")
    )
    return (
        candidates.join(F.broadcast(a), "id_a")
        .join(b, "id_b")
        .withColumn("jaccard", _jaccard(F.col("sh_a"), F.col("sh_b")))
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", F.round("jaccard", 6).alias("jaccard"))
    )


def batch_duplicate_ids(
    pairs: DataFrame, batch_ids: DataFrame
) -> DataFrame:
    """Which batch docs to drop, given :func:`incremental_minhash_pairs`
    output: every batch doc paired with a corpus doc (those pairs carry
    the batch id in ``id_a``), plus the larger id of each batch-batch
    pair (keep-first-by-id survivor rule). ``batch_ids`` is a one-column
    (doc_id) frame; returns the same shape. NOT ``greatest(id_a, id_b)``:
    a corpus id larger than its batch partner would wrongly shield the
    duplicate batch doc."""
    ids = batch_ids.select(F.col(batch_ids.columns[0]).alias("doc_id"))
    b = ids.withColumnRenamed("doc_id", "id_b")
    bb = pairs.join(b, "id_b", "left_semi")
    bc = pairs.join(b, "id_b", "left_anti")
    return (
        bb.select(F.greatest("id_a", "id_b").alias("doc_id"))
        .unionByName(bc.select(F.col("id_a").alias("doc_id")))
        .distinct()
    )


def ngram_jaccard_pairs(
    docs: DataFrame,
    id_col: str,
    text_col: str,
    shingle_k: int = 3,
    threshold: float = 0.5,
    max_df: int | None = None,
) -> DataFrame:
    """Exact all-pairs shingle Jaccard via explode + equi-self-join —
    the ground-truth twin of minhash_lsh_pairs. Cost ∝ co-occurring shingle
    pairs; at 100 TB use the LSH variant and keep this for sampled audits.

    ``max_df`` bounds the self-join: shingles in more than max_df documents
    are dropped from the shingle *sets* (numerator and denominator alike,
    so Jaccard stays a true set similarity over the filtered space) before
    pairing. Without it one hot shingle shared by m docs costs m²/2 join
    rows — the named scale-killer of this baseline.
    """
    inter = _shingle_intersections(docs, id_col, text_col, shingle_k, max_df)
    return (
        inter.withColumn(
            "jaccard",
            F.col("n_inter") / (F.col("n_a") + F.col("n_b") - F.col("n_inter")),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", F.round("jaccard", 6).alias("jaccard"))
    )


def _shingle_intersections(
    docs: DataFrame,
    id_col: str,
    text_col: str,
    shingle_k: int,
    max_df: int | None,
) -> DataFrame:
    """Pairwise shingle-set intersection counts with both set sizes:
    (id_a < id_b, n_inter, n_a, n_b) — the shared core of the Jaccard and
    containment baselines."""
    toks = F.filter(F.split(F.col(text_col), r"\s+"), lambda x: x != F.lit(""))
    base = spread(docs).select(
        F.col(id_col).alias("doc"),
        word_shingle_ids(toks, shingle_k).alias("shingles"),
    ).filter(F.size("shingles") > 0)
    # 64-bit shingle ids, not strings: same intersection counts (collision
    # odds ~2^-64), smaller shuffle, cheaper compares. n_sh rides along each
    # exploded row so union sizes come out of the pair groupBy directly —
    # no post-aggregation size joins (and no base re-execution).
    exploded = base.select(
        "doc",
        F.size("shingles").alias("n_sh"),
        F.explode("shingles").alias("sh"),
    )
    if max_df is not None:
        # After the cut the pre-computed n_sh is stale — recount the
        # surviving shingles per doc (window over doc: no join-back, and
        # docs losing every shingle drop out, matching the oracle).
        exploded = df_cut(exploded.drop("n_sh"), "sh", max_df).withColumn(
            "n_sh", F.count(F.lit(1)).over(Window.partitionBy("doc"))
        )

    l, r = exploded.alias("l"), exploded.alias("r")
    return (
        l.join(r, (F.col("l.sh") == F.col("r.sh")) & (F.col("l.doc") < F.col("r.doc")))
        .groupBy(F.col("l.doc").alias("id_a"), F.col("r.doc").alias("id_b"))
        .agg(
            F.count(F.lit(1)).alias("n_inter"),
            F.first(F.col("l.n_sh")).alias("n_a"),
            F.first(F.col("r.n_sh")).alias("n_b"),
        )
    )


def ngram_containment_pairs(
    docs: DataFrame,
    id_col: str,
    text_col: str,
    shingle_k: int = 3,
    threshold: float = 0.8,
    max_df: int | None = None,
) -> DataFrame:
    """Asymmetric near-dup detection: overlap coefficient
    |A∩B| / min(|A|,|B|) ≥ threshold, with both directional containments
    reported. Catches subset duplication — a short doc quoted whole
    inside a long one scores overlap ≈ 1 while its Jaccard
    |A∩B|/|A∪B| stays far below any dedup threshold (the quote-
    detection / page-boilerplate case symmetric Jaccard misses).

    Same cost shape and ``max_df`` scale guard as
    ``ngram_jaccard_pairs``; each score is a single division of exact
    integer counts, so both engines agree bit-for-bit.
    """
    inter = _shingle_intersections(docs, id_col, text_col, shingle_k, max_df)
    overlap = F.col("n_inter") / F.least(F.col("n_a"), F.col("n_b"))
    return (
        inter.withColumn("overlap", overlap)
        .filter(F.col("overlap") >= threshold)
        .select(
            "id_a",
            "id_b",
            F.round("overlap", 6).alias("overlap"),
            F.round(F.col("n_inter") / F.col("n_a"), 6).alias("contain_a"),
            F.round(F.col("n_inter") / F.col("n_b"), 6).alias("contain_b"),
        )
    )


# ---------------------------------------------------------------------------
# SimHash
# ---------------------------------------------------------------------------


def simhash64_md5_df(
    docs: DataFrame, id_col: str, text_col: str
) -> DataFrame:
    """64-bit SimHash with **md5-domain token bits**, so every bit is
    reproducible in DuckDB.

    Token bits come from md5's first 16 hex chars split into two 32-bit
    halves (``conv(hex, 16, 10)``; DuckDB: ``('0x' || hex)::BIGINT``):
    bit i<32 reads the low half, bit i≥32 the high half. Plan: explode
    tokens → hash once per token → 64 bit-count
    SUMs in one aggregate (whole-stage codegen, one shuffle on doc) →
    majority vote (ties → 0) → fold to one long. Bit 63 folds as
    ``b63 * (-2^63)`` so the two's-complement top bit never overflows an
    ANSI addition on either engine. Returns (id, n_tokens, simhash)."""
    toks = F.filter(F.split(F.col(text_col), r"\s+"), lambda x: x != F.lit(""))
    tok_rows = spread(docs).select(
        F.col(id_col).alias("doc"), F.explode(toks).alias("t")
    )
    h = F.md5("t")
    hashed = tok_rows.select(
        "doc",
        F.conv(F.substring(h, 1, 8), 16, 10).cast("long").alias("hi"),
        F.conv(F.substring(h, 9, 8), 16, 10).cast("long").alias("lo"),
    )
    agg = hashed.groupBy("doc").agg(
        F.count(F.lit(1)).alias("n_tokens"),
        *[
            F.sum(
                F.shiftright(F.col("lo" if i < 32 else "hi"), i % 32)
                .bitwiseAND(F.lit(1))
            ).alias(f"b{i}")
            for i in range(64)
        ],
    )
    sim = F.lit(0).cast("long")
    for i in range(64):
        bit = F.when(
            F.col(f"b{i}") * 2 > F.col("n_tokens"), F.lit(1)
        ).otherwise(F.lit(0)).cast("long")
        sim = sim + (
            bit * F.lit(-(2**63)) if i == 63 else F.shiftleft(bit, i)
        )
    return agg.select(
        F.col("doc").alias(id_col),
        F.col("n_tokens").cast("long").alias("n_tokens"),
        sim.alias("simhash"),
    )


def hamming64(a: Column, b: Column) -> Column:
    """Hamming distance between two 64-bit fingerprints via bit_count(xor)."""
    return F.bit_count(a.bitwiseXOR(b))


def simhash_pairs_md5(
    docs: DataFrame,
    id_col: str,
    text_col: str,
    max_distance: int = 3,
    n_blocks: int | None = None,
) -> DataFrame:
    """Near-dup pairs at Hamming distance ≤ d over the **md5-domain**
    fingerprints (:func:`simhash64_md5_df`) — *exact* (recall 1.0), via
    pigeonhole banding instead of all-pairs (:func:`simhash_banded_pairs`).
    Every bit is reproducible in DuckDB, so the whole pairs pipeline sits
    under the value-hash oracle of the registered ``dedup_simhash_pairs``.

    Returns (id_a, id_b, hamming) with id_a < id_b."""
    sig = simhash64_md5_df(docs, id_col, text_col).select(
        F.col(id_col).alias("doc"), "simhash"
    )
    return simhash_banded_pairs(sig, max_distance, n_blocks=n_blocks)


def simhash_block_lengths(n_blocks: int) -> "list[int]":
    """Bit lengths of the ``n_blocks`` disjoint simhash blocks: 64//B
    each, remainder folded into the last (the historical 4-band layout
    extended to any B)."""
    width = 64 // n_blocks
    return [width] * (n_blocks - 1) + [64 - width * (n_blocks - 1)]


def simhash_block_combos(
    n_blocks: int, max_distance: int
) -> "list[tuple[int, ...]]":
    """The combination tables of the Manku/Jain/Sarma block scheme: all
    C(B, B-d) block subsets of size B-d. A pair within Hamming distance d
    has ≤ d dirty blocks, hence ≥ B-d clean ones, hence agrees EXACTLY on
    at least one subset — recall 1.0 for any B ≥ d+1. B = d+1 degenerates
    to the classic one-block-per-band layout."""
    from itertools import combinations

    return list(combinations(range(n_blocks), n_blocks - max_distance))


def simhash_banded_pairs(
    sig: DataFrame,
    max_distance: int = 3,
    n_blocks: int | None = None,
) -> DataFrame:
    """Pigeonhole banding + exact-Hamming verify over (doc, simhash)
    fingerprints: split the fingerprint into d+1 disjoint bit bands; any
    two hashes within distance d agree exactly on at least one band, so a
    bucket join on (band_id, band_bits) plus a ``bit_count(xor) ≤ d``
    verify on the candidates finds every pair (the classic
    Manku/Jain/Sarma'07 web-dedup layout). Cost ∝ band collisions, not n².

    ``n_blocks`` (default d+1, the classic layout) widens the band keys
    via the Manku/Jain/Sarma WWW'07 block-combination scheme: split the
    fingerprint into B > d+1 blocks and key each band on a combination of
    B-d of them (:func:`simhash_block_combos` — still exact recall by
    pigeonhole). B=5 at d=3 turns 16-bit keys into 24-28-bit keys: 2^8-2^12
    × sparser buckets for 2.5× more band rows, collapsing the n²/2^16
    candidate regime that froze the 4-band geometry (r9 verdict)."""
    if n_blocks is None:
        n_blocks = max_distance + 1
    if n_blocks < max_distance + 1:
        raise ValueError(
            f"n_blocks={n_blocks} < d+1={max_distance + 1}: pigeonhole "
            "recall guarantee needs at least d+1 blocks"
        )
    lens = simhash_block_lengths(n_blocks)
    offs = [sum(lens[:i]) for i in range(n_blocks)]
    combos = simhash_block_combos(n_blocks, max_distance)
    sig = pin(sig)  # referenced by bands + both verify sides

    def block_bits(i: int) -> Column:
        mask = (1 << lens[i]) - 1
        return F.shiftrightunsigned("simhash", offs[i]).bitwiseAND(
            F.lit(mask)
        )

    def combo_key(c: "tuple[int, ...]") -> Column:
        key = block_bits(c[0])
        for b in c[1:]:
            key = F.shiftleft(key, lens[b]).bitwiseOR(block_bits(b))
        return key

    bands = sig.select(
        "doc",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(ci).alias("band_id"),
                        combo_key(c).alias("bits"),
                    )
                    for ci, c in enumerate(combos)
                ]
            )
        ).alias("b"),
    ).select("doc", "b.band_id", "b.bits")
    l, r = bands.alias("l"), bands.alias("r")
    candidates = (
        l.join(
            r,
            (F.col("l.band_id") == F.col("r.band_id"))
            & (F.col("l.bits") == F.col("r.bits"))
            & (F.col("l.doc") < F.col("r.doc")),
        )
        .select(F.col("l.doc").alias("id_a"), F.col("r.doc").alias("id_b"))
        .dropDuplicates(["id_a", "id_b"])
    )
    a = sig.select(F.col("doc").alias("id_a"), F.col("simhash").alias("sh_a"))
    b = sig.select(F.col("doc").alias("id_b"), F.col("simhash").alias("sh_b"))
    return (
        candidates.join(a, "id_a")
        .join(b, "id_b")
        .withColumn("hamming", hamming64(F.col("sh_a"), F.col("sh_b")))
        .filter(F.col("hamming") <= max_distance)
        .select("id_a", "id_b", F.col("hamming").cast("long").alias("hamming"))
    )


# ---------------------------------------------------------------------------
# prefix-filtered set-similarity join (PPJoin-style)
# ---------------------------------------------------------------------------

def prefix_filter_jaccard_pairs(
    docs: DataFrame,
    id_col: str,
    text_col: str,
    shingle_k: int = 3,
    threshold: float = 0.5,
) -> DataFrame:
    """Exact Jaccard >= threshold pairs via PREFIX FILTERING (Chaudhuri et
    al. SSJoin / Xiao et al. PPJoin, both public): order every document's
    shingles by a global (document-frequency ASC, shingle ASC) total
    order, keep only the first ``n - ceil(t*n) + 1`` per document, and
    join on those prefixes. The prefix-filter lemma guarantees any pair
    with Jaccard >= t shares at least one prefix token, so candidates are
    a superset of the answer — the exact-intersection verify on the full
    shingle arrays then returns EXACTLY the all-pairs result.

    Scale shape vs the all-pairs baseline (``ngram_jaccard_pairs``): the
    self-join runs on prefix tokens only — and because prefixes are the
    globally RAREST tokens of each set, hot shingles (the m-docs →
    m²/2-rows blowup) fall out of the join by construction rather than by
    a lossy df cut. Candidate pairs drop 11533 -> 1004 (~11x) on the
    sf0.01 fixture at t=0.5 while the output stays bit-identical.
    """
    toks = F.filter(F.split(F.col(text_col), r"\s+"), lambda x: x != F.lit(""))
    base = pin(
        spread(docs)
        .select(
            F.col(id_col).alias("doc"),
            word_shingle_ids(toks, shingle_k).alias("shingles"),
        )
        .filter(F.size("shingles") > 0)
    )
    exploded = base.select("doc", F.explode("shingles").alias("sh"))
    dfreq = exploded.groupBy("sh").agg(F.count(F.lit(1)).alias("df"))
    w_rank = Window.partitionBy("doc").orderBy(
        F.col("df").asc(), F.col("sh").asc()
    )
    n_sh = F.size("shingles")
    prefix_len = n_sh - F.ceil(F.lit(threshold) * n_sh) + 1
    # rn (the token's position in the doc's GLOBAL (df asc, sh asc)
    # order) and n ride along for the PPJoin filters below; the prefix
    # frame is pinned — round 12, guide §2.4: unpinned it was computed
    # once PER SELF-JOIN SIDE (two dfreq aggregate exchanges + two
    # per-doc rank windows, ~3 s each at sf0.1 — the r12 before-plan
    # shows the whole subtree twice).
    pref = pin(
        exploded.join(dfreq, "sh")
        .withColumn("rn", F.row_number().over(w_rank))
        .join(base.select("doc", prefix_len.alias("p_len"), n_sh.alias("n")), "doc")
        .filter(F.col("rn") <= F.col("p_len"))
        .select("doc", "sh", "rn", "n")
    )
    # PPJoin candidate filters (Xiao et al., round 12 — guide §3: bound
    # the verify join by the candidate-set size, VERDICT r11 #5). Both
    # prune only pairs PROVABLY below the threshold, so the verified
    # output is unchanged (measured 409 196 → 125 139 candidates at
    # sf0.1, output bit-identical):
    # * length filter — J(A,B) ≥ t ⟹ |A∩B| ≥ t·|A∪B| ⟹
    #   min(n_a,n_b) ≥ t·max(n_a,n_b);
    # * positional filter — a pair with J ≥ t has its FIRST common
    #   token (in the shared global order) at positions (i, j) with
    #   |A∩B| ≤ 1 + min(n_a−i, n_b−j), and J ≥ t ⟺ |A∩B| ≥
    #   t/(1+t)·(n_a+n_b); keeping a pair when ANY matched token
    #   passes the bound therefore keeps every true pair (later
    #   matches may keep a prunable pair — harmless superset).
    # Comparisons run in double with a 1e-9 slack on the prune side so
    # a borderline candidate is kept, never dropped.
    ln, rn_ = F.col("l.n"), F.col("r.n")
    len_ok = (
        F.least(ln, rn_).cast("double")
        >= F.lit(threshold) * F.greatest(ln, rn_).cast("double")
        - F.lit(1e-9)
    )
    pos_ok = (
        (F.lit(1) + F.least(ln - F.col("l.rn"), rn_ - F.col("r.rn")))
        .cast("double")
        >= F.lit(threshold / (1.0 + threshold)) * (ln + rn_).cast("double")
        - F.lit(1e-9)
    )
    cand = (
        pref.alias("l")
        .join(
            pref.alias("r"),
            (F.col("l.sh") == F.col("r.sh"))
            & (F.col("l.doc") < F.col("r.doc"))
            & len_ok
            & pos_ok,
        )
        .select(F.col("l.doc").alias("id_a"), F.col("r.doc").alias("id_b"))
        .distinct()
    )
    sets = base.select("doc", "shingles", F.size("shingles").alias("n"))
    inter = F.size(F.array_intersect(F.col("sh_a"), F.col("sh_b")))
    return (
        cand.join(
            sets.select(
                F.col("doc").alias("id_a"),
                F.col("shingles").alias("sh_a"),
                F.col("n").alias("n_a"),
            ),
            "id_a",
        )
        .join(
            sets.select(
                F.col("doc").alias("id_b"),
                F.col("shingles").alias("sh_b"),
                F.col("n").alias("n_b"),
            ),
            "id_b",
        )
        .withColumn("n_inter", inter)
        .withColumn(
            "jaccard",
            F.col("n_inter") / (F.col("n_a") + F.col("n_b") - F.col("n_inter")),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", F.round("jaccard", 6).alias("jaccard"))
    )

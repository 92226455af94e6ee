"""Physical-plan audit across the whole registry — the 100 TB design gates
as executable assertions:

* no row-at-a-time Python UDFs anywhere (BatchEvalPython);
* Arrow/pandas execution only in the operators that genuinely need Python
  (multimodal decode, dense linear algebra);
* dimension joins are broadcast in the star-schema queries;
* predicates reach the parquet scan (PushedFilters).
"""

from __future__ import annotations

import contextlib
import io
import re

import pytest

from youtube_etl_project_spark.operators import fixture_cache
from youtube_etl_project_spark.operators.checkpointing import audit_pins, pin
from youtube_etl_project_spark.registry import load_all_plans

# Queries allowed to run Python at all — each is vectorized (ArrowEvalPython
# / MapInPandas), never row-at-a-time, and each is Python for a reason:
# numpy matmul (similarity/IVF), the stubbed binary decode (multimodal), or
# real BPE merge application (inherently iterative string algorithm — no
# Column-expression equivalent; Arrow-batched with an LRU word cache).
ARROW_ALLOWED = {
    "embed_lsh_ann",
    "embed_ivf_ann",
    "dedup_embed_cosine_lsh",  # hyperplane-LSH bucket keys: numpy matmul
    # (_table_keys_exact_vectorized → grid.snap_np + grid.plane_keys)
    # md5-plane bucket keys: the same map-side Arrow int64 matmul
    # (_md5_bucket_keys_folded → grid.snap_np + grid.plane_keys)
    "dedup_embed_cosine_lsh_md5",
    "embed_lsh_ann_md5",
    "embed_lsh_multiprobe_md5",
    "ann_recall_report",  # embeds embed_lsh_ann_md5's plan verbatim
    "dedup_embed_cosine",  # blocked matmul prefilter + exact-fold verify
    "dedup_hash_embed_cosine",  # same (cosine_pairs_blocked)
    "dedup_ensemble_matrix",  # composes the blocked-matmul cosine pairs
    # the three blocked kernels share _block_cosines' chunked matmul
    "embed_knn_label_accuracy",  # nn_shortlist_blocked + exact re-rank
    "embed_hard_negatives",  # class_nn_shortlist_blocked + exact re-rank
    "multimodal_decode",
    "multimodal_pixel_stats",  # real ppm/bmp/png pixel decode (stdlib+numpy)
    "multimodal_audio_stats",  # real PCM16 WAV decode (stdlib+numpy)
    "multimodal_audio_features",  # same decode kernel, DSP features
    "multimodal_image_ahash",  # real pixel decode -> 32-bit aHash
    "multimodal_ahash_near_dup",  # same decode+aHash kernel, then banding
    "multimodal_video_frame_near_dup",  # same aHash kernel, bounded to
    # DISTINCT frame keys (dedupe-before-decode) + synth payload udf
    "multimodal_frame_sample",
    "text_token_count_bpe",
    "pack_sequences_bpe",
    # (round 8: embed_pca_project / embed_mahalanobis_outliers /
    # source_quality_scorer_r2 left this list — the exact-grid trainers'
    # scoring paths are broadcast model joins in whole-stage codegen, no
    # Python in the plan at all; see plans/exact_linalg.py)
    # (round 7: embed_pq_rmse / adc_topk / rerank_topk left this list —
    # the exact-grid trainer's assignment is a broadcast codebook join in
    # whole-stage codegen, no Python in the plan at all)
    # the SemDeDup within-cell τ test runs as the per-cell Arrow int64
    # matmul kernel (_semantic_pairs_blocked, grid.snap_np at 1e3);
    # exact integers, oracle hashes unchanged
    "dedup_semantic_v1",
    # round 12: the greedy MMR trace over the pinned shortlist runs as
    # ONE per-query Arrow int64 kernel (sims matmul + 5 greedy rounds,
    # all exact grid ints with id tiebreaks) instead of a pinned sims
    # frame + 4 pinned per-round jobs — ~6 job barriers over 10x20
    # rows; unrolled-CTE oracles unchanged (_mmr_greedy_spark)
    "embed_mmr_diversify",
    "embed_ann_mmr_diversify",
}

_ARROW_OPS = ("ArrowEvalPython", "MapInPandas", "FlatMapGroupsInPandas")

# Queries whose returned frame is a memory-sink scan (the streaming
# parity drains): the streaming job itself ran through codegen; the
# handed-back result is a LocalTableScan with no codegen annotation.
CODEGEN_EXEMPT = {
    "streaming_tumbling_parity",
    "streaming_session_parity",
    "streaming_static_join_parity",
    "api_stream_parity",  # memory-sink scan of the drained API stream
}


def _plan(df) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def _cache_misses() -> float:
    return sum(tier["misses"] for tier in fixture_cache.stats().values())


@pytest.fixture(scope="module")
def built(spark, sf_dir):
    # AQE wraps un-executed plans in AdaptiveSparkPlan(isFinalPlan=false),
    # which hides codegen annotations from explain("formatted"); static
    # planning shows them ("codegen id : N") and leaves broadcast/pushdown/
    # Python-stage structure identical for audit purposes.
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        out = {}
        for name, spec in load_all_plans().items():
            # audit_pins records every pin()'s PRE-checkpoint formatted
            # plan: checkpointing truncates lineage, so without this the
            # per-round plans of iterative operators are invisible to
            # every gate below (the r8 kcenter global-window blind spot).
            # A build that misses no fixture cache serves its index and
            # model state warm, so the pins that built it do not run.
            misses = _cache_misses()
            with audit_pins() as pinned:
                df = spec.fn(spark, sf_dir)
            rebuilt = _cache_misses() > misses
            out[name] = (_plan(df), df.schema, list(pinned), rebuilt)
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", "true")
    return out


@pytest.fixture(scope="module")
def plans(built):
    return {n: p for n, (p, _, _, _) in built.items()}


@pytest.fixture(scope="module")
def schemas(built):
    return {n: s for n, (_, s, _, _) in built.items()}


@pytest.fixture(scope="module")
def pre_pin_plans(built):
    """name -> concatenated formatted plans of every pin() the query ran
    at build time (its iterative-loop internals)."""
    return {n: "\n".join(pp) for n, (_, _, pp, _) in built.items() if pp}


@pytest.fixture(scope="module")
def rebuilt(built):
    """Names whose build missed a fixture cache, so it built its cached
    state (and ran that state's pins) in this session."""
    return {n for n, (_, _, _, r) in built.items() if r}


def test_no_row_at_a_time_python_udfs(plans):
    offenders = [n for n, p in plans.items() if "BatchEvalPython" in p]
    assert not offenders, f"row-at-a-time Python UDF in: {offenders}"


def test_python_only_where_vectorized_and_justified(plans):
    offenders = [
        n
        for n, p in plans.items()
        if any(op in p for op in _ARROW_OPS) and n not in ARROW_ALLOWED
    ]
    assert not offenders, f"unexpected Python stages in: {offenders}"


def test_star_schema_queries_broadcast_their_dims(plans):
    for name in (
        "flagship_daily_agg",
        "join_fact_dim",
        "tpch_q3_shipping_priority",
        "tpch_q5_local_supplier",
        "tpch_q10_returned_revenue",
        "tpch_q18_large_orders",
        "tpch_q7_volume_shipping",
        "tpch_q8_market_share",
        "tpch_q9_product_profit",
        "tpch_q19_disjunctive_revenue",
    ):
        assert "BroadcastHashJoin" in plans[name], name


def test_fact_filters_push_to_parquet_scan(plans):
    for name in ("filter_kind", "filter_date_incremental", "filter_notnull"):
        plan = plans[name]
        assert "PushedFilters: [" in plan, name
        pushed = [
            line for line in plan.splitlines() if "PushedFilters" in line
        ]
        assert any(
            "[]" not in line for line in pushed
        ), f"{name}: no predicate reached the scan"


def test_whole_stage_codegen_everywhere(plans):
    # every relational query should have at least one codegen span ("codegen
    # id : N" in formatted explain); a plan with none runs fully interpreted
    missing = [
        n
        for n, p in plans.items()
        if "codegen id" not in p
        and n not in ARROW_ALLOWED
        and n not in CODEGEN_EXEMPT
    ]
    assert not missing, f"no codegen span in: {missing}"


# Queries allowed an unpartitioned Window node — each one's window input is
# bounded by construction (shard-first or model/vocab-sized frames), so the
# single task sees a small, fixed-size partition, never the full dataset:
#   pack_sequences / pack_sequences_bpe — greedy packing is per-SHARD (the
#       docstrings name the shard-first plan); the window runs inside a
#       shard, not across the corpus.
#   text_zipf_fit — ranks the VOCABULARY aggregate (vocab-sized, not
#       corpus-sized).
#   text_quality_auc — cumulative over DISTINCT score values (score-grid-
#       sized).
# Everything else must rank/tile via operators/ranking.global_rank (range
# shuffle + per-partition offsets) or partitioned windows — an
# unpartitioned WindowExec serializes the whole frame through ONE task.
#   events_ab_chi2 — the grand/row/col totals run over the CONTINGENCY
#       GRID (distinct event types x 2 variants), a domain-bounded frame.
#   events_gap_fill_ffill — forward-fill is inherently sequential over the
#       DAILY aggregate (calendar-day-sized, ~10^3-10^4 rows at any scale).
GLOBAL_WINDOW_ALLOWED = {
    "pack_sequences",
    "pack_sequences_bpe",
    "text_zipf_fit",
    "text_quality_auc",
    "events_ab_chi2",
    "events_gap_fill_ffill",
}

_WSPEC = re.compile(r"windowspecdefinition\((.*?)specifiedwindowframe")


def _unpartitioned_window(plan: str) -> bool:
    # Inside windowspecdefinition(...), everything before specifiedwindowframe
    # is "partition cols, order cols": partition cols are bare attribute refs,
    # order cols carry ASC/DESC. An UNPARTITIONED window therefore starts
    # with either specifiedwindowframe directly (no partition, no order) or
    # with a sort spec (probed empirically; matches WindowExec's "No
    # Partition Defined" warning).
    for m in _WSPEC.finditer(plan):
        prefix = m.group(1).strip().rstrip(",")
        if not prefix:
            return True
        first = prefix.split(",")[0]
        if " ASC" in first or " DESC" in first:
            return True
    return False


def test_no_unpartitioned_window_exec(plans):
    offenders = [
        n
        for n, p in plans.items()
        if _unpartitioned_window(p) and n not in GLOBAL_WINDOW_ALLOWED
    ]
    assert not offenders, (
        f"single-partition global window (WindowExec: No Partition Defined) "
        f"in: {offenders} — use operators/ranking.global_rank / exact_ntile_multi "
        f"or a partitioned window instead"
    )


def test_no_comparator_hostile_output_columns(schemas):
    # The driver's comparator canonicalizes results by pandas
    # sort_values over EVERY output column: list/dict cells throw
    # `unhashable type: 'list'` (measured: user_recent_history ERR in
    # history/CORRECTNESS_r07.json) and Decimal cells canonicalize
    # differently from our local replica (both r5 hash-fails). No
    # registered plan may emit a top-level
    # ArrayType/MapType/StructType/DecimalType/BinaryType column —
    # serialize collections to delimited strings (array_join) or explode
    # to rows; report exact big integers as digit strings.
    from pyspark.sql.types import (
        ArrayType,
        BinaryType,
        DecimalType,
        MapType,
        StructType,
    )

    banned = (ArrayType, MapType, StructType, DecimalType, BinaryType)
    offenders = {
        n: [f"{f.name}:{f.dataType.simpleString()}" for f in s.fields
            if isinstance(f.dataType, banned)]
        for n, s in schemas.items()
    }
    offenders = {n: cols for n, cols in offenders.items() if cols}
    assert not offenders, (
        f"driver-comparator-hostile output columns in: {offenders} — "
        f"serialize arrays/structs to strings (array_join/concat_ws, "
        f"to_json only if key order is pinned), explode to rows, or cast "
        f"decimals to double/bigint/digit-string before returning"
    )


def test_no_cartesian_product_exec(plans):
    # crossJoin against a broadcast one-row/model-sized dim compiles to
    # BroadcastNestedLoopJoin (bounded build side — fine); a
    # CartesianProductExec means BOTH sides are data-sized and the join
    # is n*m — never acceptable in a registered plan.
    offenders = [n for n, p in plans.items() if "CartesianProduct" in p]
    assert not offenders, f"data-sized cartesian product in: {offenders}"


# ---------------------------------------------------------------------------
# Pre-pin plan gates (round 9). pin() truncates lineage, so the per-round
# plans of every iterative operator are invisible to the gates above — the
# r8 kcenter corpus-sized global-window argmax shipped exactly through that
# blind spot. audit_pins() (operators/checkpointing.py) records each pin's
# PRE-checkpoint formatted plan at build time; the same structural gates run
# over those here, keyed by the registered query that executed the pin.

# Queries whose PINNED stages legitimately contain an unpartitioned window:
# each window input is bounded by construction (model-/shortlist-sized),
# mirroring GLOBAL_WINDOW_ALLOWED for top-level plans.
PRE_PIN_GLOBAL_WINDOW_ALLOWED: set = set()

# Queries whose PINNED stages legitimately run vectorized Python —
# enumerated explicitly (NOT a copy of ARROW_ALLOWED: a query justified
# for a top-level Arrow kernel does not automatically earn amnesty for
# Python stages hidden inside its pins — ADVICE r9). Today that is the
# graph-ANN family, whose pinned edge list is built by the per-cell
# Arrow int64 k-NN kernel (plans/graph_ann._knn_parts_blocked).
PRE_PIN_ARROW_ALLOWED = {
    "embed_nsw_ann",
    # k-NN build kernel + the per-src α-prune kernel (both bounded groups)
    "embed_nsw_alpha_ann",
    # round 11: the online-ingest row's bootstrap runs the bounded k-NN
    # build kernel on batch 1 (nsw_graph_from_vectors) before nsw_insert
    "embed_nsw_online_ingest_ann",
    # round 12: dedup_semantic's pair frame (the per-cell Arrow τ-test
    # kernel, _semantic_pairs_blocked) feeds connected_components, whose
    # iteration pins it — the kernel therefore surfaces pre-pin here;
    # dedup_semantic's pinned assignment and text_topic_clusters' pinned
    # cluster frame run the kmeans_assign_arrow matmul kernel
    "dedup_semantic",
    "text_topic_clusters",
}


def test_no_row_at_a_time_python_udfs_inside_pins(pre_pin_plans):
    offenders = [
        n for n, p in pre_pin_plans.items() if "BatchEvalPython" in p
    ]
    assert not offenders, f"row-at-a-time Python UDF inside pin() in: {offenders}"


def test_python_inside_pins_only_where_justified(pre_pin_plans):
    offenders = [
        n
        for n, p in pre_pin_plans.items()
        if any(op in p for op in _ARROW_OPS)
        and n not in PRE_PIN_ARROW_ALLOWED
    ]
    assert not offenders, f"unexpected Python stages inside pin() in: {offenders}"


def test_arrow_allowlists_name_live_arrow_queries(
    plans, pre_pin_plans, rebuilt
):
    """Every ARROW_ALLOWED entry names a registered query whose plan holds
    an Arrow node, and every PRE_PIN_ARROW_ALLOWED entry one whose pre-pin
    plans do: an entry that excuses nothing is stale. A pre-pin entry is
    judged only when its build missed a fixture cache; one served from
    caches an earlier test warmed ran no build pins to show."""

    def arrow(plan: str) -> bool:
        return any(op in plan for op in _ARROW_OPS)

    stale = sorted(n for n in ARROW_ALLOWED if not arrow(plans.get(n, "")))
    stale += sorted(
        f"{n} (pre-pin)"
        for n in PRE_PIN_ARROW_ALLOWED
        if n in rebuilt and not arrow(pre_pin_plans.get(n, ""))
    )
    assert not stale, f"allowlist entries with no Arrow node: {stale}"


def test_no_unpartitioned_window_inside_pins(pre_pin_plans):
    offenders = [
        n
        for n, p in pre_pin_plans.items()
        if _unpartitioned_window(p)
        and n not in PRE_PIN_GLOBAL_WINDOW_ALLOWED
        and n not in GLOBAL_WINDOW_ALLOWED
    ]
    assert not offenders, (
        f"single-partition global window inside a pinned stage of: "
        f"{offenders} — use orderBy().limit(k) (TakeOrderedAndProject) "
        f"or a partitioned window for per-round argmax"
    )


def test_no_cartesian_product_inside_pins(pre_pin_plans):
    offenders = [
        n for n, p in pre_pin_plans.items() if "CartesianProduct" in p
    ]
    assert not offenders, f"cartesian product inside pin() in: {offenders}"


def test_audit_catches_planted_global_window_inside_pin(spark, sf_dir):
    # Regression for the r8 blind spot itself: a deliberately-planted
    # corpus-sized unpartitioned window, hidden behind a pin(), MUST be
    # visible to the detector via audit_pins().
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from youtube_etl_project_spark.sources import load_table

    emb = load_table(spark, sf_dir, "embeddings").select("vec_id")
    w = Window.orderBy(F.desc("vec_id"))
    bad = emb.withColumn("rn", F.row_number().over(w)).filter(
        F.col("rn") == 1
    )
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        with audit_pins() as pinned:
            pin(bad)
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", "true")
    assert pinned and _unpartitioned_window("\n".join(pinned)), (
        "audit_pins failed to record/flag a planted global window "
        "inside a pinned frame"
    )

"""Serving-pipeline monitoring: distribution drift between two embedding
cohorts, exactly (reference `azure-functions/function_app.py:275-528`
schedules the reference's pipeline daily — the production question after
"did today's batch load" is "does today's batch still look like the
corpus the models were built on").

Three queries: per-dimension histogram drift over embedding cohorts
(``embed_drift_report``), the exact two-sample Kolmogorov–Smirnov
test over event-value cohorts (``events_ab_ks``) — the
distribution-level member of the experimentation stack
(t/chi²/CUPED/Mann-Whitney in ``plans/analytics7.py`` compare moments
and ranks; KS compares the whole CDF) — and the join-key skew
diagnostics report (``join_skew_report``, backed by
``operators/skew.key_skew_report``), the pre-flight a 100 TB join runs
before choosing between plain shuffle, AQE skew split, and explicit
salting.

Drift is reported per dimension as total-variation distance and the
worst single bin (L∞) over a fixed integer histogram. Both metrics stay
in exact integer arithmetic end-to-end (decimal(38,0) on the Spark
side, HUGEINT in the oracle — int64 would wrap silently once a cohort
passes ~3e9 values) — counts are integers, and the
cross-cohort comparison multiplies counts by the opposite cohort's total
instead of dividing into float frequencies — so the report hash-matches
its DuckDB oracle bit for bit (no PSI-style logarithms, whose libm/JVM
last-ulp disagreement would break the value-hash gate; TVD and L∞ carry
the same monitoring signal and are exactly computable)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from youtube_etl_project_spark.operators.grid import GRID, snap
from youtube_etl_project_spark.registry import register
from youtube_etl_project_spark.sources import load_table

_DIM = 64
_BINS = 8
_SPAN = 500_000  # fixture embeddings live in ~[-0.5, 0.5); edges clamp


@register(
    "embed_drift_report",
    oracle=f"""
        WITH vals AS (
            SELECT e.label % 2 AS grp, u.pos - 1 AS dim,
                   CAST(FLOOR(CAST(u.v AS DOUBLE) * {GRID} + 0.5)
                        AS BIGINT) AS q
            FROM embeddings e CROSS JOIN LATERAL (
                SELECT unnest(e.embedding) AS v,
                       generate_subscripts(e.embedding, 1) AS pos
            ) AS u
        ), binned AS (
            SELECT grp, dim,
                   ((LEAST({_SPAN - 1}, GREATEST(-{_SPAN}, q)) + {_SPAN})
                    * {_BINS}) // {2 * _SPAN} AS bin
            FROM vals
        ), c AS (
            SELECT dim, bin,
                   SUM(CASE WHEN grp = 0 THEN 1 ELSE 0 END) AS c_ref,
                   SUM(CASE WHEN grp = 1 THEN 1 ELSE 0 END) AS c_cur
            FROM binned GROUP BY dim, bin
        ), spine AS (
            SELECT r.range // {_BINS} AS dim, r.range % {_BINS} AS bin
            FROM range({_DIM * _BINS}) r
        ), filled AS (
            SELECT s.dim, s.bin,
                   CAST(COALESCE(c.c_ref, 0) AS BIGINT) AS c_ref,
                   CAST(COALESCE(c.c_cur, 0) AS BIGINT) AS c_cur
            FROM spine s LEFT JOIN c ON c.dim = s.dim AND c.bin = s.bin
        ), tot AS (
            SELECT dim,
                   CAST(SUM(c_ref) AS BIGINT) AS n_ref,
                   CAST(SUM(c_cur) AS BIGINT) AS n_cur
            FROM filled GROUP BY dim
        )
        , agg AS (
            SELECT f.dim, t.n_ref, t.n_cur,
                   CAST(SUM(ABS(CAST(f.c_ref AS HUGEINT)
                                    * CAST(t.n_cur AS HUGEINT)
                                - CAST(f.c_cur AS HUGEINT)
                                    * CAST(t.n_ref AS HUGEINT)))
                        AS DECIMAL(38,0)) AS tvd_num,
                   CAST(MAX(ABS(CAST(f.c_ref AS HUGEINT)
                                    * CAST(t.n_cur AS HUGEINT)
                                - CAST(f.c_cur AS HUGEINT)
                                    * CAST(t.n_ref AS HUGEINT)))
                        AS DECIMAL(38,0)) AS linf_num
            FROM filled f JOIN tot t ON t.dim = f.dim
            GROUP BY f.dim, t.n_ref, t.n_cur
        )
        SELECT dim, n_ref, n_cur,
               CAST(tvd_num AS VARCHAR) AS tvd_num,
               CAST(linf_num AS VARCHAR) AS linf_num,
               CAST(tvd_num AS DOUBLE)
                   / (2.0 * CAST(n_ref AS DOUBLE) * CAST(n_cur AS DOUBLE))
                   AS tvd
        FROM agg
    """,
    doc="Per-dimension distribution drift between the even-label cohort "
        "(reference snapshot) and the odd-label cohort (current batch): "
        f"{_BINS}-bin fixed histogram on the 1e6 fixed-point grid, "
        "total-variation distance plus the worst single bin (L∞), all in "
        "exact decimal(38,0) arithmetic (|c_ref·N_cur − c_cur·N_ref| — "
        "overflow-safe past int64's ~3e9-value ceiling, never "
        "float frequencies), one final exact-operand double division for "
        "the headline tvd. Plan: posexplode map-side → two tiny rollups "
        f"(dim×bin = {_DIM * _BINS} rows, then dim), zero-count bins "
        "restored by a broadcast range spine — no cartesian, no window. "
        "At 100 TB the report costs one pass over the vectors and "
        "shuffles only the 512-row histogram; the drift gate a serving "
        "team thresholds before promoting a new corpus snapshot",
)
def embed_drift_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    return drift_report(
        emb.select((F.col("label") % 2).alias("grp"), "embedding"),
        dims=_DIM,
        bins=_BINS,
        scale=GRID,
        span=_SPAN,
    )


def drift_report(
    cohorts: DataFrame,
    *,
    dims: int,
    bins: int,
    scale: int,
    span: int,
) -> DataFrame:
    """TVD/L∞ histogram drift between cohort 0 (reference) and cohort 1
    (current) of ``cohorts(grp int, embedding array<float>)``. All
    arithmetic below the single final division is exact integer —
    decimal(38,0) for the cross-multiplied numerators — see the module
    docstring for why (value-hash oracle parity + int64 overflow)."""
    spark = cohorts.sparkSession
    vals = cohorts.select(
        "grp",
        F.posexplode("embedding").alias("dim", "vf"),
    ).select(
        "grp",
        F.col("dim").cast("long").alias("dim"),
        snap(F.col("vf"), scale).alias("q"),
    )
    binned = vals.select(
        "grp",
        "dim",
        F.expr(
            f"((least({span - 1}, greatest(-{span}, q)) + {span})"
            f" * {bins}) div {2 * span}"
        ).alias("bin"),
    )
    counts = binned.groupBy("dim", "bin").agg(
        F.sum(F.when(F.col("grp") == 0, 1).otherwise(0))
        .cast("long")
        .alias("c_ref0"),
        F.sum(F.when(F.col("grp") == 1, 1).otherwise(0))
        .cast("long")
        .alias("c_cur0"),
    )
    spine = spark.range(dims * bins).select(
        F.expr(f"id div {bins}").alias("dim"),
        (F.col("id") % bins).alias("bin"),
    )
    filled = (
        spine.join(counts, ["dim", "bin"], "left")
        .select(
            "dim",
            "bin",
            F.coalesce("c_ref0", F.lit(0)).cast("long").alias("c_ref"),
            F.coalesce("c_cur0", F.lit(0)).cast("long").alias("c_cur"),
        )
    )
    tot = filled.groupBy("dim").agg(
        F.sum("c_ref").cast("long").alias("n_ref"),
        F.sum("c_cur").cast("long").alias("n_cur"),
    )
    # decimal(20,0) operands keep c_ref·N_cur exact to 1e38 (int64 wraps
    # silently once a cohort passes ~3e9 values); the oracle mirrors the
    # products in HUGEINT and both emit DECIMAL(38,0) numerators.
    diff = filled.join(F.broadcast(tot), "dim").select(
        "dim",
        "n_ref",
        "n_cur",
        F.abs(
            F.col("c_ref").cast("decimal(20,0)")
            * F.col("n_cur").cast("decimal(20,0)")
            - F.col("c_cur").cast("decimal(20,0)")
            * F.col("n_ref").cast("decimal(20,0)")
        ).alias("d"),
    )
    out = diff.groupBy("dim", "n_ref", "n_cur").agg(
        F.sum("d").cast("decimal(38,0)").alias("tvd_num"),
        F.max("d").cast("decimal(38,0)").alias("linf_num"),
    )
    # The exact numerators are REPORTED as digit strings, not decimal
    # columns: lossless at any scale, and engine-neutral under the
    # driver's value comparator (round 5 measured: the only two window
    # queries with decimal(38,0) OUTPUT columns hash-mismatched on the
    # driver while every local comparison — tuned AND vanilla session —
    # was bit-identical; all arithmetic stays decimal internally).
    return out.select(
        "dim",
        "n_ref",
        "n_cur",
        F.col("tvd_num").cast("string").alias("tvd_num"),
        F.col("linf_num").cast("string").alias("linf_num"),
        (
            F.col("tvd_num").cast("double")
            / (
                F.lit(2.0)
                * F.col("n_ref").cast("double")
                * F.col("n_cur").cast("double")
            )
        ).alias("tvd"),
    )


@register(
    "events_ab_ks",
    oracle="""
        WITH ab AS (
            SELECT value,
                   CASE WHEN event_type = 'view' THEN 1 ELSE 0 END AS is_a
            FROM events
            WHERE event_type IN ('view', 'click') AND value IS NOT NULL
        ), pts AS (
            SELECT value,
                   CAST(SUM(is_a) AS BIGINT) AS na_here,
                   CAST(SUM(1 - is_a) AS BIGINT) AS nb_here
            FROM ab GROUP BY value
        ), cum AS (
            SELECT value,
                   CAST(SUM(na_here) OVER (ORDER BY value
                        ROWS UNBOUNDED PRECEDING) AS BIGINT) AS ra,
                   CAST(SUM(nb_here) OVER (ORDER BY value
                        ROWS UNBOUNDED PRECEDING) AS BIGINT) AS rb
            FROM pts
        ), tot AS (
            SELECT CAST(SUM(na_here) AS BIGINT) AS na,
                   CAST(SUM(nb_here) AS BIGINT) AS nb
            FROM pts
        ), diffs AS (
            SELECT c.value,
                   ABS(CAST(c.ra AS HUGEINT) * CAST(t.nb AS HUGEINT)
                       - CAST(c.rb AS HUGEINT) * CAST(t.na AS HUGEINT))
                       AS dd,
                   t.na, t.nb
            FROM cum c, tot t
        ), stat AS (
            SELECT na, nb, CAST(MAX(dd) AS DECIMAL(38,0)) AS d_num
            FROM diffs GROUP BY na, nb
        )
        SELECT s.na, s.nb,
               CAST(s.d_num AS VARCHAR) AS d_num,
               (SELECT MIN(d.value) FROM diffs d
                WHERE CAST(d.dd AS DECIMAL(38,0)) = s.d_num) AS ks_at,
               CAST(s.d_num AS DOUBLE)
                   / (CAST(s.na AS DOUBLE) * CAST(s.nb AS DOUBLE)) AS d,
               CAST(s.d_num AS DOUBLE)
                   / (CAST(s.na AS DOUBLE) * CAST(s.nb AS DOUBLE))
                   * SQRT(CAST(s.na AS DOUBLE) * CAST(s.nb AS DOUBLE)
                          / (CAST(s.na AS DOUBLE) + CAST(s.nb AS DOUBLE)))
                   AS ks_scaled
        FROM stat s
    """,
    doc="Exact two-sample Kolmogorov–Smirnov test (view vs click event "
        "values): D = max_x |ECDF_a(x) − ECDF_b(x)|, evaluated at every "
        "observed point with the cross-multiplied integer form "
        "|r_a·N_b − r_b·N_a| in decimal(38,0)/HUGEINT so the max and its "
        "location are exact past int64's ~3e9-row-cohort ceiling; the headline D and the √(n_a·n_b/(n_a+n_b))-scaled "
        "statistic are two exact-operand IEEE steps both engines round "
        "identically. Plan: one shuffle groups duplicates per value, "
        "then operators/ranking.global_prefix_sum — the weighted "
        "generalization of the two-pass distributed rank (range shuffle "
        "→ pinned partitions → per-partition totals as bounded driver "
        "offsets → partition-local running sums) — so there is NO "
        "unpartitioned window anywhere, unlike the textbook "
        "SUM() OVER (ORDER BY value) form which drags the full CDF "
        "through one task. The 100 TB answer to 'did this week's value "
        "distribution shift' at CDF level, complementing the moment- and "
        "rank-based tests in the experimentation stack",
)
def events_ab_ks(spark: SparkSession, sf_dir: str) -> DataFrame:
    from youtube_etl_project_spark.operators.checkpointing import pin
    from youtube_etl_project_spark.operators.ranking import (
        global_prefix_sum,
    )

    ev = load_table(spark, sf_dir, "events")
    # NULL values are excluded explicitly on BOTH engines: an ECDF over
    # NULL is meaningless, and Spark's asc() sorts NULLS FIRST while the
    # oracle's window ORDER BY defaults NULLS LAST — unfiltered, one NULL
    # would shift every cumulative count on one engine only.
    ab = ev.filter(
        F.col("event_type").isin("view", "click")
        & F.col("value").isNotNull()
    ).select(
        "value",
        F.when(F.col("event_type") == "view", 1).otherwise(0).alias("is_a"),
    )
    pts = ab.groupBy("value").agg(
        F.sum("is_a").cast("long").alias("na_here"),
        F.sum(F.lit(1) - F.col("is_a")).cast("long").alias("nb_here"),
    )
    pts = pin(pts)  # consumed by the prefix-sum AND the totals job
    cum = global_prefix_sum(
        pts, [F.col("value").asc()], ["na_here", "nb_here"]
    )
    tot = pts.agg(
        F.sum("na_here").cast("long").alias("na"),
        F.sum("nb_here").cast("long").alias("nb"),
    )
    # decimal(38,0) cross-multiplication: ra·N_b reaches ~N_a·N_b, which
    # overflows int64 once each cohort passes ~3e9 rows — far below the
    # scale this test targets. decimal(20,0) operands keep the product
    # exact to 1e38 on Spark; the oracle mirrors with HUGEINT.
    diffs = cum.crossJoin(F.broadcast(tot)).select(
        "value",
        F.abs(
            F.col("na_here_cum").cast("decimal(20,0)")
            * F.col("nb").cast("decimal(20,0)")
            - F.col("nb_here_cum").cast("decimal(20,0)")
            * F.col("na").cast("decimal(20,0)")
        ).alias("dd"),
        "na",
        "nb",
    )
    diffs = pin(diffs)  # consumed by the max AND the argmax jobs
    stat = diffs.groupBy("na", "nb").agg(
        F.max("dd").cast("decimal(38,0)").alias("d_num")
    )
    loc = (
        diffs.join(
            F.broadcast(stat.select("d_num")),
            F.col("dd").cast("decimal(38,0)") == F.col("d_num"),
        )
        .agg(F.min("value").alias("ks_at"))
    )
    # headline doubles: every operand enters the double domain FIRST and
    # the expressions associate identically on both engines (na·nb as a
    # bigint product would itself overflow at ~3e9-row cohorts)
    na_d = F.col("na").cast("double")
    nb_d = F.col("nb").cast("double")
    d_expr = F.col("d_num").cast("double") / (na_d * nb_d)
    # d_num reported as a digit string (see drift_report: decimal OUTPUT
    # columns hash-mismatch under the driver's comparator; internal
    # arithmetic stays decimal(38,0)).
    return stat.crossJoin(F.broadcast(loc)).select(
        "na",
        "nb",
        F.col("d_num").cast("string").alias("d_num"),
        "ks_at",
        d_expr.alias("d"),
        (d_expr * F.sqrt(na_d * nb_d / (na_d + nb_d))).alias("ks_scaled"),
    )


@register(
    "join_skew_report",
    oracle="""
        WITH counts AS (
            SELECT user_id AS key, CAST(COUNT(*) AS BIGINT) AS cnt
            FROM events GROUP BY user_id
        ), tot AS (
            SELECT CAST(SUM(cnt) AS BIGINT) AS n_rows,
                   CAST(COUNT(*) AS BIGINT) AS n_keys,
                   CAST(MAX(cnt) AS BIGINT) AS max_cnt
            FROM counts
        ), top AS (
            SELECT key, cnt FROM counts
            ORDER BY cnt DESC, key NULLS FIRST LIMIT 20
        ), ranked AS (
            SELECT t1.key, t1.cnt, CAST(COUNT(*) AS BIGINT) AS rank
            FROM top t1 JOIN top t2
              ON t2.cnt > t1.cnt
                 OR (t2.cnt = t1.cnt
                     AND (t2.key IS NULL
                          OR (t1.key IS NOT NULL AND t2.key <= t1.key)))
            GROUP BY t1.key, t1.cnt
        )
        SELECT r.key, r.cnt, r.rank, t.n_rows, t.n_keys, t.max_cnt,
               (r.cnt * 1000000) // t.n_rows AS share_ppm,
               (r.cnt * 32 + t.n_rows - 1) // t.n_rows AS salt_factor
        FROM ranked r, tot t
    """,
    doc="Pre-flight skew diagnostics for the events.user_id fact-dim "
        "join key (the key streaming_static_join_parity and "
        "join_fact_dim shuffle or broadcast on): top-20 hottest keys "
        "with exact rank (count DESC, key ASC total order), per-key "
        "count, share of the table in ppm, table summary (n_rows / "
        "n_keys / max_cnt), and the integer salt_factor = "
        "ceil(cnt·32/n_rows) each hot key would need in "
        "operators/skew.salted_join so no reducer holds more than "
        "~1/32 of the rows. All exact bigint arithmetic. Plan: one "
        "map-side-combined count is the only full-data pass; the top-k "
        "is TakeOrderedAndProject (O(k) per partition, no global sort); "
        "rank is a broadcast 20-row triangular self-join; the summary "
        "broadcasts back. The report a 100 TB join runs BEFORE choosing "
        "between plain shuffle, AQE skew split, and explicit salting",
)
def join_skew_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    from youtube_etl_project_spark.operators.skew import key_skew_report

    ev = load_table(spark, sf_dir, "events")
    return key_skew_report(
        ev, "user_id", top_k=20, target_partitions=32
    )


@register(
    "events_quantile_normalize",
    oracle="""
        WITH ev AS (
            SELECT event_id, event_type, value
            FROM events WHERE value IS NOT NULL
        ), pooled AS (
            SELECT value AS norm_value,
                   ROW_NUMBER() OVER (ORDER BY value, event_id) AS grank
            FROM ev
        ), tot AS (
            SELECT CAST(COUNT(*) AS BIGINT) AS n FROM ev
        ), wr AS (
            SELECT event_type,
                   CAST(ROW_NUMBER() OVER (PARTITION BY event_type
                        ORDER BY value, event_id) AS BIGINT) AS r,
                   CAST(COUNT(*) OVER (PARTITION BY event_type)
                        AS BIGINT) AS n_g
            FROM ev
        ), t AS (
            SELECT event_type,
                   CAST(FLOOR((2 * r - 1) / (2.0 * n_g)
                              * CAST(tot.n AS DOUBLE)) AS BIGINT) + 1
                       AS trank,
                   tot.n
            FROM wr, tot
        ), j AS (
            SELECT t.event_type, t.trank, t.n, p.norm_value
            FROM t JOIN pooled p ON p.grank = t.trank
        )
        SELECT event_type,
               CAST((trank - 1) * 10 // n AS BIGINT) AS decile,
               CAST(COUNT(*) AS BIGINT) AS n_rows,
               MIN(norm_value) AS min_norm,
               MAX(norm_value) AS max_norm
        FROM j GROUP BY 1, 2
    """,
    doc="Quantile normalization across event-type cohorts — the "
        "batch-effect remover a corpus team applies when quality scores "
        "from different sources/scorers must share one scale before a "
        "global threshold sweep: each row's within-cohort quantile "
        "position (r−0.5)/n_g maps to the pooled value at the same "
        "quantile, so every cohort's distribution becomes the pooled "
        "one exactly. Normalized values are RAW pooled doubles (looked "
        "up by rank, never arithmetic), so the per-decile min/max "
        "report is float-exact with zero summation; the target rank is "
        "one shared double expression with identical association on "
        "both engines. Plan: the pooled ranking and the target lookup "
        "both run operators/ranking.global_rank (range shuffle, pinned "
        "partitions, NO unpartitioned window — the oracle's plain "
        "ROW_NUMBER() OVER (ORDER BY) would drag 100 TB through one "
        "task); within-cohort ranks are properly partitioned windows. "
        "Output: per (cohort, decile) row count and the normalized "
        "min/max — equal across cohorts per decile IS the "
        "normalization working",
)
def events_quantile_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    from youtube_etl_project_spark.operators.ranking import global_rank

    ev = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("value").isNotNull())
        .select("event_id", "event_type", "value")
    )
    pooled, n_total = global_rank(
        ev, [F.col("value").asc(), F.col("event_id").asc()], "grank"
    )
    lookup = pooled.select(
        F.col("grank").alias("trank"), F.col("value").alias("norm_value")
    )
    wpart = Window.partitionBy("event_type")
    wr = ev.select(
        "event_type",
        F.row_number()
        .over(wpart.orderBy(F.col("value").asc(), F.col("event_id").asc()))
        .cast("long")
        .alias("r"),
        F.count(F.lit(1)).over(wpart).cast("long").alias("n_g"),
    )
    t = wr.select(
        "event_type",
        (
            F.floor(
                (F.lit(2) * F.col("r") - F.lit(1))
                / (F.lit(2.0) * F.col("n_g"))
                * F.lit(n_total).cast("double")
            ).cast("long")
            + F.lit(1)
        ).alias("trank"),
    )
    j = t.join(lookup, "trank")
    return (
        j.select(
            "event_type",
            F.expr(f"(trank - 1) * 10 div {n_total}")
            .cast("long")
            .alias("decile"),
            "norm_value",
        )
        .groupBy("event_type", "decile")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_rows"),
            F.min("norm_value").alias("min_norm"),
            F.max("norm_value").alias("max_norm"),
        )
    )

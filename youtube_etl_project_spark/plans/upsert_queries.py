"""Oracle-checked queries for the merge operators (SURVEY §2a J2/J3).

The engine-side implementations live in ``operators/upsert.py``; here they
run on derived target/source DataFrames built from the fixture tables so
DuckDB can compute the equivalent result relationally.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from youtube_etl_project_spark.operators.upsert import (
    insert_only_merge,
    merge_upsert,
)
from youtube_etl_project_spark.registry import register
from youtube_etl_project_spark.sources import load_table


@register(
    "merge_upsert_dim",
    oracle="""
        SELECT COALESCE(s.c_custkey, t.c_custkey) AS c_custkey,
               COALESCE(s.c_name, t.c_name) AS c_name,
               CASE WHEN s.c_custkey IS NOT NULL THEN s.c_acctbal
                    ELSE t.c_acctbal END AS c_acctbal
        FROM (SELECT c_custkey, c_name, c_acctbal + 100 AS c_acctbal
              FROM customer WHERE c_custkey % 2 = 0) s
        FULL OUTER JOIN
             (SELECT c_custkey, c_name, c_acctbal
              FROM customer WHERE c_custkey % 3 <> 0) t
        ON s.c_custkey = t.c_custkey
    """,
    doc="J2: MERGE upsert (matched→update, not matched→insert; SL:86-104) "
        "as a full-outer join-rewrite on plain parquet",
)
def merge_upsert_dim(spark: SparkSession, sf_dir: str) -> DataFrame:
    customer = load_table(spark, sf_dir, "customer")
    target = customer.filter(F.col("c_custkey") % 3 != 0).select(
        "c_custkey", "c_name", "c_acctbal"
    )
    source = customer.filter(F.col("c_custkey") % 2 == 0).select(
        "c_custkey",
        "c_name",
        (F.col("c_acctbal") + 100).alias("c_acctbal"),
    )
    return merge_upsert(target, source, ["c_custkey"])


@register(
    "merge_insert_only",
    oracle="""
        SELECT o_orderkey, o_totalprice FROM orders WHERE o_orderkey % 4 <> 0
        UNION ALL
        SELECT o_orderkey, o_totalprice * 2 AS o_totalprice
        FROM orders WHERE o_orderkey % 4 = 0
    """,
    doc="J3: insert-only MERGE — target rows immutable, only new keys append "
        "(FA:439-482); left-anti + unionByName",
)
def merge_insert_only(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    target = orders.filter(F.col("o_orderkey") % 4 != 0).select(
        "o_orderkey", "o_totalprice"
    )
    # Source overlaps target with *different* values — the merge must keep
    # target's originals and insert only the unmatched keys.
    source = orders.select(
        "o_orderkey", (F.col("o_totalprice") * 2).alias("o_totalprice")
    )
    return insert_only_merge(target, source, ["o_orderkey"])


@register(
    "scd2_upsert_customers",
    oracle="""
        WITH src AS (
            SELECT c_custkey, c_acctbal + 100.0 AS c_acctbal, c_mktsegment,
                   DATE '2001-06-01' AS eff
            FROM customer WHERE c_custkey % 10 = 0
        )
        SELECT t.c_custkey, t.c_acctbal, t.c_mktsegment,
               DATE '2000-01-01' AS valid_from,
               CASE WHEN s.c_custkey IS NOT NULL THEN s.eff END AS valid_to
        FROM customer t LEFT JOIN src s ON t.c_custkey = s.c_custkey
        UNION ALL
        SELECT c_custkey, c_acctbal, c_mktsegment, eff AS valid_from,
               CAST(NULL AS DATE) AS valid_to
        FROM src
    """,
    doc="J2 extension: type-2 SCD MERGE (history-preserving upsert) — "
        "changed keys get their current version closed (valid_to = "
        "effective date) plus a fresh open version; unchanged rows pass "
        "through untouched. Target = customers as of 2000-01-01; source = "
        "every 10th customer with a shifted balance effective 2001-06-01. "
        "One key-shuffle full-outer join; history rows never re-join",
)
def scd2_upsert_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    from youtube_etl_project_spark.operators.upsert import scd2_upsert

    customer = load_table(spark, sf_dir, "customer")
    target = customer.select(
        "c_custkey",
        "c_acctbal",
        "c_mktsegment",
        F.lit("2000-01-01").cast("date").alias("valid_from"),
        F.lit(None).cast("date").alias("valid_to"),
    )
    source = customer.filter(F.col("c_custkey") % 10 == 0).select(
        "c_custkey",
        (F.col("c_acctbal") + 100.0).alias("c_acctbal"),
        "c_mktsegment",
        F.lit("2001-06-01").cast("date").alias("eff"),
    )
    return scd2_upsert(
        target,
        source,
        keys=["c_custkey"],
        attrs=["c_acctbal", "c_mktsegment"],
        effective="eff",
    )


@register(
    "cdc_apply_latest",
    oracle="""
        WITH feed AS (
            SELECT o_custkey, o_orderkey,
                   CAST(o_totalprice AS DECIMAL(18,4)) AS price,
                   CAST(o_orderdate AS DATE) AS d,
                   CASE WHEN substr(md5(CAST(o_orderkey AS VARCHAR)), 1, 1)
                             IN ('0', '1') THEN 'D' ELSE 'U' END AS op
            FROM orders
        ), ranked AS (
            SELECT *,
                   ROW_NUMBER() OVER (PARTITION BY o_custkey
                                      ORDER BY d DESC, o_orderkey DESC)
                       AS rn
            FROM feed
        )
        SELECT o_custkey,
               o_orderkey AS last_orderkey,
               CAST(price AS DOUBLE) AS last_price,
               d AS last_date
        FROM ranked
        WHERE rn = 1 AND op <> 'D'
    """,
    doc="CDC apply (J2's log-structured twin): treat each order row as a "
        "change event (op derived md5-deterministically so both engines "
        "see the same feed, ~12% deletes), keep only the LATEST op per "
        "key, and drop keys whose latest op is a delete tombstone — the "
        "snapshot materialization every CDC ingest (Debezium-style) "
        "needs. One window shuffle on the key; deterministic (date, "
        "orderkey) ordering",
)
def cdc_apply_latest(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    orders = load_table(spark, sf_dir, "orders")
    feed = orders.select(
        "o_custkey",
        "o_orderkey",
        F.col("o_totalprice").cast("decimal(18,4)").alias("price"),
        F.to_date("o_orderdate").alias("d"),
        F.when(
            F.substring(F.md5(F.col("o_orderkey").cast("string")), 1, 1).isin(
                "0", "1"
            ),
            "D",
        )
        .otherwise("U")
        .alias("op"),
    )
    w = Window.partitionBy("o_custkey").orderBy(
        F.desc("d"), F.desc("o_orderkey")
    )
    return (
        feed.withColumn("rn", F.row_number().over(w))
        .filter((F.col("rn") == 1) & (F.col("op") != "D"))
        .select(
            "o_custkey",
            F.col("o_orderkey").alias("last_orderkey"),
            F.col("price").cast("double").alias("last_price"),
            F.col("d").alias("last_date"),
        )
    )


@register(
    "scd2_point_in_time",
    oracle="""
        WITH src AS (
            SELECT c_custkey, c_acctbal + 100.0 AS c_acctbal, c_mktsegment,
                   DATE '2001-06-01' AS eff
            FROM customer WHERE c_custkey % 10 = 0
        ), hist AS (
            SELECT t.c_custkey, t.c_acctbal, t.c_mktsegment,
                   DATE '2000-01-01' AS valid_from,
                   CASE WHEN s.c_custkey IS NOT NULL THEN s.eff END
                       AS valid_to
            FROM customer t LEFT JOIN src s ON t.c_custkey = s.c_custkey
            UNION ALL
            SELECT c_custkey, c_acctbal, c_mktsegment, eff AS valid_from,
                   CAST(NULL AS DATE) AS valid_to
            FROM src
        )
        SELECT COALESCE(h.c_mktsegment, 'UNKNOWN') AS segment,
               COALESCE(CAST(h.valid_from AS VARCHAR), 'none')
                   AS version_from,
               CAST(COUNT(*) AS BIGINT) AS n_orders,
               CAST(SUM(CAST(o.o_totalprice AS DECIMAL(18,4))) AS DOUBLE)
                   AS revenue
        FROM orders o
        LEFT JOIN hist h
          ON o.o_custkey = h.c_custkey
         AND h.valid_from <= CAST(o.o_orderdate AS DATE)
         AND (h.valid_to IS NULL
              OR CAST(o.o_orderdate AS DATE) < h.valid_to)
        GROUP BY 1, 2
    """,
    doc="SCD2 point-in-time lookup — the query type-2 history exists "
        "FOR: each order joins the customer version that was valid on "
        "its order date (equi-join on the key with the validity-range "
        "residual; half-open [valid_from, valid_to)), so revenue "
        "attributes to the segment AS OF the sale, not as of today. "
        "Orders predating all history fall into the UNKNOWN member — "
        "reported, not dropped (the standard early-fact case). History "
        "is the same deterministic scd2_upsert build the MERGE query "
        "checks; one key shuffle, residual evaluated in the join",
)
def scd2_point_in_time(spark: SparkSession, sf_dir: str) -> DataFrame:
    from youtube_etl_project_spark.operators.upsert import scd2_upsert

    customer = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    target = customer.select(
        "c_custkey",
        "c_acctbal",
        "c_mktsegment",
        F.lit("2000-01-01").cast("date").alias("valid_from"),
        F.lit(None).cast("date").alias("valid_to"),
    )
    source = customer.filter(F.col("c_custkey") % 10 == 0).select(
        "c_custkey",
        (F.col("c_acctbal") + 100.0).alias("c_acctbal"),
        "c_mktsegment",
        F.lit("2001-06-01").cast("date").alias("eff"),
    )
    hist = scd2_upsert(
        target,
        source,
        keys=["c_custkey"],
        attrs=["c_acctbal", "c_mktsegment"],
        effective="eff",
    )
    d = F.to_date("o_orderdate")
    joined = orders.join(
        hist,
        (F.col("o_custkey") == F.col("c_custkey"))
        & (F.col("valid_from") <= d)
        & (F.col("valid_to").isNull() | (d < F.col("valid_to"))),
        "left",
    )
    return joined.groupBy(
        F.coalesce("c_mktsegment", F.lit("UNKNOWN")).alias("segment"),
        F.coalesce(F.col("valid_from").cast("string"), F.lit("none")).alias(
            "version_from"
        ),
    ).agg(
        F.count(F.lit(1)).cast("long").alias("n_orders"),
        F.sum(F.col("o_totalprice").cast("decimal(18,4)"))
        .cast("double")
        .alias("revenue"),
    )


@register(
    "table_diff_versions",
    oracle="""
        WITH base AS (
            SELECT o_orderkey AS k, o_orderstatus AS status,
                   CAST(o_totalprice AS DECIMAL(18,2)) AS price
            FROM orders
        ), v1 AS (
            SELECT * FROM base WHERE k % 3 <> 0
        ), src AS (
            SELECT k, 'R' AS status,
                   CAST(price + 10 AS DECIMAL(18,2)) AS price
            FROM base WHERE k % 2 = 0
        ), v2 AS (
            SELECT * FROM (
                SELECT * FROM src
                UNION ALL
                SELECT v1.* FROM v1
                LEFT JOIN src ON src.k = v1.k
                WHERE src.k IS NULL
            ) m WHERE k % 7 <> 0
        ), d AS (
            SELECT CASE WHEN a.k IS NULL THEN 'added'
                        WHEN b.k IS NULL THEN 'removed'
                        WHEN a.status <> b.status OR a.price <> b.price
                             THEN 'changed'
                        ELSE 'unchanged' END AS change,
                   CASE WHEN a.k IS NOT NULL AND b.k IS NOT NULL
                             AND a.status <> b.status
                        THEN 1 ELSE 0 END AS sc,
                   CASE WHEN a.k IS NOT NULL AND b.k IS NOT NULL
                             AND a.price <> b.price
                        THEN 1 ELSE 0 END AS pc
            FROM v1 a FULL OUTER JOIN v2 b ON b.k = a.k
        )
        SELECT change, CAST(COUNT(*) AS BIGINT) AS n_rows,
               CAST(SUM(sc) AS BIGINT) AS n_status_changed,
               CAST(SUM(pc) AS BIGINT) AS n_price_changed
        FROM d GROUP BY change
    """,
    doc="Snapshot diff through REAL time travel: writes orders-derived "
        "v1 to a ParquetTable, commits v2 on top (merge-upsert + "
        "retention filter), then reads read_version(1) vs "
        "read_version(0) back through the numbered-version/pointer "
        "machinery (v_<n> directories, committed up to _CURRENT) "
        "and classifies every key added / removed / changed / unchanged "
        "with per-column change counts — the 'what did last night's "
        "load do' audit. The oracle recomputes the same diff purely "
        "relationally, so the version numbering, pointer swap, retention and "
        "time-travel read path are all under the value-hash gate (T3 "
        "was previously pytest-evidence only). Exact arithmetic: "
        "decimal-domain prices, string statuses, bigint counts. Plan: "
        "one full-outer join on the key + a 4-group rollup; at 100 TB "
        "the diff is one co-partitioned shuffle of the two snapshots",
)
def table_diff_versions(spark: SparkSession, sf_dir: str) -> DataFrame:
    import shutil
    import tempfile

    from youtube_etl_project_spark.operators.upsert import ParquetTable

    base = load_table(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("k"),
        F.col("o_orderstatus").alias("status"),
        F.col("o_totalprice").cast("decimal(18,2)").alias("price"),
    )
    v1 = base.filter(F.col("k") % 3 != 0)
    src = base.filter(F.col("k") % 2 == 0).select(
        "k",
        F.lit("R").alias("status"),
        (F.col("price") + F.lit(10)).cast("decimal(18,2)").alias("price"),
    )
    v2 = merge_upsert(v1, src, ["k"]).filter(F.col("k") % 7 != 0)

    root = tempfile.mkdtemp(prefix="tdiff_")
    table = ParquetTable(spark, root + "/orders_t", keep_versions=3)
    table.write(v1)
    table.write(v2)

    old = table.read_version(1).select(
        "k",
        F.col("status").alias("s_a"),
        F.col("price").alias("p_a"),
        F.lit(1).alias("in_a"),
    )
    new = table.read_version(0).select(
        "k",
        F.col("status").alias("s_b"),
        F.col("price").alias("p_b"),
        F.lit(1).alias("in_b"),
    )
    d = old.join(new, "k", "full_outer").select(
        F.when(F.col("in_a").isNull(), "added")
        .when(F.col("in_b").isNull(), "removed")
        .when(
            (F.col("s_a") != F.col("s_b")) | (F.col("p_a") != F.col("p_b")),
            "changed",
        )
        .otherwise("unchanged")
        .alias("change"),
        F.when(
            F.col("in_a").isNotNull()
            & F.col("in_b").isNotNull()
            & (F.col("s_a") != F.col("s_b")),
            1,
        )
        .otherwise(0)
        .alias("sc"),
        F.when(
            F.col("in_a").isNotNull()
            & F.col("in_b").isNotNull()
            & (F.col("p_a") != F.col("p_b")),
            1,
        )
        .otherwise(0)
        .alias("pc"),
    )
    agg = d.groupBy("change").agg(
        F.count(F.lit(1)).cast("long").alias("n_rows"),
        F.sum("sc").cast("long").alias("n_status_changed"),
        F.sum("pc").cast("long").alias("n_price_changed"),
    )
    # Materialize the 4-row report, then drop the scratch table: the two
    # committed snapshots are full orders-derived parquet copies, and a
    # lazily-returned frame would pin them on disk for the caller's
    # lifetime (bench best-of-N and the 16x scale probe re-invoke this —
    # unbounded /tmp growth otherwise). Bounded driver state: ≤4 rows.
    rows = agg.collect()
    shutil.rmtree(root, ignore_errors=True)
    return spark.createDataFrame(
        rows,
        "change string, n_rows long, n_status_changed long, "
        "n_price_changed long",
    )

"""Skew-aware join (SURVEY §4 physical-execution posture).

AQE's skew-join handling covers sort-merge joins at runtime; explicit
salting remains the tool when a hot key must spread across reducers in a
shuffle-hash join or aggregate. Semantics are identical to the plain join —
the salted variant is oracle-checked against the unsalted SQL.

Mechanics: the big side gets a deterministic salt in [0, S) derived from a
row-identity column (never ``rand()`` — retries/speculative tasks must
agree); the small side is exploded S× so every (key, salt) bucket finds its
match. Shuffle keys become (key, salt) → hot keys fan out S ways.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def salted_join(
    big: DataFrame,
    small: DataFrame,
    key: str,
    salt_buckets: int = 8,
) -> DataFrame:
    """Inner equi-join with the big side salted S ways and the small side
    replicated S×. The salt is a hash of all big-side columns, a stable
    per-row expression."""
    salt_source = F.xxhash64(*[F.col(c) for c in big.columns])
    salted_big = big.withColumn(
        "__salt", F.pmod(salt_source, F.lit(salt_buckets)).cast("int")
    )
    replicated_small = small.withColumn(
        "__salt", F.explode(F.array(*[F.lit(s) for s in range(salt_buckets)]))
    )
    out = salted_big.join(replicated_small, [key, "__salt"], "inner")
    return out.drop("__salt")


def hot_cold_split_join(
    big: DataFrame,
    small: DataFrame,
    key: str,
    weight: str,
) -> DataFrame:
    """Inner equi-join split by key frequency: the 1024 heaviest
    small-side rows (by ``weight``) broadcast — their big-side rows never
    shuffle — while the cold tail takes the normal shuffle join, whose
    worst reducer key is now bounded by the 1025th weight.

    The Zipf-shaped complement to ``salted_join``: salting spreads a known
    hot key S ways; the frequency split removes the head of the
    distribution from the shuffle entirely, which is the right tool when
    the small side carries the frequencies anyway (e.g. a vocabulary with
    term counts joined back to an exploded token table — 'the' would
    otherwise pin one reducer). Semantics identical to ``big.join(small,
    key)``: hot and cold partitions of the small side are disjoint and
    cover it, so the union is exactly the inner join.
    """
    hot = small.orderBy(F.col(weight).desc(), F.col(key).asc()).limit(1024)
    cold = small.join(F.broadcast(hot.select(key)), key, "left_anti")
    return big.join(F.broadcast(hot), key).unionByName(big.join(cold, key))


def key_skew_report(
    df: DataFrame,
    key: str,
    top_k: int = 20,
    target_partitions: int = 32,
) -> DataFrame:
    """Pre-flight skew diagnostics for a prospective join/aggregate key:
    the ``top_k`` hottest keys with exact rank, per-key row count, share
    of the table in ppm, table-level summary columns (``n_rows``,
    ``n_keys``, ``max_cnt``), and the integer ``salt_factor`` the hottest
    keys would need so no reducer holds more than ~1/``target_partitions``
    of the rows — i.e. the ``salt_buckets`` argument you would hand
    :func:`salted_join`, per key.

    Everything is exact bigint arithmetic (``share_ppm = cnt*1e6 div
    n_rows``, ``salt_factor = ceil(cnt*P/n_rows)`` as ``(cnt*P + n_rows-1)
    div n_rows``), so the report value-hash matches an ANSI-SQL twin.

    Plan shape: one map-side-combined count per key, a
    ``TakeOrderedAndProject`` top-k (O(k) per partition, merged on the
    driver — no global sort), rank via a broadcast k×k triangular
    nested-loop self-join (k rows, never data-sized), and the three-column
    summary broadcast back. At 100 TB the only full-data pass is the
    per-key count; every subsequent exchange carries ≤ ``top_k`` rows.
    """
    counts = df.groupBy(F.col(key).alias("key")).agg(
        F.count(F.lit(1)).cast("long").alias("cnt")
    )
    from youtube_etl_project_spark.operators.checkpointing import pin

    counts = pin(counts)  # consumed by the summary AND the top-k jobs
    tot = counts.agg(
        F.sum("cnt").cast("long").alias("n_rows"),
        F.count(F.lit(1)).cast("long").alias("n_keys"),
        F.max("cnt").cast("long").alias("max_cnt"),
    )
    # NULL keys are the classic real-world skew cause this pre-flight
    # exists to catch, so the total order must place them explicitly:
    # count DESC, then key ASC with NULLS FIRST (Spark's asc default;
    # mirrored in the oracle with NULLS FIRST). The rank join below uses
    # the same null-aware precedence — a plain k2 <= key would evaluate
    # to NULL for the NULL-key row and silently drop it from the report.
    top = counts.orderBy(
        F.col("cnt").desc(), F.col("key").asc_nulls_first()
    ).limit(top_k)
    top = pin(top)  # self-joined below
    other = top.select(
        F.col("key").alias("k2"), F.col("cnt").alias("c2")
    )
    k2_precedes_or_eq = (
        F.when(F.col("k2").isNull(), F.lit(True))
        .when(F.col("key").isNull(), F.lit(False))
        .otherwise(F.col("k2") <= F.col("key"))
    )
    ranked = (
        top.join(
            F.broadcast(other),
            (F.col("c2") > F.col("cnt"))
            | ((F.col("c2") == F.col("cnt")) & k2_precedes_or_eq),
        )
        .groupBy("key", "cnt")
        .agg(F.count(F.lit(1)).cast("long").alias("rank"))
    )
    return ranked.crossJoin(F.broadcast(tot)).select(
        "key",
        "cnt",
        "rank",
        "n_rows",
        "n_keys",
        "max_cnt",
        F.expr("(cnt * 1000000) div n_rows").alias("share_ppm"),
        F.expr(
            f"(cnt * {target_partitions} + n_rows - 1) div n_rows"
        ).alias("salt_factor"),
    )

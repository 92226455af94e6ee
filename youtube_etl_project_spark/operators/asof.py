"""As-of (point-in-time) join — the classic time-series operator Spark
lacks natively (SURVEY §2a notes no as-of join in the reference; this is
the canonical "custom operator as a composition of existing DataFrame ops").

Implementation is the union-merge form, not a per-row range join: tag both
streams, union, and carry the right side's latest value forward with
``last(ignorenulls)`` over a (keys, time)-ordered window. One shuffle on
(keys), linear in total rows — at 100 TB this beats any band-join rewrite
because no candidate pairs ever materialize.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def asof_join(
    left: DataFrame,
    right: DataFrame,
    on: str,
    keys: list[str],
    right_value_cols: list[str] | None = None,
    strict: bool = True,
) -> DataFrame:
    """For each left row, attach the most recent right row with
    ``right.on < left.on`` (strict) or ``<=`` (not strict), per key group,
    as ``<col>_asof`` columns.

    Ties inside one instant resolve right-before-left via a side marker in
    the sort, so results are deterministic.
    """
    suffix = "_asof"
    rv = right_value_cols or [c for c in right.columns if c not in {on, *keys}]
    lt = left.withColumn("__side", F.lit(1))
    rt = right.select(
        *keys, on, *[F.col(c).alias(f"{c}{suffix}") for c in rv]
    ).withColumn("__side", F.lit(0))

    unioned = lt.unionByName(rt, allowMissingColumns=True)
    # strict: at equal timestamps the left row must NOT see the right row →
    # order left before right at ties; non-strict: right first.
    side_order = F.col("__side").desc() if strict else F.col("__side").asc()
    w = (
        Window.partitionBy(*keys)
        .orderBy(F.col(on).asc(), side_order)
        .rowsBetween(Window.unboundedPreceding, -1 if strict else 0)
    )
    carried = unioned.select(
        "*",
        *[
            F.last(f"{c}{suffix}", ignorenulls=True).over(w).alias(f"__carry_{c}")
            for c in rv
        ],
    )
    return (
        carried.filter(F.col("__side") == 1)
        .drop("__side", *[f"{c}{suffix}" for c in rv])
        .select(
            *left.columns,
            *[F.col(f"__carry_{c}").alias(f"{c}{suffix}") for c in rv],
        )
    )

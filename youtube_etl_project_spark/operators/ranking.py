"""Distributed exact global rank / NTILE.

The scale-safe replacement for unpartitioned ``row_number()`` / ``ntile()``
windows: ``WindowExec`` with no partition spec moves the WHOLE frame through
one task (Spark logs "No Partition Defined ... Moving all data to a single
partition"), which is correct at sf0.1 and the pipeline bottleneck at 100x.

Two-pass exact rank (the classic distributed ranking plan, same family as
TeraSort's range-partitioned total order):

1. ``repartitionByRange`` on the FULL ordering key — tiebreakers included,
   so the key is a total order and every partition holds a contiguous,
   disjoint key range.  One range shuffle: the same data movement the
   global sort inside a window needs anyway, except the result stays
   spread over N partitions instead of collapsing to one.
2. ``checkpointing.pin`` pins the partition assignment.  The frame is
   consumed by two jobs below (counts, then ranks); un-pinned, the range
   partitioner's reservoir sample could re-draw boundaries between jobs
   and the offsets would disagree with the placement.  Same
   branch-then-checkpoint discipline as ``operators/graph.py``.  On a
   real cluster set ``SPARK_GRAFT_CHECKPOINT_DIR`` and the pin becomes a
   RELIABLE checkpoint, so executor loss re-reads the pinned partitions
   from durable storage instead of failing the job (localCheckpoint
   blocks are unrecoverable — see ``checkpointing`` module docstring for
   the full recovery contract).
3. Per-partition row counts → cumulative offsets.  Driver state is one
   (partition_id, count) row per partition — bounded model-sized state,
   like the PCA moments or PQ codebooks.
4. ``row_number()`` over a window PARTITIONED by the physical partition id,
   plus that partition's offset = the exact global rank.  Identical output
   to the single global window, no single-task stage anywhere.

``exact_ntile_multi`` layers NTILE(k) semantics on top: with n rows total
and rank i, the first ``n % k`` buckets take ``n//k + 1`` rows and the rest
take ``n//k`` — the same fill rule Spark and DuckDB implement, so results
stay hash-identical with an ``NTILE() OVER (ORDER BY ...)`` oracle.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from youtube_etl_project_spark.operators.checkpointing import pin

_PID = "__gr_pid"
_OFF = "__gr_offset"


def _range_partition_offsets(
    df: DataFrame,
    order_cols: Sequence[Column],
    num_partitions: int | None,
    agg_exprs: Sequence[tuple[str, Column]],
) -> tuple[DataFrame, DataFrame, list[int]]:
    """The shared two-pass scaffold behind :func:`global_rank` and
    :func:`global_prefix_sum`: range-shuffle on the FULL ordering key
    (must be a total order), pin the partition assignment (the range
    partitioner's reservoir sample could re-draw boundaries between the
    totals job and the consuming job otherwise), collect one
    (partition, totals...) row per partition — bounded driver state —
    and turn the totals into cumulative offsets.

    ``agg_exprs`` is ``[(offset_col_name, per_partition_agg), ...]``;
    each aggregate must be LongType. Returns ``(pinned_partitioned_df,
    broadcast-ready offsets_df keyed by _PID, grand_totals)`` where
    ``grand_totals[i]`` is the whole-frame total of aggregate i.
    """
    spark = df.sparkSession
    if num_partitions is None:
        try:
            num_partitions = int(spark.conf.get("spark.sql.shuffle.partitions"))
        except (TypeError, ValueError):
            num_partitions = 32
    part = (
        df.repartitionByRange(num_partitions, *order_cols)
        .withColumn(_PID, F.spark_partition_id())
    )
    part = pin(part)
    names = [n for n, _ in agg_exprs]
    totals = sorted(
        part.groupBy(_PID)
        .agg(*[c.alias(n) for n, c in agg_exprs])
        .collect(),
        key=lambda r: r[_PID],
    )
    offsets, acc = [], [0] * len(names)
    for row in totals:
        offsets.append((row[_PID], *acc))
        acc = [a + (row[n] or 0) for a, n in zip(acc, names)]
    off_df = spark.createDataFrame(
        offsets,
        schema=", ".join([f"{_PID} int"] + [f"{n} long" for n in names]),
    )
    return part, off_df, acc


def global_rank(
    df: DataFrame,
    order_cols: Sequence[Column],
    rank_col: str = "rank",
    num_partitions: int | None = None,
) -> tuple[DataFrame, int]:
    """Exact 1-based global rank by ``order_cols`` (must be a total order:
    include a tiebreaker).  Returns ``(df + rank_col, total_row_count)``.

    The rank column is LongType.  No unpartitioned window: the plan is
    range-shuffle -> pinned partitions -> per-partition offsets (broadcast
    joined) -> partition-local ``row_number`` + offset.
    """
    part, off_df, (total,) = _range_partition_offsets(
        df,
        order_cols,
        num_partitions,
        [(_OFF, F.count(F.lit(1)).cast("long"))],
    )
    ranked = (
        part.join(F.broadcast(off_df), _PID)
        .withColumn(
            rank_col,
            F.row_number().over(
                Window.partitionBy(_PID).orderBy(*order_cols)
            ).cast("long")
            + F.col(_OFF),
        )
        .drop(_PID, _OFF)
    )
    return ranked, total


def _tile_of_rank(r: Column, n: int, k: int) -> Column:
    """NTILE(k) bucket of 1-based rank ``r`` among ``n`` rows — the
    shared fill rule (first ``n % k`` tiles take the extra row), matching
    Spark's and DuckDB's window NTILE bit-for-bit."""
    q, rem = divmod(n, k)
    if q == 0:
        tile = r
    else:
        big = rem * (q + 1)  # rows covered by the (q+1)-sized tiles
        tile = F.when(
            r <= F.lit(big), F.floor((r - 1) / F.lit(q + 1)) + 1
        ).otherwise(F.lit(rem) + F.floor((r - F.lit(big) - 1) / F.lit(q)) + 1)
    return tile.cast("int")


def exact_ntile_multi(
    df: DataFrame,
    k: int,
    key_cols: Sequence[str],
    measures: Sequence[tuple[str, Sequence[Column]]],
    num_partitions: int | None = None,
) -> DataFrame:
    """NTILE(k) under SEVERAL orderings of the same frame in ONE ranking
    job — where one ranking per measure would pay one range shuffle + one
    pin + one offsets collect EACH.

    ``measures`` is an ordered list of ``(tile_col, order_exprs)``. Every
    ``order_exprs`` list must be ASCENDING-sortable Column expressions of
    the same arity and union-compatible types across measures — for a
    descending numeric order pass its negation (exact for ints and
    decimals), and include a tiebreaker so each ordering is total.

    How the fusion works: melt the frame to ``len(measures) × n`` rows
    tagged with the measure index, then range-partition ONCE on
    ``(measure_idx, order_exprs...)`` — the index is the leading range
    key, so each measure's rows stay contiguous and range-ordered and its
    per-measure rank is just ``global_rank - measure_idx * n``. One range
    shuffle, one pin, one offsets collect, regardless of how many
    measures ride along. Returns ``key_cols`` + one IntegerType tile
    column per measure (join back on the key for payload columns).
    """
    names = [t for t, _ in measures]
    arity = len(measures[0][1])
    assert all(len(cols) == arity for _, cols in measures), (
        "every measure needs the same number of order expressions"
    )
    slots = [f"__s{i}" for i in range(arity)]
    melted = None
    for j, (_, cols) in enumerate(measures):
        part = df.select(
            *key_cols,
            F.lit(j).alias("__m"),
            *[c.alias(s) for c, s in zip(cols, slots)],
        )
        melted = part if melted is None else melted.unionByName(part)
    order = [F.col("__m").asc()] + [F.col(s).asc() for s in slots]
    ranked, total = global_rank(melted, order, "__r", num_partitions)
    n = total // len(measures)
    local_rank = F.col("__r") - F.col("__m").cast("long") * F.lit(n)
    long_tiles = ranked.select(
        *key_cols, "__m", _tile_of_rank(local_rank, n, k).alias("__t")
    )
    # pivot back to one row per key: conditional max per measure index
    # (one hash shuffle on the key — cheap next to the range pass saved)
    return long_tiles.groupBy(*key_cols).agg(
        *[
            F.max(F.when(F.col("__m") == j, F.col("__t"))).alias(names[j])
            for j in range(len(names))
        ]
    )


def global_prefix_sum(
    df: DataFrame,
    order_cols: Sequence[Column],
    sum_cols: Sequence[str],
    num_partitions: int | None = None,
) -> DataFrame:
    """Exact GLOBAL running totals of ``sum_cols`` (LongType) in
    ``order_cols`` order — the weighted generalization of
    :func:`global_rank` (rank is the prefix sum of the constant 1), and
    the scale-safe replacement for ``SUM() OVER (ORDER BY ...)`` with no
    partition spec, which moves the whole frame through one task.

    Same two-pass plan (shared scaffold: :func:`_range_partition_offsets`):
    range-shuffle on the full ordering key (must be a total order —
    include a tiebreaker), pin the partition assignment, collect one
    (partition, per-column total) row per partition — bounded driver
    state — turn those into cumulative offsets, then add each
    partition's offset to its partition-local running sum (window
    PARTITIONED by the physical partition id, never global). Appends
    ``{col}_cum`` (LongType) for each input column.
    """
    off_names = [f"__gps_off_{c}" for c in sum_cols]
    part, off_df, _ = _range_partition_offsets(
        df,
        order_cols,
        num_partitions,
        [
            (n, F.sum(c).cast("long"))
            for n, c in zip(off_names, sum_cols)
        ],
    )
    w = (
        Window.partitionBy(_PID)
        .orderBy(*order_cols)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    out = part.join(F.broadcast(off_df), _PID)
    for c, off in zip(sum_cols, off_names):
        out = out.withColumn(
            f"{c}_cum",
            F.sum(F.col(c)).over(w).cast("long") + F.col(off),
        )
    return out.drop(_PID, *off_names)

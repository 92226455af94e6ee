"""Count-min sketch over a key column — the mergeable frequency twin of
the HLL distinct-count sketch (``plans/approx2.py``).

The sketch is a (d × w) counter matrix kept AS A DATAFRAME of
``(row, col, cnt)`` cells — never collected: build is one explode +
one groupBy shuffle; merging two sketches (across days, sources,
clusters) is a union + groupBy sum of the same cells, the
partial-aggregate composition that matters at 100 TB where re-scanning
raw data to count keys is off the table. Point estimates join the probe
positions against the sketch (d·w ≤ a few thousand cells → broadcast)
and take the row-wise min — the classic CM upper bound: the estimate
never undercounts, and overcounts by at most the collision mass
(E[err] ≈ N/w per cell).

Probe hashes live in the md5 domain (round 4): the sketch is
deterministic, pinned by ``tests/test_cms.py``, AND reproducible in
ANSI SQL — the registered query hash-matches a DuckDB twin that
rebuilds the cells and min-estimates from the same md5 arithmetic.

Reference parity: the reference has no sketch surface (its counts are
exact Snowflake aggregates, e.g. function_app.py's per-day statistics);
this is part of the §2b large-corpus extension stack.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def _probe_cells(key: Column, d: int, w: int) -> Column:
    """Array of (row, col) probe structs for one key.

    Probe columns live in the md5 domain since round 4 —
    ``conv(substr(md5(r || '~' || key), 1, 8), 16, 10) % w`` — so the
    whole sketch (build, merge, estimate) is reproducible in ANSI SQL
    (DuckDB: ``('0x' || substr(md5(...), 1, 8))::BIGINT % w``) and the
    CMS query is oracle-checked instead of rows-only. md5 vs the previous
    seeded xxhash64 changes nothing about the (ε, δ) guarantees — only
    hash-family uniformity matters."""
    return F.array(
        *[
            F.struct(
                F.lit(r).alias("row"),
                F.pmod(
                    F.conv(
                        F.substring(
                            F.md5(
                                F.concat_ws(
                                    "~", F.lit(str(r)), key.cast("string")
                                )
                            ),
                            1,
                            8,
                        ),
                        16,
                        10,
                    ).cast("long"),
                    F.lit(w),
                ).alias("col"),
            )
            for r in range(d)
        ]
    )


def cms_build(
    df: DataFrame, key: str, d: int = 4, w: int = 2048
) -> DataFrame:
    """Build a count-min sketch of ``key`` frequencies: DataFrame of
    ``(row int, col int, cnt long)`` — at most d·w rows, one shuffle."""
    return (
        df.select(F.explode(_probe_cells(F.col(key), d, w)).alias("p"))
        .groupBy(F.col("p.row").alias("row"), F.col("p.col").alias("col"))
        .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
    )


def cms_estimate(
    sketch: DataFrame,
    items: DataFrame,
    key: str,
    d: int = 4,
    w: int = 2048,
) -> DataFrame:
    """Point-estimate the frequency of each ``items.key`` as
    ``cms_count``: min over the d
    probed cells. The sketch broadcasts (≤ d·w cells); items only explode
    ×d, so the estimate is a map-side join at any item count."""
    probes = items.select(
        F.col(key), F.explode(_probe_cells(F.col(key), d, w)).alias("p")
    ).select(key, F.col("p.row").alias("row"), F.col("p.col").alias("col"))
    return (
        probes.join(F.broadcast(sketch), ["row", "col"], "left")
        .groupBy(key)
        .agg(
            F.min(F.coalesce("cnt", F.lit(0)))
            .cast("long")
            .alias("cms_count")
        )
    )

"""Incremental materialized-view maintenance.

The reference's daily pipeline rebuilds its aggregates from scratch every
run (reference `src/snowflake_loader.py:136-155` drops-and-reloads the
day's slice; `azure-functions/function_app.py` re-runs the full query
text). At 100 TB a full rebuild of a join/agg view is the single most
expensive recurring job in the warehouse, and almost all of it recomputes
rows that did not change. This module provides the two standard
incremental-view-maintenance strategies, chosen by what the view's
aggregates allow:

* ``additive_merge`` — for INSERT-only deltas into views whose measures
  are additive (COUNT, SUM, and anything derived from them): aggregate
  ONLY the delta, then full-outer merge it into the old view, summing
  measures. The base table is never rescanned — cost is O(|delta|) +
  O(|view|), independent of the base's 100 TB. This is the classic
  self-maintainable-view result (Blakeley et al., "Efficiently Updating
  Materialized Views", SIGMOD'86 — the delta of an additive aggregate is
  itself an aggregate of the delta).

* ``scoped_refresh`` — for UPSERT/DELETE deltas or non-additive measures
  (MIN/MAX after deletes, distinct counts): recompute the view restricted
  to the AFFECTED GROUP KEYS only, and stitch the recomputation onto the
  untouched remainder of the old view with an anti-join. Cost is
  O(|view|) + O(rows of affected keys), not O(|base|): the affected-key
  set is distilled from the delta and applied as a semi-join filter that
  Spark pushes toward the base scan (broadcast + bloom/DPP when small,
  shuffle semi-join when not).

Exactness contract (both helpers): measures stay in Spark's decimal
domain through the merge — an old-view double plus a delta double would
re-round differently than the oracle's single decimal sum — and are cast
to double only by the CALLER at output time (see
``plans/incremental_views.py`` and the registry docstring's
decimal-output rule).
"""

from __future__ import annotations

from collections.abc import Callable, Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def additive_merge(
    old_view: DataFrame,
    delta_agg: DataFrame,
    keys: Sequence[str],
    measures: dict[str, Column],
) -> DataFrame:
    """Merge an insert-only delta's aggregate into ``old_view``.

    ``old_view`` and ``delta_agg`` must share ``keys`` + the measure
    columns (same names, same GROUP BY grain). ``measures`` maps each
    measure column to a neutral literal of the SAME type (e.g.
    ``F.lit(0).cast("long")`` for counts, a zero decimal for sums) used
    when a key exists on only one side. Groups new to the delta appear;
    untouched groups pass through bit-identically (x + typed-zero is
    exact in both long and decimal arithmetic).
    """
    d = delta_agg
    for m in measures:
        d = d.withColumnRenamed(m, f"_delta_{m}")
    merged = old_view.join(d, list(keys), "full_outer")
    out_cols: list[Column] = [F.col(k) for k in keys]
    for m, zero in measures.items():
        out_cols.append(
            (
                F.coalesce(F.col(m), zero)
                + F.coalesce(F.col(f"_delta_{m}"), zero)
            ).alias(m)
        )
    return merged.select(*out_cols)


def scoped_refresh(
    old_view: DataFrame,
    affected_keys: DataFrame,
    recompute: Callable[[DataFrame], DataFrame],
    keys: Sequence[str],
) -> DataFrame:
    """Refresh only the groups whose keys appear in ``affected_keys``.

    ``recompute(affected_keys)`` must return the CURRENT view rows for
    exactly those keys (the caller owns the base+delta reconciliation —
    it differs per upsert/delete semantics). The untouched remainder of
    ``old_view`` is kept via an anti-join, so stale rows for affected
    keys can never survive. The key set broadcasts: a day's delta
    touches a bounded key set.
    """
    keyset = F.broadcast(affected_keys.select(*keys).distinct())
    untouched = old_view.join(keyset, list(keys), "left_anti")
    return untouched.unionByName(recompute(keyset))

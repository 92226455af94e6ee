"""Custom stateful streaming operator via ``applyInPandasWithState``
(SURVEY §2b: the escape hatch for operators Spark's built-in streaming
aggregates can't express).

``running_user_totals_grid`` keeps a per-user (count, sum) accumulator
across micro-batches — the canonical shape for custom sessionization,
CDC folding, or online feature accumulation. State is per-key and
partitioned, so it scales horizontally. The registered
``streaming_stateful_totals_parity`` query drains it and hash-matches
the batch SQL twin.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

GRID_OUTPUT_SCHEMA = "user_id long, n_events long, total_cents long"
GRID_STATE_SCHEMA = "n long, total long"


def _update_user_grid(
    key: tuple,
    pdfs: Iterator[pd.DataFrame],
    state: GroupState,
) -> Iterator[pd.DataFrame]:
    (user_id,) = key
    n, total = state.get if state.exists else (0, 0)
    for pdf in pdfs:
        n += len(pdf)
        total += int(pdf["value_cents"].sum())
    state.update((n, total))
    yield pd.DataFrame(
        {"user_id": [user_id], "n_events": [n], "total_cents": [total]}
    )


def running_user_totals_grid(events: DataFrame) -> DataFrame:
    """Streaming DF in → per-user running totals out (one row per user
    per micro-batch that touched the user). The stream carries
    ``value_cents`` (the repo's standard ``FLOOR(v·100 + 0.5)`` snap,
    computed JVM-side before the stateful op), and the state accumulates
    exact bigints — so the final per-user state is order-independent and
    reproducible in ANSI SQL, unlike float accumulation whose pandas
    pairwise-summation order no oracle can replay."""
    return (
        events.groupBy("user_id")
        .applyInPandasWithState(
            _update_user_grid,
            outputStructType=GRID_OUTPUT_SCHEMA,
            stateStructType=GRID_STATE_SCHEMA,
            outputMode="append",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )

"""Defensive typed extraction with defaults (reference F5/P2).

The reference coerces every numeric it reads — ``int(x.get('viewCount', 0))``
(src/youtube_collector.py:160-162) — and defaults strings
(``.get('country', 'UNKNOWN')``, src/youtube_collector.py:189). The Spark
equivalents are null-safe cast + coalesce, which Catalyst constant-folds.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def _c(col: Column | str) -> Column:
    return F.col(col) if isinstance(col, str) else col


def safe_long(col: Column | str) -> Column:
    """Null/malformed-safe cast to long, defaulting to 0 (reference F5).

    try_cast, not cast: Spark 4 runs ANSI mode by default, where a malformed
    string cast throws — the reference's posture is degrade-to-default.
    """
    return F.coalesce(_c(col).try_cast("long"), F.lit(0).cast("long"))


def safe_double(col: Column | str) -> Column:
    return F.coalesce(_c(col).try_cast("double"), F.lit(0.0).cast("double"))


def safe_str(col: Column | str) -> Column:
    """Null-defaulted string (reference P2's ``.get('country','UNKNOWN')``)."""
    return F.coalesce(_c(col).cast("string"), F.lit("UNKNOWN"))

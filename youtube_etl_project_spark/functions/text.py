"""Text scalar builders (reference F1/F2 semantics).

F1: the classifier's input blob is ``f"{title} {description} {' '.join(tags)}"
.lower()`` (reference src/youtube_collector.py:74). F2: keyword hits are
counted substring containments, one count per keyword list
(src/youtube_collector.py:77-78). Both are pure Column expressions — at scale
they stay inside whole-stage codegen, no Python serialization.
"""

from __future__ import annotations

import functools
import operator
from collections.abc import Sequence

from pyspark.sql import Column
from pyspark.sql import functions as F


def text_blob(*cols: Column | str, tags_col: Column | str | None = None) -> Column:
    """Lower-cased space-joined text assembly; array cols may be passed via
    ``tags_col`` and are space-joined first (reference F1)."""
    parts = [F.col(c) if isinstance(c, str) else c for c in cols]
    if tags_col is not None:
        t = F.col(tags_col) if isinstance(tags_col, str) else tags_col
        parts.append(F.concat_ws(" ", t))
    return F.lower(F.concat_ws(" ", *parts))


def keyword_hits(text: Column | str, keywords: Sequence[str]) -> Column:
    """Number of keywords from ``keywords`` contained in ``text``
    (substring containment counted once per keyword, reference F2).

    Implemented as ``coalesce(int(contains(t, kw1)) + ..., 0)`` — a sum of
    boolean casts in one codegen stage; cost is O(len(keywords)) substring
    scans per row, no shuffle. A NULL text contains no keyword: 0 hits.
    Each keyword costs three Column calls (the keyword literal rides
    ``contains``), so building the plan stays cheap for long lists; no
    higher-order ``aggregate``, which would fall back from codegen.
    """
    t = F.col(text) if isinstance(text, str) else text
    hits = [t.contains(kw).cast("int") for kw in keywords]
    if not hits:
        return F.lit(0)
    return F.coalesce(functools.reduce(operator.add, hits), F.lit(0))


def tokens(text: Column | str) -> Column:
    """Whitespace tokenization to array<string>, empty tokens removed."""
    t = F.col(text) if isinstance(text, str) else text
    return F.filter(F.split(t, r"\s+"), lambda x: x != F.lit(""))

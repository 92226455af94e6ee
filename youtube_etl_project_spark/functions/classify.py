"""Sentiment classification and engagement rate (reference F3/F4) as pure
Column expressions.

Reference semantics (src/youtube_collector.py:66-116):

* ``classify_video``: category-id drives the primary branch —
  positive set → (POSITIVE, CATEGORY_BASED); negative set → (NEGATIVE,
  CATEGORY_BASED); mixed set → compare keyword-hit counts (pos>neg →
  POSITIVE, neg>pos → NEGATIVE, tie → NEUTRAL), method KEYWORD_BASED;
  anything else → (UNKNOWN, UNCATEGORIZED). Returns a 4-field struct
  (final_sentiment, classification_method, positive_keyword_count,
  negative_keyword_count).
* ``calculate_engagement``: 0.0 when views == 0, else
  ``round((likes + comments) / views * 100, 4)``.

Both compile to nested CASE expressions — one codegen stage, no UDF.
"""

from __future__ import annotations

from collections.abc import Collection, Sequence

from pyspark.sql import Column
from pyspark.sql import functions as F

from youtube_etl_project_spark import config
from youtube_etl_project_spark.functions.text import keyword_hits


def sentiment_fields(
    category_id: Column | str,
    text: Column | str,
    positive_categories: Collection[int] = config.POSITIVE_CATEGORIES,
    negative_categories: Collection[int] = config.NEGATIVE_CATEGORIES,
    mixed_categories: Collection[int] = config.MIXED_CATEGORIES,
    positive_keywords: Sequence[str] = config.POSITIVE_KEYWORDS,
    negative_keywords: Sequence[str] = config.NEGATIVE_KEYWORDS,
) -> dict[str, Column]:
    """Reference F3 as four named Columns, in ``classify_sentiment``'s
    field order — for a caller that projects them as top-level columns.

    Each category test and keyword count is built once and reused, and
    result strings pass as plain values: building the plan is a few dozen
    Column calls rather than hundreds."""
    cat = F.col(category_id) if isinstance(category_id, str) else category_id
    pos = keyword_hits(text, positive_keywords)
    neg = keyword_hits(text, negative_keywords)
    is_pos = cat.isin(list(positive_categories))
    is_neg = cat.isin(list(negative_categories))
    is_mixed = cat.isin(list(mixed_categories))

    sentiment = (
        F.when(is_pos, "POSITIVE")
        .when(is_neg, "NEGATIVE")
        .when(
            is_mixed,
            F.when(pos > neg, "POSITIVE")
            .when(neg > pos, "NEGATIVE")
            .otherwise("NEUTRAL"),
        )
        .otherwise("UNKNOWN")
    )
    method = (
        F.when(is_pos | is_neg, "CATEGORY_BASED")
        .when(is_mixed, "KEYWORD_BASED")
        .otherwise("UNCATEGORIZED")
    )
    return {
        "final_sentiment": sentiment,
        "classification_method": method,
        "positive_keyword_count": pos,
        "negative_keyword_count": neg,
    }


def classify_sentiment(
    category_id: Column | str, text: Column | str, **vocab
) -> Column:
    """Struct(final_sentiment, classification_method,
    positive_keyword_count, negative_keyword_count) — reference F3.
    ``vocab`` takes ``sentiment_fields``' category-set and keyword-list
    keywords."""
    fields = sentiment_fields(category_id, text, **vocab)
    return F.struct(*[c.alias(name) for name, c in fields.items()])


def engagement_rate(
    views: Column | str, likes: Column | str, comments: Column | str
) -> Column:
    """``0.0 if views == 0 else round((likes+comments)/views*100, 4)`` —
    reference F4 with its zero-view guard."""
    v = F.col(views) if isinstance(views, str) else views
    l = F.col(likes) if isinstance(likes, str) else likes
    c = F.col(comments) if isinstance(comments, str) else comments
    return F.when(v == 0, F.lit(0.0)).otherwise(
        F.round((l + c) / v * 100, 4)
    ).cast("double")

"""Scalar Column builders — the reference's per-row logic as pure
Catalyst expressions (whole-stage-codegen-friendly; no Python on the hot
path, which is what makes these viable at 100 TB)."""

from youtube_etl_project_spark.functions.text import (
    keyword_hits,
    text_blob,
    tokens,
)
from youtube_etl_project_spark.functions.classify import (
    classify_sentiment,
    engagement_rate,
    sentiment_fields,
)
from youtube_etl_project_spark.functions.safe import (
    safe_double,
    safe_long,
    safe_str,
)

__all__ = [
    "text_blob",
    "keyword_hits",
    "tokens",
    "classify_sentiment",
    "sentiment_fields",
    "engagement_rate",
    "safe_long",
    "safe_double",
    "safe_str",
]

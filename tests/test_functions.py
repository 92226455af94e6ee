"""Property tests for the scalar function library (SURVEY §5.4):
engagement zero-guard/bounds, sentiment method/category consistency,
keyword-hit counting."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from youtube_etl_project_spark.functions import (
    classify_sentiment,
    engagement_rate,
    keyword_hits,
    safe_long,
    text_blob,
)


def _one(spark, cols):
    return spark.range(1).select(*cols).collect()[0]


def test_engagement_zero_views_guard(spark):
    row = _one(
        spark,
        [engagement_rate(F.lit(0), F.lit(10), F.lit(5)).alias("e")],
    )
    assert row.e == 0.0


def test_engagement_rounding(spark):
    # (3+1)/7*100 = 57.142857... → 57.1429 (4 dp, reference YC:115)
    row = _one(
        spark, [engagement_rate(F.lit(7), F.lit(3), F.lit(1)).alias("e")]
    )
    assert row.e == pytest.approx(57.1429, abs=1e-9)


@pytest.mark.parametrize(
    "cat,text,expected_sentiment,expected_method",
    [
        (19, "whatever", "POSITIVE", "CATEGORY_BASED"),
        (20, "amazing great", "NEGATIVE", "CATEGORY_BASED"),  # category wins
        (1, "amazing great x", "POSITIVE", "KEYWORD_BASED"),
        (1, "awful terrible x", "NEGATIVE", "KEYWORD_BASED"),
        (1, "amazing awful", "NEUTRAL", "KEYWORD_BASED"),  # tie
        (1, "nothing here", "NEUTRAL", "KEYWORD_BASED"),  # 0-0 tie
        (99, "amazing", "UNKNOWN", "UNCATEGORIZED"),
    ],
)
def test_classify_matrix(spark, cat, text, expected_sentiment, expected_method):
    c = classify_sentiment(F.lit(cat), F.lit(text))
    row = _one(spark, [c.alias("c")])
    assert row.c.final_sentiment == expected_sentiment
    assert row.c.classification_method == expected_method


def test_keyword_hits_counts_each_keyword_once(spark):
    # substring containment, counted once per keyword even if repeated
    row = _one(
        spark,
        [keyword_hits(F.lit("good good good bad"), ["good", "bad", "zzz"]).alias("k")],
    )
    assert row.k == 2
    # a NULL text contains no keyword
    null_text = F.lit(None).cast("string")
    row = _one(spark, [keyword_hits(null_text, ["good", "bad"]).alias("k")])
    assert row.k == 0


def test_text_blob_join_and_lower(spark):
    row = _one(
        spark,
        [
            text_blob(
                F.lit("TiTle"), F.lit("Desc"), tags_col=F.array(F.lit("A"), F.lit("b"))
            ).alias("b")
        ],
    )
    assert row.b == "title desc a b"


def test_safe_long_defaults(spark):
    row = _one(
        spark,
        [
            safe_long(F.lit(None)).alias("a"),
            safe_long(F.lit("12")).alias("b"),
            safe_long(F.lit("junk")).alias("c"),
        ],
    )
    assert (row.a, row.b, row.c) == (0, 12, 0)

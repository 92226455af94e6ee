"""Count-min sketch invariants (operators/sketches.py): the estimate
never undercounts and the overcount is bounded by the collision mass."""

from __future__ import annotations

from pyspark.sql import functions as F

from youtube_etl_project_spark.functions.text import tokens
from youtube_etl_project_spark.operators import sketches
from youtube_etl_project_spark.sources import load_table

D, W = 4, 2048


def _tokens(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents")
    return docs.select(
        "source", F.explode(tokens(F.lower(F.col("text")))).alias("tok")
    )


def test_cms_overcounts_only_and_bounded(spark, sf_dir):
    tok = _tokens(spark, sf_dir)
    sketch = sketches.cms_build(tok, "tok", d=D, w=W)
    exact = tok.groupBy("tok").agg(
        F.count(F.lit(1)).cast("long").alias("exact")
    )
    est = sketches.cms_estimate(sketch, exact.select("tok"), "tok", d=D, w=W)
    joined = exact.join(est, "tok").collect()
    n_total = sum(r["exact"] for r in joined)
    assert joined, "no tokens"
    for r in joined:
        assert r["cms_count"] >= r["exact"], r  # CM never undercounts
        # deterministic collision-mass bound, generous: 8x the expected
        # per-cell load (the min over d=4 rows is far tighter in practice)
        assert r["cms_count"] - r["exact"] <= max(8 * n_total // W, 8), r
    # the sketch must actually be exact for most keys at this load factor
    exact_frac = sum(r["cms_count"] == r["exact"] for r in joined) / len(joined)
    assert exact_frac > 0.5, exact_frac


def test_cms_registered_query_shape(spark, sf_dir):
    from youtube_etl_project_spark.registry import load_all_plans

    rows = load_all_plans()["approx_cms_token_counts"].fn(spark, sf_dir).collect()
    vocab = (
        _tokens(spark, sf_dir).select("tok").distinct().count()
    )
    assert len(rows) == min(50, vocab)
    assert all(r["cms_count"] >= r["exact_count"] for r in rows)

"""Quickstart: what a user of the reference pipeline runs here instead.

    python examples/quickstart.py [sf_dir]

Walks the reference's full surface — extract-enrich, staged load with
merge/dedup, the daily aggregate — then the extension operators (dedup,
similarity, text analysis) on the fixture tables.
"""

from __future__ import annotations

import os
import sys
import tempfile
from datetime import date

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from youtube_etl_project_spark.session import get_spark
from youtube_etl_project_spark.pipeline import Warehouse, load_day, run_day
from youtube_etl_project_spark.sources import load_table
from youtube_etl_project_spark.sql import sql
from youtube_etl_project_spark.testkit import make_channel, make_video
from youtube_etl_project_spark.operators import dedup, similarity

SF_DIR = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"


def main() -> None:
    spark = get_spark("quickstart")
    spark.sparkContext.setLogLevel("ERROR")

    # 1. The reference pipeline end-to-end: raw videos/channels → warehouse
    videos = spark.createDataFrame(
        [
            make_video("v1", "ch1", category_id=1, title="amazing great launch",
                       tags=["launch", "fun"]),
            make_video("v2", "ch2", category_id=20, title="whatever",
                       tags=["misc"]),
        ]
    )
    channels = spark.createDataFrame(
        [make_channel("ch1"), make_channel("ch2", channel_country="GB")]
    )
    with tempfile.TemporaryDirectory() as tmp:
        counts = run_day(
            spark, videos, channels, f"{tmp}/raw", f"{tmp}/wh", date(2024, 3, 2)
        )
        print("pipeline counts:", counts)
        wh = Warehouse(spark, f"{tmp}/wh")
        wh.agg_daily.read().show()

    # 2. Analytics over the star schema — DataFrame or SQL, same engine
    sql(
        spark,
        SF_DIR,
        """
        SELECT n_name, COUNT(*) AS orders,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS total
        FROM orders JOIN customer ON o_custkey = c_custkey
        JOIN nation ON c_nationkey = n_nationkey
        GROUP BY n_name ORDER BY total DESC LIMIT 5
        """,
    ).show()

    # 3. LLM-data-pipeline operators
    docs = load_table(spark, SF_DIR, "documents")
    dedup.minhash_lsh_pairs(docs, "doc_id", "text", threshold=0.5).show(5)

    emb = load_table(spark, SF_DIR, "embeddings")
    q = emb.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    c = emb.select(F.col("vec_id").alias("neighbor_id"), "embedding")
    similarity.brute_force_topk(q, c, k=3).show()


if __name__ == "__main__":
    main()

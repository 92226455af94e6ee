"""Date-partitioned JSON sink (SURVEY §2a S5; reference
src/youtube_collector.py:198-239).

The reference writes one JSON array per blob under ``raw/Y/M/D/``.
Spark-first: executors write line-delimited JSON part files under the
same date path (the scalable layout; the array-file reader in
staging.py exists for reference-shaped inputs).
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def write_day_entity(df: DataFrame, raw_root: str, day, entity: str) -> str:
    """Distributed raw sink for one (day, entity): line-delimited JSON under
    the reference's ``raw/YYYY/MM/DD/<entity>_spark/`` date path — executors
    write part files in parallel, nothing is collected. The directory name
    keeps the ``<entity>_`` token so filename-LIKE routing (S5/P4) works
    unchanged; ``staging.read_json_line_files`` is the matching reader."""
    from youtube_etl_project_spark.sources.staging import date_path

    path = f"{date_path(raw_root, day)}/{entity}_spark"
    df.write.mode("overwrite").json(path)
    return path

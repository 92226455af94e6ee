"""Table maintenance (the ops a 100 TB warehouse needs between queries):
small-file compaction and sorted rewrites for data skipping.

Small files are the classic death-by-a-thousand-cuts at scale — each file
costs a task + open + footer parse. Compaction rewrites a ParquetTable's
current version into ~target-sized files; ``sorted_rewrite`` additionally
range-partitions and sorts by a key so parquet row-group min/max stats
prune reads on that key (the poor-man's Z-order for one dimension).
"""

from __future__ import annotations

import glob
import os

from youtube_etl_project_spark.operators.upsert import ParquetTable

TARGET_FILE_BYTES = 128 * 1024 * 1024


def data_file_count(table: ParquetTable) -> int:
    path = table.current_path()
    return len(glob.glob(os.path.join(path, "*.parquet"))) if path else 0


def table_bytes(table: ParquetTable) -> int:
    path = table.current_path()
    if not path:
        return 0
    return sum(
        os.path.getsize(f) for f in glob.glob(os.path.join(path, "*.parquet"))
    )


def compact(table: ParquetTable) -> int:
    """Rewrite the current version into ceil(bytes/TARGET_FILE_BYTES)
    files (≥1).
    Atomic — readers see old or new version, never a mix. Returns the new
    file count."""
    n_files = max(1, -(-table_bytes(table) // TARGET_FILE_BYTES))
    df = table.read().coalesce(n_files)
    table.write(df)
    return data_file_count(table)


def sorted_rewrite(table: ParquetTable, sort_col: str, partitions: int) -> None:
    """Range-partition + sort by ``sort_col`` so row-group stats give
    min/max skipping for predicates on that column."""
    df = table.read().repartitionByRange(partitions, sort_col).sortWithinPartitions(
        sort_col
    )
    table.write(df)


def zorder_rewrite(
    table: ParquetTable,
    col_a: str,
    col_b: str,
    partitions: int,
    bits: int = 10,
) -> None:
    """The real two-dimensional OPTIMIZE ZORDER: rewrite the current
    version clustered on the Morton interleave of (col_a, col_b), so
    row-group/file min-max stats prune 2-d box predicates — where
    ``sorted_rewrite`` only skips on its single key. Same atomicity as
    every ParquetTable write (version swap; prior versions stay readable
    via time travel until retention prunes them). The key is computed in
    codegen and dropped before writing; cost = one range shuffle, i.e.
    exactly a sorted write."""
    from youtube_etl_project_spark.operators.layout import morton_key

    df = table.read()
    keyed = (
        df.withColumn("__z", morton_key(col_a, col_b, bits))
        .repartitionByRange(partitions, "__z")
        .sortWithinPartitions("__z")
        .drop("__z")
    )
    table.write(keyed)

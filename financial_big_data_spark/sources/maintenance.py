"""Parquet table maintenance: keyed upsert (MERGE) and small-file
compaction — the operational operators a continuously-ingesting 100 TB
store needs beside the analytical ones.

- ``merge_upsert``: partition-scoped MERGE for plain-parquet tables.
  Lakehouse formats get this from a transaction log; a plain
  ``partitionBy`` layout gets the same effect by rewriting ONLY the
  partitions the update batch touches: matched keys take the update row,
  unmatched target rows survive, new keys append. Dynamic partition
  overwrite makes the rewrite atomic per partition and leaves untouched
  partitions' files alone (their modification times prove it in tests).
- ``compact_small_files``: the small-file problem — thousands of
  kilobyte files from frequent micro-batch appends destroy scan
  parallelism economics (one task per tiny file, footer overhead per
  file). Rewrites a partition directory into ``ceil(bytes/target)``
  right-sized files.

Both operate on directories the caller owns; neither touches
``/root/testdata`` (tests use temp dirs).
"""

from __future__ import annotations

import glob
import math
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..session import temp_conf


def merge_upsert(
    spark: SparkSession,
    path: str,
    updates: DataFrame,
    key: str,
    partition_col: str,
) -> None:
    """MERGE ``updates`` into the partitioned parquet table at ``path``
    on ``key``: update matched, insert new, leave every untouched
    partition's files byte-identical.

    The update batch's distinct ``partition_col`` values (bounded
    metadata — one row per touched partition) scope the rewrite; the
    merged content is (updates) ∪ (target rows of those partitions whose
    key is NOT in the batch) — a left-anti join on the uniform key.
    Requires ``spark.sql.sources.partitionOverwriteMode=dynamic`` for the
    duration of the write (set and restored here).
    """
    target = spark.read.parquet(path)
    touched = [r[0] for r in updates.select(partition_col).distinct().collect()]
    scoped = target.where(F.col(partition_col).isin(touched))
    survivors = scoped.join(
        updates.select(key).distinct(), on=key, how="left_anti"
    )
    merged = survivors.unionByName(updates.select(*target.columns))
    with temp_conf(spark, {"spark.sql.sources.partitionOverwriteMode": "dynamic"}):
        (
            merged.write.mode("overwrite")
            .partitionBy(partition_col)
            .parquet(path)
        )


def compact_small_files(
    spark: SparkSession,
    path: str,
    target_file_bytes: int = 128 * 1024 * 1024,
) -> tuple[int, int]:
    """Rewrite the parquet directory at ``path`` into
    ``ceil(total_bytes / target)`` files; returns (files_before,
    files_after). The rewrite stages into a sibling temp dir then swaps,
    so a failure mid-write never leaves ``path`` truncated."""
    files = [
        f
        for f in glob.glob(os.path.join(path, "**", "*.parquet"), recursive=True)
    ]
    total = sum(os.path.getsize(f) for f in files)
    n_after = max(1, math.ceil(total / target_file_bytes))
    staged = path.rstrip("/") + "__compacting"
    df = spark.read.parquet(path)
    df.repartition(n_after).write.mode("overwrite").parquet(staged)
    import shutil

    old = path.rstrip("/") + "__old"
    os.rename(path, old)
    os.rename(staged, path)
    shutil.rmtree(old, ignore_errors=True)
    after = glob.glob(os.path.join(path, "*.parquet"))
    return len(files), len(after)

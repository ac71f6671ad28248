"""Small-file compaction: the table-maintenance job every long-lived
100 TB lake runs.

Streaming sinks and frequent batch appends leave thousands of KB-sized
parquet files per partition; each file costs a task, a footer read,
and an object-store request, so scan throughput collapses long before
capacity does (the classic small-files problem). Compaction rewrites a
table to ~TARGET-sized files and is a pure layout change — row
multiset identical, asserted in tests.

The rewrite is staged in a directory beside the table, on the same
filesystem, and verified before the old table is deleted and the
staged one renamed into its place, the same pattern as
``ParquetChangelogStore.compact``. The swap is not atomic: between the
delete and the rename the path does not exist, and a crash there
leaves the rows only in the staged directory. At cluster scale the
job runs per-partition (only partitions whose file count exceeds a
threshold rewrite) or becomes a Delta/Iceberg OPTIMIZE.
"""

from __future__ import annotations

import os
import shutil
import tempfile

from pyspark.sql import SparkSession

DEFAULT_TARGET_BYTES = 128 * 1024 * 1024  # the parquet sweet spot


def table_file_stats(spark: SparkSession, path: str) -> dict:
    """(n_files, total_bytes, mean_bytes): the health metric that
    decides whether compaction is worth a rewrite."""
    files = [
        os.path.join(dp, f)
        for dp, _, fs in os.walk(path)
        for f in fs
        if f.endswith(".parquet")
    ]
    sizes = [os.path.getsize(f) for f in files]
    total = sum(sizes)
    return {
        "n_files": len(files),
        "total_bytes": total,
        "mean_bytes": total / len(files) if files else 0.0,
    }


def compact_table(
    spark: SparkSession,
    path: str,
    target_bytes: int = DEFAULT_TARGET_BYTES,
) -> dict:
    """Rewrite ``path`` to ceil(total/target) files (always >= 1).
    Returns before/after stats. The repartition count is derived from
    the CURRENT on-disk bytes — compressed size, the number that
    actually drives scan parallelism — not row counts."""
    before = table_file_stats(spark, path)
    n_out = max(1, -(-before["total_bytes"] // target_bytes))
    df = spark.read.parquet(path)
    staged = tempfile.mkdtemp(
        prefix=".compact-", dir=os.path.dirname(os.path.abspath(path))
    )
    df.repartition(n_out).write.mode("overwrite").parquet(staged)
    # verify the rewrite BEFORE the swap: a failed job must never
    # destroy the source table
    n_before = df.count()
    n_after = spark.read.parquet(staged).count()
    if n_after != n_before:
        shutil.rmtree(staged)
        raise RuntimeError(
            f"compaction row-count mismatch ({n_before} -> {n_after}); "
            "source left untouched"
        )
    shutil.rmtree(path)
    os.rename(staged, path)
    after = table_file_stats(spark, path)
    return {"before": before, "after": after, "target_files": n_out}

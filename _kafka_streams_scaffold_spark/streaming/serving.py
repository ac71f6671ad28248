"""Serving layer: the replacement for the reference's per-instance
state stores + interactive-query HTTP tier (SURVEY.md §2.5 Q1-Q4).

The reference materializes aggregates into RocksDB stores, then
answers point/range reads per instance with HTTP redirect
(``WordCountService.java:110-112``) or scatter-gather merge
(``PurchasesService.java:58-94``). Spark is one logical engine over
all partitions, so serving collapses to: ``foreachBatch`` upserts the
per-batch *update rows* into a changelog table; reads resolve the
latest value per key. No routing, no fan-out, no provenance-header
loop guard.

``ParquetChangelogStore`` is the scale-grade backend: each micro-batch
APPENDS its update rows stamped with the batch id (append-only — no
read-modify-write race), and reads compact on the fly with a
latest-batch-wins window. This is exactly a KTable changelog with
compaction-on-read; a compaction job (or Delta/Iceberg MERGE) bounds
read amplification in production.

``MemoryStore`` is the in-process equivalent for tests and
interactive point lookups.
"""

from __future__ import annotations

import threading

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F


class MemoryStore:
    """Driver-side key -> row map. The moral equivalent of one
    RocksDB store; used by tests and small interactive serving.

    BOUNDED BY DESIGN: every micro-batch is ``collect()``ed into the
    driver, so this store is only safe for aggregated, small-keyspace
    results (demo serving, tests). ``max_keys`` (default 1,000,000 —
    ~hundreds of MB of rows) is a hard guard: exceeding it raises
    rather than silently OOMing the driver. Anything larger belongs in
    ``ParquetChangelogStore`` (append-only, compacting, never
    driver-resident), which ``http_serving`` accepts interchangeably.
    """

    DEFAULT_MAX_KEYS = 1_000_000

    def __init__(self, key_cols: list[str], max_keys: int | None = None):
        self.key_cols = key_cols
        self.max_keys = self.DEFAULT_MAX_KEYS if max_keys is None else max_keys
        self._data: dict[tuple, dict] = {}
        self._lock = threading.Lock()

    def upsert_batch(self, batch_df: DataFrame, batch_id: int) -> None:
        rows = [r.asDict() for r in batch_df.collect()]
        with self._lock:
            for r in rows:
                self._data[tuple(r[k] for k in self.key_cols)] = r
            if len(self._data) > self.max_keys:
                raise RuntimeError(
                    f"MemoryStore exceeded max_keys={self.max_keys} "
                    f"({len(self._data)} keys after batch {batch_id}); "
                    "use ParquetChangelogStore for keyspaces this large"
                )

    def get(self, *key) -> dict | None:
        """Point lookup — Q1 (``WordCountService.java:88-108``)."""
        with self._lock:
            return self._data.get(tuple(key))

    def range_scan(
        self, lo: str, hi: str, key_col: str | None = None
    ) -> list[dict]:
        """Inclusive key-range scan — the exact contract of
        ``store.range(key + "-00000", key + "-99999")`` at
        ``PurchasesService.java:113``."""
        kc = key_col or self.key_cols[0]
        with self._lock:
            rows = list(self._data.values())
        return sorted(
            (r for r in rows if lo <= str(r[kc]) <= hi),
            key=lambda r: str(r[kc]),
        )

    def snapshot(self) -> dict[tuple, dict]:
        with self._lock:
            return dict(self._data)


class ParquetChangelogStore:
    """Append-only parquet changelog with latest-wins reads."""

    def __init__(self, path: str, key_cols: list[str]):
        self.path = path
        self.key_cols = key_cols

    def upsert_batch(self, batch_df: DataFrame, batch_id: int) -> None:
        (
            batch_df.withColumn("_batch_id", F.lit(batch_id))
            .withColumn("_deleted", F.lit(False))
            .write.mode("append")
            .parquet(self.path)
        )

    def apply_cdc_batch(self, changes_df: DataFrame, batch_id: int) -> None:
        """Apply a CDC batch (``operators/temporal.snapshot_diff``
        shape or any frame with a ``change`` column): inserts and
        updates append live rows, deletes append TOMBSTONES — the
        Kafka-changelog delete convention — which latest-wins reads
        then hide and ``compact`` physically drops. Appending (never
        rewriting) keeps the write path idempotent-per-batch and
        cheap; the delete cost is deferred to compaction, exactly like
        a log-compacted topic.

        Contract: a CDC batch carries AT MOST ONE change per key (the
        ``snapshot_diff`` shape guarantees this); rows sharing a key
        within one batch have no intra-batch order, and the read
        breaks such ties deterministically in favor of the tombstone
        (delete-wins, the conservative choice)."""
        (
            changes_df.withColumn("_batch_id", F.lit(batch_id))
            .withColumn("_deleted", F.col("change") == F.lit("delete"))
            .drop("change")
            .write.mode("append")
            .parquet(self.path)
        )

    @staticmethod
    def _with_deleted(df: DataFrame) -> DataFrame:
        """Normalize ``_deleted`` across store generations. A MIXED
        store (files written before the tombstone column existed,
        appended to after) reads back via mergeSchema with NULL
        ``_deleted`` on the legacy rows; ``~NULL`` is NULL, which the
        latest-wins filter would silently drop — data loss. Coalesce
        to False so legacy rows behave as live upserts; the
        column-absent case falls out of the same expression."""
        if "_deleted" not in df.columns:
            return df.withColumn("_deleted", F.lit(False))
        return df.withColumn(
            "_deleted", F.coalesce(F.col("_deleted"), F.lit(False))
        )

    def read(self, spark: SparkSession) -> DataFrame:
        """Compact-on-read: latest batch wins per key, tombstoned keys
        drop out. One shuffle on the key — the same partitioning the
        upstream aggregation used, so at scale this coalesces to a
        near-no-op with AQE."""
        df = spark.read.option("mergeSchema", "true").parquet(self.path)
        df = self._with_deleted(df)
        w = Window.partitionBy(*self.key_cols).orderBy(
            F.col("_batch_id").desc(), F.col("_deleted").desc()
        )
        return (
            df.withColumn("_rn", F.row_number().over(w))
            .filter((F.col("_rn") == 1) & (~F.col("_deleted")))
            .drop("_rn", "_batch_id", "_deleted")
        )

    def get(self, spark: SparkSession, *key) -> dict | None:
        df = self.read(spark)
        for col, val in zip(self.key_cols, key):
            df = df.filter(F.col(col) == val)
        rows = df.collect()
        return rows[0].asDict() if rows else None

    def range_scan(
        self, spark: SparkSession, lo: str, hi: str, key_col: str | None = None
    ) -> list[dict]:
        """Inclusive key-range read (Q2) — the predicate pushes into
        the parquet scan; only the matching key range is read."""
        kc = key_col or self.key_cols[0]
        df = self.read(spark).filter((F.col(kc) >= lo) & (F.col(kc) <= hi))
        return sorted(
            (r.asDict() for r in df.collect()), key=lambda r: str(r[kc])
        )

    def compact(self, spark: SparkSession) -> int:
        """Log compaction (the job Kafka runs on changelog topics):
        rewrite the store to its latest-wins snapshot so reads stop
        paying the full history. The snapshot is stamped with the max
        batch id seen, so upserts appended AFTER a compaction still
        win on read (their batch ids are larger) and the next
        compaction folds them in. Returns the number of live keys.

        The snapshot is staged in a directory beside the store, on the
        same filesystem, so the final rename cannot fail after the old
        store is deleted. The swap is not atomic: between the delete
        and the rename the path does not exist (a concurrent reader
        fails, and after a crash there the rows are only in the staged
        directory), and a batch appended during compaction is lost. At
        cluster scale the same job is a partition-wise rewrite or a
        Delta/Iceberg MERGE."""
        import os
        import shutil
        import tempfile

        raw = spark.read.parquet(self.path)
        max_batch = raw.agg(F.max("_batch_id")).collect()[0][0]
        # The latest-wins read IS the snapshot: tombstones are physically
        # dropped here (their deferred cost) — valid because compaction
        # rewrites the WHOLE store, so no older live row can resurface.
        snapshot = (
            self.read(spark)
            .withColumn("_batch_id", F.lit(max_batch))
            .withColumn("_deleted", F.lit(False))
        )
        staged = tempfile.mkdtemp(
            prefix=".changelog-compact-",
            dir=os.path.dirname(os.path.abspath(self.path)),
        )
        snapshot.write.mode("overwrite").parquet(staged)
        n = spark.read.parquet(staged).count()
        shutil.rmtree(self.path)
        os.rename(staged, self.path)
        return n


def foreach_batch_upsert(store) -> callable:
    def _fn(batch_df: DataFrame, batch_id: int) -> None:
        store.upsert_batch(batch_df, batch_id)

    return _fn

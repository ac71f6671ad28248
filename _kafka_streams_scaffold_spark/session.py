"""SparkSession construction tuned for the 100 TB posture.

Every knob here is chosen for a 1000-executor cluster and merely
*scaled down* for local testing — not the other way round:

- AQE on: runtime coalescing of shuffle partitions, skew-join splitting
  (replaces the reference's manual repartition-topic skew fix,
  ``streams/PurchasesTopology.java:39-47,59-60``).
- Arrow on: every pandas UDF / toPandas crossing is columnar.
- Shuffle partitions sized by env, defaulting to cores locally; on a
  real cluster this would be ~2-3x total cores and AQE coalesces down.
- Broadcast threshold left at default (10 MB) — dimension tables
  (region/nation/customer/supplier/part) broadcast at any SF where they
  fit; joins fall back to sort-merge beyond that automatically.
- File listing always runs on the driver
  (``parallelPartitionDiscovery.threshold`` at its maximum). Spark
  otherwise lists more than 32 root paths with a Spark job of one task
  per path, and a file stream source hands each micro-batch's new files
  over as root paths: a 160-file backlog drain paid a 160-task job
  (about 14 ms of CPU per task) just to stat files the source had
  listed itself. Under ``local[N]`` that job shares the driver's own
  cores, so it can never beat the driver's serial stat. The trade: a
  large partitioned directory on an object store lists serially too; a
  cluster deployment over one lowers the threshold back so such
  listings fan out to executors.
- Spark's cache of generated classes holds 8,192 entries
  (``codegen.cache.maxEntries``; Spark's default is 100). The cache is
  least-recently-used, and one pass of perfbench's 9-query ``batch``
  generates about 144 distinct classes, so at 100 each class was evicted
  before its next use and every warm pass ran janino again on all of
  them. One ``bench.py`` pass over the whole registry (sf0.01) compiles
  about 5,530 distinct classes, and 8,192 holds that with room to spare;
  at 100 the same pass compiled about 8,160. The trade is metaspace: after
  that pass it held about 230 MB against 186 MB at the default. The value
  is JVM-wide and fixed when the first class is generated; a session the
  driver supplies (``__spark_entry__.entry``) keeps Spark's default.
- Streaming checkpoints go through Spark's FileSystem-based checkpoint
  manager (``streaming.checkpointFileManagerClass``), not its default
  FileContext-based one. Without the native Hadoop library (pyspark
  ships none), Hadoop's local filesystem runs a shell command for
  two kinds of file operation: ``FileContext`` resolves symlinks with
  ``readlink``, and ``setPermission`` runs ``chmod``. The default
  manager renames every offset, commit and state file through
  ``FileContext``, so one 160-file ``stream`` drain ran 153 commands
  (112 ``readlink``, 41 ``chmod``), and a fixed-rate trigger's state
  commit took 300-420 ms, whatever its row count. With this manager
  the drain runs 41 commands, none of them ``readlink``, and the state
  commit takes about 11 ms. Both managers end in rename(2) on a local
  disk, and both refuse to overwrite an existing log entry, so a second
  writer of a batch still loses. Every checkpoint uses it: offset,
  commit and source logs, HDFS and RocksDB state stores and
  ``_spark_metadata`` logs. The trade: on HDFS the FileContext manager
  renames atomically and on an object store neither renames cheaply, so
  a cluster deployment chooses its own manager for its storage.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def _cpus() -> int:
    return int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 4))


def build_session(
    app_name: str = "kafka-streams-scaffold-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    cpus = _cpus()
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master or f"local[{cpus}]")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions or cpus))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        # Runtime row-group pruning for selective fact-dim joins: the
        # optimizer injects a bloom filter built from the (filtered)
        # small side into the big side's scan, cutting shuffle input
        # before it is read — free selectivity at 100 TB, no-op when
        # the filter wouldn't help.
        # NOTE: runtimeFilter.semiJoinReduction stays OFF — on this
        # pyspark build enabling it deadlocks the very first job
        # (even a bare range().count() never completes; reproduced
        # deterministically with that single conf). The bloom-filter
        # variant below provides the same scan-side reduction safely.
        .config("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
        # Parquet scans: keep splits small enough that a partition fits
        # comfortably in executor memory even at 100 TB inputs.
        .config("spark.sql.files.maxPartitionBytes", "134217728")
        # List files on the driver, never in a one-task-per-path Spark
        # job: a 160-file stream drain spent ~660 ms of its 1.5 s
        # trigger (160 of its 169 tasks) in that job (see the module
        # docstring).
        .config(
            "spark.sql.sources.parallelPartitionDiscovery.threshold",
            str(2**31 - 1),
        )
        # Keep every generated class of a registry pass (about 5,530 at
        # sf0.01) so a repeated plan shape never runs janino again; 100
        # thrashed, recompiling all ~144 classes of each warm batch pass.
        # Costs about 44 MB of metaspace when the registry fills it.
        # Static: read once per JVM, at the first generated class.
        .config("spark.sql.codegen.cache.maxEntries", "8192")
        # Rename checkpoint files through FileSystem, not FileContext: on
        # a local disk without libhadoop, FileContext forks `readlink` to
        # resolve symlinks, 112 times per 160-file stream drain, and a
        # state commit took 300-420 ms instead of ~11 (see the module
        # docstring).
        # HDFS and object-store deployments choose their own manager.
        .config(
            "spark.sql.streaming.checkpointFileManagerClass",
            "org.apache.spark.sql.execution.streaming.checkpointing."
            "FileSystemBasedCheckpointFileManager",
        )
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()

"""Benchmark harness: runs the headline queries at
``$SPARK_GRAFT_SF_DIR`` (default /root/testdata/sf0.1) on
``local[$SPARK_GRAFT_CPUS]`` and prints ONE JSON line:
``{"metric": ..., "value": N, "unit": "sec", "queries": {...}, "sf": ...}``,
with the per-query median and p90 next to ``value``.

Each query is executed with a count()-style action so the full plan runs
but rows stay on the executors (no driver collect bottleneck in the
measurement).
"""

from __future__ import annotations

import json
import os
import re
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from _kafka_streams_scaffold_spark import pinning, registry, session  # noqa: E402
import __spark_entry__ as entrymod  # noqa: E402


def _calibration(spark) -> float:
    """Host-state probe (r09 verdict ask #6): one FIXED synthetic
    range -> shuffle -> aggregate job, data-independent and
    plan-cached-nothing, run first and last so every BENCH_r{N}.json
    carries two ambient-state readings alongside the query timings.
    The sandbox host has hour-scale slow states (BASELINE.md: up to
    +45% across hours, single queries up to 10x); recording the
    calibration lets any future round NORMALIZE canonical aggregates
    for ambient state instead of re-litigating the swing. Quiet-state
    reference value: see BASELINE.md's variance-envelope section."""
    from pyspark.sql import functions as F

    t0 = time.time()
    (
        spark.range(0, 64_000_000, 1, 32)
        .groupBy((F.col("id") % 4096).alias("k"))
        .agg(F.sum("id").alias("s"), F.count(F.lit(1)).alias("c"))
        .write.format("noop")
        .mode("overwrite")
        .save()
    )
    return round(time.time() - t0, 3)


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    m = re.search(r"sf([0-9.]+)", sf_dir)
    sf = float(m.group(1)) if m else -1.0

    spark = session.build_session("bench")
    spark.sparkContext.setLogLevel("WARN")

    qs = entrymod.queries()
    # Warm the JVM + parquet footers once so per-query numbers measure
    # the plans, not first-touch overheads.
    next(iter(qs.values()))(spark, sf_dir).count() if qs else None
    # Warm the Python worker pool: the first pandas-UDF stage otherwise
    # pays ~0.15s x n_cores of fork + pandas-import, concurrent enough
    # to thrash (measured 5.3s cold vs 0.8s warm for one mapInPandas
    # query at sf0.1). Workers are reused afterwards
    # (spark.python.worker.reuse defaults true).
    cores = spark.sparkContext.defaultParallelism
    spark.range(cores).repartition(cores).mapInPandas(
        lambda it: it, schema="id long"
    ).write.format("noop").mode("overwrite").save()
    pinning.unpersist_all()

    # Warm the calibration plan shape once (its janino first-touch is
    # ~9s and would read as ambient state); the timed runs then
    # measure the host, which is the probe's whole purpose.
    _calibration(spark)
    cal_first = _calibration(spark)

    # Shared-pin families (registry.blocks): all of a family's members
    # run under one outer pin scope, at the first member's slot, so
    # later members read the shared pins earlier members built instead
    # of re-deriving them; every other query is a block of its own.
    # Each query also runs in its own inner scope, which frees its
    # plain pins as soon as it finishes.
    timings: dict[str, float] = {}
    # Queries whose timing was taken with their family's shared pins
    # still WARM from an earlier family member — their numbers
    # measure warm shared-pin reads, not cold builds, so they are NOT
    # comparable to solo/check_oracle timings or to cold rounds'
    # measurements. Tagged in the payload so round-over-round
    # comparisons don't misread the cheaper warm numbers as speedups.
    warm_family: list[str] = []
    codegen = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    compiles0 = codegen.METRIC_COMPILATION_TIME().getCount()
    t_all = time.time()
    for block in registry.blocks():
        with pinning.scope():
            for j, name in enumerate(block):
                if j:
                    warm_family.append(name)
                with pinning.scope():
                    t0 = time.time()
                    df = qs[name](spark, sf_dir)
                    df.write.format("noop").mode("overwrite").save()
                    timings[name] = round(time.time() - t0, 3)
    total = round(time.time() - t_all, 3)
    # janino compiles during the loop: classes Spark's generated-code
    # cache did not already hold (exact, unlike the timings)
    codegen_compiles = codegen.METRIC_COMPILATION_TIME().getCount() - compiles0

    cal_last = _calibration(spark)

    payload = {
        "metric": "total_query_wall_seconds",
        "value": total,
        "query_median_sec": round(statistics.median(timings.values()), 3),
        "query_p90_sec": round(
            statistics.quantiles(timings.values(), n=10, method="inclusive")[-1], 3
        ),
        "codegen_compiles": codegen_compiles,
        "unit": "sec",
        "queries": timings,
        "warm_family": warm_family,
        "calibration_first_sec": cal_first,
        "calibration_last_sec": cal_last,
        "sf": sf,
    }
    line = json.dumps(payload)
    # The driver's BENCH_r{N}.json keeps only a 4KB stdout tail (~69 of
    # 200+ per-query timings survive), so also persist the full JSON at
    # a stable repo path for round-over-round comparison. Overwritten
    # per run; the round number comes from the driver's own artifacts.
    try:
        with open(
            os.path.join(os.path.dirname(os.path.abspath(__file__)),
                         "BENCH_full_latest.json"),
            "w",
        ) as fh:
            fh.write(line + "\n")
    except OSError:
        pass  # read-only checkout must not break the printed contract
    print(line)
    spark.stop()


if __name__ == "__main__":
    main()

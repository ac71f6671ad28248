"""Round-11 pinning internals: checkpoint-backed pins truncate
lineage, preserve values, and release their storage on
unpersist_all — the properties the optimization round's plan-size /
family-sharing wins rest on."""

from __future__ import annotations

import time

import pytest
from pyspark.sql import functions as F

from _kafka_streams_scaffold_spark import pinning


def _cached_rdd_count(spark) -> int:
    return len(spark.sparkContext._jsc.sc().getRDDStorageInfo())


def test_ckpt_pin_truncates_lineage_and_keeps_values(spark):
    df = spark.range(0, 1000).select(
        "id", (F.col("id") % 7).alias("k")
    ).groupBy("k").agg(F.count(F.lit(1)).alias("n"))
    expect = sorted((r.k, r.n) for r in df.collect())

    pinned = pinning.pin(df.groupBy("k").agg(F.sum("n").alias("n")))
    # values identical to the unpinned plan
    direct = sorted(
        (r.k, r.n)
        for r in df.groupBy("k").agg(F.sum("n").alias("n")).collect()
    )
    got = sorted((r.k, r.n) for r in pinned.collect())
    assert got == direct
    assert sorted((r.k, r.n) for r in df.collect()) == expect
    # consumer plans see a leaf, not the aggregation lineage
    plan = pinned._jdf.queryExecution().analyzed().toString()
    assert "LogicalRDD" in plan
    assert "Aggregate" not in plan
    pinning.unpersist_all()


def test_unpersist_all_frees_checkpoint_blocks(spark):
    pinning.unpersist_all()
    base = _cached_rdd_count(spark)
    pinning.pin(spark.range(0, 100000).select("id", (F.col("id") * 2).alias("x")))
    assert _cached_rdd_count(spark) > base
    released = pinning.unpersist_all()
    assert released == 1
    # storage release is synchronous (unlike ContextCleaner GC)
    for _ in range(20):
        if _cached_rdd_count(spark) <= base:
            break
        time.sleep(0.1)
    assert _cached_rdd_count(spark) <= base


def test_persist_mode_still_available(spark):
    with pinning.full_lineage():
        pinned = pinning.pin(spark.range(0, 10).select("id"))
        plan = pinned._jdf.queryExecution().withCachedData().toString()
        assert "InMemoryRelation" in plan


def test_reads_pinned_raises_outside_full_lineage(spark):
    """Checkpoint pins render as the same leaf as any localCheckpoint,
    so outside ``full_lineage()`` the check could only ever answer
    False; it must say so loudly instead."""
    from _kafka_streams_scaffold_spark.plans import inspect as pi

    tree = pi.tree(pinning.pin(spark.range(0, 10).select("id")))
    pinning.unpersist_all()
    with pytest.raises(RuntimeError, match="full_lineage"):
        pi.reads_pinned(tree)
    with pinning.full_lineage():
        assert pi.reads_pinned(
            pi.tree(pinning.pin(spark.range(0, 10).select("id")))
        )


def test_shared_pin_keep_scope_survives_family_release(spark):
    """bench.py's family keep: unpersist_all(keep=prefixes) must retain
    the kept shared pin's storage and drop everything else."""
    pinning.unpersist_all()
    a = pinning.shared_pin(
        ("sim.test_keep", 1), lambda: spark.range(0, 10).select("id")
    )
    pinning.shared_pin(
        ("other.test_drop", 1), lambda: spark.range(0, 20).select("id")
    )
    released = pinning.unpersist_all(keep=("sim.",))
    assert released == 1
    # the kept pin is still the memoized object and still readable
    again = pinning.shared_pin(
        ("sim.test_keep", 1), lambda: spark.range(0, 999).select("id")
    )
    assert again is a
    assert again.count() == 10
    pinning.unpersist_all()

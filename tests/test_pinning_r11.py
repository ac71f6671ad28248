"""Pinning internals: checkpoint-backed pins truncate lineage,
preserve values, and release their storage when their scope ends —
the properties the plan-size / family-sharing wins rest on — and
``parallel`` carries the caller's scope and job group into workers."""

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


def _rdd_id(df) -> int:
    return df._jdf.queryExecution().analyzed().rdd().id()


def _stored(spark) -> set[int]:
    return {i.id() for i in spark.sparkContext._jsc.sc().getRDDStorageInfo()}


def _gone(spark, *dfs) -> bool:
    """True once none of the checkpoint pins' RDDs holds blocks
    (unpersist is asynchronous, so poll briefly)."""
    ids = {_rdd_id(df) for df in dfs}
    for _ in range(50):
        if not ids & _stored(spark):
            return True
        time.sleep(0.1)
    return False


def test_shared_pin_keep_scope_survives_family_release(spark):
    """bench.py's family blocks: an outer scope keeps the shared pins
    its inner (per-query) scopes build; each inner scope frees its own
    plain pins on exit; and concurrent threads' scopes never release
    each other's pins."""
    import threading

    def ten():
        return spark.range(0, 10).select("id")

    with pinning.scope():
        with pinning.scope():
            shared = pinning.shared_pin(("test.scope_shared", 1), ten)
            plain = pinning.pin(spark.range(0, 20).select("id"))
            assert _rdd_id(plain) in _stored(spark)
        assert _gone(spark, plain)
        with pinning.scope():
            again = pinning.shared_pin(
                ("test.scope_shared", 1), lambda: 1 / 0
            )
            assert again is shared
            assert again.count() == 10
    assert _gone(spark, shared)
    assert pinning.unpersist_all() == 0  # nothing leaked into the root

    held, released = threading.Event(), threading.Event()
    out = {}

    def holder():
        with pinning.scope():
            out["a"] = pinning.shared_pin(("test.scope_thread", 1), ten)
            held.set()
            released.wait(30)
            out["a_count"] = out["a"].count()

    def other():
        held.wait(30)
        with pinning.scope():
            out["b"] = pinning.shared_pin(
                ("test.scope_thread", 1),
                lambda: spark.range(0, 30).select("id"),
            )
        out["b_gone"] = _gone(spark, out["b"])
        released.set()

    threads = [threading.Thread(target=f) for f in (holder, other)]
    for t in threads:
        t.start()
    for t in threads:
        t.join(60)
    assert not any(t.is_alive() for t in threads)
    assert out["b"] is not out["a"]  # each thread's outermost scope
    assert out["b_gone"]
    assert out["a_count"] == 10  # B's exit did not free A's pin
    assert _gone(spark, out["a"])


def test_scope_bookkeeping_under_thread_stress(spark, monkeypatch):
    """Many ``parallel`` workers (more than cores) racing ``pin`` and
    one ``shared_pin`` key in one scope: one build, one shared object,
    and every pin released exactly once on exit — a lost update in the
    scope's bookkeeping would break a count."""
    import sys

    released: list[object] = []
    monkeypatch.setattr(pinning, "_materialize", lambda df, truncate: df)
    monkeypatch.setattr(pinning, "_release", released.append)
    builds: list[int] = []
    n_threads, n_pins = 32, 200

    def work(i: int) -> object:
        def build() -> object:  # slow, like the Spark job it stands for
            builds.append(i)
            time.sleep(0.05)
            return object()

        shared = pinning.shared_pin(("test.stress", 1), build)
        for _ in range(n_pins):
            pinning.pin(object())
        return shared

    old = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        with pinning.scope():
            got = pinning.parallel(
                spark, *(lambda i=i: work(i) for i in range(n_threads))
            )
    finally:
        sys.setswitchinterval(old)
    assert len(builds) == 1
    assert all(g is got[0] for g in got)
    assert len(released) == n_threads * n_pins + 1
    assert len({id(x) for x in released}) == len(released)
    assert pinning.unpersist_all() == 0


def test_parallel_jobs_inherit_the_callers_job_group(spark, sf_dir):
    """Every job a composite query submits from ``pinning.parallel``
    workers carries the caller's job group (per-query attribution)."""
    from _kafka_streams_scaffold_spark.operators import curation

    sc = spark.sparkContext
    tracker = sc.statusTracker()
    before = set(tracker.getJobIdsForGroup(None))
    sc.setJobGroup("test-parallel-group", "corpus_keep_full")
    try:
        curation.corpus_keep_full_query(spark, sf_dir).count()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
        pinning.unpersist_all()
    in_group = tracker.getJobIdsForGroup("test-parallel-group")
    ungrouped = set(tracker.getJobIdsForGroup(None)) - before
    assert in_group
    assert not ungrouped, f"{len(ungrouped)} jobs escaped the job group"

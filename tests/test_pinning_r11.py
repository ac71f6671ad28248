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


def test_reads_tells_a_pin_from_other_rdd_leaves(spark, pin_builds):
    """A consumer of a pin, of a ``checkpoint`` and of a
    ``createDataFrame`` frame all render the same ``Scan ExistingRDD``
    leaf; ``reads`` is true for the pin's consumer only."""
    from _kafka_streams_scaffold_spark.plans import inspect as pi

    def ten():
        return spark.range(0, 10).select("id")

    pinned = pinning.pin(ten())
    others = (
        pinning.checkpoint(ten()),
        spark.createDataFrame([(3,)], "id long"),
    )
    for df in (pinned, *others):
        assert "Scan ExistingRDD" in pi.tree(df.where("id > 2"))
    assert pin_builds.reads(pinned.where("id > 2"))
    assert not any(pin_builds.reads(df.where("id > 2")) for df in others)


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
    monkeypatch.setattr(pinning, "_materialize", lambda df: df)
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


_LOOP_QUERIES = (
    "kcore",
    "dedup_clusters",
    "dup_pagerank",
    "embedding_dup_clusters",
    "cluster_keep_list",
    "facility_location_coreset",
    "linkage_entities",
)


@pytest.mark.parametrize("name", _LOOP_QUERIES)
def test_scope_frees_the_iterative_loops_rounds(spark, sf_dir, name):
    """The CC, PageRank, k-core and facility-location loops cut their
    rounds through ``pinning``, so a query's scope frees every RDD the
    query stored — rounds included — with rows equal to a root-scope
    run."""
    from _kafka_streams_scaffold_spark import registry

    fn = registry.queries()[name]
    pinning.unpersist_all()
    expect = sorted(map(tuple, fn(spark, sf_dir).collect()), key=repr)
    pinning.unpersist_all()
    before = _stored(spark)
    with pinning.scope():
        got = sorted(map(tuple, fn(spark, sf_dir).collect()), key=repr)
    assert got == expect
    for _ in range(50):
        left = _stored(spark) - before
        if not left:
            break
        time.sleep(0.1)
    assert not left, f"{len(left)} RDDs still stored after the scope"


def test_operators_and_sources_store_nothing_outside_pinning():
    """Only ``pinning`` decides what the operators and sources store:
    no bare checkpoint, cache or persist call in their text."""
    import pathlib
    import re

    pkg = pathlib.Path(pinning.__file__).parent
    bare = re.compile(r"localCheckpoint\(|\.cache\(\)|\.persist\(")
    hits = [
        f"{path.relative_to(pkg)}:{i}"
        for sub in ("operators", "sources")
        for path in sorted((pkg / sub).rglob("*.py"))
        for i, line in enumerate(path.read_text().splitlines(), 1)
        if bare.search(line)
    ]
    assert not hits, hits

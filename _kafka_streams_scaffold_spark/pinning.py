"""Eager persist for derived tables that feed self-joins, with a
session-lifetime leak guard.

Without a persist, each side of a self-join re-runs the ENTIRE
upstream pipeline (scan -> derive -> aggregate): the physical plan
shows two FileScans and zero ReusedExchange, because the join sides
shuffle on different keys than the derivation produced. Pinned tables
(shingle lists, minhash signatures, IVF cells) are orders of magnitude
smaller than their inputs, and MEMORY_AND_DISK spills rather than
OOMs. (At true cluster scale you'd write them to a parquet stage
table; persist is the in-session equivalent.)

Materialized EAGERLY: when both consumers sit in one job, their tasks
race to fill the cache and each may recompute its partitions (persist
never blocks on an in-flight computation) — measured as 2-7s
run-to-run variance on the LSH pipeline. One count() up front makes
every consumer a pure cache read.

Every pin is tracked; harnesses that loop over many queries in one
session (bench.py, tools/check_oracle.py, the driver) call
``unpersist_all()`` between queries so cached tables don't accumulate
for the session lifetime.
"""

from __future__ import annotations

import threading
from contextlib import contextmanager

from pyspark.sql import DataFrame
from pyspark.storagelevel import StorageLevel

_PINNED: list[DataFrame] = []
_SHARED: dict[object, DataFrame] = {}
_KEY_LOCKS: dict[object, threading.Lock] = {}
_KEY_LOCKS_GUARD = threading.Lock()

# Round-11 optimization: pins are checkpoint-backed by default.
#
# A persist()-ed pin keeps its FULL logical lineage in every consumer
# plan. Composite queries that join a pinned table against itself (or
# stack pinned stages three deep — the kNN family) then carry the
# whole upstream chain once per reference: knn_triangles' formatted
# plan rendered 4,091 Exchange nodes pre-change, and Catalyst
# analysis + CacheManager plan-matching over those trees dominated
# the build phase (measured: build 7.5s / exec 2.8s at sf0.1; with
# truncation build 4.7s / exec 0.3s). ``localCheckpoint(eager=True)``
# materializes exactly once (same work as persist+count) and hands
# consumers a LogicalRDD leaf — partitioning and ordering are
# preserved (Dataset.localCheckpoint keeps outputPartitioning /
# outputOrdering), values are identical, and plans collapse to the
# post-pin operators.
#
# Cluster posture: localCheckpoint stores unreplicated blocks — the
# same trade clustering.py documents for its iteration checkpoints;
# a production deployment swaps in reliable checkpoint(dir) or a
# parquet stage table. ``full_lineage()`` switches to full-lineage
# persist pins for the plan inspection tests, which audit upstream
# plan shapes through the pin boundary.
_TRUNCATE = True


@contextmanager
def full_lineage():
    """Scope with persist-backed (full-lineage) pins: plan-shape
    audits that must see THROUGH the pin boundary (scan counts,
    anti-pattern sweeps over complete trees) run inside this, so the
    checkpoint default never hides an upstream plan from them. Pins
    created inside are released on exit."""
    global _TRUNCATE
    prev = _TRUNCATE
    _TRUNCATE = False
    try:
        yield
    finally:
        unpersist_all()
        _TRUNCATE = prev


def pin(df: DataFrame) -> DataFrame:
    if _TRUNCATE:
        df = df.localCheckpoint(eager=True)
    else:
        df = df.persist(StorageLevel.MEMORY_AND_DISK)
        df.count()
    _PINNED.append(df)
    return df


def _release(df: DataFrame) -> None:
    """Free a pinned table's storage. persist-pins release through
    ``unpersist()``; checkpoint-pins hold their blocks on the
    underlying RDD (DataFrame.unpersist is a CacheManager no-op for
    them), so the RDD is reached through the LogicalRDD node and
    unpersisted directly — without this, a long multi-query session
    (bench.py over the whole registry) would leak every pin until
    the ContextCleaner's eventual GC."""
    try:
        analyzed = df._jdf.queryExecution().analyzed()
        if analyzed.getClass().getSimpleName() == "LogicalRDD":
            analyzed.rdd().unpersist(False)
            return
    except Exception:
        pass
    df.unpersist()


def shared_pin(key, build) -> DataFrame:
    """Memoized ``pin``: queries that derive the SAME intermediate
    (e.g. the dedup tiers' shingle table — four detectors, one
    artifact) share one materialization instead of re-deriving it
    per query. Keyed by the caller's (name, input-semantic-hash)
    tuple so distinct inputs — different sf_dirs, monkeypatched test
    frames — never collide. Lifetime matches ``pin``: cleared by
    ``unpersist_all`` (which harnesses call between queries), so
    sharing only ever spans one composite query or one deliberate
    multi-query scope. At cluster scale this is the stage-table each
    tier would read instead of re-shingling the corpus.

    Thread-safe via double-checked per-key locking, so composite
    queries may build plans that share pinned intermediates from
    concurrent threads (multi-thread job submission): the first
    caller builds, latecomers block on that key only — never a
    duplicate materialization, never a global serialization."""
    df = _SHARED.get(key)
    if df is not None:
        return df
    with _KEY_LOCKS_GUARD:
        lock = _KEY_LOCKS.setdefault(key, threading.Lock())
    with lock:
        df = _SHARED.get(key)
        if df is not None:
            return df
        df = pin(build())
        _SHARED[key] = df
        return df


def unpersist_all(keep: tuple[str, ...] = ()) -> int:
    """Release every pinned table; returns how many were released.
    Consumers that already materialized their results are unaffected.

    RELEASE-ORDER CONTRACT (r11 ADVICE): in the default checkpoint
    mode a released pin is UNRECOVERABLE — ``_release`` unpersists the
    localCheckpointed RDD whose lineage was truncated, so a consumer
    that re-executes a released pin fails with a missing-checkpoint
    error instead of recomputing (and unreplicated local-checkpoint
    blocks likewise die with their executor on a real cluster).
    Harness and test call sites must therefore fully execute every
    consumer BEFORE releasing (bench.py, check_oracle.py and the test
    suites all do: one query's actions complete before the release
    between queries). Only persist-mode pins (``full_lineage()``)
    keep the old recompute-on-release semantics — use that mode for
    any path that may re-execute a released frame.

    ``keep``: optional tuple of key prefixes. SHARED pins whose key is
    a tuple with a ``str`` first element starting with one of them
    (and their cached tables) survive the release — the
    scope harnesses use to let a CONSECUTIVE family of composite
    queries (the dedup audits, which all derive the same
    shingle/signature/pair roots) share one materialization instead
    of each rebuilding it, while still clearing everything else
    between queries. Keeping a derived pin keeps only ITSELF alive,
    not its upstream lineage — shared chains (capped_inter over
    capped_shingles) stay correct because each level is its own
    shared pin and the prefixes keep the whole family."""
    if not keep:
        n = len(_PINNED)
        while _PINNED:
            _release(_PINNED.pop())
        _SHARED.clear()
        # shared_pin keys embed input semantic hashes, so a long
        # multi-query session (bench.py over the whole registry) would
        # otherwise accumulate one never-freed lock per (name, input)
        # key. Locks are only meaningful while their pin might be
        # built, and we just cleared all pins.
        with _KEY_LOCKS_GUARD:
            _KEY_LOCKS.clear()
        return n
    kept = {
        k: df
        for k, df in _SHARED.items()
        if isinstance(k, tuple) and str(k[0]).startswith(keep)
    }
    kept_ids = {id(df) for df in kept.values()}
    n = 0
    survivors: list[DataFrame] = []
    while _PINNED:
        df = _PINNED.pop()
        if id(df) in kept_ids:
            survivors.append(df)
        else:
            _release(df)
            n += 1
    _PINNED.extend(survivors)
    _SHARED.clear()
    _SHARED.update(kept)
    with _KEY_LOCKS_GUARD:
        for k in list(_KEY_LOCKS):
            if k not in kept:
                del _KEY_LOCKS[k]
    return n

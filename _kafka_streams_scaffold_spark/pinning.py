"""Eager pins for derived tables that feed self-joins, with lexically
scoped lifetimes.

Without a pin, each side of a self-join re-runs the ENTIRE upstream
pipeline (scan -> derive -> aggregate): the join sides shuffle on
different keys than the derivation produced, so the plan shows two
FileScans and zero ReusedExchange. Pinned tables (shingle lists,
minhash signatures, IVF cells) are orders of magnitude smaller than
their inputs; at cluster scale they would be parquet stage tables.
Pins materialize EAGERLY: consumers sharing one job would otherwise
race to fill the cache and recompute partitions (2-7s run-to-run
variance on the LSH pipeline).

Pins are CHECKPOINT-BACKED: ``localCheckpoint(eager=True)`` hands
consumers a LogicalRDD leaf (partitioning, ordering and values
preserved), so composite plans stop carrying every upstream chain
once per reference (knn_triangles rendered 4,091 Exchange nodes as a
persist pin; build 7.5s -> 4.7s, exec 2.8s -> 0.3s at sf0.1). The
blocks are unreplicated; production would use reliable checkpoints.
``full_lineage()`` opens a scope of persist-backed pins for plan
audits that must see THROUGH the pin boundary.

``checkpoint`` is the LAZY cut for the iterative loops' rounds
(connected components, PageRank, k-core): the first action that reads
a round materializes it, and it truncates in every pin mode. Pins and
checkpoints are the only frames the operators and sources store, and
both belong to a scope, so a query's scope frees everything it
materialized instead of leaving rounds to Spark's ContextCleaner.

Lifetimes are SCOPES, held in a ``ContextVar``; ``with scope():``
releases exactly the pins it owns on exit. ``pin`` registers in the
innermost open scope. ``shared_pin`` keeps its pin and its per-key
build lock in the outermost open scope, so a harness's outer scope
around a run of queries (bench.py's families) shares them while each
query's inner scope frees its plain pins. With no scope open both use
the root scope, which ``unpersist_all()`` releases. Concurrent callers
(the threaded HTTP tier) open scopes in their own contexts and never
free each other's pins; ``parallel`` runs worker threads in copies of
the caller's context, so workers pin into the caller's scope.
"""

from __future__ import annotations

import contextvars
import threading
from concurrent.futures import ThreadPoolExecutor
from contextlib import contextmanager

from pyspark.sql import DataFrame
from pyspark.storagelevel import StorageLevel


class _Scope:
    """One pin lifetime: the pins it owns and, when it is the outermost
    open scope, the shared pins keyed in it with their build locks."""

    def __init__(self, parent: _Scope | None, truncate: bool):
        self.parent = parent
        self.truncate = truncate
        self.pinned: list[DataFrame] = []
        self.shared: dict[object, DataFrame] = {}
        self.locks: dict[object, threading.Lock] = {}
        self.guard = threading.Lock()

    def outermost(self) -> _Scope:
        s = self
        while s.parent not in (None, _ROOT):
            s = s.parent
        return s

    def add(self, df: DataFrame) -> None:
        with self.guard:
            self.pinned.append(df)

    def release(self) -> int:
        with self.guard:
            pinned, self.pinned = self.pinned, []
            self.shared.clear()
            self.locks.clear()
        for df in reversed(pinned):
            _release(df)
        return len(pinned)


_ROOT = _Scope(None, truncate=True)
_SCOPE: contextvars.ContextVar[_Scope] = contextvars.ContextVar(
    "pin_scope", default=_ROOT
)


@contextmanager
def _open(truncate: bool):
    s = _Scope(_SCOPE.get(), truncate)
    token = _SCOPE.set(s)
    try:
        yield
    finally:
        _SCOPE.reset(token)
        s.release()


def scope():
    """Open a pin lifetime: pins made inside (and shared pins, when
    this is the outermost open scope) are released on exit. The pin
    mode is inherited from the enclosing scope."""
    return _open(_SCOPE.get().truncate)


def full_lineage():
    """A scope with persist-backed (full-lineage) pins: plan-shape
    audits that must see THROUGH the pin boundary (scan counts,
    anti-pattern sweeps over complete trees) run inside this, so the
    checkpoint default never hides an upstream plan from them."""
    return _open(False)


def truncating() -> bool:
    """Whether pins made here are checkpoint-backed (lineage-truncating)."""
    return _SCOPE.get().truncate


def _materialize(df: DataFrame, truncate: bool) -> DataFrame:
    if truncate:
        return df.localCheckpoint(eager=True)
    df = df.persist(StorageLevel.MEMORY_AND_DISK)
    df.count()
    return df


def pin(df: DataFrame) -> DataFrame:
    s = _SCOPE.get()
    df = _materialize(df, s.truncate)
    s.add(df)
    return df


def checkpoint(df: DataFrame) -> DataFrame:
    """A LAZY lineage-truncating checkpoint owned by the innermost open
    scope: the per-round frames of the iterative loops (connected
    components, PageRank, k-core). The first action that reads it
    materializes it inside that action's own job. Unlike ``pin`` it
    ignores the pin mode and truncates even under ``full_lineage()``:
    persist-backed rounds would regrow the plan every round (187 s ->
    14 s for seven CC rounds at sf0.01)."""
    df = df.localCheckpoint(eager=False)
    _SCOPE.get().add(df)
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
    per query. Keyed by the caller's tuple of a name, the input frame
    ``tables.table`` returned, and any dials. Frames hash by identity,
    and the loader returns a new frame when its file changes, so
    distinct inputs — different sf_dirs, a rewritten file,
    monkeypatched test frames — never collide. Key on the loader's
    frame, never on one derived from it: a derived frame is a new
    object on every build and would never share. The pin lives in the
    outermost open scope: sharing spans one composite query, or every
    query a harness runs under one outer scope.

    Thread-safe via double-checked per-key locking, so composite
    queries may build plans that share pinned intermediates from
    concurrent threads (``parallel``): the first caller builds,
    latecomers block on that key only — never a duplicate
    materialization, never a global serialization."""
    s = _SCOPE.get()
    home = s.outermost()
    df = home.shared.get(key)
    if df is not None:
        return df
    with home.guard:
        lock = home.locks.setdefault(key, threading.Lock())
    with lock:
        df = home.shared.get(key)
        if df is None:
            df = _materialize(build(), s.truncate)
            home.add(df)
            home.shared[key] = df
        return df


def parallel(spark, *thunks) -> list:
    """Run each thunk on its own thread and return their results in
    order. Each runs in a copy of the caller's context wrapped by
    ``inheritable_thread_target``, so workers pin into the caller's
    scope and mode, and their jobs carry the caller's job group and
    tags. The first exception propagates."""
    from pyspark.util import inheritable_thread_target

    wrap = inheritable_thread_target(spark)
    calls = [wrap(contextvars.copy_context().run) for _ in thunks]
    with ThreadPoolExecutor(len(thunks)) as ex:
        futures = [ex.submit(c, t) for c, t in zip(calls, thunks)]
        return [f.result() for f in futures]


def unpersist_all() -> int:
    """Release every pin in the root scope (the one used while no
    scope is open); returns how many were released. Pins owned by open
    scopes — another thread's request, an enclosing harness block —
    are untouched. Consumers that already materialized their results
    are unaffected.

    RELEASE-ORDER CONTRACT: a released ``checkpoint`` (any mode) or
    pin (default mode) is UNRECOVERABLE — ``_release`` unpersists the
    localCheckpointed RDD whose lineage was truncated, so a consumer
    that re-executes one fails with a missing-checkpoint error instead
    of recomputing (unreplicated local-checkpoint blocks likewise die
    with their executor on a real cluster). Every consumer must
    therefore fully execute BEFORE the scope that owns them is
    released: inside the ``with scope():`` block, or before the
    ``unpersist_all()`` that ends a root-scope query (bench.py,
    check_oracle.py and the test suites all do). A checkpoint-backed
    pin holds its own rows, so a shared pin outlives the checkpoints
    of the inner scope that built it. Only persist-backed pins
    (``full_lineage()``) that read no ``checkpoint`` recompute after
    release."""
    return _ROOT.release()

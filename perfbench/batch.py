"""The batch workloads: ``batch`` (in BENCHMARK.json), ``tail`` and ``pinned``.

One closed-loop client runs the workload's fixed query list serially:
it calls the registered query function (``build``), executes the
result with ``collect()`` (``execute``), and releases every pin with
``pinning.unpersist_all()`` (``release``) before the next query. The
collected rows are compared against the query's DuckDB oracle after
each pass, outside the timed region.

In a traced pass the client also forces planning before execution
(``plan``), reads Catalyst's phase tracker, counts ``tables.table``
calls by wrapping the module attribute every call site goes through,
and reads the persisted-RDD registry before and after the release.
The Spark event log of the traced session is attributed to these
spans by time window afterwards.
"""

from __future__ import annotations

import json
import os
import statistics
import threading
import time

import common
import datagen
import eventlog

QUERIES = os.path.join(os.path.dirname(os.path.abspath(__file__)), "queries.json")
SF = 0.01
# Untimed passes after the cold one: the JIT is still compiling the
# hot paths, and the first warm pass runs ~20% slower than later ones.
WARM_PASSES = 1
MIN_PASSES = 2


class TableCounter:
    """Counts ``tables.table`` calls and their time while installed."""

    def __init__(self, tables_mod):
        self._mod = tables_mod
        self._orig = tables_mod.table
        self._lock = threading.Lock()
        self.calls = 0
        self.seconds = 0.0

    def __enter__(self):
        orig = self._orig

        def counted(*args, **kwargs):
            t0 = time.perf_counter()
            try:
                return orig(*args, **kwargs)
            finally:
                with self._lock:
                    self.calls += 1
                    self.seconds += time.perf_counter() - t0

        self._mod.table = counted
        return self

    def __exit__(self, *exc):
        self._mod.table = self._orig


def _phases_ms(df) -> dict[str, int]:
    """Force planning and read Catalyst's phase tracker."""
    qe = df._jdf.queryExecution()
    qe.executedPlan()
    phases = qe.tracker().phases()
    out = {}
    for k in ("analysis", "optimization", "planning"):
        opt = phases.get(k)
        out[k] = int(opt.get().durationMs()) if opt.isDefined() else 0
    return out


class Client:
    def __init__(self, names, sf_dir, canon):
        from _kafka_streams_scaffold_spark import pinning, registry, tables

        self.pinning, self.tables = pinning, tables
        fns = registry.queries()
        self.fns = [(n, fns[n]) for n in names]
        self.sf_dir = sf_dir
        self.canon = canon
        self.expected: dict = {}
        self.pass_cpu: list[float] = []
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []

    def load_expected(self) -> None:
        """Each query's DuckDB oracle rows, canonicalized."""
        from _kafka_streams_scaffold_spark import registry

        oracles = registry.oracle_sql()
        con = common.duck_connection(self.sf_dir)
        try:
            for name, _ in self.fns:
                self.expected[name] = common.oracle_rowset(con, oracles[name], self.canon)
        finally:
            con.close()

    def _check(self, name, cols, rows) -> None:
        got = (sorted(cols), self.canon._rowset(cols, rows))
        if got != self.expected[name]:
            self.failed += 1
            self.errors.append(f"{name}: rows differ from the DuckDB oracle")

    def run_pass(self, spark, traced: bool = False, probe_pins: bool = False):
        """One serial pass; returns (pass seconds, per-query records)."""
        recs, results = [], []
        # JIT time counts: the JIT keeps compiling through every pass
        # (about 5 of the sixth warm pass's 12.5 CPU seconds)
        cpu0 = common.cpu_s(spark, jit=True)
        t_pass = time.perf_counter()
        for i, (name, fn) in enumerate(self.fns):
            self.attempted += 1
            rec: dict = {"name": name, "qid": i}
            if traced or probe_pins:
                # by RDD id: RDDs another query leaked are not this query's
                # pins, and Spark's cleaner may drop them at any moment
                before = common.persisted(spark).keys()
            t0, w0 = time.perf_counter(), time.time()
            try:
                if traced:
                    with TableCounter(self.tables) as tc:
                        df = fn(spark, self.sf_dir)
                    rec["table_calls"], rec["table_s"] = tc.calls, tc.seconds
                    rec["build"] = (w0, time.time())
                    rec["phases"] = _phases_ms(df)
                    rec["plan"] = (rec["build"][1], time.time())
                else:
                    df = fn(spark, self.sf_dir)
                cols, rows = df.columns, df.collect()
                if traced:
                    rec["execute"] = (rec["plan"][1], time.time())
                results.append((name, cols, rows))
            except Exception as ex:  # noqa: BLE001 - count it and go on
                self.failed += 1
                self.errors.append(f"{name}: {type(ex).__name__}: {str(ex)[:300]}")
            finally:
                if traced or probe_pins:
                    now = common.persisted(spark)
                    new = now.keys() - before
                    rec["pins"], rec["pin_bytes"] = len(new), sum(now[i] for i in new)
                r0 = time.time()
                rec["released"] = self.pinning.unpersist_all()
                if traced:
                    rec["release"] = (r0, time.time())
                if traced or probe_pins:
                    rec["live_after_release"] = len(new & common.persisted(spark).keys())
            rec["seconds"] = time.perf_counter() - t0
            recs.append(rec)
        pass_s = time.perf_counter() - t_pass
        self.pass_cpu.append(common.cpu_s(spark, jit=True) - cpu0)
        for name, cols, rows in results:
            self._check(name, cols, rows)
        return pass_s, recs


def _timed_passes(client, spark, seconds: float, traced: bool = False):
    passes, recs = [], []
    deadline = time.perf_counter() + seconds
    while len(passes) < MIN_PASSES or time.perf_counter() < deadline:
        s, r = client.run_pass(spark, traced=traced)
        passes.append(s)
        for q in r:
            q["pass"] = len(passes) - 1
        recs += r
    return passes, recs


def run(workload: str, seed: int, seconds: float, trace: bool, work: str) -> dict:
    with open(QUERIES) as fh:
        lists = json.load(fh)
    names = lists[workload]
    sf_dir = datagen.write(SF, seed, os.path.join(work, "data"))
    client = Client(names, sf_dir, common.load_check_oracle())
    # DuckDB computes the reference rows while the JVM starts.
    oracle = threading.Thread(target=client.load_expected)
    oracle.start()

    def one():
        spark = common.build_session()
        client.tables.load_all(spark, client.sf_dir)
        return spark

    spark, setups, setup_cpu = common.set_up(common.SETUPS, one, after_first=oracle.join)
    cal_before = common.calibration_s(spark)
    _, cold = client.run_pass(spark, probe_pins=True)
    for _ in range(WARM_PASSES):
        client.run_pass(spark)
    budget = seconds / 2 if trace else seconds
    n_untimed = len(client.pass_cpu)
    passes, recs = _timed_passes(client, spark, budget)
    pass_cpu = client.pass_cpu[n_untimed:]
    # A query's latency is its median over the passes, so a pass still
    # warming the JIT does not set the percentiles.
    per_query = _per_query(recs)
    out = {
        "setup_s": statistics.median(setup_cpu),
        "pass_cpu_s": statistics.median(pass_cpu),
        "peak_rss_mb": common.peak_rss_mb(spark),
        "wall.pass_s": statistics.median(passes),
        "wall.latency_p50_s": common.quantile(list(per_query.values()), 0.5),
        "wall.latency_p90_s": common.quantile(list(per_query.values()), 0.9),
    }
    layers, checked = None, cold
    if trace:
        spark.stop()
        log_dir = os.path.join(work, "eventlog")
        spark = common.build_session(log_dir)
        # the new session's table relations and an untimed pass, as
        # before the untraced passes, so the traced passes are warm
        client.tables.load_all(spark, client.sf_dir)
        client.run_pass(spark)
        traced, trecs = _timed_passes(client, spark, budget, traced=True)
        checked = cold + trecs
    cal_after = common.calibration_s(spark)
    spark.stop()
    if trace:
        log = eventlog.read(log_dir)
        layers = _layers(log, trecs, len(traced))
        layers["trace.pass_s"] = statistics.median(traced)
        layers["trace.overhead_frac"] = layers["trace.pass_s"] / out["wall.pass_s"] - 1
        common.write_trace(workload, seed, _spans(log, trecs))

    return {
        "metrics": out,
        "layers": layers,
        "calibration": (cal_before, cal_after),
        "attempted": client.attempted,
        "failed": client.failed,
        "errors": client.errors,
        "premise": _premise(checked, set(lists["tail"]), set(lists["pinned"])),
        "notes": f"setups {[round(x, 2) for x in setups]} "
        f"setup cpu {[round(x, 2) for x in setup_cpu]} passes {[round(x, 2) for x in passes]} "
        f"cpu {[round(x, 2) for x in pass_cpu]} "
        f"per query {({n: round(v, 3) for n, v in per_query.items()})}",
    }


def _premise(recs, tail: set, pinned: set) -> list[str]:
    """Queries from the tail list build no pin; queries from the pinned
    list build pins, and every pin that ``pinning.unpersist_all()``
    released is gone from Spark's registry. RDDs persisted outside the
    pinning layer (bare ``localCheckpoint`` calls) survive the release;
    they are reported in ``pinning.live_after_release``, not failed."""
    out = []
    for r in recs:
        if r["name"] in tail and r["pins"]:
            out.append(f"{r['name']} built {r['pins']} pins; tail queries build none")
        if r["name"] in pinned and not r["pins"]:
            out.append(f"{r['name']} built no pin")
        if r["name"] in pinned and r["live_after_release"] > r["pins"] - r["released"]:
            out.append(f"{r['name']}: released pins still registered after the release")
    return sorted(set(out))


def _per_query(recs) -> dict[str, float]:
    by: dict[str, list[float]] = {}
    for r in recs:
        by.setdefault(r["name"], []).append(r["seconds"])
    return {n: statistics.median(v) for n, v in by.items()}


def _layers(log, recs, n_passes: int) -> dict[str, float]:
    """Per-layer metrics of the traced passes, as per-pass means."""
    def spans(kind):
        return [r[kind] for r in recs if kind in r]

    def total(kind):
        return sum(e - s for s, e in spans(kind))

    def phase(k):
        return sum(r.get("phases", {}).get(k, 0) for r in recs)

    build_jobs = eventlog.jobs_in(log, spans("build"))
    all_jobs = eventlog.jobs_in(log, [(r["build"][0], r["release"][1]) for r in recs if "build" in r])
    # In the default pin mode a pin is materialized by an eager
    # localCheckpoint; the event log's call site names that operation.
    pin_jobs = [j for j in all_jobs if j.call_site.startswith("localCheckpoint")]
    build_s = total("build")
    build_jobs_s = eventlog.clipped_ms(build_jobs, spans("build")) / 1000
    m = {
        "registry.build_s": build_s,
        "registry.build_self_s": build_s - build_jobs_s,
        "registry.build_jobs_s": build_jobs_s,
        "tables.table_calls": sum(r.get("table_calls", 0) for r in recs),
        "tables.table_s": sum(r.get("table_s", 0.0) for r in recs),
        "catalyst.analysis_ms": phase("analysis"),
        "catalyst.optimization_ms": phase("optimization"),
        "catalyst.planning_ms": phase("planning"),
        "exec.execute_s": total("execute"),
        "pinning.pins_built": sum(r.get("pins", 0) for r in recs),
        "pinning.released": sum(r.get("released", 0) for r in recs),
        "pinning.pin_bytes": sum(r.get("pin_bytes", 0) for r in recs),
        "pinning.pin_jobs_s": eventlog.union_ms([(j.start_ms, j.end_ms) for j in pin_jobs]) / 1000,
        "pinning.release_s": total("release"),
    }
    m = {k: v / n_passes for k, v in m.items()}
    m.update(eventlog.exec_metrics(
        eventlog.totals(log, all_jobs), sum(r["seconds"] for r in recs), n_passes
    ))
    m["pinning.live_after_release"] = max(r.get("live_after_release", 0) for r in recs)
    return m


def _spans(log, recs) -> list[dict]:
    out = []
    for r in recs:
        qid = f"p{r['pass']}.q{r['qid']}.{r['name']}"
        for kind in ("build", "plan", "execute", "release"):
            if kind in r:
                s, e = r[kind]
                attrs = {}
                if kind == "build":
                    attrs = {"table_calls": r.get("table_calls", 0), "table_s": r.get("table_s", 0)}
                elif kind == "plan":
                    attrs = r.get("phases", {})
                elif kind == "release":
                    attrs = {"pins": r.get("pins", 0), "pin_bytes": r.get("pin_bytes", 0),
                             "live_after_release": r.get("live_after_release", 0)}
                out.append({"id": qid, "name": kind, "start": s, "end": e, **attrs})
                for j in eventlog.jobs_in(log, [(s, e)]):
                    out.append({"id": qid, "name": "job", "parent": kind, "job_id": j.job_id,
                                "start": j.start_ms / 1000, "end": j.end_ms / 1000,
                                "call_site": j.call_site})
    return out

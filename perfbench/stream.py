"""The ``stream`` workload: the Purchases topology over a FileTopic.

Input is Kafka-shaped FileTopic records (``filetopic.TOPIC_SCHEMA``),
one parquet file per generator tick, read back through
``filetopic.read_topic_stream`` and ``filetopic.consume_decoded``. The
aggregate from ``pipeline.streaming_purchases`` is written by
``foreachBatch`` into a ``MemoryStore`` that an
``InteractiveQueryServer`` serves on a point route and on the
``/purchases/{customer}`` range route.

Two phases, on one checkpoint:

- drain: ``pipeline.run_update_into_store`` (an ``availableNow``
  trigger) replays a fixed backlog; repeated on fresh checkpoints and
  the median CPU time of the measured drains is reported;
- fixed rate: an open-loop generator thread writes one file per tick
  at RATE_EPS events/s while two closed-loop reader threads issue
  seeded point and range GETs. Each file's latency runs from when it
  was due to when the micro-batch that read it finished its upsert.

The file -> micro-batch mapping comes from the file source's own
metadata log in the checkpoint; per-trigger phases come from
``StreamingQueryProgress``.
"""

from __future__ import annotations

import glob
import hashlib
import http.client
import json
import os
import random
import statistics
import threading
import time

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

import common
import datagen
import eventlog

RATE_EPS = 2_500  # offered rate of the fixed-rate phase, events/s
TICK_S = 0.1  # one file per tick
EVENTS_PER_FILE = int(RATE_EPS * TICK_S)
BACKLOG_FILES = 160
DRAINS = 4
# Untimed drains first: the JIT keeps compiling the hot paths for
# several drains, and the early ones run slower.
WARM_DRAINS = 3
USERS = 1_500  # the sf0.1 events shape: customers / 10
PRODUCTS = len(datagen.EVENT_TYPES)
PARTITIONS = 3
READERS = 2
TOPIC = "perfbench-purchases"
PHASES = ("triggerExecution", "latestOffset", "getBatch", "queryPlanning",
          "addBatch", "walCommit", "commitOffsets")


def topic_files(seed: int, n_files: int) -> tuple[list[pa.Table], pa.Table]:
    """Kafka-shaped record files plus the plain (customer, product,
    value) rows they encode, for the oracle."""
    rng = np.random.default_rng(seed)
    ev = datagen.events_table(rng, n_files * EVENTS_PER_FILE, USERS)
    cust = [f"{u:05d}" for u in ev.column("user_id").to_pylist()]
    code = {t: f"{i:05d}" for i, t in enumerate(datagen.EVENT_TYPES)}
    prod = [code[t] for t in ev.column("event_type").to_pylist()]
    vals = ev.column("value").to_pylist()
    ts = ev.column("ts").cast(pa.timestamp("us", tz="UTC"))
    values = [
        json.dumps({"event_id": i, "user_id": c, "event_type": p, "value": v})
        for i, c, p, v in zip(ev.column("event_id").to_pylist(), cust, prod, vals)
    ]
    part = [int(hashlib.md5(c.encode()).hexdigest()[:8], 16) % PARTITIONS for c in cust]
    next_off = [0] * PARTITIONS
    offsets = []
    for p in part:
        offsets.append(next_off[p])
        next_off[p] += 1
    records = pa.table({
        "key": pa.array([c.encode() for c in cust], pa.binary()),
        "value": pa.array([v.encode() for v in values], pa.binary()),
        "topic": pa.array([TOPIC] * len(cust)),
        "partition": pa.array(part, pa.int32()),
        "offset": pa.array(offsets, pa.int64()),
        "timestamp": ts,
    })
    files = [
        records.slice(i * EVENTS_PER_FILE, EVENTS_PER_FILE) for i in range(n_files)
    ]
    plain = pa.table({"customer": cust, "product": prod, "value": vals})
    return files, plain


class TimedStore:
    """Stands in for the store inside ``foreach_batch_upsert``: times
    each ``upsert_batch`` and records when it finished."""

    def __init__(self, store):
        self.store = store
        self.done: dict[int, tuple[float, float]] = {}

    def upsert_batch(self, batch_df, batch_id: int) -> None:
        t0 = time.time()
        self.store.upsert_batch(batch_df, batch_id)
        self.done[batch_id] = (t0, time.time())


class Topic:
    """A FileTopic directory written one whole file at a time: each file
    is written beside the directory and renamed in, so the stream never
    lists a partial file."""

    def __init__(self, root: str):
        self.dir = os.path.join(root, "topic")
        self.staging = os.path.join(root, "staging")
        os.makedirs(self.dir)
        os.makedirs(self.staging)
        self.written: list[str] = []

    def write(self, tbl: pa.Table) -> str:
        name = f"part-{len(self.written):05d}.parquet"
        tmp = os.path.join(self.staging, name)
        pq.write_table(tbl, tmp)
        os.rename(tmp, os.path.join(self.dir, name))
        self.written.append(name)
        return name


def file_batches(ckpt: str) -> dict[str, int]:
    """File name -> micro-batch id, from the file source's metadata log."""
    out: dict[str, int] = {}
    for path in glob.glob(os.path.join(ckpt, "sources", "0", "*")):
        base = os.path.basename(path)
        if base.startswith("."):
            continue
        default = int(base.split(".")[0])
        with open(path) as fh:
            for line in fh:
                if not line.startswith("{"):
                    continue
                ent = json.loads(line)
                name = os.path.basename(ent["path"])
                bid = ent.get("batchId", default)
                out[name] = min(bid, out.get(name, bid))
    return out


def purchases_stream(spark, topic_dir: str):
    from pyspark.sql import functions as F

    from _kafka_streams_scaffold_spark.sources import filetopic
    from _kafka_streams_scaffold_spark.streaming import pipeline

    decoded = filetopic.consume_decoded(filetopic.read_topic_stream(spark, topic_dir))
    events = decoded.select(
        F.get_json_object("value", "$.user_id").alias("user_id"),
        F.get_json_object("value", "$.event_type").alias("event_type"),
        F.get_json_object("value", "$.value").cast("double").alias("value"),
    )
    return pipeline.streaming_purchases(events)


def new_store():
    from _kafka_streams_scaffold_spark.streaming.serving import MemoryStore

    return TimedStore(MemoryStore(["key"]))


def drain(spark, topic_dir: str, ckpt: str, store: TimedStore):
    """One availableNow replay of everything in the topic; returns
    (wall seconds, the finished query)."""
    from _kafka_streams_scaffold_spark.streaming import pipeline

    t0 = time.perf_counter()
    q = pipeline.run_update_into_store(purchases_stream(spark, topic_dir), store, ckpt)
    q.awaitTermination()
    if q.exception() is not None:
        raise RuntimeError(f"drain failed: {q.exception()}")
    return time.perf_counter() - t0, q


class Readers:
    """READERS closed-loop HTTP clients, each with its own seeded RNG."""

    def __init__(self, port: int, seed: int):
        self.port = port
        self.seed = seed
        self.stop = threading.Event()
        self.lat_ms: list[float] = []
        self.attempted = 0
        self.errors: list[str] = []
        self._lock = threading.Lock()
        self.threads = [
            threading.Thread(target=self._loop, args=(i,), daemon=True)
            for i in range(READERS)
        ]

    def _loop(self, i: int) -> None:
        rng = random.Random(self.seed * 1000 + i)
        while not self.stop.is_set():
            cust = f"{rng.randrange(USERS):05d}"
            if rng.random() < 0.5:
                key = f"{cust}-{rng.randrange(PRODUCTS):05d}"
                path, ok = f"/purchase/{key}", (lambda b, k=key: list(b) == [k])
            else:
                path = f"/purchases/{cust}"
                ok = (lambda b, c=cust: all(k.startswith(c + "-") for k in b))
            t0 = time.perf_counter()
            err = None
            try:
                conn = http.client.HTTPConnection("127.0.0.1", self.port, timeout=30)
                try:
                    conn.request("GET", path)
                    resp = conn.getresponse()
                    body = resp.read()
                finally:
                    conn.close()
                ms = (time.perf_counter() - t0) * 1000
                if resp.status != 200:
                    err = f"GET {path}: HTTP {resp.status}"
                elif not ok(json.loads(body)):
                    err = f"GET {path}: unexpected body {body[:100]!r}"
            except (OSError, http.client.HTTPException, ValueError) as ex:
                err = f"GET {path}: {type(ex).__name__}: {ex}"
            with self._lock:
                self.attempted += 1
                if err:
                    self.errors.append(err)
                else:
                    self.lat_ms.append(ms)

    def __enter__(self):
        for t in self.threads:
            t.start()
        return self

    def __exit__(self, *exc):
        self.stop.set()
        for t in self.threads:
            t.join(timeout=60)
        if any(t.is_alive() for t in self.threads):
            raise RuntimeError("HTTP reader thread did not stop")


def generate(topic: Topic, files: list[pa.Table], start: float, lag: list):
    """Open-loop generator: file i is due at start + i * TICK_S whatever
    the stream is doing; records (name, due, written) per file."""
    for i, tbl in enumerate(files):
        due = start + i * TICK_S
        delay = due - time.time()
        if delay > 0:
            time.sleep(delay)
        name = topic.write(tbl)
        lag.append((name, due, time.time()))


def fixed_rate(spark, topic: Topic, files, ckpt: str, store: TimedStore, port: int, seed: int):
    """Run the continuous query while the generator and readers run;
    returns (per-file records, readers, query progress)."""
    from _kafka_streams_scaffold_spark.streaming.serving import foreach_batch_upsert

    q = (
        purchases_stream(spark, topic.dir)
        .writeStream.outputMode("update")
        .foreachBatch(foreach_batch_upsert(store))
        .option("checkpointLocation", ckpt)
        .queryName("perfbench_fixed_rate")
        .start()
    )
    gen_log: list = []
    try:
        with Readers(port, seed) as readers:
            gen = threading.Thread(
                target=generate, args=(topic, files, time.time() + TICK_S, gen_log), daemon=True
            )
            gen.start()
            gen.join()
        # let the stream catch up on the last files, outside the phase
        last = topic.written[-1]
        deadline = time.time() + 60
        while time.time() < deadline:
            done = file_batches(ckpt)
            if last in done and done[last] in store.done:
                break
            if q.exception() is not None:
                break
            time.sleep(0.05)
        progress = [json.loads(p.json) for p in q.recentProgress]
    finally:
        q.stop()
    if q.exception() is not None:
        raise RuntimeError(f"fixed-rate query failed: {q.exception()}")
    return gen_log, readers, progress


def run(workload: str, seed: int, seconds: float, trace: bool, work: str) -> dict:
    from _kafka_streams_scaffold_spark.streaming.http_serving import InteractiveQueryServer

    n_fixed = max(1, int(seconds / TICK_S))
    files, plain = topic_files(seed, BACKLOG_FILES + n_fixed + 1)
    warm_file, backlog, rate_files = files[0], files[1:BACKLOG_FILES + 1], files[BACKLOG_FILES + 1:]

    n_setups = 0

    def one():
        # a session, and one micro-batch through the whole topology
        nonlocal n_setups
        spark = common.build_session()
        root = os.path.join(work, f"warm{n_setups}")
        warm = Topic(root)
        warm.write(warm_file)
        drain(spark, warm.dir, os.path.join(root, "ckpt"), new_store())
        n_setups += 1
        return spark

    spark, setups, setup_cpu = common.set_up(common.SETUPS, one)
    cal_before = common.calibration_s(spark)

    def backlog_topic(name):
        topic = Topic(os.path.join(work, name))
        for tbl in backlog:
            topic.write(tbl)
        return topic

    def drains(spark, topic, tag):
        for w in range(WARM_DRAINS):
            drain(spark, topic.dir, os.path.join(work, f"ckpt-{tag}w{w}"), new_store())
        out = []
        for d in range(DRAINS):
            store = new_store()
            ckpt = os.path.join(work, f"ckpt-{tag}{d}")
            # without JIT time: it shrinks drain after drain while the
            # rest holds steady, so it measures the JIT's warm-up
            # rather than the drain
            cpu0 = common.cpu_s(spark)
            w0 = time.time()
            s, q = drain(spark, topic.dir, ckpt, store)
            w1 = time.time()
            cpu = common.cpu_s(spark) - cpu0
            out.append((s, (w0, w1), store, ckpt, q, cpu))
        return out

    topic = backlog_topic("stream")
    untraced = drains(spark, topic, "u")
    # the fixed-rate phase continues from the last untraced drain
    _, _, store, ckpt, _, _ = untraced[-1]

    server = InteractiveQueryServer()
    server.bind_point("purchase", store.store, "key", "cnt")
    server.bind_range("purchases", store.store, "key", {"count": "cnt", "total": "total"})
    port = server.start()
    try:
        gen_log, readers, progress = fixed_rate(spark, topic, rate_files, ckpt, store, port, seed)
    finally:
        server.stop()
    peak = common.peak_rss_mb(spark)
    layers = None
    if trace:
        # the traced drains, on a session that writes the event log
        spark.stop()
        log_dir = os.path.join(work, "eventlog")
        spark = common.build_session(log_dir)
        # the fixed-rate phase added files to the first topic
        traced = drains(spark, backlog_topic("stream-traced"), "t")
        drain_progress = [json.loads(p.json) for p in traced[-1][4].recentProgress]
    cal_after = common.calibration_s(spark)
    spark.stop()

    # --- outside the measured phases: correctness and premises --------
    failed, errors = 0, list(readers.errors[:5])
    failed += len(readers.errors)
    batches = file_batches(ckpt)
    lat, unprocessed = [], 0
    for name, due, _ in gen_log:
        bid = batches.get(name)
        if bid is None or bid not in store.done:
            unprocessed += 1
            continue
        lat.append(store.done[bid][1] - due)
    if unprocessed:
        failed += unprocessed
        errors.append(f"{unprocessed} generated files never reached the store")
    # the warm-up file (files[0]) is not in this topic
    fed = plain.slice(EVENTS_PER_FILE, EVENTS_PER_FILE * (BACKLOG_FILES + len(gen_log)))
    mismatch = _check_store(store.store, fed)
    if mismatch:
        failed += 1
        errors.append(mismatch)
    drain_events = BACKLOG_FILES * EVENTS_PER_FILE
    drain_s = [m[0] for m in untraced]
    backlog_series = _backlog(gen_log, batches, store.done)
    premise = []
    third = max(1, len(backlog_series) // 3)
    growth = statistics.median(backlog_series[-third:]) - statistics.median(backlog_series[:third])
    if growth > 1 / TICK_S:
        premise.append(
            f"backlog grew by {growth:.0f} files during the fixed-rate phase: "
            f"{RATE_EPS} events/s is beyond what this host sustains"
        )
    lateness = [(w - d) * 1000 for _, d, w in gen_log]
    rate_prog = [p for p in progress if p.get("numInputRows", 0) > 0]
    out = {
        "setup_s": statistics.median(setup_cpu),
        "pass_cpu_s": statistics.median(m[5] for m in untraced),
        "peak_rss_mb": peak,
        "wall.pass_s": statistics.median(drain_s),
        "wall.latency_p50_s": statistics.median(lat) if lat else float("nan"),
        "wall.latency_p90_s": common.quantile(lat, 0.9) if lat else float("nan"),
    }
    notes = (
        f"setups {[round(x, 2) for x in setups]} setup cpu {[round(x, 2) for x in setup_cpu]} "
        f"drains {[round(x, 2) for x in drain_s]} "
        f"drain cpu {[round(m[5], 2) for m in untraced]} "
        f"files {len(lat)} generator lateness p50 {statistics.median(lateness):.1f} ms "
        f"max {max(lateness):.1f} ms backlog growth {growth:+.1f} files"
    )
    if trace:
        log = eventlog.read(log_dir)
        traced_s = [m[0] for m in traced]
        jobs = eventlog.jobs_in(log, [m[1] for m in traced])
        tot = eventlog.totals(log, jobs)
        layers = _stream_layers(rate_prog, store, readers, backlog_series, lateness)
        layers.update(eventlog.exec_metrics(tot, sum(traced_s), len(traced)))
        layers["exec.execute_s"] = statistics.mean(traced_s)
        layers["stream.drain_eps"] = drain_events / statistics.median(drain_s)
        layers["trace.pass_s"] = statistics.median(traced_s)
        layers["trace.overhead_frac"] = statistics.median(traced_s) / statistics.median(drain_s) - 1
        spans = [
            {"id": f"drain{d}", "name": "drain", "start": w[0], "end": w[1]}
            for d, (_, w, *_rest) in enumerate(traced)
        ] + [
            {"id": f"batch{p['batchId']}", "name": "trigger", "start": p["timestamp"],
             "durationMs": p["durationMs"], "numInputRows": p["numInputRows"],
             "stateOperators": p.get("stateOperators", [])}
            for p in drain_progress + progress
        ]
        common.write_trace(workload, seed, spans)
    return {
        "metrics": out,
        "layers": layers,
        "calibration": (cal_before, cal_after),
        "attempted": readers.attempted + len(gen_log) + 1,
        "failed": failed,
        "errors": errors,
        "premise": premise,
        "notes": notes,
    }


def _check_store(store, fed: pa.Table) -> str | None:
    """The final store must equal a DuckDB Purchases aggregate over
    exactly the generated events."""
    import duckdb

    canon = common.load_check_oracle()
    con = duckdb.connect()
    con.register("fed", fed)
    rel = con.execute(
        "SELECT customer || '-' || product AS key, count(*) AS cnt, "
        "CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total "
        "FROM fed GROUP BY 1"
    )
    cols = [d[0] for d in rel.description]
    want = canon._rowset(cols, rel.fetchall())
    con.close()
    got = canon._rowset(cols, [tuple(r[c] for c in cols) for r in store.snapshot().values()])
    if got != want:
        return f"final store differs from the DuckDB aggregate ({len(got)} vs {len(want)} keys)"
    return None


def _backlog(gen_log, batches: dict[str, int], done: dict[int, tuple]) -> list[int]:
    """Files written but not yet upserted, sampled at each generator tick."""
    finished = sorted(
        done[batches[n]][1] for n, _, _ in gen_log if batches.get(n) in done
    )
    series, k = [], 0
    for i, (_, _, written) in enumerate(gen_log):
        while k < len(finished) and finished[k] <= written:
            k += 1
        series.append(i + 1 - k)
    return series


def _stream_layers(prog, store, readers, backlog, lateness) -> dict[str, float]:
    def med(values):
        values = list(values)
        return statistics.median(values) if values else 0.0

    out = {
        f"stream.{'trigger' if k == 'triggerExecution' else k}_ms":
            med(p["durationMs"].get(k, 0) for p in prog)
        for k in PHASES
    }
    ops = [p["stateOperators"][0] for p in prog if p.get("stateOperators")]
    upserts = [e - s for s, e in store.done.values()]
    out.update({
        "stream.state_rows": ops[-1]["numRowsTotal"] if ops else 0,
        "stream.state_mem_bytes": ops[-1]["memoryUsedBytes"] if ops else 0,
        "stream.state_commit_ms": med(o["commitTimeMs"] for o in ops),
        "stream.input_rows_per_batch": med(p["numInputRows"] for p in prog),
        "stream.backlog_files": max(backlog) if backlog else 0,
        "stream.generator_lag_ms": common.quantile(lateness, 0.9) if lateness else 0.0,
        "serving.upsert_ms": med(u * 1000 for u in upserts),
        "serving.upsert_rows": med(o["numRowsUpdated"] for o in ops),
        "serving.reads": len(readers.lat_ms),
        "serving.read_p50_ms": med(readers.lat_ms),
        "serving.read_p90_ms": common.quantile(readers.lat_ms, 0.9) if readers.lat_ms else 0.0,
    })
    return out

"""Shared plumbing for the benchmark: checkout layout, environment,
the DuckDB oracle comparison and the Spark-side probes the harness
reads from outside the program (persisted-RDD registry, event log)."""

from __future__ import annotations

import ctypes
import importlib.util
import json
import os
import signal
import statistics
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, ".perfbench_work")
TRACES = os.path.join(WORK, "traces")
PACKAGE = "_kafka_streams_scaffold_spark"
DRIVER_MEM = "3g"
# Set-ups per run: the first starts the JVM; the median CPU time of
# the others is the run's setup_s.
SETUPS = 6


def prepare_env(cores: int) -> None:
    """Point every scratch location Spark and Python use inside the
    checkout, and put the checkout on PYTHONPATH so the Python workers
    Spark forks can import the package by name. Must run before the
    first SparkSession is built: the JVM inherits this environment."""
    if not os.path.isdir(os.path.join(ROOT, PACKAGE)):
        raise SystemExit(f"perfbench: package {PACKAGE!r} not found under {ROOT}")
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "spark-local")
    os.environ["SPARK_GRAFT_CPUS"] = str(cores)
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYSPARK_DRIVER_PYTHON"] = sys.executable
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)
    # Processes the JVM starts and leaves behind (Spark's Python worker
    # daemon and its forks) become this process's children, so that
    # shutdown() can wait for every one of them.
    ctypes.CDLL(None, use_errno=True).prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0)


PR_SET_CHILD_SUBREAPER = 36


def shutdown(timeout: float = 60.0) -> None:
    """Stop the active session and the driver JVM, and wait until the
    JVM and every process it started have ended. Left alone, the JVM
    exits only after this process has: it watches its standard input,
    which PySpark keeps open until this process is gone."""
    from pyspark import SparkContext

    sc = SparkContext._active_spark_context
    if sc is not None:
        try:
            sc.stop()
        except Exception as exc:  # noqa: BLE001 - the JVM is stopped below
            print(f"perfbench: stopping the session: {exc}", file=sys.stderr)
    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    if proc is not None and proc.poll() is None:
        # Close the Python side's connections first, so that none of
        # them sees the JVM go away mid-command.
        gateway.shutdown()
        proc.stdin.close()
        try:
            proc.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    _reap_children(timeout)


def _reap_children(timeout: float) -> None:
    """Wait for every child of this process to end; kill those still
    running after ``timeout`` seconds."""
    deadline = time.monotonic() + timeout
    while True:
        try:
            pid, _ = os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            return
        if pid:
            continue
        if time.monotonic() > deadline:
            for child in _children():
                try:
                    os.kill(child, signal.SIGKILL)
                except ProcessLookupError:
                    pass
        time.sleep(0.05)


def _children() -> list[int]:
    me, kids = os.getpid(), []
    for pid in os.listdir("/proc"):
        if pid.isdigit():
            try:
                with open(f"/proc/{pid}/stat") as fh:
                    if int(fh.read().rsplit(")", 1)[1].split()[1]) == me:
                        kids.append(int(pid))
            except OSError:
                continue
    return kids


def build_session(event_log_dir: str | None = None):
    """The program's own session (``session.build_session``) with the
    benchmark's settings; ``event_log_dir`` turns the event log on."""
    from _kafka_streams_scaffold_spark import session

    conf = {
        # A fixed heap and young generation: left adaptive, the JVM's
        # heap growth differs run to run and peak RSS with it. A fixed
        # set of JIT compiler threads, which live as long as the JVM,
        # so cpu_s can leave their time out.
        "spark.driver.extraJavaOptions":
            f"-Xms{DRIVER_MEM} -Xmn768m -XX:-UseDynamicNumberOfCompilerThreads",
        "spark.sql.warehouse.dir": os.path.join(WORK, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.streaming.numRecentProgressUpdates": "1000",
    }
    if event_log_dir:
        os.makedirs(event_log_dir, exist_ok=True)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.compress": "false",
            "spark.eventLog.dir": event_log_dir,
        })
    spark = session.build_session("perfbench", extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def write_trace(workload: str, seed: int, spans: list[dict]) -> str:
    """Write the spans kept in memory during the run, once, at its end."""
    path = os.path.join(TRACES, f"trace-{workload}-{seed}.json")
    os.makedirs(TRACES, exist_ok=True)
    with open(path, "w") as fh:
        json.dump({"workload": workload, "seed": seed, "spans": spans}, fh)
    return path


def load_check_oracle():
    """The project's own canonical row comparison (tools/check_oracle.py:
    order-insensitive, floats at 9 significant digits)."""
    path = os.path.join(ROOT, "tools", "check_oracle.py")
    spec = importlib.util.spec_from_file_location("perfbench_check_oracle", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def duck_connection(sf_dir: str):
    import duckdb

    from _kafka_streams_scaffold_spark import tables

    con = duckdb.connect()
    con.execute("SET memory_limit='2GB'")
    con.execute("SET threads=2")
    con.execute(f"SET temp_directory='{os.path.join(WORK, 'tmp', 'duck')}'")
    for t in tables.TABLE_NAMES:
        where = (
            f" WHERE embedding IS NOT NULL AND len(embedding) = {tables.EMBED_DIM}"
            if t == "embeddings" else ""
        )
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'{where}")
    return con


def oracle_rowset(con, sql: str, canon) -> tuple[list[str], list[str]]:
    rel = con.execute(sql)
    cols = [d[0] for d in rel.description]
    return sorted(cols), canon._rowset(cols, rel.fetchall())


def persisted(spark) -> dict[int, int]:
    """Persisted RDD id -> its storage bytes, from Spark's own registry."""
    jsc = spark.sparkContext._jsc
    nbytes = {i.id(): i.memSize() + i.diskSize() for i in jsc.sc().getRDDStorageInfo()}
    return {int(k): int(nbytes.get(k, 0)) for k in jsc.getPersistentRDDs().keySet()}


def peak_rss_mb(spark) -> float:
    """High-water resident memory (VmHWM) of this Python process plus
    the driver JVM, in MiB."""
    total = 0
    for pid in (os.getpid(), _jvm_pid(spark)):
        with open(f"/proc/{pid}/status") as fh:
            total += next(int(l.split()[1]) for l in fh if l.startswith("VmHWM:"))
    return total / 1024.0


def cpu_s(spark, jit: bool = False) -> float:
    """CPU seconds used so far by this process, the driver JVM and the
    JVM's descendants (Spark's Python workers), reaped children included;
    the time of the JVM's JIT compiler threads only if ``jit``. Unlike
    wall time it should not count time the host withholds the CPU, but
    it does stretch when other tenants share the caches. Spark's own
    code generation runs on the query's threads and is always counted."""
    jvm = _jvm_pid(spark)
    stats = {}
    for pid in os.listdir("/proc"):
        if pid.isdigit():
            try:
                with open(f"/proc/{pid}/stat") as fh:
                    f = fh.read().rsplit(")", 1)[1].split()
            except OSError:
                continue
            stats[int(pid)] = (int(f[1]), sum(int(x) for x in f[11:15]))
    tree, frontier = {os.getpid(), jvm}, [jvm]
    while frontier:
        parent = frontier.pop()
        kids = [p for p, (pp, _) in stats.items() if pp == parent and p not in tree]
        tree.update(kids)
        frontier += kids
    ticks = sum(stats[p][1] for p in tree if p in stats)
    if not jit:
        ticks -= _jit_ticks(jvm)
    return ticks / os.sysconf("SC_CLK_TCK")


def _jit_ticks(jvm: int) -> int:
    """CPU ticks of the JVM's JIT compiler threads ("C1/C2 CompilerThread")."""
    ticks = 0
    for tid in os.listdir(f"/proc/{jvm}/task"):
        try:
            with open(f"/proc/{jvm}/task/{tid}/stat") as fh:
                data = fh.read()
        except OSError:
            continue
        name, rest = data.split("(", 1)[1].rsplit(")", 1)
        if "CompilerThre" in name:
            f = rest.split()
            ticks += int(f[11]) + int(f[12])
    return ticks


_JVM_PID: int | None = None


def _jvm_pid(spark) -> int:
    # The driver JVM outlives a stopped session, so it is asked once.
    global _JVM_PID
    if _JVM_PID is None:
        _JVM_PID = int(spark.sparkContext._jvm.ProcessHandle.current().pid())
    return _JVM_PID


def set_up(n: int, one, after_first=lambda: None):
    """Set up ``n`` times with ``one()``, which builds a session, makes
    it ready and returns it; every set-up but the last stops its
    session. The first set-up also starts the driver JVM and loads its
    classes, so it is timed apart from the others. Returns (the last
    session, wall seconds of each set-up, CPU seconds of each set-up
    after the first). The CPU seconds leave JIT compilation out: the
    JIT compiles the JVM's start-up code in the background for minutes,
    and how much of that lands in a later set-up varies from run to run."""
    wall, cpu, spark = [], [], None
    for i in range(n):
        cpu0 = cpu_s(spark) if i else 0.0
        t0 = time.perf_counter()
        spark = one()
        wall.append(time.perf_counter() - t0)
        if i:
            cpu.append(cpu_s(spark) - cpu0)
        else:
            after_first()
        if i < n - 1:
            spark.stop()
    return spark, wall, cpu


def calibration_s(spark, rows: int = 4_000_000) -> float:
    """Host-state probe: bench.py's fixed range -> shuffle -> aggregate
    shape at a smaller size. Diagnostic only, never gated. A run probes
    once before its work, paying the probe's code generation, and once
    after; compare each with the same probe of other runs."""
    from pyspark.sql import functions as F

    t0 = time.perf_counter()
    (
        spark.range(0, rows, 1, 32)
        .groupBy((F.col("id") % 4096).alias("k"))
        .agg(F.sum("id").alias("s"), F.count(F.lit(1)).alias("c"))
        .write.format("noop").mode("overwrite").save()
    )
    return time.perf_counter() - t0


def quantile(values: list[float], q: float) -> float:
    """The q-quantile, linearly interpolated (statistics.quantiles,
    inclusive method)."""
    if len(values) == 1:
        return values[0]
    cuts = statistics.quantiles(values, n=100, method="inclusive")
    return cuts[int(round(q * 100)) - 1]

"""Read Spark's own event log (uncompressed JSON lines) and attribute
its jobs, stages and task metrics to the harness's spans by time window.

Attribution by window is valid because the batch client is serial: a
job submitted inside a query's span belongs to that query, including
jobs that the program submits from its own thread pools untagged.
"""

from __future__ import annotations

import glob
import json
import os
from dataclasses import dataclass, field

PY_SENT = "data sent to Python workers"
PY_RECEIVED = "data returned from Python workers"


@dataclass
class Job:
    job_id: int
    start_ms: int
    end_ms: int = 0
    call_site: str = ""
    stage_ids: list[int] = field(default_factory=list)


@dataclass
class Log:
    jobs: list[Job]
    # stage id -> summed task metrics and SQL-metric accumulables
    stages: dict[int, dict[str, float]]


def read(log_dir: str) -> Log:
    """Parse every event-log file under ``log_dir``: single files, or the
    rolled ``eventlog_v2_*/events_<n>_*`` parts Spark 4 writes."""
    paths = [p for p in glob.glob(os.path.join(log_dir, "**"), recursive=True)
             if os.path.isfile(p) and not os.path.basename(p).startswith(("appstatus", "."))]
    paths.sort(key=lambda p: (os.path.dirname(p), _part(p)))
    if not paths:
        raise FileNotFoundError(f"no event log under {log_dir}")
    jobs: dict[int, Job] = {}
    stages: dict[int, dict[str, float]] = {}
    for path in paths:
        with open(path) as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    # PySpark leaves callSite.short unset for most jobs;
                    # the result stage's name ("localCheckpoint at ...")
                    # names the operation that submitted the job.
                    infos = ev.get("Stage Infos") or [{}]
                    final = max(infos, key=lambda i: i.get("Stage ID", -1))
                    jobs[ev["Job ID"]] = Job(
                        ev["Job ID"],
                        ev["Submission Time"],
                        call_site=final.get("Stage Name", ""),
                        stage_ids=list(ev.get("Stage IDs", [])),
                    )
                elif kind == "SparkListenerJobEnd":
                    if ev["Job ID"] in jobs:
                        jobs[ev["Job ID"]].end_ms = ev["Completion Time"]
                elif kind == "SparkListenerTaskEnd":
                    _add_task(stages.setdefault(ev["Stage ID"], {}), ev)
                elif kind == "SparkListenerStageCompleted":
                    info = ev["Stage Info"]
                    st = stages.setdefault(info["Stage ID"], {})
                    for acc in info.get("Accumulables", []):
                        if acc.get("Name") in (PY_SENT, PY_RECEIVED):
                            st[acc["Name"]] = st.get(acc["Name"], 0) + float(acc.get("Value", 0))
    return Log([j for j in jobs.values() if j.end_ms], stages)


def _part(path: str) -> int:
    base = os.path.basename(path)
    return int(base.split("_")[1]) if base.startswith("events_") else 0


def _add_task(st: dict[str, float], ev: dict) -> None:
    m = ev.get("Task Metrics") or {}
    sr = m.get("Shuffle Read Metrics") or {}
    sw = m.get("Shuffle Write Metrics") or {}
    st["tasks"] = st.get("tasks", 0) + 1
    for key, val in (
        ("run_ms", m.get("Executor Run Time", 0)),
        ("cpu_ns", m.get("Executor CPU Time", 0)),
        ("gc_ms", m.get("JVM GC Time", 0)),
        ("shuffle_read", sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)),
        ("shuffle_write", sw.get("Shuffle Bytes Written", 0)),
        ("spill", m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)),
    ):
        st[key] = st.get(key, 0) + val
    st["peak_mem"] = max(st.get("peak_mem", 0), m.get("Peak Execution Memory", 0))


def union_ms(intervals: list[tuple[int, int]]) -> int:
    """Length of the union of [start, end) intervals, in ms."""
    total, cur_s, cur_e = 0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def jobs_in(log: Log, windows: list[tuple[float, float]]) -> list[Job]:
    """Jobs submitted inside any of the (start_s, end_s) windows."""
    ms = [(int(s * 1000), int(e * 1000) + 1) for s, e in windows]
    return [j for j in log.jobs if any(s <= j.start_ms <= e for s, e in ms)]


def clipped_ms(jobs: list[Job], windows: list[tuple[float, float]]) -> int:
    """Time covered by the jobs' run intervals within the windows."""
    parts = []
    for s, e in windows:
        lo, hi = int(s * 1000), int(e * 1000)
        parts += [
            (max(lo, j.start_ms), min(hi, j.end_ms))
            for j in jobs
            if j.end_ms > lo and j.start_ms < hi
        ]
    return union_ms([p for p in parts if p[1] > p[0]])


def totals(log: Log, jobs: list[Job]) -> dict[str, float]:
    """Summed stage metrics of the given jobs (each stage counted once)."""
    ids = {sid for j in jobs for sid in j.stage_ids if sid in log.stages}
    out: dict[str, float] = {"jobs": len(jobs), "stages": 0}
    for sid in ids:
        st = log.stages[sid]
        if st.get("tasks"):
            out["stages"] += 1
        for k, v in st.items():
            if k == "peak_mem":
                out[k] = max(out.get(k, 0), v)
            else:
                out[k] = out.get(k, 0) + v
    return out


def exec_metrics(tot: dict[str, float], wall_s: float, n: int) -> dict[str, float]:
    """Execution-layer metrics from ``totals``, as means over ``n``
    passes (or drains) that took ``wall_s`` seconds in all."""
    cores = int(os.environ.get("SPARK_GRAFT_CPUS", "4"))
    summed = {
        "exec.jobs": tot["jobs"],
        "exec.stages": tot["stages"],
        "exec.tasks": tot.get("tasks", 0),
        "exec.task_run_s": tot.get("run_ms", 0) / 1000,
        "exec.task_cpu_s": tot.get("cpu_ns", 0) / 1e9,
        "exec.gc_s": tot.get("gc_ms", 0) / 1000,
        "exec.shuffle_read_bytes": tot.get("shuffle_read", 0),
        "exec.shuffle_write_bytes": tot.get("shuffle_write", 0),
        "exec.spill_bytes": tot.get("spill", 0),
        "arrow.to_python_bytes": tot.get(PY_SENT, 0),
        "arrow.from_python_bytes": tot.get(PY_RECEIVED, 0),
    }
    out = {k: v / n for k, v in summed.items()}
    out["exec.core_busy_frac"] = summed["exec.task_run_s"] / (cores * wall_s) if wall_s else 0.0
    out["exec.peak_exec_mem_bytes"] = tot.get("peak_mem", 0)
    return out

"""Per-layer measurement for the traced run.

Three sources, all switched on from the benchmark's own files and only in
the traced run:

- spans the benchmark records around its calls into the engine's public
  functions (query callables, the noop action, ``pipeline.run_load``);
- Spark's event log (uncompressed, non-rolling), read after the session
  stops: jobs, tasks, SQL executions and SQL metrics;
- a ``StreamingQueryListener`` collecting micro-batch progress.

Spans are kept in memory and folded into metrics when the run ends. Times
are wall-clock epoch seconds so they line up with the event log's epoch
milliseconds.
"""

from __future__ import annotations

import contextlib
import datetime as dt
import glob
import json
import os
import time
from dataclasses import dataclass, field

# SQL metrics of the Python-evaluation operators (MapInPandas,
# ArrowEvalPython, FlatMapGroupsInPandas, ...) as Spark 4 names them; the
# time is in milliseconds
PY_TIME_METRICS = ("time to run Python workers",)
PY_BYTES_METRICS = ("data sent to Python workers", "data returned from Python workers")


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: int | None = None

    @property
    def dur(self) -> float:
        return self.end - self.start


@dataclass
class Tracer:
    """In-memory span recorder. ``span`` nests: a span opened inside another
    records it as its parent."""

    spans: list[Span] = field(default_factory=list)
    _stack: list[int] = field(default_factory=list)

    @contextlib.contextmanager
    def span(self, name: str):
        idx = len(self.spans)
        self.spans.append(Span(name, time.time(), 0.0, self._stack[-1] if self._stack else None))
        self._stack.append(idx)
        try:
            yield
        finally:
            self._stack.pop()
            self.spans[idx].end = time.time()


class NullTracer:
    """The untraced run's tracer: records nothing."""

    @contextlib.contextmanager
    def span(self, name: str):
        yield


def make_listener():
    """A ``StreamingQueryListener`` that keeps every progress report as a
    dict. Built lazily so importing this module needs no pyspark."""
    from pyspark.sql.streaming import StreamingQueryListener

    class ProgressLog(StreamingQueryListener):
        def __init__(self):
            self.progress: list[dict] = []

        def onQueryStarted(self, event):
            pass

        def onQueryProgress(self, event):
            self.progress.append(json.loads(event.progress.json))

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            pass

    return ProgressLog()


def event_log_conf(log_dir: str) -> dict[str, str]:
    os.makedirs(log_dir, exist_ok=True)
    return {
        "spark.eventLog.enabled": "true",
        "spark.eventLog.dir": log_dir,
        "spark.eventLog.compress": "false",
        "spark.eventLog.rolling.enabled": "false",
    }


# --- event log -------------------------------------------------------------


@dataclass
class EventLog:
    jobs: dict[int, dict] = field(default_factory=dict)  # id -> start, end, group, sql id
    tasks: list[dict] = field(default_factory=list)  # end, metrics, accumulables
    sql: dict[int, dict] = field(default_factory=dict)  # id -> start


def read_event_log(log_dir: str) -> EventLog:
    """Parse the one application log in ``log_dir`` (written after the
    session stops)."""
    paths = [p for p in glob.glob(os.path.join(log_dir, "*")) if os.path.isfile(p)]
    if len(paths) != 1:
        raise RuntimeError(f"expected one event log in {log_dir}, found {paths}")
    log = EventLog()
    with open(paths[0], encoding="utf-8") as fh:
        for line in fh:
            ev = json.loads(line)
            kind = ev["Event"]
            if kind == "SparkListenerJobStart":
                log.jobs[ev["Job ID"]] = {
                    "start": ev["Submission Time"] / 1e3,
                    "end": None,
                    "group": (ev.get("Properties") or {}).get("spark.jobGroup.id"),
                    "sql": (ev.get("Properties") or {}).get("spark.sql.execution.id"),
                }
            elif kind == "SparkListenerJobEnd":
                log.jobs[ev["Job ID"]]["end"] = ev["Completion Time"] / 1e3
            elif kind == "SparkListenerTaskEnd":
                info, m = ev["Task Info"], ev.get("Task Metrics") or {}
                log.tasks.append({
                    "end": info["Finish Time"] / 1e3,
                    "run_s": m.get("Executor Run Time", 0) / 1e3,
                    "cpu_s": m.get("Executor CPU Time", 0) / 1e9,
                    "gc_s": m.get("JVM GC Time", 0) / 1e3,
                    "shuffle_write": (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0),
                    "spill": m.get("Disk Bytes Spilled", 0),
                    "read": (m.get("Input Metrics") or {}).get("Bytes Read", 0),
                    "written": (m.get("Output Metrics") or {}).get("Bytes Written", 0),
                    "acc": {a.get("Name"): a.get("Update") for a in info.get("Accumulables", [])},
                })
            elif kind.endswith("SparkListenerSQLExecutionStart"):
                log.sql[ev["executionId"]] = {"start": ev["time"] / 1e3}
    return log


# --- folding ---------------------------------------------------------------


def _union(intervals: list[tuple[float, float]]) -> float:
    total, cur_s, cur_e = 0.0, None, None
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


def _clip(intervals, lo: float, hi: float) -> list[tuple[float, float]]:
    return [(max(s, lo), min(e, hi)) for s, e in intervals if e > lo and s < hi]


def _num(v) -> float:
    try:
        return float(v)
    except (TypeError, ValueError):
        return 0.0


def _progress_time(p: dict) -> float:
    ts = dt.datetime.strptime(p["timestamp"], "%Y-%m-%dT%H:%M:%S.%fZ")
    return ts.replace(tzinfo=dt.timezone.utc).timestamp()


def fold(
    tracer: Tracer,
    log: EventLog,
    progress: list[dict],
    ops: list[str],
    cores: int,
) -> dict[str, float]:
    """Fold the spans of the timed passes (named ``bench.pass``), the event
    log and the streaming progress into per-pass per-layer metrics. Only
    events inside a timed pass count; every total is divided by the number
    of timed passes."""
    spans = tracer.spans
    passes = [(s.start, s.end) for s in spans if s.name == "bench.pass"]
    n = len(passes)

    def inside(t: float) -> bool:
        return any(lo <= t <= hi for lo, hi in passes)

    def per_pass(prefix: str) -> float:
        """Per-pass time in spans named ``prefix`` or ``prefix:<op>``."""
        return sum(
            s.dur for s in spans if prefix in (s.name, s.name.split(":")[0]) and inside(s.start)
        ) / n

    jobs = [j for j in log.jobs.values() if j["end"] is not None and inside(j["start"])]
    job_ivals = [(j["start"], j["end"]) for j in jobs]
    tasks = [t for t in log.tasks if inside(t["end"])]
    pass_wall = sum(hi - lo for lo, hi in passes)
    task_s = sum(t["run_s"] for t in tasks)

    # SQL planning: execution start -> its first job
    first_job: dict[str, float] = {}
    for j in jobs:
        if j["sql"] is not None:
            first_job[j["sql"]] = min(first_job.get(j["sql"], j["start"]), j["start"])
    plan_s = sum(
        first_job[str(k)] - q["start"]
        for k, q in log.sql.items()
        if str(k) in first_job and inside(q["start"])
    )

    batches = [p for p in progress if inside(_progress_time(p))]
    batch_ivals = [
        (_progress_time(p), _progress_time(p) + p["durationMs"].get("triggerExecution", 0) / 1e3)
        for p in batches
    ]
    batch_s = sum(e - s for s, e in batch_ivals)
    state_rows: dict[str, float] = {}
    for p in batches:  # a query's state size after its last batch
        state_rows[p["runId"]] = sum(o.get("numRowsTotal", 0) for o in p.get("stateOperators", []))

    def self_time(prefix: str, children: list[tuple[float, float]]) -> float:
        total = 0.0
        for s in spans:
            if s.name.startswith(prefix) and inside(s.start):
                total += s.dur - _union(_clip(children, s.start, s.end))
        return total / n

    m = {
        "plans.build_s": per_pass("plans.build"),
        "plans.exec_s": per_pass("plans.exec"),
        "plans.plan_s": plan_s / n,
        "plans.jobs": len(jobs) / n,
        "plans.task_s": task_s / n,
        "plans.jvm_cpu_s": sum(t["cpu_s"] for t in tasks) / n,
        "plans.gc_s": sum(t["gc_s"] for t in tasks) / n,
        "plans.shuffle_write_mb": sum(t["shuffle_write"] for t in tasks) / 1e6 / n,
        "plans.spill_mb": sum(t["spill"] for t in tasks) / 1e6 / n,
        "plans.core_busy_frac": task_s / (pass_wall * cores) if pass_wall else 0.0,
        "plans.self_s": self_time("plans.", job_ivals + batch_ivals),
        "operators.python_worker_s": sum(
            _num(t["acc"].get(k)) for t in tasks for k in PY_TIME_METRICS
        ) / 1e3 / n,
        "operators.arrow_mb": sum(
            _num(t["acc"].get(k)) for t in tasks for k in PY_BYTES_METRICS
        ) / 1e6 / n,
        "streaming.batches": len(batches) / n,
        "streaming.batch_s": batch_s / n,
        "streaming.input_rows": sum(p.get("numInputRows", 0) for p in batches) / n,
        "streaming.state_rows": sum(state_rows.values()) / n,
        "streaming.nonbatch_s": (
            sum(s.dur for s in spans if s.name.startswith("plans.build") and inside(s.start)
                and any(s.start <= b <= s.end for b, _ in batch_ivals)) - batch_s
        ) / n,
        "pipeline.self_s": self_time("pipeline.", job_ivals),
    }
    for strategy in ("append", "overwrite", "upsert"):
        m[f"pipeline.{strategy}_s"] = per_pass(f"pipeline.{strategy}")
    for op in ops:
        m[f"plans.{op}_s"] = per_pass(f"plans.build:{op}") + per_pass(f"plans.exec:{op}")
    m["_read_bytes"] = sum(t["read"] for t in tasks) / n
    m["_written_bytes"] = sum(t["written"] for t in tasks) / n
    return m


def dump(tracer: Tracer, log: EventLog) -> dict:
    """The traced run's record: every span, and the Spark jobs each
    operation's job group ran."""
    jobs: dict[str, int] = {}
    for j in log.jobs.values():
        group = j["group"] or "none"
        jobs[group] = jobs.get(group, 0) + 1
    return {
        "spans": [[s.name, s.start, s.end, s.parent] for s in tracer.spans],
        "jobs_by_group": jobs,
    }

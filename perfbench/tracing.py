"""Traced-run tooling: listeners, status-store reads and span attribution.

Everything here is benchmark-side. The program is never modified: the
tracer registers two listeners on the session the program uses and, once
the timed region is over, reads Spark's in-process status store (it is
populated with ``spark.ui.enabled=false`` too):

- a ``QueryExecutionListener`` (a py4j callback) that records the Catalyst
  phase times (analysis, optimization, planning) of every action;
- a ``StreamingQueryListener`` that records every micro-batch progress;
- the job and stage lists of the status store, serialised to JSON inside
  the JVM in one call each, with per-stage task-time quantiles.

Spark work is attributed to an op by time window: ops run serially, so a
job or micro-batch that starts inside an op's window belongs to that op,
whichever thread started it (stream threads included). All records stay in
memory; the benchmark writes them once, at the end of the run.
"""

from __future__ import annotations

import datetime as dt
import json
from dataclasses import dataclass, field

from pyspark.java_gateway import ensure_callback_server_started
from pyspark.sql import SparkSession
from pyspark.sql.streaming import StreamingQueryListener

MB = float(1 << 20)
CATALYST_PHASES = ("analysis", "optimization", "planning")


@dataclass
class Span:
    """One timed op: its call window and, for query ops, its exec window.

    Times are epoch seconds (``time.time()``), the clock Spark stamps its
    events with, so Spark records can be matched to the window they fall in.
    """

    op: str
    pass_no: int
    call0: float
    call1: float
    exec0: float = 0.0
    exec1: float = 0.0
    failed: bool = False

    @property
    def call_s(self) -> float:
        return self.call1 - self.call0

    @property
    def exec_s(self) -> float:
        return self.exec1 - self.exec0

    @property
    def wall_s(self) -> float:
        return self.call_s + self.exec_s


class _QueryExecutionListener:
    """py4j implementation of ``org.apache.spark.sql.util.QueryExecutionListener``."""

    def __init__(self) -> None:
        self.phases: list[tuple[float, float]] = []  # (start, end) epoch seconds

    def _record(self, qe) -> None:
        tracked = qe.tracker().phases()
        for name in CATALYST_PHASES:
            summary = tracked.get(name)
            if summary.isDefined():
                s = summary.get()
                self.phases.append((s.startTimeMs() / 1e3, s.endTimeMs() / 1e3))

    def onSuccess(self, func_name, qe, duration_ns):  # noqa: N802 (Java interface)
        self._record(qe)

    def onFailure(self, func_name, qe, exception):  # noqa: N802 (Java interface)
        self._record(qe)

    class Java:
        implements = ["org.apache.spark.sql.util.QueryExecutionListener"]


class _ProgressListener(StreamingQueryListener):
    def __init__(self) -> None:
        self.progress: list[dict] = []

    def onQueryStarted(self, event):  # noqa: N802
        pass

    def onQueryProgress(self, event):  # noqa: N802
        p = event.progress
        start = dt.datetime.fromisoformat(p.timestamp.replace("Z", "+00:00")).timestamp()
        self.progress.append({
            "t": start,
            "input_rows": p.numInputRows,
            "duration_ms": dict(p.durationMs),
            "state_rows": sum(s.numRowsTotal for s in p.stateOperators),
            "state_bytes": sum(s.memoryUsedBytes for s in p.stateOperators),
        })

    def onQueryIdle(self, event):  # noqa: N802
        pass

    def onQueryTerminated(self, event):  # noqa: N802
        pass


@dataclass
class StoreSnapshot:
    """What the tracer read from Spark after the timed region."""

    jobs: list[dict] = field(default_factory=list)
    stages: list[dict] = field(default_factory=list)
    phases: list[tuple[float, float]] = field(default_factory=list)
    progress: list[dict] = field(default_factory=list)


class Tracer:
    """Registers the listeners on ``spark``; :meth:`snapshot` reads them back."""

    def __init__(self, spark: SparkSession) -> None:
        self._spark = spark
        sc = spark.sparkContext
        ensure_callback_server_started(sc._gateway)
        self._qe = _QueryExecutionListener()
        spark._jsparkSession.listenerManager().register(self._qe)
        self._stream = _ProgressListener()
        spark.streams.addListener(self._stream)

    def snapshot(self) -> StoreSnapshot:
        sc = self._spark.sparkContext
        jsc = sc._jsc.sc()
        jsc.listenerBus().waitUntilEmpty()
        jvm = sc._jvm
        mapper = jvm.com.fasterxml.jackson.databind.ObjectMapper()
        mapper.registerModule(jvm.com.fasterxml.jackson.module.scala.DefaultScalaModule())
        quantiles = sc._gateway.new_array(jvm.double, 2)
        quantiles[0], quantiles[1] = 0.5, 1.0
        store = jsc.statusStore()
        jobs = json.loads(mapper.writeValueAsString(store.jobsList(None)))
        stages = json.loads(
            mapper.writeValueAsString(store.stageList(None, False, True, quantiles, None))
        )
        return StoreSnapshot(
            jobs=[j for j in jobs if j.get("submissionTime")],
            stages=[s for s in stages if s.get("submissionTime") and s["status"] == "COMPLETE"],
            phases=list(self._qe.phases),
            progress=list(self._stream.progress),
        )


def _within(t: float, t0: float, t1: float) -> bool:
    """Half-open, so a job submitted as the call returns counts once."""
    return t0 <= t < t1


def _covered(intervals: list[tuple[float, float]], t0: float, t1: float) -> float:
    """Length of the union of ``intervals`` clipped to ``[t0, t1]``."""
    total, end = 0.0, t0
    for a, b in sorted(intervals):
        a, b = max(a, end), min(b, t1)
        if b > a:
            total += b - a
            end = b
    return total


def _stage_totals(stages: list[dict]) -> dict[str, float]:
    skew = 0.0
    for s in stages:
        dist = s.get("taskMetricsDistributions") or {}
        run = dist.get("executorRunTime") or []
        if s["numTasks"] >= 2 and len(run) == 2 and run[0] > 0:
            skew = max(skew, run[1] / run[0])
    return {
        "stages": len(stages),
        "tasks": sum(s["numCompleteTasks"] for s in stages),
        "executor_run_s": sum(s["executorRunTime"] for s in stages) / 1e3,
        "executor_cpu_s": sum(s["executorCpuTime"] for s in stages) / 1e9,
        "gc_s": sum(s["jvmGcTime"] for s in stages) / 1e3,
        "scan_mb": sum(s["inputBytes"] for s in stages) / MB,
        "shuffle_read_mb": sum(s["shuffleReadBytes"] for s in stages) / MB,
        "shuffle_write_mb": sum(s["shuffleWriteBytes"] for s in stages) / MB,
        "spill_mb": sum(s["diskBytesSpilled"] for s in stages) / MB,
        "task_skew": skew,
    }


def _stream_totals(progress: list[dict]) -> dict[str, float]:
    def ms(key: str) -> float:
        return sum(p["duration_ms"].get(key, 0) for p in progress) / 1e3

    return {
        "batches": len(progress),
        "input_rows": sum(p["input_rows"] for p in progress),
        "trigger_s": ms("triggerExecution"),
        "add_batch_s": ms("addBatch"),
        "planning_s": ms("queryPlanning"),
        "commit_s": ms("walCommit") + ms("commitOffsets"),
        "latest_offset_s": ms("latestOffset"),
        "state_rows": max((p["state_rows"] for p in progress), default=0),
        "state_mem_mb": max((p["state_bytes"] for p in progress), default=0) / MB,
    }


def attribute(span: Span, snap: StoreSnapshot) -> dict[str, float]:
    """Per-layer figures of one op, from the Spark records in its windows.

    ``plans.*`` split the call window: ``eager_s`` is the wall the call's own
    Spark jobs cover and ``build_s`` the rest (py4j plan construction,
    including the ``functions`` expression builders). ``spark.*`` are totals
    over both windows, repeated with an ``eager.``/``exec.`` prefix for each.
    """
    win = {"eager": (span.call0, span.call1), "exec": (span.exec0, span.exec1)}
    out: dict[str, float] = {}
    jobs_in = {}
    for phase, (t0, t1) in win.items():
        jobs = [j for j in snap.jobs if _within(j["submissionTime"] / 1e3, t0, t1)]
        jobs_in[phase] = jobs
        stages = [s for s in snap.stages if _within(s["submissionTime"] / 1e3, t0, t1)]
        totals = _stage_totals(stages)
        totals["jobs"] = len(jobs)
        for k, v in totals.items():
            out[f"spark.{phase}.{k}"] = v
    eager_s = _covered(
        [(j["submissionTime"] / 1e3, (j.get("completionTime") or j["submissionTime"]) / 1e3)
         for j in jobs_in["eager"]],
        span.call0,
        span.call1,
    )
    out["plans.call_s"] = span.call_s
    out["plans.eager_jobs"] = len(jobs_in["eager"])
    out["plans.eager_s"] = eager_s
    out["plans.build_s"] = span.call_s - eager_s
    out["spark.exec_s"] = span.exec_s
    out["spark.plan_s"] = sum(
        b - a for a, b in snap.phases
        if _within(a, span.call0, span.call1) or _within(a, span.exec0, span.exec1)
    )
    for k in ("jobs", "stages", "tasks", "executor_run_s", "executor_cpu_s", "gc_s",
              "scan_mb", "shuffle_read_mb", "shuffle_write_mb", "spill_mb"):
        out[f"spark.{k}"] = out[f"spark.eager.{k}"] + out[f"spark.exec.{k}"]
    out["spark.task_skew"] = max(out["spark.eager.task_skew"], out["spark.exec.task_skew"])
    progress = [p for p in snap.progress if _within(p["t"], span.call0, span.call1)]
    if progress:
        out.update({f"streaming.{k}": v for k, v in _stream_totals(progress).items()})
    return out

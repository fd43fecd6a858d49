"""Runs one workload in this process and computes its metrics.

Order of a run: start the session, set the workload up (inputs, oracles),
run the untimed warm pass that also checks every op's output, then run
whole timed passes until ``seconds`` have elapsed. One client, closed loop:
ops run serially and ``spark.catalog.clearCache()`` runs between them.
"""

from __future__ import annotations

import json
import os
import resource
import statistics
import subprocess
import sys
import time
import traceback

from tracing import Span, Tracer, attribute
from workloads import ROOT, WORKLOADS, Op

# Per-layer figures aggregated per pass by maximum instead of sum.
_MAX_KEYS = ("spark.task_skew", "spark.eager.task_skew", "spark.exec.task_skew",
             "streaming.state_rows", "streaming.state_mem_mb")


def _jvm_hwm_kb(spark) -> int:
    """Peak RSS (VmHWM) of the driver JVM the session runs in."""
    pid = spark.sparkContext._gateway.proc.pid
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1])
    raise RuntimeError(f"no VmHWM for JVM pid {pid}")


def _stop(spark) -> None:
    """Stop the session and wait for the JVM (and its Python workers) to exit."""
    gateway = spark.sparkContext._gateway
    proc = gateway.proc
    spark.stop()
    gateway.shutdown()
    proc.stdin.close()  # the JVM exits when its stdin closes
    try:
        proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()


def _run_op(spark, op, pass_no: int) -> Span:
    span = Span(op.name, pass_no, call0=time.time(), call1=0.0)
    try:
        out = op.call()
        span.call1 = span.exec0 = time.time()
        if op.sink:
            out.write.format("noop").mode("overwrite").save()
            span.exec1 = time.time()
        else:
            span.exec1 = span.exec0 = 0.0
    except Exception:
        traceback.print_exc()
        span.failed = True
        if span.call1 == 0.0:
            span.call1 = time.time()
        else:
            span.exec1 = time.time()
    spark.catalog.clearCache()
    return span


def _tail(walls: list[float]) -> dict | None:
    """Highest percentile with at least ten samples beyond it, if above p50."""
    n = len(walls)
    if n < 21:
        return None
    return {"value": sorted(walls)[n - 11], "percentile": round(100 * (n - 10) / n, 1),
            "samples": n}


def _per_pass(figures: list[tuple[int, dict]]) -> dict[str, float]:
    """Sum (or max) each figure within a pass, then take the median over passes."""
    passes: dict[int, dict[str, float]] = {}
    for pass_no, fig in figures:
        acc = passes.setdefault(pass_no, {})
        for k, v in fig.items():
            acc[k] = max(acc.get(k, v), v) if k in _MAX_KEYS else acc.get(k, 0) + v
    keys = sorted({k for acc in passes.values() for k in acc})
    return {k: statistics.median(acc.get(k, 0) for acc in passes.values()) for k in keys}


def run(
    name: str, seed: int, seconds: int, trace: bool, process_start: float, work: str
) -> tuple[dict, dict]:
    """Run workload ``name`` with scratch files under ``work``; return the
    result line and a detail record."""
    from flights_etl_pipeline_spark.session import get_spark

    t0 = time.time()
    spark = get_spark("perfbench")
    session_start_s = time.time() - t0
    try:
        tracer = Tracer(spark) if trace else None
        wl = WORKLOADS[name]()
        wl.setup(spark, seed, work)
        failures = wl.warm()
        for op_name, problem in failures.items():
            print(f"FAIL {name}/{op_name}: {problem}", file=sys.stderr)

        timed_start = time.time()
        setup_s = timed_start - process_start
        spans: list[tuple[Op, Span]] = []
        observed: list[tuple[int, dict]] = []
        pass_no = 0
        while pass_no == 0 or time.time() - timed_start < seconds:
            for op in wl.pass_ops(pass_no):
                span = _run_op(spark, op, pass_no)
                spans.append((op, span))
                if trace and hasattr(wl, "observe"):
                    observed.append((pass_no, wl.observe(op, span)))
            wl.end_pass(pass_no)
            pass_no += 1

        pass_walls = [sum(s.wall_s for _, s in spans if s.pass_no == p) for p in range(pass_no)]
        pass_rows = sum(op.rows for op, s in spans if s.pass_no == 0)
        wall_s = statistics.median(pass_walls)
        walls = [s.wall_s for _, s in spans]
        peak_rss_mb = (_jvm_hwm_kb(spark) + resource.getrusage(resource.RUSAGE_SELF).ru_maxrss) / 1024
        failed = len(failures) + sum(s.failed for _, s in spans)
        attempted = sum(1 for _, s in spans if s.pass_no == 0) + len(spans)  # warm pass + timed
        detail = {
            "workload": name, "seed": seed, "passes": pass_no, "ops": len(spans),
            "op_tail_s": _tail(walls), "fail_rate": failed / attempted,
            "peak_rss_mb": peak_rss_mb, "failures": failures,
            "op_walls": {op.name: [s.wall_s for o, s in spans if o.name == op.name]
                         for op, first in spans if first.pass_no == 0},
        }
        if trace:
            snap = tracer.snapshot()
            figures = []
            for op, span in spans:
                fig = attribute(span, snap)
                if op.layer == "consumption":
                    fig["consumption.read_s"] = span.wall_s
                figures.append((span.pass_no, fig))
            layers = _per_pass(figures + observed)
            layers["session.start_s"] = session_start_s
            layers["trace.wall_s"] = wall_s
            trace_dir = os.path.join(ROOT, ".perfbench", "traces")
            os.makedirs(trace_dir, exist_ok=True)
            path = os.path.join(trace_dir, f"{name}-seed{seed}.json")
            with open(path, "w") as fh:
                json.dump({**detail, "layers": layers,
                           "spans": [{**vars(s), **f} for (_, s), (_, f) in zip(spans, figures)]},
                          fh, indent=1, sort_keys=True)
            detail["trace_file"] = os.path.relpath(path, ROOT)
            detail["layers"] = layers
        else:
            detail["metrics"] = {
                "setup_s": setup_s,
                "wall_s": wall_s,
                "op_p50_s": statistics.median(walls),
                "rows_per_s": pass_rows / wall_s,
            }
        result = {"correct": failed == 0, "attempted": attempted, "failed": failed}
        return result, detail
    finally:
        _stop(spark)

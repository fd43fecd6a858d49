"""Layered benchmark of the flights ETL engine.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1
    python3 perfbench/run.py --workload all [--seed N] [--seconds S]

One workload per process, on ``local[<cores>]`` with the session defaults of
``get_spark()``. The last stdout line is the result:
``{"correct", "attempted", "failed", "metrics"}``, with the end-to-end
metrics under ``--trace 0`` and the per-layer metrics under ``--trace 1``.
The line before it is a detail record (tail percentile, failures, trace
file). ``--workload all`` runs every workload untraced and traced, each in a
fresh process, and prints the tracing overhead. See README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import subprocess
import sys
import time

PROCESS_START = time.time()
BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH_DIR)
CONFIG = os.path.join(ROOT, "BENCHMARK.json")


def _process_start() -> float:
    """Wall-clock start of this process (interpreter start-up included)."""
    try:
        with open("/proc/self/stat") as fh:
            start_ticks = int(fh.read().rsplit(")", 1)[1].split()[19])
        with open("/proc/uptime") as fh:
            uptime = float(fh.read().split()[0])
        return time.time() - (uptime - start_ticks / os.sysconf("SC_CLK_TCK"))
    except (OSError, ValueError, IndexError):
        return PROCESS_START


def _isolate_scratch(work: str) -> None:
    """Keep every file Spark, the JVM and Python write inside the checkout.
    These are locations, not tuning: the session keeps its defaults."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"


def _run_all(args, names: list[str]) -> int:
    status = 0
    for name in names:
        lines = {}
        for trace in (0, 1):
            cmd = [sys.executable, os.path.abspath(__file__), "--workload", name,
                   "--seed", str(args.seed), "--seconds", str(args.seconds),
                   "--trace", str(trace)]
            proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True)
            out = proc.stdout.strip().splitlines()
            if proc.returncode != 0 or not out:
                sys.stderr.write(proc.stderr[-4000:])
                status = 1
            lines[trace] = json.loads(out[-1]) if out else None
            print(json.dumps({"workload": name, "trace": trace, **(lines[trace] or {})}))
        if lines[0] and lines[1]:
            untraced = lines[0]["metrics"]["wall_s"]["value"]
            traced = lines[1]["metrics"]["trace.wall_s"]["value"]
            print(json.dumps({"workload": name, "tracing_overhead_s": traced - untraced}))
    return status


def main(argv: list[str]) -> int:
    parser = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    parser.add_argument("--workload", required=True)
    parser.add_argument("--seed", type=int, default=1)
    parser.add_argument("--seconds", type=int, default=None)
    parser.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = parser.parse_args(argv)
    if not os.path.exists(os.path.join(ROOT, "__spark_entry__.py")):
        print(f"perfbench: the program is missing next to {BENCH_DIR}", file=sys.stderr)
        return 2
    with open(CONFIG) as fh:
        config = json.load(fh)
    if args.seconds is None:
        args.seconds = config["run_seconds"]
    names = [w["name"] for w in config["workloads"]]
    if args.workload == "all":
        return _run_all(args, names)
    if args.workload not in names:
        parser.error(f"unknown workload {args.workload!r}; choose from {names} or all")

    start = _process_start()
    work = os.path.join(ROOT, ".perfbench", f"run-{os.getpid()}")
    _isolate_scratch(work)
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    sys.path.insert(0, ROOT)
    import harness

    try:
        result, detail = harness.run(
            args.workload, args.seed, args.seconds, bool(args.trace), start, work
        )
    finally:
        shutil.rmtree(work, ignore_errors=True)
    source = detail.get("layers") if args.trace else detail.pop("metrics")
    result["metrics"] = {
        m["name"]: {"value": source.get(m["name"], 0.0), "unit": m["unit"]}
        for m in config["per_layer" if args.trace else "end_to_end"]
    }
    print(json.dumps(detail, default=str))
    print(json.dumps(result))
    return 0 if result["correct"] else 1


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))

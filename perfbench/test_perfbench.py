"""Tests of the benchmark itself: generator, oracle gate, tracing, isolation.

Run with ``python3 -m pytest perfbench -q -p no:cacheprovider``. The
subprocess tests start Spark and take about a minute each.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pyarrow.compute as pc

from flights_gen import EDGE_ROWS, make_flights
from tracing import Span, StoreSnapshot, attribute

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH_DIR)


def test_same_seed_same_flights():
    assert make_flights(500, 7).equals(make_flights(500, 7))
    assert not make_flights(500, 7).equals(make_flights(500, 8))


def test_spec_b_edge_rows_present():
    rows = make_flights(2000, 3).to_pylist()
    row = lambda name: rows[EDGE_ROWS[name]]  # noqa: E731
    assert row("null_segments")["segmentsDurationInSeconds"] is None
    assert row("null_segments")["segmentsDistance"] is None
    four = row("four_segments")
    assert len(four["segmentsAirlineCode"].split("||")) == 4
    dep = four["segmentsDepartureAirportCode"].split("||")
    arr = four["segmentsArrivalAirportCode"].split("||")
    assert dep[1:] == arr[:-1]  # leg-consistent chain
    assert row("hours_only_duration")["travelDuration"] == "PT5H"
    assert row("minutes_only_duration")["travelDuration"] == "PT55M"
    assert row("base_equals_total")["baseFare"] == row("base_equals_total")["totalFare"]
    assert row("zero_seats")["seatsRemaining"] == 0
    same_day = row("same_day_flight")
    assert same_day["searchDate"] == same_day["flightDate"]
    # one (code, name) airline pair recurs across many rows (dim dedup)
    assert sum(r["segmentsAirlineCode"] == "AA" and r["segmentsAirlineName"] == "American Airlines"
               for r in rows) > 50
    # the random quirks of spec B show up at this size too
    assert any(r["travelDuration"] == "garbage-duration" for r in rows)
    assert any(r["baseFare"] > r["totalFare"] for r in rows)
    assert any(r["seatsRemaining"] < 0 for r in rows)
    assert any(r["startingAirport"] != r["startingAirport"].strip() for r in rows)
    seconds = [r["segmentsDurationInSeconds"] or "" for r in rows]
    assert any("None" in s.split("||") for s in seconds)
    assert any("null" in s.split("||") for s in seconds)
    for r in rows:
        n_seg = len(r["segmentsAirlineCode"].split("||"))
        assert r["isNonStop"] == (n_seg == 1)
        assert r["destinationAirport"] == r["segmentsArrivalAirportCode"].split("||")[-1]


def test_flights_index_is_the_watermark_key():
    t = make_flights(300, 1)
    assert t.column("index").to_pylist() == list(range(300))
    assert pc.min(t.column("searchDate")).as_py() >= "2022-04-16"


def test_attribute_splits_eager_and_exec_windows():
    span = Span("q", 0, call0=100.0, call1=102.0, exec0=102.0, exec1=103.0)
    stage = {"numTasks": 4, "numCompleteTasks": 4, "executorRunTime": 800,
             "executorCpuTime": 5e8, "jvmGcTime": 10, "inputBytes": 1 << 20,
             "shuffleReadBytes": 0, "shuffleWriteBytes": 0, "diskBytesSpilled": 0,
             "taskMetricsDistributions": {"executorRunTime": [100.0, 500.0]}}
    snap = StoreSnapshot(
        jobs=[{"submissionTime": 100_500, "completionTime": 101_000},
              {"submissionTime": 100_800, "completionTime": 101_200},
              {"submissionTime": 102_100, "completionTime": 102_900},
              {"submissionTime": 99_000, "completionTime": 99_500}],  # before the op
        stages=[{**stage, "submissionTime": 100_500}, {**stage, "submissionTime": 102_100}],
        phases=[(102.0, 102.25)],
        progress=[{"t": 100.1, "input_rows": 7, "duration_ms": {"triggerExecution": 300,
                   "addBatch": 200}, "state_rows": 3, "state_bytes": 0}],
    )
    fig = attribute(span, snap)
    assert fig["plans.eager_jobs"] == 2
    assert abs(fig["plans.eager_s"] - 0.7) < 1e-9  # union of [100.5,101.0] and [100.8,101.2]
    assert abs(fig["plans.build_s"] - 1.3) < 1e-9
    assert fig["plans.call_s"] + fig["spark.exec_s"] == span.wall_s
    assert fig["spark.jobs"] == 3 and fig["spark.exec.jobs"] == 1
    assert fig["spark.tasks"] == 8 and fig["spark.task_skew"] == 5.0
    assert abs(fig["spark.plan_s"] - 0.25) < 1e-9
    assert fig["streaming.batches"] == 1 and fig["streaming.input_rows"] == 7


def _run_bench(tmp_path, prelude: str, *args: str) -> tuple[int, list[str], str]:
    """Run ``run.main`` in a fresh interpreter whose cwd is ``tmp_path`` and
    whose PYTHONPATH is unset, after ``prelude`` has patched the workloads."""
    script = (
        f"import sys\nsys.path.insert(0, {BENCH_DIR!r})\n"
        "from functools import partial\nimport workloads\n"
        f"{prelude}\nimport run\nsys.exit(run.main({list(args)!r}))\n"
    )
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    proc = subprocess.run([sys.executable, "-c", script], cwd=str(tmp_path), env=env,
                          capture_output=True, text=True, timeout=600)
    return proc.returncode, proc.stdout.strip().splitlines(), proc.stderr


def test_python_worker_op_runs_from_a_foreign_cwd(tmp_path):
    # mapInPandas pickles its function by reference to the package: it runs
    # only if the op went through __spark_entry__, which ships the package
    rc, out, err = _run_bench(
        tmp_path,
        "workloads.WORKLOADS['dataprep_eager'] = "
        "partial(workloads.QueryWorkload, ('multimodal_features',))",
        "--workload", "dataprep_eager", "--seconds", "1",
    )
    assert rc == 0, err[-3000:]
    result = json.loads(out[-1])
    assert result["correct"] and result["failed"] == 0 and result["attempted"] >= 2


def test_corrupted_query_expectation_fails_the_run(tmp_path):
    rc, out, err = _run_bench(
        tmp_path,
        "class Corrupted(workloads.QueryWorkload):\n"
        "    def setup(self, *a):\n"
        "        super().setup(*a)\n"
        "        q = self.oracles['pricing_summary']\n"
        "        self.oracles = {**self.oracles,\n"
        "                        'pricing_summary': f'SELECT * FROM ({q}) LIMIT 1'}\n"
        "workloads.WORKLOADS['dataprep_eager'] = partial(Corrupted, ('pricing_summary',))",
        "--workload", "dataprep_eager", "--seconds", "1",
    )
    assert rc == 1
    result = json.loads(out[-1])
    assert not result["correct"] and result["failed"] == 1
    assert json.loads(out[-2])["failures"]["pricing_summary"].endswith("rows != oracle 1")


def test_corrupted_pipeline_expectation_fails_the_run(tmp_path):
    rc, out, err = _run_bench(
        tmp_path,
        "expected = workloads.expected_lake\n"
        "def corrupted(con):\n"
        "    e = expected(con)\n"
        "    e['silver'] += 1\n"
        "    return e\n"
        "workloads.expected_lake = corrupted",
        "--workload", "medallion_etl", "--seconds", "1",
    )
    assert rc == 1
    result = json.loads(out[-1])
    assert not result["correct"]
    assert set(json.loads(out[-2])["failures"]) == {"incr.silver", "incr.warehouse"}


def test_refuses_to_run_without_the_program(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(BENCH_DIR, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "dataprep_eager", "--seed", "1",
         "--seconds", "1", "--trace", "0"],
        cwd=str(tmp_path), capture_output=True, text=True, timeout=180,
    )
    assert proc.returncode != 0
    assert proc.stdout.strip() == ""

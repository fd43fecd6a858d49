"""Streaming jobs vs their batch twins at sf0.001 (fast smoke).

The sf0.01 oracle parity is the driver's gate; these tests pin the
streaming-specific mechanics: multi-batch replay determinism, watermark
closing of append windows, and stateful session timeout flushing.
"""

from __future__ import annotations

import os

import pytest

SF_DIR = "/root/testdata/sf0.001"


def _rows(df, cols):
    return sorted(tuple(r[c] for c in cols) for r in df.collect())


@pytest.mark.skipif(not os.path.isdir(SF_DIR), reason="testdata missing")
def test_hourly_stream_matches_batch(spark):
    from flights_etl_pipeline_spark.plans.queries_events import events_hourly
    from flights_etl_pipeline_spark.streaming import jobs

    batch = events_hourly(spark, SF_DIR).select(
        "hour_start", "event_type", "n_events", "total_value"
    )
    cols = ["hour_start", "event_type", "n_events", "total_value"]
    got = _rows(jobs.events_hourly_stream(spark, SF_DIR), cols)
    want = _rows(batch, cols)
    assert got == want and len(got) > 0


@pytest.mark.skipif(not os.path.isdir(SF_DIR), reason="testdata missing")
def test_hourly_append_emits_every_closed_window_once(spark):
    from flights_etl_pipeline_spark.plans.queries_events import events_hourly
    from flights_etl_pipeline_spark.streaming import jobs

    cols = ["hour_start", "event_type", "n_events", "total_value"]
    got = _rows(jobs.events_hourly_stream_append(spark, SF_DIR), cols)
    want = _rows(
        events_hourly(spark, SF_DIR).select(*cols),
        cols,
    )
    assert got == want  # exactly once, no duplicates, no open windows


@pytest.mark.skipif(not os.path.isdir(SF_DIR), reason="testdata missing")
def test_sessionize_stream_matches_batch(spark):
    from flights_etl_pipeline_spark.plans.queries_events import events_sessionize
    from flights_etl_pipeline_spark.streaming import jobs

    cols = ["user_id", "session_id", "n_events", "session_start", "session_end"]
    got = _rows(jobs.events_sessionize_stream(spark, SF_DIR), cols)
    want = _rows(events_sessionize(spark, SF_DIR), cols)
    assert got == want and len(got) > 0
    assert all(r[0] >= 0 for r in got)  # sentinel users never surface


def test_user_stats_processor_exact_micro_accumulation():
    """The transformWithStateInPandas processor's math, unit-tested with
    a fake state (the container lacks google.protobuf, so the wire path
    is exercised only on a full cluster): integer micro-unit totals must
    equal the floor(v*1e6+0.5) sum exactly, across multiple batches."""
    import pandas as pd

    from flights_etl_pipeline_spark.streaming.jobs import _UserStatsProcessor

    class FakeState:
        def __init__(self):
            self.v = None

        def exists(self):
            return self.v is not None

        def get(self):
            return self.v

        def update(self, v):
            self.v = v

    class FakeHandle:
        def getValueState(self, name, schema):
            return FakeState()

    proc = _UserStatsProcessor()
    proc.init(FakeHandle())
    b1 = pd.DataFrame({"value": [0.015, 2.5, 490.02]})
    b2 = pd.DataFrame({"value": [0.01]})
    out1 = list(proc.handleInputRows((7,), iter([b1]), None))
    out2 = list(proc.handleInputRows((7,), iter([b2]), None))
    import math

    expected = sum(math.floor(v * 1_000_000 + 0.5) for v in [0.015, 2.5, 490.02, 0.01])
    assert out2[0]["n_events"].iloc[0] == 4
    assert out2[0]["total_micro"].iloc[0] == expected
    assert out1[0]["n_events"].iloc[0] == 3


class _FakeState:
    """Minimal GroupState stand-in for driving sessionize_state_fn."""

    def __init__(self):
        self._val = None
        self.hasTimedOut = False
        self.timeout_ts = None

    @property
    def exists(self):
        return self._val is not None

    @property
    def get(self):
        return self._val

    def update(self, v):
        self._val = tuple(v)

    def remove(self):
        self._val = None

    def setTimeoutTimestamp(self, ts):
        self.timeout_ts = ts


def _events_pdf(ts_us_list):
    import pandas as pd

    return pd.DataFrame(
        {
            "user_id": [7] * len(ts_us_list),
            "ts": [pd.to_datetime(us, unit="us") for us in ts_us_list],
            "event_id": list(range(len(ts_us_list))),
        }
    )


def test_sessionize_counter_survives_timeout():
    """A user absent from intermediate micro-batches (timer fires, open
    session emitted) must NOT restart session numbering on return --
    the regression would emit a second session_id=1 colliding with the
    already-emitted one."""
    from flights_etl_pipeline_spark.streaming.jobs import (
        GAP_US,
        sessionize_state_fn,
    )

    state = _FakeState()
    # batch 1: two events, one open session
    out1 = list(sessionize_state_fn((7,), iter([_events_pdf([0, 10])]), state))
    assert out1 == [] and state.get[0] == 1

    # timer fires while the user is absent: open session flushes
    state.hasTimedOut = True
    out2 = list(sessionize_state_fn((7,), iter([]), state))
    state.hasTimedOut = False
    assert len(out2) == 1 and out2[0]["session_id"].iloc[0] == 1
    # counter must survive the flush
    assert state.exists and state.get[0] == 1

    # user reappears much later: a NEW session with the NEXT id
    out3 = list(
        sessionize_state_fn((7,), iter([_events_pdf([5 * GAP_US])]), state)
    )
    assert out3 == []
    assert state.get[0] == 2  # not a colliding 1

    # and its eventual flush carries session_id=2
    state.hasTimedOut = True
    out4 = list(sessionize_state_fn((7,), iter([]), state))
    assert out4[0]["session_id"].iloc[0] == 2


@pytest.mark.skipif(not os.path.isdir(SF_DIR), reason="testdata missing")
def test_stream_state_partitions_follow_task_slots(spark):
    """A stateful stream runs one state partition per task slot (capped
    at MAX_STATE_PARTITIONS), restores ``spark.sql.shuffle.partitions``
    after the drain -- also when the stream fails at start() -- and
    leaves no memory-sink table registered."""
    import time

    from pyspark.errors import AnalysisException
    from pyspark.sql.streaming import StreamingQueryListener

    from flights_etl_pipeline_spark.streaming import jobs
    from flights_etl_pipeline_spark.streaming.source import (
        prepare_stream_dir,
        read_event_stream,
    )

    class _StateParts(StreamingQueryListener):
        def __init__(self):
            self.started, self.parts = set(), []

        def onQueryStarted(self, event):
            self.started.add(str(event.id))

        def onQueryProgress(self, event):
            p = event.progress
            if str(p.id) in self.started and p.stateOperators:
                self.parts.append(p.stateOperators[0].numShufflePartitions)

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            pass

    key = "spark.sql.shuffle.partitions"
    prev = spark.conf.get(key)
    spark.conf.set(key, "11")
    listener = _StateParts()
    spark.streams.addListener(listener)
    try:
        out = jobs.events_dedup_stream(spark, SF_DIR)
        assert spark.conf.get(key) == "11"
        assert out.count() > 0  # the frame outlives the dropped sink view
        # progress events reach Python listeners asynchronously
        deadline = time.time() + 60
        while time.time() < deadline and not listener.parts:
            time.sleep(0.5)
        want = min(jobs.MAX_STATE_PARTITIONS, spark.sparkContext.defaultParallelism)
        assert listener.parts and set(listener.parts) == {want}, listener.parts

        stream_dir, _ = prepare_stream_dir(spark, SF_DIR, n_chunks=4, sentinels=False)
        ev = read_event_stream(spark, stream_dir)
        # append-mode aggregation without a watermark is rejected at start()
        with pytest.raises(AnalysisException):
            jobs._run_to_memory(ev.groupBy("event_type").count(), "append", "bad")
        assert spark.conf.get(key) == "11"
        assert not [t.name for t in spark.catalog.listTables() if t.name.startswith("mem_")]
    finally:
        spark.streams.removeListener(listener)
        spark.conf.set(key, prev)

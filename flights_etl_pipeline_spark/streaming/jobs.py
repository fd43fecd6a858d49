"""Structured Streaming jobs over the events stream.

Each job runs to completion with ``Trigger.AvailableNow`` into a memory
sink so the result is an ordinary DataFrame the driver harness can
hash-compare. The original three (plus later additions: streaming dedup,
stream-stream interval join, stream-static enrichment, top-k leaderboard,
transformWithState user stats, and the exactly-once foreachBatch parquet
sink):

- :func:`events_hourly_stream` — tumbling-window aggregation, complete
  output mode (the streaming twin of the batch ``events_hourly``).
- :func:`events_hourly_stream_append` — the same aggregation in *append*
  mode with a 1-hour watermark: windows emit only once the watermark
  closes them, which the sentinel files force for every real window.
- :func:`events_sessionize_stream` — 30-minute-gap sessionization as a
  custom stateful operator (``applyInPandasWithState`` with event-time
  timeouts); exact-parity twin of the batch ``events_sessionize``.

Scale notes: streaming state is partitioned by the grouping key
(one state store per state partition, sized by :func:`_run_to_memory`'s
rule), so both jobs shard by
high-cardinality uniform keys (window x type, user_id). The pandas state
function touches each user's delta once per batch — no per-user collect,
no cross-batch replay.
"""

from __future__ import annotations

import itertools
import os
import shutil
import uuid
from typing import Any, Iterable, Iterator, Tuple

import pandas as pd
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from flights_etl_pipeline_spark.functions.scalar import dsum
from flights_etl_pipeline_spark.streaming.source import (
    SENTINEL_USER,
    prepare_stream_dir,
    read_event_stream,
)

_SCRATCH = os.path.join(
    os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__)))),
    ".scratch",
    "ckpt",
)
_COUNTER = itertools.count()
# ceiling on a stream's state partitions: at local[32], 8 state partitions
# drained events_dedup_stream at sf0.1 in 1.5 s against 3.0 s at 32
MAX_STATE_PARTITIONS = 8


def _run_to_memory(writer_df: DataFrame, output_mode: str, name: str) -> DataFrame:
    """Start ``writer_df`` into a memory sink, await the AvailableNow
    drain and return the sink's rows. The checkpoint is throwaway (fresh
    per run) and the sink's temp view is dropped before returning, so a
    call, failed or not, leaves no table registered in the session.

    State partitions: the stream is planned at
    ``min(MAX_STATE_PARTITIONS, defaultParallelism)`` partitions, i.e.
    ``spark.sql.shuffle.partitions`` is set for the planning window and
    restored after the drain. A streaming query fixes its state partition
    count from that conf at first start, and every micro-batch runs one
    state task per partition, each paying a checksummed state-store
    commit whatever its row count. More partitions than task slots run
    each batch in several waves of tasks that mostly wait on commits: on
    4 cores at sf0.01, events_dedup_stream's 5 micro-batches ran 8 state
    tasks each (44 tasks per call, 5.2 s executor run time against 0.46 s
    CPU), and a call with its noop write took 2.80 s at 8 partitions
    against 2.12 s at 4 (24 tasks, 3.6 s run time).
    """
    spark = writer_df.sparkSession
    qname = f"mem_{name}_{next(_COUNTER)}_{os.getpid()}"
    ckpt = os.path.join(_SCRATCH, f"{qname}-{uuid.uuid4().hex[:8]}")
    prev_parts = spark.conf.get("spark.sql.shuffle.partitions")
    state_parts = min(MAX_STATE_PARTITIONS, spark.sparkContext.defaultParallelism)
    spark.conf.set("spark.sql.shuffle.partitions", str(state_parts))
    try:
        q = (
            writer_df.writeStream.outputMode(output_mode)
            .format("memory")
            .queryName(qname)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        # conf restore must wait for the drain: the stream thread snapshots
        # shuffle.partitions into its offset metadata asynchronously after
        # start(), so restoring earlier would race the capture
        q.awaitTermination()
        out = spark.table(qname)
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev_parts)
        # the resolved frame keeps the sink's rows; the view would
        # otherwise hold them in driver memory for the life of the session
        spark.catalog.dropTempView(qname)
        shutil.rmtree(ckpt, ignore_errors=True)
    return out


# ---------------------------------------------------------------------------
# Tumbling-window aggregation (complete mode)
# ---------------------------------------------------------------------------


def _hourly_agg(ev: DataFrame) -> DataFrame:
    # countDistinct is unsupported in streaming aggs, so the streaming
    # twin carries (count, exact-decimal sum) only
    return (
        ev.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            dsum("value", 6).alias("total_value"),
        )
        .select(
            F.col("w.start").alias("hour_start"),
            "event_type",
            "n_events",
            "total_value",
        )
    )


def events_hourly_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """4-batch replay -> tumbling 1h window x event_type, complete mode."""
    stream_dir, _ = prepare_stream_dir(spark, sf_dir, n_chunks=4, sentinels=False)
    ev = read_event_stream(spark, stream_dir)
    return _run_to_memory(_hourly_agg(ev), "complete", "hourly")


def events_hourly_stream_append(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermarked append mode: a window row is emitted exactly once, when
    the event-time watermark passes its end. The two sentinel batches
    advance the watermark past every real window; sentinel windows are
    filtered out of the sink (their user data never reaches output
    anyway — they only exist to move the clock)."""
    stream_dir, max_us = prepare_stream_dir(spark, sf_dir, n_chunks=4, sentinels=True)
    ev = read_event_stream(spark, stream_dir).withWatermark("ts", "1 hour")
    out = _run_to_memory(_hourly_agg(ev), "append", "hourly_append")
    return out.filter(F.col("hour_start") <= F.timestamp_micros(F.lit(max_us)))


def events_hopping_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hopping-window streaming aggregation: 1-hour windows sliding every
    15 minutes, complete mode. Each event contributes to 4 overlapping
    window states; state is sharded on the (window, ...) grouping key
    exactly like the tumbling job, so the overlap costs a constant 4x
    state fan-out, never a replay."""
    stream_dir, _ = prepare_stream_dir(spark, sf_dir, n_chunks=4, sentinels=False)
    ev = read_event_stream(spark, stream_dir)
    agg = (
        ev.groupBy(F.window("ts", "1 hour", "15 minutes").alias("w"))
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(F.col("w.start").alias("hop_start"), "n_events")
    )
    return _run_to_memory(agg, "complete", "hopping")


# ---------------------------------------------------------------------------
# Stateful sessionization (applyInPandasWithState, event-time timeout)
# ---------------------------------------------------------------------------

GAP_US = 1_800_000_000  # 30 minutes, integer microseconds

SESSION_OUT_SCHEMA = (
    "user_id LONG, session_id LONG, n_events LONG, "
    "session_start TIMESTAMP, session_end TIMESTAMP"
)
SESSION_STATE_SCHEMA = "session_id LONG, start_us LONG, end_us LONG, n LONG"


def _ts_to_us(col: pd.Series) -> pd.Series:
    return pd.to_datetime(col).astype("datetime64[ns]").astype("int64") // 1000


def _session_row(user_id: int, sid: int, n: int, s_us: int, e_us: int) -> pd.DataFrame:
    return pd.DataFrame(
        {
            "user_id": [user_id],
            "session_id": [sid],
            "n_events": [n],
            "session_start": [pd.to_datetime(s_us, unit="us")],
            "session_end": [pd.to_datetime(e_us, unit="us")],
        }
    )


def sessionize_state_fn(
    key: Tuple[Any, ...],
    pdfs: Iterable[pd.DataFrame],
    state: GroupState,
) -> Iterator[pd.DataFrame]:
    """Per-user session accumulator.

    State holds the one open session ``(session_id, start_us, end_us,
    n)``. New events (sorted by ts, event_id) either extend it (gap <=
    30 min) or close it — closed sessions are emitted immediately. The
    open session is emitted when its event-time timer (last event +
    30 min) falls behind the watermark. Sentinel users (< 0) drive the
    watermark but emit nothing.
    """
    user_id = int(key[0])

    if state.hasTimedOut:
        sid, s_us, e_us, n = state.get
        # Keep the per-user session counter across the timeout (no new
        # timer): removing state here would restart session_id at 1 if
        # the user reappears in a later batch, colliding with sessions
        # already emitted and diverging from the batch oracle's monotone
        # numbering. Only the open-session fields are cleared.
        state.update((sid, None, None, 0))
        if user_id >= 0:
            yield _session_row(user_id, sid, n, s_us, e_us)
        return

    pdf = pd.concat(list(pdfs), ignore_index=True)
    pdf = pdf.assign(_us=_ts_to_us(pdf["ts"])).sort_values(["_us", "event_id"])

    sid, s_us, e_us, n = state.get if state.exists else (0, None, None, 0)
    out: list[pd.DataFrame] = []
    for ev_us in pdf["_us"].to_list():
        if s_us is None:
            sid, s_us, e_us, n = sid + 1, ev_us, ev_us, 1
        elif ev_us - e_us > GAP_US:
            if user_id >= 0:
                out.append(_session_row(user_id, sid, n, s_us, e_us))
            sid, s_us, e_us, n = sid + 1, ev_us, ev_us, 1
        else:
            e_us, n = max(e_us, ev_us), n + 1

    state.update((sid, s_us, e_us, n))
    # timer in epoch-millis: fire once the watermark passes last+gap
    state.setTimeoutTimestamp(e_us // 1000 + GAP_US // 1000)
    yield from out


def events_sessionize_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming twin of ``events_sessionize``: same (user, session)
    grid, exact parity — the sentinel batches force every open session's
    timer to fire before the query drains."""
    stream_dir, _ = prepare_stream_dir(spark, sf_dir, n_chunks=4, sentinels=True)
    ev = read_event_stream(spark, stream_dir).withWatermark("ts", "30 seconds")
    sessions = ev.groupBy("user_id").applyInPandasWithState(
        sessionize_state_fn,
        outputStructType=SESSION_OUT_SCHEMA,
        stateStructType=SESSION_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.EventTimeTimeout,
    )
    return _run_to_memory(sessions, "append", "sessionize")


# ---------------------------------------------------------------------------
# Streaming dedup (dropDuplicatesWithinWatermark)
# ---------------------------------------------------------------------------


def events_dedup_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming exact dedup by (user_id, event_type) via
    ``dropDuplicatesWithinWatermark``: first arrival of each key emits,
    repeats within the watermark horizon are dropped in the state store.

    The watermark delay (40 days) exceeds the dataset's 30-day span, so
    no key ever ages out and the output is exactly one row per distinct
    key — batch-equivalent by construction. In production the delay is
    the real dedup horizon and state size is bounded by keys-per-horizon
    (the point of the WithinWatermark variant vs unbounded
    ``dropDuplicates``). Only key columns are projected so the output is
    arrival-order independent.
    """
    stream_dir, _ = prepare_stream_dir(spark, sf_dir, n_chunks=4, sentinels=False)
    ev = read_event_stream(spark, stream_dir).withWatermark("ts", "40 days")
    dedup = ev.dropDuplicatesWithinWatermark(["user_id", "event_type"]).select(
        "user_id", "event_type"
    )
    return _run_to_memory(dedup, "append", "dedup")


# ---------------------------------------------------------------------------
# Stream-stream interval join
# ---------------------------------------------------------------------------


def events_view_purchase_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream inner join: purchases within 1 hour after a view by
    the same user. Both sides carry a 2-hour watermark plus the interval
    condition, which lets Spark evict view-state once no future purchase
    can land in its window — the state-bound that makes stream-stream
    joins runnable indefinitely.

    Replay chunks are chronological, so a 2-hour delay strictly covers
    the 1-hour join window across batch boundaries: every match is
    emitted before the corresponding state is evicted, giving exact
    batch parity under the AvailableNow drain.
    """
    stream_dir, _ = prepare_stream_dir(spark, sf_dir, n_chunks=4, sentinels=False)
    ev = read_event_stream(spark, stream_dir)
    views = (
        ev.filter(F.col("event_type") == "view")
        .select(
            F.col("event_id").alias("view_id"),
            "user_id",
            F.col("ts").alias("view_ts"),
        )
        .withWatermark("view_ts", "2 hours")
    )
    purchases = (
        ev.filter(F.col("event_type") == "purchase")
        .select(
            F.col("event_id").alias("purchase_id"),
            F.col("user_id").alias("p_user"),
            F.col("ts").alias("purchase_ts"),
        )
        .withWatermark("purchase_ts", "2 hours")
    )
    joined = views.join(
        purchases,
        F.expr(
            "user_id = p_user AND purchase_ts >= view_ts "
            "AND purchase_ts <= view_ts + INTERVAL 1 HOUR"
        ),
    ).select("user_id", "view_id", "purchase_id")
    return _run_to_memory(joined, "append", "ss_join")


# ---------------------------------------------------------------------------
# Stream-static enrichment join
# ---------------------------------------------------------------------------


def events_enrich_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static join: enrich the event stream with the customer
    dimension (user_id -> c_custkey). The static side is a plain batch
    DataFrame -- Spark re-plans it per micro-batch, broadcasts it (far
    under the autoBroadcast threshold), and the join is STATELESS: no
    watermark, no state store, append mode. This is the canonical
    dimension-enrichment shape at any scale -- the stream never shuffles,
    each micro-batch joins the dim snapshot unhinted (AQE broadcasts
    small snapshots; a 100 TB-scale dim shuffles instead) (and picks up dim updates between batches for free).
    """
    stream_dir, _ = prepare_stream_dir(spark, sf_dir, n_chunks=4, sentinels=False)
    ev = read_event_stream(spark, stream_dir)
    dim = (
        spark.read.parquet(f"{sf_dir}/customer.parquet")
        .select(
            F.col("c_custkey").alias("user_id"),
            "c_mktsegment",
            "c_nationkey",
        )
    )
    enriched = ev.join(dim, "user_id").select(
        "event_id", "user_id", "event_type", "c_mktsegment", "c_nationkey"
    )
    return _run_to_memory(enriched, "append", "enrich")


# ---------------------------------------------------------------------------
# transformWithStateInPandas (Spark 4 stateful processor API)
# ---------------------------------------------------------------------------

from pyspark.sql.streaming.stateful_processor import (  # noqa: E402
    StatefulProcessor,
    StatefulProcessorHandle,
)

_MICRO = 1_000_000


class _UserStatsProcessor(StatefulProcessor):
    """Running per-user event count + value total in integer micro-units.

    Money-safe accumulation without decimal support in the state row:
    each value is quantized to int micro-units (floor(v*1e6 + 0.5), the
    dround sequence), and integer sums are exact at any scale and any
    arrival order. The per-batch numpy sum is also exact: every addend
    is integer-valued and the running total stays far below 2^53.
    """

    def init(self, handle: StatefulProcessorHandle) -> None:
        self._state = handle.getValueState(
            "stats", "n BIGINT, total_micro BIGINT"
        )

    def handleInputRows(self, key, rows, timerValues):
        import numpy as np

        n, total = self._state.get() if self._state.exists() else (0, 0)
        for pdf in rows:
            v = pdf["value"].to_numpy(dtype="float64")
            total += int(np.floor(v * _MICRO + 0.5).sum())
            n += len(pdf)
        self._state.update((n, total))
        yield pd.DataFrame(
            {"user_id": [key[0]], "n_events": [n], "total_micro": [total]}
        )

    def close(self) -> None:
        pass


def events_user_stats_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user running stats via ``transformWithStateInPandas`` -- the
    Spark-4 arbitrary-state API (typed ValueState, RocksDB-backed store).
    Each micro-batch updates the user's ValueState and emits the running
    totals; the final row per user (its max event count) equals the
    batch aggregate exactly."""
    prev_provider = spark.conf.get(
        "spark.sql.streaming.stateStore.providerClass", None
    )
    spark.conf.set(
        "spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state."
        "RocksDBStateStoreProvider",
    )
    try:
        stream_dir, _ = prepare_stream_dir(
            spark, sf_dir, n_chunks=4, sentinels=False
        )
        ev = read_event_stream(spark, stream_dir)
        stats = ev.groupBy("user_id").transformWithStateInPandas(
            statefulProcessor=_UserStatsProcessor(),
            outputStructType="user_id BIGINT, n_events BIGINT, total_micro BIGINT",
            outputMode="Update",
            timeMode="None",
        )
        out = _run_to_memory(stats, "update", "user_stats")
    finally:
        if prev_provider is None:
            spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
        else:
            spark.conf.set(
                "spark.sql.streaming.stateStore.providerClass", prev_provider
            )
    from pyspark.sql.window import Window

    w = Window.partitionBy("user_id").orderBy(F.col("n_events").desc())
    return (
        out.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .drop("rn")
    )


def events_topk_stream(spark: SparkSession, sf_dir: str, k: int = 3) -> DataFrame:
    """Streaming top-k: incrementally maintained (hour, user) counts in
    complete mode; the rank is a batch window over the drained state
    snapshot (streaming aggregation cannot host a rank itself -- the
    state holds the counts, the sink read ranks them, which is exactly
    how a live leaderboard view reads a complete-mode sink)."""
    stream_dir, _ = prepare_stream_dir(spark, sf_dir, n_chunks=4, sentinels=False)
    ev = read_event_stream(spark, stream_dir)
    counts = (
        ev.groupBy(F.window("ts", "1 hour").alias("w"), "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(F.col("w.start").alias("hour_start"), "user_id", "n_events")
    )
    sink = _run_to_memory(counts, "complete", "topk")
    rnk = Window.partitionBy("hour_start").orderBy(
        F.col("n_events").desc(), F.col("user_id").asc()
    )
    return (
        sink.withColumn("rnk", F.row_number().over(rnk))
        .filter(F.col("rnk") <= k)
        .select("hour_start", "user_id", "n_events", "rnk")
    )


def stream_to_parquet_exactly_once(
    spark: SparkSession, sf_dir: str, out_dir: str
) -> int:
    """Idempotent streaming file sink via ``foreachBatch``: each
    micro-batch lands in a ``batch_id=<epoch>`` partition with dynamic
    partition overwrite, so a replayed epoch (restart after a crash
    between sink-commit and checkpoint-commit) OVERWRITES its own
    partition instead of appending duplicates -- the standard
    exactly-once discipline for non-transactional sinks. Returns the
    number of micro-batches written.

    At scale the same pattern keys the partition by (epoch, window) or
    writes through a transactional table format; the invariant is that
    the partition key is a pure function of the epoch id.
    """
    stream_dir, _ = prepare_stream_dir(spark, sf_dir, n_chunks=4, sentinels=False)
    ev = read_event_stream(spark, stream_dir)
    n_batches = itertools.count()

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        next(n_batches)
        (
            batch_df.withColumn("batch_id", F.lit(batch_id))
            .write.mode("overwrite")
            .partitionBy("batch_id")
            .parquet(out_dir)
        )

    ckpt = os.path.join(_SCRATCH, f"febatch-{uuid.uuid4().hex[:8]}")
    q = (
        ev.writeStream.foreachBatch(write_batch)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    try:
        q.awaitTermination()
    finally:
        shutil.rmtree(ckpt, ignore_errors=True)
    return next(n_batches)


def stream_to_jdbc_exactly_once(
    spark: SparkSession,
    sf_dir: str,
    url: str,
    table: str,
    props: dict[str, str],
) -> int:
    """Exactly-once streaming JDBC sink: delete-then-append keyed by
    the epoch id. A plain ``append`` through ``foreachBatch`` is
    at-least-once (a crash between sink write and checkpoint commit
    replays the epoch into duplicates); making the DATA write
    idempotent closes the gap without needing the sink transaction to
    span the checkpoint: every row carries its ``batch_id``, and a
    (re)played epoch first DELETEs its own rows — one driver-side
    statement on the epoch KEY, never row data — then appends. Any
    crash point replays to the same final state. The relational twin
    of ``stream_to_parquet_exactly_once``'s dynamic partition
    overwrite; at scale the DELETE is a partition/index-range drop and
    the append runs through ``df.write.jdbc``'s per-partition
    executor connections (numPartitions-controlled), so no data moves
    through the driver. Returns the number of micro-batches written.
    """
    stream_dir, _ = prepare_stream_dir(spark, sf_dir, n_chunks=4, sentinels=False)
    ev = read_event_stream(spark, stream_dir).select(
        "event_id", "user_id", "event_type", "ts"
    )
    # create the target with the right schema (overwrite: fresh run)
    empty = (
        spark.createDataFrame([], ev.schema)
        .withColumn("batch_id", F.lit(0).cast("long"))
    )
    empty.write.jdbc(url, table, mode="overwrite", properties=props)
    n_batches = itertools.count()

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        next(n_batches)
        jvm = spark._sc._jvm
        conn = jvm.java.sql.DriverManager.getConnection(url)
        try:
            st = conn.createStatement()
            # epoch-keyed, value-free: idempotent and replay-safe.
            # ("batch_id" quoted: Spark's JDBC writer creates quoted
            # case-sensitive columns, which Derby/ANSI fold rules would
            # otherwise miss)
            st.executeUpdate(
                f'DELETE FROM {table} WHERE "batch_id" = {int(batch_id)}'
            )
            st.close()
        finally:
            conn.close()
        (
            batch_df.withColumn("batch_id", F.lit(int(batch_id)).cast("long"))
            .write.jdbc(url, table, mode="append", properties=props)
        )

    ckpt = os.path.join(_SCRATCH, f"jdbcsink-{uuid.uuid4().hex[:8]}")
    q = (
        ev.writeStream.foreachBatch(write_batch)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    try:
        q.awaitTermination()
    finally:
        shutil.rmtree(ckpt, ignore_errors=True)
    return next(n_batches)


def events_view_purchase_left_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream LEFT OUTER interval join: every view emits, with the
    matching purchase (within 1 hour after) or NULL once the event-time
    watermark proves no match can still arrive.

    The null-emission path is what distinguishes outer from inner
    stream-stream joins: an unmatched view row sits in state until the
    watermark passes view_ts + 1 hour, then flushes with purchase_id
    NULL. Sentinel rows must flow through BOTH watermark branches (they
    are filtered only after the join), otherwise the per-branch
    watermarks never pass the trailing views and their null rows would
    be held forever under the AvailableNow drain.

    State bound is identical to the inner join: both sides evict once
    the watermark clears their interval, so state is O(events in the
    watermark horizon) regardless of stream length.
    """
    stream_dir, _ = prepare_stream_dir(spark, sf_dir, n_chunks=4, sentinels=True)
    ev = read_event_stream(spark, stream_dir)
    views = (
        ev.filter(F.col("event_type").isin("view", "__sentinel__"))
        .select(
            F.col("event_id").alias("view_id"),
            "user_id",
            F.col("ts").alias("view_ts"),
        )
        .withWatermark("view_ts", "2 hours")
    )
    purchases = (
        ev.filter(F.col("event_type").isin("purchase", "__sentinel__"))
        .select(
            F.col("event_id").alias("purchase_id"),
            F.col("user_id").alias("p_user"),
            F.col("ts").alias("purchase_ts"),
        )
        .withWatermark("purchase_ts", "2 hours")
    )
    joined = views.join(
        purchases,
        F.expr(
            "user_id = p_user AND purchase_ts >= view_ts "
            "AND purchase_ts <= view_ts + INTERVAL 1 HOUR"
        ),
        "leftOuter",
    ).select("user_id", "view_id", "purchase_id")
    out = _run_to_memory(joined, "append", "ss_left_outer")
    # sentinel-left rows (user_id < 0) exist only to advance the clock
    return out.filter(F.col("user_id") >= 0)


# ---------------------------------------------------------------------------
# Streaming corpus curation: stateless quality gate over a document stream
# ---------------------------------------------------------------------------

_QGATE_DIM = 128
_QGATE_INTERCEPT_MILLI = -100


def _qgate_weights_milli() -> list[int]:
    """The quality model's weight vector — delegates to the canonical
    definition (plans.queries_ml.qlr_weights_milli) so the streaming
    twin can never drift from the batch gate. This is the sanctioned
    broadcast-model channel: 128 ints computed driver-side once — a
    real fitted model would ship the same way. (Imported lazily:
    plans modules register queries at import time.)"""
    from flights_etl_pipeline_spark.plans.queries_ml import (
        qlr_weights_milli,
    )

    return qlr_weights_milli()


def docs_quality_gate_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming quality-classifier gate: score every incoming document
    with the hashed-feature linear model, fully STATELESS — the weight
    vector is a 128-int broadcast literal and the whole score (token
    hash → weight lookup → integer-milli dot product → sigmoid) is
    row-local column arithmetic, so the stream runs in append mode with
    no state store, no watermark, and no shuffle. This is the shape a
    crawl-ingest curation gate has at 100 TB/day: a pure map over
    micro-batches, horizontally scalable by adding executors.

    Exactness: per-doc scores are bit-identical to the batch
    ``quality_logreg_score`` (same md5 buckets, same integer-milli
    arithmetic, same quantized sigmoid), so the streaming output
    hash-matches the same batch SQL oracle."""
    from flights_etl_pipeline_spark.streaming.source import (
        prepare_docs_stream_dir,
        read_docs_stream,
    )

    stream_dir = prepare_docs_stream_dir(spark, sf_dir, n_chunks=4)
    docs = read_docs_stream(spark, stream_dir)

    w_arr = F.array(*[F.lit(w) for w in _qgate_weights_milli()])

    def _bucket(tok: F.Column) -> F.Column:
        h = F.conv(F.substring(F.md5(tok), 1, 15), 16, 10).cast("long")
        return h % _QGATE_DIM

    toks = F.split(F.lower(F.col("text")), r"\s+")
    logit = F.aggregate(
        toks,
        F.lit(_QGATE_INTERCEPT_MILLI).cast("long"),
        lambda acc, t: acc + F.element_at(w_arr, (_bucket(t) + 1).cast("int")),
    )
    scored = docs.select(
        "doc_id",
        F.size(toks).cast("long").alias("n_tokens"),
        logit.alias("logit_sum_milli"),
    ).select(
        "doc_id",
        "n_tokens",
        "logit_sum_milli",
        F.floor(
            F.lit(1000000.0)
            / (
                1.0
                + F.exp(
                    -(
                        F.col("logit_sum_milli").cast("double")
                        / (1000.0 * F.col("n_tokens"))
                    )
                )
            )
            + 0.5
        )
        .cast("long")
        .alias("prob_micro"),
    )
    return _run_to_memory(scored, "append", "docs_quality_gate")


def stream_merge_upsert(
    spark: SparkSession, sf_dir: str, out_dir: str
) -> int:
    """Streaming MERGE (upsert) sink via ``foreachBatch``: each
    micro-batch of the CDC-shaped event stream is compacted to its
    latest row per (user_id, event_type), full-outer-merged with the
    current keyed target table (newer (ts, event_id) wins), and the
    merged state replaces the target ATOMICALLY — write to a staging
    directory, then directory swap (the compact_parquet_dir pattern).
    This is the production shape for maintaining a keyed warehouse
    table from a changelog with a non-transactional file sink:
    the merge is IDEMPOTENT (per-key max over (ts, event_id)), so a
    replayed epoch — restart after sink-commit but before
    checkpoint-commit — converges to the same state instead of
    duplicating. A crash between the swap's two renames is recovered
    on the next batch entry (the orphaned complete dir is restored
    before merging). Returns the number of micro-batches merged.

    Scale shape: per batch, one window over the BATCH (delta-sized),
    one key-partitioned full-outer join against the target; the target
    is read/written whole here — at warehouse scale the same merge
    writes through a transactional format (or partition-pruned swap)
    keyed on the join key, and the join co-locates if the target is
    bucketed on the key (write_bucketed_table)."""
    stream_dir, _ = prepare_stream_dir(
        spark, sf_dir, n_chunks=4, sentinels=False
    )
    ev = read_event_stream(spark, stream_dir)
    state_dir = os.path.join(out_dir, "state")
    n_batches = itertools.count()

    def merge_batch(batch_df: DataFrame, batch_id: int) -> None:
        next(n_batches)
        _recover_state_dir(state_dir)
        w = Window.partitionBy("user_id", "event_type").orderBy(
            F.col("ts").desc(), F.col("event_id").desc()
        )
        delta = (
            batch_df.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") == 1)
            .select(
                "user_id",
                "event_type",
                F.col("ts").alias("latest_ts"),
                F.col("value").alias("latest_value"),
                F.col("event_id").alias("latest_event_id"),
            )
        )
        if os.path.exists(os.path.join(state_dir, "_SUCCESS")):
            cur = spark.read.parquet(state_dir)
            d, c = delta.alias("d"), cur.alias("c")
            newer = F.col("c.latest_ts").isNull() | (
                F.struct("d.latest_ts", "d.latest_event_id")
                > F.struct("c.latest_ts", "c.latest_event_id")
            )
            merged = d.join(c, ["user_id", "event_type"], "full_outer").select(
                "user_id",
                "event_type",
                *[
                    F.when(
                        F.col("d.latest_ts").isNotNull() & newer,
                        F.col(f"d.{col}"),
                    )
                    .otherwise(F.col(f"c.{col}"))
                    .alias(col)
                    for col in ("latest_ts", "latest_value", "latest_event_id")
                ],
            )
        else:
            merged = delta
        staging = f"{state_dir}.staging-{batch_id}"
        merged.write.mode("overwrite").parquet(staging)
        trash = f"{state_dir}.old-{batch_id}"
        if os.path.exists(state_dir):
            os.replace(state_dir, trash)
        os.replace(staging, state_dir)
        shutil.rmtree(trash, ignore_errors=True)

    ckpt = os.path.join(_SCRATCH, f"cdcmerge-{uuid.uuid4().hex[:8]}")
    q = (
        ev.writeStream.foreachBatch(merge_batch)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    try:
        q.awaitTermination()
    finally:
        shutil.rmtree(ckpt, ignore_errors=True)
    return next(n_batches)


def _recover_state_dir(state_dir: str) -> None:
    """Restore ``state_dir`` from an orphaned generation after a crash
    inside :func:`stream_merge_upsert`'s two-rename swap (state ->
    .old-N, then .staging-N -> state): a crash between the renames
    leaves no state_dir while the fully-written state survives in the
    orphan. Without this, the next batch's ``_SUCCESS`` existence check
    would silently treat the target as empty and discard previously
    merged state (round-4 ADVICE). Picks the newest complete orphan,
    preferring the post-merge ``.staging-N`` over the pre-merge
    ``.old-N`` for the same batch (the merge is idempotent either way;
    staging just skips one replay), then clears the remaining orphans
    so crash debris never accumulates."""
    if os.path.exists(os.path.join(state_dir, "_SUCCESS")):
        return
    base = os.path.basename(state_dir)
    parent = os.path.dirname(state_dir)
    orphans = [
        os.path.join(parent, d)
        for d in (os.listdir(parent) if os.path.isdir(parent) else [])
        if d.startswith(base + ".old-") or d.startswith(base + ".staging-")
    ]
    complete = [
        d for d in orphans if os.path.exists(os.path.join(d, "_SUCCESS"))
    ]
    if complete:
        newest = max(
            complete,
            key=lambda d: (int(d.rsplit("-", 1)[-1]), ".staging-" in d),
        )
        shutil.rmtree(state_dir, ignore_errors=True)
        os.replace(newest, state_dir)
        for d in orphans:
            if d != newest:
                shutil.rmtree(d, ignore_errors=True)


def events_cdc_merge_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Drain the events stream through :func:`stream_merge_upsert` and
    return the final keyed state table — the streaming twin of the
    batch ``cdc_latest_state`` query (same oracle: after AvailableNow
    drains every chunk, the incrementally-merged table equals the
    batch changelog compaction)."""
    out = os.path.join(_SCRATCH, f"cdcstate-{uuid.uuid4().hex[:8]}")
    stream_merge_upsert(spark, sf_dir, out)
    return spark.read.parquet(os.path.join(out, "state"))


# ---------------------------------------------------------------------------
# Streaming -> bucketed warehouse table -> co-bucketed join (end-to-end)
# ---------------------------------------------------------------------------

_BKT_DB = "stream_bkt"
_BKT_STATE = "user_state"
_BKT_DIM = "customer_dim"
_BKT_N = 16


def _drop_state_table(spark: SparkSession, name: str) -> None:
    """DROP TABLE plus physical-location cleanup: a crashed previous run
    can leave the managed location on disk with no catalog entry, and
    saveAsTable then fails with LOCATION_ALREADY_EXISTS."""
    fq = f"{_BKT_DB}.{name}"
    spark.sql(f"DROP TABLE IF EXISTS {fq}")
    wh = spark.conf.get("spark.sql.warehouse.dir", "")
    wh = wh.removeprefix("file:")
    loc = os.path.join(wh, f"{_BKT_DB}.db", name)
    if wh and os.path.isdir(loc):
        shutil.rmtree(loc, ignore_errors=True)


def stream_bucketed_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end: events stream -> per-user aggregate state maintained
    in a BUCKETED managed table via ``foreachBatch`` -> co-bucketed join
    against a customer dim bucketed on the same key/count -> segment
    rollup. The round-4 bucketed sink (sources/sinks.py
    write_bucketed_table) becomes the *target of a streaming pipeline*
    instead of a standalone DDL surface.

    Per batch: the micro-batch pre-aggregates per user (count + exact
    decimal sum), merges with the current state generation by key, and
    writes the next state generation BUCKETED on user_id (alternating
    g0/g1 tables — saveAsTable cannot overwrite its own input, and
    writing the inactive generation means a concurrent reader of the
    active one never sees a half-written table). After the drain the
    final generation is published under the stable name. The merge is a
    sum-combine, so replaying a batch after a sink-commit/
    checkpoint-commit crash would double-count — the production answer
    is the idempotent MERGE of stream_merge_upsert or a transactional
    table format; this job's contract is the layout: state lands
    bucketed, every downstream user_id join or groupBy skips its
    Exchange.

    Scale shape: each batch shuffles only the delta (per-user partials)
    plus a state-sized rewrite; at warehouse scale the rewrite becomes
    partition-pruned (bucket files are stable under key-hash, only
    buckets containing changed keys rewrite). The final join runs with
    ZERO Exchange below the join (asserted in
    tests/test_stream_bucketed.py) because both sides are bucketed on
    the join key with the same bucket count; the segment rollup then
    shuffles 16 partials.
    """
    from flights_etl_pipeline_spark.sources.sinks import (
        ensure_database,
        write_bucketed_table,
    )

    stream_dir, _ = prepare_stream_dir(
        spark, sf_dir, n_chunks=4, sentinels=False
    )
    ev = read_event_stream(spark, stream_dir)
    ensure_database(spark, _BKT_DB)
    gens = [f"{_BKT_STATE}_g0", f"{_BKT_STATE}_g1"]
    for t in (*gens, _BKT_STATE):
        _drop_state_table(spark, t)
    last_gen: list[str | None] = [None]

    def upsert_batch(batch_df: DataFrame, batch_id: int) -> None:
        s = batch_df.sparkSession
        delta = batch_df.groupBy("user_id").agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,6)"))
            .cast("decimal(18,6)")
            .alias("total_dec"),
        )
        if last_gen[0] is not None:
            merged = (
                s.table(f"{_BKT_DB}.{last_gen[0]}")
                .unionByName(delta)
                .groupBy("user_id")
                .agg(
                    F.sum("n_events").alias("n_events"),
                    F.sum("total_dec")
                    .cast("decimal(18,6)")
                    .alias("total_dec"),
                )
            )
        else:
            merged = delta
        target = gens[int(batch_id) % 2]
        _drop_state_table(s, target)
        write_bucketed_table(
            merged, _BKT_DB, target, "user_id", _BKT_N, sort_col="user_id"
        )
        last_gen[0] = target

    ckpt = os.path.join(_SCRATCH, f"bktroll-{uuid.uuid4().hex[:8]}")
    q = (
        ev.writeStream.foreachBatch(upsert_batch)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    try:
        q.awaitTermination()
    finally:
        shutil.rmtree(ckpt, ignore_errors=True)

    # publish the final generation under the stable name (one extra
    # state-sized bucketed write; at warehouse scale this is the swap a
    # transactional format does with a metadata commit)
    assert last_gen[0] is not None, "stream produced no batches"
    write_bucketed_table(
        spark.table(f"{_BKT_DB}.{last_gen[0]}"),
        _BKT_DB,
        _BKT_STATE,
        "user_id",
        _BKT_N,
        sort_col="user_id",
    )
    for g in gens:
        _drop_state_table(spark, g)

    # co-bucketed dim: customer keyed by custkey-as-user_id, same
    # bucket count -> the state<->dim join needs no Exchange
    # unconditionally recreated: the session catalog is in-memory, so a
    # previous session's table survives only as a warehouse directory
    # (tableExists says no, the location collides) — drop both first
    _drop_state_table(spark, _BKT_DIM)
    dim = spark.read.parquet(f"{sf_dir}/customer.parquet").select(
        F.col("c_custkey").alias("user_id"), "c_mktsegment"
    )
    write_bucketed_table(
        dim, _BKT_DB, _BKT_DIM, "user_id", _BKT_N, sort_col="user_id"
    )
    return bucketed_rollup_join(spark)


def bucketed_rollup_join(spark: SparkSession) -> DataFrame:
    """The downstream consumer of the bucketed streaming state: join the
    state and dim tables (both bucketed on user_id x 16 -> Exchange-free
    join) and roll up per market segment. Split out so the plan test
    can assert the zero-Exchange join on exactly the frame the query
    returns."""
    state = spark.table(f"{_BKT_DB}.{_BKT_STATE}")
    dim = spark.table(f"{_BKT_DB}.{_BKT_DIM}")
    return (
        state.join(dim, "user_id")
        .groupBy(F.col("c_mktsegment").alias("segment"))
        .agg(
            F.count(F.lit(1)).alias("n_users"),
            F.sum("n_events").alias("n_events"),
            F.sum("total_dec").cast("double").alias("total_value"),
        )
    )


# ---------------------------------------------------------------------------
# Streaming corpus release: gate -> incremental dedup index -> decontam
# ---------------------------------------------------------------------------

_RELEASE_KEY_BASE = 1_000_000_000  # > any doc_id incl. the 2e8-offset
# injected copies; arrival key = batch * BASE + doc_id
# INVARIANT: the oracle's arrival key ((doc_id % _RELEASE_CHUNKS) *
# BASE + doc_id) equals the job's (batch_id * BASE + doc_id) for
# injected copies only because both injection offsets are divisible by
# _RELEASE_CHUNKS (an offset copy then lands in the SAME chunk as its
# base doc). Changing the chunk count or the offsets breaks that
# silently — asserted right here so it fails at import, not as a
# confusing parity mismatch (ADVICE r5).
_RELEASE_CHUNKS = 4

from flights_etl_pipeline_spark.plans.queries_ml import (  # noqa: E402
    _RELEASE_COPY_OFFSET as _ASSERT_COPY_OFF,
    _RELEASE_NEAR_OFFSET as _ASSERT_NEAR_OFF,
)

assert _ASSERT_COPY_OFF % _RELEASE_CHUNKS == 0, (
    "_RELEASE_COPY_OFFSET must be divisible by _RELEASE_CHUNKS "
    "(see invariant note above)"
)
assert _ASSERT_NEAR_OFF % _RELEASE_CHUNKS == 0, (
    "_RELEASE_NEAR_OFFSET must be divisible by _RELEASE_CHUNKS "
    "(see invariant note above)"
)


def corpus_release_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming twin of ``corpus_release_pipeline``: documents replayed
    as {n} micro-batches (chunk = doc_id % {n}), each batch flowing
    through (1) the stateless Gopher gate, (2) INCREMENTAL exact dedup
    against a persistent fingerprint index — first-SEEN keeper wins, the
    real semantics of a crawl-ingest dedup service (the canonical is the
    earliest-arriving keeper, ordered by (batch, doc_id); the batch
    pipeline's global-min canonical is the offline re-run of the same
    rule), and (3) decontamination against the STATIC test-split shingle
    set (the eval set is fixed upfront, so the overlap join is
    stream-static). Per-batch doc flags land in replay-idempotent
    per-batch directories; the drained flags re-aggregate into the same
    per-source funnel schema as the batch pipeline.

    Exactness: batches ascend by chunk index and the arrival key is
    (batch * {base} + doc_id), so "first seen keeper" equals the global
    minimum of that key — which the DuckDB oracle expresses as
    MIN((doc_id % {n}) * {base} + doc_id) per fingerprint. Gate, contam
    ratio, token counts, and the funnel sums are all doc-local integer
    arithmetic, identical to the batch pipeline.

    Scale shape: the index is keyed parquet merged once per batch (delta
    keepers vs index — at warehouse scale a transactional keyed table
    bucketed on fp); the shingle join explodes only THIS BATCH's
    gate+dedup survivors against the fixed eval shingle set (tiny,
    AQE-broadcast); nothing doc-shaped is held in executor state."""
    from flights_etl_pipeline_spark.plans.queries_ml import split_assign
    from flights_etl_pipeline_spark.plans.queries_text import gopher_gate
    from flights_etl_pipeline_spark.functions.text import (
        fingerprint,
        shingle_rows,
    )
    from flights_etl_pipeline_spark.streaming.source import (
        prepare_docs_stream_dir,
        read_docs_stream,
    )

    from flights_etl_pipeline_spark.plans.queries_ml import (
        _RELEASE_COPY_OFFSET as _COPY_OFF,
        _RELEASE_NEAR_OFFSET as _NEAR_OFF,
    )

    def _inject(docs: DataFrame) -> DataFrame:
        base = docs.select("doc_id", "source", "lang", "text")
        copies = base.filter(F.col("doc_id") < 100).select(
            (F.col("doc_id") + _COPY_OFF).alias("doc_id"),
            "source",
            "lang",
            "text",
        )
        near = base.filter(
            (F.col("doc_id") >= 100) & (F.col("doc_id") < 200)
        ).select(
            (F.col("doc_id") + _NEAR_OFF).alias("doc_id"),
            "source",
            "lang",
            F.concat("text", F.lit(" qq zz")).alias("text"),
        )
        return base.unionAll(copies).unionAll(near)

    # the FIXED eval-set shingles (known upfront; stream-static side)
    from flights_etl_pipeline_spark.plans.registry import load

    tsh = (
        shingle_rows(
            _inject(load(spark, sf_dir, "documents")).filter(
                split_assign("doc_id") == "test"
            ),
            [],
        )
        .select("sh")
        .distinct()
        .withColumn("hit", F.lit(1))
        .localCheckpoint()
    )

    run = uuid.uuid4().hex[:8]
    out_dir = os.path.join(_SCRATCH, f"release-{run}")
    index_dir = os.path.join(out_dir, "fp_index")
    flags_dir = os.path.join(out_dir, "flags")
    os.makedirs(flags_dir, exist_ok=True)

    def _batch(batch_df: DataFrame, batch_id: int) -> None:
        _recover_state_dir(index_dir)
        tr = _inject(batch_df).filter(split_assign("doc_id") == "train")
        g = gopher_gate(tr, "doc_id", "source", "text")
        key = (
            F.lit(int(batch_id) * _RELEASE_KEY_BASE) + F.col("doc_id")
        ).cast("long")
        d = (
            g.withColumn("fp", fingerprint("text"))
            .withColumn("key", key)
            .localCheckpoint()
        )
        w = Window.partitionBy("fp")
        batch_min = F.min(F.when(F.col("keep"), F.col("key"))).over(w)
        if os.path.exists(os.path.join(index_dir, "_SUCCESS")):
            idx = spark.read.parquet(index_dir)
        else:
            idx = spark.createDataFrame([], "fp string, min_key long")
        d2 = (
            d.withColumn("batch_min", batch_min)
            .join(idx, "fp", "left")
            .withColumn(
                "global_min", F.least("min_key", "batch_min")
            )
            .withColumn(
                "is_dup",
                F.col("keep") & (F.col("key") > F.col("global_min")),
            )
        )
        k2 = d2.filter(F.col("keep") & ~F.col("is_dup")).select(
            "doc_id", "text"
        )
        per = (
            shingle_rows(k2, ["doc_id"])
            .distinct()
            .join(tsh, "sh", "left")
            .groupBy("doc_id")
            .agg(
                F.count(F.lit(1)).alias("n_tot"),
                F.sum(F.coalesce("hit", F.lit(0))).alias("n_shared"),
            )
        )
        flags = d2.join(per, "doc_id", "left").select(
            "source",
            "keep",
            "is_dup",
            (
                F.col("keep")
                & ~F.col("is_dup")
                & (2 * F.coalesce("n_shared", F.lit(0)) >= F.col("n_tot"))
            ).alias("is_contam"),
            F.size(F.split("text", " ")).cast("long").alias("n_tokens"),
        )
        # replay-idempotent: one overwrite directory per batch id
        flags.write.mode("overwrite").parquet(
            os.path.join(flags_dir, f"batch-{int(batch_id):04d}")
        )
        # merge this batch's keepers into the index (two-rename swap)
        keepers = (
            d2.filter(F.col("keep") & ~F.col("is_dup"))
            .groupBy("fp")
            .agg(F.min("key").alias("min_key"))
        )
        merged = (
            idx.unionAll(keepers)
            .groupBy("fp")
            .agg(F.min("min_key").alias("min_key"))
        )
        staging = f"{index_dir}.staging-{batch_id}"
        merged.write.mode("overwrite").parquet(staging)
        trash = f"{index_dir}.old-{batch_id}"
        if os.path.exists(index_dir):
            os.replace(index_dir, trash)
        os.replace(staging, index_dir)
        shutil.rmtree(trash, ignore_errors=True)
        # free this batch's checkpoint blocks (both sinks are written;
        # without this, per-batch localCheckpoint storage accumulates
        # for the life of the stream)
        d.unpersist()

    stream_dir = prepare_docs_stream_dir(
        spark, sf_dir, n_chunks=_RELEASE_CHUNKS
    )
    docs = read_docs_stream(spark, stream_dir)
    ckpt = os.path.join(_SCRATCH, f"release-ckpt-{run}")
    q = (
        docs.writeStream.foreachBatch(_batch)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    try:
        q.awaitTermination()
    finally:
        shutil.rmtree(ckpt, ignore_errors=True)
        tsh.unpersist()

    from flights_etl_pipeline_spark.plans.queries_ml import PACK_CAPACITY

    flags = spark.read.parquet(os.path.join(flags_dir, "batch-*"))
    released = F.col("keep") & ~F.col("is_dup") & ~F.col("is_contam")
    one, zero = F.lit(1), F.lit(0)
    return flags.groupBy("source").agg(
        F.count(one).alias("n_raw"),
        F.sum(F.when(~F.col("keep"), one).otherwise(zero))
        .cast("long")
        .alias("n_gate_fail"),
        F.sum(F.when(F.col("is_dup"), one).otherwise(zero))
        .cast("long")
        .alias("n_dup"),
        F.sum(F.when(F.col("is_contam"), one).otherwise(zero))
        .cast("long")
        .alias("n_contam"),
        F.sum(F.when(released, one).otherwise(zero))
        .cast("long")
        .alias("n_released"),
        F.sum(F.when(released, F.col("n_tokens")).otherwise(zero))
        .cast("long")
        .alias("released_tokens"),
        F.expr(
            f"(sum(CASE WHEN keep AND NOT is_dup AND NOT is_contam "
            f"THEN n_tokens ELSE 0 END) + {PACK_CAPACITY - 1}) "
            f"DIV {PACK_CAPACITY}"
        ).alias("n_packs"),
    )


corpus_release_stream.__doc__ = corpus_release_stream.__doc__.format(
    n=_RELEASE_CHUNKS, base=_RELEASE_KEY_BASE
)


def events_ohlc_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming OHLC bars: open/high/low/close of ``value`` per
    (event_type, 1h window) in watermarked APPEND mode — each bar is
    emitted exactly once, when the watermark closes its hour (the shape
    a live metrics/market feed publishes).

    Same single-hash-aggregate trick as the batch twin
    (queries_events.events_ohlc_hourly): open/close are min_by/max_by
    over a packed (within-hour-offset, event_id) long — declarative
    aggregates, so the streaming state per (window, type) group is ONE
    mutable buffer row; no sort, no per-window replay. Sentinel batches
    advance the watermark past every real window; their own (future)
    windows are filtered from the sink."""
    stream_dir, max_us = prepare_stream_dir(
        spark, sf_dir, n_chunks=4, sentinels=True
    )
    ev = read_event_stream(spark, stream_dir).withWatermark("ts", "1 hour")
    hour = F.date_trunc("hour", "ts")
    # Packed key precondition (event_id < 2^31) enforced row-locally —
    # see queries_events._checked_event_id (round-9 ADVICE).
    from flights_etl_pipeline_spark.plans.queries_events import (
        _checked_event_id,
    )

    ordk = (
        (F.unix_micros(F.col("ts")) - F.unix_micros(hour))
        * F.lit(2147483648).cast("long")
        + _checked_event_id(allow_negative=True)
    )
    bars = (
        ev.withColumn("ordk", ordk)
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(
            F.min_by("value", F.col("ordk")).alias("open"),
            F.max("value").alias("high"),
            F.min("value").alias("low"),
            F.max_by("value", F.col("ordk")).alias("close"),
            F.count(F.lit(1)).alias("n_events"),
        )
        .select(
            F.col("w.start").alias("hour_start"),
            "event_type",
            "open",
            "high",
            "low",
            "close",
            "n_events",
        )
    )
    out = _run_to_memory(bars, "append", "ohlc")
    return out.filter(
        F.col("hour_start") <= F.timestamp_micros(F.lit(max_us))
    )


# ---------------------------------------------------------------------------
# Streaming per-user running z-score anomalies (applyInPandasWithState)
# ---------------------------------------------------------------------------

ZS_MIN_PRIOR = 5  # score only once 5 prior observations exist
ZS_OUT_SCHEMA = "user_id LONG, event_id LONG, n_prior LONG, zsq DOUBLE"
ZS_STATE_SCHEMA = "n LONG, s LONG, q LONG"


def zscore_state_fn(
    key: Tuple[Any, ...],
    pdfs: Iterable[pd.DataFrame],
    state: GroupState,
) -> Iterator[pd.DataFrame]:
    """Running-moments anomaly scorer: state carries (n, sum, sumsq)
    of the user's PRIOR values in exact milli-unit integers; each event
    is scored against the moments strictly before it (dev^2 > 9*var
    with n_prior >= {ZS_MIN_PRIOR}), then folded in. Vectorized:
    shifted cumsums give every row's prior moments in one pass."""
    import numpy as np

    pdf = pd.concat(list(pdfs), ignore_index=True)
    pdf = pdf.assign(_us=_ts_to_us(pdf["ts"])).sort_values(["_us", "event_id"])
    vm = np.floor(pdf["value"].to_numpy() * 1000 + 0.5).astype(np.int64)
    n0, s0, q0 = state.get if state.exists else (0, 0, 0)
    k = len(vm)
    # Overflow guard (round-9 ADVICE): the sum-of-squares state is an
    # int64 and numpy wraps SILENTLY; the DuckDB oracle promotes to
    # HUGEINT and never does, so a wrap would corrupt anomaly flags
    # without any error. Bound the whole batch in exact Python ints:
    # every prefix of q0 + cumsum(vm*vm) is <= q0 + k*vmax^2, so if
    # that fits in 2^62 nothing below can wrap (vmax < isqrt(2^63)
    # keeps each vm*vm element exact too). ~3e7 events/user at fixture
    # value scale before this trips — fail loudly, don't corrupt.
    vmax = int(np.abs(vm).max(initial=0))
    if vmax >= 3_037_000_499 or int(q0) + k * vmax * vmax >= 2**62:
        raise OverflowError(
            "zscore state sum-of-squares would exceed int64: "
            f"n={n0 + k} vmax={vmax} q0={q0}; widen the state schema "
            "or re-quantize before this user's history grows further"
        )
    nn = n0 + np.arange(k, dtype=np.int64)          # priors BEFORE row
    ss = s0 + np.concatenate(([0], np.cumsum(vm)[:-1]))
    qq = q0 + np.concatenate(([0], np.cumsum(vm * vm)[:-1]))
    state.update(
        (int(n0 + k), int(s0 + vm.sum()), int(q0 + (vm * vm).sum()))
    )
    ok = nn >= ZS_MIN_PRIOR
    if not ok.any():
        return
    # identical IEEE op sequence to the oracle: mean = s/n, var =
    # q/n - mean*mean, dev = vm - mean; anomaly iff var > 0 and
    # dev*dev > 9*var
    with np.errstate(divide="ignore", invalid="ignore"):
        mean = ss / nn
        var = qq / nn - mean * mean
        dev = vm - mean
        flag = ok & (var > 0) & (dev * dev > 9.0 * var)
    if not flag.any():
        return
    zsq = np.floor(dev * dev / var * 1000000 + 0.5) / 1000000
    out = pd.DataFrame(
        {
            "user_id": pdf["user_id"].to_numpy()[flag],
            "event_id": pdf["event_id"].to_numpy()[flag],
            "n_prior": nn[flag],
            "zsq": zsq[flag],
        }
    )
    yield out


def events_zscore_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming twin of a per-user running z-score screen: emits events
    whose milli-quantized value deviates > 3 sigma from the user's PRIOR
    running moments. State is three exact integers per user; scoring is
    a shifted-cumsum vectorized pass per micro-batch, so per-batch cost
    is O(rows), not O(rows x history) -- the state never stores raw
    events (unlike sessionize there are no timers, so no sentinels or
    watermark mechanics are needed)."""
    stream_dir, _ = prepare_stream_dir(spark, sf_dir, n_chunks=4, sentinels=False)
    ev = read_event_stream(spark, stream_dir).withWatermark("ts", "1 hour")
    flagged = ev.groupBy("user_id").applyInPandasWithState(
        zscore_state_fn,
        outputStructType=ZS_OUT_SCHEMA,
        stateStructType=ZS_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    return _run_to_memory(flagged, "append", "zscore")

"""Live mode: drive a Dag from Structured Streaming micro-batches.

The reference's KafkaDriver loop (kafka.py:534-576) is: poll a batch,
route to source nodes, execute one dag cycle, emit updated sinks. Spark's
native form of that loop is ``foreachBatch``: each trigger hands us a
micro-batch DataFrame; we stage it on the dag's source node and run one
cycle — so the SAME dag code runs in replay (streaming/replay.py) and
live, which is the reference's core batch/stream parity promise
(README.md:32-39).

Also here: first-class Structured Streaming operators (windowed
aggregation with watermarks, streaming keyed-latest via
``applyInPandasWithState``) for pipelines that don't need the dag kernel —
at 100 TB these run fully distributed with state in the state store, no
driver-side state at all.
"""

from __future__ import annotations

import dataclasses
import time
from collections.abc import Callable
from typing import Any

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQueryListener
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from beavers_spark.dag import Dag


@dataclasses.dataclass
class CycleMetrics:
    """Per-batch driver-loop accounting — the live twin of the
    reference's ExecutionMetrics (kafka.py:399-446: poll/execute timings
    and counts) and of ReplayCycleMetrics on the replay side."""

    batch_id: int
    cycle_time: pd.Timestamp
    execute_seconds: float
    flush_seconds: float
    updated_sinks: int
    dag_notifications: int
    dag_updated_nodes: int


class StreamingDagDriver:
    """foreachBatch adapter: one micro-batch = one dag cycle.

    ``sink_handlers`` receive (sink_name, value, batch_id) for every sink
    updated in the cycle — the live twin of ReplayDriver._flush_sinks.
    Timestamps: cycle time is the batch's max event time when an
    ``event_time_column`` is configured (replay parity), else wall clock
    (reference dual-clock: kafka.py:570-572).

    ``metrics`` accumulates one :class:`CycleMetrics` per non-empty batch;
    source-level rates (input rows/sec, batch duration) come from Spark's
    own ``query.lastProgress`` / :class:`ProgressCollector`.
    """

    def __init__(
        self,
        dag: Dag,
        source_name: str,
        sink_handler: Callable[[str, Any, int], None] | None = None,
        event_time_column: str | None = None,
    ) -> None:
        self.dag = dag
        self.source_name = source_name
        self.sink_handler = sink_handler
        self.event_time_column = event_time_column
        self.cycles = 0
        self.metrics: list[CycleMetrics] = []

    def __call__(self, batch_df: DataFrame, batch_id: int) -> None:
        now = pd.Timestamp.now(tz="UTC")
        if self.event_time_column:
            # one action answers both the emptiness gate and the clock,
            # read as epoch microseconds: a collected timestamp is naive
            # wall time in the Python process's local zone (the cast
            # admits a timestamp_ntz column)
            row = batch_df.agg(
                F.unix_micros(F.max(self.event_time_column).cast("timestamp"))
                .alias("m"),
                F.count(F.lit(1)).alias("n"),
            ).collect()[0]
            empty = row["n"] == 0
            if not empty:
                now = pd.Timestamp(row["m"], unit="us", tz="UTC")
        else:
            empty = batch_df.isEmpty()
        if empty:
            # empty-batch short-circuit (reference: dag.py:350 semantics)
            # — EXCEPT when a timer is due: replay parity (and the Kafka
            # driver loop, kafka_driver.run_cycle) fire due timers even
            # with zero records, else an idle stream starves timer nodes
            if self.dag.get_next_timer() <= now:
                t0 = time.perf_counter()
                self.dag.execute(now)
                self._flush(batch_id, now, t0, time.perf_counter())
            return
        # known_nonempty: the gate above already proved it — the source
        # node skips its own per-cycle emptiness Spark job
        self.dag.get_sources()[self.source_name].set_stream(
            batch_df, known_nonempty=True
        )
        t0 = time.perf_counter()
        self.dag.execute(now)
        self._flush(batch_id, now, t0, time.perf_counter())

    def _flush(self, batch_id: int, now, t0: float, t1: float) -> None:
        self.cycles += 1
        updated = 0
        cycle = self.dag.get_cycle_id()
        for name, nodes in self.dag.get_sinks().items():
            for node in nodes:
                if node.get_cycle_id() == cycle:
                    updated += 1
                    if self.sink_handler is not None:
                        self.sink_handler(name, node.get_value(), batch_id)
        dag_metrics = self.dag.flush_metrics()
        self.metrics.append(
            CycleMetrics(
                batch_id=batch_id,
                cycle_time=now,
                execute_seconds=t1 - t0,
                flush_seconds=time.perf_counter() - t1,
                updated_sinks=updated,
                dag_notifications=dag_metrics.notifications,
                dag_updated_nodes=dag_metrics.updated_nodes,
            )
        )

    def attach(self, stream_df: DataFrame, checkpoint_dir: str, **options):
        """Build the writeStream for this driver; caller ``.start()``s."""
        writer = (
            stream_df.writeStream.foreachBatch(self)
            .option("checkpointLocation", checkpoint_dir)
        )
        for k, v in options.items():
            writer = writer.option(k, v)
        return writer


class ProgressCollector(StreamingQueryListener):
    """Source/sink-level engine counters in live mode, straight from
    Spark's streaming progress events — the analog of the reference's
    ConsumerMetrics/ProducerMetrics/ExecutionMetrics counters
    (kafka.py:235-244, 170-178, 399-446), which Spark already measures:
    input rows per trigger, processing rates, batch durations, state
    rows. Register with ``spark.streams.addListener(collector)``.
    """

    def __init__(self) -> None:
        self.progress: list[dict] = []

    def onQueryStarted(self, event: Any) -> None:  # noqa: N802 (listener API)
        pass

    def onQueryProgress(self, event: Any) -> None:  # noqa: N802
        p = event.progress
        self.progress.append(
            {
                "batch_id": p.batchId,
                "num_input_rows": p.numInputRows,
                "input_rows_per_second": p.inputRowsPerSecond,
                "duration_ms": dict(p.durationMs),
            }
        )

    def onQueryIdle(self, event: Any) -> None:  # noqa: N802
        pass

    def onQueryTerminated(self, event: Any) -> None:  # noqa: N802
        pass

    @property
    def total_input_rows(self) -> int:
        return sum(p["num_input_rows"] for p in self.progress)


def _staleness_monitor(
    stream_df: DataFrame,
    key_cols: list[str],
    ts_col: str,
    timeout_conf: str,
    arm: Callable[[GroupState, pd.Timestamp], None],
) -> DataFrame:
    """Per-key ``(keys..., last_seen, stale)`` over ``stream_df``: a
    stale=false row on every update, after ``arm(state, newest)`` re-arms
    the key's ``timeout_conf`` timeout, and a stale=true row when it
    fires."""
    key_schema = ", ".join(
        f"{c} {stream_df.schema[c].dataType.simpleString()}" for c in key_cols
    )
    out_cols = [*key_cols, "last_seen", "stale"]

    def monitor(key, batches, state: GroupState):
        if state.hasTimedOut:
            (last_seen,) = state.get
            state.remove()
            yield pd.DataFrame([[*key, last_seen, True]], columns=out_cols)
            return
        newest = None
        for pdf in batches:
            batch_max = pdf[ts_col].max()
            if newest is None or batch_max > newest:
                newest = batch_max
        if newest is None:
            return
        state.update((newest,))
        arm(state, newest)
        yield pd.DataFrame([[*key, newest, False]], columns=out_cols)

    return stream_df.groupBy(*key_cols).applyInPandasWithState(
        monitor,
        outputStructType=f"{key_schema}, last_seen timestamp, stale boolean",
        stateStructType="last_seen timestamp",
        outputMode="update",
        timeoutConf=timeout_conf,
    )


def streaming_timeout_monitor(
    stream_df: DataFrame,
    key_cols: list[str],
    ts_col: str,
    timeout_ms: int,
) -> DataFrame:
    """Per-key staleness watchdog — the live twin of the kernel's
    TimerManager (reference: dag.py:95-154, one pending timer per node;
    here one pending processing-time timeout per KEY, fully distributed).

    Emits ``(keys..., last_seen, stale)``: stale=false rows on every
    update (timer re-armed, reference `set_next_timer` semantics), and a
    stale=true row when a key goes ``timeout_ms`` without updates. State
    is one timestamp per key in the state store — bounded, no driver
    involvement.

    Note: Spark 4's ``transformWithStateInPandas`` (arbitrary state v2,
    first-class ``registerTimer``) is the successor API for this
    pattern; its Python side needs protobuf, which this environment
    doesn't ship, so the GroupState timeout formulation here is the
    portable implementation.
    """
    return _staleness_monitor(
        stream_df,
        key_cols,
        ts_col,
        GroupStateTimeout.ProcessingTimeTimeout,
        lambda state, newest: state.setTimeoutDuration(timeout_ms),
    )


def windowed_counts(
    stream_df: DataFrame,
    ts_col: str,
    window: str,
    keys: list[str],
    watermark: str = "10 minutes",
    value_col: str = "value",
) -> DataFrame:
    """Tumbling event-time window aggregation with late-data handling.

    Stronger than the reference (which only orders cross-topic during
    priming, SURVEY §2.6.63): the watermark bounds state and admits late
    rows within the horizon. ``value_col`` names the summed column
    (default matches the test streams' schema).
    """
    return (
        stream_df.withWatermark(ts_col, watermark)
        .groupBy(F.window(ts_col, window).alias("w"), *keys)
        .agg(F.count(F.lit(1)).alias("n"), F.sum(value_col).alias("total"))
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            *keys,
            "n",
            "total",
        )
    )


def streaming_dedup(
    stream_df: DataFrame,
    key_cols: list[str],
    ts_col: str | None = None,
    watermark: str | None = None,
) -> DataFrame:
    """Streaming exact dedup — the live twin of the batch
    ``dedup_exact`` plan (functions/dedup.py) and of the reference's
    set-valued stream dedup (SURVEY §2.4.42), but across the whole
    stream, not just within one batch.

    Without a watermark the state grows with the number of distinct keys
    (exactly the reference's in-memory dict behavior). With
    ``ts_col``/``watermark`` set it uses
    ``dropDuplicatesWithinWatermark``: duplicates are only tracked
    inside the watermark horizon, so state is BOUNDED — the only form
    that survives 100 TB/unbounded retention.
    """
    if (ts_col is None) != (watermark is None):
        raise ValueError("ts_col and watermark must be set together")
    if ts_col is None:
        return stream_df.dropDuplicates(key_cols)
    return stream_df.withWatermark(ts_col, watermark).dropDuplicatesWithinWatermark(
        key_cols
    )


def streaming_event_timeout_monitor(
    stream_df: DataFrame,
    key_cols: list[str],
    ts_col: str,
    timeout_ms: int,
    watermark: str = "0 seconds",
) -> DataFrame:
    """Event-time twin of :func:`streaming_timeout_monitor`: the stale
    marker fires when the stream's WATERMARK (not the wall clock) passes
    ``last_seen + timeout_ms`` — fully deterministic, so replaying the
    same data yields the same stale markers (the reference's replay
    parity promise applied to timers; its replay timers are likewise
    event-time driven, replay.py:230).
    """

    def arm(state: GroupState, newest: pd.Timestamp) -> None:
        # fire when the watermark passes this event-time deadline; for a
        # LATE row whose deadline is already behind the watermark, clamp
        # to just past it (Spark rejects deadlines <= watermark) — the
        # key goes stale at the next watermark advance, which is the
        # earliest legal firing
        deadline = int(newest.value // 1_000_000) + timeout_ms
        wm = state.getCurrentWatermarkMs()
        state.setTimeoutTimestamp(max(deadline, wm + 1))

    return _staleness_monitor(
        stream_df.withWatermark(ts_col, watermark),
        key_cols,
        ts_col,
        GroupStateTimeout.EventTimeTimeout,
        arm,
    )


def session_windowed_counts(
    stream_df: DataFrame,
    ts_col: str,
    gap: str,
    keys: list[str],
    watermark: str = "10 minutes",
    value_col: str = "value",
) -> DataFrame:
    """Session-window aggregation: per-key sessions that close after
    ``gap`` of event-time silence — the streaming twin of the batch
    ``sessionize`` plan (there: lag + cumulative-sum session ids; here:
    Spark's native ``session_window``, which merges/extends sessions in
    the state store and emits them when the watermark passes the gap).

    Beyond the reference's surface (it has no windowing at all,
    SURVEY §2.7) — included because session analytics is the canonical
    stateful-streaming workload the dag kernel would otherwise push into
    a driver-side UDF.
    """
    return (
        stream_df.withWatermark(ts_col, watermark)
        .groupBy(F.session_window(F.col(ts_col), gap).alias("s"), *keys)
        .agg(F.count(F.lit(1)).alias("n"), F.sum(value_col).alias("total"))
        .select(
            F.col("s.start").alias("session_start"),
            F.col("s.end").alias("session_end"),
            *keys,
            "n",
            "total",
        )
    )


def streaming_last_by_key(
    stream_df: DataFrame,
    key_cols: list[str],
    ts_col: str,
    value_cols: list[str],
    timeout: str = "NoTimeout",
    timeout_duration_ms: int = 60_000,
) -> DataFrame:
    """Streaming keyed-latest state via applyInPandasWithState — the live
    form of ``operators.last_by_keys`` (reference: pa.last_by_keys,
    pyarrow_wrapper.py:127-133).

    Emits, per micro-batch, the new latest row for every key that updated
    (update-mode delta stream). State per key is one row — bounded, in the
    state store, fully distributed.

    With ``timeout="ProcessingTimeTimeout"`` a key whose state goes
    ``timeout_duration_ms`` without an update is EVICTED (the update
    function arms the duration on every write and removes state on
    ``hasTimedOut``) — the dial that keeps dead keys from accumulating
    forever; the default ``NoTimeout`` retains every key.
    """
    out_fields = ", ".join(
        [f"{c} {stream_df.schema[c].dataType.simpleString()}" for c in key_cols]
        + [f"{ts_col} {stream_df.schema[ts_col].dataType.simpleString()}"]
        + [f"{c} {stream_df.schema[c].dataType.simpleString()}" for c in value_cols]
    )
    state_fields = ", ".join(
        [f"{ts_col} {stream_df.schema[ts_col].dataType.simpleString()}"]
        + [f"{c} {stream_df.schema[c].dataType.simpleString()}" for c in value_cols]
    )

    arm_timeout = timeout == "ProcessingTimeTimeout"

    def update(key, batches, state: GroupState):
        if state.hasTimedOut:
            state.remove()  # evict the dead key; emit nothing
            return
        newest = None
        for pdf in batches:
            pdf = pdf.sort_values(ts_col)
            candidate = pdf.iloc[-1]
            if newest is None or candidate[ts_col] >= newest[ts_col]:
                newest = candidate
        if newest is None:
            return
        if state.exists:
            (prev_ts, *_) = state.get
            if newest[ts_col] < prev_ts:
                return  # stale: keep existing state, emit nothing
        state.update(tuple(newest[[ts_col, *value_cols]]))
        if arm_timeout:
            # GroupState timeouts only fire for keys that armed one —
            # re-armed on every write, so eviction means "no update for
            # the full duration"
            state.setTimeoutDuration(timeout_duration_ms)
        yield pd.DataFrame(
            [[*key, *newest[[ts_col, *value_cols]]]],
            columns=[*key_cols, ts_col, *value_cols],
        )

    return (
        stream_df.groupBy(*key_cols)
        .applyInPandasWithState(
            update,
            outputStructType=out_fields,
            stateStructType=state_fields,
            outputMode="update",
            timeoutConf=getattr(GroupStateTimeout, timeout),
        )
    )

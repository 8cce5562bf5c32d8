"""Live-mode (Structured Streaming) integration: file-source streams
driven through the dag kernel and the native streaming operators."""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import functions as F

from beavers_spark.dag import Dag
from beavers_spark.streaming import (
    StreamingDagDriver,
    streaming_last_by_key,
    windowed_counts,
)

SCHEMA = "ts timestamp, user string, value double"


def _write_batch(dir_path: str, name: str, rows: list[dict]) -> None:
    with open(os.path.join(dir_path, name), "w") as fh:
        for row in rows:
            fh.write(json.dumps(row) + "\n")


@pytest.fixture()
def stream_dir(tmp_path):
    d = str(tmp_path / "in")
    os.makedirs(d)
    _write_batch(
        d,
        "b0.json",
        [
            {"ts": "2024-01-01T00:00:00Z", "user": "a", "value": 1.0},
            {"ts": "2024-01-01T00:05:00Z", "user": "a", "value": 2.0},
            {"ts": "2024-01-01T00:06:00Z", "user": "b", "value": 5.0},
        ],
    )
    return d


def test_streaming_dag_driver_foreachbatch(spark, stream_dir, tmp_path):
    """Same dag code as replay mode, driven by a real streaming query."""
    dag = Dag(spark)
    src = dag.source_table(SCHEMA, "events")
    totals = dag.table_stream(
        lambda df: df.groupBy("user").agg(F.sum("value").alias("total")),
        "user string, total double",
    ).map(src)
    dag.sink("totals", totals)

    captured = []
    driver = StreamingDagDriver(
        dag,
        "events",
        sink_handler=lambda name, df, bid: captured.append(
            (name, sorted(tuple(r) for r in df.collect()))
        ),
        event_time_column="ts",
    )
    stream = spark.readStream.schema(SCHEMA).json(stream_dir)
    query = driver.attach(stream, str(tmp_path / "ckpt")).trigger(
        availableNow=True
    ).start()
    query.awaitTermination(120)
    assert driver.cycles == 1
    assert captured == [("totals", [("a", 3.0), ("b", 5.0)])]
    # the dag's clock advanced to the batch's max event time (replay parity)
    assert str(dag.now().get_value()) == "2024-01-01 00:06:00+00:00"
    # per-cycle driver metrics (live ExecutionMetrics twin)
    (m,) = driver.metrics
    assert m.updated_sinks == 1 and m.execute_seconds > 0
    assert m.dag_updated_nodes > 0
    assert str(m.cycle_time) == "2024-01-01 00:06:00+00:00"


def test_progress_collector_listener(spark, stream_dir, tmp_path):
    """Engine counters via StreamingQueryListener (BASELINE.md parity)."""
    import time as _time

    from beavers_spark.streaming import ProgressCollector

    collector = ProgressCollector()
    spark.streams.addListener(collector)
    try:
        stream = spark.readStream.schema(SCHEMA).json(stream_dir)
        query = (
            stream.groupBy("user")
            .count()
            .writeStream.format("memory")
            .queryName("pc_counts")
            .outputMode("complete")
            .option("checkpointLocation", str(tmp_path / "ckpt_pc"))
            .trigger(availableNow=True)
            .start()
        )
        query.awaitTermination(120)
        # listener events are delivered asynchronously
        deadline = _time.monotonic() + 30
        while _time.monotonic() < deadline and collector.total_input_rows < 3:
            _time.sleep(0.2)
        assert collector.total_input_rows == 3
        batch = collector.progress[0]
        assert "triggerExecution" in batch["duration_ms"]
    finally:
        spark.streams.removeListener(collector)


def test_windowed_counts_with_watermark(spark, stream_dir, tmp_path):
    stream = spark.readStream.schema(SCHEMA).json(stream_dir)
    out = windowed_counts(stream, "ts", "5 minutes", ["user"], watermark="1 minute")
    query = (
        out.writeStream.format("memory")
        .queryName("win_counts")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt2"))
        .trigger(availableNow=True)
        .start()
    )
    query.awaitTermination(120)
    # append mode only emits closed windows; re-trigger with late watermark
    rows = spark.sql("SELECT user, n, total FROM win_counts").collect()
    # with availableNow + watermark, the final window may be withheld;
    # assert the closed 00:00-00:05 window for user a
    got = {(r.user, r.n, r.total) for r in rows}
    assert ("a", 1, 1.0) in got


def test_streaming_last_by_key(spark, stream_dir, tmp_path):
    _write_batch(
        stream_dir,
        "b1.json",
        [
            {"ts": "2024-01-01T00:07:00Z", "user": "a", "value": 9.0},
            {"ts": "2024-01-01T00:04:00Z", "user": "b", "value": 0.5},  # stale
        ],
    )
    stream = spark.readStream.schema(SCHEMA).json(stream_dir)
    latest = streaming_last_by_key(stream, ["user"], "ts", ["value"])
    query = (
        latest.writeStream.format("memory")
        .queryName("latest_by_user")
        .outputMode("update")
        .option("checkpointLocation", str(tmp_path / "ckpt3"))
        .trigger(availableNow=True)
        .start()
    )
    query.awaitTermination(120)
    rows = spark.sql(
        "SELECT user, value FROM latest_by_user"
    ).collect()
    # final emission per key must reflect the true latest value
    final = {}
    for r in rows:
        final[r.user] = r.value
    assert final["a"] == 9.0
    assert final["b"] == 5.0  # the 00:04 stale row never wins


def test_session_windowed_counts(spark, tmp_path):
    """Sessions close after a gap of event-time silence; a new event
    within the gap extends the session."""
    from beavers_spark.streaming import session_windowed_counts

    d = str(tmp_path / "sess_in")
    os.makedirs(d)
    _write_batch(
        d,
        "b0.json",
        [
            # user a: two events 2 min apart -> ONE session (gap 5m)
            {"ts": "2024-01-01T00:00:00Z", "user": "a", "value": 1.0},
            {"ts": "2024-01-01T00:02:00Z", "user": "a", "value": 2.0},
            # then 10 min silence -> a SECOND session
            {"ts": "2024-01-01T00:12:00Z", "user": "a", "value": 4.0},
            # watermark pusher so both sessions close
            {"ts": "2024-01-01T01:00:00Z", "user": "z", "value": 0.0},
        ],
    )
    stream = spark.readStream.schema(SCHEMA).json(d)
    out = session_windowed_counts(stream, "ts", "5 minutes", ["user"], watermark="1 minute")
    query = (
        out.writeStream.format("memory")
        .queryName("sessions")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt_sess"))
        .trigger(availableNow=True)
        .start()
    )
    query.awaitTermination(120)
    rows = spark.sql(
        "SELECT user, n, total FROM sessions WHERE user = 'a'"
    ).collect()
    got = sorted((r.user, r.n, r.total) for r in rows)
    assert got == [("a", 1, 4.0), ("a", 2, 3.0)]


def test_streaming_dedup(spark, tmp_path):
    """Cross-batch exact dedup with bounded (watermarked) state."""
    from beavers_spark.streaming import streaming_dedup

    d = str(tmp_path / "dedup_in")
    os.makedirs(d)
    _write_batch(
        d,
        "b0.json",
        [
            {"ts": "2024-01-01T00:00:00Z", "user": "a", "value": 1.0},
            {"ts": "2024-01-01T00:00:30Z", "user": "a", "value": 1.0},  # dup key
            {"ts": "2024-01-01T00:01:00Z", "user": "b", "value": 2.0},
        ],
    )
    _write_batch(
        d,
        "b1.json",
        [
            {"ts": "2024-01-01T00:02:00Z", "user": "a", "value": 9.0},  # dup, later batch
            {"ts": "2024-01-01T00:03:00Z", "user": "c", "value": 3.0},
        ],
    )
    for i, name in enumerate(["b0.json", "b1.json"]):
        os.utime(os.path.join(d, name), (1_700_000_000 + i,) * 2)

    stream = (
        spark.readStream.schema(SCHEMA).option("maxFilesPerTrigger", 1).json(d)
    )
    out = streaming_dedup(stream, ["user"], "ts", watermark="10 minutes")
    q = (
        out.writeStream.format("memory")
        .queryName("dedup_out")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    rows = spark.sql("SELECT user, value FROM dedup_out").collect()
    got = sorted((r.user, r.value) for r in rows)
    # one row per key, first occurrence wins — across batches
    assert got == [("a", 1.0), ("b", 2.0), ("c", 3.0)]

    import pytest as _pytest

    with _pytest.raises(ValueError, match="set together"):
        streaming_dedup(stream, ["user"], ts_col="ts")


def test_empty_batch_fires_due_timers(spark):
    """Live/replay parity (review r5): an empty micro-batch still runs a
    dag cycle when a timer deadline has passed — an idle stream must not
    starve timer nodes (replay.run_cycle and the Kafka driver loop both
    fire due timers with zero records)."""
    import pandas as pd

    from beavers_spark.dag import TimerManager

    dag = Dag(spark=spark)
    src = dag.source_table(SCHEMA, name="in")
    tm = dag.timer_manager()
    fired = []

    def schedule(df, timer: TimerManager):
        if df is not None and not df.isEmpty():
            # arm a deadline firmly in the past relative to "now"
            timer.set_next_timer(pd.Timestamp.now(tz="UTC"))
            return None
        fired.append("fired")
        return None

    node = dag.stream(schedule).map(src, tm)
    dag.sink("out", node)
    driver = StreamingDagDriver(dag, source_name="in")

    rows = spark.createDataFrame(
        [("2024-01-01T00:00:00", "a", 1.0)], "ts string, user string, value double"
    ).select(F.col("ts").cast("timestamp"), "user", "value")
    driver(rows, 0)  # data cycle arms the timer
    assert fired == []
    empty = rows.filter(F.lit(False))
    driver(empty, 1)  # empty batch, due timer -> cycle runs, timer fires
    assert fired == ["fired"]
    assert len(driver.metrics) == 2  # the timer cycle is metered too


def test_event_time_gate_is_one_action(spark, spark_jobs):
    """With an event-time column, a trigger's emptiness gate and its
    event-time clock come from one aggregate: a non-empty batch costs the
    jobs of that aggregate alone, and an empty one still fires a due
    timer at wall-clock time."""
    import pandas as pd

    from beavers_spark.dag import TimerManager

    dag = Dag(spark=spark)
    src = dag.source_table(SCHEMA, name="in")
    tm = dag.timer_manager()
    calls = []

    def schedule(df, timer: TimerManager):
        calls.append(df)
        if len(calls) == 1:  # the data cycle arms a deadline now due
            timer.set_next_timer(pd.Timestamp.now(tz="UTC"))
        return None

    dag.sink("rows", src)
    dag.sink("out", dag.state(schedule).map(src, tm))
    driver = StreamingDagDriver(dag, source_name="in", event_time_column="ts")
    rows = spark.createDataFrame(
        [("2024-01-01T00:05:00", "a", 1.0), ("2024-01-01T00:01:00", "b", 2.0)],
        "ts string, user string, value double",
    ).select(F.col("ts").cast("timestamp"), "user", "value")
    _, gate_jobs = spark_jobs(
        lambda: rows.agg(F.max("ts"), F.count(F.lit(1))).collect()
    )
    _, jobs = spark_jobs(lambda: driver(rows, 0))
    assert len(jobs) == len(gate_jobs), jobs
    assert driver.metrics[-1].cycle_time == pd.Timestamp("2024-01-01T00:05:00Z")
    assert len(calls) == 1
    driver(rows.filter(F.lit(False)), 1)  # empty batch, due timer
    assert len(calls) == 2
    assert len(driver.metrics) == 2


def test_event_time_clock_is_utc_under_local_zone(spark, new_york_tz):
    """The cycle clock is the batch's max event time as a UTC instant
    even when the Python process's local zone is not UTC (a collected
    timestamp is naive New York wall time, five hours early)."""
    import pandas as pd

    dag = Dag(spark=spark)
    dag.sink("rows", dag.source_table(SCHEMA, name="in"))
    driver = StreamingDagDriver(dag, source_name="in", event_time_column="ts")
    rows = spark.createDataFrame(
        [("2024-01-01T00:05:00", "a", 1.0), ("2024-01-01T00:01:00", "b", 2.0)],
        "ts string, user string, value double",
    ).select(F.col("ts").cast("timestamp"), "user", "value")
    driver(rows, 0)
    assert driver.metrics[-1].cycle_time == pd.Timestamp("2024-01-01T00:05:00Z")
    assert dag.now().get_value() == pd.Timestamp("2024-01-01T00:05:00Z")

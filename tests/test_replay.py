"""Replay driver semantics (reference: tests/test_replay.py — pass-through
e2e, no-update corner case, source stitching, virtual-clock skip-ahead)."""

from __future__ import annotations

import pandas as pd
import pyarrow as pa
import pytest

from beavers_spark.dag import UTC_MAX, Dag
from beavers_spark.streaming import (
    IteratorDataSourceAdapter,
    ListDataSink,
    ListDataSource,
    ParquetDataSource,
    ReplayContext,
    ReplayDriver,
)

T0 = pd.Timestamp("2023-01-01T00:00:00Z")


def ts(minutes: int) -> pd.Timestamp:
    return T0 + pd.Timedelta(minutes=minutes)


def passthrough_dag() -> Dag:
    dag = Dag()
    src = dag.source_stream(name="messages")
    out = dag.stream(lambda xs: list(xs)).map(src)
    dag.sink("out", out)
    return dag


def test_replay_passthrough():
    dag = passthrough_dag()
    source = ListDataSource([(ts(60), "hello"), (ts(61), "world"), (ts(200), "late")])
    sink = ListDataSink()
    driver = ReplayDriver(
        dag,
        ReplayContext(T0, ts(300), pd.Timedelta(hours=1)),
        {"messages": source},
        {"out": sink},
    )
    driver.run()
    values = [v for _, v in sink.appended]
    # hello lands exactly on the 01:00 quantum; world (01:01) waits for the
    # next hourly cycle; late warps the clock to its own quantum
    assert values == [["hello"], ["world"], ["late"]]
    assert sink.closed


def test_replay_no_data_never_fires():
    dag = passthrough_dag()
    sink = ListDataSink()
    driver = ReplayDriver(
        dag,
        ReplayContext(T0, ts(120), pd.Timedelta(hours=1)),
        {"messages": ListDataSource([])},
        {"out": sink},
    )
    driver.run()
    assert sink.appended == []


def test_replay_clock_skips_over_gaps():
    dag = passthrough_dag()
    # one event at +1min, then nothing until +10h
    source = ListDataSource([(ts(1), "a"), (ts(600), "b")])
    driver = ReplayDriver(
        dag,
        ReplayContext(T0, ts(700), pd.Timedelta(minutes=1)),
        {"messages": source},
        {"out": ListDataSink()},
    )
    driver.run()
    # the clock warps: far fewer cycles than 700 one-minute steps
    assert len(driver.metrics) < 20


def test_replay_respects_frequency_quantization():
    dag = passthrough_dag()
    source = ListDataSource([(ts(90), "x")])  # lands mid-quantum
    seen = []
    dagsink = ListDataSink()
    driver = ReplayDriver(
        dag,
        ReplayContext(T0, ts(240), pd.Timedelta(hours=1)),
        {"messages": source},
        {"out": dagsink},
    )
    while not driver.is_done():
        driver.run_cycle()
        seen.append(driver.current_time)
    # times stay on the hourly grid
    assert all(t.minute == 0 and t.second == 0 for t in seen)
    assert dagsink.appended and dagsink.appended[0][0] == ts(120)


def test_unknown_source_name_rejected():
    dag = passthrough_dag()
    with pytest.raises(ValueError):
        ReplayDriver(
            dag,
            ReplayContext(T0, ts(60), pd.Timedelta(hours=1)),
            {"nope": ListDataSource([])},
        )


def test_iterator_adapter_stitches_days():
    daily = iter(
        [
            ListDataSource([(ts(10), "d1a"), (ts(20), "d1b")]),
            ListDataSource([]),  # empty middle day
            ListDataSource([(ts(30), "d3a")]),
        ]
    )
    adapter = IteratorDataSourceAdapter(daily, [], lambda a, b: a + b)
    assert adapter.get_next() == ts(10)
    assert adapter.read_to(ts(25)) == ["d1a", "d1b"]
    assert adapter.read_to(ts(35)) == ["d3a"]
    assert adapter.get_next() == UTC_MAX
    assert adapter.read_to(ts(60)) == []


def test_parquet_source_searchsorted(tmp_path):
    path = str(tmp_path / "events.parquet")
    table = pa.table(
        {
            "ts": pa.array(
                [ts(5).tz_convert(None), ts(1).tz_convert(None), ts(9).tz_convert(None)],
                type=pa.timestamp("us"),
            ),
            "v": ["b", "a", "c"],
        }
    )
    import pyarrow.parquet as pq

    pq.write_table(table, path)
    src = ParquetDataSource(path, "ts")
    assert src.get_next() == ts(1)
    first = src.read_to(ts(5))
    assert first["v"].to_pylist() == ["a", "b"]  # sorted by ts, sliced
    assert src.get_next() == ts(9)
    assert src.read_to(ts(4)).num_rows == 0  # nothing new before ts 9
    assert src.read_to(ts(10))["v"].to_pylist() == ["c"]
    assert src.get_next() == UTC_MAX


def test_replay_with_timers():
    """Timers fire during replay even when no data is due
    (reference: replay.py:230 timer-or-records gate)."""
    dag = Dag()
    src = dag.source_stream(name="messages")
    tm = dag.timer_manager()
    fired = []

    def fn(xs, timer):
        if xs:
            timer.set_next_timer(ts(180))
            return []
        fired.append("timer")
        return ["timer"]

    node = dag.stream(fn).map(src, tm)
    dag.sink("out", node)

    sink = ListDataSink()
    driver = ReplayDriver(
        dag,
        ReplayContext(T0, ts(400), pd.Timedelta(hours=1)),
        {"messages": ListDataSource([(ts(30), "x")])},
        {"out": sink},
    )
    driver.run()
    assert fired == ["timer"]
    assert [v for _, v in sink.appended] == [["timer"]]


def test_csv_replay_end_to_end(tmp_path):
    """CSV in -> dag transform -> CSV out across virtual-clock cycles
    (reference example: examples/replay_concepts.py:78-121 CSV adapters)."""
    import pyarrow.compute as pc

    from beavers_spark.streaming import CsvDataSink, CsvDataSource

    src_path = str(tmp_path / "in.csv")
    out_path = str(tmp_path / "out.csv")
    pd.DataFrame(
        {
            "timestamp": [ts(90), ts(5), ts(130)],  # unsorted on purpose
            "message": ["mid", "early", "late"],
        }
    ).to_csv(src_path, index=False)

    dag = Dag()
    src = dag.source_stream(
        name="messages", empty_factory=lambda: pa.table({"timestamp": [], "message": []})
    )
    upper = dag.stream(
        lambda t: t.set_column(
            1, "message", pc.utf8_upper(t.column("message"))
        )
    ).map(src)
    dag.sink("out", upper)

    sink = CsvDataSink(out_path)
    driver = ReplayDriver(
        dag,
        ReplayContext(start=ts(0), end=ts(180), frequency=pd.Timedelta(hours=1)),
        sources={"messages": CsvDataSource(src_path, "timestamp")},
        sinks={"out": sink},
    )
    driver.run()

    out = pd.read_csv(out_path, parse_dates=["timestamp"])
    # rows arrive sorted by timestamp and transformed
    assert out["message"].tolist() == ["EARLY", "MID", "LATE"]
    assert out["timestamp"].tolist() == [ts(5), ts(90), ts(130)]


def test_spark_slice_source_replay(spark, tmp_path):
    """Scale-path replay: lazy pushdown-sliced DataFrames through the
    dag; empty cycles cost zero Spark jobs (read_to returns None)."""
    import pyarrow.parquet as pq

    from beavers_spark.streaming import SparkSliceSource

    path = str(tmp_path / "trades.parquet")
    table = pa.table(
        {
            "ts": pa.array(
                [ts(m).tz_convert(None) for m in (5, 65, 70, 200)],
                type=pa.timestamp("us"),
            ),
            "qty": [1.0, 2.0, 3.0, 4.0],
        }
    )
    pq.write_table(table, path)

    from beavers_spark.dag import Dag

    dag = Dag(spark)
    src = dag.source_table("ts timestamp, qty double", "trades")
    totals = dag.state(
        lambda df, acc=[0.0]: (
            acc.__setitem__(0, acc[0] + df.agg({"qty": "sum"}).first()[0]),
            acc[0],
        )[1]
    ).map(src)
    dag.sink("total", totals)

    driver = ReplayDriver(
        dag,
        ReplayContext(start=ts(0), end=ts(240), frequency=pd.Timedelta(hours=1)),
        sources={"trades": SparkSliceSource(spark, path, "ts")},
    )
    source = driver.sources["trades"]
    assert source.get_next() == ts(5)
    driver.run()
    assert dag.get_sink_value("total") == 10.0
    # cycles with data: 0-60 (ts5), 60-120 (ts65,70), 180-240 (ts200)
    assert sum(1 for m in driver.metrics if m.records) == 3


def test_cross_source_event_time_alignment():
    """Two sources with interleaved timestamps are released in global
    event-time order (quantized by frequency) — the replay analog of the
    reference's cross-topic priming alignment (kafka.py:298-346): no
    source ever runs ahead of the shared virtual clock."""
    dag = Dag()
    trades = dag.source_stream(name="trades")
    quotes = dag.source_stream(name="quotes")
    merged = dag.stream(
        lambda t, q: sorted([*t, *q], key=lambda r: r[0])
    ).map(trades, quotes)
    dag.sink("merged", merged)

    sink = ListDataSink()
    driver = ReplayDriver(
        dag,
        ReplayContext(ts(0), ts(300), pd.Timedelta(minutes=30)),
        sources={
            # interleaved: trades at 10,100,250 / quotes at 40,70,220
            "trades": ListDataSource([(ts(10), (ts(10), "T1")), (ts(100), (ts(100), "T2")), (ts(250), (ts(250), "T3"))]),
            "quotes": ListDataSource([(ts(40), (ts(40), "Q1")), (ts(70), (ts(70), "Q2")), (ts(220), (ts(220), "Q3"))]),
        },
        sinks={"merged": sink},
    )
    driver.run()

    released = [label for _, batch in sink.appended for _, label in batch]
    # global event-time order across BOTH sources
    assert released == ["T1", "Q1", "Q2", "T2", "Q3", "T3"]
    # and no record was released before its cycle's virtual time
    for cycle_time, batch in sink.appended:
        assert all(r_ts <= cycle_time for r_ts, _ in batch)


def test_replay_driver_rejects_unknown_sink_name():
    """A typo'd sink key would silently discard all output (review r5):
    validation is now symmetric with sources."""
    import pytest as _pytest

    from beavers_spark.dag import Dag
    from beavers_spark.streaming.replay import (
        ListDataSink,
        ReplayContext,
        ReplayDriver,
    )

    dag = Dag()
    src = dag.source_stream(name="in")
    dag.sink("results", dag.stream(lambda xs: xs).map(src))
    ctx = ReplayContext(
        start=pd.Timestamp("2024-01-01", tz="UTC"),
        end=pd.Timestamp("2024-01-02", tz="UTC"),
        frequency=pd.Timedelta(hours=1),
    )
    with _pytest.raises(ValueError, match="no dag sink named 'reslts'"):
        ReplayDriver(dag, ctx, sources={}, sinks={"reslts": ListDataSink()})


def test_batch_len_handles_empty_dataframe(spark):
    """An un-len()-able empty Spark DataFrame counts as 0 records, so
    gap cycles skip instead of running phantom dag cycles (review r5)."""
    from beavers_spark.streaming.replay import _batch_len

    df = spark.range(3)
    assert _batch_len(df.filter("id < 0")) == 0
    assert _batch_len(df) == 1  # non-empty, count unknown
    assert _batch_len([1, 2]) == 2
    assert _batch_len(None) == 0


def _write_ts_parquet(path, minutes, tz=None, **columns) -> None:
    """Minute offsets from T0 as a ``ts`` column: naive UTC wall times
    (Spark reads ``timestamp_ntz``) or, with ``tz="UTC"``, instants
    (``timestamp``)."""
    import pyarrow.parquet as pq

    table = pa.table(
        {
            "ts": pa.array(
                [ts(m).tz_convert(None) for m in minutes], type=pa.timestamp("us", tz=tz)
            ),
            **columns,
        }
    )
    pq.write_table(table, path)


def test_replay_cycle_probes_each_value_once(spark, spark_jobs, tmp_path):
    """Job-count pin for one executed replay cycle of a SparkSliceSource
    dag (source -> filter stream -> keyed state -> aggregate stream ->
    sink): no emptiness probe of the source slice (the source's due next
    record proves it non-empty), a driver-local slice and its filter
    probed without a job, one bounded read and no ``isEmpty`` for the
    aggregate over state, no retention job for a state value its node
    already checkpointed, and a sink read of the aggregate's one-partition
    driver-local value that does not re-run its shuffle."""
    from pyspark import StorageLevel
    from pyspark.sql import functions as F

    from beavers_spark.dag import _driver_local
    from beavers_spark.operators import last_by_keys
    from beavers_spark.streaming import SparkSliceSource

    path = str(tmp_path / "ticks.parquet")
    minutes = [m + i / 10 for m in range(1, 6) for i in range(4)]
    _write_ts_parquet(
        path,
        minutes,
        key=[f"k{i % 3}" for i in range(len(minutes))],
        qty=[float(i) for i in range(len(minutes))],
    )
    held = {}

    def upsert(batch):
        merged = batch if not held else held["table"].unionByName(batch)
        held["table"] = last_by_keys(merged, ["key"], ["ts"]).localCheckpoint()
        return held["table"]

    dag = Dag(spark)
    src = dag.source_table("ts timestamp, key string, qty double", "ticks")
    rows = dag.stream(lambda df: df.filter(F.col("qty") >= 0)).map(src)
    latest = dag.state(upsert).map(rows)
    totals = dag.stream(lambda df: df.groupBy("key").agg(F.sum("qty"))).map(latest)
    dag.sink("totals", totals)

    sink_jobs = []

    class ArrowSink:
        def append(self, timestamp, data) -> None:
            table, jobs = spark_jobs(data.toArrow)
            sink_jobs.append(jobs)
            self.last = table

        def close(self) -> None:
            pass

    sink = ArrowSink()
    driver = ReplayDriver(
        dag,
        ReplayContext(start=ts(1), end=ts(5), frequency=pd.Timedelta(minutes=1)),
        sources={"ticks": SparkSliceSource(spark, path, "ts")},
        sinks={"totals": sink},
    )
    driver.run_cycle()  # fills the source's next-event buffer
    for _ in range(3):
        _, jobs = spark_jobs(driver.run_cycle)
        names = [name.split(" at ")[0] for name, _ in jobs]
        assert "isEmpty" not in names and "count" not in names, names
        # the totals read (its AQE shuffle-stage job and its collect),
        # and the upsert's checkpoint with its shuffle-stage job (the
        # sink read runs in its own group)
        assert names.count("toArrow") == 2 and len(jobs) == 4, names
        local_rows = rows.get_value()
        assert local_rows.storageLevel == StorageLevel.NONE
        assert spark_jobs(local_rows.isEmpty) == (False, [])
        local_totals = totals.get_value()
        assert _driver_local(local_totals) and not local_totals.is_cached
        assert local_totals.rdd.getNumPartitions() == 1
        # one job, running one stage: the local value's scan
        assert [stages for _, stages in sink_jobs[-1]] == [1], sink_jobs[-1]
    assert sum(m.records for m in driver.metrics) == 4
    assert sorted(sink.last.column("key").to_pylist()) == ["k0", "k1", "k2"]


def test_spark_slice_source_buffer_edges(spark, spark_jobs, tmp_path, monkeypatch):
    """The prefetched row buffer: equal timestamps straddling the
    buffer edge, a refill after a clock warp past the buffer, and an
    exhausted file answered from the buffer without a Spark job."""
    from beavers_spark.streaming import SparkSliceSource
    from beavers_spark.streaming import replay

    monkeypatch.setattr(replay, "LOCAL_ROWS", 3)
    path = str(tmp_path / "edges.parquet")
    minutes = [1, 2, 3, 3, 3, 4, 5, 6, 7, 100, 101]
    _write_ts_parquet(path, minutes, seq=list(range(len(minutes))))
    source = SparkSliceSource(spark, path, "ts")

    def seqs(until):
        return sorted(r.seq for r in source.read_to(ts(until)).collect())

    assert source.get_next() == ts(1)  # buffer: 1, 2, 3
    assert seqs(2) == [0, 1]
    assert source.get_next() == ts(3)  # still buffered
    assert seqs(3) == [2, 3, 4]  # the two 3s past the edge come too
    assert source.get_next() == ts(4)  # refilled: 4, 5, 6
    assert source.read_to(ts(3) + pd.Timedelta(seconds=30)) is None
    assert seqs(50) == [5, 6, 7, 8]  # warp over the buffer's end
    assert source.get_next() == ts(100)  # refilled: 100, 101 (< 3: complete)
    assert seqs(100) == [9]
    assert seqs(200) == [10]
    nxt, jobs = spark_jobs(source.get_next)
    assert nxt == UTC_MAX and jobs == []
    assert source.read_to(ts(300)) is None


def test_spark_slice_source_matches_arrow_source(spark, tmp_path, monkeypatch):
    """SparkSliceSource serves the same slices and next-event times as
    ArrowTableDataSource over the same file, across buffer refills; a
    slice served from the buffer has exactly the lazy slice's schema,
    for ``timestamp_ntz`` and ``timestamp`` columns; and a replay where a
    slice outgrows the buffer and is read lazily sinks the same rows as
    one where every slice is driver-local."""
    import pyarrow.parquet as pq

    from beavers_spark.dag import _driver_local
    from beavers_spark.streaming import ArrowTableDataSource, SparkSliceSource
    from beavers_spark.streaming import replay

    monkeypatch.setattr(replay, "LOCAL_ROWS", 4)
    minutes = [0, 0, 1, 4, 4, 4, 4, 4, 9, 10, 30, 31, 31, 90]
    for tz, ts_type in ((None, "timestamp_ntz"), ("UTC", "timestamp")):
        path = str(tmp_path / f"same_{tz}.parquet")
        _write_ts_parquet(path, minutes, tz, seq=list(range(len(minutes))))
        lazy_schema = spark.read.parquet(path).schema
        assert lazy_schema["ts"].dataType.simpleString() == ts_type
        spark_src = SparkSliceSource(spark, path, "ts")
        arrow_src = ArrowTableDataSource(pq.read_table(path), "ts")
        served_locally = []
        for until in (-1, 0, 2, 4, 5, 9, 29, 31, 60, 89, 90, 120):
            assert spark_src.get_next() == arrow_src.get_next(), until
            got = spark_src.read_to(ts(until))
            want = arrow_src.read_to(ts(until)).column("seq").to_pylist()
            assert (sorted(r.seq for r in got.collect()) if got is not None else []) == want
            if got is not None:
                # select: the JVM's schema, not the one PySpark was handed
                assert got.select("*").schema == lazy_schema, until
                served_locally.append(_driver_local(got))
        assert spark_src.get_next() == arrow_src.get_next() == UTC_MAX
        assert True in served_locally and False in served_locally

    def replay_rows():  # over the last file: a ``timestamp`` column
        dag = Dag(spark)
        dag.sink("rows", dag.source_table(lazy_schema, "rows"))
        sink = ListDataSink()
        ReplayDriver(
            dag,
            ReplayContext(ts(0), ts(120), pd.Timedelta(minutes=1)),
            sources={"rows": SparkSliceSource(spark, path, "ts")},
            sinks={"rows": sink},
        ).run()
        local = [_driver_local(df) for _, df in sink.appended]
        return [(t, sorted(map(tuple, df.collect()))) for t, df in sink.appended], local

    partly_lazy, local = replay_rows()
    assert False in local  # the five rows at minute 4 outgrow the buffer
    monkeypatch.setattr(replay, "LOCAL_ROWS", 1024)
    all_local, local = replay_rows()
    assert all(local)
    assert partly_lazy == all_local
    assert sum(len(rows) for _, rows in all_local) == len(minutes)


@pytest.mark.parametrize("tz", [None, "UTC"])
def test_spark_slice_source_event_times_are_utc(spark, tmp_path, monkeypatch, new_york_tz, tz):
    """Slice and cursor predicates compare UTC instants even when the
    Python process's local zone is not UTC (a naive literal would be
    read as New York time, five hours late)."""
    from beavers_spark.streaming import SparkSliceSource
    from beavers_spark.streaming import replay

    # a one-row buffer: every slice and refill goes through the predicates
    monkeypatch.setattr(replay, "LOCAL_ROWS", 1)
    path = str(tmp_path / "three.parquet")
    _write_ts_parquet(path, [1, 2, 3], tz, seq=[0, 1, 2])
    source = SparkSliceSource(spark, path, "ts")
    assert source.get_next() == ts(1)
    assert [r.seq for r in source.read_to(ts(1)).collect()] == [0]
    assert source.get_next() == ts(2)
    assert sorted(r.seq for r in source.read_to(ts(3)).collect()) == [1, 2]
    assert source.get_next() == UTC_MAX

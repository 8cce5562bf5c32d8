"""DataFrame-payload dag scenarios: the reference's ETF golden sequence
(reference: tests/test_etfs.py:7-79 — initial join+agg, partial update,
unrelated update must NOT fire, new key, missing-price null) re-expressed
with Spark DataFrames as node values.
"""

from __future__ import annotations

import pandas as pd
import pytest
from pyspark.sql import functions as F

import beavers_spark.dag as dag_mod
from beavers_spark.dag import Dag, _driver_local
from beavers_spark.operators import last_by_keys
from beavers_spark.testing import DagTestBench

T0 = pd.Timestamp("2024-01-01T00:00:00Z")


def ts(minutes: int) -> pd.Timestamp:
    return T0 + pd.Timedelta(minutes=minutes)


PRICE_SCHEMA = "seq long, ticker string, price double"
COMP_SCHEMA = "seq long, etf string, ticker string, weight double"


@pytest.fixture()
def etf_dag(spark):
    dag = Dag(spark)
    prices = dag.source_table(PRICE_SCHEMA, "prices")
    comps = dag.source_table(COMP_SCHEMA, "composition")

    # keyed upsert state: callable class holds the accumulated table, the
    # explicit seq column keeps arrival order deterministic (SURVEY §4.1.5)
    class Upsert:
        def __init__(self, keys):
            self.keys = keys
            self.table = None

        def __call__(self, batch):
            merged = (
                batch if self.table is None else self.table.unionByName(batch)
            )
            self.table = last_by_keys(merged, self.keys, ["seq"]).localCheckpoint()
            return self.table

    price_state = dag.state(Upsert(["ticker"])).map(prices)
    comp_state = dag.state(Upsert(["etf", "ticker"])).map(comps)

    def nav(price_df, comp_df):
        joined = comp_df.join(price_df.select("ticker", "price"), "ticker", "left")
        return (
            joined.groupBy("etf")
            .agg(
                F.when(
                    F.count("price") < F.count("weight"), F.lit(None).cast("double")
                )
                .otherwise(
                    F.sum(F.col("price") * F.col("weight")) / F.sum("weight")
                )
                .alias("nav")
            )
        )

    nav_node = dag.state(nav).map(price_state, comp_state)
    dag.sink("nav", nav_node)
    return dag


def _prices(spark, seq, rows):
    return spark.createDataFrame(
        [(seq + i, t, p) for i, (t, p) in enumerate(rows)], PRICE_SCHEMA
    )


def _comps(spark, seq, rows):
    return spark.createDataFrame(
        [(seq + i, e, t, w) for i, (e, t, w) in enumerate(rows)], COMP_SCHEMA
    )


def test_etf_golden_sequence(spark, etf_dag):
    bench = DagTestBench(etf_dag)

    # 1) initial prices + composition -> NAV = (180*1 + 120*1.5)/2.5 = 144
    bench.set_source("prices", _prices(spark, 0, [("AAPL", 180.0), ("GOOG", 120.0)]))
    bench.set_source(
        "composition", _comps(spark, 0, [("TECH", "AAPL", 1.0), ("TECH", "GOOG", 1.5)])
    )
    bench.execute(ts(0)).assert_sink_updated("nav")
    bench.assert_sink_rows("nav", [("TECH", 144.0)])

    # 2) AAPL -> 200: NAV = (200 + 180)/2.5 = 152
    bench.set_source("prices", _prices(spark, 10, [("AAPL", 200.0)]))
    bench.execute(ts(1)).assert_sink_rows("nav", [("TECH", 152.0)])

    # 3) unrelated ticker update: price state fires, NAV recomputes to the
    # same value (reference asserts no sink fire via cutoff; the kernel
    # equivalent is wrapping nav in dag.cutoff + dataframe_equal)
    bench.set_source("prices", _prices(spark, 20, [("MSFT", 310.0)]))
    bench.execute(ts(2)).assert_sink_rows("nav", [("TECH", 152.0)])

    # 4) new ETF referencing MSFT and GOOG
    bench.set_source(
        "composition", _comps(spark, 10, [("SOFT", "MSFT", 0.5), ("SOFT", "GOOG", 1.0)])
    )
    bench.execute(ts(3)).assert_sink_rows(
        "nav", [("SOFT", (310.0 * 0.5 + 120.0 * 1.0) / 1.5), ("TECH", 152.0)]
    )

    # 5) SOFT gains a missing-price constituent -> NAV null
    bench.set_source("composition", _comps(spark, 20, [("SOFT", "ORCL", 1.0)]))
    bench.execute(ts(4)).assert_sink_rows(
        "nav", [("SOFT", None), ("TECH", 152.0)]
    )


def test_no_fire_with_dataframe_cutoff(spark):
    from beavers_spark.dag import dataframe_equal

    dag = Dag(spark)
    src = dag.source_table("k string, v long", "in")

    class Upsert:
        def __init__(self):
            self.table = None

        def __call__(self, batch):
            agg = batch.groupBy("k").agg(F.max("v").alias("v"))
            if self.table is not None:
                agg = last_by_keys(
                    self.table.withColumn("seq", F.lit(0)).unionByName(
                        agg.withColumn("seq", F.lit(1))
                    ),
                    ["k"],
                    ["seq"],
                ).drop("seq")
            self.table = agg.localCheckpoint()
            return self.table

    state = dag.state(Upsert()).map(src)
    cut = dag.cutoff(state, comparator=dataframe_equal)
    dag.sink("out", cut)
    bench = DagTestBench(dag)

    bench.set_source("in", spark.createDataFrame([("a", 1)], "k string, v long"))
    bench.execute(ts(0)).assert_sink_updated("out")
    # same value again -> cutoff suppresses the sink
    bench.set_source("in", spark.createDataFrame([("a", 1)], "k string, v long"))
    bench.execute(ts(1)).assert_sink_not_updated("out")
    bench.set_source("in", spark.createDataFrame([("a", 2)], "k string, v long"))
    bench.execute(ts(2)).assert_sink_updated("out")


def test_word_count_incremental(spark):
    """Streaming word-count (reference: examples/kafka_concepts.py:12-31):
    per-cycle emit only the counts of words updated this cycle."""
    dag = Dag(spark)
    src = dag.source_table("word string", "words")

    class Counts:
        def __init__(self):
            self.table = None

        def __call__(self, batch):
            delta = batch.groupBy("word").agg(F.count("*").alias("n"))
            if self.table is None:
                self.table = delta.localCheckpoint()
            else:
                merged = (
                    self.table.alias("old")
                    .join(delta.alias("new"), "word", "full_outer")
                    .select(
                        "word",
                        (
                            F.coalesce(F.col("old.n"), F.lit(0))
                            + F.coalesce(F.col("new.n"), F.lit(0))
                        ).alias("n"),
                    )
                )
                self.table = merged.localCheckpoint()
            return self.table

    counts = dag.state(Counts()).map(src)

    def changed_only(batch, table):
        return table.join(batch.select("word").distinct(), "word", "left_semi")

    update_stream = dag.table_stream(changed_only, "word string, n long").map(
        src, counts
    )
    dag.sink("updates", update_stream)
    bench = DagTestBench(dag)

    bench.set_source(
        "words", spark.createDataFrame([("foo",), ("bar",), ("foo",)], "word string")
    )
    bench.execute(ts(0)).assert_sink_rows("updates", [("bar", 1), ("foo", 2)])

    bench.set_source("words", spark.createDataFrame([("foo",)], "word string"))
    bench.execute(ts(1)).assert_sink_rows("updates", [("foo", 3)])  # bar unchanged: not emitted


def test_stream_dataframes_are_cached_for_one_cycle(spark, monkeypatch):
    """Over the cap, a DataFrame stream output is persisted so
    downstream nodes and sinks read it cached, and unpersisted once the
    node's value is reset (no fire), replaced, or found empty."""
    monkeypatch.setattr(dag_mod, "LOCAL_ROWS", 1)
    dag = Dag(spark)
    a = dag.source_table("x long", "a")
    b = dag.source_table("x long", "b")
    doubled = dag.stream(lambda df: df.select((F.col("x") * 2).alias("x"))).map(a)
    dag.sink("doubled", doubled)
    dag.sink("b", dag.stream(lambda df: df.select("x")).map(b))
    c = dag.source_table("x long", "c")
    empties = []
    nothing = dag.stream(
        lambda df: empties.append(df.filter("x < 0")) or empties[-1]
    ).map(c)

    a.set_stream(spark.createDataFrame([(1,), (2,)], "x long"))
    dag.execute(ts(1))
    first = doubled.get_value()
    assert first.is_cached
    assert dag.get_sink_value("doubled") is first

    a.set_stream(spark.createDataFrame([(3,)], "x long"))
    dag.execute(ts(2))  # replaced; went over the cap, so stays persisted
    second = doubled.get_value()
    assert second.is_cached and not first.is_cached

    b.set_stream(spark.createDataFrame([(5,)], "x long"))
    dag.execute(ts(3))  # doubled did not fire: reset
    assert not second.is_cached
    assert isinstance(doubled.get_value(), list)  # the empty value

    c.set_stream(spark.createDataFrame([(4,)], "x long"))
    dag.execute(ts(4))  # nothing's output is empty: not cached, no fire
    assert not empties[-1].is_cached
    assert nothing.get_cycle_id() == 0


def test_checkpointed_state_is_kept_as_is(spark, spark_jobs):
    """A state value its node already materialized as a checkpoint is
    stored as is: no persist and no second materializing job."""
    dag = Dag(spark)
    src = dag.source_table("x long", "in")
    made = []
    state = dag.state(
        lambda df: made.append(df.localCheckpoint()) or made[-1]
    ).map(src)
    src.set_stream(spark.createDataFrame([(1,)], "x long"), known_nonempty=True)
    _, jobs = spark_jobs(lambda: dag.execute(ts(1)))
    assert [name.split(" at ")[0] for name, _ in jobs] == ["localCheckpoint"]
    assert state.get_value() is made[-1]
    assert not made[-1].is_cached


def test_empty_table_values_are_one_driver_local_frame(spark, spark_jobs):
    """A ``table_stream`` that does not fire, and a ``source_table`` with
    nothing staged, hold the same 0-row DataFrame of the declared schema
    every cycle, and probing it runs no Spark job."""
    dag = Dag(spark)
    a = dag.source_table("x long", "a")
    b = dag.source_table("x long", "b")
    doubled = dag.table_stream(
        lambda df: df.select((F.col("x") * 2).alias("x")), "x long, tag string"
    ).map(a)
    dag.sink("doubled", doubled)
    dag.sink("b", b)
    seen = []
    for minute in range(1, 4):
        b.set_stream(spark.createDataFrame([(minute,)], "x long"))
        dag.execute(ts(minute))  # only b fires
        seen.append((doubled.get_value(), a.get_value()))
    empty_stream, empty_source = seen[0]
    assert all(s is empty_stream and v is empty_source for s, v in seen)
    assert empty_stream.schema.simpleString() == "struct<x:bigint,tag:string>"
    assert empty_source.schema.simpleString() == "struct<x:bigint>"
    for value in (empty_stream, empty_source):
        assert spark_jobs(value.isEmpty) == (True, [])


def _names(jobs):
    return [name.split(" at ")[0] for name, _ in jobs]


def test_small_stream_outputs_are_one_local_partition(spark, spark_jobs):
    """Under the cap, one bounded Arrow read settles a DataFrame stream
    output: no persist and no ``isEmpty``; the value is a driver-local
    frame of one partition, which a sink reads in one job of one stage
    and a key grouping reads without an exchange; an empty output does
    not notify the node's observers."""
    dag = Dag(spark)
    src = dag.source_table("k long, x long", "src")
    kept = dag.stream(lambda df: df.filter("x > 0")).map(src)
    dag.sink("kept", kept)
    seen = []
    dag.stream(lambda df: seen.append(df) or [df]).map(kept)

    src.set_stream(spark.range(5).selectExpr("id % 2 AS k", "id AS x"), known_nonempty=True)
    _, jobs = spark_jobs(lambda: dag.execute(ts(1)))
    assert _names(jobs) == ["toArrow"], jobs
    value = kept.get_value()
    assert _driver_local(value) and not value.is_cached
    assert value.rdd.getNumPartitions() == 1
    assert sorted(value.toArrow().column("x").to_pylist()) == [1, 2, 3, 4]
    assert len(seen) == 1 and seen[0] is value
    assert dag.get_sink_value("kept") is value
    _, jobs = spark_jobs(dag.get_sink_value("kept").toArrow)
    assert [stages for _, stages in jobs] == [1], jobs
    grouped = value.groupBy("k").count()._jdf.queryExecution().executedPlan()
    assert "Exchange" not in grouped.toString()

    src.set_stream(spark.range(3).selectExpr("id AS k", "-id AS x"), known_nonempty=True)
    _, jobs = spark_jobs(lambda: dag.execute(ts(2)))
    assert _names(jobs) == ["toArrow"], jobs
    assert kept.get_cycle_id() == 1 and len(seen) == 1  # not updated, not notified
    assert isinstance(kept.get_value(), list)  # the empty value


def test_local_stream_values_keep_exact_event_times(spark, new_york_tz):
    """A ``timestamp`` and a ``timestamp_ntz`` column, read to the
    driver and back, hold the same instants and local times and the same
    schema, with the Python process's zone not UTC (a 2:30 wall time
    that New York skips on 2024-03-10 included)."""
    dag = Dag(spark)
    src = dag.source_table("id long", "src")
    times = dag.stream(
        lambda df: df.selectExpr(
            "id",
            "timestamp'2024-03-10 06:30:00.123456' + make_interval(0, 0, 0, 0, id, 0, 0) AS ts",
            "timestamp_ntz'2024-03-10 02:30:00.654321' + make_interval(0, 0, 0, id) AS ntz",
        )
    ).map(src)
    batch = spark.range(4)
    src.set_stream(batch, known_nonempty=True)
    dag.execute(ts(1))
    value = times.get_value()
    assert _driver_local(value)
    want = times._fn(batch)
    assert value.select("*").schema == want.schema
    assert value.orderBy("id").toArrow().equals(want.orderBy("id").toArrow())
    as_text = "id", "CAST(ts AS STRING) AS ts", "CAST(ntz AS STRING) AS ntz"
    assert value.selectExpr(*as_text).orderBy("id").collect() == (
        want.selectExpr(*as_text).orderBy("id").collect()
    )


@pytest.mark.parametrize(
    "column",
    [
        "INTERVAL '1' YEAR",  # no Arrow type
        "array(named_struct('n', id, 't', timestamp'2024-01-01 00:00:00'))",
    ],
    ids=["year_month_interval", "non_nullable_struct_timestamp"],
)
def test_schemas_arrow_cannot_round_trip_fall_back(spark, spark_jobs, column):
    """An output whose schema does not survive ``toArrow`` and
    ``createDataFrame`` is found before any job runs and keeps the
    persist + ``isEmpty`` path: no bounded read, no extra job. An output
    whose plan equals the previous cycle's is persisted again, not
    mistaken for that cycle's released cache."""
    dag = Dag(spark)
    src = dag.source_table("id long", "src")
    out = dag.stream(lambda df: df.selectExpr("id", f"{column} AS c")).map(src)
    for minute in (1, 2):
        src.set_stream(spark.range(3), known_nonempty=True)
        _, jobs = spark_jobs(lambda: dag.execute(ts(minute)))
        assert _names(jobs) == ["isEmpty"], jobs
        assert out.get_value().is_cached


def test_over_cap_node_pays_no_second_read(spark, spark_jobs, monkeypatch):
    """The bounded read that finds an output over the cap also proves it
    non-empty, so that cycle runs no ``isEmpty``; from then on the node
    keeps the persist + ``isEmpty`` path, even for a small output."""
    monkeypatch.setattr(dag_mod, "LOCAL_ROWS", 2)
    dag = Dag(spark)
    src = dag.source_table("id long", "src")
    out = dag.stream(lambda df: df.filter("id >= 0")).map(src)
    src.set_stream(spark.range(3), known_nonempty=True)
    _, jobs = spark_jobs(lambda: dag.execute(ts(1)))
    assert _names(jobs) == ["toArrow"], jobs
    assert out.get_value().is_cached
    src.set_stream(spark.range(1), known_nonempty=True)
    _, jobs = spark_jobs(lambda: dag.execute(ts(2)))
    assert _names(jobs) == ["isEmpty"], jobs
    assert out.get_value().is_cached


def test_stream_chains_over_local_values_cost_no_more_jobs(spark, spark_jobs):
    """Two chained stream nodes: over a driver-local source both are
    probed on the driver, with no job; over a distributed source the
    first is read once and the second, over its one-partition local
    value, is probed once (persist + ``isEmpty`` per node ran two)."""
    import pyarrow as pa

    dag = Dag(spark)
    src = dag.source_table("id long", "src")
    first = dag.stream(lambda df: df.filter("id > 0")).map(src)
    second = dag.stream(lambda df: df.selectExpr("id * 2 AS id")).map(first)
    dag.sink("second", second)

    local = spark.createDataFrame(pa.table({"id": pa.array([0, 1, 2], pa.int64())}))
    src.set_stream(local, known_nonempty=True)
    _, jobs = spark_jobs(lambda: dag.execute(ts(1)))
    assert jobs == [], jobs
    src.set_stream(spark.range(3), known_nonempty=True)
    _, jobs = spark_jobs(lambda: dag.execute(ts(2)))
    assert _names(jobs) == ["toArrow", "isEmpty"], jobs
    assert sorted(second.get_value().toArrow().column("id").to_pylist()) == [2, 4]

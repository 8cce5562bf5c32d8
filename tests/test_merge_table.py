"""The touched-partition merge the four bucket rollups and
``KeyedStateTable`` share: first batches that write no rows, the Spark
jobs of one batch, the order of ``ContinuousTopK``'s two writes, and
``ContinuousQuantile``'s bin check."""

from __future__ import annotations

import datetime as dt
import os

import pytest
from pyspark.sql import DataFrameWriter
from pyspark.sql import functions as F

from beavers_spark.streaming import (
    ContinuousDistinct,
    ContinuousQuantile,
    ContinuousRollup,
    ContinuousTopK,
    KeyedStateTable,
    batch_quantile,
)
from beavers_spark.streaming.maintenance import table_exists

ROWS = 40
SCHEMA = "ts timestamp, k string, item long, value double, seq long"
T0 = dt.datetime(2024, 1, 1)

#: each table's constructor
TABLES = {
    "rollup": lambda p: ContinuousRollup(
        p, ts_col="ts", keys=["k"], sum_col="value"
    ),
    "distinct": lambda p: ContinuousDistinct(
        p, ts_col="ts", keys=["k"], entity_col="item"
    ),
    "topk": lambda p: ContinuousTopK(
        p, ts_col="ts", keys=["k"], item_col="item", capacity=3
    ),
    "quantile": lambda p: ContinuousQuantile(
        p, ts_col="ts", keys=["k"], value_col="value", lo=0.0, hi=100.0,
        n_bins=10,
    ),
    "state": lambda p: KeyedStateTable(
        p, keys=["item"], order_by="seq", n_buckets=4
    ),
}
#: Spark jobs of a first batch, of a second batch that merges into
#: buckets the first one wrote (40 rows, 4 shuffle partitions) and of a
#: third batch, read from parquet, with no rows
MERGE_JOBS = {
    "rollup": (5, 8, 1),
    "distinct": (5, 8, 1),
    "topk": (10, 16, 1),
    "quantile": (5, 8, 1),
    "state": (6, 9, 3),
}


def _batch(spark, start: int, null_ts: bool = False):
    """``ROWS`` rows, three minutes apart from minute ``3 * start``, so
    two batches ``start`` 20 apart share one hourly bucket."""
    rows = [
        (
            None if null_ts else T0 + dt.timedelta(minutes=3 * i),
            f"k{i % 3}",
            i % 5,
            float(i % 97),
            i,
        )
        for i in range(start, start + ROWS)
    ]
    return spark.createDataFrame(rows, SCHEMA)


@pytest.mark.parametrize("name", ["rollup", "distinct", "topk", "quantile"])
def test_all_null_first_batch_leaves_no_table(spark, tmp_path, name):
    """A first batch whose event times are all null marks its id and
    writes nothing; the next batch on the same instance then creates
    the table as a first batch would."""
    table = TABLES[name](str(tmp_path / "t"))
    table(_batch(spark, 0, null_ts=True), 0)
    assert table._watermark.is_applied(0)
    assert not table_exists(spark, table.path)
    table(_batch(spark, 0), 1)
    assert table._watermark.is_applied(1)
    assert table_exists(spark, table.path)


def test_topk_first_batch_truncated_to_no_counters(spark, tmp_path):
    """A first batch whose counters all truncate away (two items tie at
    the cut) writes only the error ledger; the next batch then merges
    into an empty summary."""
    top = ContinuousTopK(
        str(tmp_path / "top"), ts_col="ts", keys=["k"], item_col="item",
        capacity=1,
    )
    schema = "ts timestamp, k string, item long"
    top(spark.createDataFrame([(T0, "a", 1), (T0, "a", 2)], schema), 0)
    top(spark.createDataFrame([(T0, "a", 1), (T0, "a", 1)], schema), 1)
    served = [(r.item, r.cnt_low, r.cnt_high) for r in top.read(spark, 1).collect()]
    assert served == [(1, 2, 3)]


@pytest.mark.parametrize("name", sorted(MERGE_JOBS))
def test_merge_jobs_per_batch(spark, spark_jobs, tmp_path, name):
    """Spark jobs of a first batch (no table yet), of a merging batch
    (touched-partition probe, pruned read of the current rows, merge and
    overwrite) and of an empty batch (the probe alone)."""
    src = str(tmp_path / "src")
    _batch(spark, 0).write.parquet(src)
    empty = spark.read.parquet(src).filter(F.col("seq") < 0)
    table = TABLES[name](str(tmp_path / "t"))
    batches = [_batch(spark, 0), _batch(spark, 20), empty]
    jobs = tuple(
        len(spark_jobs(lambda: table(df, b))[1])
        for b, df in enumerate(batches)
    )
    assert jobs == MERGE_JOBS[name]


def test_topk_err_write_precedes_counters_across_a_crash(
    spark, tmp_path, monkeypatch
):
    """A crash after the error-ledger write and before the counter write
    leaves the ledger ahead of the counters. Replaying the batch on a
    fresh instance then only widens the bounds: every served item keeps
    ``cnt_low <= exact count <= cnt_high``."""
    path = str(tmp_path / "top")
    make = TABLES["topk"]
    batch = _batch(spark, 0)

    writes = []
    parquet = DataFrameWriter.parquet

    def crash_at_counters(self, p, *args, **kwargs):
        writes.append(p)
        if p == path:
            raise RuntimeError("crash before the counter write")
        return parquet(self, p, *args, **kwargs)

    monkeypatch.setattr(DataFrameWriter, "parquet", crash_at_counters)
    with pytest.raises(RuntimeError, match="counter write"):
        make(path)(batch, 0)
    monkeypatch.undo()
    assert writes == [path + "_err", path]
    assert os.path.isdir(path + "_err")

    top = make(path)
    top(batch, 0)
    exact = {}
    for r in batch.collect():
        key = (r.ts.replace(minute=0), r.k, r.item)
        exact[key] = exact.get(key, 0) + 1
    served = top.read(spark, k=3).collect()
    assert served
    for r in served:
        true = exact[(r.bucket, r.k, r.item)]
        assert r.cnt_low <= true <= r.cnt_high, (r, true)


@pytest.mark.parametrize(
    "lo, hi, n_bins", [(0.0, 1.0, 0), (0.0, 1.0, -2), (1.0, 1.0, 8)]
)
def test_quantile_rejects_histograms_without_bins(tmp_path, lo, hi, n_bins):
    """Both quantile entry points check the bins before any batch: no
    bins divide by zero, negative bins store negative bin ids, and
    zero-width bins make inf/NaN estimates."""
    with pytest.raises(ValueError, match="n_bins|hi"):
        ContinuousQuantile(
            str(tmp_path / "q"), ts_col="ts", keys=[], value_col="value",
            lo=lo, hi=hi, n_bins=n_bins,
        )
    with pytest.raises(ValueError, match="n_bins|hi"):
        batch_quantile(
            None, ts_col="ts", keys=[], value_col="value", lo=lo, hi=hi,
            n_bins=n_bins,
        )

"""Continuous rollup: an incrementally-maintained time-bucketed
aggregate table (the hypertable/continuous-aggregate pattern), built on
``foreachBatch`` + dynamic partition overwrite.

Each micro-batch only touches the time buckets it contains: the batch is
pre-aggregated (map-side, tiny), merged with the CURRENT contents of
just those buckets, and written back via dynamic partition overwrite —
cost per batch is O(batch + touched-bucket rows), never a rescan of
history (``merge_table.MergeTable`` runs the sequence). Readers see a
plain parquet table partitioned by bucket, queryable mid-stream.

At 100 TB: the rollup table is partitioned on the bucket column, so the
merge reads only the touched partitions (partition pruning) and the
overwrite replaces only those directories. Late data lands in its true
bucket automatically — correctness does not depend on arrival order.
Merge-in aggregation is not idempotent, so a ``BatchWatermark``
(maintenance.py) skips batch ids Structured Streaming replays after a
restart — without it a replayed batch would double-count.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from beavers_spark.streaming.merge_table import BucketRollup


class ContinuousRollup(BucketRollup):
    """Maintains ``sum_col`` totals and row counts per (bucket, *keys).

    Use as a ``foreachBatch`` callable::

        rollup = ContinuousRollup(path, ts_col="ts", bucket="1 hour",
                                  keys=["event_type"], sum_col="value")
        stream.writeStream.foreachBatch(rollup).start()

    ``read(spark)`` returns the current rollup table.
    """

    def __init__(
        self,
        path: str,
        ts_col: str,
        keys: list[str],
        sum_col: str,
        bucket: str = "1 hour",
    ) -> None:
        super().__init__(path, ts_col, keys, bucket)
        self.sum_col = sum_col

    def _delta(self, df: DataFrame) -> DataFrame:
        return self._grouped(df).agg(
            F.count(F.lit(1)).alias("n"), F.sum(self.sum_col).alias("total")
        )

    def _merge(self, delta: DataFrame, current: DataFrame) -> DataFrame:
        return self._regrouped(delta, current).agg(
            F.sum("n").alias("n"), F.sum("total").alias("total")
        )

    def read(self, spark: SparkSession) -> DataFrame:
        return spark.read.parquet(self.path)

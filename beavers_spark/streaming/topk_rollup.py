"""Continuous heavy-hitters rollup: incrementally-maintained top items
per (time bucket, keys) via mergeable Misra-Gries summaries.

``ContinuousRollup`` handles decomposable aggregates and
``ContinuousDistinct`` handles cardinality; "most frequent items" is the
third classic streaming aggregate that CANNOT be maintained by keeping a
truncated top-k per batch — an item just below the cut in every batch
can be the global #1. The fix with provable bounds is the Misra-Gries
summary (Misra & Gries 1982): keep at most ``capacity`` counters per
group; merging two summaries sums counters per item, then subtracts the
(capacity+1)-th largest count from every counter and drops the
non-positives (Agarwal et al. 2013, "Mergeable Summaries"). Invariants,
with n = total rows seen in the group and err = the group's accumulated
subtraction:

- stored count  <=  true count  <=  stored count + err;
- err <= n / (capacity + 1);
- every item with true count > n/(capacity+1) IS in the summary.

Per batch (the touched-bucket merge of ``merge_table.MergeTable``):
the batch is counted exactly per (bucket, keys, item) — map-side
combined, batch-sized — merged with the stored summaries of JUST the
touched buckets (partition-pruned read), truncated per group, and
written back via dynamic partition overwrite. The per-group subtraction
totals live in a sibling ``<path>_err`` table, same bucket partitioning.
Cost is O(batch + touched-group summaries); history is never re-read,
and state is groups x capacity rows no matter how many distinct items
stream through. At 100 TB this is "trending items per hour over years
of events" with bounded state.

Reference parity: extends the reference's state-node fold
(dag.py:501-518) with a mergeable-summary state the reference cannot
express without unbounded per-key maps (README.md:43-50 scope).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from beavers_spark.streaming.merge_table import BucketRollup


class ContinuousTopK(BucketRollup):
    """Maintains Misra-Gries heavy-hitter summaries of ``item_col`` per
    (bucket, *keys).

    ::

        top = ContinuousTopK(path, ts_col="ts", keys=["event_type"],
                             item_col="user_id", bucket="1 hour",
                             capacity=256)
        stream.writeStream.foreachBatch(top).start()
        top.read(spark, k=10)  # bucket, *keys, item, cnt_low, cnt_high, rnk
    """

    def __init__(
        self,
        path: str,
        ts_col: str,
        keys: list[str],
        item_col: str,
        bucket: str = "1 hour",
        capacity: int = 256,
    ) -> None:
        super().__init__(path, ts_col, keys, bucket)
        self.err_path = path.rstrip("/") + "_err"
        self.item_col = item_col
        self.capacity = capacity

    def _delta(self, df: DataFrame) -> DataFrame:
        return self._grouped(df, F.col(self.item_col).alias("item")).agg(
            F.count(F.lit(1)).alias("cnt")
        )

    def _merge(self, delta: DataFrame, current: DataFrame) -> DataFrame:
        return self._regrouped(delta, current, "item").agg(
            F.sum("cnt").alias("cnt")
        )

    def _merge_err(self, delta: DataFrame, current: DataFrame) -> DataFrame:
        return self._regrouped(delta, current).agg(F.sum("err").alias("err"))

    def _apply(self, delta: DataFrame, touched: list, batch_id: int) -> None:
        combined = self._fold(delta, self.path, touched, self._merge)
        # Misra-Gries truncation per group: subtract the (capacity+1)-th
        # largest count from every counter, drop the non-positives. The
        # rank window and the subtraction run in one pass; d is the
        # group's accumulated error this merge. One materialization: the
        # ranked frame feeds the counter write AND the error ledger —
        # unchecked, each would re-count the batch and re-run the window
        grp = Window.partitionBy("bucket", *self.keys)
        ranked = (
            combined.withColumn(
                "rnk",
                F.row_number().over(
                    grp.orderBy(F.col("cnt").desc(), F.col("item").asc())
                ),
            )
            .withColumn(
                "d",
                F.coalesce(
                    F.max(
                        F.when(F.col("rnk") == self.capacity + 1, F.col("cnt"))
                    ).over(grp),
                    F.lit(0),
                ),
            )
            .localCheckpoint()
        )
        merged = ranked.filter(
            (F.col("rnk") <= self.capacity) & (F.col("cnt") > F.col("d"))
        ).select(
            "bucket", *self.keys, "item", (F.col("cnt") - F.col("d")).alias("cnt")
        )
        # per-group error ledger: err += d of this merge
        err = self._fold(
            ranked.groupBy("bucket", *self.keys).agg(F.max("d").alias("err")),
            self.err_path,
            touched,
            self._merge_err,
        )
        # err BEFORE counters: a crash between the two writes then only
        # inflates err (bounds stay conservative — the counters are still
        # pre-batch and the replay re-merges them once). The reverse
        # order would let a replay double-merge already-written counters
        # under a stale err, silently breaking the lower bound. A crash
        # after the counter write but before mark keeps the
        # BatchWatermark-documented double-apply window.
        self._overwrite(err, self.err_path)
        self._overwrite(merged, self.path)

    def read(self, spark: SparkSession, k: int = 10) -> DataFrame:
        """Top-``k`` per (bucket, *keys): item, count bounds, rank.

        ``cnt_low <= true count <= cnt_high``; ranking is by the stored
        (lower-bound) count with item tie-break, deterministic.
        """
        counters = spark.read.parquet(self.path)
        errs = spark.read.parquet(self.err_path)
        w = Window.partitionBy("bucket", *self.keys).orderBy(
            F.col("cnt").desc(), F.col("item").asc()
        )
        return (
            counters.join(errs, ["bucket", *self.keys])
            .withColumn("rnk", F.row_number().over(w))
            .filter(F.col("rnk") <= k)
            .select(
                "bucket",
                *self.keys,
                "item",
                F.col("cnt").alias("cnt_low"),
                (F.col("cnt") + F.col("err")).alias("cnt_high"),
                "rnk",
            )
        )

    def read_summaries(self, spark: SparkSession) -> DataFrame:
        """Raw counter table (bucket, *keys, item, cnt) — mergeable
        further, e.g. roll hourly summaries into daily heavy hitters."""
        return spark.read.parquet(self.path)

"""One touched-partition merge for the tables that fold each batch into
the state they already hold: the four bucket rollups
(``ContinuousRollup``, ``ContinuousDistinct``, ``ContinuousTopK``,
``ContinuousQuantile``) and ``KeyedStateTable``.

The reference's state node folds each cycle's delta into its value
(dag.py:501-518). Here the value is a parquet table partitioned by one
column, and a batch rewrites only the partitions it touches, so its
cost is O(batch + touched-partition rows), never a rescan of history.
``MergeTable.__call__`` is the one copy of the sequence:

1. ``recover_compaction``, then the ``BatchWatermark`` check: most of
   these merges are not idempotent, so a replayed batch id is skipped;
2. the null filter, then the batch's delta;
3. the touched-partition probe. A batch that touches no partition is
   marked and ends here, so it cannot leave a table without data files
   behind (``spark.read.parquet`` cannot infer a schema from one);
4. when the table holds data, a partition-pruned read of the touched
   current rows and the merge;
5. the dynamic-overwrite write of the merged rows;
6. the watermark mark.
"""

from __future__ import annotations

from typing import Callable

from pyspark.sql import Column, DataFrame, GroupedData
from pyspark.sql import functions as F

from beavers_spark.streaming.maintenance import (
    BatchWatermark,
    recover_compaction,
    table_exists,
)

Merge = Callable[[DataFrame, DataFrame], DataFrame]


def bucket_start(ts_col: str, bucket: str) -> Column:
    """The ``bucket`` column of the bucket rollups: the start of the
    ``bucket``-long tumbling window that holds ``ts_col``."""
    return F.window(F.col(ts_col), bucket).start.alias("bucket")


class MergeTable:
    """Base of the touched-partition merge tables, a ``foreachBatch``
    callable. A subclass sets ``part``, the partition column, and
    supplies:

    - ``_part_col()`` — a raw batch row's partition value;
    - ``_delta(batch_df)`` — the batch's contribution, carrying ``part``;
    - ``_merge(delta, current)`` — the delta folded into the touched
      current rows.

    It may override ``_live`` (the null filter), ``_touched`` (the probe)
    and ``_apply`` (the writes of one batch that touches partitions).
    """

    part: str

    def __init__(self, path: str) -> None:
        self.path = path
        self._watermark = BatchWatermark(path)

    def _part_col(self) -> Column:
        raise NotImplementedError

    def _delta(self, batch_df: DataFrame) -> DataFrame:
        raise NotImplementedError

    def _merge(self, delta: DataFrame, current: DataFrame) -> DataFrame:
        raise NotImplementedError

    def _live(self, batch_df: DataFrame) -> DataFrame:
        """The rows that have a partition value."""
        return batch_df

    def __call__(self, batch_df: DataFrame, batch_id: int) -> None:
        # restore a compaction crashed between compact_parquet's two
        # renames BEFORE the watermark check or any write
        recover_compaction(self.path)
        if self._watermark.is_applied(batch_id):
            return
        batch_df = self._live(batch_df)
        delta = self._delta(batch_df)
        touched = self._touched(batch_df, delta)
        if touched:
            self._apply(delta, touched, batch_id)
        self._watermark.mark(batch_id)

    def _touched(self, batch_df: DataFrame, delta: DataFrame) -> list:
        """The partitions the batch touches. The probe reads the raw
        batch, so the delta's aggregation runs once, in the merge."""
        return [
            r[0] for r in batch_df.select(self._part_col()).distinct().collect()
        ]

    def _apply(self, delta: DataFrame, touched: list, batch_id: int) -> None:
        self._overwrite(
            self._fold(delta, self.path, touched, self._merge), self.path
        )

    def _fold(
        self, delta: DataFrame, path: str, touched: list, merge: Merge
    ) -> DataFrame:
        """``delta`` merged with the touched rows of the table at
        ``path``, or ``delta`` alone while that table holds no data. The
        existence probe is a file-system listing, not a Spark job, and
        runs every batch: a write of no rows leaves no table."""
        spark = delta.sparkSession
        if not table_exists(spark, path):
            return delta
        # the filter is partition-pruned, so only the touched directories
        # are read; localCheckpoint materializes them before the
        # overwrite (Spark refuses to overwrite a path its plan still
        # reads)
        current = (
            spark.read.parquet(path)
            .filter(F.col(self.part).isin(touched))
            .localCheckpoint()
        )
        return merge(delta, current)

    def _overwrite(
        self, df: DataFrame, path: str, n: int | None = None
    ) -> None:
        """Replace the partitions ``df`` holds, and only those. The
        repartition on the partition column writes one file per touched
        partition instead of one per (task, partition); it has ``n``
        partitions, or as many as AQE picks when ``n`` is None. The
        per-write overwrite mode leaves the shared session's semantics
        alone."""
        key = F.col(self.part)
        (
            (df.repartition(n, key) if n else df.repartition(key))
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy(self.part)
            .parquet(path)
        )


class BucketRollup(MergeTable):
    """A merge table keyed by (time bucket of ``ts_col``, *keys). A null
    event time has no bucket, so those rows are dropped: a None touched
    value never ``isin``-matches the stored rows, yet dynamic overwrite
    would still replace the null partition with only this batch's
    delta."""

    part = "bucket"

    def __init__(
        self, path: str, ts_col: str, keys: list[str], bucket: str
    ) -> None:
        super().__init__(path)
        self.ts_col = ts_col
        self.keys = keys
        self.bucket = bucket

    def _part_col(self) -> Column:
        return bucket_start(self.ts_col, self.bucket)

    def _live(self, batch_df: DataFrame) -> DataFrame:
        return batch_df.filter(F.col(self.ts_col).isNotNull())

    def _grouped(self, df: DataFrame, *cols) -> GroupedData:
        """Raw rows grouped by (bucket, *keys, *cols)."""
        return df.groupBy(self._part_col(), *self.keys, *cols)

    def _regrouped(
        self, delta: DataFrame, current: DataFrame, *cols
    ) -> GroupedData:
        """The delta and the current rows grouped together by
        (bucket, *keys, *cols)."""
        return delta.unionByName(current).groupBy(self.part, *self.keys, *cols)

"""Durable keyed-upsert state: the reference's ``last_by_keys`` /
``GetLatest`` state node made distributed and at-rest.

The reference keeps latest-row-per-key state in process memory
(pyarrow_wrapper.py:82-91 ``_LastByKey``; examples/etfs.py:34-42
``GetLatest``) — impossible at 100 TB. ``KeyedStateTable`` keeps the same
semantics in a parquet table **partitioned by a key-hash bucket**, so a
micro-batch upsert costs O(batch + touched-bucket rows), never a rescan
of the full key space:

1. the batch is reduced to its latest row per key (one window pass on
   the arrival order column — same contract as ``operators.last_by_keys``);
2. only the buckets containing batch keys are read back (partition
   pruning on the bucket column) and merged, latest ``order_by`` wins —
   ties go to the incoming batch, matching upsert expectations;
3. dynamic partition overwrite replaces exactly those bucket
   directories. Overwrites are idempotent, so checkpointed replays of a
   batch are safe (at-least-once in, exactly-once effect out).

``merge_table.MergeTable`` runs that sequence for this table and the
bucket rollups alike.

``n_buckets`` sizes the unit of rewrite: more buckets = finer pruning
but more small files; at 100 TB pick buckets so one bucket ≈ one
executor-comfortable rewrite (hundreds of MB), and compact periodically.

Readers see a plain parquet table, queryable mid-stream — the serving
layer (``serving.ViewServer`` / ``operators.view.TableView``) can sit
directly on ``read()``.
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from beavers_spark.operators.tabular import last_by_keys
from beavers_spark.streaming.maintenance import (
    WaveMetrics,
    forget_partition_rows,
    partition_stats,
    table_exists,
)
from beavers_spark.streaming.merge_table import MergeTable

_BUCKET = "__bucket"


class KeyedStateTable(MergeTable):
    """``foreachBatch`` callable maintaining latest-row-per-key state.

    ::

        state = KeyedStateTable(path, keys=["ticker"], order_by="seq",
                                n_buckets=64)
        stream.writeStream.foreachBatch(state).start()
        latest = state.read(spark)   # one row per key, the latest

    The merge itself is idempotent (latest-wins over the same batch
    converges), so the watermark only skips wasted replays.
    """

    part = _BUCKET

    def __init__(
        self,
        path: str,
        keys: Sequence[str],
        order_by: str,
        n_buckets: int = 64,
    ) -> None:
        if not keys:
            raise ValueError("keys must be non-empty")
        super().__init__(path)
        self.keys = list(keys)
        self.order_by = order_by
        self.n_buckets = n_buckets
        #: one WaveMetrics per applied wave: bytes-rewritten-per-wave and
        #: files-per-bucket, the n_buckets sizing / compaction-due signal
        self.metrics: list[WaveMetrics] = []

    def _part_col(self) -> Column:
        return F.pmod(F.hash(*self.keys), F.lit(self.n_buckets))

    def read(self, spark: SparkSession) -> DataFrame:
        """Current latest-row-per-key table (without the bucket column)."""
        return spark.read.parquet(self.path).drop(_BUCKET)

    def forget(self, spark: SparkSession, keys) -> int:
        """Right-to-be-forgotten for keyed state: hard-delete the
        given keys' rows. ``keys`` is a list of key values (single-key
        tables) or of tuples aligned with ``self.keys``. Bucket-
        TARGETED (maintenance.forget_partition_rows): only the bucket
        directories holding the victims rewrite. A later upsert of a
        forgotten key is admitted as brand-new state. Idempotent;
        returns the number of bucket directories rewritten or
        removed."""
        rows = [k if isinstance(k, tuple) else (k,) for k in keys]
        if not rows or not table_exists(spark, self.path):
            return 0
        id_df = spark.createDataFrame(rows, self.keys)
        return forget_partition_rows(spark, self.path, id_df, self.keys, _BUCKET)

    def _delta(self, batch_df: DataFrame) -> DataFrame:
        # batch-local upsert first: one row per key leaves this stage.
        # localCheckpoint materializes the reduction ONCE, so the batch
        # is scanned a single time per wave — the touched-bucket probe
        # and the merge both read the (small, one-row-per-key)
        # checkpointed delta instead of re-scanning the raw batch (a
        # probe on the raw batch cost a second full batch scan per wave;
        # the checkpoint also pre-empts the merge re-running the window)
        return (
            last_by_keys(batch_df, self.keys, [self.order_by])
            .withColumn(_BUCKET, self._part_col())
            .localCheckpoint()
        )

    def _touched(self, batch_df: DataFrame, delta: DataFrame) -> list:
        return [r[0] for r in delta.select(_BUCKET).distinct().collect()]

    def _merge(self, delta: DataFrame, current: DataFrame) -> DataFrame:
        # ties on order_by go to the batch: rank current rows below
        # delta rows by a tiebreaker column
        return last_by_keys(
            delta.withColumn("__new", F.lit(1)).unionByName(
                current.withColumn("__new", F.lit(0))
            ),
            self.keys,
            [self.order_by, "__new"],
        ).drop("__new")

    def _apply(self, delta: DataFrame, touched: list, batch_id: int) -> None:
        # one writer per bucket: AQE may coalesce an exchange without a
        # partition count to fewer tasks (to one, on the first wave of
        # bench's inc_keyed_state at 4 buckets)
        self._overwrite(
            self._fold(delta, self.path, touched, self._merge),
            self.path,
            self.n_buckets,
        )
        # post-write accounting over ONLY the touched bucket directories
        # (driver-side FS listing, O(touched)): these are exactly the
        # bytes this wave rewrote, and the worst per-bucket file count
        # shows when compaction is due
        files, nbytes, mx = partition_stats(
            delta.sparkSession, [f"{self.path}/{_BUCKET}={b}" for b in touched]
        )
        self.metrics.append(
            WaveMetrics(batch_id, len(touched), files, nbytes, mx)
        )

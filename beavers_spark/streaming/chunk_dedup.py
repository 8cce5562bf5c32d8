"""Incremental chunk-level exact dedup: every k-word segment of the
corpus is kept exactly once ACROSS BATCHES, and each arriving document
is reassembled from the segments it is first to contribute.

This is the streaming twin of ``functions.curation.chunk_dedup`` (same
segmentation, same hash scheme, same output schema) — the Lee et al.
substring-dedup step running at ingest: each micro-batch pays
O(batch + state-hash probe), and history is never re-segmented.

The ownership wave (redelivery guard, per-hash owner, registry probe,
per-wave commits) is ``hash_ownership.HashOwnershipKernel``'s. This
kernel segments with ``word_chunks`` + ``md5_hash64``, keeps the chunk
text in its registry rows, and emits the kept-document view
``(doc_id, clean_text, n_kept, n_chunks)``: each document reassembled,
in position order, from the chunks it owns. Parity with the batch
operator under ascending arrival is pinned by tests/test_chunk_dedup.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from beavers_spark.functions.curation import word_chunks
from beavers_spark.functions.dedup import md5_hash64
from beavers_spark.streaming.hash_ownership import HashOwnershipKernel


class IncrementalChunkDedup(HashOwnershipKernel):
    """``foreachBatch`` callable maintaining corpus-wide chunk ownership.

    ::

        dedup = IncrementalChunkDedup(state_path, out_path,
                                      text_col="text", id_col="doc_id")
        stream.writeStream.foreachBatch(dedup).start()

    ``read_kept(spark)`` returns every deduplicated document emitted so
    far; ``read_state(spark)`` the segment-hash ownership registry.
    """

    _owner = ("doc_id", "idx", "chunk", "n_chunks")
    _registry = ("h", "doc_id", "idx", "chunk", "n_chunks")
    _out_cols = (
        ("clean_text", "string"),
        ("n_kept", "bigint"),
        ("n_chunks", "bigint"),
    )

    def __init__(
        self,
        state_path: str,
        out_path: str,
        text_col: str,
        id_col: str,
        k: int = 10,
        bloom_bits: int | None = 1 << 23,
        bloom_min_waves: int = 0,
        n_hash_buckets: int = 16,
        compact_every_waves: int | None = 16,
    ) -> None:
        super().__init__(
            state_path, out_path, id_col, bloom_bits, bloom_min_waves,
            n_hash_buckets, compact_every_waves, layout={"k": k},
        )
        self.text_col = text_col
        self.k = k

    def read_kept(self, spark: SparkSession) -> DataFrame:
        """Deduplicated documents emitted so far (the wave column ``w``
        is a storage detail)."""
        return self._read_out(spark)

    def _segments(self, batch: DataFrame) -> DataFrame:
        chunks = word_chunks(F.col(self.text_col), self.k)
        return batch.select(
            F.col(self.id_col).alias("doc_id"),
            # bigint to match the batch twin's count()-derived column
            F.size(chunks).cast("bigint").alias("n_chunks"),
            F.posexplode(chunks).alias("idx", "chunk"),
        ).withColumn("h", md5_hash64(F.col("chunk")))

    def _output(self, segs: DataFrame, owned: DataFrame) -> DataFrame:
        return owned.groupBy("doc_id").agg(
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("idx", "chunk"))),
                    lambda s: s["chunk"],
                ),
                " ",
            ).alias("clean_text"),
            F.count("*").alias("n_kept"),
            F.first("n_chunks").alias("n_chunks"),
        )

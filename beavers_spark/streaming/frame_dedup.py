"""Incremental FRAME-level video dedup: every video frame's content is
kept exactly once ACROSS BATCHES — the streaming twin of the
``video_frame_dedup`` plan, and the multimodal instantiation of the
chunk-dedup ownership discipline: a continuous video ingest pays
O(batch frames + registry probe) per micro-batch, and history is never
re-decoded.

The ownership wave (redelivery guard, per-hash owner, registry probe,
per-wave commits) is ``hash_ownership.HashOwnershipKernel``'s. This
kernel extracts ONLY the new videos' frames (``avi_frames`` — one
Arrow-batched RIFF walk, map-side explode), keys each frame by its md5's
top 60 bits, and emits the kept-frame view
``(doc_id, frame_idx, n_bytes, frame_md5)``. Under ascending arrival the
result is IDENTICAL to the batch ``video_frame_dedup`` owners (pinned by
tests). At 100 TB of video the shuffle carries (doc, idx, key) rows —
frame BYTES never leave the decode stage.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from beavers_spark.functions.multimodal import avi_frames
from beavers_spark.streaming.hash_ownership import HashOwnershipKernel


class IncrementalFrameDedup(HashOwnershipKernel):
    """``foreachBatch`` callable maintaining corpus-wide frame
    ownership over AVI payload columns.

    ::

        dedup = IncrementalFrameDedup(state_path, out_path,
                                      payload_col="payload",
                                      id_col="doc_id")
        stream.writeStream.foreachBatch(dedup).start()

    ``read_kept(spark)`` returns every first-arrival (owned) frame so
    far; ``read_state(spark)`` the content-key ownership registry.
    """

    _owner = ("doc_id", "frame_idx", "n_bytes", "frame_md5")
    _registry = ("h", "doc_id", "frame_idx")
    _out_cols = (
        ("frame_idx", "int"),
        ("n_bytes", "bigint"),
        ("frame_md5", "string"),
    )
    _guard_out = False

    def __init__(
        self,
        state_path: str,
        out_path: str,
        payload_col: str = "payload",
        id_col: str = "doc_id",
        bloom_bits: int | None = 1 << 23,
        bloom_min_waves: int = 0,
        n_hash_buckets: int = 16,
        probe_cap: int | None = None,
        compact_every_waves: int | None = 16,
    ) -> None:
        super().__init__(
            state_path, out_path, id_col, bloom_bits, bloom_min_waves,
            n_hash_buckets, compact_every_waves, layout={},
            probe_cap=probe_cap,
        )
        self.payload_col = payload_col

    def read_kept(self, spark: SparkSession) -> DataFrame:
        """First-arrival (owned) frames emitted so far (the wave
        column ``w`` is a storage detail)."""
        return self._read_out(spark)

    def _segments(self, batch: DataFrame) -> DataFrame:
        frames = avi_frames(
            batch.select(F.col(self.id_col).alias("doc_id"), self.payload_col),
            self.payload_col,
        )
        # the content key is the md5's top 60 bits (the repo's
        # md5-derived hash convention, cross-engine checkable — conv on
        # 15 hex chars stays ANSI-safe within bigint)
        return frames.select(
            *self._owner,
            F.conv(F.substring("frame_md5", 1, 15), 16, 10)
            .cast("bigint")
            .alias("h"),
        )

    def _output(self, segs: DataFrame, owned: DataFrame) -> DataFrame:
        return owned.select("doc_id", *(c for c, _ in self._out_cols))

"""Incremental PERCEPTUAL frame near-dup: every new video's frames are
checked against the aHash band registry of ALL frames seen so far —
the streaming twin of the ``video_frame_neardup`` plan, and the
perceptual tier above ``IncrementalFrameDedup``'s exact content keys:
re-encoded or slightly-corrupted repeats share no md5, but their
mean-threshold aHash bitmaps sit within a few Hamming bits.

State is TWO tables, the ``IncrementalNearDedup`` architecture:

* the SIG table (``state_path``, waves ``w=<batch>/``): one row per
  frame ``(doc_id, frame_idx, n_bytes, ahash)``, always FULL — the
  redelivery guard and ``read_state`` read it, so a hot-bucket cap
  can never evict a document's existence (a capped-away doc would
  otherwise be re-admitted on redelivery and emit duplicate pairs);
* the BAND registry (``<state>_bands``, waves
  ``w=<batch>/b=<pmod(xxhash64(band key), N)>/``): the pigeonhole
  band rows future batches join against — the signature RIDES IN the
  band row (one bigint), so candidate verification never needs a
  second state lookup. In capped mode each wave keeps at most
  ``bucket_cap`` anchor rows per band key (every key present keeps
  >= 1 row, so Bloom bitmaps and bucket prunes stay exact).

Per batch:

1. decode ONLY the new videos' frames (``avi_frames`` — one
   Arrow-batched RIFF walk, map-side explode); the sig-wave write is
   the decode's one materialization barrier (band rows derive from
   the columnar read-back, never a second decode);
2. within-batch pairs come from the shared banded engine
   (``functions.dedup.hamming_pairs`` — the batch plan's code path,
   hot-bucket chain cap included) over the FULL batch sig;
3. cross-batch candidates: the batch's band rows equi-joined against
   the registry's — wave-Bloom-pruned (executor-side past
   ``probe_cap``), partition-pruned to the batch's touched ``b``
   buckets, column-pruned, NEVER shuffled corpus-wide;
4. the XOR-popcount verify makes every emitted pair exact
   (``hamming <= max_hamming``); pairs land as their own output wave
   — per-wave overwrite, so crash replays are idempotent (the dedup
   twins' shared contract).

A pair is emitted exactly once, in the batch its later member
arrives; under ascending arrival the union across waves is IDENTICAL
to the batch ``hamming_pairs`` over the accumulated corpus (pinned by
tests). At 100 TB: frame BYTES never leave the decode stage, the
per-batch shuffle is O(batch bands + candidates), and the registry
scan is bounded by bucket + wave-Bloom pruning with the anchor cap
bounding any mega-bucket's fan-in at O(cap x waves).

Reference parity: composes the reference's state-node semantics
(beavers dag.py:501-518) with its live-driver loop (kafka.py:534-544);
the reference has no media surface itself (README.md:43-50 scope).
"""

from __future__ import annotations

import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from beavers_spark.functions.multimodal import avi_frames
from beavers_spark.streaming.maintenance import (
    DocSeenGuard,
    ensure_layout,
    fanout_repartition,
    prune_hash_buckets,
    read_wave_local,
    seen_anti_join,
    table_exists,
    WaveBloomIndex,
)
from beavers_spark.streaming.wave_kernel import WaveKernel, WaveTable


def _wave_band_keys(spark: SparkSession, wave_dir: str) -> DataFrame:
    """Band-key hash column of one band-registry wave, for lazy Bloom
    backfill (WaveBloomIndex.keys_of contract)."""
    return spark.read.parquet(wave_dir).select("bh")


class IncrementalFrameNearDedup(WaveKernel):
    """``foreachBatch`` callable maintaining corpus-wide perceptual
    frame near-dup pairs over AVI payload columns.

    ::

        nd = IncrementalFrameNearDedup(state_path, pairs_path,
                                       payload_col="payload",
                                       id_col="doc_id")
        stream.writeStream.foreachBatch(nd).start()

    ``read_pairs(spark)`` returns every pair emitted so far
    (``doc1, frame1, doc2, frame2, hamming``); ``read_state(spark)``
    the per-frame signature table.
    """

    #: signature-scheme version recorded in the state's _layout.json:
    #: ANY change to how (frame_idx, n_bytes, ahash) are derived — the
    #: band key hashes all three — must bump the subclass's value, so
    #: restarting against pre-change state fails loudly (layout
    #: mismatch) instead of silently missing cross-wave duplicates
    #: (ADVICE r11: the audio kernel's n_bytes became the duration
    #: class without any recorded versioning)
    SIG_SCHEME = "avi-ahash-v1"

    def __init__(
        self,
        state_path: str,
        pairs_path: str,
        payload_col: str = "payload",
        id_col: str = "doc_id",
        bits: int = 64,
        max_hamming: int = 3,
        bucket_cap: int | None = None,
        bloom_bits: int | None = 1 << 23,
        bloom_min_waves: int = 0,
        n_hash_buckets: int = 16,
        probe_cap: int | None = None,
        compact_every_waves: int | None = 16,
    ) -> None:
        n_bands = max_hamming + 1
        if bits % n_bands:
            raise ValueError(
                f"bits ({bits}) must divide into max_hamming+1 "
                f"({n_bands}) equal bands for the pigeonhole guarantee"
            )
        if bucket_cap is not None and bucket_cap < 2:
            raise ValueError(
                f"bucket_cap must be >= 2 (a 1-cap chains every "
                f"bucket), got {bucket_cap}"
            )
        super().__init__(state_path, compact_every_waves)
        self.bands_path = state_path.rstrip("/") + "_bands"
        self.pairs_path = pairs_path
        self.payload_col = payload_col
        self.id_col = id_col
        self.bits = bits
        self.max_hamming = max_hamming
        #: hot-bucket bound: within-batch buckets chain
        #: (``hamming_pairs`` semantics) and each registry wave keeps
        #: at most ``bucket_cap`` anchor band rows per (band_id, bv,
        #: n_bytes) — oversized buckets cost pairwise recall inside
        #: the bucket only (identical-hash floods chain at hamming 0
        #: and lose nothing); None = exact all-collisions
        self.bucket_cap = bucket_cap
        #: bits per wave Bloom sidecar (None disables the probe filter)
        self.bloom_bits = bloom_bits
        #: hash-prefix sub-partitions per band wave (``b = pmod(bh, N)``)
        self.n_hash_buckets = n_hash_buckets
        bloom_kwargs = {} if probe_cap is None else {"probe_cap": probe_cap}
        #: rooted at the BAND registry: wave listing, sidecars and the
        #: prune decision all concern the table the cross join scans
        self._bloom = WaveBloomIndex(
            self.bands_path, bloom_bits, min_waves=bloom_min_waves,
            keys_of=_wave_band_keys, adaptive=True, **bloom_kwargs,
        )
        #: per-wave doc-id Bloom sidecars on the SIG table — the
        #: redelivery guard reads only Bloom-positive waves instead of
        #: the full corpus's doc_id column (maintenance.DocSeenGuard)
        self._doc_seen = DocSeenGuard(
            self.state_path, m_bits=bloom_bits,
            min_waves=bloom_min_waves, **bloom_kwargs,
        )

    def _wave_tables(self) -> list[WaveTable]:
        return [
            # forget sweeps the PAIRS with full table scans: a victim's
            # pair rows land in the PARTNER doc's wave (pairs are
            # emitted in the newer doc's batch), so no home-wave
            # sidecar can name them — two column-pruned probes (doc1 +
            # doc2), rewriting only waves that hold a victim. Pairs
            # tables are output-sized (hot-bucket-capped), not
            # corpus-sized, which keeps that sweep the cheapest
            WaveTable(self.pairs_path, forget_cols=("doc1", "doc2")),
            WaveTable(
                self.state_path,
                cluster_by=("doc_id",),
                merges=(self._doc_seen,),
                guard=self._doc_seen,
            ),
            # the SIG table's doc-id guard targets the bands sweep too
            # (ADVICE r12): a doc's band rows live in its home wave by
            # construction (bands derive from the same batch's sig
            # rows, and compaction coalesces both tables to w=-1
            # together), so bands waves are a subset of the sig waves
            # and the restriction cannot miss. Compaction clusters the
            # registry by its probe key (VERDICT r10 item 4): narrow
            # (band_id, bv) min/max per row group
            WaveTable(
                self.bands_path,
                partition_by=("w", "b"),
                cluster_by=("band_id", "bv"),
                merges=(self._bloom,),
                guard=self._doc_seen,
            ),
        ]

    # -- state access -----------------------------------------------------
    def read_state(self, spark: SparkSession) -> DataFrame:
        """Per-frame signature table
        ``(doc_id, frame_idx, n_bytes, ahash)`` — always full,
        regardless of ``bucket_cap`` (``w`` is a storage detail)."""
        return spark.read.parquet(self.state_path).select(
            "doc_id", "frame_idx", "n_bytes", "ahash"
        )

    def read_pairs(self, spark: SparkSession) -> DataFrame:
        """Near-dup frame pairs emitted so far (the wave column ``w``
        is a storage detail)."""
        return spark.read.parquet(self.pairs_path).select(
            "doc1", "frame1", "doc2", "frame2", "hamming"
        )

    def read_doc_pairs(
        self, spark: SparkSession, min_shared_frac: float = 0.5
    ) -> DataFrame:
        """DOC-level near-dup verdicts rolled up from the emitted
        frame pairs — the ``video_neardup_docs`` plan's semantics over
        the incremental state (a training pipeline dedups DOCUMENTS):
        per cross-doc pair, the DISTINCT matched frames on each side;
        near-dup when either side's coverage reaches
        ``min_shared_frac`` (the max makes a short clip contained in a
        longer video a near-dup of it). Frame counts come from the sig
        table (one row per frame — always full, so the denominator is
        exact even in capped mode). For the audio/image subclasses
        every doc has one signature row, so any emitted pair is a doc
        verdict at full coverage. Read-time derivation: the rolled-up
        result is a pure function of the accumulated pair/sig SETS, so
        it needs no extra state or replay contract."""
        from beavers_spark.functions.multimodal import frame_doc_rollup

        pairs = self.read_pairs(spark).select(
            "doc1",
            F.col("frame1").alias("f1"),
            "doc2",
            F.col("frame2").alias("f2"),
        )
        nf = self.read_state(spark).groupBy("doc_id").agg(
            F.count(F.lit(1)).alias("nf")
        )
        return frame_doc_rollup(pairs, nf, min_shared_frac)

    # -- banding ----------------------------------------------------------
    def _band_rows(self, sig: DataFrame) -> DataFrame:
        """Band expansion of a signature frame — band key hash ``bh``
        = xxhash64(band_id, bv, n_bytes) (a hash output: the Bloom
        scheme's key-quality contract), bucket ``b = pmod(bh, N)``.
        In capped mode keeps the first-``bucket_cap`` anchors per band
        key, ranked by (doc, frame) — deterministic under retries;
        every key present keeps >= 1 row, so the wave's distinct key
        set (what the bitmap and bucket prune need) is intact."""
        n_bands = self.max_hamming + 1
        w = self.bits // n_bands
        mask = (1 << w) - 1
        bands = sig.select(
            "doc_id",
            "frame_idx",
            "n_bytes",
            "ahash",
            F.explode(
                F.array(
                    *(
                        F.struct(
                            F.lit(i).alias("band_id"),
                            F.shiftright(F.col("ahash"), i * w)
                            .bitwiseAND(F.lit(mask))
                            .alias("bv"),
                        )
                        for i in range(n_bands)
                    )
                )
            ).alias("band"),
        ).select(
            "doc_id", "frame_idx", "n_bytes", "ahash",
            "band.band_id", "band.bv",
        )
        if self.bucket_cap is not None:
            from pyspark.sql import Window

            win = Window.partitionBy(
                "band_id", "bv", "n_bytes"
            ).orderBy("doc_id", "frame_idx")
            bands = (
                bands.withColumn("__rn", F.row_number().over(win))
                .filter(F.col("__rn") <= self.bucket_cap)
                .drop("__rn")
            )
        return bands.withColumn(
            "bh", F.xxhash64("band_id", "bv", "n_bytes")
        ).withColumn("b", F.pmod(F.col("bh"), F.lit(self.n_hash_buckets)))

    # -- the kernel -------------------------------------------------------
    def _empty_pairs_wave(self, batch, batch_id: int) -> None:
        """Keep read_pairs valid from batch 0; doc types come from the
        BATCH (the chunk_dedup lesson: a hardcoded long would break
        string-keyed corpora)."""
        batch.select(
            F.col(self.id_col).alias("doc1"),
            F.lit(None).cast("int").alias("frame1"),
            F.col(self.id_col).alias("doc2"),
            F.lit(None).cast("int").alias("frame2"),
            F.lit(None).cast("int").alias("hamming"),
        ).limit(0).write.mode("overwrite").parquet(
            f"{self.pairs_path}/w={batch_id}"
        )

    def _decode_sig(self, batch: DataFrame) -> DataFrame:
        """Batch payloads -> one signature row per comparable unit:
        ``(doc_id, frame_idx, n_bytes, ahash)``. The ONLY
        modality-specific step in the kernel — everything downstream
        (wave write, band registry, Bloom probe, capped cross join,
        compaction) operates on this schema alone, so subclasses swap
        the decode to reuse the whole incremental machinery (see
        ``IncrementalAudioNearDedup``)."""
        sig = avi_frames(
            batch.select(
                F.col(self.id_col).alias("doc_id"), self.payload_col
            ),
            self.payload_col,
        )
        return sig.select("doc_id", "frame_idx", "n_bytes", "ahash")

    def _apply(self, batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        batch = batch_df
        ensure_layout(
            self.state_path,
            bits=self.bits,
            max_hamming=self.max_hamming,
            n_hash_buckets=self.n_hash_buckets,
            bucket_cap=self.bucket_cap,
            sig_scheme=self.SIG_SCHEME,
        )
        had_state = self._state_exists(spark)
        if had_state:
            # redelivered videos would re-pair against their own
            # earlier frames; the probe reads the SIG table's doc_id
            # column (a band-registry read here would re-admit any doc
            # whose band rows were all cap-evicted), restricted by the
            # per-wave doc-id Bloom sidecars to waves that may contain
            # a batch id — a disjoint batch scans NO prior bytes
            # (VERDICT r10 item 2); excludes this wave's own
            # half-committed directory
            with self._phase("seen_probe"):
                seen = self._doc_seen.pruned_seen(
                    spark, batch, batch_id, self.id_col
                )
            if seen is not None:
                batch = seen_anti_join(batch, seen, self.id_col)

        # spread a NARROW batch before the decode fan-out; conditional
        # so a well-partitioned batch skips the payload exchange
        batch = fanout_repartition(batch, probe=batch_df)
        sig = self._decode_sig(batch)

        # the sig-wave write is the decode's ONE materialization
        # barrier: band rows, the within-batch join and the bitmap all
        # derive from the columnar read-back, never a second decode
        sig_dir = f"{self.state_path}/w={batch_id}"
        with self._phase("state_write"):
            # REBALANCE: AQE sizes the exchange, so a SMALL sig wave
            # lands as ONE file in the same job (the post-write shrink
            # rewrite this replaces cost an extra read+write per wave —
            # the e34214a registry lesson; the payload decode stays
            # map-side, upstream of the exchange, and only the narrow
            # sig rows ride it) while a big wave gets as many
            # size-split partitions as its bytes need
            sig.hint("rebalance").write.mode("overwrite").parquet(
                sig_dir
            )
        self._record_wave(spark, batch_id, sig_dir)
        got = read_wave_local(sig_dir, catch=OSError)
        if got is None:
            # non-listable root: schema-pinned count (never inference
            # — an all-empty wave has no footer to infer from)
            rows = (
                spark.read.schema(sig.schema).parquet(sig_dir).count()
            )
        else:
            rows = got[0]
        if rows == 0:
            # fully-redelivered or undecodable batch: an empty sig
            # wave holds no schema-bearing file and would wedge every
            # later read of the table — remove it, keep the output
            # valid with an empty pairs wave, no registry wave
            # (mirrors IncrementalFrameDedup's empty path)
            shutil.rmtree(sig_dir, ignore_errors=True)
            self._empty_pairs_wave(batch, batch_id)
            self._watermark.mark(batch_id)
            return
        self._has_state = True
        new_sig = spark.read.parquet(sig_dir)
        # the wave's doc-id bitmap, from the committed read-back (one
        # column scan) — what future batches' seen probes test against
        with self._phase("seen_sidecar"):
            self._doc_seen.save_wave(spark, sig_dir, batch_id)

        band_dir = f"{self.bands_path}/w={batch_id}"
        with self._phase("band_write"):
            (
                self._band_rows(new_sig)
                .repartition(self.n_hash_buckets, F.col("b"))
                .write.mode("overwrite")
                .partitionBy("b")
                .parquet(band_dir)
            )
        # nonempty by construction (every frame keeps >= 1 band row,
        # capped or not), so the read-back always has a schema
        new_bands = spark.read.parquet(band_dir)
        self._finish_wave(spark, batch_id, had_state, new_sig, new_bands)

    def _finish_wave(
        self, spark, batch_id: int, had_state: bool, new_sig, new_bands
    ) -> None:
        from beavers_spark.functions.dedup import hamming_pairs

        band_dir = f"{self.bands_path}/w={batch_id}"
        pre_h = None
        overcap = False
        probe_on = self._bloom.probe_active(exclude=batch_id)
        with self._phase("bloom_fold"):
            if probe_on:
                pre_h = self._bloom.collect_keys(
                    new_bands.select("bh"), "bh"
                )
            overcap = probe_on and pre_h is None
            if overcap:
                self._bloom.overcap_fallbacks += 1
            if pre_h is not None:
                self._bloom.save_wave(band_dir, pre_h)
            elif self.bloom_bits:
                # executor-side bitmap over the written wave (never a
                # driver collect past probe_cap)
                self._bloom.save_wave_distributed(
                    band_dir, new_bands.select("bh"), "bh"
                )

        # within-batch pairs: the SAME banded engine as the batch plan
        # (chain cap included) over the FULL batch sig; composite
        # frame key as a struct — Spark orders structs
        # lexicographically, which is exactly the (doc, frame)
        # canonical order the output wants
        fk_sig = new_sig.select(
            F.struct("doc_id", "frame_idx").alias("fk"),
            "ahash",
            "n_bytes",
        )
        within = hamming_pairs(
            fk_sig, "fk", "ahash", self.bits, self.max_hamming,
            bucket_cap=self.bucket_cap, group_cols=("n_bytes",),
        ).select(
            F.col("fk1.doc_id").alias("doc1"),
            F.col("fk1.frame_idx").alias("frame1"),
            F.col("fk2.doc_id").alias("doc2"),
            F.col("fk2.frame_idx").alias("frame2"),
            "hamming",
        )
        pairs = within

        if had_state and table_exists(spark, self.bands_path):
            prior = spark.read.parquet(self.bands_path).filter(
                F.col("w") != batch_id
            )
            prior = self._bloom.prune_prior(
                prior, pre_h, batch_id, self.probe_metrics, spark,
                keys_df=new_bands.select("bh") if overcap else None,
                key_col="bh",
            )
            if prior is not None and pre_h is not None:
                prior = prune_hash_buckets(
                    prior, pre_h, self.n_hash_buckets
                )
            if prior is not None:
                o, n = prior.alias("o"), new_bands.alias("n")
                ok = F.struct(
                    F.col("o.doc_id").alias("doc_id"),
                    F.col("o.frame_idx").alias("frame_idx"),
                )
                nk = F.struct(
                    F.col("n.doc_id").alias("doc_id"),
                    F.col("n.frame_idx").alias("frame_idx"),
                )
                cross = (
                    o.join(
                        n,
                        (F.col("o.band_id") == F.col("n.band_id"))
                        & (F.col("o.bv") == F.col("n.bv"))
                        & (F.col("o.n_bytes") == F.col("n.n_bytes"))
                        & (ok != nk),
                    )
                    .select(
                        F.least(ok, nk).alias("k1"),
                        F.greatest(ok, nk).alias("k2"),
                        F.bit_count(
                            F.col("o.ahash").bitwiseXOR(F.col("n.ahash"))
                        ).alias("hamming"),
                    )
                    .filter(F.col("hamming") <= self.max_hamming)
                    .select(
                        F.col("k1.doc_id").alias("doc1"),
                        F.col("k1.frame_idx").alias("frame1"),
                        F.col("k2.doc_id").alias("doc2"),
                        F.col("k2.frame_idx").alias("frame2"),
                        "hamming",
                    )
                )
                pairs = pairs.unionByName(cross)

        with self._phase("pairs_write"):
            pairs.distinct().write.mode("overwrite").parquet(
                f"{self.pairs_path}/w={batch_id}"
            )
        self._watermark.mark(batch_id)


class IncrementalAudioNearDedup(IncrementalFrameNearDedup):
    """``foreachBatch`` callable maintaining corpus-wide perceptual
    AUDIO near-dup pairs over WAV payload columns — the audio
    instantiation of the frame kernel: ``_decode_sig`` swaps the RIFF
    frame walk for the ``wav_segment_stats`` decode +
    ``wav_envelope_fingerprint`` fold (one Arrow-batched pass per
    track, then pure Column math), and every other stage — wave-
    partitioned band registry, Bloom-pruned broadcast probe with the
    executor-side over-cap path, hot-bucket chain cap, auto-compaction
    — is inherited untouched.

    One signature row per TRACK: ``frame_idx`` is always 0 and
    ``n_bytes`` carries the DURATION CLASS ``least(nseg, bits)`` —
    tracks with >= ``bits`` segments keep every fingerprint bit live
    via the modulo fold and all land in one cross-duration-comparable
    class, while a SHORT track's upper bits are zero by construction,
    so two short tracks of different durations would spuriously
    band-match on their shared zero bits if not separated (ADVICE
    r10); the class pins short tracks to exact segment counts.
    ``read_pairs(spark)`` yields ``(doc1, 0, doc2, 0, hamming)`` —
    one row per near-dup track pair.

    ``seg_samples`` is the envelope resolution (samples per segment;
    None = the file's sample rate, one-second windows). ``codec``
    (None | "ulaw" | "adpcm" | "auto") transparently TRANSCODES
    compressed payloads to PCM16 before the segment decode
    (``wav_transcode``) — a mixed-codec corpus dedups against itself,
    and a compressed re-encode of a PCM track fingerprints identically
    to its original (same samples -> same envelope). The codec rides
    the signature scheme recorded in ``_layout.json``: restarting a
    state table under a different transcode posture fails loudly."""

    #: v2 = n_bytes carries least(nseg, bits), the r11 duration-class
    #: change; v1 state (constant 0) band-keys differently and must
    #: fail loudly at open (layout mismatch), not silently stop
    #: matching old waves
    SIG_SCHEME = "wav-envelope-v2"

    def __init__(
        self,
        *args,
        seg_samples: int | None = None,
        codec: str | None = None,
        **kwargs,
    ):
        super().__init__(*args, **kwargs)
        self.seg_samples = seg_samples
        self.codec = codec
        if codec is not None:
            # instance attribute shadows the class constant: the
            # transcode posture changes what the stored envelope MEANS
            self.SIG_SCHEME = f"wav-envelope-v2+{codec}"

    def _decode_sig(self, batch: DataFrame) -> DataFrame:
        from beavers_spark.functions.multimodal import (
            wav_envelope_fingerprint,
            wav_segment_stats,
            wav_transcode,
        )

        wavs = batch.select(
            F.col(self.id_col).alias("doc_id"), self.payload_col
        )
        pay = self.payload_col
        if self.codec is not None:
            wavs = wav_transcode(wavs, pay, codec=self.codec).drop(pay)
            pay = "pcm"
        segs = wav_segment_stats(
            wavs, pay, seg_samples=self.seg_samples
        )
        return wav_envelope_fingerprint(segs, bits=self.bits).select(
            "doc_id",
            F.lit(0).cast("int").alias("frame_idx"),
            F.least(F.col("nseg"), F.lit(self.bits))
            .cast("bigint")
            .alias("n_bytes"),
            F.col("afp").alias("ahash"),
        )


class IncrementalImageNearDedup(IncrementalFrameNearDedup):
    """``foreachBatch`` callable maintaining corpus-wide perceptual
    IMAGE near-dup pairs over P6 PPM payload columns — the third
    modality on the same kernel: ``_decode_sig`` swaps the RIFF frame
    walk for ``ppm_ahash`` (one Arrow-batched sampled-aHash pass per
    image), and the wave registry / Bloom probe / hot-bucket cap /
    auto-compaction stages are inherited untouched.

    One signature row per IMAGE: ``frame_idx`` is always 0 and
    ``n_bytes`` a constant class (all 64 aHash bits are live for any
    image with >= 64 pixels — the strided sampling's cross-size
    comparison property — so no length grouping is wanted).
    Non-P6 payloads hash NULL and are dropped (filter-then-decode);
    ``read_pairs(spark)`` yields ``(doc1, 0, doc2, 0, hamming)``.

    DOC-level rollup (VERDICT r11 item 7): in the corpus model one
    image IS one document (one payload column per ``documents`` row),
    so the inherited ``read_doc_pairs`` is already the doc verdict —
    every doc has exactly one signature row, any pair covers 1/1
    frames, and the rollup passes it through at full coverage for any
    ``min_shared_frac`` (pinned by tests/test_forget.py's image case
    and test_frame_neardup_incremental's rollup test). A corpus that
    attaches MULTIPLE images to one document would instead ingest
    ``(doc_id, image_idx)`` rows through the video kernel's path —
    the rollup math is shared (functions.multimodal.frame_doc_rollup),
    not re-derived here."""

    SIG_SCHEME = "ppm-ahash-v1"

    def _decode_sig(self, batch: DataFrame) -> DataFrame:
        from beavers_spark.functions.multimodal import ppm_ahash

        imgs = batch.select(
            F.col(self.id_col).alias("doc_id"), self.payload_col
        )
        return (
            ppm_ahash(imgs, self.payload_col)
            .filter(F.col("ahash").isNotNull())
            .select(
                "doc_id",
                F.lit(0).cast("int").alias("frame_idx"),
                F.lit(0).cast("bigint").alias("n_bytes"),
                "ahash",
            )
        )

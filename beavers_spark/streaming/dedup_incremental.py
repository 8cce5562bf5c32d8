"""Incremental near-duplicate detection: new documents are deduplicated
against the ENTIRE corpus seen so far, without ever re-shingling history.

This is the streaming twin of ``functions.dedup.minhash_lsh_pairs`` (same
signature scheme, same banding, same exact-Jaccard verification, same
output schema) and the pattern a continuous training-data ingest pipeline
needs: each micro-batch pays O(batch + candidates), not O(corpus).

Per batch:

1. shingle + MinHash ONLY the new documents;
2. candidate pairs = new-vs-new band collisions (within the batch) plus
   new-vs-registry band collisions — the registry is a PERSISTENT
   band table (one wave per batch, hash-prefix-partitioned by
   ``b = pmod(xxhash64(band key), n_hash_buckets)`` like the
   substring/chunk registries), so history is never re-banded and the
   probe scans only Bloom-kept waves × touched bucket directories;
3. verify candidates with exact Jaccard over stored shingle sets, emit
   pairs with ``jaccard >= threshold``;
4. the new documents' state rows (shingle set + signature) land in the
   state table as their own wave partition — written FIRST, so the write
   is the batch's one materialization barrier (steps 2-3 read the
   columnar result back instead of re-hashing, with no persist()/count()
   job and no trailing append job); the wave's band rows follow into
   the band registry, and that write doubles as the Bloom build: the
   batch's band-key hashes are read back COLUMNAR AND DRIVER-LOCAL
   from the just-written wave (pyarrow over the ``bh`` column — no
   separate Spark collect job per wave); past ``probe_cap`` keys the
   bitmap build and probe decision move EXECUTOR-SIDE instead
   (``bloom_build_distributed`` / ``live_waves_df`` — bounded by the
   bitmap size, so the prune never disables itself at scale).

A pair is emitted exactly once, in the batch its later member arrives —
old-old pairs were emitted in earlier batches, and state rows are
append-only, so no pair can repeat.

State is one parquet table ``(doc_id, sh, n_sh, mh0..mhN)``
hive-partitioned by wave (``w=<batch_id>/``); overwriting one wave
directory is idempotent under replays. The band join reads only the
``doc_id`` + signature columns (parquet column pruning skips the heavy
shingle arrays); the verify join touches shingle arrays only for
candidate doc ids, fetched via a broadcast semi-join. At 100 TB:
compact old waves periodically (coarsen ``w`` buckets); the per-batch
cost is unchanged because history is never re-hashed.

Reference parity: this composes the reference's state-node semantics
(beavers dag.py:501-518 — durable value folded per cycle) with its
replay/live driver loop (kafka.py:534-544); the reference has no
near-dedup surface itself (README.md:43-50 scope).
"""

from __future__ import annotations

import os
import time

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from beavers_spark.functions.dedup import (
    NUM_HASHES,
    ROWS_PER_BAND,
    _signatures_from_sets,
    band_rows,
    shingle_sets,
)
from beavers_spark.streaming.maintenance import (
    DocSeenGuard,
    ProbeMetrics,
    WaveBloomIndex,
    ensure_layout,
    read_known,
    read_wave_local,
    seen_anti_join,
    table_exists,
)
from beavers_spark.streaming.wave_kernel import WaveKernel, WaveTable

_SIG_COLS = ["doc_id"] + [f"mh{i}" for i in range(NUM_HASHES)]
_BAND_KEYS = ["band_id"] + [f"h{r}" for r in range(ROWS_PER_BAND)]


def _wave_band_keys(spark: SparkSession, wave_dir: str) -> DataFrame:
    """Band-key hash column of one state wave, for lazy Bloom backfill
    of waves written while the sidecar machinery was gated off (see
    ``WaveBloomIndex.min_waves``). Prefers the band registry's stored
    ``bh`` column (no re-banding); falls back to expanding the wave's
    signatures for registries written before the band table existed."""
    head, _, base = wave_dir.rpartition("/")
    band_dir = head.rstrip("/") + "_anchors/" + base
    if table_exists(spark, band_dir):
        return spark.read.parquet(band_dir).select("bh")
    return band_rows(
        spark.read.parquet(wave_dir).select(*_SIG_COLS)
    ).select(F.xxhash64(*_BAND_KEYS).alias("bh"))
_EXPRS: dict[str, "F.Column"] = {}
_EXPRS_CTX: list = [None]


def _exprs() -> dict:
    """The join/verify expressions, built once per SparkContext.

    They are identical every micro-batch (they reference alias names, not
    a specific DataFrame), and building them costs hundreds of py4j
    round-trips — measured ~0.7s of driver time per wave when constructed
    inline. Lazy because Column construction needs the JVM gateway up;
    rebuilt whenever the active SparkContext changes, since cached
    Columns wrap py4j handles into a specific gateway and stale handles
    fail opaquely after a session restart.
    """
    from pyspark import SparkContext

    # object identity, not id() (see dedup._cached_cols)
    ctx = SparkContext._active_spark_context
    if ctx is not _EXPRS_CTX[0]:
        _EXPRS.clear()
        _EXPRS_CTX[0] = ctx
    if _EXPRS:
        return _EXPRS

    def conj(first, left, right):
        cond = first
        for k in _BAND_KEYS:
            cond = cond & (F.col(f"{left}.{k}") == F.col(f"{right}.{k}"))
        return cond

    agree = sum(
        F.when(F.col(f"sa.mh{i}") == F.col(f"sb.mh{i}"), 1).otherwise(0)
        for i in range(NUM_HASHES)
    )
    n_common = F.size(F.array_intersect(F.col("sa.sh"), F.col("sb.sh")))
    _EXPRS.update(
        within_cond=conj(F.col("a.doc_id") < F.col("b.doc_id"), "a", "b"),
        cross_cond=conj(F.col("o.doc_id") != F.col("n.doc_id"), "o", "n"),
        est_jaccard=F.round(agree / F.lit(float(NUM_HASHES)), 6).alias(
            "est_jaccard"
        ),
        jaccard=F.round(
            n_common / (F.col("sa.n_sh") + F.col("sb.n_sh") - n_common), 6
        ).alias("jaccard"),
    )
    return _EXPRS


class IncrementalNearDedup(WaveKernel):
    """``foreachBatch`` callable maintaining corpus-wide near-dup pairs.

    ::

        dedup = IncrementalNearDedup(state_path, pairs_path,
                                     text_col="text", id_col="doc_id")
        stream.writeStream.foreachBatch(dedup).start()

    ``read_pairs(spark)`` returns every pair emitted so far;
    ``read_state(spark)`` the per-document signature/shingle state.
    """

    def __init__(
        self,
        state_path: str,
        pairs_path: str,
        text_col: str,
        id_col: str,
        n: int = 3,
        threshold: float = 0.5,
        bloom_bits: int | None = 1 << 23,
        bloom_min_waves: int = 0,
        bucket_cap: int | None = None,
        n_hash_buckets: int = 16,
        compact_every_waves: int | None = 16,
    ) -> None:
        super().__init__(state_path, compact_every_waves)
        self.pairs_path = pairs_path
        self.text_col = text_col
        self.id_col = id_col
        self.n = n
        self.threshold = threshold
        #: bits per wave band-key Bloom sidecar (None disables)
        self.bloom_bits = bloom_bits
        #: hot-bucket bound for the cross-batch band join (None = exact
        #: all-collisions). Every kernel persists a per-wave BAND
        #: registry in the parallel ``<state>_anchors`` table (doc_id +
        #: band key columns + their xxhash64 ``bh``, hash-prefix-
        #: partitioned by ``b = pmod(bh, n_hash_buckets)``), and later
        #: batches band-join against it instead of re-expanding the
        #: full state's bands each batch. With a cap, each wave keeps
        #: at most ``bucket_cap`` ANCHOR docs per band key (first by
        #: doc_id — deterministic). Per-batch join fan-out per hot key
        #: drops from O(corpus-bucket) to O(cap x live_waves) while
        #: every bucket member stays reachable for clustering: a doc
        #: links to its wave's anchors via the (batch-bounded)
        #: within-batch join, and each wave's anchors linked to prior
        #: anchors when they arrived. Same recall caveat as the batch
        #: ``minhash_lsh_pairs(bucket_cap=)``: a sub-threshold anchor
        #: pair can split a cluster all-pairs would have joined;
        #: identical-text mega-buckets (the case the cap exists for)
        #: verify at jaccard 1.0 and lose nothing. Must be set from the
        #: table's first wave (or after ``rebuild_anchors``) — the
        #: kernel refuses to run capped against a state table with
        #: waves that have no anchors.
        self.bucket_cap = bucket_cap
        #: band-registry bucket-directory count: ``b = pmod(bh, N)`` is
        #: PERSISTED in wave layouts, so N is immutable for the life of
        #: the table (guarded by the ``_layout.json`` sidecar — a
        #: mismatched modulus would prune away matching buckets)
        self.n_hash_buckets = n_hash_buckets
        self.anchors_path = state_path.rstrip("/") + "_anchors"
        #: the band registry's schema, once read (maintenance.read_known)
        self._known: dict = {}
        self._anchors_checked = False
        self._layout_checked = False
        self._bloom = WaveBloomIndex(
            state_path, bloom_bits, min_waves=bloom_min_waves,
            keys_of=_wave_band_keys, adaptive=True,
        )
        #: per-wave doc-id Bloom sidecars on the sig table — the
        #: redelivery guard reads only Bloom-positive waves instead of
        #: the full corpus's doc_id column (maintenance.DocSeenGuard)
        self._doc_seen = DocSeenGuard(
            state_path, m_bits=bloom_bits, min_waves=bloom_min_waves,
        )
        # phase_seconds keys beyond call_total: parity_check,
        # seen_probe, state_write, seen_sidecar, state_count,
        # band_write, bloom_fold, probe_decide, plan_build, pairs_write,
        # record_wave

    def _wave_tables(self) -> list[WaveTable]:
        return [
            WaveTable(self.pairs_path, forget_cols=("doc1", "doc2")),
            # clustered by doc_id (VERDICT r10 item 4): the candidate
            # lookup and the doc-seen guard both probe this table by
            # id, and narrow per-row-group id min/max lets pushable id
            # predicates skip the fat shingle-set column's row groups
            WaveTable(
                self.state_path,
                cluster_by=("doc_id",),
                merges=(self._doc_seen, self._bloom),
                guard=self._doc_seen,
            ),
            # the band registry is RE-DERIVED from the state, never
            # compacted or swept (compact / _after_forget rebuild it)
            WaveTable(self.anchors_path, partition_by=None, forget_cols=()),
        ]

    # -- anchor maintenance (bucket_cap mode) -----------------------------
    def _anchor_wave(self, bands: DataFrame) -> DataFrame:
        """First-``bucket_cap`` docs per band key of one wave's band
        rows — a batch-local window shuffle keyed on the band key."""
        wv = Window.partitionBy(*_BAND_KEYS).orderBy("doc_id")
        return (
            bands.withColumn("__rn", F.row_number().over(wv))
            .filter(F.col("__rn") <= self.bucket_cap)
            .drop("__rn")
        )

    def _check_anchor_parity(
        self, spark: SparkSession, batch_id: int
    ) -> None:
        """State waves with no band-registry wave (pre-band-table
        state, anchors lost, or a crash mid-``rebuild_anchors`` — its
        rmtree-then-rewrite has no swap protection) would silently skip
        their collisions — a wrong answer, not a slow one. The anchors
        are a pure function of the stored state, so instead of wedging
        the stream on an error until a manual call (ADVICE r8), the
        kernel REBUILDS them here: one band expansion per state wave,
        deterministic, idempotent. Two driver directory listings, first
        batch with prior state only (an EMPTY band wave leaves its
        ``w=`` directory with a ``_SUCCESS`` marker and no data files,
        so listings — not parquet reads — are the 1:1 evidence). The
        current batch's wave is excluded: on a crash replay its state
        dir may exist with the band write still pending (the kernel
        re-writes both)."""
        if self._anchors_checked:
            return
        state_waves = set(self._bloom.wave_ids(exclude=batch_id))
        anchor_waves: set[int] = set()
        if os.path.isdir(self.anchors_path):
            for name in os.listdir(self.anchors_path):
                if name.startswith("w="):
                    try:
                        anchor_waves.add(int(name[2:]))
                    except ValueError:
                        continue
        missing = state_waves - anchor_waves
        if missing:
            self.rebuild_anchors(spark)
        self._anchors_checked = True

    def rebuild_anchors(self, spark: SparkSession) -> None:
        """Derive the band registry for every existing state wave (one
        band expansion — plus the anchor rank, when capped — per wave).
        For migrating a pre-band-table state, changing ``bucket_cap``,
        and called by ``compact()`` to re-band the coalesced wave. The
        rebuilt table gets a fresh ``_layout.json`` recording THIS
        kernel's knobs."""
        import shutil

        shutil.rmtree(self.anchors_path, ignore_errors=True)
        self._layout_checked = False
        self._ensure_band_layout()
        for w in self._bloom.wave_ids():
            wave_dir = f"{self.state_path}/w={w}"
            if not table_exists(spark, wave_dir):
                continue
            bands = band_rows(
                spark.read.parquet(wave_dir).select(*_SIG_COLS)
            )
            self._write_band_wave(bands, f"{self.anchors_path}/w={w}")
        self._anchors_checked = False

    def _ensure_band_layout(self) -> None:
        """First-write records / later opens validate the band
        registry's immutable layout knobs (``_layout.json`` sidecar —
        see maintenance.ensure_layout): a restart with a different
        bucket modulus would partition-prune away matching band rows
        (missed duplicates), and a different ``bucket_cap`` would mix
        anchor semantics across waves. Changing either requires
        ``rebuild_anchors``."""
        if self._layout_checked:
            return
        try:
            ensure_layout(
                self.anchors_path,
                n=self.n,
                n_hash_buckets=self.n_hash_buckets,
                bucket_cap=self.bucket_cap,
            )
        except ValueError as e:
            if "_layout.json" in str(e):
                # a sidecar-less anchors table predates the band
                # registry entirely (round-5 capped deployments): its
                # waves lack the bh/b columns, so ensure_layout's
                # generic "write the sidecar by hand" advice would pass
                # validation and then crash the probe on the missing b
                # column. The cure here is a rebuild.
                raise ValueError(
                    f"anchors table at {self.anchors_path} predates the "
                    "band registry (no _layout.json; waves lack the "
                    "bh/b layout) — call rebuild_anchors(spark) once to "
                    "re-derive it from the stored signatures"
                ) from e
            raise
        self._layout_checked = True

    def _write_band_wave(self, bands: DataFrame, band_dir: str) -> None:
        """One band-registry wave: ``(doc_id, band key cols, bh)``
        hash-prefix-partitioned by ``b = pmod(bh, n_hash_buckets)`` —
        the substring/chunk registries' layout, so the cross-batch
        probe prunes untouched bucket directories. In capped mode only
        the first-``bucket_cap`` anchors per band key are kept; any key
        present in the wave keeps >= 1 row, so the wave's DISTINCT key
        set (what the Bloom bitmap and partition prune need) is intact.
        Repartition on b first so each bucket directory gets one file
        instead of one per task."""
        if self.bucket_cap is not None:
            bands = self._anchor_wave(bands)
        (
            bands.withColumn("bh", F.xxhash64(*_BAND_KEYS))
            .withColumn(
                "b", F.pmod(F.col("bh"), F.lit(self.n_hash_buckets))
            )
            .repartition(self.n_hash_buckets, F.col("b"))
            # clustered by the probe key (VERDICT r10 item 4): one
            # already-bucketed task per directory, so the sort is
            # wave-local and each file's row groups carry narrow
            # band-key min/max — this is also how compact() keeps the
            # COALESCED registry clustered (rebuild_anchors re-bands
            # the w=-1 wave through this writer)
            .sortWithinPartitions("b", *_BAND_KEYS)
            .write.mode("overwrite")
            .partitionBy("b")
            .parquet(band_dir)
        )

    def _band_keys(self, spark: SparkSession, band_dir: str):
        """The wave's unique band-key hashes — the Bloom-build + probe
        keys — read COLUMNAR AND DRIVER-LOCAL from the just-written band
        wave (the 8-byte ``bh`` column), without the extra Spark job the
        old per-wave ``collect_keys`` paid; the Spark collect stays as
        the fallback for a wave that is not driver-readable. Returns
        None past the index's ``probe_cap`` — the caller then hands off
        to the EXECUTOR-SIDE build + probe (``save_wave_distributed`` /
        ``live_waves_df``), so pruning stays on at any key count."""
        import numpy as np

        got = read_wave_local(band_dir, "bh", self._bloom.probe_cap)
        if got is None:
            return self._bloom.collect_keys(
                spark.read.parquet(band_dir).select("bh"), "bh"
            )
        rows, bh = got
        if rows > self._bloom.probe_cap:
            return None
        if bh is None:  # empty wave: nothing to probe, zero bitmap
            return np.array([], dtype=np.int64)
        return np.unique(bh.to_numpy(zero_copy_only=False))

    def registry_probe(
        self,
        spark: SparkSession,
        batch_id: int,
        kept: list | None,
        band_dir: str,
    ) -> DataFrame:
        """The pruned band-registry scan the cross probe joins — the
        persisted registry is already band-exploded (history is never
        re-banded) and bounded to ``bucket_cap`` rows per band key per
        wave when capped (a hot key meets O(cap x live_waves) rows,
        never the corpus bucket). Scan pruning, cheapest first:
        Bloom-rejected waves (``kept``), then untouched hash-prefix
        bucket directories (``b = pmod(bh, N)`` partition pruning — the
        substring/chunk registries' probe shape), then column pruning
        to the doc_id + band key columns. Exposed as a method so the
        plan audit pins the pruning as PartitionFilters on the scan
        (tools/audit_plans.py) — a regression to a full-registry scan
        fails the audit, not just the bench."""
        ob = read_known(spark, self.anchors_path, self._known).filter(
            F.col("w") != batch_id
        )
        if kept is not None:
            ob = ob.filter(F.col("w").isin(kept))
        # bucket pruning from the wave's own partition LISTING
        # (free — no job, no collect), so it engages even while the
        # Bloom machinery is gated by min_waves: a bucket directory
        # this batch didn't touch cannot contain a colliding band
        touched_b = [
            int(name[2:])
            for name in os.listdir(band_dir)
            if name.startswith("b=")
        ]
        if len(touched_b) < self.n_hash_buckets:
            ob = ob.filter(F.col("b").isin(touched_b))
        return ob.select("doc_id", *_BAND_KEYS)

    def _prior_band_waves_empty(
        self, batch_id: int, kept: list | None
    ) -> bool:
        """True when no prior (kept) band wave holds any ``b=`` bucket
        directory — i.e. every earlier batch produced zero band rows
        (zero-shingle documents leave a state wave but an empty band
        wave). In that case ``spark.read.parquet(anchors_path)`` has no
        schema-bearing data file when THIS wave is also band-empty
        (UNABLE_TO_INFER_SCHEMA), and the cross probe is vacuous anyway
        — skip it. Same free driver listing the touched-bucket prune
        uses (ADVICE r7). On a listing error, claim non-empty: a
        silently skipped probe misses duplicates, while proceeding
        fails loudly on a truly unreadable root."""
        try:
            names = os.listdir(self.anchors_path)
        except OSError:
            return False
        for name in names:
            if not name.startswith("w="):
                continue
            try:
                w = int(name[2:])
            except ValueError:
                continue
            if w == batch_id or (kept is not None and w not in kept):
                continue
            try:
                sub = os.listdir(os.path.join(self.anchors_path, name))
            except OSError:
                return False  # unreadable wave: claim non-empty
            if any(n.startswith("b=") for n in sub):
                return False
        return True

    # -- state access -----------------------------------------------------
    def read_state(self, spark: SparkSession) -> DataFrame:
        # the wave column ``w`` is a storage detail (see __call__), not
        # part of the per-document state contract
        return spark.read.parquet(self.state_path).drop("w")

    def read_pairs(self, spark: SparkSession) -> DataFrame:
        """Near-dup pairs emitted so far (the wave column ``w`` is a
        storage detail)."""
        return spark.read.parquet(self.pairs_path).select(
            "doc1", "doc2", "est_jaccard", "jaccard"
        )

    def _after_forget(self, spark: SparkSession) -> None:
        """Rebuild the band registry from the cleansed state: restores
        the state/anchors wave parity the kernel guards, and in capped
        mode re-opens anchor slots a forgotten hot doc held."""
        self.rebuild_anchors(spark)

    def compact(self, spark: SparkSession) -> int:
        """``WaveKernel.compact``, then re-band the coalesced wave (both
        modes — the band registry's wave set must stay 1:1 with the
        state's); in capped mode the merged wave's anchors are the
        first-cap docs per band key ACROSS the compacted docs."""
        out = super().compact(spark)
        self.rebuild_anchors(spark)
        return out

    # -- the kernel -------------------------------------------------------
    def _apply(self, batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        batch = batch_df
        self._ensure_band_layout()
        had_state = self._state_exists(spark)
        if had_state:
            # the band registry is load-bearing in BOTH modes now (the
            # cross probe joins it instead of re-expanding state bands)
            with self._phase("parity_check"):
                self._check_anchor_parity(spark, batch_id)
        if had_state:
            # BatchWatermark only guards post-commit replays: a doc_id
            # redelivered in a LATER batch (producer retry, re-ingest)
            # would duplicate its state row and from then on duplicate
            # every pair it participates in. Anti-join the batch against
            # the indexed ids — the state scan is doc_id-only (pruned)
            # and runs through the broadcast semi/anti pair so the
            # corpus-sized id column is never shuffled
            # (maintenance.seen_anti_join).
            # The w != batch_id filter is load-bearing: a crash AFTER
            # this wave's directory was written but BEFORE the watermark
            # mark replays the batch, and without the filter the batch
            # would anti-join against its own half-committed wave,
            # empty itself, and overwrite the wave with nothing —
            # destroying those documents' state.
            # restricted by the per-wave doc-id Bloom sidecars to
            # waves that may contain a batch id (VERDICT r10 item 2 —
            # a disjoint batch scans NO prior bytes)
            with self._phase("seen_probe"):
                seen = self._doc_seen.pruned_seen(
                    spark, batch, batch_id, self.id_col
                )
            if seen is not None:
                batch = seen_anti_join(batch, seen, self.id_col)
        # One row-wise pass carries the shingle set AND the signature
        # columns (keep=) — no sets⋈signatures shuffle join. The state
        # table is hive-partitioned by wave (``w=<batch_id>/``), and the
        # write into this wave's directory IS the materialization
        # barrier: every later stage reads the columnar result back with
        # partition pruning, so the batch is shingled+hashed exactly once
        # per wave with no persist()/count() job and no separate
        # state-append job at the end. Overwrite of one wave directory is
        # also naturally idempotent under replays.
        sets = shingle_sets(
            batch, self.text_col, self.id_col, self.n, probe=batch_df
        )
        wave_dir = f"{self.state_path}/w={batch_id}"
        sigs = _signatures_from_sets(sets, keep=("sh", "n_sh"))
        with self._phase("state_write"):
            # REBALANCE: AQE sizes the exchange, so a SMALL wave lands
            # as ONE file in the same job (the post-write shrink
            # rewrite this replaces cost an extra read+write per wave
            # — the e34214a registry lesson applied to the sig table;
            # shingling stays map-side, upstream of the exchange) and
            # a big wave gets as many size-split partitions as its
            # bytes need
            sigs.hint("rebalance").write.mode("overwrite").parquet(wave_dir)
        self._has_state = True
        # the wave's doc-id bitmap — what future batches' seen probes
        # test against (maintenance.DocSeenGuard)
        with self._phase("seen_sidecar"):
            self._doc_seen.save_wave(spark, wave_dir, batch_id)
        # emptiness check from the just-written wave's parquet footers,
        # driver-local (maintenance.read_wave_local) — the Spark count()
        # job this replaces was footer-only too but still paid
        # ~0.09s/wave of job scheduling (phase_seconds, r8); the Spark
        # fallback covers non-listable roots. The wave is read back with
        # the schema of the frame just written: no inference job
        new_state = spark.read.schema(sigs.schema).parquet(wave_dir)
        band_dir = f"{self.anchors_path}/w={batch_id}"
        with self._phase("state_count"):
            got = read_wave_local(wave_dir)
            state_empty = (
                got[0] == 0 if got is not None else new_state.count() == 0
            )
        if state_empty:
            # empty band wave keeps the state/band wave sets 1:1 (the
            # parity guard treats a missing wave as data loss, not
            # emptiness; zero rows leave just the directory + marker)
            self._write_band_wave(
                band_rows(new_state.select(*_SIG_COLS)), band_dir
            )
            if self.bloom_bits:
                # zero bitmap: future probes prune the empty wave
                import numpy as np

                self._bloom.save_wave(
                    wave_dir, np.array([], dtype=np.int64)
                )
            self._record_wave(spark, batch_id, wave_dir)
            self._watermark.mark(batch_id)
            return

        new_bands = band_rows(new_state.select(*_SIG_COLS))
        # persist this wave's band rows (capped mode: first-cap anchors
        # per band key) for future batches' cross joins — a batch-local
        # write, idempotent per-wave overwrite like the state. The write
        # doubles as the Bloom/probe-key materialization: the band-key
        # hashes come back COLUMNAR AND DRIVER-LOCAL from the written
        # files (pyarrow over ``bh``) — no separate Spark collect job.
        with self._phase("band_write"):
            self._write_band_wave(new_bands, band_dir)
        # per-wave band-key Bloom sidecar: the collision probe below only
        # scans waves whose bitmap may contain one of THIS batch's band
        # keys — exactly the no-possible-collision pruning an append-only
        # band table wants (a pruned wave can contribute no candidate,
        # so excluding it from the band join AND the shingle lookup is
        # exact). GATED on wave count: with only a handful of live waves
        # the prune cannot beat the per-batch bitmap overhead (measured
        # +40% on the 4-wave bench, VERDICT r5 item 5); waves written
        # while gated are lazily backfilled by WaveBloomIndex once the
        # table crosses the threshold.
        band_h = None
        overcap_keys = None
        # the try starts BEFORE the first consumer of the persisted
        # over-cap keys (save_wave_distributed is a Spark job that can
        # fail): an exception anywhere past the persist must still
        # release the blocks, or crash replays stack cached copies
        # until the GC-driven ContextCleaner catches up (review r9)
        try:
            with self._phase("bloom_fold"):
                if self._bloom.probe_active(exclude=batch_id):
                    band_h = self._band_keys(spark, band_dir)
                    if band_h is None:
                        # past probe_cap: build the wave's bitmap
                        # EXECUTOR-SIDE (one bit_or aggregation bounded
                        # by the bitmap size, never the key count) —
                        # the prune no longer disables itself at scale
                        # (VERDICT r8 item 1). Persisted: the probe
                        # decision below reuses this ONE scan of the
                        # band wave instead of re-reading it.
                        self._bloom.overcap_fallbacks += 1
                        overcap_keys = (
                            spark.read.parquet(band_dir)
                            .select("bh")
                            .persist()
                        )
                if band_h is not None:
                    self._bloom.save_wave(wave_dir, band_h)
                elif overcap_keys is not None:
                    self._bloom.save_wave_distributed(
                        wave_dir, overcap_keys, "bh"
                    )
            self._finish_wave(
                spark, batch_id, band_h, overcap_keys, had_state,
                new_state, new_bands, wave_dir, band_dir,
            )
        finally:
            if overcap_keys is not None:
                overcap_keys.unpersist(blocking=True)

    def _finish_wave(
        self, spark, batch_id, band_h, overcap_keys, had_state,
        new_state, new_bands, wave_dir, band_dir,
    ) -> None:
        """Candidate generation, verification, and the pairs write —
        the back half of ``_apply``, split out so the over-cap key
        cache's unpersist is exception-safe."""
        # within-batch collisions, canonical doc1 < doc2
        _plan_t0 = time.perf_counter()
        _plan_pd0 = self.phase_seconds.get("probe_decide", 0.0)
        a, b = new_bands.alias("a"), new_bands.alias("b")
        cand = a.join(b, _exprs()["within_cond"]).select(
            F.col("a.doc_id").alias("doc1"), F.col("b.doc_id").alias("doc2")
        )

        old = None
        kept: list | None = None  # None = bloom made no pruning decision
        if had_state:
            old = self._doc_seen.prior(spark, batch_id)
            if band_h is not None or overcap_keys is not None:
                # inline prune_prior so the SAME kept-wave decision (and
                # one ProbeMetrics row) covers both the state scan and,
                # in capped mode, the anchors scan
                with self._phase("probe_decide"):
                    waves = self._bloom.wave_ids(exclude=batch_id)
                    if band_h is not None:
                        kept = self._bloom.live_waves(
                            band_h, exclude=batch_id, spark=spark
                        )
                    else:
                        # over-cap: probe decision executor-side over
                        # the persisted band-wave keys — driver traffic
                        # O(#waves), never O(keys)
                        kept = self._bloom.live_waves_df(
                            spark, overcap_keys, "bh", exclude=batch_id
                        )
                self.probe_metrics.append(
                    ProbeMetrics(batch_id, len(waves), len(kept))
                )
                self._bloom.note_probe(len(waves), len(kept))
                old = old.filter(F.col("w").isin(kept)) if kept else None
            if old is not None:
                old = old.drop("w")
        if old is not None and not self._prior_band_waves_empty(
            batch_id, kept
        ):
            old_bands = self.registry_probe(
                spark, batch_id, kept, band_dir
            ).alias("o")
            nb = new_bands.alias("n")
            # != guard in _CROSS_COND: belt-and-braces with the anti-join
            # above — a self-collision would emit a (doc, doc, 1.0) pair
            cross = old_bands.join(nb, _exprs()["cross_cond"]).select(
                F.least(F.col("o.doc_id"), F.col("n.doc_id")).alias("doc1"),
                F.greatest(F.col("o.doc_id"), F.col("n.doc_id")).alias("doc2"),
            )
            cand = cand.unionByName(cross)

        # no persist barrier: cand's shuffle exchanges are identical
        # subtrees inside the single pairs.write query below, so
        # Catalyst's ReuseExchange serves the id- and verify-consumers
        # from one execution
        cand = cand.distinct()

        # every candidate involves >=1 new doc; the old side's shingle
        # sets + signatures come from state, fetched for JUST the
        # candidate ids (broadcast semi-join keeps the scan narrow)
        lookup = new_state
        if old is not None:
            ids = (
                cand.select(F.col("doc1").alias("doc_id"))
                .unionByName(cand.select(F.col("doc2").alias("doc_id")))
                .distinct()
            )
            lookup = lookup.unionByName(
                old.join(F.broadcast(ids), "doc_id", "left_semi")
            )
        sa = lookup.alias("sa")
        sb = lookup.alias("sb")
        pairs = (
            cand.join(sa, F.col("doc1") == F.col("sa.doc_id"))
            .join(sb, F.col("doc2") == F.col("sb.doc_id"))
            .select("doc1", "doc2", _exprs()["est_jaccard"], _exprs()["jaccard"])
            .filter(F.col("jaccard") >= self.threshold)
        )
        # plan construction wall time, NET of the probe_decide span that
        # runs inside this window — without the subtraction a slow Bloom
        # decision would be double-counted into both phases
        self.phase_seconds["plan_build"] = self.phase_seconds.get(
            "plan_build", 0.0
        ) + (time.perf_counter() - _plan_t0) - (
            self.phase_seconds.get("probe_decide", 0.0) - _plan_pd0
        )
        # per-wave overwrite (idempotent under a crash between this
        # write and the mark — append mode duplicated the batch's pairs
        # on exactly that replay); written even when the batch found no
        # pairs so read_pairs() is valid from batch 0
        with self._phase("pairs_write"):
            pairs.write.mode("overwrite").parquet(
                f"{self.pairs_path}/w={batch_id}"
            )
        with self._phase("record_wave"):
            self._record_wave(spark, batch_id, wave_dir)
        self._watermark.mark(batch_id)

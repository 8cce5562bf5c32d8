"""``WaveKernel``: the one update loop of the wave-partitioned
``foreachBatch`` state kernels (near, chunk, substring, frame,
frame-neardup and its audio/image subclasses, tfidf, the quality
classifier — see ``docs/concepts/state_kernels.md``).

Every such kernel lands each applied micro-batch as its own
``w=<batch_id>/`` overwrite in one or more tables, so entry, replay
guard, compaction and forgetting are the same code for all of them and
live here once. A kernel supplies:

* ``_apply(batch_df, batch_id)`` — the batch's work, ending with
  ``self._watermark.mark(batch_id)``;
* ``_wave_tables()`` — its tables as ``WaveTable`` rows, in compaction
  order (``compact`` returns the LAST table's file count, so the
  kernel's registry goes last), each naming its compaction layout, the
  sidecar indexes that must OR-merge across the rewrite, and the id
  columns ``forget`` sweeps;
* optionally ``_after_forget(spark)`` — what a kernel derives from its
  state table and must re-derive when ``forget`` rewrote it.
"""

from __future__ import annotations

import dataclasses
import functools

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from beavers_spark.streaming.maintenance import (
    BatchWatermark,
    DocSeenGuard,
    ProbeMetrics,
    WaveBloomIndex,
    WaveMetrics,
    compact_parquet,
    forget_doc_rows,
    guard_committed_waves,
    maybe_auto_compact,
    partition_stats,
    recover_compaction,
    table_exists,
    timed_phase,
)


@dataclasses.dataclass(frozen=True)
class WaveTable:
    """One wave-partitioned table of a kernel."""

    path: str
    #: ``compact_parquet`` partition columns of the compacted table;
    #: None = ``compact`` does not rewrite it (the kernel re-derives
    #: it instead, e.g. the near-dedup band registry)
    partition_by: str | tuple[str, ...] | None = "w"
    #: sort columns of the compacted files — the table's probe key, so
    #: the coalesced files' row groups keep narrow min/max statistics
    #: (``compact_parquet(cluster_by=)``)
    cluster_by: tuple[str, ...] | None = None
    #: sidecar indexes rooted at this table (``DocSeenGuard`` /
    #: ``WaveBloomIndex``), outermost first: the rewrite destroys the
    #: per-wave bitmaps with the wave directories, so each index's
    #: ``compact_merge`` ORs them into the coalesced wave
    merges: tuple = ()
    #: id columns ``forget`` sweeps (one ``forget_doc_rows`` each);
    #: () = not swept (a derived table the kernel rebuilds)
    forget_cols: tuple[str, ...] = ("doc_id",)
    #: the doc-id Bloom guard that targets this table's sweep to the
    #: waves that may hold the ids (None = every wave is probed); a
    #: table borrowing another table's guard is listed AFTER it
    guard: DocSeenGuard | None = None


class WaveKernel:
    """Base of the wave-partitioned ``foreachBatch`` state kernels —
    the instance is the ``foreachBatch`` callable."""

    #: the band/key Bloom index ``forget`` must invalidate when it
    #: rewrites the index's table (None = the kernel has none)
    _bloom: WaveBloomIndex | None = None

    def __init__(
        self, state_path: str, compact_every_waves: int | None
    ) -> None:
        self.state_path = state_path
        #: live-wave-count threshold that triggers an automatic
        #: ``compact()`` right after a wave commits (None = manual
        #: compaction only; see maintenance.maybe_auto_compact).
        #: DEFAULT 16 since r11 — the growth bench measured the
        #: no-maintenance slope as pure file-count fragmentation and
        #: the 16-wave cadence returning the tail to the early plateau
        #: (docs/concepts/growth.md); unbounded growth is now opt-in
        self.compact_every_waves = compact_every_waves
        self.auto_compactions = 0
        self._has_state = False
        self._watermark = BatchWatermark(state_path)
        #: one WaveMetrics per applied wave over the wave's state
        #: directory — bytes appended to state per wave and its file
        #: count (the compaction-due signal; see maintenance.WaveMetrics)
        self.metrics: list[WaveMetrics] = []
        #: per-batch Bloom-prune accounting (see maintenance.ProbeMetrics)
        self.probe_metrics: list[ProbeMetrics] = []
        #: accumulated driver-observed wall seconds per named phase —
        #: ``call_total`` (the whole applied batch) for every kernel,
        #: plus each kernel's own spans. The named-cost table the bench
        #: records: a timing uptick with an unchanged phase split points
        #: at the machine, one phase growing points at its plan
        self.phase_seconds: dict[str, float] = {}

    # -- what a kernel supplies -------------------------------------------
    def _wave_tables(self) -> list[WaveTable]:
        raise NotImplementedError

    def _apply(self, batch_df: DataFrame, batch_id: int) -> None:
        raise NotImplementedError

    def _after_forget(self, spark: SparkSession) -> None:
        """Re-derive whatever the kernel keeps FROM its state table
        after ``forget`` rewrote that table (default: nothing)."""

    # -- the update loop ---------------------------------------------------
    def __call__(self, batch_df: DataFrame, batch_id: int) -> None:
        # a compaction crash between compact_parquet's two renames
        # leaves a table in .__compact_old with the live path MISSING
        # — including the watermark sidecar. Recover BEFORE the
        # watermark check and before any wave write: a wave written
        # into the recreated empty path would permanently orphan the
        # pre-compaction table (review r8).
        for table in self._wave_tables():
            recover_compaction(table.path)
        # every wave write is an overwrite-per-wave (idempotent under
        # crash replays); the watermark still skips committed batches
        # so a replay does no redundant work
        if self._watermark.is_applied(batch_id):
            return
        with self._phase("call_total"):
            self._apply(batch_df, batch_id)
        # cadence check AFTER the wave committed (rides the existing
        # crash-window contract -- see maintenance.maybe_auto_compact)
        maybe_auto_compact(self, batch_df.sparkSession)

    def _phase(self, name: str):
        return timed_phase(self.phase_seconds, name)

    def _record_wave(
        self, spark: SparkSession, batch_id: int, wave_dir: str
    ) -> None:
        """Per-wave write accounting (driver-side listing of the one wave
        directory): bytes appended to state this wave + its file count —
        the signal for when ``compact()`` is due."""
        files, nbytes, mx = partition_stats(spark, [wave_dir])
        self.metrics.append(WaveMetrics(batch_id, 1, files, nbytes, mx))

    def _state_exists(self, spark: SparkSession) -> bool:
        if not self._has_state:
            self._has_state = table_exists(spark, self.state_path)
        return self._has_state

    # -- maintenance -------------------------------------------------------
    def forget(self, spark: SparkSession, ids) -> int:
        """Right-to-be-forgotten: hard-delete the given doc ids from
        every table (``maintenance.forget_doc_rows`` — Bloom-TARGETED
        where the table has a doc-id guard, so a forget request
        rewrites a handful of wave directories, not the corpus).

        The forgotten docs vanish from state and from every derived
        output (pairs, candidates, kept rows involving them); their
        content keys RE-OPEN — the next document presenting a
        forgotten segment/shingle/frame becomes its owner ("first
        arrival after forgetting") — and a later redelivery of a
        forgotten id is admitted as brand-new. Pairs or ownership
        derived from the remaining docs are untouched. Idempotent — a
        crash mid-forget is finished by re-running. Returns the number
        of wave directories rewritten."""
        ids = list(ids)
        n = 0
        touched: set[str] = set()
        # REVERSE list order: a table swept through ANOTHER table's
        # guard (the frame near-dup band registry uses the sig
        # table's) must go before the guard's own table — rewriting
        # that table drops its doc-id sidecars, and their lazy rebuild
        # from the cleansed waves no longer names the victims' waves
        for table in reversed(self._wave_tables()):
            for col in table.forget_cols:
                k = forget_doc_rows(
                    spark, table.path, ids, id_col=col, guard=table.guard
                )
                n += k
                if k:
                    touched.add(table.path)
        if self._bloom is not None and self._bloom.state_path in touched:
            # the rewritten waves' key sidecars were dropped with the
            # rewrites; flush the in-memory bitmaps too
            self._bloom.invalidate()
        if self.state_path in touched:
            # the forget may have removed the table's LAST
            # schema-bearing partition — re-probe rather than trust
            # the cached flag (the empty-table trap)
            self._has_state = table_exists(spark, self.state_path)
            self._after_forget(spark)
        return n

    def compact(self, spark: SparkSession) -> int:
        """Coarsen every table's wave partitions into the single
        ``w=-1`` directory; returns the last table's post-compaction
        file count.

        Streaming batch ids are non-negative, so ``-1`` can never
        collide with a live wave: the kernels' ``w != batch_id``
        exclusion and a replayed batch's overwrite of its own wave
        directory both keep working. MUST go through this method
        rather than a flat ``compact_parquet(path)`` — flattening would
        demote ``w`` to a data column and the next wave's directory
        write would leave the table half hive-partitioned, which
        Spark's partition discovery rejects. Refuses while an
        uncommitted (crashed, un-replayed) wave exists — see
        ``maintenance.guard_committed_waves``."""
        tables = self._wave_tables()
        guard_committed_waves(self._watermark, *(t.path for t in tables))
        out = 0
        for table in tables:
            if table.partition_by is not None:
                out = self._compact_table(spark, table)
        return out

    def _compact_table(self, spark: SparkSession, table: WaveTable) -> int:
        rewrite = functools.partial(
            compact_parquet,
            spark,
            table.path,
            partition_by=table.partition_by,
            transform=lambda df: df.withColumn("w", F.lit(-1)),
            cluster_by=table.cluster_by,
        )
        # nested merges: the one rewrite destroys every sidecar
        # domain's per-wave bitmaps rooted at this table
        for index in reversed(table.merges):
            rewrite = functools.partial(index.compact_merge, rewrite)
        return rewrite()

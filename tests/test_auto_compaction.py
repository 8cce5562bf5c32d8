"""Kernel-triggered auto-compaction (``compact_every_waves``, VERDICT
r9 item 3): when the live wave count reaches the knob, the kernel runs
its own ``compact()`` right after the wave commits — and the results
are IDENTICAL to the never-compacted twin, across every boundary.

The cadence re-derives its trigger from the state directory (not an
in-memory counter), so it is restart-safe, and it runs after the
watermark mark, so the kernels' existing crash-window recovery contract
covers it unchanged (pinned separately in test_dedup_incremental's
crash tests)."""

from __future__ import annotations

import os

from pyspark.sql import functions as F

import pytest

from beavers_spark.plans.common import t
from beavers_spark.plans.llmops import (
    _ppm_dims,
    _ppm_pixels,
    _synth_frame_avis,
    _synth_neardup_wavs,
)
from beavers_spark.streaming import (
    IncrementalAudioNearDedup,
    IncrementalChunkDedup,
    IncrementalFrameDedup,
    IncrementalFrameNearDedup,
    IncrementalImageNearDedup,
    IncrementalNearDedup,
    IncrementalQualityClassifier,
    IncrementalSubstringDedup,
    IncrementalTfidfDedup,
)
from beavers_spark.streaming.maintenance import live_wave_count

SF_DIR = "/root/testdata/sf0.001"


def _docs(spark, lo, hi):
    return t(spark, SF_DIR, "documents").select("doc_id", "text").filter(
        (F.col("doc_id") >= lo) & (F.col("doc_id") < hi)
    )


def _waves(d, spark, n_waves=4, per=20):
    for w in range(n_waves):
        d(_docs(spark, w * per, (w + 1) * per), w)


def _state_waves(path):
    return sorted(
        n for n in os.listdir(path) if n.startswith("w=")
    )


def test_chunk_auto_compaction_matches_manual_never(spark, tmp_path):
    auto = IncrementalChunkDedup(
        str(tmp_path / "a" / "state"), str(tmp_path / "a" / "out"),
        text_col="text", id_col="doc_id", k=5,
        compact_every_waves=2, bloom_min_waves=1,
    )
    plain = IncrementalChunkDedup(
        str(tmp_path / "p" / "state"), str(tmp_path / "p" / "out"),
        text_col="text", id_col="doc_id", k=5, bloom_min_waves=1,
    )
    for d in (auto, plain):
        _waves(d, spark)
    assert auto.auto_compactions >= 2
    assert plain.auto_compactions == 0
    # the cadence actually bounds the wave count: compaction coalesced
    # everything into w=-1, at most `every` live waves ever accumulate
    assert live_wave_count(auto.state_path) <= 2
    assert "w=-1" in _state_waves(auto.state_path)
    assert "auto_compact" in auto.phase_seconds

    def kept(d):
        return {
            (r.doc_id, r.clean_text, r.n_kept, r.n_chunks)
            for r in d.read_kept(spark).collect()
        }

    assert kept(auto) == kept(plain)
    # state registries agree on ownership too
    def owned(d):
        return {
            (r.h, r.doc_id, r.idx) for r in d.read_state(spark).collect()
        }

    assert owned(auto) == owned(plain)


def test_chunk_auto_compaction_is_restart_and_replay_safe(spark, tmp_path):
    mk = lambda: IncrementalChunkDedup(  # noqa: E731
        str(tmp_path / "state"), str(tmp_path / "out"),
        text_col="text", id_col="doc_id", k=5,
        compact_every_waves=2, bloom_min_waves=1,
    )
    first = mk()
    _waves(first, spark, n_waves=2)
    assert first.auto_compactions == 1
    before = {
        (r.doc_id, r.n_kept) for r in first.read_kept(spark).collect()
    }
    # a FRESH instance (restart) derives the cadence from the directory
    # and keeps going; replaying an already-committed batch id is a
    # no-op even though the waves were coalesced to w=-1
    second = mk()
    second(_docs(spark, 0, 20), 0)  # replay: watermark survives compaction
    assert {
        (r.doc_id, r.n_kept) for r in second.read_kept(spark).collect()
    } == before
    second(_docs(spark, 40, 60), 2)
    assert second.auto_compactions == 1  # w=-1 + w=2 reached the knob
    third = {
        r.doc_id for r in second.read_kept(spark).collect()
    }
    assert third >= {r.doc_id for r in _docs(spark, 40, 60).collect()}


def test_near_dedup_auto_compaction_matches(spark, tmp_path):
    mk = lambda sub, **kw: IncrementalNearDedup(  # noqa: E731
        str(tmp_path / sub / "state"), str(tmp_path / sub / "pairs"),
        text_col="text", id_col="doc_id", n=3, threshold=0.2,
        bloom_min_waves=1, **kw,
    )
    auto, plain = mk("a", compact_every_waves=2), mk("p")
    # seeded duplicate pair straddling a compaction boundary: doc 20 in
    # wave 2 repeats doc 0's text from wave 0 (compacted away by then)
    rows = [
        [(i, " ".join(f"w0tok{i}x{j}" for j in range(12)))
         for i in range(4)],
        [(10 + i, " ".join(f"w1tok{i}x{j}" for j in range(12)))
         for i in range(4)],
        [(20 + i, " ".join(f"w0tok{i}x{j}" for j in range(12)))
         for i in range(4)],
    ]
    for d in (auto, plain):
        for w, batch in enumerate(rows):
            d(spark.createDataFrame(batch, "doc_id long, text string"), w)
    assert auto.auto_compactions >= 1

    def pairs(d):
        return {
            (r.doc1, r.doc2, r.est_jaccard, r.jaccard)
            for r in d.read_pairs(spark).collect()
        }

    got = pairs(auto)
    assert got == pairs(plain)
    # the cross-boundary duplicates were found against compacted state
    assert {(p[0], p[1]) for p in got} >= {(0, 20), (1, 21), (2, 22)}


def test_tfidf_auto_compaction_matches(spark, tmp_path):
    mk = lambda sub, **kw: IncrementalTfidfDedup(  # noqa: E731
        str(tmp_path / sub / "state"), str(tmp_path / sub / "cand"),
        text_col="text", id_col="doc_id", threshold=0.8, **kw,
    )
    auto, plain = mk("a", compact_every_waves=2), mk("p")
    for d in (auto, plain):
        _waves(d, spark, n_waves=3)
    assert auto.auto_compactions >= 1

    def pairs(d):
        return {
            (r.doc1, r.doc2, r.cos)
            for r in d.read_pairs(spark).collect()
        }

    assert pairs(auto) == pairs(plain)


def _labeled(spark, lo, hi):
    return _docs(spark, lo, hi).withColumn(
        "y", (F.col("doc_id") % 2).cast("int")
    )


def _ppms(spark, lo, hi):
    w, h = _ppm_dims()
    return _docs(spark, lo, hi).select(
        "doc_id", _ppm_pixels(w, h).alias("payload")
    )


def _in_range(df, lo, hi):
    return df.filter((F.col("doc_id") >= lo) & (F.col("doc_id") < hi))


#: every WaveKernel: (factory over a scratch dir, one small batch)
WAVE_KERNELS = {
    "near": (
        lambda d: IncrementalNearDedup(
            f"{d}/state", f"{d}/pairs", "text", "doc_id"
        ),
        lambda spark: _docs(spark, 0, 20),
    ),
    "chunk": (
        lambda d: IncrementalChunkDedup(
            f"{d}/state", f"{d}/out", "text", "doc_id", k=5
        ),
        lambda spark: _docs(spark, 0, 20),
    ),
    "substring": (
        lambda d: IncrementalSubstringDedup(
            f"{d}/state", f"{d}/out", "text", "doc_id", k=5
        ),
        lambda spark: _docs(spark, 0, 20),
    ),
    "tfidf": (
        lambda d: IncrementalTfidfDedup(
            f"{d}/state", f"{d}/cand", "text", "doc_id"
        ),
        lambda spark: _docs(spark, 0, 20),
    ),
    "classifier": (
        lambda d: IncrementalQualityClassifier(f"{d}/state", label_col="y"),
        lambda spark: _labeled(spark, 0, 20),
    ),
    "frame": (
        lambda d: IncrementalFrameDedup(f"{d}/state", f"{d}/out"),
        lambda spark: _in_range(_synth_frame_avis(spark, SF_DIR), 0, 6),
    ),
    "frame_neardup": (
        lambda d: IncrementalFrameNearDedup(f"{d}/state", f"{d}/pairs"),
        lambda spark: _in_range(_synth_frame_avis(spark, SF_DIR), 0, 6),
    ),
    "audio_neardup": (
        lambda d: IncrementalAudioNearDedup(
            f"{d}/state", f"{d}/pairs", seg_samples=16
        ),
        lambda spark: _in_range(_synth_neardup_wavs(spark, SF_DIR), 0, 10),
    ),
    "image_neardup": (
        lambda d: IncrementalImageNearDedup(f"{d}/state", f"{d}/pairs"),
        lambda spark: _ppms(spark, 0, 10),
    ),
}


@pytest.mark.parametrize("name", sorted(WAVE_KERNELS))
def test_wave_kernel_entry_recovers_before_watermark(spark, tmp_path, name):
    """The shared entry of every wave kernel: one applied wave records
    ``call_total``, and a table left in ``.__compact_old`` by a crash
    between compact_parquet's two renames — the watermark sidecar with
    it — is restored BEFORE the watermark check, so a restarted stream
    recognizes the committed batch instead of re-applying it into a
    recreated empty table."""
    make, batch = WAVE_KERNELS[name]
    first = make(tmp_path)
    first(batch(spark), 0)
    assert "call_total" in first.phase_seconds

    state = first.state_path
    os.rename(state, state + ".__compact_old")
    restarted = make(tmp_path)
    restarted(batch(spark), 0)
    assert os.path.isdir(state)
    assert not os.path.exists(state + ".__compact_old")
    # batch 0 was recognized as applied: nothing ran
    assert restarted.phase_seconds == {}
    assert restarted._watermark.last_committed() == 0


def _jobs_run(spark, fn) -> int:
    """Spark jobs ``fn()`` runs outside any job group, counted by job
    id: all of them when ``fn`` sets no group."""
    sc = spark.sparkContext
    bus = sc._jsc.sc().listenerBus()

    def ids():
        bus.waitUntilEmpty()  # the status tracker lags the bus
        return sc.statusTracker().getJobIdsForGroup(None)

    last = max(ids(), default=-1)
    fn()
    return sum(1 for i in ids() if i > last)


#: Spark jobs of the first wave and of a second wave that overlaps it
#: (redelivered ids and shared content), per hash-ownership kernel
OWNERSHIP_JOBS = {"chunk": (14, 23), "substring": (15, 21), "frame": (11, 18)}

#: the same for ``IncrementalNearDedup``, and for a third wave that
#: overlaps the second: its tables' schemas are known by then, so it
#: runs no schema-inference job
NEAR_JOBS = (11, 16, 15)


@pytest.mark.parametrize("name", sorted(OWNERSHIP_JOBS))
def test_hash_ownership_jobs_per_wave(spark, spark_jobs, tmp_path, name):
    """Jobs per wave of the exact-dedup kernels, commit jobs included.
    The second wave runs the seen probe, the Bloom fold and the
    registry probe. Each wave runs in a job group and leaves no job
    outside it: the commit jobs ``overlap_jobs`` runs on pool threads
    carry the caller's group, so the group count is the count by job id
    (without that, the chunk kernel's group read 6/15 of 14/23)."""
    make, _ = WAVE_KERNELS[name]
    if name == "frame":
        avis = _synth_frame_avis(spark, SF_DIR)
        waves = [_in_range(avis, 0, 6), _in_range(avis, 3, 9)]
    else:
        waves = [_docs(spark, 0, 20), _docs(spark, 10, 30)]
    kern = make(tmp_path)
    jobs = []
    for w, batch in enumerate(waves):
        grouped = []
        outside = _jobs_run(
            spark, lambda: grouped.extend(spark_jobs(lambda: kern(batch, w))[1])
        )
        assert outside == 0
        jobs.append(len(grouped))
    assert "bloom_fold" in kern.phase_seconds
    assert kern.probe_metrics and kern._doc_seen.probe_metrics
    assert tuple(jobs) == OWNERSHIP_JOBS[name]


def test_near_dedup_jobs_per_wave(spark, tmp_path):
    """Jobs per wave of ``IncrementalNearDedup``, commit jobs included:
    the wave is read back with the schema of the frame just written, and
    the registry and band registry with the schema each was first read
    with."""
    make, _ = WAVE_KERNELS["near"]
    kern = make(tmp_path)
    waves = [_docs(spark, 0, 20), _docs(spark, 10, 30), _docs(spark, 20, 40)]
    jobs = tuple(
        _jobs_run(spark, lambda: kern(batch, w)) for w, batch in enumerate(waves)
    )
    assert kern.probe_metrics and kern._doc_seen.probe_metrics
    assert jobs == NEAR_JOBS

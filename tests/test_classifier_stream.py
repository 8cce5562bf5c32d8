"""IncrementalQualityClassifier: the refit model after any wave
sequence must be BYTE-IDENTICAL to the batch ``logreg_fit`` on the
union of the waves, with redelivery and crash replays no-ops."""

from __future__ import annotations

from pyspark.sql import functions as F

from beavers_spark.functions.classifier import logreg_fit, logreg_score
from beavers_spark.streaming import IncrementalQualityClassifier

_N_BUCKETS = 256


def _docs(spark, rows, start=0):
    return spark.createDataFrame(
        [(start + i, s, y) for i, (s, y) in enumerate(rows)],
        "doc_id long, text string, y int",
    )


def _model_map(df):
    return {r.bucket: r.w for r in df.collect()}


def _mk(spark, tmp_path):
    return IncrementalQualityClassifier(
        str(tmp_path / "clf_state"), label_col="y",
        n_buckets=_N_BUCKETS,
    )


POS = [(f"quality prose citation facts v{i}", 1) for i in range(5)]
NEG = [(f"spamword{i} lottery buy clicks now", 0) for i in range(5)]


def test_incremental_refit_equals_batch_fit(spark, tmp_path):
    clf = _mk(spark, tmp_path)
    w1 = _docs(spark, POS[:3] + NEG[:2], start=0)
    w2 = _docs(spark, POS[3:] + NEG[2:], start=100)
    clf(w1, 0)
    mid = _model_map(clf.model(spark))
    batch_mid = _model_map(
        logreg_fit(spark, w1, "y", n_buckets=_N_BUCKETS)
    )
    assert mid == batch_mid
    clf(w2, 1)
    got = _model_map(clf.model(spark))
    want = _model_map(
        logreg_fit(spark, w1.unionByName(w2), "y", n_buckets=_N_BUCKETS)
    )
    assert got == want and got != mid


def test_score_matches_batch_score(spark, tmp_path):
    clf = _mk(spark, tmp_path)
    pool = _docs(spark, POS + NEG)
    clf(pool, 0)
    got = {
        (r.doc_id, r.margin, r.prob)
        for r in clf.score(pool).collect()
    }
    w = logreg_fit(spark, pool, "y", n_buckets=_N_BUCKETS)
    want = {
        (r.doc_id, r.margin, r.prob)
        for r in logreg_score(pool, w, n_buckets=_N_BUCKETS).collect()
    }
    assert got == want
    # the classifier still separates through the streaming path
    probs = {r.doc_id: r.prob for r in clf.score(pool).collect()}
    assert min(probs[d] for d in range(5)) > max(
        probs[d] for d in range(5, 10)
    )


def test_replayed_batch_and_redelivered_docs_are_noops(spark, tmp_path):
    clf = _mk(spark, tmp_path)
    w1 = _docs(spark, POS[:3] + NEG[:3])
    clf(w1, 0)
    before = _model_map(clf.model(spark))
    n_state = clf.read_state(spark).count()
    # replayed batch id: watermark guard skips entirely
    clf(w1, 0)
    assert clf.read_state(spark).count() == n_state
    assert _model_map(clf.model(spark)) == before
    # a later wave redelivering doc ids 0..2 plus one new doc: only the
    # new doc's features enter the registry (no double counting)
    w2 = _docs(spark, POS[:3], start=0).unionByName(
        _docs(spark, NEG[3:4], start=500)
    )
    clf(w2, 1)
    state_ids = {
        r.doc_id for r in clf.read_state(spark).select("doc_id").distinct().collect()
    }
    assert 500 in state_ids
    assert clf.read_state(spark).filter(F.col("doc_id") == 0).count() == \
        clf.read_state(spark).filter(F.col("doc_id") == 0).select("bucket").distinct().count()


def test_mid_batch_crash_replay_is_idempotent(spark, tmp_path):
    clf = _mk(spark, tmp_path)
    w1 = _docs(spark, POS[:2] + NEG[:2])
    clf(w1, 0)
    w2 = _docs(spark, POS[2:4] + NEG[2:4], start=50)
    clf(w2, 1)
    done = _model_map(clf.model(spark))
    # simulate a crash AFTER batch 1's writes but BEFORE the watermark
    # mark: a fresh kernel instance whose watermark believes only batch
    # 0 landed re-runs batch 1 — wave overwrite + refit must reproduce
    # the same state and model
    crashed = _mk(spark, tmp_path)
    crashed._watermark.mark(0)  # roll the watermark back to batch 0
    crashed(w2, 1)
    assert _model_map(crashed.model(spark)) == done
    ids = clf.read_state(spark).select("doc_id", "bucket")
    assert ids.count() == ids.distinct().count()


def test_empty_before_first_wave(spark, tmp_path):
    clf = _mk(spark, tmp_path)
    assert clf.model(spark).count() == 0
    # scoring under the empty model: every featurized doc scores the
    # neutral margin 0 / prob 0.5 instead of vanishing (left-join
    # semantics of _margins)
    pool = _docs(spark, POS[:2])
    out = clf.score(pool).collect()
    assert {r.doc_id for r in out} == {0, 1}
    assert all(r.margin == 0.0 and r.prob == 0.5 for r in out)


def test_string_id_column_end_to_end(spark, tmp_path):
    # review r6: seen_anti_join was called with the default
    # seen_id='doc_id' — any non-default id_col crashed on batch 2
    clf = IncrementalQualityClassifier(
        str(tmp_path / "clf_state"), label_col="y",
        id_col="uid", n_buckets=64,
    )
    w1 = spark.createDataFrame(
        [("a", "quality prose citation", 1), ("b", "spam buy now", 0)],
        "uid string, text string, y int",
    )
    w2 = spark.createDataFrame(
        [("a", "quality prose citation", 1),  # redelivered
         ("c", "more quality prose", 1)],
        "uid string, text string, y int",
    )
    clf(w1, 0)
    clf(w2, 1)
    ids = {
        r.uid
        for r in clf.read_state(spark).select("uid").distinct().collect()
    }
    assert ids == {"a", "b", "c"}
    # the redelivered doc's features were not double-counted
    per_doc = clf.read_state(spark).filter(F.col("uid") == "a")
    assert per_doc.count() == per_doc.select("bucket").distinct().count()


def test_refit_every_skips_then_refreshes_on_schedule(spark, tmp_path):
    # refit_every=2: waves 0 and 2 refit, wave 1 only ingests — the
    # model after wave 1 is STALE (== wave-0 fit), and the wave-2 refit
    # covers the full accumulated registry including the skipped wave
    clf = IncrementalQualityClassifier(
        str(tmp_path / "clf_state"), label_col="y",
        n_buckets=_N_BUCKETS, refit_every=2,
    )
    w1 = _docs(spark, POS[:2] + NEG[:2], start=0)
    w2 = _docs(spark, POS[2:4] + NEG[2:4], start=100)
    w3 = _docs(spark, POS[4:] + NEG[4:], start=200)
    clf(w1, 0)
    after0 = _model_map(clf.model(spark))
    assert after0 == _model_map(
        logreg_fit(spark, w1, "y", n_buckets=_N_BUCKETS)
    )
    clf(w2, 1)  # ingested, NOT refit
    assert _model_map(clf.model(spark)) == after0
    # but the registry did accumulate: an on-demand refit sees wave 1
    clf.refit(spark)
    assert _model_map(clf.model(spark)) == _model_map(
        logreg_fit(spark, w1.unionByName(w2), "y", n_buckets=_N_BUCKETS)
    )
    clf(w3, 2)  # scheduled refit (2 % 2 == 0) — full union again
    assert _model_map(clf.model(spark)) == _model_map(
        logreg_fit(
            spark,
            w1.unionByName(w2).unionByName(w3),
            "y",
            n_buckets=_N_BUCKETS,
        )
    )


def test_max_refit_docs_slice_parity_and_stability(spark, tmp_path):
    from beavers_spark.functions.classifier import logreg_fit_from_counts

    clf = IncrementalQualityClassifier(
        str(tmp_path / "clf_state"), label_col="y",
        n_buckets=_N_BUCKETS, max_refit_docs=6,
    )
    rows = [(f"quality prose citation facts v{i}", 1) for i in range(8)]
    rows += [(f"spamword{i} lottery buy clicks now", 0) for i in range(8)]
    clf(_docs(spark, rows[:8], start=0), 0)
    clf(_docs(spark, rows[8:], start=100), 1)
    # 16 labeled docs > cap 6 -> the refit trained on the deterministic
    # id-hash slice; the model equals a batch fit on EXACTLY that slice
    doc_tf, labels = clf.refit_inputs(spark)
    n_slice = labels.count()
    assert 0 < n_slice < 16
    want = _model_map(
        logreg_fit_from_counts(spark, doc_tf, labels, iters=clf.iters,
                               lr=clf.lr)
    )
    assert _model_map(clf.model(spark)) == want
    # growth-stable NESTING: as the corpus grows the threshold only
    # shrinks, so the later slice must be a subset of the earlier one
    # restricted to surviving ids — membership is decided by hash once,
    # never re-rolled (a regression to e.g. rand()-based sampling
    # breaks this containment)
    ids_now = {r.doc_id for r in labels.select("doc_id").collect()}
    clf(_docs(spark, rows[:4], start=300), 2)
    _, labels2 = clf.refit_inputs(spark)
    ids_later = {r.doc_id for r in labels2.select("doc_id").collect()}
    assert ids_later and ids_later <= ids_now | {300, 301, 302, 303}
    # ids sliced at the lower count that are NOT in the later slice
    # were dropped by the shrunken threshold, not re-rolled: re-reading
    # gives the identical set (pure function of ids + cap)
    _, labels_chk = clf.refit_inputs(spark)
    assert {r.doc_id for r in labels_chk.select("doc_id").collect()} \
        == ids_later
    # old ids in the later slice were all in the earlier slice
    assert {i for i in ids_later if i < 300} <= ids_now


def test_refit_knob_validation(tmp_path):
    import pytest as _pytest

    with _pytest.raises(ValueError, match="refit_every"):
        IncrementalQualityClassifier(
            str(tmp_path / "s"), label_col="y", refit_every=0
        )
    with _pytest.raises(ValueError, match="max_refit_docs"):
        IncrementalQualityClassifier(
            str(tmp_path / "s"), label_col="y", max_refit_docs=0
        )


def test_compaction_preserves_model_and_registry(spark, tmp_path):
    """compact() coalesces the wave-per-batch registry to w=-1 while
    carrying the _model sidecar DIRECTORY through the swap (a plain
    compact_parquet used to destroy it); the model is byte-identical
    before and after, post-compaction ingest + refit still equal the
    batch fit, and the file count drops."""
    from beavers_spark.streaming.maintenance import partition_stats

    clf = _mk(spark, tmp_path)
    w1 = _docs(spark, POS[:3] + NEG[:2], start=0)
    w2 = _docs(spark, POS[3:] + NEG[2:], start=100)
    clf(w1, 0)
    clf(w2, 1)
    before_model = _model_map(clf.model(spark))
    n_rows = clf.read_state(spark).count()
    files_before, _, _ = partition_stats(spark, [clf.state_path])
    files_after = clf.compact(spark)
    assert files_after < files_before
    # everything landed in the single merged wave (a no-op regression
    # would leave w=0 / w=1 and still pass a <= file check)
    import os

    waves = {n for n in os.listdir(clf.state_path) if n.startswith("w=")}
    assert waves == {"w=-1"}
    assert _model_map(clf.model(spark)) == before_model
    assert clf.read_state(spark).count() == n_rows
    # the redelivery probe still sees the compacted rows: a wave that
    # redelivers an already-ingested doc id contributes nothing
    clf(_docs(spark, POS[:1], start=0), 2)
    assert clf.read_state(spark).count() == n_rows
    # post-compaction wave + refit still equals batch on the union
    w3 = _docs(spark, POS[:2] + NEG[:2], start=200)
    clf(w3, 3)
    want = _model_map(
        logreg_fit(
            spark,
            w1.unionByName(w2).unionByName(w3),
            "y",
            n_buckets=_N_BUCKETS,
        )
    )
    assert _model_map(clf.model(spark)) == want


def test_compact_refuses_uncommitted_wave(spark, tmp_path):
    """A wave directory above the watermark (crashed batch, not yet
    replayed) must block compaction: folding its partial rows into
    w=-1 would hide them from the replay's own-wave exclusion and
    truncate those documents' state forever."""
    import os

    import pytest as _pytest

    clf = _mk(spark, tmp_path)
    clf(_docs(spark, POS[:3] + NEG[:3]), 0)
    # fabricate the crash: wave 1's directory exists, watermark says 0
    os.makedirs(os.path.join(clf.state_path, "w=1"))
    with _pytest.raises(RuntimeError, match="watermark"):
        clf.compact(spark)
    # same guard on the dedup twins (shared maintenance helper)
    from beavers_spark.streaming import IncrementalTfidfDedup

    dedup = IncrementalTfidfDedup(
        str(tmp_path / "td_state"), str(tmp_path / "td_cand"),
        text_col="text", id_col="doc_id",
    )
    dedup(_docs(spark, POS[:2]).select("doc_id", "text"), 0)
    os.makedirs(os.path.join(dedup.cand_path, "w=7"))
    with _pytest.raises(RuntimeError, match="watermark"):
        dedup.compact(spark)


def test_refit_slice_partition_prune_and_layout_guard(spark, tmp_path):
    """The capped refit's training scan must partition-prune the
    registry to the slice's ``sb`` buckets (VERDICT r8 item 2 — the
    O(corpus)->O(slice) fix), without changing which rows train; and
    the persisted bucket modulus is layout-guarded like the dedup
    registries (a different ``n_slice_buckets`` would prune away slice
    rows: silently wrong refits)."""
    import pytest as _pytest

    clf = IncrementalQualityClassifier(
        str(tmp_path / "clf_state"), label_col="y",
        n_buckets=_N_BUCKETS, max_refit_docs=2,
    )
    rows = [(f"quality prose citation facts v{i}", i % 2)
            for i in range(30)]
    clf(_docs(spark, rows), 0)

    doc_tf, labels = clf.refit_inputs(spark)
    fm = doc_tf._sc._jvm.PythonSQLUtils.explainString(
        doc_tf._jdf.queryExecution(), "formatted"
    )
    import re

    # 30 docs vs cap 2 -> thresh >> 36 leaves most of the 16 sb
    # directories out of the scan
    assert re.search(r"PartitionFilters: \[[^\]]*sb#\d+ <= \d", fm), fm
    # prune is a superset of the slice: the pruned frames hold exactly
    # the rows the row-level hash predicate keeps over the full state
    got_ids = {r.doc_id for r in labels.collect()}
    from beavers_spark.streaming.classifier_stream import _SLICE_MOD

    state = clf.read_state(spark)
    n = 30
    thresh = max(1, (_SLICE_MOD * 2) // n)
    want_ids = {
        r.doc_id
        for r in state.select("doc_id")
        .distinct()
        .filter(clf._slice_hash() < F.lit(thresh))
        .collect()
    }
    assert got_ids == want_ids
    assert doc_tf.count() == state.filter(
        clf._slice_hash() < F.lit(thresh)
    ).count()

    # restart with a different persisted bucket modulus -> refuse
    other = IncrementalQualityClassifier(
        str(tmp_path / "clf_state"), label_col="y",
        n_buckets=_N_BUCKETS, n_slice_buckets=4,
    )
    with _pytest.raises(ValueError, match="n_slice_buckets"):
        other(_docs(spark, rows[:2], start=500), 1)
    # and a non-power-of-two modulus is rejected up front
    with _pytest.raises(ValueError, match="power of two"):
        IncrementalQualityClassifier(
            str(tmp_path / "s2"), label_col="y", n_slice_buckets=12
        )


def test_doc_counts_sidecar_tracks_registry(spark, tmp_path):
    """The per-wave doc-counts sidecar must equal the registry's exact
    distinct-doc count after normal waves, EMPTY waves (recorded as 0 —
    the empty partitionBy directory cannot be read back), crash
    replays, and compaction (collapsed to the merged wave); a lost or
    CORRUPT sidecar falls back to the exact scan and SELF-HEALS on the
    next wave (all on-disk waves backfilled — review r9)."""
    import os

    clf = _mk(spark, tmp_path)
    clf(_docs(spark, POS + NEG), 0)
    clf(_docs(spark, POS[:2], start=50), 1)
    clf(_docs(spark, POS[:2], start=50), 2)  # all redelivered: empty wave
    counts = clf._read_counts()
    assert counts == {"0": 10, "1": 2, "2": 0}
    exact = (
        clf.read_state(spark).select("doc_id").distinct().count()
    )
    assert clf._registry_doc_count(spark) == exact == 12

    # corrupt sidecar (torn write) reads as MISSING, never crashes
    with open(clf._counts_file, "w") as fh:
        fh.write('{"0": 10, "1"')
    assert clf._read_counts() == {}
    # lost sidecar: exact fallback now ...
    os.remove(clf._counts_file)
    assert clf._registry_doc_count(spark) == 12
    # ... and the next wave SELF-HEALS the whole map (every on-disk
    # wave backfilled), restoring the O(1) path
    clf(_docs(spark, NEG[:1], start=90), 3)
    assert clf._read_counts() == {"0": 10, "1": 2, "2": 0, "3": 1}
    assert clf._registry_doc_count(spark) == 13

    # compaction collapses the map to the merged wave
    clf.compact(spark)
    assert clf._read_counts() == {"-1": 13}
    assert clf._registry_doc_count(spark) == 13


def test_all_empty_first_wave_does_not_wedge(spark, tmp_path):
    """A first batch whose docs tokenize to nothing writes an empty
    wave (w=0 with only _SUCCESS): the kernel must NOT claim state —
    the wave-0 refit and the next batch's seen probe would both raise
    UNABLE_TO_INFER_SCHEMA on a file-less registry (review r9). The
    following real wave then proceeds normally."""
    clf = _mk(spark, tmp_path)
    empty_docs = spark.createDataFrame(
        [(1, "", 1), (2, "   ", 0)], "doc_id long, text string, y int"
    )
    clf(empty_docs, 0)  # no crash: refit skipped, no state claimed
    assert clf.model(spark).count() == 0
    clf(_docs(spark, POS[:2] + NEG[:2], start=10), 1)  # seen probe safe
    assert clf.model(spark).count() > 0
    from beavers_spark.functions.classifier import logreg_fit

    want = _model_map(
        logreg_fit(
            spark, _docs(spark, POS[:2] + NEG[:2], start=10), "y",
            n_buckets=_N_BUCKETS,
        )
    )
    assert _model_map(clf.model(spark)) == want


def test_wave_distinct_local_row_cap_falls_back_to_spark(
    spark, tmp_path, monkeypatch
):
    """The driver-local wave distinct count is BOUNDED: past ``row_cap``
    total rows (checked from parquet footers alone, before any data
    read) it returns None and the kernel takes the distributed Spark
    distinct count instead — so a compacted ``w=-1`` wave holding the
    whole registry, or any at-scale micro-batch, can never pull an
    unbounded id column into a driver-side Python set (VERDICT r13
    item 1 / ADVICE r13)."""
    from beavers_spark.streaming import classifier_stream as cs

    clf = _mk(spark, tmp_path)
    clf(_docs(spark, POS + NEG), 0)
    wave_dir = str(tmp_path / "clf_state" / "w=0")

    # under the cap: the id column, driver-local — 10 distinct ids
    rows, ids = cs.read_wave_local(wave_dir, "doc_id")
    assert len(ids.unique()) == 10 and rows == len(ids)
    # over the cap (footers already show > row_cap rows): the row
    # count from the footers, no data read — the caller hands off
    assert cs.read_wave_local(wave_dir, "doc_id", row_cap=3) == (rows, None)

    # end-to-end: with the driver-local path refusing, the kernel's
    # Spark fallback must produce the same exact sidecar counts
    monkeypatch.setattr(cs, "read_wave_local", lambda *a, **k: None)
    clf(_docs(spark, POS[:3], start=50), 1)
    counts = clf._read_counts()
    assert counts == {"0": 10, "1": 3}
    assert clf._registry_doc_count(spark) == 13


def test_registry_one_label_per_id_invariant(spark, tmp_path):
    """Labels derive from the registry via ``dropDuplicates([id])``,
    which picks an ARBITRARY y if an id ever lands with two labels (a
    replay/compaction bug class — the redelivery guard is what rules it
    out). Guard the invariant loudly (ADVICE r13): after ingest,
    ``count(distinct id) == count(distinct (id, y))`` must hold on the
    registry, so a violation fails here instead of silently training
    on an arbitrary label."""
    clf = _mk(spark, tmp_path)
    clf(_docs(spark, POS + NEG), 0)
    clf(_docs(spark, POS[:3] + NEG[:2], start=50), 1)
    # a redelivered id with a FLIPPED label must not slip in either
    clf(_docs(spark, [(t, 1 - y) for t, y in POS[:2]]), 2)
    reg = clf.read_state(spark)
    n_ids = reg.select("doc_id").distinct().count()
    n_id_y = reg.select("doc_id", "y").distinct().count()
    assert n_ids == n_id_y == 15

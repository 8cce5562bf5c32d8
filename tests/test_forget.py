"""Right-to-be-forgotten on the incremental dedup registries
(maintenance.forget_doc_rows + the kernels' forget methods): forgotten
docs vanish from state AND outputs, the rewrite is Bloom-targeted to
the waves that hold them, ownership re-opens ("first arrival after
forgetting"), redelivery of a forgotten id is admitted as brand-new,
and the operation is idempotent."""

from __future__ import annotations

from pyspark.sql import functions as F

from beavers_spark.plans.common import t
from beavers_spark.streaming import IncrementalChunkDedup, IncrementalNearDedup

SF_DIR = "/root/testdata/sf0.001"


def _docs(spark, lo, hi):
    return (
        t(spark, SF_DIR, "documents")
        .select("doc_id", "text")
        .filter((F.col("doc_id") >= lo) & (F.col("doc_id") < hi))
    )


def test_chunk_forget_reopens_ownership(spark, tmp_path):
    df = spark.createDataFrame(
        [(1, "a b c d e"), (2, "z y x w v")],
        "doc_id long, text string",
    )
    kern = IncrementalChunkDedup(
        str(tmp_path / "state"), str(tmp_path / "out"),
        text_col="text", id_col="doc_id", k=5, bloom_min_waves=0,
    )
    kern(df, 0)
    assert {r.doc_id for r in kern.read_kept(spark).collect()} == {1, 2}

    n = kern.forget(spark, [1])
    assert n >= 1
    # state + output cleansed
    assert {r.doc_id for r in kern.read_state(spark).collect()} == {2}
    assert {r.doc_id for r in kern.read_kept(spark).collect()} == {2}
    # idempotent: nothing left to drop
    assert kern.forget(spark, [1]) == 0

    # ownership RE-OPENED: a new doc with doc 1's exact segment now
    # becomes its owner (pre-forget it would have been a duplicate)
    kern(
        spark.createDataFrame([(9, "a b c d e")], "doc_id long, text string"),
        1,
    )
    kept = {r.doc_id: r.n_kept for r in kern.read_kept(spark).collect()}
    assert kept.get(9) == 1, "forgotten segment must be re-ownable"

    # redelivery of a forgotten id: admitted as brand-new. Forget doc
    # 2 (whose segment nobody else owns) and redeliver it — it re-owns
    # its segment and re-enters state + output; had the seen guard
    # still remembered it, the batch would drain to nothing.
    kern.forget(spark, [2])
    assert kern.read_state(spark).filter(F.col("doc_id") == 2).count() == 0
    kern(df.filter(F.col("doc_id") == 2), 2)
    kept = {r.doc_id: r.n_kept for r in kern.read_kept(spark).collect()}
    assert kept.get(2) == 1, "forgotten id must be admitted as new"
    assert kern.read_state(spark).filter(F.col("doc_id") == 2).count() == 1


def test_chunk_forget_is_bloom_targeted(spark, tmp_path):
    """Only the wave(s) that may hold the ids are rewritten: with the
    doc-id sidecars present, forgetting a wave-1 doc must not rewrite
    the disjoint waves 0 and 2."""
    kern = IncrementalChunkDedup(
        str(tmp_path / "state"), str(tmp_path / "out"),
        text_col="text", id_col="doc_id", k=5, bloom_min_waves=0,
    )
    for i, (lo, hi) in enumerate(((0, 70), (70, 140), (140, 200))):
        kern(_docs(spark, lo, hi), i)
    victim = [
        r.doc_id
        for r in _docs(spark, 70, 140).limit(1).collect()
    ]
    # state: exactly wave 1 rewritten; out: exactly wave 1 rewritten
    assert kern.forget(spark, victim) == 2
    assert not kern.read_state(spark).filter(
        F.col("doc_id").isin(victim)
    ).count()


def test_near_forget_drops_pairs_and_rebuilds_anchors(spark, tmp_path):
    base = "the quick brown fox jumps over the lazy dog again and again"
    df = spark.createDataFrame(
        [(1, base), (2, base), (3, "completely different text here ok")],
        "doc_id long, text string",
    )
    kern = IncrementalNearDedup(
        str(tmp_path / "state"), str(tmp_path / "pairs"),
        text_col="text", id_col="doc_id", threshold=0.5,
        bloom_min_waves=0,
    )
    kern(df, 0)
    assert {
        (r.doc1, r.doc2) for r in kern.read_pairs(spark).collect()
    } == {(1, 2)}

    kern.forget(spark, [2])
    assert {r.doc_id for r in kern.read_state(spark).collect()} == {1, 3}
    # every pair involving the forgotten doc is gone
    assert kern.read_pairs(spark).count() == 0

    # redelivery of the forgotten id: admitted as brand-new, and its
    # duplicate relation to the SURVIVING doc 1 is re-emitted
    kern(df.filter(F.col("doc_id") == 2), 1)
    assert {
        (r.doc1, r.doc2) for r in kern.read_pairs(spark).collect()
    } == {(1, 2)}
    # state/anchors wave parity held through the rebuild: a further
    # disjoint wave runs clean end to end
    kern(
        spark.createDataFrame(
            [(7, "yet another unrelated document body")],
            "doc_id long, text string",
        ),
        2,
    )
    assert kern.read_state(spark).filter(F.col("doc_id") == 7).count() == 1


def test_frame_dedup_forget_reopens_frame_ownership(spark, tmp_path):
    """Video twin: forgetting a video frees its frame contents for
    re-ownership, and the video itself is re-admitted on redelivery."""
    from beavers_spark.plans.llmops import _synth_frame_avis
    from beavers_spark.streaming import IncrementalFrameDedup

    avis = _synth_frame_avis(spark, SF_DIR).filter(F.col("doc_id") < 40)
    kern = IncrementalFrameDedup(
        str(tmp_path / "state"), str(tmp_path / "out"),
        bloom_min_waves=0,
    )
    kern(avis.filter(F.col("doc_id") < 20), 0)
    kern(avis.filter(F.col("doc_id") >= 20), 1)
    victim = 0
    owned_before = (
        kern.read_kept(spark).filter(F.col("doc_id") == victim).count()
    )
    assert owned_before > 0
    n = kern.forget(spark, [victim])
    assert n >= 1
    assert kern.read_state(spark).filter(
        F.col("doc_id") == victim
    ).count() == 0
    assert kern.read_kept(spark).filter(
        F.col("doc_id") == victim
    ).count() == 0
    # redelivery: admitted as new; its frames re-enter ownership for
    # every content class nobody else holds
    kern(avis.filter(F.col("doc_id") == victim), 2)
    assert kern.read_state(spark).filter(
        F.col("doc_id") == victim
    ).count() > 0
    assert kern.forget(spark, [999999]) == 0  # unknown id: no-op


def test_substring_forget_reopens_spans(spark, tmp_path):
    from beavers_spark.streaming import IncrementalSubstringDedup

    span = "one two three four five six seven eight"
    df = spark.createDataFrame(
        [(1, f"{span} tail1a tail1b"), (2, "unrelated body of words here")],
        "doc_id long, text string",
    )
    kern = IncrementalSubstringDedup(
        str(tmp_path / "state"), str(tmp_path / "out"),
        text_col="text", id_col="doc_id", k=8,
    )
    kern(df, 0)
    # doc 3 repeats doc 1's span: flagged duplicate against ownership
    dup = spark.createDataFrame(
        [(3, f"{span} tail3a tail3b")], "doc_id long, text string"
    )
    kern(dup, 1)
    assert kern.read_dup_ranges(spark).filter(
        F.col("doc_id") == 3
    ).count() > 0

    n = kern.forget(spark, [1, 3])
    assert n >= 1
    assert kern.read_state(spark).filter(
        F.col("doc_id").isin([1, 3])
    ).count() == 0
    assert kern.read_dup_ranges(spark).filter(
        F.col("doc_id").isin([1, 3])
    ).count() == 0
    assert kern.forget(spark, [1, 3]) == 0  # idempotent

    # span ownership RE-OPENED: the same span arriving now is owned,
    # not flagged
    kern(
        spark.createDataFrame(
            [(9, f"{span} tail9a tail9b")], "doc_id long, text string"
        ),
        2,
    )
    assert kern.read_state(spark).filter(
        F.col("doc_id") == 9
    ).count() > 0
    assert kern.read_dup_ranges(spark).filter(
        F.col("doc_id") == 9
    ).count() == 0


def test_tfidf_forget_drops_candidates_and_readmits(spark, tmp_path):
    from beavers_spark.streaming import IncrementalTfidfDedup

    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    df = spark.createDataFrame(
        [(1, base), (2, base), (3, "something else entirely words")],
        "doc_id long, text string",
    )
    kern = IncrementalTfidfDedup(
        str(tmp_path / "state"), str(tmp_path / "cand"),
        text_col="text", id_col="doc_id",
    )
    kern(df, 0)
    assert {
        (r.doc1, r.doc2) for r in kern.read_candidates(spark).collect()
    } == {(1, 2)}

    n = kern.forget(spark, [2])
    assert n >= 1
    assert kern.read_state(spark).filter(F.col("doc_id") == 2).count() == 0
    assert kern.read_candidates(spark).count() == 0
    # redelivery: admitted as brand-new, candidate vs survivor re-emitted
    kern(df.filter(F.col("doc_id") == 2), 1)
    assert {
        (r.doc1, r.doc2) for r in kern.read_candidates(spark).collect()
    } == {(1, 2)}


def test_classifier_forget_refits_and_empties(spark, tmp_path):
    from beavers_spark.streaming import IncrementalQualityClassifier

    rows = [
        (i, f"quality prose citation facts v{i}", 1) for i in range(4)
    ] + [
        (i + 10, f"spamword{i} lottery buy clicks now", 0)
        for i in range(4)
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string, y int")
    clf = IncrementalQualityClassifier(
        str(tmp_path / "clf"), label_col="y", n_buckets=64
    )
    clf(df, 0)
    before = {r.bucket: r.w for r in clf.model(spark).collect()}
    assert before
    refits_before = clf.refit_count

    # forgetting half the corpus must REFIT: the model memorized the
    # forgotten docs' features
    n = clf.forget(spark, [0, 1, 2, 3])
    assert n >= 1
    assert clf.refit_count == refits_before + 1
    after = {r.bucket: r.w for r in clf.model(spark).collect()}
    assert after != before
    assert clf.read_state(spark).filter(F.col("doc_id") < 4).count() == 0

    # forgetting the rest empties state AND removes the model; the
    # next batch must run clean (the empty-table trap)
    clf.forget(spark, [10, 11, 12, 13])
    assert clf.model(spark).count() == 0
    clf(df.limit(2), 1)
    assert clf.model(spark).count() > 0


def test_image_neardup_forget_drops_pairs(spark, tmp_path):
    from beavers_spark.plans.llmops import _ppm_dims, _ppm_pixels
    from beavers_spark.plans.common import t
    from beavers_spark.streaming import IncrementalImageNearDedup

    docs = t(spark, SF_DIR, "documents").filter(F.col("doc_id") < 60)
    w, h = _ppm_dims()
    imgs = docs.select("doc_id", _ppm_pixels(w, h).alias("payload"))
    nd = IncrementalImageNearDedup(
        str(tmp_path / "state"), str(tmp_path / "pairs")
    )
    nd(imgs.filter(F.col("doc_id") < 30), 0)
    nd(imgs.filter(F.col("doc_id") >= 30), 1)
    pairs = {
        (r.doc1, r.doc2) for r in nd.read_pairs(spark).collect()
    }
    assert pairs, "generator duplicate classes must collide"
    victim = pairs.copy().pop()[0]
    n = nd.forget(spark, [victim])
    assert n >= 1
    assert nd.read_state(spark).filter(
        F.col("doc_id") == victim
    ).count() == 0
    # the band registry too: its sweep is targeted through the sig
    # table's doc-id guard, which must still name the victim's wave
    assert spark.read.parquet(nd.bands_path).filter(
        F.col("doc_id") == victim
    ).count() == 0
    left = {
        (r.doc1, r.doc2) for r in nd.read_pairs(spark).collect()
    }
    assert all(victim not in p for p in left)
    # redelivery re-admits and re-emits the duplicate relation
    nd(imgs.filter(F.col("doc_id") == victim), 2)
    again = {
        (r.doc1, r.doc2) for r in nd.read_pairs(spark).collect()
    }
    assert any(victim in p for p in again)


def test_forget_all_then_next_batch_runs(spark, tmp_path):
    """ADVICE r11: forgetting EVERY doc removed the partitioned
    table's last schema file while the kernel's cached _has_state
    stayed True — the next batch crashed with UNABLE_TO_INFER_SCHEMA
    in the seen probe."""
    df = spark.createDataFrame(
        [(1, "a b c d e"), (2, "z y x w v")],
        "doc_id long, text string",
    )
    kern = IncrementalChunkDedup(
        str(tmp_path / "state"), str(tmp_path / "out"),
        text_col="text", id_col="doc_id", k=5,
    )
    kern(df, 0)
    kern.forget(spark, [1, 2])
    kern(df, 1)  # must not raise
    assert {r.doc_id for r in kern.read_kept(spark).collect()} == {1, 2}


def test_forget_crash_window_recovery(spark, tmp_path):
    """A crash between forget's two renames leaves the wave aside as
    ``.swap_old.w=<n>`` (plus possibly a stale ``_forget_tmp``);
    recover_compaction (run at every kernel entry and at the top of
    forget_doc_rows) must restore the wave — the SURVIVING rows are
    never lost."""
    import os
    import shutil

    from beavers_spark.streaming.maintenance import recover_compaction

    df = spark.createDataFrame(
        [(1, "a b c d e"), (2, "z y x w v")],
        "doc_id long, text string",
    )
    kern = IncrementalChunkDedup(
        str(tmp_path / "state"), str(tmp_path / "out"),
        text_col="text", id_col="doc_id", k=5,
    )
    kern(df, 0)
    state = str(tmp_path / "state")
    # simulate the crash window: wave moved aside, swap never happened
    os.rename(f"{state}/w=0", f"{state}/.swap_old.w=0")
    shutil.copytree(
        f"{state}/.swap_old.w=0", f"{state}/.swap_tmp.w=0"
    )
    assert recover_compaction(state)
    assert os.path.isdir(f"{state}/w=0")
    assert not os.path.exists(f"{state}/.swap_old.w=0")
    assert not os.path.exists(f"{state}/.swap_tmp.w=0")
    assert {r.doc_id for r in kern.read_state(spark).collect()} == {1, 2}
    # the swapped-but-not-cleaned window: old present AND wave present
    shutil.copytree(f"{state}/w=0", f"{state}/.swap_old.w=0")
    assert recover_compaction(state)
    assert not os.path.exists(f"{state}/.swap_old.w=0")


def test_ivf_index_forget_is_cell_targeted(spark, tmp_path):
    """Embeddings are derived personal data: forget deletes the ids'
    vectors, rewrites only the victim cells, and a redelivered id is
    indexed as brand-new."""
    from beavers_spark.plans.common import t as _t
    from beavers_spark.streaming import IncrementalIVFIndex

    emb = _t(spark, SF_DIR, "embeddings").select("vec_id", "embedding")
    index = IncrementalIVFIndex(
        str(tmp_path / "ivf"), id_col="vec_id", n_cells=4
    )
    for i in range(2):
        index(emb.filter(F.col("vec_id") % 2 == i), i)
    victims = [r.vec_id for r in emb.limit(3).collect()]
    n = index.forget(spark, victims)
    assert 1 <= n <= 3  # at most one rewrite per victim cell
    left = index.read_index(spark)
    assert left.filter(F.col("neighbor_id").isin(victims)).count() == 0
    assert index.forget(spark, victims) == 0  # idempotent
    # search still works and never returns a forgotten id
    hits = index.search(emb.filter(F.col("vec_id") < 5), k=5, n_probe=4)
    assert hits.filter(F.col("neighbor_id").isin(victims)).count() == 0
    # redelivery: indexed as brand-new
    index(emb.filter(F.col("vec_id") == victims[0]), 9)
    assert index.read_index(spark).filter(
        F.col("neighbor_id") == victims[0]
    ).count() == 1


def test_keyed_state_forget_and_empty_table(spark, tmp_path):
    from beavers_spark.streaming import KeyedStateTable

    state = KeyedStateTable(
        str(tmp_path / "ks"), keys=["k"], order_by="seq", n_buckets=8
    )
    df = spark.createDataFrame(
        [("a", 1, 10.0), ("b", 1, 20.0), ("c", 1, 30.0)],
        "k string, seq long, v double",
    )
    state(df, 0)
    assert state.forget(spark, ["a"]) >= 1
    assert {r.k for r in state.read(spark).collect()} == {"b", "c"}
    assert state.forget(spark, ["a"]) == 0  # idempotent
    # forgetting everything leaves a readable empty table, and the
    # next upsert works
    state.forget(spark, ["b", "c"])
    assert state.read(spark).count() == 0
    state(df.filter(F.col("k") == "a"), 1)
    assert {r.k for r in state.read(spark).collect()} == {"a"}


def test_clusters_forget_purges_victim_labels(spark, tmp_path):
    """A min-id cluster label IS a doc id: forgetting the label-doc
    must relabel survivors to their min surviving id, and the
    forgotten id must appear nowhere — rows or labels."""
    from beavers_spark.streaming import IncrementalClusters

    cl = IncrementalClusters(str(tmp_path / "cl"), n_buckets=8)
    cl(
        spark.createDataFrame(
            [(1, 2), (2, 3), (7, 8)], "doc1 long, doc2 long"
        ),
        0,
    )
    labels = {
        (r.doc_id, r.cluster_id)
        for r in cl.read_clusters(spark).collect()
    }
    assert labels == {(1, 1), (2, 1), (3, 1), (7, 7), (8, 7)}
    n = cl.forget(spark, [1])
    assert n == 1
    after = {
        (r.doc_id, r.cluster_id)
        for r in cl.read_clusters(spark).collect()
    }
    # survivors relabel to min surviving id; untouched cluster intact
    assert after == {(2, 2), (3, 2), (7, 7), (8, 7)}
    assert cl.forget(spark, [1]) == 0  # idempotent
    # forgetting a whole cluster leaves the table readable
    cl.forget(spark, [7, 8])
    assert {
        (r.doc_id, r.cluster_id)
        for r in cl.read_clusters(spark).collect()
    } == {(2, 2), (3, 2)}


def test_chunk_forget_after_compaction(spark, tmp_path):
    """VERDICT r12 item 2: compact() coalesces every wave into ``w=-1``
    with an OR-merged doc-seen sidecar — the WORST case for Bloom
    targeting (one giant wave; the rewrite degrades toward O(table),
    see forget_doc_rows' docstring). The contract must hold anyway:
    ids vanish from registry + output, the rewrite touches exactly the
    one merged wave per table, ownership re-opens, and a redelivered
    victim is admitted as brand-new. Covers the partitioned (state:
    ``w``/``b``, cluster_by h) and plain-wave (out: ``w``, cluster_by
    doc_id) layouts in one pass."""
    kern = IncrementalChunkDedup(
        str(tmp_path / "state"), str(tmp_path / "out"),
        text_col="text", id_col="doc_id", k=5, bloom_min_waves=0,
    )
    for i, (lo, hi) in enumerate(((0, 70), (70, 140), (140, 200))):
        kern(_docs(spark, lo, hi), i)
    victims = [
        r.doc_id for r in _docs(spark, 70, 140).limit(2).collect()
    ]
    kern.compact(spark)
    assert {
        f.name
        for f in (tmp_path / "state").iterdir()
        if f.name.startswith("w=")
    } == {"w=-1"}

    # exactly the merged wave per table: registry + output = 2
    assert kern.forget(spark, victims) == 2
    assert not kern.read_state(spark).filter(
        F.col("doc_id").isin(victims)
    ).count()
    assert not kern.read_kept(spark).filter(
        F.col("doc_id").isin(victims)
    ).count()
    # idempotent against the merged layout too
    assert kern.forget(spark, victims) == 0

    # re-admission: the victim comes back as a brand-new doc and
    # re-owns its (now-orphaned) segments; later waves still run
    kern(_docs(spark, victims[0], victims[0] + 1), 3)
    kept = {r.doc_id for r in kern.read_kept(spark).collect()}
    assert victims[0] in kept, "redelivered victim must re-enter"
    kern(_docs(spark, 200, 230), 4)
    assert kern.read_state(spark).count() > 0


def test_near_forget_after_compaction(spark, tmp_path):
    """Same compact->forget->redeliver pin for the near-dup kernel
    (state cluster_by doc_id; pairs plain ``w`` layout): forgetting one
    side of a pair after compaction drops the pair from the merged
    pairs wave, rebuilds anchors from the cleansed state, and a
    redelivery re-emits the duplicate relation against the survivor."""
    base = "the quick brown fox jumps over the lazy dog again and again"
    df = spark.createDataFrame(
        [(1, base), (2, base), (3, "completely different text here ok")],
        "doc_id long, text string",
    )
    kern = IncrementalNearDedup(
        str(tmp_path / "state"), str(tmp_path / "pairs"),
        text_col="text", id_col="doc_id", threshold=0.5,
        bloom_min_waves=0,
    )
    kern(df.filter(F.col("doc_id") <= 1), 0)
    kern(df.filter(F.col("doc_id") >= 2), 1)
    assert {
        (r.doc1, r.doc2) for r in kern.read_pairs(spark).collect()
    } == {(1, 2)}
    kern.compact(spark)

    n = kern.forget(spark, [2])
    assert n >= 2  # merged state wave + merged pairs wave
    assert {r.doc_id for r in kern.read_state(spark).collect()} == {1, 3}
    assert kern.read_pairs(spark).count() == 0

    # redelivery after the compacted forget: brand-new admission, and
    # the duplicate relation to the surviving doc 1 re-emitted
    kern(df.filter(F.col("doc_id") == 2), 2)
    assert {
        (r.doc1, r.doc2) for r in kern.read_pairs(spark).collect()
    } == {(1, 2)}


def test_ivfpq_forget_keeps_codebook_contract(spark, tmp_path):
    """VERDICT r12 item 5: the IVF-PQ forget contract, decided and
    pinned. Forget deletes the victims' rows (codes AND raw vectors);
    the trained model file — coarse centroids + PQ codebooks,
    aggregate quantization geometry — is deliberately KEPT, byte-for-
    byte (no silent refit: a refit would re-cell the whole index and
    break train-once determinism; see the forget docstring for why
    structure-not-output makes this sound where the classifier must
    refit). Search after forget never returns a victim, and a
    redelivered victim re-encodes DETERMINISTICALLY under the
    preserved codebook."""
    import os

    from beavers_spark.plans.common import t as _t
    from beavers_spark.streaming import IncrementalIVFPQIndex

    emb = _t(spark, SF_DIR, "embeddings").select("vec_id", "embedding")
    index = IncrementalIVFPQIndex(
        str(tmp_path / "pq"), id_col="vec_id", n_cells=4, m=8, nbits=4
    )
    for i in range(2):
        index(emb.filter(F.col("vec_id") % 2 == i), i)
    model_path = os.path.join(str(tmp_path / "pq"), "_ivfpq_model.json")
    with open(model_path, "rb") as fh:
        model_before = fh.read()
    victims = [r.vec_id for r in emb.limit(3).collect()]
    victim_rows = {
        r.neighbor_id: (list(r.code), r.cell)
        for r in index.read_index(spark)
        .filter(F.col("neighbor_id").isin(victims))
        .select("neighbor_id", "code", "cell")
        .collect()
    }

    n = index.forget(spark, victims)
    assert 1 <= n <= 3
    assert index.read_index(spark).filter(
        F.col("neighbor_id").isin(victims)
    ).count() == 0
    # the codebook file is untouched — the documented keep decision
    with open(model_path, "rb") as fh:
        assert fh.read() == model_before
    # victims can never come back through search
    hits = index.search(
        emb.filter(F.col("vec_id") < 5), k=5, n_probe=4, refine=8
    )
    assert hits.filter(F.col("neighbor_id").isin(victims)).count() == 0
    # redelivery under the preserved codebook: identical cell + codes
    # (train-once determinism survives the forget)
    index(emb.filter(F.col("vec_id") == victims[0]), 9)
    r = (
        index.read_index(spark)
        .filter(F.col("neighbor_id") == victims[0])
        .select("neighbor_id", "code", "cell")
        .collect()
    )
    assert len(r) == 1
    assert (list(r[0].code), r[0].cell) == victim_rows[victims[0]]

"""compact_parquet: small-file compaction for append-only state tables,
swap-based so readers never see a half-written table."""

from __future__ import annotations

import os

import pytest

from pyspark.sql import functions as F

from beavers_spark.plans.common import t
from beavers_spark.streaming import (
    IncrementalIVFIndex,
    IncrementalNearDedup,
    compact_parquet,
)

SF_DIR = "/root/testdata/sf0.001"


def test_compact_dedup_state_preserves_results(spark, tmp_path):
    docs = t(spark, SF_DIR, "documents").select("doc_id", "text").limit(150)
    dedup = IncrementalNearDedup(
        state_path=str(tmp_path / "state"),
        pairs_path=str(tmp_path / "pairs"),
        text_col="text",
        id_col="doc_id",
        threshold=0.2,
    )
    for wave in range(3):
        dedup(docs.filter(F.col("doc_id") % 3 == wave), wave)

    state = dedup.read_state(spark)
    before_rows = state.count()
    before_files = len(state.inputFiles())
    assert before_files >= 3  # one file set per appended batch

    after_files = dedup.compact(spark)
    assert after_files < before_files
    assert dedup.read_state(spark).count() == before_rows
    # waves coarsened into the reserved compaction partition
    assert [r["w"] for r in
            spark.read.parquet(str(tmp_path / "state"))
            .select("w").distinct().collect()] == [-1]

    # the compacted state still serves incremental batches correctly:
    # a real post-compaction wave must find cross-wave pairs identical
    # to an uncompacted control run
    control = IncrementalNearDedup(
        state_path=str(tmp_path / "c_state"),
        pairs_path=str(tmp_path / "c_pairs"),
        text_col="text",
        id_col="doc_id",
        threshold=0.2,
    )
    full = t(spark, SF_DIR, "documents").select("doc_id", "text").limit(200)
    for wave in range(3):
        control(docs.filter(F.col("doc_id") % 3 == wave), wave)
    dedup(full, 3)
    control(full, 3)
    key = lambda r: (r["doc1"], r["doc2"])  # noqa: E731
    assert sorted(map(key, dedup.read_pairs(spark).collect())) == sorted(
        map(key, control.read_pairs(spark).collect())
    )
    dedup(docs.limit(0), 99)  # empty batch: no-op
    pairs_after = dedup.read_pairs(spark).count()
    assert pairs_after == control.read_pairs(spark).count()


def test_compact_ivf_index_keeps_partitions_and_sidecar(spark, tmp_path):
    emb = t(spark, SF_DIR, "embeddings").select("vec_id", "embedding")
    index = IncrementalIVFIndex(
        str(tmp_path / "ivf"), id_col="vec_id", n_cells=4
    )
    for i in range(3):
        index(emb.filter(F.col("vec_id") % 3 == i), i)

    queries = emb.filter(F.col("vec_id") < 5)
    before = {
        (r.query_id, r.neighbor_id, r.sim)
        for r in index.search(queries, k=5, n_probe=4).collect()
    }
    n_files_before = len(index.read_index(spark).inputFiles())

    after_files = compact_parquet(
        spark, str(tmp_path / "ivf"), partition_by="cell"
    )
    assert after_files < n_files_before
    # cell directories survive (partition pruning still applies)
    cells = [
        d for d in os.listdir(str(tmp_path / "ivf")) if d.startswith("cell=")
    ]
    assert len(cells) == 4
    # the centroid sidecar survives: a fresh object can still search
    fresh = IncrementalIVFIndex(str(tmp_path / "ivf"), id_col="vec_id", n_cells=4)
    after = {
        (r.query_id, r.neighbor_id, r.sim)
        for r in fresh.search(queries, k=5, n_probe=4).collect()
    }
    assert after == before


def test_recover_compaction_restores_interrupted_swap(spark, tmp_path):
    """A crash between compact_parquet's two renames leaves the table at
    .__compact_old; recover_compaction (and the next compact_parquet)
    must restore it."""
    import shutil

    from beavers_spark.streaming.maintenance import recover_compaction

    path = str(tmp_path / "tbl")
    spark.range(100).write.parquet(path)
    rows = spark.read.parquet(path).count()

    # simulate the crash window: live dir renamed away, tmp never swapped in
    os.rename(path, path + ".__compact_old")
    assert recover_compaction(path)
    assert spark.read.parquet(path).count() == rows
    assert not recover_compaction(path)  # idempotent no-op when healthy

    # compact_parquet self-heals the same state
    os.rename(path, path + ".__compact_old")
    compact_parquet(spark, path)
    assert spark.read.parquet(path).count() == rows
    shutil.rmtree(path)


def test_table_exists_probe(spark, tmp_path):
    """table_exists: Hadoop-FS existence probe — False for missing paths
    and sidecar-only directories (a BatchWatermark written before the
    first parquet commit), True once a real parquet commit lands, with
    no exception control flow anywhere."""
    from beavers_spark.streaming.maintenance import BatchWatermark, table_exists

    path = str(tmp_path / "state")
    assert table_exists(spark, path) is False

    # sidecar-only directory: watermark marked before any parquet write
    BatchWatermark(path).mark(0)
    assert os.path.exists(os.path.join(path, "_last_batch.json"))
    assert table_exists(spark, path) is False

    spark.range(3).write.mode("append").parquet(path)
    assert table_exists(spark, path) is True

    # partitioned layout: partition dirs are non-hidden entries
    ppath = str(tmp_path / "partitioned")
    spark.range(4).withColumn("b", F.col("id") % 2).write.partitionBy(
        "b"
    ).parquet(ppath)
    assert table_exists(spark, ppath) is True


def test_keyed_state_wave_metrics(spark, tmp_path):
    from beavers_spark.streaming import KeyedStateTable

    state = KeyedStateTable(
        str(tmp_path / "state"), keys=["user_id"], order_by="event_id",
        n_buckets=4,
    )
    events = t(spark, SF_DIR, "events").select("user_id", "event_id", "event_type")
    for i in range(2):
        state(events.filter(F.pmod("event_id", F.lit(2)) == i), i)

    assert [m.batch_id for m in state.metrics] == [0, 1]
    for m in state.metrics:
        # every touched bucket holds data after the wave's rewrite
        assert 1 <= m.partitions <= 4
        assert m.files >= m.partitions  # >=1 data file per touched bucket
        assert m.bytes > 0
        # the bucket-clustered write keeps one file per touched bucket
        assert m.max_files_per_partition == 1
    # wave 1 merges wave 0's rows back in: the rewrite volume visibly
    # covers the merged buckets, not just the delta
    assert state.metrics[1].bytes > 0

    # empty batch: marks the watermark without a metrics row
    state(events.filter(F.lit(False)), 2)
    assert [m.batch_id for m in state.metrics] == [0, 1]


def test_near_dedup_wave_metrics(spark, tmp_path):
    dedup = IncrementalNearDedup(
        str(tmp_path / "state"), str(tmp_path / "pairs"),
        text_col="text", id_col="doc_id",
    )
    docs = t(spark, SF_DIR, "documents").select("doc_id", "text")
    for i in range(2):
        dedup(docs.filter(F.pmod("doc_id", F.lit(2)) == i), i)

    assert [m.batch_id for m in dedup.metrics] == [0, 1]
    for m in dedup.metrics:
        assert m.partitions == 1  # one wave directory per batch
        assert m.files >= 1 and m.bytes > 0
        assert m.max_files_per_partition == m.files
    # append-only state: per-wave bytes are the compaction-due signal,
    # so they must reflect THIS wave's directory only, not the table
    total = sum(m.bytes for m in dedup.metrics)
    import os as _os

    on_disk = sum(
        _os.path.getsize(_os.path.join(r, f))
        for r, _, fs in _os.walk(tmp_path / "state")
        for f in fs
        if not f.startswith(("_", "."))
    )
    assert total == on_disk


def test_bloom_m_bits_must_be_word_aligned():
    """bloom_build packs m_bits//64 words but the probe reconstructs the
    modulus as len(bits)*64 — a non-multiple-of-64 m_bits would make the
    two disagree and produce Bloom FALSE NEGATIVES (silently missed
    duplicates). The low-level builder refuses; WaveBloomIndex rounds
    caller knobs up instead."""
    import numpy as np
    import pytest

    from beavers_spark.streaming.maintenance import (
        WaveBloomIndex,
        bloom_build,
        bloom_may_contain_any,
    )

    for bad in (100, 63, -64, 0):
        with pytest.raises(ValueError):
            bloom_build(np.array([1, 2], dtype=np.int64), m_bits=bad)

    idx = WaveBloomIndex("/nonexistent", m_bits=100)
    assert idx.m_bits == 128  # rounded up, build and probe agree
    keys = np.arange(50, dtype=np.int64)
    bits = bloom_build(keys, m_bits=idx.m_bits)
    assert len(bits) * 64 == idx.m_bits
    for h in keys:
        assert bloom_may_contain_any(bits, np.asarray([h], dtype=np.int64))


def test_registry_anti_probe_never_shuffles_registry(spark, tmp_path):
    """The cross-batch probe's plan pin (VERDICT r5 item 4): under the
    broadcast cap the registry side appears only below broadcast
    semi/anti joins — no ``Exchange hashpartitioning(h...`` anywhere, so
    shuffle volume is O(batch) regardless of registry size. Past the
    cap the shuffled fallback engages. Results equal the plain
    anti-join either way."""
    import re

    from beavers_spark.streaming.maintenance import registry_anti_probe

    winners = spark.range(0, 100).selectExpr(
        "id AS h", "id AS doc_id", "id AS idx"
    )
    spark.range(50, 2000).selectExpr("id AS h").write.parquet(
        str(tmp_path / "registry")
    )
    prior = spark.read.parquet(str(tmp_path / "registry"))

    probed = registry_anti_probe(winners, prior, "h", n_rows=100)
    plan = probed._jdf.queryExecution().executedPlan().toString()
    assert re.search(r"BroadcastHashJoin .*LeftSemi|LeftSemi BuildRight", plan)
    assert not re.search(r"Exchange hashpartitioning\(h", plan)
    got = {r.h for r in probed.collect()}
    assert got == set(range(0, 50))

    # over-cap fallback: same result through the shuffled anti-join
    fallback = registry_anti_probe(
        winners, prior, "h", n_rows=100, broadcast_cap=10
    )
    assert {r.h for r in fallback.collect()} == got


def test_prune_hash_buckets_exact_and_noop(spark, tmp_path):
    import numpy as np

    from pyspark.sql import functions as F2

    from beavers_spark.streaming.maintenance import prune_hash_buckets

    reg = spark.range(0, 160).select(
        F2.col("id").alias("h"), F2.pmod("id", F2.lit(16)).alias("b")
    )
    # batch touches buckets {0, 1} only -> pruned frame holds exactly
    # those buckets' rows (exact: untouched buckets can't match)
    keys = np.array([0, 16, 17], dtype=np.int64)
    pruned = prune_hash_buckets(reg, keys, 16)
    assert {r.b for r in pruned.select("b").distinct().collect()} == {0, 1}
    # negative keys follow pmod semantics (non-negative bucket)
    assert {
        r.b
        for r in prune_hash_buckets(
            reg, np.array([-1], dtype=np.int64), 16
        ).select("b").distinct().collect()
    } == {15}
    # all buckets touched -> no-op
    allb = prune_hash_buckets(reg, np.arange(16, dtype=np.int64), 16)
    assert allb is reg


def test_seen_anti_join_never_shuffles_seen_set(spark, tmp_path):
    """The redelivery guard's plan pin: the corpus-sized seen column is
    scanned, semi-joined against the broadcast batch ids, and never
    exchanged — no ``Exchange hashpartitioning(doc_id`` in the plan.
    Duplicated seen rows (one per owned span) must not duplicate
    surviving batch rows, and the over-cap fallback gives identical
    results."""
    import re

    from beavers_spark.streaming.maintenance import seen_anti_join

    batch = spark.range(0, 10).selectExpr("id AS doc_id", "id * 2 AS v")
    # seen ids 5..19, each duplicated 3x (registry shape: one row per
    # owned span)
    spark.range(5, 20).selectExpr("id AS doc_id").unionAll(
        spark.range(5, 20).selectExpr("id AS doc_id")
    ).unionAll(spark.range(5, 20).selectExpr("id AS doc_id")).write.parquet(
        str(tmp_path / "seen")
    )
    seen = spark.read.parquet(str(tmp_path / "seen"))

    out = seen_anti_join(batch, seen, "doc_id")
    plan = out._jdf.queryExecution().executedPlan().toString()
    # every join is broadcast (semi probe of the seen scan + anti join
    # of the matched set) — a shuffled join would mean the corpus-sized
    # seen column entered an exchange
    assert re.search(r"BroadcastHashJoin .*LeftSemi|LeftSemi, BuildRight", plan)
    assert re.search(r"LeftAnti", plan)
    assert not re.search(r"SortMergeJoin|ShuffledHashJoin", plan)
    rows = sorted((r.doc_id, r.v) for r in out.collect())
    assert rows == [(i, 2 * i) for i in range(5)]

    fallback = seen_anti_join(batch, seen, "doc_id", broadcast_cap=3)
    assert sorted((r.doc_id, r.v) for r in fallback.collect()) == rows


def test_ensure_layout_guards_immutable_knobs(tmp_path):
    from beavers_spark.streaming.maintenance import ensure_layout

    state = str(tmp_path / "state")
    ensure_layout(state, k=8, n_hash_buckets=16)
    # same layout: fine
    ensure_layout(state, k=8, n_hash_buckets=16)
    # changed modulus against existing state: loud refusal, not silent
    # missed duplicates (review r6: waves persist b = h % N_old while
    # the probe prunes with N_new)
    with pytest.raises(ValueError, match="n_hash_buckets"):
        ensure_layout(state, k=8, n_hash_buckets=32)
    with pytest.raises(ValueError, match="layout mismatch"):
        ensure_layout(state, k=10, n_hash_buckets=16)


def test_ensure_layout_refuses_sidecar_less_existing_state(tmp_path):
    # A registry created before the sidecar existed (or whose sidecar
    # was lost) must NOT silently adopt the restarting kernel's knobs
    # (ADVICE r6): between the adoption and the first mixed-layout
    # failure, probes would prune with the wrong modulus and miss
    # duplicates. The operator must record the original knobs by hand.
    import os

    from beavers_spark.streaming.maintenance import ensure_layout

    state = str(tmp_path / "state")
    os.makedirs(os.path.join(state, "w=0"))
    with open(os.path.join(state, "w=0", "part-0.parquet"), "wb") as fh:
        fh.write(b"\x00")
    with pytest.raises(ValueError, match="no _layout.json"):
        ensure_layout(state, k=8, n_hash_buckets=16)
    # hand-written sidecar with the original knobs: validated normally
    import json

    with open(os.path.join(state, "_layout.json"), "w") as fh:
        json.dump({"k": 8, "n_hash_buckets": 16}, fh)
    ensure_layout(state, k=8, n_hash_buckets=16)
    with pytest.raises(ValueError, match="layout mismatch"):
        ensure_layout(state, k=8, n_hash_buckets=32)
    # an empty pre-made directory (mkdir then open) is still "fresh"
    fresh = str(tmp_path / "fresh")
    os.makedirs(fresh)
    ensure_layout(fresh, k=4)


def test_kernel_refuses_changed_bucket_modulus(spark, tmp_path):
    from beavers_spark.streaming import IncrementalChunkDedup

    d1 = IncrementalChunkDedup(
        str(tmp_path / "s"), str(tmp_path / "o"),
        text_col="text", id_col="doc_id", k=3, n_hash_buckets=8,
    )
    docs = spark.createDataFrame(
        [(1, "a b c d e"), (2, "f g h i j")], "doc_id long, text string"
    )
    d1(docs, 0)
    d2 = IncrementalChunkDedup(
        str(tmp_path / "s"), str(tmp_path / "o"),
        text_col="text", id_col="doc_id", k=3, n_hash_buckets=16,
    )
    with pytest.raises(ValueError, match="n_hash_buckets"):
        d2(docs, 1)


def test_bloom_max_fill_tracks_every_bitmap_build(tmp_path):
    """The saturation observable must cover per-wave saves AND the
    compaction-merged bitmap, start as None (so 'never built' is
    distinguishable from 'barely filled'), and approach 1.0 on an
    undersized filter (review r8)."""
    import numpy as np

    from beavers_spark.streaming.maintenance import WaveBloomIndex

    state = str(tmp_path / "state")
    idx = WaveBloomIndex(state, m_bits=1 << 10, min_waves=0)
    assert idx.max_fill is None
    (tmp_path / "state" / "w=0").mkdir(parents=True)
    idx.save_wave(f"{state}/w=0", np.arange(3, dtype=np.int64))
    low = idx.max_fill
    assert low is not None and 0 < low < 0.25
    # an undersized bitmap under many keys saturates — and the
    # observable must say so
    (tmp_path / "state" / "w=1").mkdir()
    idx.save_wave(f"{state}/w=1", np.arange(10_000, dtype=np.int64))
    assert idx.max_fill > 0.9
    # the merged w=-1 bitmap (written by compact_merge) is noted too
    idx2 = WaveBloomIndex(state, m_bits=1 << 10, min_waves=0)
    idx2.compact_merge(lambda: None)
    assert idx2.max_fill is not None and idx2.max_fill > 0.9


def test_compact_cluster_by_sorts_row_groups(spark, tmp_path):
    """compact_parquet(cluster_by=...) must leave every compacted
    file's rows sorted by the cluster key (VERDICT r10 item 4: narrow
    per-row-group min/max is what lets probe predicates skip row
    groups), with the row SET unchanged."""
    import glob

    import pyarrow.parquet as pq
    from pyspark.sql import functions as F

    from beavers_spark.streaming.maintenance import compact_parquet

    path = str(tmp_path / "reg")
    for w in (0, 1, 2):
        spark.range(300).select(
            (F.xxhash64(F.col("id") + w * 1000)).alias("h"),
            (F.col("id") + w * 1000).alias("doc_id"),
            F.pmod(F.xxhash64(F.col("id") + w * 1000), F.lit(4)).alias(
                "b"
            ),
        ).write.partitionBy("b").mode("overwrite").parquet(
            f"{path}/w={w}"
        )
    before = {
        (r.h, r.doc_id) for r in spark.read.parquet(path).collect()
    }
    compact_parquet(
        spark,
        path,
        partition_by=["w", "b"],
        transform=lambda df: df.withColumn("w", F.lit(-1)),
        cluster_by=("h",),
    )
    files = glob.glob(f"{path}/w=-1/**/*.parquet", recursive=True)
    assert files
    for f in files:
        hs = pq.read_table(f, columns=["h"]).column("h").to_pylist()
        assert hs == sorted(hs), f"{f} not clustered by h"
    assert {
        (r.h, r.doc_id) for r in spark.read.parquet(path).collect()
    } == before


def test_collect_keys_counted_folds_count_into_collect(spark, tmp_path):
    """``collect_keys_counted`` returns the EXACT collected row count
    alongside the key set (the winners frame has one row per key, so
    the dedup kernels' separate ``.count()`` job folds into the Bloom
    collect — VERDICT r13 item 3), and hands off with ``(None, None)``
    past ``probe_cap`` exactly like ``collect_keys``."""
    from beavers_spark.streaming.maintenance import WaveBloomIndex

    idx = WaveBloomIndex(str(tmp_path / "t"), 1 << 10, probe_cap=16)
    df = spark.createDataFrame([(i,) for i in range(6)], "h long")
    keys, n = idx.collect_keys_counted(df, "h")
    assert n == 6 and sorted(keys.tolist()) == list(range(6))
    # duplicate rows: count is ROW count, keys are unique
    dup = df.unionByName(df)
    keys, n = idx.collect_keys_counted(dup, "h")
    assert n == 12 and len(keys) == 6
    # over the cap (raw ROW count, like collect_keys): hand-off
    big = spark.createDataFrame([(i,) for i in range(17)], "h long")
    assert idx.collect_keys_counted(big, "h") == (None, None)
    # disabled filter: both None
    off = WaveBloomIndex(str(tmp_path / "t2"), None)
    assert off.collect_keys_counted(df, "h") == (None, None)


def test_sidecar_writes_survive_a_crash_mid_dump(tmp_path, monkeypatch):
    """Every JSON sidecar goes through ``write_json_atomic``: a crash in
    the middle of the dump (disk full, kill) leaves the PREVIOUS
    sidecar readable instead of a torn file — a torn
    ``_last_batch.json`` would make every later ``is_applied`` raise,
    and a torn ``_layout.json`` would wedge every later open."""
    import json

    from beavers_spark.streaming.maintenance import (
        BatchWatermark,
        ensure_layout,
    )

    state = str(tmp_path / "state")
    wm = BatchWatermark(state)
    wm.mark(3)
    fresh = str(tmp_path / "fresh")
    real_dump = json.dump

    def torn_dump(obj, fh, *args, **kwargs):
        fh.write('{"last')
        fh.flush()
        raise OSError("simulated crash mid-dump")

    monkeypatch.setattr(json, "dump", torn_dump)
    with pytest.raises(OSError, match="mid-dump"):
        wm.mark(4)
    with pytest.raises(OSError, match="mid-dump"):
        ensure_layout(fresh, k=8)
    monkeypatch.setattr(json, "dump", real_dump)

    # the previous watermark still reads back; batch 4 replays
    assert wm.last_committed() == 3
    assert wm.is_applied(3) and not wm.is_applied(4)
    # the crashed first layout write left no sidecar: the reopen
    # records the knobs, and the layout guard still refuses a change
    ensure_layout(fresh, k=8)
    with pytest.raises(ValueError, match="layout mismatch"):
        ensure_layout(fresh, k=9)
    # no temporary file is left behind in either directory
    for d in (state, fresh):
        assert sorted(os.listdir(d)) in (
            ["_last_batch.json"], ["_layout.json"]
        )

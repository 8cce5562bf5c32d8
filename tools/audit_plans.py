"""Physical-plan audit: check that headline queries compile to the plans
we want at scale — filters pushed to the parquet scan, small dimensions
broadcast, sort+limit as TakeOrderedAndProject, no accidental cartesian
products, whole-stage codegen present.

Usage: python tools/audit_plans.py [sf_dir]
"""

from __future__ import annotations

import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from beavers_spark.session import get_spark  # noqa: E402

# query -> (must_contain regexes, must_not_contain regexes)
EXPECTATIONS: dict[str, tuple[list[str], list[str]]] = {
    # NB: WholeStageCodegen spans only appear in the post-execution AQE
    # final plan; pre-execution we assert the structural properties.
    "tpch_q1": [
        [r"PushedFilters: \[.*LessThanOrEqual\(l_shipdate", r"partial_sum"],
        [r"CartesianProduct"],
    ],
    "tpch_q3": [
        [r"BroadcastHashJoin", r"PushedFilters: \[.*GreaterThan\(l_shipdate"],
        [r"CartesianProduct", r"SortMergeJoin"],
    ],
    "tpch_q2": [
        # groupwise-min must be agg + self-join, both scans filtered
        [r"BroadcastHashJoin", r"PushedFilters: \[.*LessThan\(p_size,10"],
        [r"SortMergeJoin", r"CartesianProduct"],
    ],
    "tpch_q4": [
        # EXISTS -> pre-aggregated max per orderkey (partial_max before
        # the exchange), orders date filter pushed to its scan
        [r"partial_max", r"PushedFilters: \[.*GreaterThanOrEqual\(o_orderdate"],
        [r"CartesianProduct", r"LeftSemi"],
    ],
    "tpch_q5": [
        [r"BroadcastHashJoin"],
        [r"CartesianProduct", r"SortMergeJoin"],
    ],
    "tpch_q10": [
        # top-20 must be TakeOrderedAndProject, not a global sort
        [r"TakeOrderedAndProject", r"BroadcastHashJoin"],
        [r"SortMergeJoin", r"Exchange rangepartitioning"],
    ],
    "tpch_q14": [
        [r"BroadcastHashJoin", r"PushedFilters: \[.*GreaterThanOrEqual\(l_shipdate"],
        [r"SortMergeJoin", r"CartesianProduct"],
    ],
    "tpch_q22": [
        # NOT EXISTS -> anti join; the scalar avg is a 1-row broadcast
        [r"LeftAnti", r"PushedFilters: \[.*GreaterThanOrEqual\(o_orderdate"],
        [r"SortMergeJoin"],
    ],
    "tpch_q7": [
        # nation-filtered supplier/customer broadcast; shipdate pruned scan
        [r"BroadcastHashJoin", r"PushedFilters: \[.*GreaterThanOrEqual\(l_shipdate"],
        [r"CartesianProduct"],
    ],
    "tpch_q8": [
        [r"BroadcastHashJoin", r"PushedFilters: \[.*EqualTo\(p_type,STANDARD"],
        [r"CartesianProduct"],
    ],
    "tpch_q9": [
        # LIKE '%widget%' must reach the part scan as StringContains
        [r"BroadcastHashJoin", r"StringContains\(p_name,widget\)"],
        [r"CartesianProduct"],
    ],
    "tpch_q12": [
        [r"PushedFilters: \[.*GreaterThanOrEqual\(l_shipdate", r"partial_sum"],
        [r"CartesianProduct"],
    ],
    "tpch_q13": [
        # zero-order customers must survive: outer join, not inner
        [r"LeftOuter", r"partial_count"],
        [r"CartesianProduct"],
    ],
    "tpch_q15": [
        # the revenue view is a lazy localCheckpoint reused by BOTH
        # branches (each consumer shows Scan ExistingRDD over the
        # checkpointed MapPartitionsRDD — re-pinned from the old
        # persist()/InMemoryTableScan shape, see plans/tpch.py note);
        # the scalar max joins back as a 1-row broadcast, never a
        # cartesian
        [r"Scan ExistingRDD", r"localCheckpoint",
         r"BroadcastHashJoin Cross BuildRight"],
        [r"CartesianProduct Inner", r"InMemoryTableScan"],
    ],
    "tpch_q17": [
        [r"BroadcastHashJoin", r"partial_avg"],
        [r"CartesianProduct", r"SortMergeJoin"],
    ],
    "tpch_q18": [
        # HAVING-filtered agg broadcasts back into orders
        [r"BroadcastHashJoin", r"partial_sum"],
        [r"CartesianProduct"],
    ],
    "tpch_q19": [
        # the OR-of-ANDs must leave a residual In(p_brand,...) at the scan
        [r"BroadcastHashJoin", r"In\(p_brand"],
        [r"CartesianProduct", r"SortMergeJoin"],
    ],
    "tpch_q21": [
        # EXISTS/NOT EXISTS pair -> one-pass windowed decorrelation on
        # the orderkey partitioning the join already produced
        [r"Window", r"collect_set"],
        [r"CartesianProduct", r"LeftSemi", r"LeftAnti"],
    ],
    "tpch_q11": [
        # the supplied view is a lazy localCheckpoint reused by both
        # branches (Scan ExistingRDD — re-pinned from the old persist()
        # shape); the scalar threshold is a 1-row broadcast
        # nested-loop, never a data-sized cartesian
        [r"Scan ExistingRDD", r"localCheckpoint",
         r"BroadcastNestedLoopJoin Cross BuildRight"],
        [r"CartesianProduct Inner", r"SortMergeJoin",
         r"InMemoryTableScan"],
    ],
    "tpch_q16": [
        # complaint suppliers excluded via broadcast anti; distinct agg
        [r"LeftAnti", r"count\(distinct l_suppkey"],
        [r"CartesianProduct", r"SortMergeJoin"],
    ],
    "tpch_q20": [
        # nested-IN chain -> two broadcast semi joins around one agg
        [r"LeftSemi", r"StringContains\(p_name,widget\)"],
        [r"CartesianProduct", r"SortMergeJoin"],
    ],
    "interval_join_events": [
        # range join must be an equi-join on (keys, time bin), with the
        # exact range predicate as a post-condition — never a BNLJ
        [r"HashJoin \[user_id.*__bin"],
        [r"BroadcastNestedLoopJoin", r"CartesianProduct"],
    ],
    "hourly_rollup": [
        [r"partial_count", r"Exchange hashpartitioning"],
        [r"CartesianProduct"],
    ],
    "stats_by_segment": [
        [r"BroadcastHashJoin", r"partial_"],
        [r"SortMergeJoin", r"CartesianProduct"],
    ],
    "tpch_q6": [
        [r"PushedFilters: \[.*GreaterThanOrEqual\(l_shipdate"],
        [r"Exchange hashpartitioning"],  # global agg: no keyed shuffle
    ],
    "etf_valuation": [
        [r"BroadcastHashJoin", r"partial_sum|partial_count"],
        [r"CartesianProduct", r"SortMergeJoin"],
    ],
    "filter_predicate": [
        [r"PushedFilters: \[.*GreaterThan\(l_quantity,45", r"EqualTo\(l_returnflag,R\)"],
        [],
    ],
    "semi_join": [[r"LeftSemi"], [r"CartesianProduct"]],
    "topk_customers": [[r"TakeOrderedAndProject"], [r"Exchange rangepartitioning"]],
    "live_view": [[r"TakeOrderedAndProject"], []],
    "last_by_keys": [
        [r"row_number", r"Exchange hashpartitioning\(user_id"],
        [],
    ],
    "delta_fanout": [[r"BroadcastHashJoin.*LeftSemi|LeftSemi.*Broadcast"], []],
    "ann_cosine_topk": [
        [r"BroadcastNestedLoopJoin"],  # intended: tiny query side x corpus
        [r"SortMergeJoin"],
    ],
    "dedup_exact": [[r"partial_", r"Exchange hashpartitioning"], [r"CartesianProduct"]],
    "word_count": [[r"Generate explode", r"partial_count"], []],
    "dedup_minhash_lsh": [
        # LSH candidate generation must be the band equi-join; verify
        # joins key on candidate doc ids — never an all-pairs product
        [r"HashJoin \[band_id", r"HashJoin \[doc1", r"HashJoin \[doc2"],
        [r"CartesianProduct"],
    ],
    "dedup_ngram_jaccard": [
        # inverted-index join keyed on the shingle
        [r"HashJoin \[shingle"],
        [r"CartesianProduct", r"BroadcastNestedLoopJoin"],
    ],
    "dedup_minhash_capped": [
        # hot-bucket cap: bucket rank/chain is a window on the band key
        # (same shuffle the join needs); candidates still equi-join on
        # bands and doc ids — capping must not introduce any cross shape
        [r"Window", r"HashJoin \[band_id", r"HashJoin \[doc1"],
        [r"CartesianProduct", r"BroadcastNestedLoopJoin"],
    ],
    "zorder_scan": [
        # read-back of the z-ordered copy: BOTH range predicates reach
        # the parquet scan (file + row-group pruning on the clustered
        # layout), nothing else in the plan
        [r"PushedFilters: \[.*GreaterThanOrEqual\(l_partkey,100",
         r"LessThanOrEqual\(l_suppkey,80"],
        [r"Exchange", r"CartesianProduct"],
    ],
    "lm_perplexity_holdout": [
        # train + score partial-combine; LM join is vocabulary-keyed;
        # only cross shapes are the whitelisted 1-row total broadcasts
        [r"partial_count", r"partial_sum", r"HashJoin \[term"],
        [r"CartesianProduct Inner", r"BatchEvalPython"],
    ],
    "ann_lsh_topk": [
        # multi-table (tbl, bucket) equi-join + per-query top-k window
        [r"HashJoin \[tbl", r"row_number"],
        [r"CartesianProduct", r"BroadcastNestedLoopJoin"],
    ],
    "ann_ivf_topk": [
        # probed-cell equi-join + per-query top-k window
        [r"HashJoin \[cell", r"row_number"],
        [r"CartesianProduct", r"BroadcastNestedLoopJoin"],
    ],
    "dedup_embedding_cosine": [
        # the registered 100 TB path: multi-table LSH band equi-join for
        # candidates, verify joins keyed on candidate ids — NO cross join
        # (this plan replaced the probe-block crossJoin variant, which
        # survives as dedup_embedding_cosine_exact, the oracle twin)
        [r"HashJoin \[tbl", r"HashJoin.*\[id1|HashJoin \[id1"],
        [r"CartesianProduct", r"BroadcastNestedLoopJoin"],
    ],
    "semantic_dedup": [
        # SemDeDup keeper election via one window; the within-cell pair
        # stage (equi-join on the cell id) executes EAGERLY inside
        # connected_components' sized probe, so it no longer appears in
        # the returned plan — its shape is pinned by
        # tests/test_semdedup.py instead. The final plan must still be
        # cross-product-free.
        [r"row_number"],
        [r"CartesianProduct", r"BroadcastNestedLoopJoin"],
    ],
    "winnow_near_dup": [
        # shared-fingerprint equi-join; winnowing via window mins, not
        # nested array HOFs (the 165s->3s posexplode rewrite)
        [r"HashJoin \[fp", r"min\(h"],
        [r"CartesianProduct"],
    ],
    "asof_join_events": [
        # as-of = union + last-non-null window, no range join fallback
        [r"Window \[last\("],
        [r"CartesianProduct", r"BroadcastNestedLoopJoin"],
    ],
    "sessionize": [
        # gap detection = lag + running sum over the same (user, ts)
        # ordering — two windows, one exchange
        [r"Window \[lag\(", r"Window \[sum\("],
        [r"CartesianProduct"],
    ],
    "deterministic_sample": [
        # id-hash sampling must be a pure scan+filter+project: no
        # exchange anywhere in the plan
        [r"Scan parquet"],
        [r"Exchange", r"CartesianProduct"],
    ],
    "daily_uniques": [
        # count_distinct = two-stage agg (partial distinct then count)
        [r"partial_count\(distinct", r"Exchange hashpartitioning"],
        [r"CartesianProduct", r"Generate explode"],
    ],
    "decontaminate_ngram": [
        # contamination check = inverted-index equi-join on the ngram
        [r"HashJoin \[ngram", r"partial_count"],
        [r"CartesianProduct", r"BroadcastNestedLoopJoin"],
    ],
    "domain_cap": [
        # per-domain survivor cap = one window keyed on the domain
        [r"row_number", r"Exchange hashpartitioning\(source"],
        [r"CartesianProduct", r"SinglePartition"],
    ],
    "corpus_shuffle": [
        # epoch shuffle = range exchange + per-partition sort — NEVER a
        # global single-partition sort
        [r"Exchange rangepartitioning\(shuffle_key", r"Sort \[shuffle_key"],
        [r"Exchange SinglePartition", r"CartesianProduct"],
    ],
    "repetition_quality": [
        # quality scoring is a pure projection over the scan
        [r"Scan parquet"],
        [r"Exchange", r"Generate explode", r"CartesianProduct"],
    ],
    "stratified_sample": [
        # per-stratum sampling stays a scan-level filter, no shuffle
        [r"Scan parquet"],
        [r"Exchange", r"CartesianProduct"],
    ],
    "pack_sequences": [
        # packing windows are keyed on the hash stream, not global
        [r"Window \[sum\(", r"Exchange hashpartitioning\(stream"],
        [r"SinglePartition", r"CartesianProduct"],
    ],
    "gopher_quality": [
        # quality gate is per-row array HOFs over the scan — no shuffle,
        # and only (doc_id, text) read
        [r"Scan parquet", r"ReadSchema: struct<doc_id:bigint,text:string>"],
        [r"Exchange", r"Generate explode", r"CartesianProduct"],
    ],
    "pii_redact": [
        # regexp chain over the scan: no shuffle, no UDF (BatchEvalPython)
        [r"Scan parquet"],
        [r"Exchange", r"BatchEvalPython", r"CartesianProduct"],
    ],
    "tfidf_top_terms": [
        # doc-term + vocab aggs partial-combine; per-doc window; the only
        # cross shape is the whitelisted 1-row N broadcast
        [r"partial_count", r"row_number", r"Exchange hashpartitioning\(doc_id"],
        [r"CartesianProduct"],
    ],
    "heavy_hitters": [
        # map-side-combined count shuffle, then the per-group ranking
        # window sees grouped counts only — never raw event rows
        [r"partial_count", r"row_number"],
        [r"CartesianProduct", r"BroadcastNestedLoopJoin"],
    ],
    "vocab_coverage": [
        # top-k pre-reduce must be TakeOrderedAndProject (per-partition
        # heaps), so the ranking window sees only k rows — never the
        # full vocabulary through one partition
        [r"TakeOrderedAndProject", r"partial_count", r"row_number"],
        [r"CartesianProduct", r"Exchange rangepartitioning"],
    ],
    "label_centroids": [
        # posexplode then partial-combined decimal sum keyed on
        # (label, pos) — sum/count, not avg: the decimal sum is
        # order-exact so the 4dp round is engine-stable at any sf
        [r"partial_sum", r"Exchange hashpartitioning\(label"],
        [r"CartesianProduct", r"BroadcastNestedLoopJoin", r"SinglePartition"],
    ],
    "embedding_outliers": [
        # n_labels x dim centroid table broadcasts into the corpus scan;
        # ranking is a per-label window
        [r"BroadcastHashJoin", r"row_number"],
        [r"CartesianProduct", r"BroadcastNestedLoopJoin", r"SortMergeJoin"],
    ],
    "ann_pq_topk": [
        # ADC scoring inside ONE ArrowEvalPython/mapInPandas pass over
        # the code column; candidates broadcast into the refine join —
        # equi-joins only, no cross product
        [r"MapInPandas|ArrowEvalPython", r"BroadcastHashJoin"],
        [r"CartesianProduct", r"BroadcastNestedLoopJoin", r"SortMergeJoin"],
    ],
    "bigram_pmi": [
        # top-k pre-reduce is TakeOrderedAndProject; the rank window
        # sees k rows partitioned on the joined total attribute
        [r"TakeOrderedAndProject", r"row_number"],
        [r"CartesianProduct", r"Exchange rangepartitioning"],
    ],
    "hashed_features": [
        # one narrow explode + one (doc, bucket)-keyed partial-combined
        # count shuffle — no joins, no windows, no Python
        [r"Generate explode", r"partial_sum"],
        [r"CartesianProduct", r"Window", r"BatchEvalPython", r"Join"],
    ],
    "rolling_avg": [
        # bounded-frame window keyed on user_id — never a global
        # single-partition window
        [r"Window", r"Exchange hashpartitioning\(user_id"],
        [r"CartesianProduct", r"Exchange SinglePartition"],
    ],
    "anomaly_zscore": [
        # dimension-sized stats table broadcasts back into the scan;
        # decimal partial sums combine map-side; no window at all
        [r"BroadcastHashJoin", r"partial_sum"],
        [r"CartesianProduct", r"Window", r"SortMergeJoin"],
    ],
    "time_weighted_avg": [
        # lead() over the per-user sort + one map-side-combined agg
        [r"Window", r"Exchange hashpartitioning\(user_id", r"partial_sum"],
        [r"CartesianProduct", r"Exchange SinglePartition"],
    ],
    "ann_ivfpq_topk": [
        # probed-cell union reaches the scan as a pushed IN-filter (the
        # file-pruning lever when the index is cell-partitioned at
        # rest); ADC + per-query cell masks in one Python pass; refine
        # joins are broadcast equi-joins
        [r"MapInPandas|ArrowEvalPython", r"cell#\d+ IN|cell#\d+L? IN|isin|IN \(", r"BroadcastHashJoin"],
        [r"CartesianProduct", r"BroadcastNestedLoopJoin", r"SortMergeJoin"],
    ],
    "chunk_dedup": [
        # segment ownership = partial-combined min on the 60-bit chunk
        # hash (16 bytes/occurrence on the wire, never the text); the
        # hashed-segment frame is localCheckpoint'ed (one explode+hash
        # pass for all three consumers), so the final plan reads the
        # checkpoint RDD instead of showing the Generate; no windows,
        # no Python, no cross join
        [r"partial_min", r"Scan ExistingRDD"],
        [r"CartesianProduct", r"BatchEvalPython", r"Window",
         r"Generate posexplode"],
    ],
    "token_budget_mix": [
        # per-source totals broadcast back; the keep decision is a
        # scan-level filter — zero corpus-keyed shuffle
        [r"BroadcastHashJoin", r"PushedFilters"],
        [r"Exchange hashpartitioning\(doc_id", r"CartesianProduct",
         r"BatchEvalPython"],
    ],
    "unigram_logprob": [
        # doc-term + vocab sums partial-combine; the only cross shape is
        # the whitelisted 1-row corpus-total broadcast
        [r"partial_count", r"partial_sum"],
        [r"CartesianProduct", r"BatchEvalPython", r"Window"],
    ],
    "bucketed_quantile": [
        # histogram agg partial-combines map-side; the cumulative window
        # sees histogram rows partitioned by (bucket, type) — never a
        # global single-partition window over raw events
        [r"partial_count", r"row_number"],
        [r"CartesianProduct", r"BroadcastNestedLoopJoin"],
    ],
    "substring_dedup": [
        # ownership = partial-combined min on the 60-bit span hash (16
        # bytes/token on the wire, never span text); the hashed-span
        # frame is localCheckpoint'ed (one explode+hash pass for both
        # consumers — the Generate runs inside the checkpoint job); the
        # ONLY window is the doc-keyed gaps-and-islands interval merge
        [r"partial_min", r"Scan ExistingRDD",
         r"Window.*doc_id|windowspecdefinition\(doc_id"],
        [r"CartesianProduct", r"BatchEvalPython",
         r"Generate posexplode"],
    ],
    "substring_dedup_apply": [
        # detection shapes (checkpointed spans) + the range join back to
        # the corpus must be a broadcast equi-join (ranges are bounded
        # per doc); the token cut is a JVM higher-order filter
        [r"partial_min", r"Scan ExistingRDD", r"BroadcastHashJoin"],
        [r"CartesianProduct", r"BatchEvalPython"],
    ],
    "ann_ivfpq_exact_twin": [
        # both sides candidate-pruned: the actual side is the audited
        # ivfpq shape, the expected side joins probe cells and query
        # vectors by BROADCAST equi-join — no all-pairs anywhere
        [r"MapInPandas|ArrowEvalPython", r"BroadcastHashJoin"],
        [r"CartesianProduct", r"BroadcastNestedLoopJoin"],
    ],
    "dsir_logweights": [
        # model probes are BROADCAST hash joins on bucket (models are
        # ≤ n_buckets rows); the doc×bucket count pass lives BEHIND a
        # lazy localCheckpoint since r14 (one feature pass for all
        # five consumers — its partial_count is inside the checkpointed
        # subplan), so the outer plan must show the checkpoint scan
        # (ExistingRDD) instead; the only cross shapes are the two
        # whitelisted 1-row smoothing totals
        [r"BroadcastHashJoin", r"ExistingRDD"],
        [r"CartesianProduct", r"SortMergeJoin", r"BatchEvalPython"],
    ],
    "dsir_select": [
        # the global top-n over Gumbel keys must be per-partition heaps
        # (TakeOrderedAndProject), never a full sort of the scored pool
        [r"TakeOrderedAndProject", r"BroadcastHashJoin"],
        [r"CartesianProduct", r"SortMergeJoin", r"BatchEvalPython"],
    ],
    "kmeans_assign": [
        # assignment = k-row broadcast nested probe (whitelisted cross)
        # + min_by argmin with map-side partial combine; the corpus is
        # never sorted or windowed
        [r"BroadcastNestedLoopJoin", r"partial_min"],
        [r"CartesianProduct", r"SortMergeJoin", r"BatchEvalPython",
         r"Window"],
    ],
    "kmeans_centroids": [
        # the fit collects k × dim cells per iteration; the FINAL plan
        # must start from the driver-built centroid rows (Scan
        # ExistingRDD), not a lineage re-executing prior iterations
        [r"Scan ExistingRDD"],
        [r"CartesianProduct", r"BroadcastNestedLoopJoin",
         r"BatchEvalPython", r"Exchange"],
    ],
    "cluster_balanced_sample": [
        # per-cluster cap: the window is PARTITIONED by cluster — never
        # the single-partition global window WindowExec warns about
        [r"windowspecdefinition\(cluster", r"BroadcastNestedLoopJoin"],
        [r"CartesianProduct", r"SortMergeJoin", r"BatchEvalPython"],
    ],
    "quality_classifier_weights": [
        # trained model is the driver-held literal (Scan ExistingRDD);
        # no lineage back through the training iterations
        [r"Scan ExistingRDD"],
        [r"CartesianProduct", r"BroadcastNestedLoopJoin", r"Exchange"],
    ],
    "quality_classifier_score": [
        # one feature pass + a ≤n_buckets-row BROADCAST model join;
        # margins partial-combine map-side
        [r"BroadcastHashJoin", r"partial_sum"],
        [r"CartesianProduct", r"BroadcastNestedLoopJoin",
         r"SortMergeJoin", r"BatchEvalPython"],
    ],
    "quality_classifier_select": [
        # global top-n as per-partition heaps, never a full sort
        [r"TakeOrderedAndProject", r"BroadcastHashJoin"],
        [r"CartesianProduct", r"BroadcastNestedLoopJoin",
         r"SortMergeJoin", r"BatchEvalPython"],
    ],
    "temperature_mix": [
        # rate table is a driver-built literal (|sources| rows)
        # broadcast back; the keep decision is a scan-level filter — no
        # corpus shuffle, no scalar cross joins
        [r"BroadcastHashJoin", r"Scan ExistingRDD"],
        [r"CartesianProduct", r"BroadcastNestedLoopJoin",
         r"SortMergeJoin", r"Window"],
    ],
    "bpe_merges": [
        # the learned merge list is the driver-held literal
        [r"Scan ExistingRDD"],
        [r"CartesianProduct", r"BroadcastNestedLoopJoin", r"Exchange"],
    ],
    "bpe_token_count": [
        # corpus word pass joined word-keyed against the fitted vocab;
        # doc-keyed count partial-combines; no Python, no cross shapes
        [r"partial_sum", r"HashJoin \[word"],
        [r"CartesianProduct", r"BroadcastNestedLoopJoin",
         r"BatchEvalPython"],
    ],
    "dedup_tfidf_cosine": [
        # inverted-index candidate join on the postings-pruned bucket
        # key — pair generation is keyed, never all-pairs; the one
        # cross shape is the 1-row broadcast corpus-size N for idf
        # (replaced the separate .count() action that re-ran the
        # feature pass — ADVICE r6)
        [r"partial_count", r"partial_sum"],
        [r"CartesianProduct", r"BatchEvalPython", r"Window"],
    ],
    "dedup_tfidf_clusters": [
        # small pair graphs take the bounded union-find fast path (the
        # labels scan out as driver-built literals); either way, no
        # cross shapes and no Python rows
        [r"Scan ExistingRDD|partial_count"],
        [r"CartesianProduct", r"BatchEvalPython"],
    ],
    "quality_threshold_by_source": [
        # thresholds collapse to |sources| rows and broadcast back; the
        # one corpus-sized join is the id-keyed score×source attach
        [r"BroadcastHashJoin", r"partial_percentile|percentile"],
        [r"CartesianProduct", r"BroadcastNestedLoopJoin",
         r"BatchEvalPython", r"Window"],
    ],
    "pca_component": [
        # the fitted component is the driver-held literal
        [r"Scan ExistingRDD"],
        [r"CartesianProduct", r"BroadcastNestedLoopJoin", r"Exchange"],
    ],
    "pca_project": [
        # SCAN-ONLY: the literal-array fold runs inside the projection —
        # no join, no shuffle, no Python
        [r"Scan parquet"],
        [r"CartesianProduct", r"BroadcastNestedLoopJoin", r"Exchange",
         r"Join", r"BatchEvalPython"],
    ],
    "pca_residual_outliers": [
        # scan-only folds feeding per-partition heaps — never a global
        # sort or any join
        [r"TakeOrderedAndProject", r"Scan parquet"],
        [r"CartesianProduct", r"BroadcastNestedLoopJoin", r"Join",
         r"BatchEvalPython"],
    ],
    "wav_meta": [
        # binary build + fixed-offset LE decode must stay one scan-side
        # projection: no UDF (whole-stage codegen), no shuffle, no join
        [r"Scan parquet"],
        [r"Exchange", r"Join", r"BatchEvalPython", r"ArrowEvalPython",
         r"MapInPandas", r"CartesianProduct"],
    ],
    "ppm_meta": [
        [r"Scan parquet"],
        [r"Exchange", r"Join", r"BatchEvalPython", r"ArrowEvalPython",
         r"MapInPandas", r"CartesianProduct"],
    ],
    "avi_meta": [
        [r"Scan parquet"],
        [r"Exchange", r"Join", r"BatchEvalPython", r"ArrowEvalPython",
         r"MapInPandas", r"CartesianProduct"],
    ],
    "video_frame_plan": [
        # the frame fan-out must run map-side (explode before any
        # shuffle) and must NOT carry the binary payload column
        [r"Generate explode", r"Scan parquet"],
        [r"Exchange", r"Join", r"BatchEvalPython", r"ArrowEvalPython",
         r"MapInPandas", r"CartesianProduct", r"Generate [^\n]*payload"],
    ],
    "wav_stats": [
        # the payload decode must be the Arrow-batched vectorized path
        # (one ArrowEvalPython projection over the scan) — never a
        # row-at-a-time Python UDF, never a shuffle or join
        [r"ArrowEvalPython", r"Scan parquet"],
        [r"Exchange", r"Join", r"BatchEvalPython", r"CartesianProduct"],
    ],
    "ppm_stats": [
        # Arrow-batched decode + map-side channel fan-out: the explode
        # must not trigger any shuffle (the Generate node prints
        # without its generator name inside whole-stage codegen)
        [r"ArrowEvalPython", r"Generate", r"Scan parquet"],
        [r"Exchange", r"Join", r"BatchEvalPython", r"CartesianProduct"],
    ],
    "ppm_resize": [
        # the decode -> resize -> stats CHAIN stays a straight-line
        # projection pipeline: Arrow-batched UDFs, no shuffle, no join
        [r"ArrowEvalPython", r"Scan parquet"],
        [r"Exchange", r"Join", r"BatchEvalPython", r"CartesianProduct"],
    ],
    "avi_frames": [
        # frame fan-out map-side (explode of the Arrow-decoded frame
        # structs), never a shuffle
        [r"ArrowEvalPython", r"Generate", r"Scan parquet"],
        [r"Exchange", r"Join", r"BatchEvalPython", r"CartesianProduct"],
    ],
    "wav_segment_stats": [
        # segments-as-rows: one Arrow-batched decode per blob, the
        # segment fan-out is a map-side explode — never a shuffle, and
        # the blob is read once (a per-segment re-decode would show a
        # second ArrowEvalPython or a join)
        [r"ArrowEvalPython", r"Generate", r"Scan parquet"],
        [r"Exchange", r"Join", r"BatchEvalPython", r"CartesianProduct"],
    ],
    "video_frame_neardup": [
        # decode + map-side frame/band fan-out, the rank/chain window
        # partitioned on the band key, banded self-join — and the
        # binary payload column must be pruned before any exchange
        [r"ArrowEvalPython", r"Generate",
         r"hashpartitioning\(band_id", r"Window"],
        [r"CartesianProduct", r"BatchEvalPython",
         r"\(\d+\) Exchange\nInput \[\d+\]: \[[^\]]*payload"],
    ],
    "video_neardup_docs": [
        # the doc-level rollup rides the frame-pair engine (decode +
        # map-side band fan-out + rank/chain window on the band key),
        # then a groupBy over the cap-bounded pair stream whose tiny
        # result is BROADCAST into the frame-count joins — the meta
        # scan never shuffles, and the payload column is pruned before
        # any exchange
        [r"ArrowEvalPython", r"Generate",
         r"hashpartitioning\(band_id", r"Window",
         r"BroadcastHashJoin"],
        [r"CartesianProduct", r"BatchEvalPython",
         r"\(\d+\) Exchange\nInput \[\d+\]: \[[^\]]*payload"],
    ],
    "image_neardup": [
        # same contract as video_frame_neardup: Arrow-batched hash,
        # map-side band fan-out, rank/chain window on the band key,
        # payload pruned before any exchange
        [r"ArrowEvalPython", r"Generate",
         r"hashpartitioning\(band_id", r"Window"],
        [r"CartesianProduct", r"BatchEvalPython",
         r"\(\d+\) Exchange\nInput \[\d+\]: \[[^\]]*payload"],
    ],
    "audio_activity": [
        # one Arrow-batched segment decode, map-side explode, then the
        # gaps-and-islands windows + final profile all on the SAME
        # doc_id hash partitioning — no join, never a second decode
        [r"ArrowEvalPython", r"Generate", r"Window",
         r"hashpartitioning\(doc_id", r"Scan parquet"],
        [r"Join", r"CartesianProduct", r"BatchEvalPython"],
    ],
    "wav_resample": [
        # the decode -> decimate -> stats CHAIN stays a straight-line
        # projection pipeline: Arrow-batched UDFs, no shuffle, no join
        [r"ArrowEvalPython", r"Scan parquet"],
        [r"Exchange", r"Join", r"BatchEvalPython", r"CartesianProduct"],
    ],
    "wav_ulaw_decode": [
        # the u-law expand -> stats CHAIN: same straight-line
        # Arrow-batched projection contract as wav_resample
        [r"ArrowEvalPython", r"Scan parquet"],
        [r"Exchange", r"Join", r"BatchEvalPython", r"CartesianProduct"],
    ],
    "audio_fingerprint": [
        # one Arrow-batched segment decode, map-side segment explode,
        # then pure Column folds (window sum + bit_or) — never a
        # second decode, a join, or a row-at-a-time UDF
        [r"ArrowEvalPython", r"Generate", r"Window", r"Scan parquet"],
        [r"Join", r"CartesianProduct", r"BatchEvalPython"],
    ],
    "audio_neardup": [
        # same contract as image_neardup, audio instantiation: one
        # Arrow-batched decode, map-side band fan-out, rank/chain
        # window on the band key, payload pruned before any exchange
        [r"ArrowEvalPython", r"Generate",
         r"hashpartitioning\(band_id", r"Window"],
        [r"CartesianProduct", r"BatchEvalPython",
         r"\(\d+\) Exchange\nInput \[\d+\]: \[[^\]]*payload"],
    ],
    "video_scene_cuts": [
        # decode + map-side frame fan-out, then the lag/cumsum windows
        # partitioned per doc — exactly one hash exchange key
        # (doc_id), never a join, and the payload column pruned
        # before it
        [r"ArrowEvalPython", r"Generate",
         r"hashpartitioning\(doc_id", r"Window"],
        [r"Join", r"CartesianProduct", r"BatchEvalPython",
         r"\(\d+\) Exchange\nInput \[\d+\]: \[[^\]]*payload"],
    ],
    "video_frame_dedup": [
        # decode + map-side fan-out, then ONE hash exchange on the
        # frame content key feeding the ownership window — and the
        # binary payload column must be pruned BEFORE that shuffle
        # (frames ride as (doc, idx, md5) rows, never bytes)
        [r"ArrowEvalPython", r"Generate",
         r"hashpartitioning\(frame_md5", r"Window"],
        [r"Join", r"CartesianProduct", r"BatchEvalPython",
         # the Exchange detail block's Input line must not list the
         # binary payload column (formatted explain separates the node
         # header from its Input/Arguments lines)
         r"\(\d+\) Exchange\nInput \[\d+\]: \[[^\]]*payload"],
    ],
}


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    from beavers_spark.plans import QUERIES

    spark = get_spark("plan-audit")
    failures = 0
    for name, (must, must_not) in EXPECTATIONS.items():
        df = QUERIES[name](spark, sf_dir)
        plan = df._jdf.queryExecution().executedPlan().toString()
        # also the full formatted string with datasource details
        formatted = df._sc._jvm.PythonSQLUtils.explainString(  # type: ignore
            df._jdf.queryExecution(), "formatted"
        )
        blob = plan + "\n" + formatted
        problems = []
        for pat in must:
            if not re.search(pat, blob):
                problems.append(f"missing /{pat}/")
        for pat in must_not:
            if re.search(pat, blob):
                problems.append(f"unwanted /{pat}/")
        if problems:
            failures += 1
            print(f"AUDIT-FAIL {name}: {'; '.join(problems)}")
        else:
            print(f"AUDIT-ok   {name}")
    print(f"\n{len(EXPECTATIONS) - failures}/{len(EXPECTATIONS)} plans as designed")

    # blanket structural rule over EVERY registered plan: no unplanned
    # cartesian / broadcast-nested-loop joins — the two shapes that turn
    # O(n) into O(n^2) at scale. Whitelist = plans whose semantics ARE a
    # small-side cross product (scalar-aggregate broadcast, brute-force
    # similarity baselines, within-group pair generation).
    planned_cross = {
        "ann_cosine_topk",      # brute-force baseline: |queries| x corpus
        "dedup_embedding_cosine_exact",  # probe-block oracle twin
        "dedup_embedding_recall",  # gate: exact all-pairs side + 1-row join
        "ann_lsh_recall",       # gate: brute-force exact side + 1-row join
        "ann_ivf_recall",       # gate: brute-force exact side + 1-row join
        "ann_pq_recall",        # gate: brute-force exact side + 1-row join
        "ann_ivfpq_recall",     # gate: brute-force exact side + 1-row join
        "ann_lsh_exact_twin",   # gate: arrays_overlap candidate universe
        "ann_ivf_exact_twin",   # gate: arrays_overlap candidate universe
        "ann_knn_join_recall",  # gate: brute-force exact side + 1-row join
        "semantic_dedup_check",  # gate: two 1-row invariant aggregates joined
        "tpch_q11",             # 1-row broadcast threshold
        "tpch_q22",             # 1-row broadcast avg(acctbal)
        "tfidf_top_terms",      # 1-row broadcast corpus size N
        "vocab_coverage",       # 1-row broadcast total token count
        "unigram_logprob",      # 1-row broadcast corpus total token count
        "bigram_pmi",           # 1-row broadcast corpus total token count
        "vocab_drift",          # 1-row broadcast (V, N_old, N_new) scalars
        "lm_perplexity_holdout",  # 1-row broadcast (T_train, V) LM totals
        "dedup_tfidf_cosine",   # 1-row broadcast corpus size N for idf
        "bm25_top_terms",       # 1-row broadcast (N, avgdl) totals
        "dsir_logweights",      # 1-row broadcast smoothing totals (x2)
        "dsir_select",          # same totals under the Gumbel top-k
        "kmeans_assign",        # k-row broadcast centroid probe
        "cluster_balanced_sample",  # k-row centroid probe via assignment
    }
    blanket_failures = 0
    for name, fn in QUERIES.items():
        try:
            df = fn(spark, sf_dir)
            plan = df._jdf.queryExecution().executedPlan().toString()
        except Exception as ex:  # noqa: BLE001
            blanket_failures += 1
            print(f"CROSS-FAIL {name}: plan error: {ex}")
            continue
        crossy = re.search(r"CartesianProduct|BroadcastNestedLoopJoin", plan)
        if crossy and name not in planned_cross:
            blanket_failures += 1
            print(f"CROSS-FAIL {name}: unplanned {crossy.group(0)}")
        elif not crossy and name in planned_cross:
            print(f"CROSS-note {name}: whitelisted but no cross join in plan")
    print(
        f"{len(QUERIES) - blanket_failures}/{len(QUERIES)} plans free of "
        "unplanned cross joins"
    )
    probe_failures = audit_kernel_probes(spark, sf_dir)
    return 1 if failures or blanket_failures or probe_failures else 0


def audit_kernel_probes(spark, sf_dir: str) -> int:
    """Pin the MinHash band-registry probe plan (VERDICT r7 item 8):
    build a real 3-wave IncrementalNearDedup state, then audit the
    exact registry scan batch 2's cross probe joins
    (``registry_probe`` — the production code path). The 100x-scale
    claim rests on this scan staying partition-pruned: Bloom-surviving
    waves only (``w IN``, current wave excluded), touched hash-prefix
    buckets only (``b IN``), and column pruning to the doc_id + band
    key columns. A regression to a full-registry scan fails here, not
    just in the bench numbers."""
    import os
    import tempfile

    from pyspark.sql import functions as F

    from beavers_spark.plans.common import t
    from beavers_spark.streaming import IncrementalNearDedup

    failures = 0
    with tempfile.TemporaryDirectory() as wd:
        dedup = IncrementalNearDedup(
            os.path.join(wd, "state"),
            os.path.join(wd, "pairs"),
            text_col="text",
            id_col="doc_id",
            bloom_min_waves=2,
        )
        docs = t(spark, sf_dir, "documents").select("doc_id", "text")
        dedup(docs.filter(F.col("doc_id") % 3 == 0), 0)
        dedup(docs.filter(F.col("doc_id") % 3 == 1), 1)
        # wave 2 small, so it cannot touch every hash-prefix bucket and
        # the b IN prune must appear
        dedup(docs.filter(F.col("doc_id") % 3 == 2).limit(3), 2)
        probe = dedup.registry_probe(
            spark, 2, [0, 1], f"{dedup.anchors_path}/w=2"
        )
        fm = probe._sc._jvm.PythonSQLUtils.explainString(  # type: ignore
            probe._jdf.queryExecution(), "formatted"
        )
        must = [
            # Bloom kept-waves + current-wave exclusion, partition-pruned
            r"PartitionFilters: \[[^\]]*NOT \(w#\d+ = 2\)",
            r"PartitionFilters: \[[^\]]*w#\d+ IN \(0,1\)",
            # untouched-bucket prune reaches the scan
            r"PartitionFilters: \[[^\]]*b#\d+ IN \(",
            # column pruning: doc_id + band keys only, no signature cols
            r"ReadSchema: struct<doc_id:bigint,band_id:int,h0:bigint",
        ]
        must_not = [r"Exchange", r"Join", r"BatchEvalPython"]
        problems = [f"missing /{p}/" for p in must if not re.search(p, fm)]
        problems += [f"unwanted /{p}/" for p in must_not if re.search(p, fm)]
        if problems:
            failures += 1
            print(f"PROBE-FAIL minhash_band_registry: {'; '.join(problems)}")
        else:
            print("PROBE-ok   minhash_band_registry probe plan pinned")

    # classifier capped-refit scan (VERDICT r8 item 2): the registry is
    # sub-partitioned by refit-slice bucket (sb = slice hash top bits),
    # so a capped refit must show the sb prune as PartitionFilters and
    # column-prune to the training columns — a regression back to the
    # O(corpus) full-registry training scan fails here
    from beavers_spark.streaming.classifier_stream import (
        IncrementalQualityClassifier,
    )

    with tempfile.TemporaryDirectory() as wd:
        clf = IncrementalQualityClassifier(
            os.path.join(wd, "state"),
            label_col="y",
            max_refit_docs=2,
        )
        docs = (
            t(spark, sf_dir, "documents")
            .select("doc_id", "text")
            .limit(30)
            .withColumn("y", (F.col("doc_id") % 2).cast("int"))
        )
        clf(docs, 0)
        doc_tf, _labels = clf.refit_inputs(spark)
        fm = doc_tf._sc._jvm.PythonSQLUtils.explainString(  # type: ignore
            doc_tf._jdf.queryExecution(), "formatted"
        )
        must = [
            # slice-bucket directories above the threshold are pruned
            r"PartitionFilters: \[[^\]]*sb#\d+ <= \d",
            # training columns only — y and the storage columns pruned
            r"ReadSchema: struct<doc_id:bigint,bucket:",
        ]
        must_not = [r"Exchange", r"Join", r"BatchEvalPython"]
        problems = [f"missing /{p}/" for p in must if not re.search(p, fm)]
        problems += [f"unwanted /{p}/" for p in must_not if re.search(p, fm)]
        if problems:
            failures += 1
            print(f"PROBE-FAIL classifier_refit_slice: {'; '.join(problems)}")
        else:
            print("PROBE-ok   classifier_refit_slice scan pinned")
    print(f"{2 - failures}/2 kernel probe plans as designed")
    return failures


if __name__ == "__main__":
    raise SystemExit(main())

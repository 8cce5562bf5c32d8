"""Continuous quantile rollup: incrementally-maintained percentiles per
(time bucket, keys) via exactly-mergeable fixed-bin histograms.

The fourth member of the mergeable-state family (sums ->
``ContinuousRollup``, cardinality -> ``ContinuousDistinct``, heavy
hitters -> ``ContinuousTopK``): a percentile cannot be maintained by
storing percentiles — quantiles do not merge. Storing the *histogram*
restores decomposability: bin counts add exactly, in any order and any
partitioning, so

    hist(batch_1 ∪ batch_2) == hist(batch_1) + hist(batch_2)

and any quantile is read off the merged counts with error bounded by
one bin width (linear interpolation inside the quantile's bin). The
trade against sketch structures (t-digest/KLL) is explicitness: fixed
``(lo, hi, n_bins)`` must be chosen up front (values clamp into the
edge bins), in exchange for EXACT mergeability, trivial state
(``groups × n_bins`` longs), and engine-independent determinism.

Per batch (the touched-bucket merge of ``merge_table.MergeTable``):
the batch is binned and counted — map-side combined, batch-sized —
merged with the stored counts of JUST the touched buckets
(partition-pruned read), and written back via dynamic partition
overwrite. History is never re-read.

Reference parity: extends the reference's state-node fold
(dag.py:501-518); the reference has no quantile surface
(README.md:43-50 scope).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from beavers_spark.streaming.merge_table import BucketRollup, bucket_start


def _check_bins(lo: float, hi: float, n_bins: int) -> None:
    """Reject a histogram with no bins or no width: ``hi == lo`` makes
    zero-width bins (inf/NaN), ``n_bins == 0`` divides by zero and a
    negative ``n_bins`` stores negative bins."""
    if not hi > lo:
        raise ValueError(f"hi ({hi}) must be > lo ({lo})")
    if n_bins < 1:
        raise ValueError(f"n_bins ({n_bins}) must be >= 1")


def histogram_counts(
    df: DataFrame,
    ts_col: str,
    keys: list[str],
    value_col: str,
    lo: float,
    hi: float,
    n_bins: int,
    bucket: str,
) -> DataFrame:
    """Row counts per (bucket, *keys, bin) of ``value_col`` in
    ``n_bins`` equal bins over ``[lo, hi)``; out-of-range values clamp
    into the edge bins. Shared by ``ContinuousQuantile`` (one batch) and
    ``batch_quantile`` (one shot)."""
    width = (hi - lo) / n_bins
    raw = F.floor((F.col(value_col) - F.lit(lo)) / F.lit(width))
    return df.groupBy(
        bucket_start(ts_col, bucket),
        *keys,
        F.least(F.greatest(raw, F.lit(0)), F.lit(n_bins - 1))
        .cast("int")
        .alias("bin"),
    ).agg(F.count(F.lit(1)).alias("cnt"))


def quantiles_from_histogram(
    hist: DataFrame,
    group_cols: list[str],
    qs: list[float],
    lo: float,
    hi: float,
    n_bins: int,
) -> DataFrame:
    """Quantile estimates off a fixed-bin histogram ``(*group_cols, bin,
    cnt)``: one row per (*group_cols, q, value).

    Standard histogram interpolation: find the bin where the cumulative
    count crosses ``ceil(q * n)``, place the estimate inside it by the
    overshoot fraction. All JVM-side window/agg — no UDFs. Shared by
    ``ContinuousQuantile.read`` (incremental state) and
    ``batch_quantile`` (one-shot), so the registered batch twin
    oracle-pins exactly the math the streaming path serves.
    """
    if not qs:
        raise ValueError("qs must name at least one quantile")
    from pyspark.sql import Window

    width = (hi - lo) / n_bins
    totals = hist.groupBy(*group_cols).agg(F.sum("cnt").alias("n"))
    w = (
        Window.partitionBy(*group_cols)
        .orderBy("bin")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = hist.withColumn("cum", F.sum("cnt").over(w)).join(
        totals, list(group_cols)
    )
    # ALL quantiles in one pass: explode the qs literal per cumulative
    # row (histogram-sized input — groups x n_bins x |qs|, tiny), then
    # one window finds each (group, q)'s first crossing. A per-q Python
    # loop + union re-ran the state scan and both windows once per
    # requested quantile (review r5).
    q_col = F.explode(
        F.array(*[F.lit(float(q)) for q in qs])
    ).alias("q")
    expanded = cum.select("*", q_col).withColumn(
        "target", F.ceil(F.col("q") * F.col("n"))
    )
    hit = (
        expanded.filter(F.col("cum") >= F.col("target"))
        .withColumn(
            "r",
            F.row_number().over(
                Window.partitionBy(*group_cols, "q").orderBy("bin")
            ),
        )
        .filter(F.col("r") == 1)
    )
    frac = (F.col("target") - (F.col("cum") - F.col("cnt"))) / F.col("cnt")
    return hit.select(
        *group_cols,
        "q",
        F.round(
            F.lit(lo) + (F.col("bin") + frac) * F.lit(width), 6
        ).alias("value"),
    )


class ContinuousQuantile(BucketRollup):
    """Maintains per-(bucket, *keys) value histograms; quantiles on read.

    ::

        q = ContinuousQuantile(path, ts_col="ts", keys=["event_type"],
                               value_col="value", lo=0.0, hi=100.0,
                               n_bins=256, bucket="1 hour")
        stream.writeStream.foreachBatch(q).start()
        q.read(spark, [0.5, 0.99])   # bucket, *keys, q, value

    Estimate error is <= (hi - lo) / n_bins for in-range values;
    out-of-range values clamp into the first/last bin.
    """

    def __init__(
        self,
        path: str,
        ts_col: str,
        keys: list[str],
        value_col: str,
        lo: float,
        hi: float,
        n_bins: int = 256,
        bucket: str = "1 hour",
    ) -> None:
        _check_bins(lo, hi, n_bins)
        super().__init__(path, ts_col, keys, bucket)
        self.value_col = value_col
        self.lo = float(lo)
        self.hi = float(hi)
        self.n_bins = n_bins

    def _live(self, batch_df: DataFrame) -> DataFrame:
        # a null value cannot be binned
        return super()._live(batch_df).filter(F.col(self.value_col).isNotNull())

    def _delta(self, df: DataFrame) -> DataFrame:
        return histogram_counts(
            df, self.ts_col, self.keys, self.value_col, self.lo, self.hi,
            self.n_bins, self.bucket,
        )

    #: the histogram of any frame, state or not
    _count = _delta

    def _merge(self, delta: DataFrame, current: DataFrame) -> DataFrame:
        return self._regrouped(delta, current, "bin").agg(
            F.sum("cnt").alias("cnt")
        )

    def read_histograms(self, spark: SparkSession) -> DataFrame:
        """Raw (bucket, *keys, bin, cnt) — mergeable further (e.g. roll
        hourly histograms into a daily p99 with one sum over the coarser
        key)."""
        return spark.read.parquet(self.path)

    def read(self, spark: SparkSession, qs: list[float]) -> DataFrame:
        """Quantile estimates: one row per (bucket, *keys, q). See
        ``quantiles_from_histogram`` for the interpolation math."""
        return quantiles_from_histogram(
            spark.read.parquet(self.path),
            ["bucket", *self.keys],
            qs,
            self.lo,
            self.hi,
            self.n_bins,
        )


def batch_quantile(
    df: DataFrame,
    ts_col: str,
    keys: list[str],
    value_col: str,
    lo: float,
    hi: float,
    n_bins: int = 256,
    bucket: str = "1 hour",
    qs: list[float] = (0.5,),
) -> DataFrame:
    """One-shot twin of ``ContinuousQuantile``: bin the whole frame and
    read quantiles off the histogram in a single plan — byte-identical
    to feeding the same rows through the incremental state in any batch
    split (bin counts add exactly). Registered as the ``bucketed_quantile``
    oracle query so the histogram math is DuckDB-pinned, not just
    pytest-pinned.

    Plan shape: one map-side-combined count shuffle keyed on (bucket,
    *keys, bin) — histogram rows, not raw rows, feed the cumulative
    window, so the window input is groups × n_bins no matter the corpus
    size.
    """
    _check_bins(lo, hi, n_bins)
    hist = histogram_counts(
        df.filter(F.col(ts_col).isNotNull() & F.col(value_col).isNotNull()),
        ts_col, keys, value_col, float(lo), float(hi), n_bins, bucket,
    )
    return quantiles_from_histogram(
        hist, ["bucket", *keys], list(qs), float(lo), float(hi), n_bins
    )

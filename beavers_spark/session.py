"""SparkSession bootstrap tuned for this engine.

Local-mode testing runs on ``local[$SPARK_GRAFT_CPUS]`` (default 32); the
same config block is what we would ship to a real cluster, where the
partition counts scale with cluster cores instead (AQE coalescing makes the
static number a ceiling, not a constant).
"""

from __future__ import annotations

import os
import re

from pyspark.sql import SparkSession

#: bytes per unit of a JVM memory string; no unit means MiB, as in Spark
_MEM_UNITS = {
    "": 1 << 20,
    "b": 1,
    "k": 1 << 10,
    "m": 1 << 20,
    "g": 1 << 30,
    "t": 1 << 40,
    "p": 1 << 50,
}


def driver_memory() -> str:
    """``spark.driver.memory``: ``$SPARK_GRAFT_DRIVER_MEM``, else half of
    physical memory. A setting above physical memory raises here rather
    than letting the JVM grow until the kernel kills it."""
    phys = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    want = os.environ.get("SPARK_GRAFT_DRIVER_MEM")
    if want is None:
        return f"{phys // 2 >> 20}m"
    m = re.fullmatch(r"(\d+)(b|[kmgtp]b?)?", want.strip().lower())
    if m is None:
        raise ValueError(
            f"SPARK_GRAFT_DRIVER_MEM={want!r} is not a JVM memory size"
            " such as 4g or 512m"
        )
    if int(m[1]) * _MEM_UNITS[(m[2] or "")[:1]] > phys:
        raise ValueError(
            f"SPARK_GRAFT_DRIVER_MEM={want} exceeds physical memory"
            f" ({phys >> 20}m)"
        )
    return want


def get_spark(app_name: str = "beavers_spark", extra_conf: dict | None = None) -> SparkSession:
    """Create (or reuse) the tuned SparkSession.

    Scale notes (100 TB posture):
    - AQE on: runtime partition coalescing, skew-join splitting, and
      dynamic join-strategy switching replace hand-tuned shuffle sizing.
    - ``spark.sql.shuffle.partitions`` is a local-mode default; on a real
      cluster AQE's ``advisoryPartitionSizeInBytes`` governs post-shuffle
      sizing, so plans survive a 1000x scale-up without re-tuning.
    - Arrow enabled for every Python<->JVM hop (Pandas UDFs, toPandas).
    - UTC session timezone: the reference's time domain is UTC throughout
      (reference: beavers/dag.py:46-47 UTC_EPOCH/UTC_MAX).
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", cpus)
        .config("spark.default.parallelism", cpus)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # let AQE convert sort-merge joins to shuffled hash joins when a
        # side's per-partition build fits below this threshold — drops
        # the sort from fact-fact equi-joins (measured -16..-40% on the
        # orderkey joins in q7/q13/q21 at sf0.1); AQE falls back to SMJ
        # when the runtime stats say the build side is too big, so the
        # spill-safety of SMJ is kept where it matters
        .config(
            "spark.sql.adaptive.shuffledHashJoinLocalMapThreshold",
            str(64 * 1024 * 1024),
        )
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.filterPushdown", "true")
        # NB: testdata parquet is one row group per file, so scans cannot
        # be split (row group = atomic unit); CPU-heavy stages explicitly
        # repartition after the scan instead of tuning maxPartitionBytes
        # testdata events.parquet stores TIMESTAMP(NANOS); surface as BIGINT
        # nanos (plans/common.t converts back to TimestampType at us)
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.ui.enabled", "false")
        .config("spark.shuffle.spill.compress", "true")
        # ContextCleaner's broadcast/shuffle cleanup is GC-driven: it
        # only reclaims blocks whose driver-side references a JVM GC
        # has actually collected, and its own periodic System.gc()
        # defaults to every 30min — longer than an entire local test
        # or bench run, so thousands of micro-batch jobs accumulate
        # broadcast + shuffle blocks unreclaimed and late work slows
        # down for no plan-side reason (measured r11: the same
        # scenario 22.8s early-session vs 228.8s late-session). Two
        # minutes keeps the single-JVM local harness steady; on a real
        # cluster the default is fine (executors hold the blocks, and
        # long-lived drivers GC naturally under heap pressure).
        .config("spark.cleaner.periodicGC.interval", "2min")
    )
    extra_conf = extra_conf or {}
    if "spark.driver.memory" not in extra_conf:
        builder = builder.config("spark.driver.memory", driver_memory())
    for k, v in extra_conf.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def load_tables(spark: SparkSession, sf_dir: str, names: list[str] | None = None):
    """Load the test tables as a dict of DataFrames and register temp views.

    Tables: region nation customer supplier part orders lineitem events
    documents embeddings (TESTDATA.md).
    """
    names = names or [
        "region",
        "nation",
        "customer",
        "supplier",
        "part",
        "orders",
        "lineitem",
        "events",
        "documents",
        "embeddings",
    ]
    out = {}
    for name in names:
        path = os.path.join(sf_dir, f"{name}.parquet")
        if os.path.exists(path):
            df = spark.read.parquet(path)
            df.createOrReplaceTempView(name)
            out[name] = df
    return out

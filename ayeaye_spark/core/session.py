"""SparkSession builder tuned for this engine.

Centralizes the scale-aware defaults every entry point uses: AQE on
(runtime partition coalescing + skew-join handling), Arrow for the
pandas-UDF slow path, UTC session timezone (oracle comparability), and
shuffle partitions sized to the local core count instead of Spark's
default 200, and a codegen cache (``CODEGEN_CACHE_MAX_ENTRIES``) large
enough that a recurring ``ModelCollection`` pass compiles each generated
class once per JVM instead of once per pass.  On a real cluster these
remain correct starting points — AQE re-plans partition counts from
runtime statistics.

:func:`codegen_compiles` reads the JVM's Janino compilation count, the
box-independent figure that shows whether that cache holds the working
set.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def default_parallelism() -> int:
    return int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))


# Guide-§9 production starting configuration for a REAL cluster at the
# 100 TB scale — opt-in via get_spark(profile="cluster"), never applied
# by default (bench.py and the driver contract use the default profile,
# pinned by tests/test_core.py::TestClusterProfile).  Rationale per key:
# zstd shuffle codec (shuffle bytes dominate at scale; measure vs lz4),
# 512m scan splits (fewer map tasks feeding each shuffle, guide §2.2),
# 256m AQE advisory partitions (reduce partitions in the 100 MB–1 GB
# band, guide §2.2), preferSortMergeJoin=false (AQE may pick
# shuffled-hash where a build side fits, guide §3.1).  All remain
# overridable via extra_conf (applied last).
CLUSTER_PROFILE_CONF = {
    "spark.io.compression.codec": "zstd",
    "spark.sql.parquet.compression.codec": "zstd",
    "spark.sql.files.maxPartitionBytes": "512m",
    "spark.sql.adaptive.advisoryPartitionSizeInBytes": "256m",
    "spark.sql.join.preferSortMergeJoin": "false",
}


# Spark's codegen cache (spark.sql.codegen.cache.maxEntries), least-
# recently-used out first, must hold a recurring pass's generated
# classes: at Spark's default of 100 every steady etl_dag pass recompiled
# ~320 of them (Janino, then the JIT again on the new classes), since an
# LRU cache smaller than a cyclic working set evicts each class before
# its reuse.  Counts and sizing: ARCHITECTURE.md, "JIT code-cache
# sizing".  A STATIC conf, and the cache is a JVM-wide singleton sized
# when the JVM first generates code: it holds only for the session that
# starts the JVM — getOrCreate on an existing session
# (applyModifiableSettings) ignores it, and so does a later session in
# the same JVM.
CODEGEN_CACHE_MAX_ENTRIES = 2048


def codegen_compiles(spark: SparkSession) -> int:
    """Classes Janino has compiled in this JVM so far (Spark's
    ``CodegenMetrics`` compilation-time histogram count).  Cumulative
    across sessions of one JVM, so callers take differences."""
    metrics = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return int(metrics.METRIC_COMPILATION_TIME().getCount())


def get_spark(
    app_name: str = "ayeaye_spark",
    *,
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
    profile: str = "local",
) -> SparkSession:
    if profile not in ("local", "cluster"):
        raise ValueError(f"profile must be 'local' or 'cluster', got {profile!r}")
    cpus = default_parallelism()
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master or f"local[{cpus}]")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions or cpus))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.codegen.cache.maxEntries", str(CODEGEN_CACHE_MAX_ENTRIES))
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "48g"))
        # JIT code cache: the JVM default (240 MB) fills after compiling
        # a few hundred whole-stage-codegen classes — once full the JIT
        # DISABLES and everything runs interpreted (observed: late-sweep
        # queries at 4-15x their steady state, consistently across their
        # consecutive runs, while a fresh session is fast).  A long-lived
        # session executing many distinct plans needs the headroom.
        .config(
            "spark.driver.extraJavaOptions",
            "-XX:ReservedCodeCacheSize=1g -XX:+UseCodeCacheFlushing",
        )
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.ui.enabled", "false")
    )
    if profile == "cluster":
        for k, v in CLUSTER_PROFILE_CONF.items():
            builder = builder.config(k, v)
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    # WindowExec's "No Partition Defined" warning: every remaining
    # partition-less window in this engine runs over a BOUNDED aggregate
    # frame (bucket-totals of the two-phase prefix sum, value
    # histograms, per-year rows) — that invariant is enforced by plan
    # tests (tests/test_scale_plans.py: no full-row SinglePartition
    # exchange, no per-row NTILE/rank windows), not by this log line.
    # Spark constant-folds even partitionBy(lit(1)), so the warning
    # cannot be avoided at the call site; demote it to ERROR.
    try:
        jvm = spark._jvm
        logger = jvm.org.apache.log4j.LogManager.getLogger(
            "org.apache.spark.sql.execution.window.WindowExec"
        )
        logger.setLevel(jvm.org.apache.log4j.Level.ERROR)
    except Exception:
        pass  # log4j bridge unavailable: warnings are cosmetic only
    return spark

"""SparkSession builder with scale-oriented defaults.

Centralizes the tuning the reference scattered across its launcher
(reference: src/main/java/org/dicl/velox/benchmark/VDFSLauncher.java:26-40
injects buffer sizes and disables speculative execution via `-D` flags).
Here the equivalent knobs are Spark SQL configs chosen for a
many-executor deployment but testable on local[N]. Settings that
restate a Spark 4.1 default are not repeated here:

  * AQE (a Spark default: runtime partition coalescing, skew-join
    splitting, dynamic join-strategy demotion) replaces the
    reference's ZooKeeper "lean" work-stealing scheduler
    (LeanInputFormat.java:30-76) with zero custom code; cached plans
    may change their output partitioning so AQE sizes them too.
  * Arrow on — every Python boundary (pandas UDFs, toPandas) is
    columnar-batched, never row-at-a-time.
  * shuffle.partitions sized from the env (local runs) — on a real
    cluster AQE coalesces from a high initial number, so this is a
    floor, not a schedule.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

_DEFAULT_CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", len(os.sched_getaffinity(0))))


def get_spark(
    app_name: str = "velox_hadoop_spark",
    cpus: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession with the engine's defaults.

    On a cluster you would drop ``master`` and submit normally; the
    config set below is deployment-neutral.
    """
    cpus = cpus or _DEFAULT_CPUS
    shuffle_partitions = shuffle_partitions or max(cpus, 8)

    builder = (
        SparkSession.builder.appName(app_name)
        .master(os.environ.get("SPARK_GRAFT_MASTER", f"local[{cpus}]"))
        # Let AQE size CACHED-plan output partitions too (off by default
        # only for consumers that depend on a cached frame's exact
        # partition count — nothing here does). Without it every
        # persist()/cache() materializes at the raw shuffle-partition
        # count and every downstream stage over the cached frame
        # inherits those (possibly near-empty) partitions for the rest
        # of the query: the iterative operators (pagerank, BFS, k-core,
        # LSS) re-read their persisted edge/frontier frames dozens of
        # times per run. Byte-based AQE coalescing keeps cached
        # partitions at the advisory size at ANY scale — measured at
        # sf0.1 it cuts scheduled tasks 3-6x on the iterative family
        # (pagerank_converged 1731 -> 276) with identical results.
        .config(
            "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning",
            "true",
        )
        # Arrow for all Python<->JVM data movement.
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        # Parquet aggregate pushdown into the scan node where possible
        # (min/max/count on sorted columns).
        .config("spark.sql.parquet.aggregatePushdown", "true")
        # Keep timestamps deterministic regardless of host TZ.
        .config("spark.sql.session.timeZone", "UTC")
        # Broadcast threshold: 64 MB — dimension tables (region, nation,
        # supplier, part at typical SFs) broadcast instead of shuffling
        # the fact table. At 100 TB the fact side never moves for these.
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def parallelize_if_narrow_input(df):
    """Round-robin repartition ONLY when the scan under-parallelizes.

    Compute-heavy narrow pipelines (MinHash, SimHash, fingerprinting,
    per-row UDF featurization) inherit the scan's partition count. On a
    real deployment (100 TB = thousands of parquet row groups) that is
    ample and this helper is a no-op — the check costs one metadata
    call, no job. On few-file/single-row-group inputs (small SFs, or a
    badly compacted table) the scan yields fewer partitions than cores
    and the whole pipeline runs near-serial; one cheap shuffle of the
    raw input then unlocks full parallelism. This is the input-side
    analog of the reference's chunk over-provisioning
    (reference: src/main/java/org/dicl/velox/mapreduce/
    LeanInputFormat.java:54-64 over-splits blocks so every map slot
    gets work) — expressed as a conditional repartition instead of a
    custom scheduler.
    """
    from pyspark.sql import SparkSession

    spark = SparkSession.getActiveSession()
    target = spark.sparkContext.defaultParallelism if spark is not None else 8
    # File count lower-bounds scan parallelism (a large file splits into
    # MORE partitions, a small one yields exactly one), so n_files >=
    # target guarantees enough tasks — a pure-catalyst probe, no
    # DataFrame->RDD conversion. Non-file-backed frames report no files;
    # leave those untouched.
    n_files = len(df.inputFiles())
    if n_files == 0 or n_files >= target:
        return df
    return df.repartition(target)


def stop_spark() -> None:
    active = SparkSession.getActiveSession()
    if active is not None:
        active.stop()

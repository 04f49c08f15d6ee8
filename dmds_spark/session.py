"""SparkSession factory tuned for this engine.

Local mode for tests/bench; the same settings (AQE, adaptive coalesce,
UTC session TZ, Arrow) are what we would ship on a real cluster — only
master/shuffle-partition count change with deployment size.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def default_cpus() -> str:
    """``SPARK_GRAFT_CPUS``, else every core this host has."""
    return os.environ.get("SPARK_GRAFT_CPUS") or str(os.cpu_count() or 1)


def default_driver_memory() -> str:
    """``SPARK_GRAFT_DRIVER_MEM``, else half of physical RAM (at least
    1 GiB): in local mode the driver heap holds every executor too, and
    the rest is left to the OS, Python workers and off-heap buffers."""
    env = os.environ.get("SPARK_GRAFT_DRIVER_MEM")
    if env:
        return env
    try:
        ram = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    except (AttributeError, ValueError, OSError):
        return "4g"
    return f"{max(1, ram // 2**31)}g"


def get_spark(
    app_name: str = "dmds_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession.

    Defaults fit the host (``default_cpus``, ``default_driver_memory``;
    explicit arguments and ``extra_conf`` win) but the conf set is
    cluster-ready: AQE handles runtime re-planning (skew join
    splitting, partition coalescing) at any scale, and shuffle
    partition count should track total cores (set explicitly per
    deployment).
    """
    cpus = default_cpus()
    if master is None:
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        shuffle_partitions = int(cpus)

    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.sources.partitionOverwriteMode", "dynamic")
        .config("spark.sql.parquet.filterPushdown", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.driver.memory", default_driver_memory())
        # Column trees built from Python are converted to expressions
        # recursively on the py4j thread: a 300-deep tree overflowed the
        # default 1 MiB stack while that code still ran interpreted
        .config("spark.driver.extraJavaOptions", "-Xss4m")
        .config("spark.ui.enabled", "false")
        # the SQL status store keeps every retained execution's plan
        # metrics even with the UI off, and nothing here reads them
        .config("spark.sql.ui.retainedExecutions", "50")
        # plan introspection (plans/inspect.py) needs untruncated
        # FileScan metadata (PushedFilters/ReadSchema lines)
        .config("spark.sql.maxMetadataStringLength", "10000")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.sql.shuffle.spill.compress", "true")
    )
    if extra_conf:
        for k, v in extra_conf.items():
            builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def release_materialized_state(spark: SparkSession) -> int:
    """Unpersist every persistent RDD (localCheckpoint snapshots from
    the dedup/clustering/curation pipelines) and clear the SQL cache.

    A finished query's checkpoint blocks stay in the block manager
    until the JVM ContextCleaner notices the Python-side reference
    died; across a long session (bench loop, notebook) that backlog
    inflates the heap and turns into multi-second GC pauses landing on
    unrelated queries. Calling this between queries makes memory usage
    per-query, not per-session. Returns the number of RDDs released."""
    jsc = spark.sparkContext._jsc
    rdds = list(jsc.getPersistentRDDs().values())
    for rdd in rdds:
        rdd.unpersist(False)
    spark.catalog.clearCache()
    return len(rdds)

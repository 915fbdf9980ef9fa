"""SparkSession factory with scale-appropriate defaults."""

from __future__ import annotations

import os


def _default_driver_memory() -> str:
    """About half the host's physical RAM, capped at 64g: the JVM heap
    plus its off-heap and the Python workers must fit in RAM, or the
    kernel's OOM killer ends the JVM mid-job (a 64g heap on a 15 GB host
    grew to ~15.9 GB RSS and was killed)."""
    try:
        phys = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    except (AttributeError, OSError, ValueError):  # no sysconf (non-POSIX)
        return "64g"
    return f"{max(1, min(64, (phys // 2) >> 30))}g"


def get_spark(app: str = "liblognorm_spark", cpus: int | None = None, shuffle_partitions: int | None = None):
    from pyspark.sql import SparkSession

    if cpus is None:
        cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "0")) or (os.cpu_count() or 4)
    if shuffle_partitions is None:
        shuffle_partitions = max(cpus, 8)
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # 64k-row Arrow batches for the match stage (rows are ~100B, so a
        # batch is ~6-12MB): an interleaved same-session A/B at 4.8M docs
        # won 3 of 4 pairs vs the old 20000 and cut the slow-rep tail
        # (b20k [5.79, 8.05, 3.96, 3.40] vs b64k [4.40, 3.89, 3.37,
        # 3.45]).  Parameterised for wide-row deployments (guide §4.2:
        # lower it for large binary cells).
        .config("spark.sql.execution.arrow.maxRecordsPerBatch",
                os.environ.get("SPARK_GRAFT_ARROW_BATCH", "65536"))
        # local mode = driver-only: the driver heap is the executor heap.
        # GC pressure is the first scaling killer for the match stage at
        # high core counts (measured: 8g heap halves 32-core throughput).
        .config("spark.driver.memory",
                os.environ.get("SPARK_DRIVER_MEMORY", _default_driver_memory()))
        .config("spark.ui.enabled", "false")
        # CPU-heavy Python match stage: smaller input splits (vs the 128MB
        # scan default) give 3-4 tasks per core, smoothing stragglers and
        # overlapping JVM Arrow feed with Python parse (measured ~1.5x at
        # 32 cores).  At cluster scale tune toward 64-128MB for scan-bound
        # jobs; the match stage stays balanced via salted repartition.
        .config("spark.sql.files.maxPartitionBytes", "16777216")
    )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark

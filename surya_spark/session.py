"""SparkSession factory with scale-aware defaults.

Local mode is single-JVM; on a real cluster the same configs apply per
executor. Shuffle-partition count tracks core count (not the 200 default)
because our payloads are image blobs — oversized partitions OOM, undersized
ones thrash the Arrow serializer.
"""

from __future__ import annotations

import os
from contextlib import contextmanager

from pyspark.sql import SparkSession


def host_cpus() -> int:
    """CPUs this process may run on (its affinity mask, not the machine)."""
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:  # no affinity API outside Linux
        return os.cpu_count() or 1


def default_driver_memory(total_bytes: int | None = None) -> str:
    """Half the host's physical memory in whole GiB, within [1g, 24g]."""
    if total_bytes is None:
        try:
            total_bytes = (os.sysconf("SC_PAGE_SIZE")
                           * os.sysconf("SC_PHYS_PAGES"))
        except (AttributeError, ValueError, OSError):
            return "24g"
    return f"{max(1, min(24, total_bytes // 2 // 2**30))}g"


DEFAULT_CPUS = int(os.environ.get("SPARK_GRAFT_CPUS") or host_cpus())


def get_spark(
    app: str = "surya_spark",
    cores: int | None = None,
    shuffle_partitions: int | None = None,
    driver_memory: str | None = None,
) -> SparkSession:
    cores = cores or DEFAULT_CPUS
    driver_memory = driver_memory or default_driver_memory()
    shuffle_partitions = shuffle_partitions or max(cores, 8)
    # AQE defaults ON (coalescing + skew splitting matter at real scale).
    # SPARK_GRAFT_AQE=0 turns it off: its per-stage driver re-planning is a
    # SERIAL cost (~0.2-0.5 s × ~20 stages for the extraction DAG) that
    # dominates wall time only at toy input sizes — scale benchmarks
    # disable it so they measure executor scaling, not driver latency.
    aqe = os.environ.get("SPARK_GRAFT_AQE", "1") != "0"
    builder = (
        SparkSession.builder.master(f"local[{cores}]")
        .appName(app)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", str(aqe).lower())
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", driver_memory)
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold",
                os.environ.get("SPARK_GRAFT_ABJT", str(64 * 1024 * 1024)))
        # mid-pipeline broadcast children can be whole UDF stages; at low
        # parallelism their computation alone exceeds the 300 s default
        .config("spark.sql.broadcastTimeout", "3600")
    )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


@contextmanager
def arrow_batch(spark: SparkSession, records_per_batch: int):
    """Temporarily bound Arrow batch size for image-carrying UDF stages.

    Mirrors the reference's cost-based GPU batch packing
    (/root/reference/surya/detection/__init__.py:73-90): a batch of page
    blobs must fit executor memory, so inference stages run with small
    Arrow batches while relational stages keep the large default.
    """
    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    old = spark.conf.get(key, "10000")
    spark.conf.set(key, str(records_per_batch))
    try:
        yield
    finally:
        spark.conf.set(key, old)

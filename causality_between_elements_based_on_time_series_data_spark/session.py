"""SparkSession factory tuned for the test harness and for scale.

Local runs use ``local[$SPARK_GRAFT_CPUS]`` (default 32 threads, one
JVM).  The conf choices below are the ones that carry to a real
cluster: AQE on (runtime coalescing + skew-join handling), shuffle
partitions sized to parallelism rather than the 200 default, Arrow
enabled for the pandas-UDF slow path, and a pinned UTC session
timezone so timestamp semantics match the DuckDB oracle.

The driver heap (``spark.driver.memory``) is ``$SPARK_GRAFT_DRIVER_MEM``
when set, passed through verbatim.  Otherwise it is sized to the machine:
half of physical RAM, floored to whole GiB, at least ``1g`` and at most
``24g``.  Half, because the heap is not all the memory the run needs:
the JVM's off-heap memory (a 6g heap reached 7.4 GB RSS in the
registry-wide plan sweep test, 4 vCPU / 16 GB box), the Python workers,
the Python driver and the OS share the other half.  A fixed heap
larger than the box lets the JVM grow until the kernel kills it, and
every later call then fails with ``ConnectionRefusedError``.
"""

from __future__ import annotations

import os
from contextlib import contextmanager

from pyspark.sql import SparkSession


@contextmanager
def scoped_conf(spark: SparkSession, key: str, value: str):
    """Set a runtime SQL conf for the duration of a block, restoring
    (or unsetting) the prior value afterwards — for confs a *read* must
    see (the reader captures its hadoop conf at ``spark.read`` time)
    without leaving a session-wide mutation behind."""
    prev = spark.conf.get(key, None)
    spark.conf.set(key, value)
    try:
        yield
    finally:
        if prev is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, prev)


def default_parallelism() -> int:
    return int(os.environ.get("SPARK_GRAFT_CPUS", "32"))


def default_driver_memory() -> str:
    """``spark.driver.memory`` for :func:`get_spark`: ``$SPARK_GRAFT_DRIVER_MEM``
    verbatim when set, else half of physical RAM in whole GiB, clamped to
    ``[1g, 24g]`` (the other half is left for JVM off-heap memory, Python
    workers and the OS)."""
    override = os.environ.get("SPARK_GRAFT_DRIVER_MEM")
    if override:
        return override
    ram = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    return f"{max(1, min(24, ram // 2**31))}g"


def get_spark(app_name: str = "causality-ts-spark", shuffle_partitions: int | None = None) -> SparkSession:
    """Build (or fetch) the tuned SparkSession.

    On a real cluster only ``master`` changes; every other conf here is
    scale-portable.  ``spark.sql.shuffle.partitions`` should track
    cluster cores (AQE coalesces down when partitions run small).
    The driver heap comes from :func:`default_driver_memory`: half of
    physical RAM (whole GiB, 1g to 24g) unless ``$SPARK_GRAFT_DRIVER_MEM``
    overrides it.
    """
    cpus = default_parallelism()
    builder = (
        SparkSession.builder.appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions or cpus))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        # Start shuffles WIDE and let AQE coalesce down: with the
        # static partition count alone, a 100x volume jump makes
        # per-partition shuffle blocks outgrow memory and spill
        # (measured: q21 at x100 ran 2.5x faster at 256 partitions —
        # SCALE_r7.md finding 4).  initialPartitionNum is the
        # scale-portable knob — small queries still coalesce to few
        # partitions, big ones keep enough to stay in memory.
        .config(
            "spark.sql.adaptive.coalescePartitions.initialPartitionNum",
            str(8 * cpus),
        )
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # single configuration point for TIMESTAMP(NANOS) parquet scans
        # (events.ts); sources.catalog.load_table additionally scopes
        # the flag per-read so foreign sessions behave identically
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.driver.memory", default_driver_memory())
        .config("spark.ui.enabled", "false")
    )
    if not os.environ.get("SPARK_GRAFT_NO_MASTER"):
        builder = builder.master(f"local[{cpus}]")
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark

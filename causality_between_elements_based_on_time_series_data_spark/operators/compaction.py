"""Small-file compaction — the table-maintenance operator every
100 TB parquet lake needs.

Long-running ingestion (streaming micro-batches, per-partition
appends) leaves thousands of KB-sized part files; scans then pay a
task per file and the NameNode/object-store pays a listing per file.
Compaction rewrites a directory into ~``target_bytes`` files.

The reference never touches this (it is a single-process TF script —
``/root/reference/run.py`` reads a handful of local text files), but
its Spark re-expression must: the B-matrix sink and the streaming
foreachBatch sink both produce per-round/per-batch fragments.

Design for scale:

- File sizing is METADATA-ONLY: one recursive listing through the
  Hadoop FileSystem API (works for HDFS/S3A/local alike) sums part
  sizes on the driver; no data is read to plan the rewrite.
- The rewrite itself is one distributed pass: round-robin
  ``repartition(n)`` for plain bin-packing, or
  ``repartitionByRange(n, sort_col)`` when a clustered layout should
  survive compaction (range-partitioned files keep min/max pruning
  effective — see ``parquet_sorted_layout``).
- ``n`` derives from actual bytes, so the operator converges: a
  second compaction over its own output is a no-op-sized rewrite.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, SparkSession

from ..sources.catalog import local_frame


def parquet_bytes(spark: SparkSession, path: str) -> tuple[int, int]:
    """(total_bytes, n_files) over all part files under ``path``,
    via the Hadoop FS API — storage-scheme agnostic, metadata only."""
    jvm = spark._jvm
    hpath = jvm.org.apache.hadoop.fs.Path(path)
    fs = hpath.getFileSystem(spark._jsc.hadoopConfiguration())
    it = fs.listFiles(hpath, True)
    total = 0
    n = 0
    while it.hasNext():
        status = it.next()
        name = status.getPath().getName()
        if name.endswith(".parquet") or name.startswith("part-"):
            total += status.getLen()
            n += 1
    return total, n


def compact_parquet(
    spark: SparkSession,
    src: str,
    dst: str,
    target_bytes: int = 128 * 1024 * 1024,
    sort_col: str | None = None,
) -> int:
    """Rewrite the parquet directory ``src`` into ``dst`` with
    ~``target_bytes`` per output file; returns the file count chosen.

    ``sort_col`` switches round-robin packing to a range layout so
    downstream min/max pruning on that column keeps working.
    """
    total, _ = parquet_bytes(spark, src)
    n = max(1, math.ceil(total / target_bytes))
    df = spark.read.parquet(src)
    packed = df.repartitionByRange(n, sort_col) if sort_col else df.repartition(n)
    packed.write.mode("overwrite").parquet(dst)
    return n


def compact_stats(spark: SparkSession, src: str, dst: str) -> DataFrame:
    """1-row DataFrame of before/after file counts + bytes for audit."""
    b_bytes, b_files = parquet_bytes(spark, src)
    a_bytes, a_files = parquet_bytes(spark, dst)
    return local_frame(
        spark,
        [(b_files, a_files, b_bytes, a_bytes)],
        "files_before int, files_after int, bytes_before long, bytes_after long",
    )

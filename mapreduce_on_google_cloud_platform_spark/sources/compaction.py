"""Small-files compaction: rewrite a table into size-targeted files.

The classic operational failure at 100 TB isn't a slow query, it's a
table of 50 million 2 MB files: every scan pays per-file open/footer
cost, the driver's split planning balloons, and shuffle-heavy writers
(one file per task per partition) make it worse every day.  Compaction
rewrites a table into files near a target size, optionally sorted so
min/max row-group statistics become selective (the poor man's
Z-ordering for one key).

Sizing uses the table's own on-disk bytes (sum of file sizes via the
Hadoop FS API -- works for any Hadoop-compatible store, not just
local disk), so the file count adapts to the data rather than being a
hand-tuned constant.

For hive-partitioned layouts use
``sources/partitioned.py::compact_partitions`` instead: it rewrites per
partition directory (preserving pruning) with ``maxRecordsPerFile``
re-splitting, where this module targets one flat file set.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, SparkSession

from .tables import read_parquet

DEFAULT_TARGET_BYTES = 128 * 1024 * 1024


def table_bytes(spark: SparkSession, path: str) -> int:
    """Total bytes under ``path`` via the JVM Hadoop filesystem (portable
    across local/HDFS/object stores)."""
    jvm = spark._jvm
    hpath = jvm.org.apache.hadoop.fs.Path(path)
    fs = hpath.getFileSystem(spark._jsc.hadoopConfiguration())
    return fs.getContentSummary(hpath).getLength()


def compact(
    spark: SparkSession,
    src_path: str,
    dst_path: str,
    target_bytes: int = DEFAULT_TARGET_BYTES,
    sort_col: str | None = None,
) -> int:
    """Rewrite parquet at ``src_path`` into ``ceil(bytes/target)`` files at
    ``dst_path``; returns the file count.  With ``sort_col``, rows are
    range-partitioned and sorted so each output file covers a disjoint key
    range (selective min/max pruning for later scans filtering that key)."""
    df = read_parquet(spark, src_path)
    n_files = max(1, math.ceil(table_bytes(spark, src_path) / target_bytes))
    if sort_col:
        df = df.repartitionByRange(n_files, sort_col).sortWithinPartitions(sort_col)
    else:
        df = df.repartition(n_files)
    df.write.mode("overwrite").parquet(dst_path)
    return n_files

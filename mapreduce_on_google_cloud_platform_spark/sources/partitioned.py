"""Hive-style partitioned layout: directory pruning for time/category scans.

The complement of bucketing.py: bucketing pre-pays JOIN shuffles, while
directory partitioning pre-pays FILTER scans.  A table written as
``path/event_date=2024-01-05/part-*.parquet`` lets any query with a
predicate on the partition column skip whole directories at planning
time — at 100 TB with daily partitions, a one-day query reads ~1/365th
of the bytes and the scan's ``PartitionFilters`` (not a post-scan
filter) is what proves it (asserted in tests/test_partitioned.py).

Two pruning modes, both exercised by the tests:

* **Static**: the predicate is a literal (``event_date = '2024-01-05'``)
  — pruned during logical planning, unmatched directories are never
  listed.
* **Dynamic (DPP)**: the predicate arrives through a join against a
  filtered dimension (``JOIN dates_dim ON ... WHERE dim.is_weekend``) —
  Catalyst inserts a ``dynamicpruningexpression`` that evaluates the dim
  side first and broadcasts the surviving partition keys into the fact
  scan at runtime.  This is the mechanism that makes star-schema date
  filtering cheap without literal predicates.  Caveat (test-pinned): the
  rule's selectivity heuristic only recognizes comparison/IN/LIKE
  predicates on the dim — filtering on a bare boolean column silently
  disables DPP; model dim flags as categorical values, not booleans.

Layout guidance encoded as defaults:

* partition by LOW-cardinality, ALWAYS-filtered columns (dates,
  regions); a high-cardinality partition column (user_id) creates
  millions of tiny directories and kills the file listing;
* combine with in-file sorting or bucketing for secondary keys;
* repartition by the partition column before writing, otherwise every
  task writes a file into every partition directory (tasks x partitions
  small files — the classic mistake this module's writer avoids).
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .tables import load_table, read_parquet


def write_partitioned(
    df: DataFrame, path: str, partition_cols: Sequence[str]
) -> None:
    """Write ``df`` as hive-partitioned parquet at ``path``.

    Repartitions on the partition columns first so each output directory
    is written by (at most) one task — without this, a 200-task write
    into 365 date directories produces 73k small files."""
    (
        df.repartition(*[F.col(c) for c in partition_cols])
        .write.mode("overwrite")
        .partitionBy(*partition_cols)
        .parquet(path)
    )


def read_partitioned(spark: SparkSession, path: str) -> DataFrame:
    """Read a partitioned layout (partition columns come back as real
    columns, typed by partition-dir discovery)."""
    return read_parquet(spark, path)


def overwrite_partitions_dynamic(
    df: DataFrame, path: str, partition_cols: Sequence[str]
) -> None:
    """Overwrite ONLY the partitions present in ``df``, leaving every
    other directory untouched -- the idempotent daily-backfill pattern
    (re-run one day without clobbering the year).  Uses dynamic
    partition-overwrite mode, set per-write and restored, so normal
    overwrites elsewhere keep replacing whole tables."""
    spark = df.sparkSession
    key = "spark.sql.sources.partitionOverwriteMode"
    try:
        old = spark.conf.get(key)
    except Exception:
        old = None
    spark.conf.set(key, "dynamic")
    try:
        (
            df.repartition(*[F.col(c) for c in partition_cols])
            .write.mode("overwrite")
            .partitionBy(*partition_cols)
            .parquet(path)
        )
    finally:
        if old is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, old)


def compact_partitions(
    spark: SparkSession,
    src_path: str,
    dst_path: str,
    partition_cols: Sequence[str],
    *,
    max_records_per_file: int = 1_000_000,
) -> None:
    """Rewrite a fragmented hive-partitioned layout into few, full-size
    files per partition directory (the partitioned-table sibling of
    ``sources/compaction.py::compact``, which size-targets an
    UNpartitioned table and can range-sort it; this one preserves the
    directory structure so partition pruning keeps working).

    The maintenance half of the small-files story: ``write_partitioned``
    prevents fragmentation on clean writes, but streaming sinks, dynamic
    partition backfills, and concurrent writers still accrete small
    files, and at 100 TB the scan's file-listing + per-file open cost
    eventually dominates the read.  Compaction is one shuffle on the
    partition columns (each directory rewritten by one task) with
    ``maxRecordsPerFile`` re-splitting any partition too big for a single
    file -- so output file count ~= ceil(rows_p / max_records) per
    partition, independent of how fragmented the input was.  Data is
    byte-preserved (pure read -> reshuffle -> write; no dedup, no
    reorder semantics)."""
    df = read_parquet(spark, src_path)
    (
        df.repartition(*[F.col(c) for c in partition_cols])
        .write.mode("overwrite")
        .option("maxRecordsPerFile", max_records_per_file)
        .partitionBy(*partition_cols)
        .parquet(dst_path)
    )


def events_by_date(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The events table with its natural partition column attached."""
    ev = load_table(spark, sf_dir, "events")
    return ev.withColumn("event_date", F.to_date("ts"))

"""Range-sorted layout: globally range-partitioned, in-file sorted parquet.

The read-side payoff of writing data ordered by a hot filter column:
``repartitionByRange`` gives every output file a DISJOINT value range,
and ``sortWithinPartitions`` orders rows inside each file, so parquet
min/max statistics (footer per file, per row-group) become maximally
selective.  A range predicate then skips whole files/row-groups without
any directory-partitioning scheme -- the complement of
``sources/partitioned.py`` (directory pruning for low-cardinality
columns) for HIGH-cardinality columns like timestamps, where one
directory per value is unworkable.

At 100 TB: the write pays one range-shuffle (sampled range boundaries,
skew-aware) + per-task sort; every subsequent time-range scan reads only
the overlapping slice.  This is single-column Z-ordering; for
multi-column skipping, interleave bits or use a space-filling curve as
the sort key (same write path).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from .tables import read_parquet


def write_range_sorted(
    df: DataFrame, path: str, sort_col: str, n_files: int
) -> None:
    """Write ``df`` as ``n_files`` parquet files with disjoint
    ``sort_col`` ranges, rows sorted within each file."""
    (
        df.repartitionByRange(n_files, sort_col)
        .sortWithinPartitions(sort_col)
        .write.mode("overwrite")
        .parquet(path)
    )


def read_sorted(spark: SparkSession, path: str) -> DataFrame:
    return read_parquet(spark, path)

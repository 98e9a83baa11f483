"""Z-order (Morton-curve) clustered layout: multi-column data skipping.

``sources/sorted_layout.py`` shows the single-column story: range-sort on
one hot column and its parquet min/max footer stats skip whole files.
That layout is USELESS for predicates on any other column -- every file
spans the full range of the second dimension, so a filter on it reads
everything.  Z-ordering fixes exactly that: interleave the bits of two
(or more) normalized sort keys into one Morton value and range-sort on
THAT.  Each output file then covers a compact region of the 2-D value
space, so BOTH columns' per-file min/max ranges are narrow and a
predicate on either column (or a 2-D box) skips most files.

This is the same mechanism behind Delta Lake OPTIMIZE ZORDER BY and
Iceberg's z-order rewrites, built here from primitives the engine
already owns: a min/max normalization (two O(1) driver scalars), a
pure-JVM bit-interleave expression (codegen-friendly fold of shifts and
masks -- no UDF), and the existing range-sorted write path.

At 100 TB: the write pays one range shuffle on the Morton value
(sampled boundaries, skew-aware) exactly like the single-column layout;
read-side, footer-stat pruning applies per file AND per row-group, so
the scan cost of a selective 2-D predicate drops by roughly the covered
area fraction rather than only the one sorted dimension's fraction.
The curve generalizes to k columns by interleaving k ways; resolution
``bits`` trades boundary fuzz (few bits) against expression size.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from .tables import read_parquet

Z_BITS = 8  # per-dimension resolution: 2^8 cells per axis


def _normalized(
    df: DataFrame, col: str, out: str, lo: int, hi: int, bits: int
) -> DataFrame:
    """Add ``out``: ``col`` mapped onto [0, 2^bits) by exact integer
    arithmetic (SQL ``div`` -- floor for non-negative operands,
    deterministic, no floating point anywhere in the curve key)."""
    span = max(int(hi) - int(lo), 1)
    scaled = (F.col(col) - F.lit(int(lo))).cast("bigint") * F.lit(
        (1 << bits) - 1
    )
    return df.withColumn("_sc", scaled).withColumn(
        out, F.expr(f"_sc div {span}")
    ).drop("_sc")


def zvalue(x: Column, y: Column, bits: int = Z_BITS) -> Column:
    """Morton interleave of two already-normalized [0, 2^bits) integer
    columns: bit i of x lands at position 2i, bit i of y at 2i+1.  A
    pure shift/mask fold -- whole-stage codegen, no UDF."""
    z: Column = F.lit(0).cast("bigint")
    for i in range(bits):
        xbit = F.shiftright(x, i).bitwiseAND(F.lit(1))
        ybit = F.shiftright(y, i).bitwiseAND(F.lit(1))
        z = z.bitwiseOR(F.shiftleft(xbit, 2 * i)).bitwiseOR(
            F.shiftleft(ybit, 2 * i + 1)
        )
    return z


def write_zordered(
    df: DataFrame,
    path: str,
    col_x: str,
    col_y: str,
    n_files: int,
    bits: int = Z_BITS,
) -> None:
    """Write ``df`` as ``n_files`` parquet files clustered on the Morton
    curve over (col_x, col_y).  Bounds for the normalization come from
    one O(1) aggregate; the curve column is dropped before the write so
    the on-disk schema is unchanged -- the clustering lives entirely in
    the row order and the footer statistics."""
    lo_x, hi_x, lo_y, hi_y = df.agg(
        F.min(col_x), F.max(col_x), F.min(col_y), F.max(col_y)
    ).first()
    staged = _normalized(df, col_x, "_nx", int(lo_x), int(hi_x), bits)
    staged = _normalized(staged, col_y, "_ny", int(lo_y), int(hi_y), bits)
    (
        staged.withColumn("_z", zvalue(F.col("_nx"), F.col("_ny"), bits))
        .drop("_nx", "_ny")
        .repartitionByRange(n_files, "_z")
        .sortWithinPartitions("_z")
        .drop("_z")
        .write.mode("overwrite")
        .parquet(path)
    )


def read_zordered(spark: SparkSession, path: str) -> DataFrame:
    return read_parquet(spark, path)

"""Table loaders for the testdata star schema, and the engine's one
parquet read path.

The reference's only source is a multi-file UTF-8 text scan performed
single-threaded on the master (``/root/reference/master.py:54-64`` -- its
#1 scalability anti-pattern). Here every source is a distributed
columnar scan: ``spark.read.parquet`` plans splits per file/row-group, so
a 100 TB table fans out across all executors with predicate pushdown and
column pruning for free.

Schema inference is not free, though: a schema-less parquet read is a
Spark job of its own (one task reading footers) that runs while the
query is still being PLANNED -- 70-100 ms per read in a warm local[4]
session on 4 vCPUs, against 13-15 ms for the same read given its schema.
``read_parquet`` is therefore the only place a parquet relation is
opened (``tests/test_tables.py`` guards that): it infers each path's
schema once per file fingerprint (name, size, mtime of every file under
the path) and the session confs that change what inference returns,
then hands every later read the cached schema.  Each call still builds
a fresh relation with fresh attribute ids -- no DataFrame is cached, so
self-joins stay valid.  A rewritten file or a flipped conf re-infers.
On a cluster this saves one job's round trip to an executor and back
(a footer read) per table per query.
"""

from __future__ import annotations

import hashlib
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

# Dimension tables small enough to broadcast at any realistic scale factor
# (region is 5 rows, nation 25 at every SF; supplier/part grow slowly).
BROADCAST_TABLES = frozenset({"region", "nation"})


# Session confs that change the schema parquet inference returns.
_SCHEMA_CONFS = (
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.parquet.mergeSchema",
    "spark.sql.sources.partitionColumnTypeInference.enabled",
)

# abs path -> ((fingerprint, conf values), inferred schema)
_SCHEMAS: dict[str, tuple[tuple, StructType]] = {}


def table_path(sf_dir: str, name: str) -> str:
    return os.path.join(sf_dir, f"{name}.parquet")


def path_fingerprint(path: str) -> str:
    """Stable token for the current contents of ``path``: (relative
    path, size, mtime_ns) of every file under it, hashed.  The walk is
    recursive, so a directory-layout table (e.g. a partitioned
    ``events.parquet/`` dir) changes token when only an inner part-file
    changes; a plain file fingerprints itself.  A nonexistent path gets
    the empty token -- the read that follows raises cleanly."""
    h = hashlib.md5()
    try:
        if os.path.isfile(path):
            entries = [(os.path.basename(path), path)]
        else:
            entries = []
            for root, dirs, files in os.walk(path):
                dirs.sort()  # deterministic walk order
                rel_root = os.path.relpath(root, path)
                for fn in sorted(files):
                    rel = fn if rel_root == "." else os.path.join(rel_root, fn)
                    entries.append((rel, os.path.join(root, fn)))
        for rel, full in entries:
            st = os.stat(full)
            h.update(f"{rel}:{st.st_size}:{st.st_mtime_ns};".encode())
    except OSError:
        pass
    return h.hexdigest()[:12]


def read_parquet(spark: SparkSession, path: str) -> DataFrame:
    """``spark.read.parquet(path)`` without the schema-inference job on
    every call after the first (module docstring).  Paths with a URI
    scheme cannot be fingerprinted locally and are always inferred."""
    if "://" in path:
        return spark.read.parquet(path)
    key = os.path.abspath(path)
    token = (path_fingerprint(key), tuple(spark.conf.get(c) for c in _SCHEMA_CONFS))
    hit = _SCHEMAS.get(key)
    if hit is not None and hit[0] == token:
        return spark.read.schema(hit[1]).parquet(path)
    # fingerprint BEFORE inferring: a write racing this read leaves an
    # entry whose token is already stale, so the next read re-infers
    df = spark.read.parquet(path)
    _SCHEMAS[key] = (token, df.schema)
    return df


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    if name not in TABLES:
        raise KeyError(f"unknown table {name!r}; expected one of {TABLES}")
    if name == "events":
        return _load_events(spark, sf_dir)
    return read_parquet(spark, table_path(sf_dir, name))


def normalize_events_ts(df: DataFrame) -> DataFrame:
    """Normalize the ``ts`` column to TIMESTAMP whatever the parquet stored.

    Testdata generations have stored ``ts`` three ways: TIMESTAMP(NANOS)
    (which Spark's vectorized reader either rejects or, with
    ``spark.sql.legacy.parquet.nanosAsLong``, surfaces as raw int64 nanos),
    plain ``timestamp[us]`` surfacing as TIMESTAMP_NTZ, and
    timezone-adjusted ``timestamp[us, UTC]`` surfacing as TIMESTAMP.
    Branch on what the scan actually produced instead of assuming an
    encoding; works for batch and streaming DataFrames alike (pure column
    expressions, no action).  The NTZ->TIMESTAMP cast is value-identical
    under the session's pinned UTC timezone (session.py), matching the
    naive timestamps DuckDB reads from the same file."""
    from pyspark.sql import functions as F
    from pyspark.sql.types import LongType, TimestampNTZType, TimestampType

    ts_type = df.schema["ts"].dataType
    if isinstance(ts_type, TimestampType):
        return df
    if isinstance(ts_type, TimestampNTZType):
        return df.withColumn("ts", F.col("ts").cast(TimestampType()))
    if isinstance(ts_type, LongType):
        # legacy nanos-as-int64: truncate to micros, the resolution DuckDB
        # reads at, so event-time results stay oracle-comparable
        return df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    raise TypeError(
        f"events.ts has unsupported parquet type {ts_type}; expected a "
        "timestamp or int64-nanos column"
    )


def _load_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema-adaptive loader for the ``events`` table (see
    ``normalize_events_ts``)."""
    # Keep the legacy conf on so a nanos-encoded file reads as int64 instead
    # of failing the scan outright; it is a no-op for timestamp[us] files.
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    return normalize_events_ts(read_parquet(spark, table_path(sf_dir, "events")))


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register every table as a temp view (mirrors the DuckDB oracle's
    pre-registered views, so SQL-string queries read identically)."""
    for name in TABLES:
        load_table(spark, sf_dir, name).createOrReplaceTempView(name)

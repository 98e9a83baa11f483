"""Loader-level schema contracts.

These exist so a testdata regeneration that changes a parquet encoding
fails ONE loud loader test instead of every downstream operator suite
(the round-3 failure mode: ``events.ts`` flipped from TIMESTAMP(NANOS)
to ``timestamp[us]`` and 83 tests died on the stale conversion).
"""

from __future__ import annotations

import re
import shutil

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.errors import AnalysisException
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, TimestampNTZType, TimestampType

from mapreduce_on_google_cloud_platform_spark.sources import load_table
from mapreduce_on_google_cloud_platform_spark.sources.partitioned import (
    read_partitioned,
    write_partitioned,
)
from mapreduce_on_google_cloud_platform_spark.sources.tables import (
    TABLES,
    read_parquet,
    table_path,
)
from tests.conftest import REPO, SF_ORACLE, SF_SMOKE


@pytest.mark.parametrize("sf_dir", [SF_SMOKE, SF_ORACLE])
def test_events_ts_is_timestamp_regardless_of_encoding(spark, sf_dir):
    df = load_table(spark, sf_dir, "events")
    ts_type = df.schema["ts"].dataType
    assert isinstance(ts_type, (TimestampType, TimestampNTZType)), (
        f"events.ts must load as a timestamp, got {ts_type}; "
        "_load_events needs a branch for this parquet encoding"
    )
    # The column must also be usable: event-time arithmetic analyzes and
    # produces sane epoch-era values (not 1970-adjacent nanos misreads).
    row = df.selectExpr(
        "min(year(ts)) AS lo", "max(year(ts)) AS hi", "count(*) AS n"
    ).first()
    assert row["n"] > 0
    assert 2000 <= row["lo"] <= row["hi"] <= 2100


def test_events_nanos_int64_branch_converts(spark, tmp_path):
    """The legacy branch (ts stored as int64 epoch-nanos) still converts."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    nanos = [1_700_000_000_000_000_000, 1_700_000_123_456_789_000]
    tbl = pa.table(
        {
            "event_id": pa.array([1, 2], type=pa.int64()),
            "ts": pa.array(nanos, type=pa.int64()),
        }
    )
    sf_dir = tmp_path / "sfx"
    sf_dir.mkdir()
    pq.write_table(tbl, sf_dir / "events.parquet")

    df = load_table(spark, str(sf_dir), "events")
    assert isinstance(
        df.schema["ts"].dataType, (TimestampType, TimestampNTZType)
    )
    got = [r["us"] for r in df.selectExpr("unix_micros(ts) AS us").collect()]
    assert sorted(got) == sorted(n // 1000 for n in nanos)


def test_all_tables_load_and_are_nonempty(spark):
    for name in TABLES:
        df = load_table(spark, SF_SMOKE, name)
        assert len(df.columns) > 0, name
        assert df.limit(1).count() == 1, f"{name} is empty"


# --- read_parquet: one schema inference per file fingerprint ---------------


def _jobs_run_by(spark, group, fn):
    """Number of Spark jobs ``fn()`` launched, read from the status tracker
    under its own job group (the listener bus is drained first)."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return len(sc.statusTracker().getJobIdsForGroup(group))


def test_read_parquet_schema_equals_inference_for_every_table(spark):
    for name in TABLES:
        path = table_path(SF_SMOKE, name)
        read_parquet(spark, path)
        assert read_parquet(spark, path).schema == spark.read.parquet(path).schema, name


def test_read_parquet_schema_equals_inference_for_partitioned_layout(spark, tmp_path):
    path = str(tmp_path / "events_by_date")
    ev = load_table(spark, SF_SMOKE, "events").withColumn("event_date", F.to_date("ts"))
    write_partitioned(ev, path, ["event_date"])
    read_partitioned(spark, path)
    cached = read_partitioned(spark, path)
    assert cached.schema == spark.read.parquet(path).schema
    assert cached.count() == ev.count()


def test_read_parquet_infers_once_per_path(spark, tmp_path):
    path = str(tmp_path / "lineitem.parquet")
    shutil.copy(table_path(SF_SMOKE, "lineitem"), path)
    first = _jobs_run_by(spark, "read_parquet_first", lambda: read_parquet(spark, path))
    second = _jobs_run_by(spark, "read_parquet_second", lambda: read_parquet(spark, path))
    assert (first, second) == (1, 0)


def test_read_parquet_reinfers_a_rewritten_file(spark, tmp_path):
    path = str(tmp_path / "t.parquet")
    pq.write_table(pa.table({"a": [1, 2]}), path)
    assert read_parquet(spark, path).columns == ["a"]
    pq.write_table(pa.table({"a": [1, 2, 3], "b": ["x", "y", "z"]}), path)
    df = read_parquet(spark, path)
    assert df.columns == ["a", "b"]
    assert sorted(r["b"] for r in df.collect()) == ["x", "y", "z"]


def test_read_parquet_reinfers_when_nanos_conf_flips(spark, tmp_path):
    path = str(tmp_path / "nanos.parquet")
    nanos = pa.array([1_700_000_000_000_000_000], type=pa.timestamp("ns"))
    pq.write_table(pa.table({"ts": nanos}), path)
    key = "spark.sql.legacy.parquet.nanosAsLong"
    old = spark.conf.get(key)
    try:
        spark.conf.set(key, "true")
        read_parquet(spark, path)
        assert isinstance(read_parquet(spark, path).schema["ts"].dataType, LongType)
        spark.conf.set(key, "false")
        # a stale cached LongType schema would be served without error
        with pytest.raises(AnalysisException, match="PARQUET_TYPE_ILLEGAL"):
            read_parquet(spark, path)
    finally:
        spark.conf.set(key, old)


def test_every_parquet_read_goes_through_read_parquet():
    """``read_parquet`` is the engine's only schema-less parquet read;
    a bare ``.read.parquet(`` anywhere else in the package brings back
    the per-call schema-inference job."""
    pkg = REPO / "mapreduce_on_google_cloud_platform_spark"
    helper = pkg / "sources" / "tables.py"
    hits = [
        f"{py.relative_to(REPO)}:{i}"
        for py in sorted(pkg.rglob("*.py"))
        if py != helper
        for i, line in enumerate(py.read_text().splitlines(), 1)
        if re.search(r"\.read\.parquet\(", line)
    ]
    assert not hits, f"parquet read outside sources.tables.read_parquet: {hits}"

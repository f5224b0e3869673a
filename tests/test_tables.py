"""Contract tests for testdata table loading (tables.load_table and
tables.stream_table).

Every table is read with a declared schema, so the declared schemas
must match the stored footers (``events`` takes its ``ts`` type from
the footer).  The events ``ts``
storage format has changed under the engine once (TIMESTAMP(NANOS) →
timestamp[us]), breaking every events query.  These tests pin the
CONTRACT — ``events`` always yields a TimestampType ``ts`` with correct
values — for every storage variant the loader claims to handle, so a
future environment shift fails here first.
"""

from __future__ import annotations

import os
import shutil
import tempfile
import time

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import types as T

from ctgov_ai_etl_spark.schemas import TABLE_NAMES, TABLE_SCHEMAS
from ctgov_ai_etl_spark.tables import ensure_session_confs, load_table, stream_table

SF_SMALL = "/root/testdata/sf0.001"

# One known event row at sf0.001 to value-check conversions against.
_EPOCH_US_2024 = 1704067200 * 1_000_000  # 2024-01-01T00:00:00Z


def _events_sample_us():
    """Read a few rows of the real events file as (id, epoch_us) pairs."""
    tbl = pq.read_table(
        os.path.join(SF_SMALL, "events.parquet"), columns=["event_id", "ts"]
    ).slice(0, 5)
    ids = tbl.column("event_id").to_pylist()
    ts = tbl.column("ts").cast(pa.int64()).to_pylist()  # µs since epoch
    unit = tbl.schema.field("ts").type.unit
    scale = {"s": 1_000_000, "ms": 1_000, "us": 1, "ns": 1 // 1}[unit]
    if unit == "ns":
        ts = [v // 1000 for v in ts]
    else:
        ts = [v * scale for v in ts]
    return dict(zip(ids, ts))


def _synth_dir(ts_array: pa.Array, **write_kw) -> str:
    """Write a tiny synthetic sf dir whose events.parquet stores ``ts``
    with the given arrow type."""
    d = tempfile.mkdtemp(prefix="events_dtype_")
    tbl = pa.table(
        {
            "event_id": pa.array([1, 2], pa.int64()),
            "ts": ts_array,
            "user_id": pa.array([10, 20], pa.int64()),
            "event_type": pa.array(["click", "view"]),
            "value": pa.array([1.5, 2.5], pa.float64()),
            "props": pa.array(['{"k":1}', '{"k":2}']),
        }
    )
    pq.write_table(tbl, os.path.join(d, "events.parquet"), **write_kw)
    return d


@pytest.fixture(scope="module")
def expected_us():
    return {1: _EPOCH_US_2024, 2: _EPOCH_US_2024 + 3_600_000_000}


def _assert_contract(spark, sf_dir, expected_us):
    df = load_table(spark, sf_dir, "events")
    assert isinstance(df.schema["ts"].dataType, T.TimestampType)
    from pyspark.sql import functions as F

    got = {
        r["event_id"]: r["us"]
        for r in df.select("event_id", F.unix_micros("ts").alias("us")).collect()
    }
    assert got == expected_us


def test_load_events_real_file_is_timestamp(spark):
    """The shipped testdata file (whatever it stores today) loads with a
    TimestampType ts and values matching a raw pyarrow read."""
    df = load_table(spark, SF_SMALL, "events")
    assert isinstance(df.schema["ts"].dataType, T.TimestampType)
    from pyspark.sql import functions as F

    sample = _events_sample_us()
    got = {
        r["event_id"]: r["us"]
        for r in df.filter(F.col("event_id").isin(list(sample)))
        .select("event_id", F.unix_micros("ts").alias("us"))
        .collect()
    }
    assert got == sample


def test_load_events_us_stored(spark, expected_us):
    """timestamp[us] storage (current environment) passes through."""
    d = _synth_dir(
        pa.array(list(expected_us.values()), pa.int64()).cast(pa.timestamp("us"))
    )
    try:
        _assert_contract(spark, d, expected_us)
    finally:
        shutil.rmtree(d, ignore_errors=True)


def test_load_events_ns_stored(spark, expected_us):
    """timestamp[ns] storage (round-1 environment): nanosAsLong makes
    the reader yield int64 nanos; the loader must convert exactly."""
    d = _synth_dir(
        pa.array([v * 1000 for v in expected_us.values()], pa.int64()).cast(
            pa.timestamp("ns")
        )
    )
    try:
        _assert_contract(spark, d, expected_us)
    finally:
        shutil.rmtree(d, ignore_errors=True)


def test_load_events_int96_stored(spark, expected_us):
    """INT96 storage (Spark's default timestamp writer) reads as a
    timestamp, though pyarrow reports it as timestamp[ns]."""
    d = _synth_dir(
        pa.array(list(expected_us.values()), pa.int64()).cast(pa.timestamp("us")),
        use_deprecated_int96_timestamps=True,
    )
    try:
        _assert_contract(spark, d, expected_us)
    finally:
        shutil.rmtree(d, ignore_errors=True)


def test_stream_schema_tracks_storage(spark, expected_us):
    """stream_table derives the events ``ts`` type from the footer
    instead of hardcoding a dtype — both storage variants stream correct values."""
    from ctgov_ai_etl_spark.streaming.events import run_stream_to_memory
    from pyspark.sql import functions as F

    for mk in (
        lambda us: pa.array(us, pa.int64()).cast(pa.timestamp("us")),
        lambda us: pa.array([v * 1000 for v in us], pa.int64()).cast(
            pa.timestamp("ns")
        ),
    ):
        d = _synth_dir(mk(list(expected_us.values())))
        try:
            stream = stream_table(spark, d, "events")
            assert isinstance(stream.schema["ts"].dataType, T.TimestampType)
            out = run_stream_to_memory(
                stream.select("event_id", F.unix_micros("ts").alias("us"))
            )
            got = {r["event_id"]: r["us"] for r in out.collect()}
            assert got == expected_us
        finally:
            shutil.rmtree(d, ignore_errors=True)


_DECLARED = [n for n in TABLE_NAMES if n != "events"]


@pytest.mark.parametrize("sf", ["sf0.001", "sf0.01"])
def test_declared_schemas_match_stored_footers(spark, sf):
    """The schema a footer read infers equals the declared one, name,
    type, order and nullability, for every table read by declaration.
    Footer inference reads timestamps under the engine's session confs."""
    ensure_session_confs(spark)
    sf_dir = os.path.join("/root/testdata", sf)
    for name in _DECLARED:
        inferred = spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet")).schema
        assert inferred == TABLE_SCHEMAS[name], name


def _jobs_started(spark, fn) -> int:
    """Spark jobs started while ``fn`` runs, counted by job group."""
    import uuid

    sc = spark.sparkContext
    tag = uuid.uuid4().hex[:8]
    group, marker = f"load_{tag}", f"marker_{tag}"
    sc.setJobGroup(group, "jobs started by a table load")
    try:
        fn()
    finally:
        sc.setJobGroup(marker, "listener-bus marker")
        spark.range(1).count()
        sc.setLocalProperty("spark.jobGroup.id", None)
    tracker = sc.statusTracker()
    # Job-start events reach the tracker in order, so once the marker
    # job is visible every job of ``group`` is too.
    deadline = time.monotonic() + 30
    while not tracker.getJobIdsForGroup(marker) and time.monotonic() < deadline:
        time.sleep(0.05)
    assert tracker.getJobIdsForGroup(marker)
    return len(tracker.getJobIdsForGroup(group))


def test_declared_schema_load_starts_no_job(spark):
    """A declared-schema load plans without a Spark job, ``events``
    included: its ``ts`` type comes from a driver-side footer read."""
    for name in TABLE_NAMES:
        assert _jobs_started(spark, lambda: load_table(spark, SF_SMALL, name)) == 0, name

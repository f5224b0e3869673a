"""Testdata table loading: the one place that turns ``(sf_dir, table
name)`` into a DataFrame, batch (:func:`load_table`) or stream
(:func:`stream_table`).

Every table is read with a declared schema: schema inference reads
the parquet footers in a Spark job on every load, and a declared schema
keeps filter pushdown and column pruning independent of what a footer
says.  Every table but ``events`` uses ``schemas.TABLE_SCHEMAS[name]``.

How ``events`` stores its ``ts`` column has changed before
(TIMESTAMP(NANOS), then timestamp[us]), and a nanosecond-stored file
read under ``TimestampType`` fails at execution.  So :func:`_schema`
declares ``ts`` as the reader yields it, from the footer that pyarrow
reads on the driver, and :func:`_normalize_events_ts` converts it to
``TimestampType``.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from ctgov_ai_etl_spark.schemas import EVENTS, TABLE_NAMES, TABLE_SCHEMAS

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

# Runtime-settable session confs the engine depends on, applied to
# whatever SparkSession the caller hands us (the driver harness builds
# its own). All are documented SQL confs, safe to set mid-session.
_SESSION_CONFS = {
    # UTC so timestamp values equal the parquet wall-clock (and the
    # DuckDB oracle's naive timestamps) regardless of host timezone.
    "spark.sql.session.timeZone": "UTC",
    # If events.parquet stores TIMESTAMP(NANOS), read as int64 nanos
    # (load_table converts adaptively). Harmless when the file stores
    # µs timestamps — the reader then yields TimestampType directly.
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    # Read parquet isAdjustedToUTC=false timestamps as TimestampType
    # (not NTZ) so schemas match the oracle's TIMESTAMP.
    "spark.sql.parquet.inferTimestampNTZ.enabled": "false",
    # The REST data source translates Catalyst filters to Essie
    # conjuncts (DSv2 pushdown); off by default in Spark 4.1.
    "spark.sql.python.filterPushdown.enabled": "true",
}


def ensure_session_confs(spark: SparkSession) -> None:
    """Apply the engine's required runtime confs (idempotent)."""
    for k, v in _SESSION_CONFS.items():
        try:
            if spark.conf.get(k, None) != v:
                spark.conf.set(k, v)
        except Exception:
            spark.conf.set(k, v)


def _path(sf_dir: str, name: str) -> str:
    if name not in TABLE_NAMES:
        raise KeyError(f"unknown table {name!r}; expected one of {TABLE_NAMES}")
    return os.path.join(sf_dir, f"{name}.parquet")


def _schema(path: str, name: str) -> T.StructType:
    """The declared read schema of table ``name`` stored at ``path``.

    For ``events``, ``ts`` is ``LongType`` when the footer stores it
    as a nanosecond TIMESTAMP (``nanosAsLong`` reads it as int64 nanos)
    and ``TimestampType`` otherwise, INT96 included.  A directory's
    schema is its first part file's."""
    if name != "events":
        return TABLE_SCHEMAS[name]
    import json

    import pyarrow.parquet as pq

    footer = path
    if os.path.isdir(path):
        parts = sorted(f for f in os.listdir(path) if f.endswith(".parquet"))
        footer = os.path.join(path, parts[0])
    columns = pq.read_metadata(footer).schema
    ts = columns.column(columns.names.index("ts")).logical_type
    if json.loads(ts.to_json()).get("timeUnit") != "nanoseconds":
        return EVENTS
    return T.StructType(
        [T.StructField("ts", T.LongType()) if f.name == "ts" else f for f in EVENTS]
    )


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one testdata table as a DataFrame (columnar parquet scan)."""
    path = _path(sf_dir, name)
    ensure_session_confs(spark)
    df = spark.read.schema(_schema(path, name)).parquet(path)
    return _normalize_events_ts(df) if name == "events" else df


def stream_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """File-source micro-batch stream over one testdata table, typed as
    :func:`load_table` types the batch read.

    Handles BOTH storage layouts: a single parquet FILE (the testdata
    shape — FileStreamSource requires a directory, so the sf dir is
    streamed with a glob filter selecting just that file) and a parquet
    DIRECTORY of part files (every Spark-written dataset, where the same
    glob would match ZERO files and the stream would be silently
    empty)."""
    path = _path(sf_dir, name)
    ensure_session_confs(spark)
    reader = spark.readStream.schema(_schema(path, name)).format("parquet")
    if os.path.isdir(path):
        stream = reader.load(path)
    else:
        stream = reader.option("pathGlobFilter", f"{name}.parquet").load(sf_dir)
    return _normalize_events_ts(stream) if name == "events" else stream


def _normalize_events_ts(df: DataFrame) -> DataFrame:
    """Normalize the events ``ts`` column to TimestampType, adapting to
    how the file was physically stored, and put the columns in
    ``schemas.EVENTS`` order.  Serves the batch and the stream read.

    The storage format has changed under the engine before (TIMESTAMP
    with nanos → timestamp[us]), so never assume a conf applied — branch
    on the dtype the reader actually produced:

    - LongType: nanosAsLong fired (file stores nanos). Values are
      µs-aligned, so integer-dividing to µs is exact.
    - TimestampType / TimestampNTZType: already what we want.
    """
    from pyspark.sql import functions as F

    dt = df.schema["ts"].dataType
    if isinstance(dt, T.LongType):
        df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    elif isinstance(dt, T.TimestampNTZType):
        # Session tz is pinned to UTC, so this relabel is value-exact.
        df = df.withColumn("ts", F.col("ts").cast(T.TimestampType()))
    elif not isinstance(dt, T.TimestampType):
        raise TypeError(f"events.ts has unsupported storage dtype {dt}")
    return df.select(*EVENTS.fieldNames())


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register every testdata table as a temp view for the SQL API."""
    for name in TABLE_NAMES:
        load_table(spark, sf_dir, name).createOrReplaceTempView(name)

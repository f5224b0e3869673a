"""SparkSession factory with scale-oriented defaults.

Local-mode testing uses ``local[N]``; the same configuration keys are
what you would set on a 1000-executor cluster — AQE (runtime
re-planning, skew-join splitting, partition coalescing), Arrow for
every Python boundary, UTC session time so results are
timezone-stable across engines, and a shuffle-partition count sized
to the parallelism at hand rather than the 200 default.
"""

from __future__ import annotations

import atexit
import os
import shutil
import tempfile

from pyspark.sql import SparkSession

from ctgov_ai_etl_spark.tables import ensure_session_confs


def _usable_cpus() -> int:
    """Cores this process may run on (its affinity mask, not the
    machine's total)."""
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:  # no affinity API on this platform
        return os.cpu_count() or 1


def _default_driver_mem() -> str:
    """``min(16g, half of physical RAM)``: the driver JVM heap must
    leave room for the Python workers and the OS on small hosts."""
    try:
        phys = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    except (ValueError, OSError, AttributeError):
        return "16g"
    return f"{min(16 << 10, phys // 2 >> 20)}m"


DEFAULT_CPUS = os.environ.get("SPARK_GRAFT_CPUS") or str(_usable_cpus())

_SHIPPED_SESSIONS: set[int] = set()


def ship_package(spark: SparkSession) -> None:
    """Make ``ctgov_ai_etl_spark`` importable on executor Python workers.

    Code that executes on workers (mapInPandas stages, the Python
    DataSource) references classes in this package; cloudpickle
    serializes those by module reference, so workers must be able to
    import the package.  The caller's session (e.g. the driver
    harness's) won't have the repo on PYTHONPATH — shipping a zip via
    ``addPyFile`` is the mechanism that works on any cluster, not
    just local mode.  Idempotent per session.

    The zip's temp directory is removed at interpreter exit, not after
    ``addPyFile``: Spark serves the file to executors from that path
    until the context stops.  Workers that import the package install
    :mod:`ctgov_ai_etl_spark.pyworker`'s lazy zip invalidation.
    """
    key = id(spark)
    if key in _SHIPPED_SESSIONS:
        return
    pkg_dir = os.path.dirname(os.path.abspath(__file__))
    tmp = tempfile.mkdtemp(prefix="ctgov_pkg_")
    atexit.register(shutil.rmtree, tmp, ignore_errors=True)
    zip_base = os.path.join(tmp, "ctgov_ai_etl_spark_pkg")
    root = os.path.dirname(pkg_dir)
    archive = shutil.make_archive(zip_base, "zip", root_dir=root, base_dir="ctgov_ai_etl_spark")
    spark.sparkContext.addPyFile(archive)
    _SHIPPED_SESSIONS.add(key)


#: Minimum free bytes /dev/shm must have before it is used as shuffle
#: scratch: spills exist to relieve memory pressure, so a RAM-backed
#: spill medium is self-defeating when RAM is what's scarce; a
#: modest-/dev/shm host must fall back to disk, not fail the job with
#: no-space-left.  8 GiB comfortably covers every shuffle this
#: engine plans at bench scale while excluding small-tmpfs hosts.
_SHM_MIN_FREE_BYTES = 8 << 30


def _local_scratch() -> str:
    """Directory for spark.local.dir (shuffle files, spills) and the
    root of :func:`ctgov_ai_etl_spark.operators.cache.scratch_dir`.

    $SPARK_GRAFT_LOCAL_DIR > the first entry of $SPARK_LOCAL_DIRS
    (which Spark itself gives precedence over ``spark.local.dir``, so
    query scratch follows the shuffle files there) > /dev/shm
    (RAM-backed, when writable AND holding at least
    ``_SHM_MIN_FREE_BYTES`` free) > the platform default tempdir.  Must
    be decided before the SparkContext exists, hence a builder-time
    helper rather than a runtime conf."""
    override = os.environ.get("SPARK_GRAFT_LOCAL_DIR")
    if override:
        return override
    first = os.environ.get("SPARK_LOCAL_DIRS", "").split(",")[0].strip()
    if first:
        return first
    if os.path.isdir("/dev/shm") and os.access("/dev/shm", os.W_OK):
        try:
            if shutil.disk_usage("/dev/shm").free >= _SHM_MIN_FREE_BYTES:
                d = "/dev/shm/spark_local"
                os.makedirs(d, exist_ok=True)
                return d
        except OSError:
            pass
    return tempfile.gettempdir()


def get_spark(app_name: str = "ctgov_ai_etl_spark", cpus: str | None = None) -> SparkSession:
    """Build (or reuse) the engine SparkSession.

    Every config here matters at scale:
    - AQE re-plans joins at runtime (broadcast if a side turns out
      small, split skewed partitions) — free insurance at 100 TB.
    - ``shuffle.partitions`` sized to cores locally; on a cluster this
      would be 2-3x total executor cores (AQE coalesces the excess).
    - Arrow makes every pandas-UDF boundary a columnar batch transfer
      instead of per-row pickling.
    - UTC session timezone keeps timestamp semantics identical to the
      DuckDB oracle and to any other engine reading the same parquet;
      it and the engine's other runtime confs come from
      :func:`tables.ensure_session_confs`, applied once the session
      exists.
    """
    cpus = cpus or DEFAULT_CPUS
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(cpus))
        # Shuffle/spill scratch on the fastest local medium available
        # (guide: shuffle files live on executor-local disk; on a real
        # cluster this is the local-NVMe mount, here the RAM-backed
        # tempfs when present).  Parameterised: $SPARK_GRAFT_LOCAL_DIR
        # wins, else $SPARK_LOCAL_DIRS, else /dev/shm when writable,
        # else Spark's default (/tmp).  Query scratch
        # (operators/cache.py:scratch_dir: streaming checkpoints and
        # state stores) shares the root: a virtual disk can show bursty
        # multi-second I/O stalls that swing shuffle-heavy and stateful
        # queries 4-8x.
        .config("spark.local.dir", _local_scratch())
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", "64MB")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        .config(
            "spark.driver.memory",
            os.environ.get("SPARK_GRAFT_DRIVER_MEM") or _default_driver_mem(),
        )
        .config("spark.ui.enabled", "false")
        .config("spark.sql.files.maxPartitionBytes", "128MB")
    )
    spark = builder.getOrCreate()
    ensure_session_confs(spark)
    spark.sparkContext.setLogLevel("WARN")
    return spark

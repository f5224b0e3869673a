"""Lazy zip-directory invalidation in reused Python workers
(``ctgov_ai_etl_spark.pyworker``), and the session's temp-file
hygiene."""

from __future__ import annotations

import os
import subprocess
import sys
import textwrap

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
LAZY = (3, 10) <= sys.version_info[:2] < (3, 13)


def _run_python(code: str, **env) -> subprocess.CompletedProcess:
    """Run ``code`` in a fresh interpreter with the repo importable, so
    a class-level patch never leaks into the test process.  An ``env``
    value of None unsets that variable."""
    full_env = {**os.environ, "PYTHONPATH": REPO, **env}
    return subprocess.run(
        [sys.executable, "-c", textwrap.dedent(code)],
        env={k: v for k, v in full_env.items() if v is not None},
        capture_output=True,
        text=True,
        timeout=120,
    )


def test_invalidate_caches_reads_no_zip_directory_until_next_lookup(tmp_path):
    archive = tmp_path / "mods.zip"
    proc = _run_python(
        f"""
        import importlib, sys, zipfile, zipimport

        archive = {str(archive)!r}
        lazy = {LAZY!r}
        with zipfile.ZipFile(archive, "w") as z:
            z.writestr("m1.py", "X = 1\\n")
        sys.path.insert(0, archive)
        import m1

        from ctgov_ai_etl_spark import pyworker

        reads = []
        real_read = zipimport._read_directory

        def spy(path):
            reads.append(path)
            return real_read(path)

        zipimport._read_directory = spy
        assert pyworker.install() is lazy

        importlib.invalidate_caches()
        assert reads == [], reads

        with zipfile.ZipFile(archive, "w") as z:
            z.writestr("m1.py", "X = 1\\n")
            z.writestr("m2.py", "Y = 2\\n")
        importlib.invalidate_caches()
        assert reads == [], reads
        import m2
        assert m2.Y == 2 and reads.count(archive) == 1, reads

        before = dict(zipimport.zipimporter.__dict__)
        assert pyworker.install() is False
        assert dict(zipimport.zipimporter.__dict__) == before
        print("ok")
        """
    )
    assert proc.returncode == 0, proc.stderr
    assert proc.stdout.strip() == "ok"


def test_package_import_installs_only_in_reused_workers():
    code = """
        import zipimport
        import ctgov_ai_etl_spark
        from ctgov_ai_etl_spark import pyworker
        cls = zipimport.zipimporter
        print(cls.__dict__.get("invalidate_caches") is pyworker._invalidate_caches)
        """
    worker = _run_python(code, SPARK_REUSE_WORKER="1")
    driver = _run_python(code, SPARK_REUSE_WORKER=None)
    assert worker.returncode == 0 and driver.returncode == 0, (
        worker.stderr + driver.stderr
    )
    assert worker.stdout.strip() == str(LAZY)
    assert driver.stdout.strip() == "False"


def test_reused_worker_task_setup_reads_no_zip_directory(spark):
    """A task on a worker that already ran one engine task pays no
    zip-directory read in ``setup_spark_files``' invalidation."""

    def probe(batches):
        import importlib
        import os
        import zipimport

        import pandas as pd

        import ctgov_ai_etl_spark  # noqa: F401  (installs in a reused worker)
        from ctgov_ai_etl_spark import pyworker

        inv = importlib.invalidate_caches
        if hasattr(inv, "reads"):
            # This task's setup already went through the recorder that
            # an earlier task left in this worker.
            seen = inv.reads[-1]
        else:
            real_read, real_inv, n = zipimport._read_directory, inv, [0]

            def read(path):
                n[0] += 1
                return real_read(path)

            def recording_inv():
                before = n[0]
                real_inv()
                recording_inv.reads.append(n[0] - before)

            recording_inv.reads = []
            zipimport._read_directory = read
            importlib.invalidate_caches = recording_inv
            seen = -1
        lazy = (
            zipimport.zipimporter.__dict__.get("invalidate_caches")
            is pyworker._invalidate_caches
        )
        for _ in batches:
            pass
        yield pd.DataFrame(
            {
                "pid": [os.getpid()],
                "reads": [seen],
                "reuse": [os.environ.get("SPARK_REUSE_WORKER", "")],
                "lazy": [lazy],
            }
        )

    schema = "pid long, reads long, reuse string, lazy boolean"
    rows = []
    # Idle workers are handed out in turn, so loop until a task lands
    # on a worker an earlier iteration instrumented.
    for _ in range(40):
        [row] = spark.range(1, numPartitions=1).mapInPandas(probe, schema).collect()
        rows.append(row)
        if row.reads >= 0:
            break
    second = [r for r in rows if r.reads >= 0]
    assert second, rows
    assert second[0].reads == 0
    assert all(r.reuse == "1" and r.lazy is LAZY for r in rows), rows


def test_ship_package_archive_is_removed_at_exit(tmp_path):
    proc = _run_python(
        """
        import os
        from ctgov_ai_etl_spark import session

        class Ctx:
            def addPyFile(self, path):
                assert os.path.isfile(path)
                print(path)

        class Spark:
            sparkContext = Ctx()

        session.ship_package(Spark())
        """,
        TMPDIR=str(tmp_path),
    )
    assert proc.returncode == 0, proc.stderr
    shipped = proc.stdout.strip()
    assert shipped.startswith(str(tmp_path))
    assert not os.path.exists(shipped)
    assert not [p for p in os.listdir(tmp_path) if p.startswith("ctgov_pkg_")]


def test_query_scratch_dirs_are_removed_at_exit(tmp_path):
    """Queries whose result reads a scratch directory lazily leave
    nothing behind once the interpreter exits."""
    proc = _run_python(
        """
        import os
        from ctgov_ai_etl_spark.queries import load_all
        from ctgov_ai_etl_spark.session import get_spark

        spark = get_spark("scratch-hygiene")
        registry = load_all()
        for name in ("csv_scan_roundtrip", "maintenance_compact_files"):
            assert registry[name].fn(spark, "/root/testdata/sf0.001").collect()
        print(sorted(os.listdir(os.environ["SPARK_GRAFT_LOCAL_DIR"])))
        """,
        SPARK_GRAFT_LOCAL_DIR=str(tmp_path),
        SPARK_GRAFT_CPUS="2",
        SPARK_GRAFT_DRIVER_MEM="1g",
    )
    assert proc.returncode == 0, proc.stderr
    made = proc.stdout.strip().splitlines()[-1]
    assert "csv_rt_" in made and "compact_" in made
    left = [p for p in os.listdir(tmp_path) if p.startswith(("csv_rt_", "compact_"))]
    assert not left

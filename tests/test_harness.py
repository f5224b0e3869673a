"""The command-line harness: the preflight hygiene gate and the
``bench.py NAME...`` query timer."""

from __future__ import annotations

import json
import os
import subprocess
import sys

from tests.conftest import SF_SMALL

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_preflight_fast_path_is_green():
    proc = subprocess.run(
        [sys.executable, "tools/preflight.py"],
        cwd=REPO,
        capture_output=True,
        text=True,
        timeout=600,
    )
    assert proc.returncode == 0, proc.stdout + proc.stderr
    assert "ALL GREEN" in proc.stdout


def test_bench_named_queries_print_median_of_3(spark, monkeypatch, capsys):
    """Each named query prints its three runs and their median, then
    the totals; the run leaves the repo root as it found it."""
    import bench

    names = ["agg_pricing_summary", "stream_run_tumbling"]
    monkeypatch.setattr(bench, "SF_DIR", SF_SMALL)
    monkeypatch.setattr(bench, "get_spark", lambda app: spark)
    before = sorted(os.listdir(REPO))
    bench.main(names)
    assert sorted(os.listdir(REPO)) == before

    lines = [json.loads(s) for s in capsys.readouterr().out.splitlines()]
    assert len(lines) == len(names) + 1
    for name, line in zip(names, lines):
        runs = line[name]["runs"]
        assert len(runs) == 3
        assert line[name]["median"] == sorted(runs)[1]
    medians = sum(line[n]["median"] for n, line in zip(names, lines))
    assert lines[-1]["total_median"] == round(medians, 3)


def test_spark_graft_option_set_is_pinned():
    """The package, the tools and ``bench.py`` read exactly these
    ``SPARK_GRAFT_*`` environment variables; a new knob means editing
    this set."""
    import re
    from pathlib import Path

    root = Path(REPO)
    files = [root / "bench.py"]
    for d in ("ctgov_ai_etl_spark", "tools"):
        files += sorted((root / d).rglob("*.py"))
    names = set()
    for f in files:
        names.update(re.findall(r"SPARK_GRAFT_([A-Z_]+)", f.read_text()))
    assert names == {"CPUS", "DRIVER_MEM", "LOCAL_DIR", "SF_DIR", "BENCH_BUDGET"}

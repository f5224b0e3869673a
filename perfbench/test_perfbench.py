"""Fast tests of the benchmark's own code (no Spark session).

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

from perfbench import eventlog, run, stats, workloads  # noqa: E402

FIXTURE = os.path.join(HERE, "testdata", "eventlog_small.jsonl")


def _benchmark_json() -> dict:
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as fh:
        return json.load(fh)


# ------------------------------------------------------------ tail rule


@pytest.mark.parametrize(
    "n, pct",
    [(1, 100), (12, 100), (19, 100), (20, 50), (30, 66), (40, 75), (100, 90), (1000, 99)],
)
def test_tail_percentile_leaves_ten_samples_beyond(n, pct):
    assert stats.tail_percentile(n) == pct
    if pct < 100:
        beyond = n - -(-pct * n // 100)  # samples strictly above the nearest rank
        assert beyond >= stats.TAIL_MIN_BEYOND


def test_tail_is_nearest_rank_and_reports_count():
    values = [float(v) for v in range(1, 101)]
    assert stats.tail(values) == (90.0, 90, 100)
    assert stats.tail([3.0, 1.0, 2.0]) == (3.0, 100, 3)


def test_percentile_zero_is_minimum():
    assert stats.percentile([5.0, 2.0, 9.0], 0) == 2.0


# ------------------------------------------------------------ event-log fold


def _fixture():
    with open(FIXTURE) as fh:
        header = json.loads(fh.readline())
        lines = fh.readlines()
    return header["items"], lines


def test_fold_attributes_jobs_by_group_and_window():
    """The fixture is a trimmed event log of a traced run of three items
    (a cost-capped LLM classify, a stream runner whose micro-batch jobs
    carry no benchmark job group, and a TPC-H query), plus the counts an
    independent walk of the same log gave."""
    items, lines = _fixture()
    recs = eventlog.fold(lines, items)
    for idx, want in _fixture_expectations().items():
        got = dict(recs[idx], n_batches=len(recs[idx]["batches"]))
        for key, value in want.items():
            assert got[key] == pytest.approx(value), (idx, key)
    by_name = {it["name"]: recs[it["idx"]] for it in items}
    assert by_name["llm_classify_cost_cap"]["map_in_pandas_python_s"] > 0
    assert by_name["stream_run_tumbling"]["construct_jobs"] == by_name["stream_run_tumbling"]["jobs"]


def test_fold_ignores_events_outside_items():
    items, lines = _fixture()
    assert eventlog.fold(lines, []) == {}
    # An item no job group names, whose window holds no event.
    lone = [dict(items[0], idx=99, t0=0, t1=0, t2=1)]
    rec = eventlog.fold(lines, lone)[99]
    assert rec["jobs"] == 0 and rec["batches"] == []


def test_fold_reads_streaming_progress():
    items, lines = _fixture()
    recs = eventlog.fold(lines, items)
    batches = [b for r in recs.values() for b in r["batches"]]
    assert batches, "the fixture holds a stream item"
    for b in batches:
        assert set(b) == set(eventlog.BATCH_DURATIONS.values()) | {"state_rows", "state_mem_bytes"}
        assert b["trigger_ms"] >= b["add_batch_ms"]


def _fixture_expectations() -> dict[int, dict[str, float]]:
    with open(FIXTURE) as fh:
        return {int(k): v for k, v in json.loads(fh.readline())["expect"].items()}


# ------------------------------------------------------------ output shape


def _check_name(name: str) -> None:
    assert 1 <= len(name) <= 64 and name[0].isalnum()
    assert all(c.isalnum() or c in "_.-" for c in name)


def test_benchmark_json_contract():
    bench = _benchmark_json()
    assert set(bench) == {"command", "paths", "run_seconds", "workloads", "end_to_end", "per_layer"}
    assert [w["name"] for w in bench["workloads"]] == list(workloads.WORKLOADS)
    e2e = {m["name"]: m for m in bench["end_to_end"]}
    assert e2e["setup_s"]["unit"] == "s" and e2e["setup_s"]["better"] == "lower"
    assert max(m["bound"] for m in e2e.values()) == e2e["setup_s"]["bound"] <= 0.25
    names = [m["name"] for m in bench["end_to_end"] + bench["per_layer"]]
    assert len(names) == len(set(names))
    for name in names:
        _check_name(name)


def test_end_to_end_metrics_match_benchmark_json():
    b = run.Bench.__new__(run.Bench)
    b.setup_s, b.peak_rss_mb, b.notes = 5.0, 900.0, []
    b.passes = [{"wall_s": 2.0, "cpu_s": 5.0}, {"wall_s": 3.0, "cpu_s": 7.0}, {"wall_s": 9.0, "cpu_s": 6.0}]
    # Eight items in three passes; item i takes 0.1 * i s in each pass.
    b.records = [{"name": f"q{i}", "latency_s": 0.1 * i} for _ in range(3) for i in range(1, 9)]
    metrics = b.end_to_end()
    assert set(metrics) == set(run.declared_metrics("end_to_end"))
    assert all(v > 0 for v in metrics.values())
    assert metrics["setup_s"] == 5.0 and metrics["cpu_s"] == 6.0
    assert metrics["wall_s"] == pytest.approx(3.6)
    assert b.notes == ["item p50 0.450 s, tail p58 of 24 items 0.500 s"]  # 10 items beyond p58


def test_pass_wall_takes_each_items_median():
    """One item slowed in one pass by load from outside does not move it."""
    b = run.Bench.__new__(run.Bench)
    b.records = [
        {"name": "a", "latency_s": 1.0}, {"name": "b", "latency_s": 2.0},
        {"name": "a", "latency_s": 9.0}, {"name": "b", "latency_s": 2.2},
        {"name": "a", "latency_s": 1.2}, {"name": "b", "latency_s": 2.1},
    ]
    assert b.pass_wall_s() == pytest.approx(1.2 + 2.1)


def test_per_layer_metrics_match_benchmark_json():
    items, lines = _fixture()
    folded = eventlog.fold(lines, items)
    b = run.Bench.__new__(run.Bench)
    b.cpus, b.layers = 4, {"session.get_spark_s": 1.0, "session.warmup_s": 2.0}
    b.passes = [{"wall_s": 2.0, "cpu_s": 5.0}]
    b.records = [
        dict(it, latency_s=1.0, construct_s=0.5, load_table_calls=1, load_table_s=0.1,
             csv_write_s=0.0, csv_bytes=0, tracked_persists=0)
        for it in items
    ]
    metrics = b.per_layer(folded, 0, [5, 5])
    assert set(metrics) == set(run.declared_metrics("per_layer"))
    assert metrics["tables.load_table_calls"] == len(items)
    assert metrics["streaming.batches"] > 0


def test_pass_count_depends_on_seconds_only():
    catalog, etl = workloads.make_workload("catalog", 1), workloads.make_workload("etl_ctgov", 1)
    assert [catalog.passes(s) for s in (1, 19, 30)] == [1, 1, 3]
    assert [etl.passes(s) for s in (1, 30, 40)] == [1, 1, 2]


# ------------------------------------------------------------ ETL output check


def test_etl_check_accepts_replay_and_rejects_changes(tmp_path):
    checker = workloads.Checker(os.path.dirname(HERE), str(tmp_path))
    try:
        for variant in workloads.ETL_VARIANTS:
            item = workloads.Item(variant, "etl", corpus_seed=7, studies=200)
            _, table = checker._etl_expected(item)
            path = str(tmp_path / f"{variant}.csv")
            checker.con.execute(f"COPY (SELECT * FROM {table} ORDER BY random()) TO '{path}' (HEADER)")
            problem, rows, labelled = checker.check_etl(item, path)
            assert problem is None and rows == 200
            assert labelled == (100 if variant == "etl_cost_cap" else 200)
            checker.con.execute(f"COPY (SELECT * FROM {table} LIMIT 199) TO '{path}' (HEADER)")
            assert checker.check_etl(item, path)[0] == "csv rows 199 != corpus size 200"
            checker.con.execute(
                f"COPY (SELECT * REPLACE ('X' AS ai_determined_value) FROM {table}) TO '{path}' (HEADER)"
            )
            assert "differ from the SQL replay" in checker.check_etl(item, path)[0]
    finally:
        checker.close()


# ------------------------------------------------------------ process-tree CPU


def test_tree_cpu_keeps_exited_children():
    """A worker that exits under a parent ignoring ``SIGCHLD`` (as Spark's
    worker daemon does) leaves no trace in any child times."""
    burn = "import time\nt = time.process_time()\nwhile time.process_time() - t < 0.4: pass"
    daemon = (
        "import signal, subprocess, sys\n"
        "signal.signal(signal.SIGCHLD, signal.SIG_IGN)\n"
        f"subprocess.Popen([sys.executable, '-c', {burn!r}]).wait()"
    )
    cpu = stats.TreeCpu(interval_s=0.02)
    cpu.start()
    try:
        before = cpu.total()
        subprocess.run([sys.executable, "-c", daemon], check=True)
        assert cpu.total() - before >= 0.3
    finally:
        cpu.stop()

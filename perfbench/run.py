"""Seeded benchmark of the engine through its public entry points.

    python3 perfbench/run.py --workload catalog --seed 7 --seconds 30 --trace 0

One closed-loop client on ``local[<cores>]`` runs the workload's items
one after another, in as many whole passes as fit in ``--seconds`` on a
4-core host (at least one), after one set-up: imports, ``get_spark``, package
shipping and a warm-up.  Every output is checked against a DuckDB
replay after the timed passes.

``--trace 0`` prints the end-to-end metrics; ``--trace 1`` turns on a
Spark event log and call wrappers and prints the per-layer metrics.
The last stdout line is one JSON object:
``{"correct", "attempted", "failed", "metrics": {name: {"value", "unit"}}}``.
All scratch lives in ``.perfbench_tmp/`` under the checkout and is
removed on exit.
"""

from __future__ import annotations

import argparse
import contextlib
import dataclasses
import glob
import importlib.util
import json
import os
import shlex
import shutil
import signal
import subprocess
import sys
import tempfile
import time
import traceback
from collections import defaultdict
from typing import Any

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from perfbench import datagen, eventlog, stats, workloads  # noqa: E402

#: Driver heap: ample for the generated inputs, far below a 16 GiB host's RAM.
DRIVER_MEM = "1g"
SCRATCH = os.path.join(ROOT, ".perfbench_tmp")


class Tracer:
    """Spans around the layer calls made inside an item (``--trace 1``)."""

    def __init__(self) -> None:
        self.rec: dict[str, Any] | None = None

    def wrap_load_table(self, fn):
        def load_table(*args, **kwargs):
            t = time.perf_counter()
            try:
                return fn(*args, **kwargs)
            finally:
                if self.rec is not None:
                    self.rec["load_table_calls"] += 1
                    self.rec["load_table_s"] += time.perf_counter() - t

        return load_table

    def wrap_csv_sink(self, fn):
        def write_reference_csv(df, path, *args, **kwargs):
            rec = self.rec
            if rec is not None:
                df.sparkSession.sparkContext.setJobGroup(f"pb:{rec['idx']}:action", rec["name"])
                rec["t1"] = time.time() * 1000
            t = time.perf_counter()
            try:
                return fn(df, path, *args, **kwargs)
            finally:
                if rec is not None:
                    rec["csv_write_s"] += time.perf_counter() - t
                    if os.path.exists(path):
                        rec["csv_bytes"] += os.path.getsize(path)

        return write_reference_csv


class Bench:
    def __init__(self, workload: str, seed: int, seconds: float, trace: bool):
        self.trace = trace
        self.seconds = seconds
        self.workload = workloads.make_workload(workload, seed)
        self.seed = seed
        self.cpus = len(os.sched_getaffinity(0))
        os.makedirs(SCRATCH, exist_ok=True)
        self.rundir = tempfile.mkdtemp(prefix="run-", dir=SCRATCH)
        self.dirs = {
            d: os.path.join(self.rundir, d)
            for d in ("data", "local", "scratch", "tmp", "eventlog", "out", "warehouse")
        }
        self.spark = None
        self.tracer = Tracer() if trace else None
        self.records: list[dict[str, Any]] = []
        self.outputs: list[tuple[dict, workloads.Item, Any]] = []
        self.passes: list[dict[str, float]] = []
        self.setup_s = 0.0
        self.peak_rss_mb = 0.0
        self.steal = 0.0
        self.layers: dict[str, float] = {}
        self.notes: list[str] = []

    # -------------------------------------------------------------- set-up

    def _environment(self) -> None:
        """Host fit and private scratch, fixed before the JVM starts."""
        for d in self.dirs.values():
            os.makedirs(d)
        path = [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
        os.environ.update(
            SPARK_GRAFT_CPUS=str(self.cpus),
            SPARK_GRAFT_DRIVER_MEM=DRIVER_MEM,
            SPARK_GRAFT_LOCAL_DIR=self.dirs["local"],
            SPARK_GRAFT_SCRATCH=self.dirs["scratch"],
            TMPDIR=self.dirs["tmp"],
            # The launcher JVM would otherwise write /tmp/hsperfdata_<user>.
            SPARK_LAUNCHER_OPTS="-XX:-UsePerfData",
            # Python workers (the streaming-source runner too) import the
            # engine and the benchmark's transport from the checkout.
            PYTHONPATH=os.pathsep.join(path),
        )
        tempfile.tempdir = None
        conf = {
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.warehouse.dir": self.dirs["warehouse"],
        }
        if self.trace:
            conf |= {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": "file://" + self.dirs["eventlog"],
                # No zstd/lz4 Python module is installed to read a
                # compressed log.
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            }
        args = [a for k, v in conf.items() for a in ("--conf", f"{k}={v}")]
        args += ["--driver-java-options", f"-Xms{DRIVER_MEM} -Djava.io.tmpdir={self.dirs['tmp']} -XX:-UsePerfData"]
        os.environ["PYSPARK_SUBMIT_ARGS"] = shlex.join(args + ["pyspark-shell"])

    def setup(self) -> None:
        """Imports, ``get_spark``, package shipping and a warm-up of the
        paths the workload's items use, so that no timed item pays for
        the first Python worker, data-source worker or stream of a
        session, or for compiling its plan's code in a cold JVM."""
        t = time.perf_counter()
        if self.trace:
            import ctgov_ai_etl_spark.sources.csv_sink as csv_sink
            import ctgov_ai_etl_spark.tables as tables

            # Wrapped before the query modules bind them by name.
            tables.load_table = self.tracer.wrap_load_table(tables.load_table)
            csv_sink.write_reference_csv = self.tracer.wrap_csv_sink(csv_sink.write_reference_csv)
        from ctgov_ai_etl_spark.plans.pipeline import run_pipeline
        from ctgov_ai_etl_spark.queries import load_all
        from ctgov_ai_etl_spark.session import get_spark, ship_package

        self.registry = load_all()
        self.run_pipeline = run_pipeline
        t_get = time.perf_counter()
        spark = self.spark = get_spark("perfbench")
        t_warm = time.perf_counter()
        ship_package(spark)
        if self.workload.name == "etl_ctgov":
            # Python workers, the data-source worker, the cost cap's rank
            # split and the CSV writer: each variant over a fifth of its
            # corpus.  After a single 200-study run, the first timed item
            # still ran 1-2 s slow, by how much depending on which
            # variant the seed put first.
            path = os.path.join(self.dirs["out"], "warm.csv")
            for item in self.workload.items:
                warm = dataclasses.replace(item, studies=item.studies // 5)
                run_pipeline(spark, workloads.etl_config(warm), path)
                os.remove(path)
        else:
            # One untimed pass: a cold pass runs 1.5 times as long as a
            # warm one, and spreads more.
            for item in self.workload.items:
                spark.catalog.clearCache()
                self.registry[item.name].fn(spark, self.dirs["data"]).collect()
        spark.catalog.clearCache()
        done = time.perf_counter()
        self.setup_s = done - t
        self.layers["session.get_spark_s"] = t_warm - t_get
        self.layers["session.warmup_s"] = done - t_warm

    # -------------------------------------------------------------- passes

    def _new_record(self, item: workloads.Item) -> dict[str, Any]:
        rec = {"idx": len(self.records), "name": item.name, "kind": item.kind, "pass": len(self.passes),
               "corpus_pages": item.corpus_pages}
        rec |= dict.fromkeys(("load_table_calls", "load_table_s", "csv_write_s", "csv_bytes"), 0)
        self.records.append(rec)
        return rec

    def _run_item(self, item: workloads.Item) -> None:
        spark = self.spark
        sc = spark.sparkContext
        spark.catalog.clearCache()
        rec = self._new_record(item)
        if self.trace:
            self.tracer.rec = rec
            sc.setJobGroup(f"pb:{rec['idx']}:construct", item.name)
        out: Any = None
        rec["t0"] = time.time() * 1000
        t0 = time.perf_counter()
        t1 = None
        try:
            if item.kind == "etl":
                out = os.path.join(self.dirs["out"], f"{rec['idx']}.csv")
                page_log = os.path.join(self.dirs["out"], "pages.log") if self.trace else ""
                self.run_pipeline(spark, workloads.etl_config(item, page_log), out)
            else:
                df = self.registry[item.name].fn(spark, self.dirs["data"])
                t1 = time.perf_counter()
                rec["t1"] = time.time() * 1000
                if self.trace:
                    sc.setJobGroup(f"pb:{rec['idx']}:action", item.name)
                rows = df.collect()
                out = (df.columns, [f.dataType.simpleString() for f in df.schema.fields], rows)
        except Exception as exc:  # an item failure is counted, not fatal
            traceback.print_exc(file=sys.stderr)
            rec["error"] = f"{type(exc).__name__}: {exc}"[:300]
        t2 = time.perf_counter()
        rec["t2"] = time.time() * 1000
        rec.setdefault("t1", rec["t2"])
        rec["latency_s"] = t2 - t0
        print(f"perfbench: pass {rec['pass']} {item.name} {rec['latency_s']:.3f}s", file=sys.stderr)
        rec["construct_s"] = (t1 or t2) - t0
        if item.kind == "etl":
            rec["construct_s"] -= rec["csv_write_s"]
        if self.trace:
            from ctgov_ai_etl_spark.operators import cache

            rec["tracked_persists"] = cache.tracked_count()
            self.tracer.rec = None
            sc.setJobGroup("pb:idle", "between items")
        self.outputs.append((rec, item, out))

    def measure(self) -> None:
        """The timed passes.  Their number follows from ``--seconds``
        alone, not from how fast the passes run, so that every run of a
        workload measures the same work: the first timed pass runs 10 %
        slower than later ones, still warming up."""
        cpu = stats.TreeCpu()
        cpu.start()
        steal0, ticks0 = stats.cpu_ticks()
        try:
            for _ in range(self.workload.passes(self.seconds)):
                cpu0, t0 = cpu.total(), time.perf_counter()
                for item in self.workload.next_pass():
                    self._run_item(item)
                self.passes.append({"wall_s": time.perf_counter() - t0, "cpu_s": cpu.total() - cpu0})
                if len(self.passes) == 1:
                    # Peak over set-up and one pass: the same work
                    # however many passes fit in the run.
                    jvm = _jvm_process()
                    self.peak_rss_mb = stats.peak_rss_mib([os.getpid()] + ([jvm.pid] if jvm else []))
        finally:
            cpu.stop()
        steal, ticks = (a - b for a, b in zip(stats.cpu_ticks(), (steal0, ticks0)))
        self.steal = steal / max(ticks, 1)

    # -------------------------------------------------------------- checks

    def check(self) -> None:
        checker = workloads.Checker(ROOT, self.dirs["data"])
        try:
            for rec, item, out in self.outputs:
                if "error" in rec:
                    continue
                if item.kind == "etl":
                    problem, rows, labelled = checker.check_etl(item, out)
                    rec["llm_labelled"] = labelled
                    os.remove(out)
                else:
                    cols, types, result = out
                    problem = checker.check_query(item.name, self.registry[item.name].oracle, cols, types, result)
                    rows = len(result)
                rec["rows"] = rows
                if problem:
                    rec["error"] = f"output check: {problem}"
                    print(f"perfbench: {item.name} {rec['error']}", file=sys.stderr)
        finally:
            checker.close()

    # -------------------------------------------------------------- report

    def pass_wall_s(self) -> float:
        """Wall time of one pass with every item at its median latency
        over the timed passes, so that a burst of load from outside
        that slows one item in one pass does not count."""
        latencies = defaultdict(list)
        for r in self.records:
            latencies[r["name"]].append(r["latency_s"])
        return sum(stats.median(v) for v in latencies.values())

    def end_to_end(self) -> dict[str, float]:
        # Item latencies are reported, not gated: in a pass that runs each
        # plan once, a sub-second item's latency swings 30-60 % between
        # runs with what ran before it, while the pass total holds.
        lat = [r["latency_s"] for r in self.records]
        tail, pct, n = stats.tail(lat)
        self.notes.append(f"item p50 {stats.median(lat):.3f} s, tail p{pct} of {n} items {tail:.3f} s")
        return {
            "setup_s": self.setup_s,
            "wall_s": self.pass_wall_s(),
            "cpu_s": stats.median([p["cpu_s"] for p in self.passes]),
            "peak_rss_mb": self.peak_rss_mb,
        }

    def per_layer(self, folded: dict[int, dict[str, Any]], leftover_tables: int, pages: list[int]) -> dict[str, float]:
        n_pass = len(self.passes)
        recs = [r | folded.get(r["idx"], eventlog.new_record()) for r in self.records]
        etl = [r for r in recs if r["kind"] == "etl"]
        stream = [r for r in recs if r["kind"] == "stream"]
        batches = [b for r in recs for b in r["batches"]]

        def per_pass(values) -> float:
            return sum(values) / n_pass

        def batch_median(key: str) -> float:
            return stats.median([b[key] for b in batches])

        rows_in = per_pass(r.get("rows", 0) for r in etl)
        labelled = per_pass(r.get("llm_labelled", 0) for r in etl)
        corpus_pages = sum(r["corpus_pages"] for r in etl)
        out = dict(self.layers)
        out |= {
            "tables.load_table_calls": per_pass(r["load_table_calls"] for r in recs),
            "tables.load_table_s": per_pass(r["load_table_s"] for r in recs),
            "queries.construct_s": per_pass(r["construct_s"] for r in recs),
            "queries.construct_jobs": per_pass(r["construct_jobs"] for r in recs),
            "exec.action_s": per_pass(r["latency_s"] - r["construct_s"] for r in recs),
            "exec.idle_core_s": per_pass(
                self.cpus * (r["t2"] - r["t1"]) / 1000 - r["action_task_s"] for r in recs
            ),
        }
        for key in ("plan_s", "jobs", "stages", "tasks", "task_s", "jvm_cpu_s", "gc_s", "python_s",
                    "python_bytes_sent", "shuffle_write_bytes", "shuffle_read_bytes", "spill_bytes"):
            out[f"exec.{key}"] = per_pass(r[key] for r in recs)
        out |= {
            "sources.rest.pages_fetched": len(pages) / n_pass,
            "sources.rest.rows": sum(pages) / n_pass,
            "sources.rest.page_fetch_ratio": len(pages) / corpus_pages if corpus_pages else 0.0,
            "operators.llm.rows_in": rows_in,
            "operators.llm.rows_labelled": labelled,
            "operators.llm.label_ratio": labelled / rows_in if rows_in else 0.0,
            "operators.llm.python_s": per_pass(r["map_in_pandas_python_s"] for r in etl),
            "sources.csv_sink.write_s": per_pass(r["csv_write_s"] for r in etl),
            "sources.csv_sink.jobs": per_pass(r["jobs"] - r["construct_jobs"] for r in etl),
            "sources.csv_sink.bytes": per_pass(r["csv_bytes"] for r in etl),
            "streaming.batches": len(batches) / n_pass,
        }
        for key in eventlog.BATCH_DURATIONS.values():
            out[f"streaming.{key}"] = batch_median(key)
        out |= {
            "streaming.state_rows": batch_median("state_rows"),
            "streaming.state_mem_bytes": batch_median("state_mem_bytes"),
            "streaming.overhead_s": per_pass(
                r["construct_s"] - sum(b["trigger_ms"] for b in r["batches"]) / 1000 for r in stream
            ),
            "operators.cache.tracked_persists": max((r["tracked_persists"] for r in recs), default=0),
            "streaming.leftover_tables": leftover_tables,
            "trace.wall_s": self.pass_wall_s(),
        }
        return out

    def run(self) -> dict[str, Any]:
        self._environment()
        if self.workload.name == "catalog":
            datagen.make_tables(self.dirs["data"], self.seed, workloads.SF)
        # Reset this process's VmHWM, so that peak_rss_mb counts set-up
        # and passes, not the input generation above.
        with contextlib.suppress(OSError), open("/proc/self/clear_refs", "w") as fh:
            fh.write("5")
        t = time.perf_counter()
        self.setup()
        app_id = self.spark.sparkContext.applicationId
        t_setup = time.perf_counter()
        self.measure()
        t_measure = time.perf_counter()
        leftover = len(self.spark.catalog.listTables()) if self.trace else 0
        self.check()
        failed = sum("error" in r for r in self.records)
        self.notes.append(
            f"set-up {t_setup - t:.1f} s, {len(self.passes)} pass(es) {t_measure - t_setup:.1f} s, "
            f"checks {time.perf_counter() - t_measure:.1f} s; {failed}/{len(self.records)} items failed; "
            f"host CPU steal {self.steal:.0%} during the passes"
        )
        if self.trace:
            self.spark.stop()
            self.spark = None
            with open(_event_log(self.dirs["eventlog"], app_id)) as fh:
                folded = eventlog.fold(fh, [r for r in self.records if "t0" in r])
            pages = _page_log(os.path.join(self.dirs["out"], "pages.log"))
            metrics, declared = self.per_layer(folded, leftover, pages), declared_metrics("per_layer")
        else:
            metrics, declared = self.end_to_end(), declared_metrics("end_to_end")
        if set(metrics) != set(declared):
            raise RuntimeError(f"metrics {sorted(metrics)} differ from BENCHMARK.json's {sorted(declared)}")
        return {
            "correct": failed == 0,
            "attempted": len(self.records),
            "failed": failed,
            "metrics": {k: {"value": v, "unit": declared[k]} for k, v in metrics.items()},
        }

    def close(self) -> None:
        """Stop Spark, the JVM and its Python workers, wait for all of
        them to end, and remove the run's scratch."""
        try:
            if self.spark is not None:
                self.spark.stop()
        finally:
            _stop_jvm()
            shutil.rmtree(self.rundir, ignore_errors=True)
            try:
                os.rmdir(SCRATCH)
            except OSError:
                pass


def declared_metrics(kind: str) -> dict[str, str]:
    """Name -> unit of the ``end_to_end`` or ``per_layer`` metrics that
    BENCHMARK.json declares."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return {m["name"]: m["unit"] for m in json.load(fh)[kind]}


def _event_log(directory: str, app_id: str) -> str:
    paths = glob.glob(os.path.join(directory, f"*{app_id}*"))
    if len(paths) != 1:
        raise RuntimeError(f"expected one event log for {app_id}, found {paths}")
    return paths[0]


def _page_log(path: str) -> list[int]:
    if not os.path.exists(path):
        return []
    with open(path) as fh:
        return [int(line) for line in fh if line.strip()]


def _jvm_process():
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    return getattr(gateway, "proc", None) if gateway is not None else None


def _stop_jvm(timeout_s: float = 30.0) -> None:
    """End the JVM (it exits when its stdin closes) and wait for it and
    every process it started."""
    if "pyspark" not in sys.modules:
        return
    from pyspark import SparkContext

    children = [p for p in stats.process_tree() if p != os.getpid()]
    gateway, proc = SparkContext._gateway, _jvm_process()
    if gateway is not None:
        gateway.shutdown()
        SparkContext._gateway = None
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout_s)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout_s)
    deadline = time.monotonic() + timeout_s
    while time.monotonic() < deadline and any(_alive(p) for p in children):
        time.sleep(0.1)
    for pid in children:
        if _alive(pid):
            with contextlib.suppress(ProcessLookupError):
                os.kill(pid, signal.SIGKILL)


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as fh:
            return fh.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def parse_args(argv: list[str] | None) -> argparse.Namespace:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=workloads.WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def main(argv: list[str] | None = None) -> int:
    args = parse_args(argv)
    if importlib.util.find_spec("ctgov_ai_etl_spark") is None:
        print("perfbench: the engine package ctgov_ai_etl_spark is not in this checkout", file=sys.stderr)
        return 2
    # On SIGTERM, leave through the ``finally`` below, which stops Spark
    # and every process it started.
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(128 + signal.SIGTERM))
    bench = Bench(args.workload, args.seed, args.seconds, bool(args.trace))
    try:
        result = bench.run()
    finally:
        bench.close()
    print("perfbench: " + "; ".join(bench.notes))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())

"""Fold a Spark event log into one record per benchmark item.

Items are the benchmark's timed units. Each carries its wall-clock
window (epoch ms): ``t0`` construction start, ``t1`` action start and
``t2`` action end.  Jobs tagged with the job group ``pb:<idx>:<phase>``
belong to item ``idx``; untagged jobs (stream micro-batches run on the
stream's own thread) belong to the item whose window holds their
submission time.
"""

from __future__ import annotations

import datetime as _dt
import json
from collections.abc import Iterable
from typing import Any

PHASES = ("construct", "action")

_JOB_START = "SparkListenerJobStart"
_STAGE_DONE = "SparkListenerStageCompleted"
_SQL_START = "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart"
_SQL_AQE = "org.apache.spark.sql.execution.ui.SparkListenerSQLAdaptiveExecutionUpdate"
_PROGRESS = "org.apache.spark.sql.streaming.StreamingQueryListener$QueryProgressEvent"

_TASK_METRICS = {
    "internal.metrics.executorRunTime": ("task_s", 1e-3),
    "internal.metrics.executorCpuTime": ("jvm_cpu_s", 1e-9),
    "internal.metrics.jvmGCTime": ("gc_s", 1e-3),
    "internal.metrics.shuffle.write.bytesWritten": ("shuffle_write_bytes", 1),
    "internal.metrics.shuffle.read.remoteBytesRead": ("shuffle_read_bytes", 1),
    "internal.metrics.shuffle.read.localBytesRead": ("shuffle_read_bytes", 1),
    "internal.metrics.diskBytesSpilled": ("spill_bytes", 1),
}
_PY_TIME = "time to run Python workers"
_PY_SENT = "data sent to Python workers"

#: Durations a streaming progress event reports, as record keys.
BATCH_DURATIONS = {
    "triggerExecution": "trigger_ms",
    "addBatch": "add_batch_ms",
    "queryPlanning": "query_planning_ms",
    "walCommit": "wal_commit_ms",
    "commitOffsets": "commit_offsets_ms",
}

COUNTERS = (
    "jobs", "stages", "tasks", "construct_jobs", "task_s", "action_task_s",
    "jvm_cpu_s", "gc_s", "python_s", "map_in_pandas_python_s",
    "python_bytes_sent", "shuffle_write_bytes", "shuffle_read_bytes",
    "spill_bytes", "plan_s",
)


def new_record() -> dict[str, Any]:
    rec: dict[str, Any] = {k: 0 for k in COUNTERS}
    rec["batches"] = []
    return rec


def _num(v: Any) -> float:
    try:
        return float(v)
    except (TypeError, ValueError):
        return 0.0


def _epoch_ms(iso: str) -> float:
    return _dt.datetime.fromisoformat(iso.replace("Z", "+00:00")).timestamp() * 1000


def _plan_nodes(plan: dict, out: dict[int, str]) -> None:
    """Map each SQL-metric accumulator id to its plan node's name."""
    for m in plan.get("metrics", []):
        out[int(m["accumulatorId"])] = plan.get("nodeName", "")
    for child in plan.get("children", []):
        _plan_nodes(child, out)


class _Locator:
    """Maps a time (epoch ms) or a job group to ``(item idx, phase)``."""

    def __init__(self, items: list[dict]):
        self.items = sorted(items, key=lambda it: it["t0"])

    def at(self, t: float) -> tuple[int, str] | None:
        for it in self.items:
            if it["t0"] <= t <= it["t2"]:
                return it["idx"], ("construct" if t < it["t1"] else "action")
        return None

    @staticmethod
    def group(group: str | None) -> tuple[int, str] | None:
        parts = (group or "").split(":")
        if len(parts) == 3 and parts[0] == "pb" and parts[2] in PHASES:
            return int(parts[1]), parts[2]
        return None


def fold(lines: Iterable[str], items: list[dict]) -> dict[int, dict[str, Any]]:
    """One record per item idx: job/stage/task counts, task, CPU, GC and
    Python-worker seconds, shuffle and spill bytes, planning seconds and
    the streaming batches that ran inside the item."""
    where = _Locator(items)
    recs = {it["idx"]: new_record() for it in items}
    starts = {it["idx"]: it["t1"] for it in items}
    stage_owner: dict[int, tuple[int, str]] = {}
    node_of: dict[int, str] = {}
    sql_values: dict[int, tuple[str, float]] = {}
    sql_owner: dict[int, int] = {}
    planned: set[int] = set()

    for line in lines:
        if not line.strip():
            continue
        ev = json.loads(line)
        kind = ev.get("Event")
        if kind == _JOB_START:
            props = ev.get("Properties") or {}
            owner = where.group(props.get("spark.jobGroup.id")) or where.at(ev["Submission Time"])
            if owner is None or owner[0] not in recs:
                continue
            rec = recs[owner[0]]
            rec["jobs"] += 1
            rec["construct_jobs"] += owner[1] == "construct"
            for sid in ev.get("Stage IDs", []):
                stage_owner.setdefault(sid, owner)
        elif kind == _STAGE_DONE:
            info = ev["Stage Info"]
            owner = stage_owner.get(info["Stage ID"])
            if owner is None:
                continue
            rec = recs[owner[0]]
            rec["stages"] += 1
            rec["tasks"] += info.get("Number of Tasks", 0)
            for acc in info.get("Accumulables", []):
                name, value = acc.get("Name", ""), _num(acc.get("Value"))
                if name in _TASK_METRICS:
                    key, scale = _TASK_METRICS[name]
                    rec[key] += value * scale
                    if name == "internal.metrics.executorRunTime" and owner[1] == "action":
                        rec["action_task_s"] += value * scale
                elif name in (_PY_TIME, _PY_SENT):
                    # SQL metrics are cumulative per plan node: keep the
                    # last value, charged to the first item that ran it.
                    aid = int(acc["ID"])
                    sql_values[aid] = (name, max(sql_values.get(aid, (name, 0.0))[1], value))
                    sql_owner.setdefault(aid, owner[0])
        elif kind in (_SQL_START, _SQL_AQE):
            _plan_nodes(ev.get("sparkPlanInfo", {}), node_of)
            if kind == _SQL_START:
                owner = where.at(ev["time"])
                if owner and owner[1] == "action" and owner[0] in recs and owner[0] not in planned:
                    planned.add(owner[0])
                    recs[owner[0]]["plan_s"] = max(0.0, (ev["time"] - starts[owner[0]]) / 1000)
        elif kind == _PROGRESS:
            prog = ev["progress"]
            owner = where.at(_epoch_ms(prog["timestamp"]))
            if owner is None or owner[0] not in recs:
                continue
            batch = {
                key: _num(prog.get("durationMs", {}).get(name))
                for name, key in BATCH_DURATIONS.items()
            }
            ops = prog.get("stateOperators", [])
            batch["state_rows"] = sum(_num(o.get("numRowsTotal")) for o in ops)
            batch["state_mem_bytes"] = sum(_num(o.get("memoryUsedBytes")) for o in ops)
            recs[owner[0]]["batches"].append(batch)

    for aid, (name, value) in sql_values.items():
        rec = recs[sql_owner[aid]]
        if name == _PY_TIME:
            rec["python_s"] += value / 1000
            if node_of.get(aid) == "MapInPandas":
                rec["map_in_pandas_python_s"] += value / 1000
        else:
            rec["python_bytes_sent"] += value
    return recs

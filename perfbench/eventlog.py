"""Fold Spark's event log into per-operation execution metrics.

Every job the benchmark launches carries two local properties, the
operation id and the phase (``construct`` / ``execute`` / a pipeline
step).  Stages inherit their job's properties, tasks their stage's, so
each task's metrics land on exactly one (operation, phase).  Python-UDF
time and rows come from the SQL metrics of the Python evaluation nodes
(``ArrowEvalPython``, ``MapInPandas``, ...) named in the plan-info events.

The log is the zstd-compressed one Spark writes (rolling ``eventlog_v2_*``
directories or single files); the installed pyarrow decodes it.
"""

from __future__ import annotations

import json
import os
from collections import defaultdict

OP_PROP = "perfbench.op"
PHASE_PROP = "perfbench.phase"
_PY_NODE_MARKS = ("Python", "Pandas", "InArrow")
_SQL_START = "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart"
_SQL_AQE = ("org.apache.spark.sql.execution.ui."
            "SparkListenerSQLAdaptiveExecutionUpdate")

FIELDS = ("jobs", "tasks", "run_s", "cpu_s", "deserialize_s",
          "scheduler_delay_s", "shuffle_write_mb", "spill_mb",
          "python_udf_s", "python_rows")


def log_files(log_dir: str) -> list[str]:
    """Event-log files under ``log_dir``, in application then part order."""
    out = []
    for name in sorted(os.listdir(log_dir)):
        path = os.path.join(log_dir, name)
        if os.path.isdir(path):
            parts = [p for p in os.listdir(path) if p.startswith("events_")]
            parts.sort(key=lambda p: int(p.split("_")[1]))
            out += [os.path.join(path, p) for p in parts]
        elif not name.startswith("."):
            out.append(path)
    return out


def read_events(path: str):
    if ".zstd" in os.path.basename(path):
        import pyarrow

        with pyarrow.input_stream(path, compression="zstd") as fh:
            data = fh.read()
    else:
        with open(path, "rb") as fh:
            data = fh.read()
    for line in data.decode().splitlines():
        if line.strip():
            yield json.loads(line)


def _python_metrics(node: dict, out: dict) -> None:
    if any(m in node.get("nodeName", "") for m in _PY_NODE_MARKS):
        for m in node.get("metrics", []):
            if m["name"] == "number of output rows":
                out[m["accumulatorId"]] = ("rows", 1.0)
            elif m["name"] == "time to run Python workers":
                scale = 1e-9 if m.get("metricType") == "nsTiming" else 1e-3
                out[m["accumulatorId"]] = ("secs", scale)
    for child in node.get("children", []):
        _python_metrics(child, out)


def fold(events) -> dict[tuple[str | None, str | None], dict]:
    """{(op, phase): {field: value}} over every task and job in the log."""
    acc: dict = defaultdict(lambda: dict.fromkeys(FIELDS, 0.0))
    stage_key: dict[tuple[int, int], tuple] = {}
    py_acc: dict[int, tuple[str, float]] = {}
    for ev in events:
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            props = ev.get("Properties") or {}
            acc[(props.get(OP_PROP), props.get(PHASE_PROP))]["jobs"] += 1
        elif kind == "SparkListenerStageSubmitted":
            info, props = ev["Stage Info"], ev.get("Properties") or {}
            stage_key[(info["Stage ID"], info["Stage Attempt ID"])] = (
                props.get(OP_PROP), props.get(PHASE_PROP))
        elif kind in (_SQL_START, _SQL_AQE):
            _python_metrics(ev.get("sparkPlanInfo") or {}, py_acc)
        elif kind == "SparkListenerTaskEnd":
            key = stage_key.get((ev["Stage ID"], ev["Stage Attempt ID"]),
                                (None, None))
            _add_task(acc[key], ev, py_acc)
    return dict(acc)


def _add_task(row: dict, ev: dict, py_acc: dict) -> None:
    info = ev.get("Task Info") or {}
    tm = ev.get("Task Metrics") or {}
    deser = tm.get("Executor Deserialize Time", 0)
    run = tm.get("Executor Run Time", 0)
    ser = tm.get("Result Serialization Time", 0)
    wall = info.get("Finish Time", 0) - info.get("Launch Time", 0)
    delay = wall - deser - run - ser - info.get("Getting Result Time", 0)
    row["tasks"] += 1
    row["run_s"] += run / 1e3
    row["cpu_s"] += tm.get("Executor CPU Time", 0) / 1e9
    row["deserialize_s"] += deser / 1e3
    row["scheduler_delay_s"] += max(0, delay) / 1e3
    sw = tm.get("Shuffle Write Metrics") or {}
    row["shuffle_write_mb"] += sw.get("Shuffle Bytes Written", 0) / 2**20
    row["spill_mb"] += tm.get("Disk Bytes Spilled", 0) / 2**20
    for a in info.get("Accumulables", []):
        hit = py_acc.get(a.get("ID"))
        if hit is not None:
            field = "python_rows" if hit[0] == "rows" else "python_udf_s"
            row[field] += float(a.get("Update", 0)) * hit[1]


def fold_dir(log_dir: str) -> dict:
    def events():
        for path in log_files(log_dir):
            yield from read_events(path)
    return fold(events())

"""Offline reader for the Spark event log the traced run writes.

Aggregates `SparkListenerTaskEnd` metrics per job group (the benchmark sets
one group per traced call), with the operators behind each stage so the
scalar-UDF stages can be picked out. Reads the rolling layout
(`eventlog_v2_<app>/events_<n>_<app>`) written with
`spark.eventLog.compress=false`.
"""
from __future__ import annotations

import json
from collections import defaultdict
from pathlib import Path


def read_events(log_dir: str | Path):
    files = sorted(
        Path(log_dir).glob("eventlog_v2_*/events_*"),
        key=lambda p: int(p.name.split("_")[1]),
    )
    for f in files:
        with open(f, encoding="utf-8") as fh:
            for line in fh:
                if line.strip():
                    yield json.loads(line)


def _operator(rdd_info: dict) -> str:
    """The physical operator that made an RDD (`ArrowEvalPython`, ...): the
    name in its JSON scope, else the RDD's own name."""
    try:
        return json.loads(rdd_info["Scope"])["name"]
    except (KeyError, TypeError, ValueError):
        return rdd_info.get("Name", "")


def _ran_python(task_end: dict) -> bool:
    """The task shipped rows to a Python worker. A stage that only reads a
    cached frame keeps the UDF operator among its RDDs but sends nothing."""
    for acc in (task_end.get("Task Info") or {}).get("Accumulables", []):
        if acc.get("Name") == "data sent to Python workers":
            return int(acc.get("Update") or 0) > 0
    return False


def task_metrics_by_group(log_dir: str | Path) -> dict[str, dict]:
    """{job_group: {"stages": {stage_id: {...}}, totals...}}.

    Per stage: the operators behind its RDDs (a scalar pandas UDF runs in
    an `ArrowEvalPython` one) and the executor run times (ms) of the tasks
    that sent rows to Python. Per group: totals of GC time, spill bytes and
    shuffle write bytes, and the largest per-task peak execution memory."""
    stage_group: dict[int, str] = {}
    groups: dict[str, dict] = defaultdict(
        lambda: {
            "gc_ms": 0, "spill_bytes": 0, "shuffle_write_bytes": 0,
            "peak_task_mem": 0, "stages": {},
        }
    )
    stage_rdds: dict[int, set[str]] = {}
    for ev in read_events(log_dir):
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            props = ev.get("Properties") or {}
            g = props.get("spark.jobGroup.id") or ""
            for st in ev.get("Stage Infos", []):
                stage_group[st["Stage ID"]] = g
                stage_rdds[st["Stage ID"]] = {
                    _operator(r) for r in st.get("RDD Info", [])
                }
            for sid in ev.get("Stage IDs", []):
                stage_group.setdefault(sid, g)
        elif kind == "SparkListenerTaskEnd":
            sid = ev["Stage ID"]
            g = stage_group.get(sid, "")
            m = ev.get("Task Metrics") or {}
            agg = groups[g]
            agg["gc_ms"] += m.get("JVM GC Time", 0)
            agg["spill_bytes"] += m.get("Memory Bytes Spilled", 0) + m.get(
                "Disk Bytes Spilled", 0
            )
            sw = m.get("Shuffle Write Metrics") or {}
            agg["shuffle_write_bytes"] += sw.get("Shuffle Bytes Written", 0)
            agg["peak_task_mem"] = max(
                agg["peak_task_mem"], m.get("Peak Execution Memory", 0)
            )
            st = agg["stages"].setdefault(
                sid, {"rdds": stage_rdds.get(sid, set()), "python_ms": []}
            )
            if _ran_python(ev):
                st["python_ms"].append(m.get("Executor Run Time", 0))
    return dict(groups)

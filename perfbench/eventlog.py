"""Reducers over Spark's JSON event log (uncompressed, not rolled).

Jobs are attributed to the job group that was set when they started
(``SparkContext.setJobGroup``); a job group's tasks are the tasks of the
stages its jobs ran.
"""

from __future__ import annotations

import json

#: task accumulables of the Python (MapInArrow / MapInPandas) operators
PY_SENT = "data sent to Python workers"
PY_RETURNED = "data returned from Python workers"
PY_RUN = "time to run Python workers"


def _num(x) -> float:
    try:
        return float(x)
    except (TypeError, ValueError):
        return 0.0


def read_events(path: str):
    with open(path) as f:
        for line in f:
            if line.strip():
                yield json.loads(line)


def job_groups(events) -> dict:
    """group id -> {"jobs": n, "stages": {stage id: [task records]}}.

    A task record holds its duration (ms), executor CPU (ns), GC (ms),
    shuffle and output bytes, and its accumulable updates by name."""
    stage_group: dict[int, str] = {}
    groups: dict[str, dict] = {}
    for e in events:
        kind = e.get("Event")
        if kind == "SparkListenerJobStart":
            g = (e.get("Properties") or {}).get("spark.jobGroup.id") or ""
            grp = groups.setdefault(g, {"jobs": 0, "stages": {}})
            grp["jobs"] += 1
            for sid in e.get("Stage IDs", []):
                stage_group[sid] = g
        elif kind == "SparkListenerTaskEnd":
            g = stage_group.get(e.get("Stage ID"))
            if g is None:
                continue
            info, tm = e.get("Task Info", {}), e.get("Task Metrics") or {}
            acc = {}
            for a in info.get("Accumulables", []):
                name = a.get("Name")
                if name:
                    acc[name] = acc.get(name, 0.0) + _num(a.get("Update"))
            rec = {
                "failed": bool(info.get("Failed")),
                "duration_ms": _num(info.get("Finish Time")) - _num(info.get("Launch Time")),
                "cpu_ns": _num(tm.get("Executor CPU Time")),
                "gc_ms": _num(tm.get("JVM GC Time")),
                "shuffle_write_b": _num((tm.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written")),
                "output_b": _num((tm.get("Output Metrics") or {}).get("Bytes Written")),
                "acc": acc,
            }
            groups[g]["stages"].setdefault(e["Stage ID"], []).append(rec)
    return groups


def pipeline_metrics(group: dict, ops: int) -> dict:
    """Per-operation layer numbers of one job group (``ops`` operations).

    ``task_skew`` is max / median task duration of a stage that ran Python
    workers (the extraction stage), the median over such stages."""
    from .measure import median

    tasks = [t for ts in group["stages"].values() for t in ts]
    mb = 1024.0 * 1024.0
    ops = max(ops, 1)
    skews = []
    for ts in group["stages"].values():
        if any(PY_RUN in t["acc"] for t in ts):
            durs = [t["duration_ms"] for t in ts]
            mid = median(durs)
            if mid > 0:
                skews.append(max(durs) / mid)
    py_run = sum(t["acc"].get(PY_RUN, 0.0) for t in tasks)
    return {
        # the accumulable is in milliseconds
        "python_s": py_run / 1e3 / ops,
        "executor_cpu_s": sum(t["cpu_ns"] for t in tasks) / 1e9 / ops,
        "gc_s": sum(t["gc_ms"] for t in tasks) / 1e3 / ops,
        "to_python_mb": sum(t["acc"].get(PY_SENT, 0.0) for t in tasks) / mb / ops,
        "from_python_mb": sum(t["acc"].get(PY_RETURNED, 0.0) for t in tasks) / mb / ops,
        "shuffle_write_mb": sum(t["shuffle_write_b"] for t in tasks) / mb / ops,
        "output_mb": sum(t["output_b"] for t in tasks) / mb / ops,
        "tasks": len(tasks) / ops,
        "task_skew": median(skews) if skews else 1.0,
        "failed_tasks": sum(1 for t in tasks if t["failed"]),
    }

"""Engine-side metrics from a Spark event log (traced runs only).

Task metrics are summed over the jobs of the timed phase, picked by their
job group (the traced recorder tags every build and every action with a
group that starts with the run id).  SQL plan metrics are attributed per
job group, so a lookup's scanned rows and a join's key-join output rows
can be divided by that operation's own result rows.
"""

from __future__ import annotations

import json
import os
import statistics

_PYTHON_NODES = ("ArrowEvalPython", "BatchEvalPython", "MapInPandas", "MapInArrow",
                 "FlatMapGroupsInPandas", "FlatMapCoGroupsInPandas", "AggregateInPandas",
                 "WindowInPandas", "PythonUDTF")
_JOIN_NODES = ("BroadcastHashJoin", "SortMergeJoin", "ShuffledHashJoin")


def _walk(info: dict):
    yield info
    for c in info.get("children", []):
        yield from _walk(c)


def _log_files(log_dir: str) -> list[str]:
    """Event files under ``log_dir``: one file per application, or (rolling
    format) ``eventlog_v2_<app>/events_<n>_<app>`` parts in order."""
    found = []
    for d, _, names in os.walk(log_dir):
        for f in names:
            if f.startswith(("appstatus_", ".")):  # status marker, .crc checksums
                continue
            part = int(f.split("_")[1]) if f.startswith("events_") else 0
            found.append((d, part, os.path.join(d, f)))
    return [p for _, _, p in sorted(found)]


def parse(log_dir: str, group_prefix: str) -> dict:
    """Aggregate the event log under ``log_dir``.

    Returns ``{"totals": {...}, "groups": {group: {"rows_scanned", "join_rows"}}}``.
    """
    job_group: dict[int, str] = {}
    stage_group: dict[int, str] = {}
    exec_group: dict[int, str] = {}
    python_stages: set[int] = set()
    # execution id -> accumulator ids of scan / key-join row counters
    scan_acc: dict[int, set] = {}
    join_acc: dict[int, set] = {}
    acc_total: dict[int, int] = {}
    tasks: list[dict] = []

    def plan(eid: int, info: dict) -> None:
        for node in _walk(info):
            name = node.get("nodeName", "")
            rows = [m["accumulatorId"] for m in node.get("metrics", [])
                    if m.get("name") == "number of output rows"]
            if name.startswith("Scan "):
                scan_acc.setdefault(eid, set()).update(rows)
            elif name.startswith(_JOIN_NODES):
                join_acc.setdefault(eid, set()).update(rows)

    for path in _log_files(log_dir):
        with open(path) as f:
            for line in f:
                if not line.strip():
                    continue
                ev = json.loads(line)
                kind = ev.get("Event", "")
                if kind == "SparkListenerJobStart":
                    props = ev.get("Properties") or {}
                    group = props.get("spark.jobGroup.id") or ""
                    job_group[ev["Job ID"]] = group
                    for sid in ev.get("Stage IDs", []):
                        stage_group[sid] = group
                    eid = props.get("spark.sql.execution.id")
                    if eid is not None and group:
                        exec_group[int(eid)] = group
                elif kind == "SparkListenerStageSubmitted":
                    si = ev["Stage Info"]
                    for rdd in si.get("RDD Info", []):
                        scope = rdd.get("Scope") or "{}"
                        if any(p in json.loads(scope).get("name", "") for p in _PYTHON_NODES):
                            python_stages.add(si["Stage ID"])
                elif kind == "SparkListenerTaskEnd":
                    tm = ev.get("Task Metrics") or {}
                    ti = ev.get("Task Info") or {}
                    for a in ti.get("Accumulables", []):
                        if isinstance(a.get("Update"), (int, str)):
                            try:
                                acc_total[a["ID"]] = acc_total.get(a["ID"], 0) + int(a["Update"])
                            except ValueError:
                                pass
                    sr = tm.get("Shuffle Read Metrics") or {}
                    sw = tm.get("Shuffle Write Metrics") or {}
                    tasks.append({
                        "stage": ev["Stage ID"],
                        "wall_s": (ti.get("Finish Time", 0) - ti.get("Launch Time", 0)) / 1e3,
                        "run_s": tm.get("Executor Run Time", 0) / 1e3,
                        "cpu_s": tm.get("Executor CPU Time", 0) / 1e9,
                        "gc_s": tm.get("JVM GC Time", 0) / 1e3,
                        "spill": tm.get("Memory Bytes Spilled", 0) + tm.get("Disk Bytes Spilled", 0),
                        "shuffle_read": sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0),
                        "shuffle_write": sw.get("Shuffle Bytes Written", 0),
                    })
                elif kind.endswith("SparkListenerSQLExecutionStart") or kind.endswith(
                    "SparkListenerSQLAdaptiveExecutionUpdate"
                ):
                    plan(int(ev["executionId"]), ev["sparkPlanInfo"])
                elif kind.endswith("SparkListenerDriverAccumUpdates"):
                    for acc_id, val in ev.get("accumUpdates", []):
                        acc_total[acc_id] = acc_total.get(acc_id, 0) + int(val)

    timed = [t for t in tasks if stage_group.get(t["stage"], "").startswith(group_prefix)]
    walls = [t["wall_s"] for t in timed] or [0.0]
    totals = {
        "jobs": sum(1 for g in job_group.values() if g.startswith(group_prefix)),
        "tasks": len(timed),
        "executor_run_s": sum(t["run_s"] for t in timed),
        "executor_cpu_s": sum(t["cpu_s"] for t in timed),
        "gc_s": sum(t["gc_s"] for t in timed),
        "spill_bytes": sum(t["spill"] for t in timed),
        "shuffle_read_bytes": sum(t["shuffle_read"] for t in timed),
        "shuffle_write_bytes": sum(t["shuffle_write"] for t in timed),
        "python_stage_run_s": sum(t["run_s"] for t in timed if t["stage"] in python_stages),
        "max_task_s": max(walls),
        "median_task_s": statistics.median(walls),
    }
    groups: dict[str, dict] = {}
    for eid, group in exec_group.items():
        g = groups.setdefault(group, {"rows_scanned": 0, "join_rows": 0})
        g["rows_scanned"] += sum(acc_total.get(a, 0) for a in scan_acc.get(eid, ()))
        g["join_rows"] += sum(acc_total.get(a, 0) for a in join_acc.get(eid, ()))
    return {"totals": totals, "groups": groups}

"""Per-op Spark engine metrics from the uncompressed event log.

Every op runs under its own job group, so jobs, stages, tasks and SQL
executions in the log attribute to the op that caused them. Spark 4 writes
the log as ``eventlog_v2_<app>/events_<n>_<app>`` (rolling layout); a
single-file log is read the same way.
"""

from __future__ import annotations

import hashlib
import json
import re
import statistics
from collections import defaultdict
from pathlib import Path

SQL_START = "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart"
SQL_AQE = "org.apache.spark.sql.execution.ui.SparkListenerSQLAdaptiveExecutionUpdate"

# Spark engine metrics reported per op and summed per workload.
FIELDS = (
    "jobs", "stages", "tasks", "planning_s", "task_run_s", "task_cpu_s", "gc_s",
    "input_bytes", "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes",
    "task_skew", "aqe_replans", "sql_executions", "join_executions",
)

# Expression ids (#123), plan-node ordinals and object hashes change from
# run to run without the plan changing; strip them before hashing.
_VOLATILE = re.compile(r"#\d+L?|\(\d+\)|@[0-9a-f]{6,}|plan_id=\d+|id=#?\d+|\[file:[^\]]*\]")


def plan_fingerprint(description: str) -> str:
    """Short hash of a physical plan's operator tree (the part before the
    per-node details), stable across runs and input paths."""
    tree = description.split("\n\n", 1)[0]
    return hashlib.sha256(_VOLATILE.sub("", tree).encode()).hexdigest()[:16]


def _event_files(log_dir: Path) -> list[Path]:
    files = [p for p in log_dir.rglob("*") if p.is_file() and not p.name.startswith(".")]
    events = [p for p in files if p.name.startswith("events_") or p.parent == log_dir]
    return sorted(
        (p for p in events if not p.name.startswith("appstatus")),
        key=lambda p: (str(p.parent), int(p.name.split("_")[1]) if p.name.startswith("events_") else 0),
    )


def read_events(log_dir: Path):
    for path in _event_files(log_dir):
        with open(path) as f:
            for line in f:
                yield json.loads(line)


def per_group(log_dir: Path) -> dict[str, dict]:
    """{job group: {metric: value, "plans": [fingerprints]}}."""
    stage_group: dict[int, str] = {}
    exec_group: dict[int, str] = {}
    exec_start: dict[int, int] = {}
    exec_first_job: dict[int, int] = {}
    tasks: dict[int, list[float]] = defaultdict(list)  # stage -> task run ms
    out: dict[str, dict] = defaultdict(lambda: {k: 0 for k in FIELDS} | {"plans": []})
    for e in read_events(log_dir):
        kind = e["Event"]
        if kind == "SparkListenerJobStart":
            props = e.get("Properties") or {}
            group = props.get("spark.jobGroup.id") or ""
            out[group]["jobs"] += 1
            for sid in e.get("Stage IDs", []):
                stage_group[sid] = group
            eid = props.get("spark.sql.execution.id")
            if eid is not None:
                exec_first_job.setdefault(int(eid), e["Submission Time"])
        elif kind == "SparkListenerStageCompleted":
            info = e["Stage Info"]
            if info.get("Completion Time") and "Failure Reason" not in info:
                out[stage_group.get(info["Stage ID"], "")]["stages"] += 1
        elif kind == "SparkListenerTaskEnd":
            group = out[stage_group.get(e["Stage ID"], "")]
            m = e.get("Task Metrics") or {}
            group["tasks"] += 1
            group["task_run_s"] += m.get("Executor Run Time", 0) / 1e3
            group["task_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
            group["gc_s"] += m.get("JVM GC Time", 0) / 1e3
            group["input_bytes"] += (m.get("Input Metrics") or {}).get("Bytes Read", 0)
            sr = m.get("Shuffle Read Metrics") or {}
            group["shuffle_read_bytes"] += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
            group["shuffle_write_bytes"] += (m.get("Shuffle Write Metrics") or {}).get(
                "Shuffle Bytes Written", 0
            )
            group["spill_bytes"] += m.get("Disk Bytes Spilled", 0)
            tasks[e["Stage ID"]].append(m.get("Executor Run Time", 0))
        elif kind == SQL_START:
            group = e.get("jobGroupId") or ""
            exec_group[e["executionId"]] = group
            exec_start[e["executionId"]] = e["time"]
            plan = e.get("physicalPlanDescription", "")
            out[group]["sql_executions"] += 1
            out[group]["join_executions"] += "Join" in plan.split("\n\n", 1)[0]
            out[group]["plans"].append(plan_fingerprint(plan))
        elif kind == SQL_AQE:
            out[exec_group.get(e["executionId"], "")]["aqe_replans"] += 1
    for eid, t0 in exec_start.items():
        first = exec_first_job.get(eid)
        if first is not None and first >= t0:
            out[exec_group[eid]]["planning_s"] += (first - t0) / 1e3
    for sid, runs in tasks.items():
        med = statistics.median(runs)
        if len(runs) > 1 and med > 0:
            group = out[stage_group.get(sid, "")]
            group["task_skew"] = max(group["task_skew"], max(runs) / med)
    return dict(out)

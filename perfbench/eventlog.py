"""Summarise a Spark JSON event log per job group.

A traced run tags every Spark job with a job group (`op:<i>:<phase>`,
`row:<name>:<phase>`, ...) and enables Spark's own event log. This
parser folds the log into one `GroupStats` per job group: jobs, stages
and tasks run, task time, input rows, output bytes, shuffle and spill
bytes, and the rows and bytes that crossed into Python workers. Python
traffic is attributed through the SQL plan: accumulator ids of the plan
nodes whose name marks a Python runner (MapInPandas, ArrowEvalPython,
FlatMapGroupsInPandas, ...) are collected, and task accumulator updates
with those ids are summed.
"""

from __future__ import annotations

import json
from collections import defaultdict
from dataclasses import dataclass, fields

PYTHON_NODE_MARKERS = ("Pandas", "Python", "MapInArrow")


@dataclass
class GroupStats:
    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    task_ms: int = 0
    input_rows: int = 0
    output_bytes: int = 0
    shuffle_write_bytes: int = 0
    spill_bytes: int = 0
    python_rows: int = 0
    python_bytes: int = 0

    def add(self, other: "GroupStats") -> None:
        for f in fields(self):
            setattr(self, f.name, getattr(self, f.name) + getattr(other, f.name))


def _python_accumulators(plan: dict, out: dict[int, str]) -> None:
    """Collect {accumulator id: metric name} of Python-runner plan nodes."""
    name = plan.get("nodeName", "")
    if any(m in name for m in PYTHON_NODE_MARKERS):
        for m in plan.get("metrics", []):
            out[int(m["accumulatorId"])] = m["name"]
    for child in plan.get("children", []):
        _python_accumulators(child, out)


def parse(path: str) -> dict[str, GroupStats]:
    """{job group id: GroupStats} for every job group in the log; jobs
    without a group land under the empty string."""
    stage_group: dict[int, str] = {}
    stats: dict[str, GroupStats] = defaultdict(GroupStats)
    py_acc: dict[int, str] = {}
    task_events = []
    with open(path) as fh:
        for line in fh:
            ev = json.loads(line)
            kind = ev.get("Event", "")
            if "sparkPlanInfo" in ev:
                _python_accumulators(ev["sparkPlanInfo"], py_acc)
            elif kind == "SparkListenerJobStart":
                group = (ev.get("Properties") or {}).get("spark.jobGroup.id") or ""
                stats[group].jobs += 1
                for sid in ev.get("Stage IDs", []):
                    stage_group.setdefault(sid, group)
            elif kind == "SparkListenerStageCompleted":
                sid = ev["Stage Info"]["Stage ID"]
                stats[stage_group.get(sid, "")].stages += 1
            elif kind == "SparkListenerTaskEnd":
                task_events.append(ev)
    # task accumulators are resolved after the whole log is read: an
    # adaptive re-plan can announce a node after its first tasks ended
    for ev in task_events:
        g = stats[stage_group.get(ev["Stage ID"], "")]
        g.tasks += 1
        m = ev.get("Task Metrics") or {}
        g.task_ms += m.get("Executor Run Time", 0)
        g.input_rows += (m.get("Input Metrics") or {}).get("Records Read", 0)
        g.output_bytes += (m.get("Output Metrics") or {}).get("Bytes Written", 0)
        g.shuffle_write_bytes += (
            m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
        g.spill_bytes += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
        for acc in (ev.get("Task Info") or {}).get("Accumulables", []):
            name = py_acc.get(int(acc.get("ID", -1)))
            if name is None:
                continue
            update = int(acc.get("Update") or 0)
            if name == "number of output rows":
                g.python_rows += update
            elif name.startswith("data sent to Python") or \
                    name.startswith("data returned from Python"):
                g.python_bytes += update
    return dict(stats)


def total(stats: dict[str, GroupStats], prefix: str) -> GroupStats:
    """Sum of every group whose id starts with `prefix`."""
    out = GroupStats()
    for group, s in stats.items():
        if group.startswith(prefix):
            out.add(s)
    return out

"""Aggregate a Spark event log by job group, with the stdlib ``json``.

The traced run tags every Spark job with a job group (one per query
phase or CRUD request) and writes an uncompressed event log. Spark 4.1
writes the log as a rolling ``eventlog_v2_<app>/events_<n>_<app>``
directory; a plain single-file log is read too.

Python worker metrics are SQL metrics: their per-task updates arrive as
task accumulables, and their units (``nsTiming``, ``timing``, ``size``)
come from the plan info of the SQL execution events.
"""

from __future__ import annotations

import json
import os
import re
from collections import defaultdict
from dataclasses import dataclass, field, fields

#: SQL metric display name -> GroupStats field (the Arrow/Python boundary)
PYTHON_METRICS = {
    "time to run Python workers": "python_run_s",
    "time to initialize Python workers": "python_init_s",
    "time to start Python workers": "python_boot_s",
    "data sent to Python workers": "arrow_bytes_sent",
    "data returned from Python workers": "arrow_bytes_received",
}
_SECONDS_PER_UNIT = {"nsTiming": 1e-9, "timing": 1e-3}


@dataclass
class GroupStats:
    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    task_run_s: float = 0.0
    scheduler_delay_s: float = 0.0
    gc_s: float = 0.0
    shuffle_write_bytes: int = 0
    shuffle_read_bytes: int = 0
    spill_bytes: int = 0
    python_run_s: float = 0.0
    python_init_s: float = 0.0
    python_boot_s: float = 0.0
    arrow_bytes_sent: int = 0
    arrow_bytes_received: int = 0
    _stage_ids: set = field(default_factory=set, repr=False)

    def add(self, other: "GroupStats") -> None:
        for f in fields(self):
            if not f.name.startswith("_"):
                setattr(self, f.name,
                        getattr(self, f.name) + getattr(other, f.name))


def event_files(path: str) -> list[str]:
    """The event files under ``path`` in write order: a single log
    file, a rolling ``eventlog_v2_*`` directory, or a directory that
    holds exactly one of either."""
    if os.path.isfile(path):
        return [path]
    names = os.listdir(path)
    rolled = [n for n in names if n.startswith("events_")]
    if rolled:
        def index(name: str) -> int:
            m = re.match(r"events_(\d+)_", name)
            return int(m.group(1)) if m else 0

        return [os.path.join(path, n) for n in sorted(rolled, key=index)]
    logs = [n for n in names if not n.startswith(".")]
    if len(logs) != 1:
        raise ValueError(f"expected one event log under {path}, got {logs}")
    return event_files(os.path.join(path, logs[0]))


def read_events(path: str):
    for name in event_files(path):
        with open(name, encoding="utf-8") as fh:
            for line in fh:
                line = line.strip()
                if line:
                    yield json.loads(line)


def _metric_types(plan: dict, out: dict[int, str]) -> None:
    for m in plan.get("metrics", ()):
        out[m["accumulatorId"]] = m.get("metricType", "")
    for child in plan.get("children", ()):
        _metric_types(child, out)


def _update(acc: dict) -> float:
    value = acc.get("Update", 0)
    try:
        return float(value)
    except (TypeError, ValueError):
        return 0.0


def stats_by_group(events) -> dict[str, GroupStats]:
    """Per-job-group totals. Jobs without a group fall under ''."""
    stage_group: dict[int, str] = {}
    metric_type: dict[int, str] = {}
    stats: dict[str, GroupStats] = defaultdict(GroupStats)
    for ev in events:
        kind = ev.get("Event", "")
        if kind == "SparkListenerJobStart":
            group = (ev.get("Properties") or {}).get("spark.jobGroup.id") or ""
            stats[group].jobs += 1
            for sid in ev.get("Stage IDs", ()):
                stage_group[sid] = group
        elif kind.endswith("SparkListenerSQLExecutionStart") or kind.endswith(
            "SparkListenerSQLAdaptiveExecutionUpdate"
        ):
            _metric_types(ev.get("sparkPlanInfo") or {}, metric_type)
        elif kind == "SparkListenerTaskEnd":
            group = stats[stage_group.get(ev.get("Stage ID"), "")]
            info = ev.get("Task Info") or {}
            m = ev.get("Task Metrics") or {}
            group.tasks += 1
            group._stage_ids.add(ev.get("Stage ID"))
            run_ms = m.get("Executor Run Time", 0)
            group.task_run_s += run_ms / 1e3
            group.gc_s += m.get("JVM GC Time", 0) / 1e3
            duration = info.get("Finish Time", 0) - info.get("Launch Time", 0)
            busy = (
                run_ms
                + m.get("Executor Deserialize Time", 0)
                + m.get("Result Serialization Time", 0)
            )
            if info.get("Getting Result Time", 0) > 0:
                busy += info["Finish Time"] - info["Getting Result Time"]
            group.scheduler_delay_s += max(0, duration - busy) / 1e3
            group.shuffle_write_bytes += (
                m.get("Shuffle Write Metrics") or {}
            ).get("Shuffle Bytes Written", 0)
            read = m.get("Shuffle Read Metrics") or {}
            group.shuffle_read_bytes += read.get(
                "Remote Bytes Read", 0) + read.get("Local Bytes Read", 0)
            group.spill_bytes += m.get("Disk Bytes Spilled", 0)
            for acc in info.get("Accumulables", ()):
                name = PYTHON_METRICS.get(acc.get("Name"))
                if name is None:
                    continue
                value = _update(acc)
                if name.endswith("_s"):
                    unit = metric_type.get(acc.get("ID"), "nsTiming")
                    value *= _SECONDS_PER_UNIT.get(unit, 1e-9)
                    setattr(group, name, getattr(group, name) + value)
                else:
                    setattr(group, name, getattr(group, name) + int(value))
    for group in stats.values():
        group.stages = len(group._stage_ids)
    return dict(stats)


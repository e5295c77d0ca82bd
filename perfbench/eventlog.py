"""Fold Spark event-log task metrics by job group.

Spark writes one JSON event per line.  Stages learn their job group from
the ``spark.jobGroup.id`` property of the job or stage that submitted them;
each ``SparkListenerTaskEnd`` is then charged to its stage's group.
"""

from __future__ import annotations

import glob
import json
import os
from collections import defaultdict
from dataclasses import dataclass, fields


@dataclass
class GroupMetrics:
    jobs: int = 0
    tasks: int = 0
    task_run_s: float = 0.0
    task_cpu_s: float = 0.0
    gc_s: float = 0.0
    shuffle_read_bytes: int = 0
    shuffle_write_bytes: int = 0
    spill_bytes: int = 0

    def add(self, other: "GroupMetrics") -> None:
        for f in fields(self):
            setattr(self, f.name, getattr(self, f.name) + getattr(other, f.name))


def _group(event: dict) -> str | None:
    return (event.get("Properties") or {}).get("spark.jobGroup.id")


def fold_events(lines) -> dict[str | None, GroupMetrics]:
    """Task metrics per job group from an iterable of event-log lines."""
    out: dict[str | None, GroupMetrics] = defaultdict(GroupMetrics)
    stage_group: dict[int, str | None] = {}
    for line in lines:
        if not line.strip():
            continue
        ev = json.loads(line)
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            group = _group(ev)
            out[group].jobs += 1
            for sid in ev.get("Stage IDs", []):
                stage_group.setdefault(sid, group)
        elif kind == "SparkListenerStageSubmitted":
            stage_group[ev["Stage Info"]["Stage ID"]] = _group(ev)
        elif kind == "SparkListenerTaskEnd":
            m = ev.get("Task Metrics") or {}
            g = out[stage_group.get(ev.get("Stage ID"))]
            g.tasks += 1
            g.task_run_s += m.get("Executor Run Time", 0) / 1e3
            g.task_cpu_s += m.get("Executor CPU Time", 0) / 1e9
            g.gc_s += m.get("JVM GC Time", 0) / 1e3
            rd = m.get("Shuffle Read Metrics") or {}
            g.shuffle_read_bytes += rd.get("Remote Bytes Read", 0) + rd.get("Local Bytes Read", 0)
            g.shuffle_write_bytes += (m.get("Shuffle Write Metrics") or {}).get(
                "Shuffle Bytes Written", 0
            )
            g.spill_bytes += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
    return dict(out)


def fold_dir(log_dir: str) -> dict[str | None, GroupMetrics]:
    """Fold every event-log file Spark wrote under ``log_dir``."""
    out: dict[str | None, GroupMetrics] = defaultdict(GroupMetrics)
    for path in sorted(glob.glob(os.path.join(log_dir, "**", "*"), recursive=True)):
        if os.path.isfile(path):
            with open(path, encoding="utf-8") as fh:
                for group, m in fold_events(fh).items():
                    out[group].add(m)
    return dict(out)

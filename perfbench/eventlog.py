"""Per-job-group task metrics from a local, uncompressed Spark event log.

The traced benchmark run tags every Spark job with a job group
(``spark.jobGroup.id``) naming the span that submitted it. This module
reads the JSON-lines event log Spark writes with
``spark.eventLog.enabled=true`` and ``spark.eventLog.compress=false``
and sums task metrics per group. No Spark UI and no network are needed.
"""

from __future__ import annotations

import json
import os
import statistics
from dataclasses import dataclass, field

MB = 1024.0 * 1024.0


@dataclass
class GroupMetrics:
    jobs: int = 0
    task_s: float = 0.0
    shuffle_write_mb: float = 0.0
    spill_mb: float = 0.0
    # stage id -> executor run times (ms) of its finished tasks
    stage_task_ms: dict[int, list[int]] = field(default_factory=dict)

    @property
    def task_skew(self) -> float:
        """Slowest task over median task, in the stage of the group that
        took the most summed task time (a tiny stage's ratio of two
        millisecond tasks says nothing). 1.0 when the group ran no task."""
        if not self.stage_task_ms:
            return 1.0
        heaviest = max(self.stage_task_ms.values(), key=sum)
        return max(heaviest) / max(statistics.median(heaviest), 1.0)


def read_events(path: str):
    """Yield the events of one event log: a single file, or the
    ``eventlog_v2_*`` directory of a rolling log (Spark 4's default),
    whose ``events_<n>_<app>`` files are read in index order."""
    if os.path.isdir(path):
        names = [n for n in os.listdir(path) if n.startswith("events_")]
        names.sort(key=lambda n: int(n.split("_")[1]))
        paths = [os.path.join(path, n) for n in names]
    else:
        paths = [path]
    for p in paths:
        with open(p, encoding="utf-8") as f:
            for line in f:
                line = line.strip()
                if line:
                    yield json.loads(line)


def group_metrics(events) -> dict[str, GroupMetrics]:
    """Sum task metrics per job group. Jobs without a group are keyed
    by the empty string."""
    stage_group: dict[int, str] = {}
    out: dict[str, GroupMetrics] = {}
    for ev in events:
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            group = (ev.get("Properties") or {}).get("spark.jobGroup.id") or ""
            out.setdefault(group, GroupMetrics()).jobs += 1
            for sid in ev.get("Stage IDs", []):
                stage_group[sid] = group
        elif kind == "SparkListenerTaskEnd":
            tm = ev.get("Task Metrics")
            if not tm:
                continue
            group = stage_group.get(ev["Stage ID"], "")
            g = out.setdefault(group, GroupMetrics())
            run_ms = int(tm.get("Executor Run Time", 0))
            g.task_s += run_ms / 1000.0
            sw = tm.get("Shuffle Write Metrics") or {}
            g.shuffle_write_mb += sw.get("Shuffle Bytes Written", 0) / MB
            g.spill_mb += tm.get("Disk Bytes Spilled", 0) / MB
            g.stage_task_ms.setdefault(ev["Stage ID"], []).append(run_ms)
    return out


def find_log(log_dir: str) -> str:
    """The single application log in ``log_dir`` (the benchmark starts
    one Spark application per process)."""
    names = [n for n in os.listdir(log_dir) if not n.startswith(".")]
    if len(names) != 1:
        raise RuntimeError(f"expected one event log in {log_dir}, found {names}")
    return os.path.join(log_dir, names[0])

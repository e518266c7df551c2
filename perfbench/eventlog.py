"""Standard-library fold of an uncompressed Spark event log into
per-job-group executor metrics.

Jobs are attributed to the ``spark.jobGroup.id`` they ran under, stages to
the first job that lists them, and tasks to their stage. Times in the log
are epoch milliseconds.
"""

from __future__ import annotations

import json
import os
from collections import defaultdict
from dataclasses import dataclass, field


@dataclass
class GroupStats:
    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    failed_tasks: int = 0
    run_ms: float = 0.0
    cpu_ms: float = 0.0
    gc_ms: float = 0.0
    input_bytes: int = 0
    shuffle_read_bytes: int = 0
    shuffle_write_bytes: int = 0
    spill_bytes: int = 0
    job_spans: list[tuple[float, float]] = field(default_factory=list)  # epoch s
    stage_task_ms: dict[int, list[float]] = field(default_factory=dict)


def event_log_file(log_dir: str) -> str:
    """The single finished application log under ``log_dir``."""
    names = [n for n in os.listdir(log_dir) if not n.endswith(".inprogress")]
    if len(names) != 1:
        raise RuntimeError(f"expected one finished event log in {log_dir}, found {names}")
    return os.path.join(log_dir, names[0])


def fold(path: str) -> dict[str, GroupStats]:
    """Per job-group totals; jobs run outside any group fold under ``""``."""
    job_group: dict[int, str] = {}
    job_start: dict[int, float] = {}
    stage_job: dict[int, int] = {}
    groups: dict[str, GroupStats] = defaultdict(GroupStats)

    def group_of_stage(stage_id: int) -> GroupStats:
        return groups[job_group.get(stage_job.get(stage_id, -1), "")]

    with open(path, encoding="utf-8") as f:
        for line in f:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                jid = ev["Job ID"]
                g = (ev.get("Properties") or {}).get("spark.jobGroup.id") or ""
                job_group[jid] = g
                job_start[jid] = ev["Submission Time"] / 1000.0
                groups[g].jobs += 1
                for sid in ev.get("Stage IDs", []):
                    stage_job.setdefault(sid, jid)
            elif kind == "SparkListenerJobEnd":
                jid = ev["Job ID"]
                if jid in job_start:
                    groups[job_group[jid]].job_spans.append(
                        (job_start[jid], ev["Completion Time"] / 1000.0))
            elif kind == "SparkListenerStageCompleted":
                info = ev["Stage Info"]
                if "Completion Time" in info:
                    group_of_stage(info["Stage ID"]).stages += 1
            elif kind == "SparkListenerTaskEnd":
                g = group_of_stage(ev["Stage ID"])
                info, m = ev.get("Task Info", {}), ev.get("Task Metrics") or {}
                g.tasks += 1
                if info.get("Failed") or info.get("Killed"):
                    g.failed_tasks += 1
                g.run_ms += m.get("Executor Run Time", 0)
                g.cpu_ms += m.get("Executor CPU Time", 0) / 1e6
                g.gc_ms += m.get("JVM GC Time", 0)
                g.input_bytes += (m.get("Input Metrics") or {}).get("Bytes Read", 0)
                sr = m.get("Shuffle Read Metrics") or {}
                g.shuffle_read_bytes += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
                g.shuffle_write_bytes += (m.get("Shuffle Write Metrics") or {}).get(
                    "Shuffle Bytes Written", 0)
                g.spill_bytes += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
                if "Finish Time" in info and "Launch Time" in info:
                    g.stage_task_ms.setdefault(ev["Stage ID"], []).append(
                        info["Finish Time"] - info["Launch Time"])
    return dict(groups)


def union_length(spans: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``spans`` clipped to ``[lo, hi]``."""
    total, end = 0.0, lo
    for a, b in sorted(spans):
        a, b = max(a, end), min(b, hi)
        if b > a:
            total += b - a
            end = b
    return total

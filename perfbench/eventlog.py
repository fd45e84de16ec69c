"""Reduce a Spark event log to per-call metrics.

Every traced call runs under its own Spark job group (``Run.span``), so the
event log's JobStart / StageSubmitted properties carry the call's group id.
The reducer attributes jobs, stages and tasks to groups and sums the task
metrics Spark records; the call's wall span comes from the benchmark.
"""

from __future__ import annotations

import json
import os
import statistics
from collections import defaultdict
from dataclasses import dataclass, field

PYTHON_RUN_METRIC = "time to run Python workers"


@dataclass
class CallStats:
    """What Spark did for one job group."""

    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    task_s: float = 0.0
    python_s: float = 0.0
    map_task_s: float = 0.0
    reduce_task_s: float = 0.0
    shuffle_bytes: int = 0
    spill_bytes: int = 0
    input_rows: int = 0
    skew: float = 0.0
    # (submission, completion) epoch milliseconds of each job
    job_intervals: list[tuple[int, int]] = field(default_factory=list)

    def covered_s(self, t0: float, t1: float) -> float:
        """Seconds of [t0, t1] (epoch seconds) during which a job ran."""
        lo_ms, hi_ms = t0 * 1000.0, t1 * 1000.0
        spans = sorted(
            (max(a, lo_ms), min(b, hi_ms)) for a, b in self.job_intervals
        )
        total, cur_a, cur_b = 0.0, None, None
        for a, b in spans:
            if b <= a:
                continue
            if cur_b is None or a > cur_b:
                if cur_b is not None:
                    total += cur_b - cur_a
                cur_a, cur_b = a, b
            else:
                cur_b = max(cur_b, b)
        if cur_b is not None:
            total += cur_b - cur_a
        return total / 1000.0


def read_events(dirs: list[str]) -> list[dict]:
    """All events of the finished (non in-progress) logs under ``dirs``."""
    events = []
    for d in dirs:
        for name in sorted(os.listdir(d)):
            if name.startswith(".") or name.endswith(".inprogress"):
                continue
            with open(os.path.join(d, name)) as f:
                events.extend(json.loads(line) for line in f if line.strip())
    return events


def _group(event: dict) -> str | None:
    return (event.get("Properties") or {}).get("spark.jobGroup.id")


def reduce_groups(events: list[dict]) -> dict[str, CallStats]:
    """Per job group: jobs, executed stages, tasks and summed task metrics.
    ``skew`` is max / median task duration in the group's longest stage."""
    stats: dict[str, CallStats] = defaultdict(CallStats)
    job_group: dict[int, str] = {}
    job_start: dict[int, int] = {}
    stage_group: dict[int, str] = {}
    stage_len: dict[str, tuple[int, int]] = {}  # group -> (duration, stage id)
    task_ms: dict[int, list[int]] = defaultdict(list)

    for e in events:
        kind = e["Event"]
        if kind == "SparkListenerJobStart":
            g = _group(e)
            if g is not None:
                job_group[e["Job ID"]] = g
                job_start[e["Job ID"]] = e["Submission Time"]
                stats[g].jobs += 1
        elif kind == "SparkListenerJobEnd":
            g = job_group.get(e["Job ID"])
            if g is not None:
                stats[g].job_intervals.append(
                    (job_start[e["Job ID"]], e["Completion Time"])
                )
        elif kind == "SparkListenerStageSubmitted":
            g = _group(e)
            if g is not None:
                stage_group[e["Stage Info"]["Stage ID"]] = g
        elif kind == "SparkListenerStageCompleted":
            info = e["Stage Info"]
            g = stage_group.get(info["Stage ID"])
            if g is not None:
                stats[g].stages += 1
                dur = info.get("Completion Time", 0) - info.get("Submission Time", 0)
                if dur >= stage_len.get(g, (-1, 0))[0]:
                    stage_len[g] = (dur, info["Stage ID"])
        elif kind == "SparkListenerTaskEnd":
            g = stage_group.get(e["Stage ID"])
            if g is None:
                continue
            s = stats[g]
            info, m = e["Task Info"], e.get("Task Metrics") or {}
            s.tasks += 1
            task_ms[e["Stage ID"]].append(info["Finish Time"] - info["Launch Time"])
            run_s = m.get("Executor Run Time", 0) / 1000.0
            s.task_s += run_s
            if e.get("Task Type") == "ShuffleMapTask":
                s.map_task_s += run_s
            else:
                s.reduce_task_s += run_s
            s.shuffle_bytes += (m.get("Shuffle Write Metrics") or {}).get(
                "Shuffle Bytes Written", 0
            )
            s.spill_bytes += m.get("Disk Bytes Spilled", 0)
            s.input_rows += (m.get("Input Metrics") or {}).get("Records Read", 0)
            for acc in info.get("Accumulables", ()):
                if acc.get("Name") == PYTHON_RUN_METRIC:
                    s.python_s += float(acc.get("Update") or 0) / 1000.0

    for g, (_, sid) in stage_len.items():
        durs = task_ms.get(sid)
        if durs:
            med = statistics.median(durs)
            stats[g].skew = max(durs) / med if med > 0 else 1.0
    return dict(stats)

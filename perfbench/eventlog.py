"""Per-job-group task metrics from a Spark event log.

The traced run tags every Spark job with its span name through
``sc.setJobGroup``; this module folds the log's ``SparkListenerTaskEnd``
metrics into one record per group. The log must be uncompressed
(``spark.eventLog.compress=false``); a rolling log is a directory of
``events_<n>_*`` files read in order.
"""

from __future__ import annotations

import glob
import json
import os
import re
import statistics
from dataclasses import dataclass, field

PY_TIME_ACCUM = "time to run Python workers"


@dataclass
class GroupStats:
    jobs: int = 0
    tasks: int = 0
    cpu_ns: int = 0           # executor CPU time
    run_ms: int = 0           # executor run time (busy task time)
    gc_ms: int = 0
    py_ms: int = 0            # time to run Python workers
    shuffle_write_bytes: int = 0
    spill_bytes: int = 0      # memory + disk bytes spilled
    input_bytes: int = 0
    # stage id -> (submission ms, completion ms, task durations ms)
    stages: dict = field(default_factory=dict)

    @property
    def task_skew(self) -> float:
        """max/median task time of the group's longest stage (0 if none)."""
        best, skew = -1, 0.0
        for sub, done, durs in self.stages.values():
            if not durs or sub is None or done is None:
                continue
            if done - sub > best:
                best = done - sub
                skew = max(durs) / max(statistics.median(durs), 1.0)
        return skew


def _event_files(path: str) -> list[str]:
    if os.path.isfile(path):
        return [path]
    files = glob.glob(os.path.join(path, "**", "events_*"), recursive=True)

    def index(p: str) -> int:
        m = re.match(r"events_(\d+)_", os.path.basename(p))
        return int(m.group(1)) if m else 0

    return sorted(files, key=index)


def read_events(path: str):
    for p in _event_files(path):
        with open(p) as f:
            for line in f:
                if line.strip():
                    yield json.loads(line)


def summarize(events) -> dict[str, GroupStats]:
    """Group name -> stats; jobs with no group are filed under ``None``.

    A stage belongs to the group of the first job that lists it, so a
    stage reused by a later job is not counted twice."""
    stage_group: dict[int, str | None] = {}
    out: dict[str | None, GroupStats] = {}
    for e in events:
        kind = e.get("Event")
        if kind == "SparkListenerJobStart":
            group = (e.get("Properties") or {}).get("spark.jobGroup.id")
            out.setdefault(group, GroupStats()).jobs += 1
            for sid in e.get("Stage IDs", ()):
                stage_group.setdefault(sid, group)
        elif kind == "SparkListenerStageCompleted":
            info = e["Stage Info"]
            sid = info["Stage ID"]
            if sid in stage_group:
                g = out.setdefault(stage_group[sid], GroupStats())
                _, _, durs = g.stages.get(sid, (None, None, []))
                g.stages[sid] = (info.get("Submission Time"),
                                 info.get("Completion Time"), durs)
        elif kind == "SparkListenerTaskEnd":
            sid = e["Stage ID"]
            g = out.setdefault(stage_group.get(sid), GroupStats())
            info, m = e["Task Info"], e.get("Task Metrics") or {}
            g.tasks += 1
            g.cpu_ns += m.get("Executor CPU Time", 0)
            g.run_ms += m.get("Executor Run Time", 0)
            g.gc_ms += m.get("JVM GC Time", 0)
            g.spill_bytes += (m.get("Memory Bytes Spilled", 0)
                              + m.get("Disk Bytes Spilled", 0))
            g.shuffle_write_bytes += (m.get("Shuffle Write Metrics") or {}
                                      ).get("Shuffle Bytes Written", 0)
            g.input_bytes += (m.get("Input Metrics") or {}).get(
                "Bytes Read", 0)
            for acc in info.get("Accumulables", ()):
                if acc.get("Name") == PY_TIME_ACCUM:
                    g.py_ms += int(acc.get("Update", 0))
            sub, done, durs = g.stages.get(sid, (None, None, []))
            durs.append(info["Finish Time"] - info["Launch Time"])
            g.stages[sid] = (sub, done, durs)
    return out

"""The event-log parser on a small recorded log.

``data/eventlog_small.jsonl`` was recorded from a two-core local session
(the fields the parser does not read were dropped): group ``g.a`` ran a
``mapInPandas`` write (2 jobs, 3 Python tasks), ``g.b`` two aggregations
on the main thread, ``g.c`` one count set from a second thread.
"""

import json
import os

from perfbench.eventlog import read_events, summarize

LOG = os.path.join(os.path.dirname(__file__), "data", "eventlog_small.jsonl")


def test_jobs_and_tasks_per_group():
    g = summarize(read_events(LOG))
    assert set(g) == {"g.a", "g.b", "g.c"}
    assert (g["g.a"].jobs, g["g.b"].jobs, g["g.c"].jobs) == (2, 4, 2)
    assert (g["g.a"].tasks, g["g.b"].tasks, g["g.c"].tasks) == (5, 6, 3)


def test_task_metric_sums():
    a = summarize(read_events(LOG))["g.a"]
    assert a.run_ms == 5139
    assert a.cpu_ns == 936293468
    assert a.py_ms == 1751 + 1936 + 180
    assert a.shuffle_write_bytes == 6352
    assert a.spill_bytes == 0


def test_task_skew_uses_longest_stage():
    a = summarize(read_events(LOG))["g.a"]
    # stage 2 (2.5 s) is the longest; its tasks ran 2239, 2386 and 206 ms
    assert a.task_skew == 2386 / 2239


def test_rolling_log_directory(tmp_path):
    """A rolling log is a directory of numbered ``events_*`` files."""
    events = [json.loads(line) for line in open(LOG)]
    half = len(events) // 2
    sub = tmp_path / "eventlog_v2_local-1"
    sub.mkdir()
    for i, part in ((2, events[half:]), (1, events[:half])):
        with open(sub / f"events_{i}_local-1", "w") as f:
            f.writelines(json.dumps(e) + "\n" for e in part)
    assert summarize(read_events(str(tmp_path)))["g.a"].run_ms == 5139

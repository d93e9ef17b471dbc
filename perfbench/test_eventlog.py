"""The event-log parser on a small recorded log.

``testdata/eventlog_small.jsonl`` was recorded from a local[4] session
with the event log on: span ``pb0`` ran a grouped count (one shuffle)
and, nested in it, span ``pb1`` collected a small range (no shuffle).
Event types the
parser ignores were dropped from the recording, and so were the fields
of the kept events that it does not read.
"""

from __future__ import annotations

import json
import os

import eventlog

LOG = os.path.join(os.path.dirname(__file__), "testdata", "eventlog_small.jsonl")


def _events():
    with open(LOG) as fh:
        return [json.loads(line) for line in fh if line.strip()]


def test_every_task_folds_into_the_group_of_its_stage():
    groups = eventlog.parse(LOG)
    task_ends = [e for e in _events() if e["Event"] == "SparkListenerTaskEnd"]
    assert sum(c.tasks for c in groups.values()) == len(task_ends)
    assert set(groups) == {"pb0", "pb1"}
    assert groups["pb0"].shuffle_write_bytes > 0
    assert groups["pb0"].shuffle_write_bytes == groups["pb0"].shuffle_read_bytes
    assert groups["pb1"].shuffle_write_bytes == 0


def test_jobs_and_stages_are_counted_per_group():
    groups = eventlog.parse(LOG)
    events = _events()
    for g, c in groups.items():
        jobs = [
            e for e in events
            if e["Event"] == "SparkListenerJobStart"
            and e["Properties"].get("spark.jobGroup.id") == g
        ]
        assert c.jobs == len(jobs) > 0
        assert c.stages >= 1
        assert c.cpu_ns > 0


def test_spans_fold_inclusively_and_untagged_work_stays_apart():
    groups = eventlog.parse(LOG)
    spans = [
        {"name": "outer", "group": "pb0", "parent": None, "ms": 10.0},
        {"name": "inner", "group": "pb1", "parent": "pb0", "ms": 4.0},
    ]
    by_name = eventlog.fold_spans(spans, groups)
    (outer,), (inner,) = by_name["outer"], by_name["inner"]
    assert inner["tasks"] == groups["pb1"].tasks
    assert outer["tasks"] == groups["pb0"].tasks + groups["pb1"].tasks
    assert outer["ms"] == 10.0
    assert eventlog.total(groups).tasks == outer["tasks"]
    assert eventlog.UNTAGGED not in groups

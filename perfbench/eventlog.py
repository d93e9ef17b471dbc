"""Spark event-log parser for the traced run: job group -> span ->
stage and task metrics.

The traced run tags every job a span starts with the span's job group
(``spark.jobGroup.id``).  Jobs and stages carry that property in their
start events; tasks only name their stage, so each task is folded into
the group of the stage attempt that ran it.  Jobs with no group (for
example micro-batches run by a streaming query's own thread) fold into
the group ``""``.
"""

from __future__ import annotations

import json
from collections import defaultdict
from dataclasses import asdict, dataclass

UNTAGGED = ""


@dataclass
class Counters:
    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    cpu_ns: int = 0
    scan_cpu_ns: int = 0  # CPU of tasks that read input files
    run_ms: int = 0
    gc_ms: int = 0
    shuffle_write_bytes: int = 0
    shuffle_read_bytes: int = 0
    input_bytes: int = 0
    output_bytes: int = 0
    spill_bytes: int = 0

    def add(self, other: "Counters") -> None:
        for k, v in asdict(other).items():
            setattr(self, k, getattr(self, k) + v)


def _group(props: dict | None) -> str:
    return (props or {}).get("spark.jobGroup.id") or UNTAGGED


def _events(path: str):
    """Events of an uncompressed, unrolled event log file."""
    with open(path) as fh:
        for line in fh:
            line = line.strip()
            if line:
                yield json.loads(line)


def parse(path: str) -> dict[str, Counters]:
    """Fold one event log file into per-group counters."""
    out: dict[str, Counters] = defaultdict(Counters)
    stage_group: dict[tuple[int, int], str] = {}
    for ev in _events(path):
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            out[_group(ev.get("Properties"))].jobs += 1
        elif kind == "SparkListenerStageSubmitted":
            info = ev["Stage Info"]
            g = _group(ev.get("Properties"))
            stage_group[(info["Stage ID"], info.get("Stage Attempt ID", 0))] = g
            out[g].stages += 1
        elif kind == "SparkListenerTaskEnd":
            key = (ev["Stage ID"], ev.get("Stage Attempt ID", 0))
            c = out[stage_group.get(key, UNTAGGED)]
            m = ev.get("Task Metrics") or {}
            sr = m.get("Shuffle Read Metrics") or {}
            c.tasks += 1
            c.cpu_ns += m.get("Executor CPU Time", 0)
            c.run_ms += m.get("Executor Run Time", 0)
            c.gc_ms += m.get("JVM GC Time", 0)
            c.shuffle_write_bytes += (m.get("Shuffle Write Metrics") or {}).get(
                "Shuffle Bytes Written", 0
            )
            c.shuffle_read_bytes += sr.get("Remote Bytes Read", 0) + sr.get(
                "Local Bytes Read", 0
            )
            read = (m.get("Input Metrics") or {}).get("Bytes Read", 0)
            c.input_bytes += read
            if read:
                c.scan_cpu_ns += m.get("Executor CPU Time", 0)
            c.output_bytes += (m.get("Output Metrics") or {}).get("Bytes Written", 0)
            c.spill_bytes += m.get("Memory Bytes Spilled", 0) + m.get(
                "Disk Bytes Spilled", 0
            )
    return dict(out)


def fold_spans(spans: list[dict], groups: dict[str, Counters]) -> dict[str, list[dict]]:
    """Index the spans by name: name -> one ``{"ms": wall, **counters}``
    per call.  A span's counters are inclusive: its own job group plus
    the groups of every span nested inside it."""
    children: dict[str, list[str]] = defaultdict(list)
    for s in spans:
        children[s.get("parent") or UNTAGGED].append(s["group"])

    def inclusive(group: str) -> Counters:
        c = Counters()
        c.add(groups.get(group, Counters()))
        for child in children.get(group, ()):
            c.add(inclusive(child))
        return c

    by_name: dict[str, list[dict]] = defaultdict(list)
    for s in spans:
        by_name[s["name"]].append({"ms": s.get("ms", 0.0), **asdict(inclusive(s["group"]))})
    return dict(by_name)


def total(groups: dict[str, Counters]) -> Counters:
    t = Counters()
    for c in groups.values():
        t.add(c)
    return t

"""Spark event-log reader: task work credited to the job that ran it.

Every task is credited through its stage *submission*: a
``SparkListenerStageSubmitted`` event carries the local properties of the
job that submitted that stage attempt, and a ``SparkListenerTaskEnd``
names its stage id and attempt. A stage id can appear in several jobs
(an exchange reused by a later job, a stage first planned by a warm-up
job); only the submission that actually ran it owns its tasks. Crediting
by the first job that listed the stage id would give a shared stage's
tasks to the wrong job.

Jobs are counted from ``SparkListenerJobStart``, with the same
properties, and carry their submission time so they can also be matched
to wall-clock windows.
"""

from __future__ import annotations

import json
import os
from collections.abc import Iterable, Iterator
from dataclasses import dataclass, field

#: Local property the tracer sets to the id of the innermost open span.
SPAN_KEY = "perfbench.span"

WORK_FIELDS = (
    "jobs",
    "tasks",
    "cpu_s",
    "run_s",
    "gc_s",
    "input_mb",
    "shuffle_mb",
    "spill_mb",
)


@dataclass
class Task:
    label: str | None
    launch_ms: int
    cpu_s: float
    run_s: float
    gc_s: float
    input_mb: float
    shuffle_mb: float
    spill_mb: float


@dataclass
class Job:
    label: str | None
    submit_ms: int


@dataclass
class EventLog:
    tasks: list[Task] = field(default_factory=list)
    jobs: list[Job] = field(default_factory=list)

    def in_window(self, start: float, end: float) -> dict[str, float]:
        """Work of the jobs submitted and tasks launched between ``start``
        and ``end`` (epoch seconds, inclusive)."""
        lo, hi = start * 1000, end * 1000
        out = dict.fromkeys(WORK_FIELDS, 0.0)
        out["jobs"] = float(sum(1 for j in self.jobs if lo <= j.submit_ms <= hi))
        for t in self.tasks:
            if lo <= t.launch_ms <= hi:
                out["tasks"] += 1
                for k in ("cpu_s", "run_s", "gc_s", "input_mb", "shuffle_mb", "spill_mb"):
                    out[k] += getattr(t, k)
        return out

    def by_label(self) -> dict[str | None, dict[str, float]]:
        """Work summed per label, in one pass over jobs and tasks."""
        out: dict[str | None, dict[str, float]] = {}
        for j in self.jobs:
            out.setdefault(j.label, dict.fromkeys(WORK_FIELDS, 0.0))["jobs"] += 1
        for t in self.tasks:
            agg = out.setdefault(t.label, dict.fromkeys(WORK_FIELDS, 0.0))
            agg["tasks"] += 1
            for k in ("cpu_s", "run_s", "gc_s", "input_mb", "shuffle_mb", "spill_mb"):
                agg[k] += getattr(t, k)
        return out


_KINDS = tuple(
    '{"Event":"%s"' % k
    for k in ("SparkListenerJobStart", "SparkListenerStageSubmitted", "SparkListenerTaskEnd")
)


def _events(lines: Iterable[str]) -> Iterator[dict]:
    for line in lines:
        if not line.startswith(_KINDS):
            continue  # skip the bulky SQL-plan and block events unparsed
        try:
            yield json.loads(line)
        except json.JSONDecodeError:
            continue  # a torn last line of a log still being written


def parse_lines(lines: Iterable[str], label_key: str = SPAN_KEY) -> EventLog:
    log = EventLog()
    stage_label: dict[tuple[int, int], str | None] = {}
    for ev in _events(lines):
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            props = ev.get("Properties") or {}
            log.jobs.append(Job(props.get(label_key), int(ev.get("Submission Time", 0))))
        elif kind == "SparkListenerStageSubmitted":
            info = ev["Stage Info"]
            props = ev.get("Properties") or {}
            # the latest submission of this attempt wins: it is the job
            # that is about to run the tasks
            stage_label[(info["Stage ID"], info.get("Stage Attempt ID", 0))] = props.get(label_key)
        elif kind == "SparkListenerTaskEnd":
            key = (ev["Stage ID"], ev.get("Stage Attempt ID", 0))
            tm = ev.get("Task Metrics") or {}
            info = ev.get("Task Info") or {}
            srm = tm.get("Shuffle Read Metrics") or {}
            log.tasks.append(
                Task(
                    label=stage_label.get(key),
                    launch_ms=int(info.get("Launch Time", 0)),
                    cpu_s=tm.get("Executor CPU Time", 0) / 1e9,
                    run_s=tm.get("Executor Run Time", 0) / 1e3,
                    gc_s=tm.get("JVM GC Time", 0) / 1e3,
                    input_mb=(tm.get("Input Metrics") or {}).get("Bytes Read", 0) / 1e6,
                    shuffle_mb=(
                        srm.get("Remote Bytes Read", 0) + srm.get("Local Bytes Read", 0)
                    )
                    / 1e6,
                    spill_mb=(tm.get("Memory Bytes Spilled", 0) + tm.get("Disk Bytes Spilled", 0))
                    / 1e6,
                )
            )
    return log


def parse_dir(event_dir: str, label_key: str = SPAN_KEY) -> EventLog:
    """Parse every event-log file under ``event_dir`` (one per application)."""
    files = sorted(
        os.path.join(root, f) for root, _dirs, names in os.walk(event_dir) for f in names
    )

    def lines() -> Iterator[str]:
        for path in files:
            with open(path, encoding="utf-8", errors="replace") as fh:
                yield from fh

    return parse_lines(lines(), label_key)

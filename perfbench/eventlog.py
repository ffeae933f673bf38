"""Spark event-log reader for the traced run.

The traced run gives every public operator call its own job group
(``spark.jobGroup.id`` = ``<span>#<n>``) and records the call's wall
interval on the driver. Spark writes an uncompressed, non-rolling event
log (one JSON object per line); this module joins the two:

- ``SparkListenerJobStart`` carries the job group in ``Properties`` and
  the job's ``Stage IDs``; a stage belongs to the first job that lists it.
- ``SparkListenerTaskEnd`` carries the task's metrics: ``Executor CPU
  Time`` (ns, JVM threads only — Python worker CPU is not in it),
  ``Executor Run Time`` (ms, the task's busy time, which does include
  waiting on Python workers), shuffle read/write bytes, spill bytes,
  ``Result Size`` (bytes the task sent to the driver) and input records.
- ``SparkListenerJobStart``/``JobEnd`` timestamps give each job's
  running interval; a span's ``idle_s`` is its wall time covered by no
  job of its group: driver-side planning, Python and collects.
"""

from __future__ import annotations

import json
from dataclasses import dataclass, field


@dataclass
class Span:
    name: str  # "<module>.<function>"
    group: str  # the job group the call ran under
    t0_ms: float  # wall interval on the driver, epoch ms
    t1_ms: float


@dataclass
class GroupTotals:
    jobs: int = 0
    cpu_s: float = 0.0
    task_s: float = 0.0
    shuffle_read_bytes: int = 0
    shuffle_write_bytes: int = 0
    spill_bytes: int = 0
    result_bytes: int = 0
    input_records: int = 0
    intervals: list[tuple[float, float]] = field(default_factory=list)


def read_groups(path: str) -> dict[str, GroupTotals]:
    """Per job group totals from one event-log file."""
    groups: dict[str, GroupTotals] = {}
    job_group: dict[int, str] = {}
    job_start: dict[int, float] = {}
    stage_group: dict[int, str] = {}
    with open(path, encoding="utf-8") as fh:
        for line in fh:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                gid = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                if gid is None:
                    continue
                jid = ev["Job ID"]
                job_group[jid] = gid
                job_start[jid] = float(ev["Submission Time"])
                groups.setdefault(gid, GroupTotals()).jobs += 1
                for sid in ev.get("Stage IDs", ()):
                    stage_group.setdefault(sid, gid)
            elif kind == "SparkListenerJobEnd":
                jid = ev["Job ID"]
                if jid in job_group:
                    groups[job_group[jid]].intervals.append(
                        (job_start[jid], float(ev["Completion Time"]))
                    )
            elif kind == "SparkListenerTaskEnd":
                gid = stage_group.get(ev.get("Stage ID"))
                m = ev.get("Task Metrics")
                if gid is None or not m:
                    continue
                g = groups[gid]
                rd = m.get("Shuffle Read Metrics", {})
                wr = m.get("Shuffle Write Metrics", {})
                g.cpu_s += m.get("Executor CPU Time", 0) / 1e9
                g.task_s += m.get("Executor Run Time", 0) / 1e3
                g.shuffle_read_bytes += rd.get("Remote Bytes Read", 0) + rd.get(
                    "Local Bytes Read", 0
                )
                g.shuffle_write_bytes += wr.get("Shuffle Bytes Written", 0)
                g.spill_bytes += m.get("Memory Bytes Spilled", 0) + m.get(
                    "Disk Bytes Spilled", 0
                )
                g.result_bytes += m.get("Result Size", 0)
                g.input_records += m.get("Input Metrics", {}).get("Records Read", 0)
    return groups


def covered_ms(intervals: list[tuple[float, float]], t0: float, t1: float) -> float:
    """Length of the union of ``intervals`` clipped to ``[t0, t1]``."""
    total, end = 0.0, t0
    for a, b in sorted(intervals):
        a, b = max(a, end), min(b, t1)
        if b > a:
            total += b - a
            end = b
    return total


FIELDS = ("wall_s", "jobs", "cpu_s", "task_s", "idle_s", "shuffle_bytes",
          "result_bytes")


def per_span(spans: list[Span], groups: dict[str, GroupTotals]) -> dict[str, dict]:
    """Per span name: call count and per-call means of :data:`FIELDS`,
    plus the raw totals (``input_records``, ``spill_bytes``,
    ``shuffle_read_bytes``) the ratios are built from."""
    out: dict[str, dict] = {}
    for s in spans:
        g = groups.get(s.group, GroupTotals())
        wall = (s.t1_ms - s.t0_ms) / 1e3
        acc = out.setdefault(s.name, {"calls": 0} | {f: 0.0 for f in FIELDS}
                             | {"input_records": 0, "spill_bytes": 0,
                                "shuffle_read_bytes": 0})
        acc["calls"] += 1
        acc["wall_s"] += wall
        acc["jobs"] += g.jobs
        acc["cpu_s"] += g.cpu_s
        acc["task_s"] += g.task_s
        acc["idle_s"] += wall - covered_ms(g.intervals, s.t0_ms, s.t1_ms) / 1e3
        acc["shuffle_bytes"] += g.shuffle_write_bytes
        acc["result_bytes"] += g.result_bytes
        acc["input_records"] += g.input_records
        acc["spill_bytes"] += g.spill_bytes
        acc["shuffle_read_bytes"] += g.shuffle_read_bytes
    for acc in out.values():
        for f in FIELDS:
            acc[f] /= acc["calls"]
    return out

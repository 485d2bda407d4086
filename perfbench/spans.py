"""Spans around the benchmark's calls into the program, and the per-layer
split of each call read back from Spark's event log.

Every call runs under its own ``setJobDescription``, so each Spark job in
the event log names the call that started it.  The measures per call:

* ``wall_s`` — the call's wall time, timed by the benchmark;
* ``jobs`` and ``tasks`` — Spark jobs and tasks the call ran;
* ``executor_run_s`` — summed executor run time of those tasks;
* ``driver_s`` — wall time not covered by any of the call's jobs: query
  planning, NumPy on the driver and Arrow conversion;
* ``shuffle_write_bytes``, ``output_bytes`` (files written) and
  ``collect_bytes`` (result-task bytes returned to the driver).
"""

from __future__ import annotations

import json
import sys
import time
import traceback
from dataclasses import dataclass, field
from pathlib import Path

MEASURES = ("wall_s", "jobs", "tasks", "executor_run_s", "driver_s",
            "shuffle_write_bytes", "output_bytes", "collect_bytes")


@dataclass
class Span:
    call: str
    start: float  # epoch seconds
    wall_s: float


@dataclass
class Recorder:
    """Times each call into the program and counts attempts and failures."""

    spark: object
    spans: list[Span] = field(default_factory=list)
    attempted: int = 0
    failed: int = 0

    def call(self, name: str, fn):
        """Run ``fn()`` as call ``name``; returns its result, or None if it
        raised (the failure is counted and its traceback logged)."""
        sc = self.spark.sparkContext
        sc.setJobDescription(name)
        self.attempted += 1
        start, t0 = time.time(), time.perf_counter()
        try:
            return fn()
        except Exception:  # a failed operation is counted, not fatal
            self.failed += 1
            print(f"[perfbench] call {name} failed:\n{traceback.format_exc()}", file=sys.stderr)
            return None
        finally:
            self.spans.append(Span(name, start, time.perf_counter() - t0))
            sc.setJobDescription(None)

    def body_s(self) -> float:
        """Wall time from the start of the first call to the end of the last."""
        first, last = self.spans[0], self.spans[-1]
        return last.start + last.wall_s - first.start

    def wall(self, name: str) -> float:
        return sum(s.wall_s for s in self.spans if s.call == name)


def _union_within(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
    covered, end = 0.0, lo
    for a, b in sorted(intervals):
        a, b = max(a, end), min(b, hi)
        if b > a:
            covered += b - a
            end = b
    return covered


def per_call(event_log: Path, spans: list[Span]) -> dict[str, dict[str, float]]:
    """Per-call measures from one Spark event log file."""
    job_desc, job_start, job_end, stage_job = {}, {}, {}, {}
    tasks = []
    with open(event_log) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                jid = ev["Job ID"]
                job_desc[jid] = (ev.get("Properties") or {}).get("spark.job.description")
                job_start[jid] = ev["Submission Time"] / 1000.0
                for sid in ev.get("Stage IDs", []):
                    stage_job.setdefault(sid, jid)
            elif kind == "SparkListenerJobEnd":
                job_end[ev["Job ID"]] = ev["Completion Time"] / 1000.0
            elif kind == "SparkListenerTaskEnd":
                tasks.append(ev)

    out: dict[str, dict[str, float]] = {}
    lo, hi = spans[0].start, spans[-1].start + spans[-1].wall_s
    stray = [j for j, d in job_desc.items() if lo <= job_start[j] <= hi and d not in
             {s.call for s in spans}]
    if stray:
        print(f"[perfbench] {len(stray)} jobs in the timed body carry no call description",
              file=sys.stderr)
    for span in spans:
        m = out.setdefault(span.call, dict.fromkeys(MEASURES, 0))
        m["wall_s"] += span.wall_s
        lo, hi = span.start, span.start + span.wall_s
        mine = [j for j, d in job_desc.items() if d == span.call and lo <= job_start[j] <= hi]
        m["jobs"] += len(mine)
        ivals = [(job_start[j], job_end.get(j, hi)) for j in mine]
        m["driver_s"] += span.wall_s - _union_within(ivals, lo, hi)
    for ev in tasks:
        call = job_desc.get(stage_job.get(ev["Stage ID"]))
        if call not in out:
            continue
        tm = ev.get("Task Metrics") or {}
        m = out[call]
        m["tasks"] += 1
        m["executor_run_s"] += tm.get("Executor Run Time", 0) / 1000.0
        shuffle = tm.get("Shuffle Write Metrics") or {}
        m["shuffle_write_bytes"] += shuffle.get("Shuffle Bytes Written", 0)
        m["output_bytes"] += (tm.get("Output Metrics") or {}).get("Bytes Written", 0)
        if ev.get("Task Type") == "ResultTask":
            m["collect_bytes"] += tm.get("Result Size", 0)
    return out

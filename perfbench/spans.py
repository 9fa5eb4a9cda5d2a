"""Op spans keyed by Spark job group, and the event-log parser that
attributes every Spark stage to the span that launched it.

A span is one call into the program, timed from the benchmark's side:
the benchmark sets a fresh job group before the call, so every job the
call launches carries the span's id. After the SparkContext stops, the
event log (written only in traced runs) is parsed and each completed
stage is attributed to exactly one span through its job group. A span's
wall time then splits into `stage_busy` (the union of its stages'
[submit, complete] intervals) and `driver_gap` (the rest: planning,
commit, metadata, Python-side work).
"""

from __future__ import annotations

import glob
import json
import os
import time
from dataclasses import dataclass, field

from probes import cpu_s


@dataclass
class Span:
    sid: str
    name: str
    start_ms: float
    end_ms: float = 0.0
    jobs: int = 0
    cpu_ms: float = 0.0

    @property
    def wall_ms(self) -> float:
        return self.end_ms - self.start_ms


class Spans:
    """Records spans around program calls. With `per_op=False` only the
    wall time is taken (no job group, no status-tracker call): the
    untraced runs use that for the serving ops, whose job count is
    instead checked once over a whole loop group."""

    def __init__(self, sc, prefix: str):
        self.sc = sc
        self.prefix = prefix
        self.spans: list[Span] = []

    def _group(self, name: str) -> str:
        return f"{self.prefix}-{len(self.spans):05d}-{name}"

    def run(self, name: str, fn, per_op: bool = True, tree: bool = False):
        """Call fn() inside a span; returns (result, span). The span's CPU
        time is this process's, plus with `tree` that of the JVM and its
        Python workers (for calls that run Spark jobs)."""
        sid = self._group(name)
        if per_op:
            self.sc.setJobGroup(sid, name)
        cpu0 = cpu_s(tree)
        sp = Span(sid, name, time.time() * 1e3)
        try:
            out = fn()
        finally:
            sp.end_ms = time.time() * 1e3
            sp.cpu_ms = (cpu_s(tree) - cpu0) * 1e3
            if per_op:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
                sp.jobs = len(self.sc.statusTracker().getJobIdsForGroup(sid))
        self.spans.append(sp)
        return out, sp

    def group(self, name: str) -> str:
        """Open a job group covering many calls (closed by end_group)."""
        sid = self._group(name)
        self.sc.setJobGroup(sid, name)
        self.spans.append(Span(sid, name, time.time() * 1e3))
        return sid

    def end_group(self, sid: str) -> int:
        self.sc.setLocalProperty("spark.jobGroup.id", None)
        sp = next(s for s in self.spans if s.sid == sid)
        sp.end_ms = time.time() * 1e3
        sp.jobs = len(self.sc.statusTracker().getJobIdsForGroup(sid))
        return sp.jobs


@dataclass
class StageRec:
    stage: int
    attempt: int
    group: str | None
    submit_ms: int
    complete_ms: int
    tasks: int = 0
    cpu_ns: int = 0
    gc_ms: int = 0
    shuffle_write_bytes: int = 0
    shuffle_read_bytes: int = 0
    spill_bytes: int = 0
    output_bytes: int = 0


@dataclass
class GroupStats:
    jobs: set = field(default_factory=set)
    stages: list = field(default_factory=list)


def event_log_lines(log_dir: str) -> list[str]:
    """Lines of the one application event log under log_dir (the run
    turns rolling and compression off, so it is a single plain file)."""
    (path,) = glob.glob(os.path.join(log_dir, "*"))
    with open(path) as f:
        return f.readlines()


def parse_event_log(lines) -> tuple[dict, list]:
    """Event-log JSON lines -> ({group: GroupStats}, [StageRec without a
    group]). Only completed stage attempts count; skipped stages never
    run and never complete."""
    groups: dict[str, GroupStats] = {}
    job_group: dict[int, str | None] = {}
    stage_group: dict[int, str | None] = {}
    stages: dict[tuple, StageRec] = {}
    tasks: dict[tuple, list] = {}
    for line in lines:
        ev = json.loads(line)
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            g = (ev.get("Properties") or {}).get("spark.jobGroup.id")
            job_group[ev["Job ID"]] = g
            for sid in ev.get("Stage IDs", []):
                stage_group.setdefault(sid, g)
            if g is not None:
                groups.setdefault(g, GroupStats()).jobs.add(ev["Job ID"])
        elif kind == "SparkListenerTaskEnd":
            key = (ev["Stage ID"], ev["Stage Attempt ID"])
            tasks.setdefault(key, []).append(ev.get("Task Metrics") or {})
        elif kind == "SparkListenerStageCompleted":
            info = ev["Stage Info"]
            if "Completion Time" not in info or info.get("Failure Reason"):
                continue
            key = (info["Stage ID"], info["Stage Attempt ID"])
            stages[key] = StageRec(
                stage=info["Stage ID"],
                attempt=info["Stage Attempt ID"],
                group=stage_group.get(info["Stage ID"]),
                submit_ms=int(info["Submission Time"]),
                complete_ms=int(info["Completion Time"]),
                tasks=int(info.get("Number of Tasks", 0)),
            )
    for key, rec in stages.items():
        for m in tasks.get(key, []):
            rec.cpu_ns += int(m.get("Executor CPU Time", 0))
            rec.gc_ms += int(m.get("JVM GC Time", 0))
            rec.spill_bytes += int(m.get("Memory Bytes Spilled", 0)) + int(
                m.get("Disk Bytes Spilled", 0)
            )
            sw = m.get("Shuffle Write Metrics") or {}
            rec.shuffle_write_bytes += int(sw.get("Shuffle Bytes Written", 0))
            sr = m.get("Shuffle Read Metrics") or {}
            rec.shuffle_read_bytes += int(sr.get("Remote Bytes Read", 0)) + int(
                sr.get("Local Bytes Read", 0)
            )
            om = m.get("Output Metrics") or {}
            rec.output_bytes += int(om.get("Bytes Written", 0))
    orphans = []
    for rec in sorted(stages.values(), key=lambda r: (r.stage, r.attempt)):
        if rec.group is None:
            orphans.append(rec)
        else:
            groups.setdefault(rec.group, GroupStats()).stages.append(rec)
    return groups, orphans


def busy_ms(intervals) -> float:
    """Length of the union of [a, b] intervals."""
    total, end = 0.0, None
    for a, b in sorted(intervals):
        if end is None or a > end:
            total += b - a
            end = b
        elif b > end:
            total += b - end
            end = b
    return total


def split(span: Span, gs: GroupStats | None) -> dict:
    """One span's layer split: wall = stage_busy + driver_gap, plus the
    task-side counters of its stages. `outside` counts stages that start
    before or end after the span (Spark timestamps are whole ms, so the
    span is widened to whole ms first)."""
    stages = gs.stages if gs else []
    lo, hi = int(span.start_ms), int(span.end_ms) + 1
    busy = busy_ms([(s.submit_ms, s.complete_ms) for s in stages])
    wall = span.wall_ms
    return {
        "wall_ms": wall,
        "stage_busy_ms": busy,
        "driver_gap_ms": max(0.0, wall - busy),
        "jobs": len(gs.jobs) if gs else 0,
        "stages": len(stages),
        "tasks": sum(s.tasks for s in stages),
        "executor_cpu_ms": sum(s.cpu_ns for s in stages) / 1e6,
        "gc_ms": float(sum(s.gc_ms for s in stages)),
        "shuffle_write_bytes": sum(s.shuffle_write_bytes for s in stages),
        "shuffle_bytes": sum(
            s.shuffle_write_bytes + s.shuffle_read_bytes for s in stages
        ),
        "spill_bytes": sum(s.spill_bytes for s in stages),
        "output_bytes": sum(s.output_bytes for s in stages),
        "outside": sum(
            1 for s in stages if s.submit_ms < lo or s.complete_ms > hi
        ),
    }


def attribute(spans: list[Span], groups: dict, orphans: list) -> dict:
    """Split every span and check the attribution rule: every stage
    belongs to exactly one recorded span and lies inside it."""
    by_sid = {s.sid: s for s in spans}
    splits = {s.sid: split(s, groups.get(s.sid)) for s in spans}
    unknown = [g for g in groups if g not in by_sid and groups[g].stages]
    strays = orphans + [st for g in unknown for st in groups[g].stages]
    return {
        # each stray stage with the spans whose time range holds it
        "strays": [
            (st.stage, st.group, [s.name for s in spans
                                  if s.start_ms <= st.submit_ms <= s.end_ms])
            for st in strays
        ],
        "splits": splits,
        "stages_total": sum(len(g.stages) for g in groups.values())
        + len(orphans),
        "stages_unattributed": len(orphans)
        + sum(len(groups[g].stages) for g in unknown),
        "stages_outside_span": sum(v["outside"] for v in splits.values()),
        "negative_gaps": sum(
            1 for v in splits.values()
            if v["wall_ms"] - v["stage_busy_ms"] < -1.0
        ),
    }

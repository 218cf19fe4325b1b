"""Spans recorded from outside the engine, and Spark event-log attribution.

The benchmark wraps each of its own calls into an engine layer (and each
action that forces a relation) in ``Tracer.span(name)``. A span records its
name, start, end and parent, and sets the Spark job group to a per-span id so
the event log can attach task time, shuffle bytes, spill and GC to it. Spans
are kept in memory; ``layer_report`` turns them into per-layer figures after
the session has stopped and the event log is complete.

A span's self time is its duration minus the part of it that its child spans
cover. Every span is nested inside one root span, and layer spans sit inside
phase spans (set-up, measured loop, answer checks, layer probes). The self
times of all spans add up to the root's duration; the self time of the root
and the phase spans is the wall time that no layer span covers.
"""

from __future__ import annotations

import contextlib
import glob
import json
import os
import re
import statistics
import time
from collections import defaultdict
from dataclasses import dataclass, field

PHASE = "phase."
LOOP = "phase.loop"
PHASE_ORDER = (LOOP, "phase.setup", "phase.checks", "phase.probe")


@dataclass
class Span:
    sid: int
    name: str
    parent: int | None
    start: float
    end: float = 0.0
    attrs: dict = field(default_factory=dict)

    @property
    def group(self) -> str:
        return f"span-{self.sid}"


class Tracer:
    """Span recorder. Disabled, ``span`` yields None and records nothing."""

    def __init__(self, spark_context, enabled: bool):
        self.sc = spark_context
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[Span] = []

    @contextlib.contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield None
            return
        parent = self._stack[-1] if self._stack else None
        s = Span(len(self.spans), name, parent.sid if parent else None, time.perf_counter())
        self.spans.append(s)
        self._stack.append(s)
        self.sc.setJobGroup(s.group, name)
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            self._stack.pop()
            if self._stack:
                self.sc.setJobGroup(self._stack[-1].group, self._stack[-1].name)
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)

    def open_stage(self, name: str) -> None:
        """Open a span that ``close_stage`` ends: for engine callbacks that
        announce a stage start but not its end."""
        if self.enabled:
            cm = self.span(name)
            cm.__enter__()
            self._stack[-1].attrs["_cm"] = cm

    def close_stage(self) -> None:
        if self.enabled and self._stack and "_cm" in self._stack[-1].attrs:
            self._stack[-1].attrs.pop("_cm").__exit__(None, None, None)


def _covered(intervals: list[tuple[float, float]]) -> float:
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_times(spans: list[Span]) -> dict[int, float]:
    children: dict[int, list[Span]] = defaultdict(list)
    for s in spans:
        if s.parent is not None:
            children[s.parent].append(s)
    return {
        s.sid: (s.end - s.start) - _covered([(c.start, c.end) for c in children[s.sid]])
        for s in spans
    }


@dataclass
class TaskTotals:
    tasks: int = 0
    run_ms: float = 0.0
    gc_ms: float = 0.0
    sched_delay_ms: float = 0.0
    shuffle_write_b: int = 0
    spill_b: int = 0
    input_b: int = 0


def read_event_log(log_dir: str) -> tuple[dict[str, TaskTotals], dict[str, set]]:
    """Per job group: task totals and the set of job ids, from the local
    Spark event log (complete only after the session stopped)."""
    # Spark 4 rolls event logs by default: eventlog_v2_<app>/events_<n>_<app>
    files = sorted(
        (f for f in glob.glob(os.path.join(log_dir, "**", "*"), recursive=True) if os.path.isfile(f)),
        key=lambda f: [int(t) if t.isdigit() else t for t in re.split(r"(\d+)", f)],
    )
    if not files:
        raise FileNotFoundError(f"no Spark event log under {log_dir}")
    stage_group: dict[int, str] = {}
    jobs: dict[str, set] = defaultdict(set)
    totals: dict[str, TaskTotals] = defaultdict(TaskTotals)
    for path in files:
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    group = (ev.get("Properties") or {}).get("spark.jobGroup.id") or ""
                    jobs[group].add(ev["Job ID"])
                    for sid in ev.get("Stage IDs", []):
                        stage_group.setdefault(sid, group)
                elif kind == "SparkListenerTaskEnd":
                    info, m = ev.get("Task Info") or {}, ev.get("Task Metrics") or {}
                    t = totals[stage_group.get(ev.get("Stage ID"), "")]
                    t.tasks += 1
                    run = m.get("Executor Run Time", 0)
                    t.run_ms += run
                    t.gc_ms += m.get("JVM GC Time", 0)
                    dur = info.get("Finish Time", 0) - info.get("Launch Time", 0)
                    t.sched_delay_ms += max(
                        0,
                        dur
                        - run
                        - m.get("Executor Deserialize Time", 0)
                        - m.get("Result Serialization Time", 0)
                        - info.get("Getting Result Time", 0),
                    )
                    t.shuffle_write_b += (m.get("Shuffle Write Metrics") or {}).get(
                        "Shuffle Bytes Written", 0
                    )
                    t.spill_b += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
                    t.input_b += (m.get("Input Metrics") or {}).get("Bytes Read", 0)
    return totals, jobs


def _phases(spans: list[Span]) -> dict[int, str]:
    """Each span's nearest enclosing phase span ("phase.*"), or ""."""
    by_id = {s.sid: s for s in spans}
    out = {}
    for s in spans:
        p, phase = s.parent, ""
        while p is not None:
            if by_id[p].name.startswith(PHASE):
                phase = by_id[p].name
                break
            p = by_id[p].parent
        out[s.sid] = phase
    return out


def layer_report(spans: list[Span], log_dir: str, loop_ops: int) -> tuple[dict, dict]:
    """Per-layer figures and Spark totals for one traced run.

    A layer's figures are medians over its calls (means for span attributes),
    taken from the first phase in ``PHASE_ORDER`` that called it: the measured
    loop if the layer runs there, else set-up, the answer checks or the layer
    probes. Spark totals are per loop operation. The additivity check compares
    the layer self times plus the time no layer covers with the run's wall."""
    totals, jobs = read_event_log(log_dir)
    selft = self_times(spans)
    phase = _phases(spans)
    by_name: dict[str, dict[str, list[Span]]] = defaultdict(lambda: defaultdict(list))
    for s in spans:
        if s.parent is not None and not s.name.startswith(PHASE):
            by_name[s.name][phase[s.sid]].append(s)

    def med(values) -> float:
        values = list(values)
        return float(statistics.median(values)) if values else 0.0

    layers = {}
    for name, per_phase in by_name.items():
        chosen = next(p for p in PHASE_ORDER + ("",) if p in per_phase)
        ss = per_phase[chosen]
        tt = [totals.get(s.group, TaskTotals()) for s in ss]
        keys = {k for s in ss for k in s.attrs if not k.startswith("_")}
        layers[name] = {
            "phase": chosen,
            "calls": len(ss),
            "self_s": med(selft[s.sid] for s in ss),
            "wall_s": med(s.end - s.start for s in ss),
            "jobs": med(len(jobs.get(s.group, ())) for s in ss),
            "tasks": med(t.tasks for t in tt),
            "task_s": med(t.run_ms / 1e3 for t in tt),
            "gc_ms": med(t.gc_ms for t in tt),
            "shuffle_write_mb": med(t.shuffle_write_b / 1e6 for t in tt),
            "spill_mb": med(t.spill_b / 1e6 for t in tt),
            "input_mb": med(t.input_b / 1e6 for t in tt),
            "attrs": {
                k: statistics.fmean(float(s.attrs[k]) for s in ss if k in s.attrs)
                for k in sorted(keys)
            },
        }

    loop = [totals.get(s.group, TaskTotals()) for s in spans if phase[s.sid] == LOOP or s.name == LOOP]
    root = next(s for s in spans if s.parent is None)
    wall = root.end - root.start
    unattributed = sum(v for sid, v in selft.items() if spans[sid].parent is None or spans[sid].name.startswith(PHASE))
    layer_self = sum(v for sid, v in selft.items()) - unattributed
    per_op = 1.0 / max(1, loop_ops)
    spark = {
        "task_s": sum(t.run_ms for t in loop) / 1e3 * per_op,
        "gc_ms": sum(t.gc_ms for t in loop) * per_op,
        "sched_delay_ms": sum(t.sched_delay_ms for t in loop) * per_op,
        "spill_mb": sum(t.spill_b for t in loop) / 1e6 * per_op,
        "unattributed_s": unattributed,
        "wall_s": wall,
        "layer_self_s": layer_self,
        "additivity_err_pct": 100.0 * (layer_self + unattributed - wall) / wall,
        "jobs_outside_spans": len(jobs.get("", ())),
    }
    return layers, spark

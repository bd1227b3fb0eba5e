"""Per-span layer metrics from a Spark event log.

The benchmark records spans in memory (``spans.Tracer``): each span instance
has a name, a Spark job group that was set while it was open, a start, an end
and the index of its parent span. Spark's event log (``spark.eventLog.enabled``)
records every job, stage and task with the job group it ran under. This module
joins the two:

- jobs      : ``SparkListenerJobStart`` events of the span's job group;
- task_s    : sum of ``Executor Run Time`` of the span's tasks (busy time);
- driver_s  : the span's self time during which none of its tasks ran --
              planning, driver-side numpy, collects and gaps between jobs;
- shuffle_bytes, spill_bytes, gc_s : task metric sums.

A span's self time is its wall time minus the time its child spans cover;
every metric here is a self metric, so nested spans never count twice.
Instances of one span name are summed.
"""

from __future__ import annotations

import json
from collections import defaultdict
from collections.abc import Iterable, Iterator
from dataclasses import dataclass, field
from pathlib import Path

GROUP_KEY = "spark.jobGroup.id"

Interval = tuple[float, float]


@dataclass
class Span:
    name: str
    group: str
    start: float  # epoch seconds
    end: float
    parent: int | None = None


@dataclass
class _GroupTotals:
    jobs: int = 0
    task_s: float = 0.0
    shuffle_bytes: int = 0
    spill_bytes: int = 0
    gc_s: float = 0.0
    tasks: list[Interval] = field(default_factory=list)


def _roll_index(name: str) -> int:
    """n of a rolling log file ``events_<n>_<app id>``; 0 for other names."""
    parts = name.split("_")
    return int(parts[1]) if parts[0] == "events" and parts[1:2] and parts[1].isdigit() else 0


def read_events(path: str | Path) -> Iterator[dict]:
    """Yield the JSON events of an event-log file, or of every log under a dir.

    Spark 4 writes a rolling log by default: a directory of ``events_<n>_*``
    files next to an ``appstatus`` marker, which holds no events.
    """
    path = Path(path)
    files = [path] if path.is_file() else sorted(
        (p for p in path.rglob("*")
         if p.is_file() and not p.name.startswith((".", "appstatus"))),
        key=lambda p: (p.parent, _roll_index(p.name), p.name))
    for f in files:
        with open(f, encoding="utf-8") as fh:
            for line in fh:
                if line.strip():
                    yield json.loads(line)


def _merge(intervals: Iterable[Interval]) -> list[Interval]:
    out: list[list[float]] = []
    for s, e in sorted(intervals):
        if e <= s:
            continue
        if out and s <= out[-1][1]:
            out[-1][1] = max(out[-1][1], e)
        else:
            out.append([s, e])
    return [(s, e) for s, e in out]


def _length(intervals: Iterable[Interval]) -> float:
    return sum(e - s for s, e in intervals)


def _subtract(base: list[Interval], cut: list[Interval]) -> list[Interval]:
    """Parts of the merged intervals ``base`` not covered by merged ``cut``."""
    out: list[Interval] = []
    for s, e in base:
        cur = s
        for cs, ce in cut:
            if ce <= cur or cs >= e:
                continue
            if cs > cur:
                out.append((cur, cs))
            cur = max(cur, ce)
        if cur < e:
            out.append((cur, e))
    return out


def _intersect(a: list[Interval], b: list[Interval]) -> list[Interval]:
    out: list[Interval] = []
    for s1, e1 in a:
        for s2, e2 in b:
            s, e = max(s1, s2), min(e1, e2)
            if s < e:
                out.append((s, e))
    return _merge(out)


def group_totals(events: Iterable[dict]) -> dict[str, _GroupTotals]:
    """Aggregate jobs and task metrics by the job group they ran under."""
    stage_group: dict[int, str | None] = {}
    totals: dict[str, _GroupTotals] = defaultdict(_GroupTotals)
    for ev in events:
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            group = (ev.get("Properties") or {}).get(GROUP_KEY)
            if group is not None:
                totals[group].jobs += 1
        elif kind == "SparkListenerStageSubmitted":
            sid = ev["Stage Info"]["Stage ID"]
            stage_group[sid] = (ev.get("Properties") or {}).get(GROUP_KEY)
        elif kind == "SparkListenerTaskEnd":
            group = stage_group.get(ev["Stage ID"])
            if group is None:
                continue
            g = totals[group]
            info = ev.get("Task Info") or {}
            if info.get("Launch Time") and info.get("Finish Time"):
                g.tasks.append((info["Launch Time"] / 1000.0, info["Finish Time"] / 1000.0))
            m = ev.get("Task Metrics") or {}
            g.task_s += m.get("Executor Run Time", 0) / 1000.0
            g.gc_s += m.get("JVM GC Time", 0) / 1000.0
            g.spill_bytes += m.get("Disk Bytes Spilled", 0)
            g.shuffle_bytes += (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
    return totals


def span_metrics(events: Iterable[dict], spans: list[Span]) -> dict[str, dict[str, float]]:
    """-> {span name: {wall_s, task_s, driver_s, shuffle_bytes, spill_bytes, gc_s, jobs}}."""
    totals = group_totals(events)
    children: dict[int, list[Interval]] = defaultdict(list)
    for sp in spans:
        if sp.parent is not None:
            children[sp.parent].append((sp.start, sp.end))
    out: dict[str, dict[str, float]] = {}
    for i, sp in enumerate(spans):
        own = _subtract([(sp.start, sp.end)], _merge(children[i]))
        g = totals.get(sp.group, _GroupTotals())
        busy = _length(_intersect(own, _merge(g.tasks)))
        wall = _length(own)
        m = out.setdefault(sp.name, dict.fromkeys(
            ("wall_s", "task_s", "driver_s", "shuffle_bytes", "spill_bytes", "gc_s", "jobs"), 0))
        m["wall_s"] += wall
        m["driver_s"] += wall - busy
        m["task_s"] += g.task_s
        m["shuffle_bytes"] += g.shuffle_bytes
        m["spill_bytes"] += g.spill_bytes
        m["gc_s"] += g.gc_s
        m["jobs"] += g.jobs
    return out

"""The event-log parser on a tiny hand-written Spark event log.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import sys
from pathlib import Path

import pytest

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

import eventlog  # noqa: E402
from eventlog import Span  # noqa: E402

T0 = 1_000_000.0  # epoch seconds of the first span


def job(job_id: int, group: str | None) -> dict:
    props = {"spark.jobGroup.id": group} if group else {}
    return {"Event": "SparkListenerJobStart", "Job ID": job_id, "Properties": props}


def stage(stage_id: int, group: str | None) -> dict:
    props = {"spark.jobGroup.id": group} if group else {}
    return {"Event": "SparkListenerStageSubmitted", "Stage Info": {"Stage ID": stage_id},
            "Properties": props}


def task(stage_id: int, start: float, end: float, run_ms: int, shuffle: int = 0,
         spill: int = 0, gc_ms: int = 0) -> dict:
    return {
        "Event": "SparkListenerTaskEnd", "Stage ID": stage_id,
        "Task Info": {"Launch Time": int((T0 + start) * 1000),
                      "Finish Time": int((T0 + end) * 1000)},
        "Task Metrics": {"Executor Run Time": run_ms, "JVM GC Time": gc_ms,
                         "Disk Bytes Spilled": spill,
                         "Shuffle Write Metrics": {"Shuffle Bytes Written": shuffle}},
    }


EVENTS = [
    {"Event": "SparkListenerApplicationStart"},
    job(0, "block#0"), stage(0, "block#0"),
    task(0, 1.0, 3.0, 1800, shuffle=100, gc_ms=50),
    task(0, 2.0, 3.5, 1400, shuffle=50, spill=7),
    job(1, "checkpoint#1"), stage(1, "checkpoint#1"),
    task(1, 4.5, 5.5, 900),
    job(2, "block#0"), stage(2, "block#0"),
    task(2, 7.0, 8.0, 1000, shuffle=25),
    job(3, None), stage(3, None),
    task(3, 8.0, 9.0, 1000, shuffle=999),  # no span: counted nowhere
    job(4, "block#2"), stage(4, "block#2"),
    task(4, 11.0, 11.5, 500),
]

SPANS = [
    Span("block", "block#0", T0, T0 + 10.0),
    Span("checkpoint", "checkpoint#1", T0 + 4.0, T0 + 6.0, parent=0),
    Span("block", "block#2", T0 + 10.0, T0 + 12.0),
]


def test_span_metrics_self_time_and_totals():
    m = eventlog.span_metrics(EVENTS, SPANS)
    ck = m["checkpoint"]
    assert ck["wall_s"] == pytest.approx(2.0)
    assert ck["driver_s"] == pytest.approx(1.0)  # task 4.5-5.5 inside 4-6
    assert (ck["jobs"], ck["task_s"], ck["shuffle_bytes"]) == (1, 0.9, 0)

    blk = m["block"]  # two instances, summed; the child's 4-6 is not block's
    assert blk["wall_s"] == pytest.approx(8.0 + 2.0)
    # busy: 1-3.5 and 7-8 in the first instance, 11-11.5 in the second
    assert blk["driver_s"] == pytest.approx(10.0 - 2.5 - 1.0 - 0.5)
    assert blk["jobs"] == 3
    assert blk["task_s"] == pytest.approx(1.8 + 1.4 + 1.0 + 0.5)
    assert blk["shuffle_bytes"] == 175
    assert blk["spill_bytes"] == 7
    assert blk["gc_s"] == pytest.approx(0.05)


def test_task_outside_its_span_is_not_busy_time():
    late = [job(0, "g#0"), stage(0, "g#0"), task(0, 5.0, 7.0, 2000)]
    m = eventlog.span_metrics(late, [Span("g", "g#0", T0, T0 + 6.0)])["g"]
    assert m["driver_s"] == pytest.approx(5.0)
    assert m["task_s"] == pytest.approx(2.0)


def test_read_events_from_rolling_log_dir(tmp_path):
    d = tmp_path / "eventlog_v2_local-1"
    d.mkdir()
    lines = [json.dumps(e) for e in EVENTS]
    # read in roll order: events_10 after events_2
    (d / "events_1_local-1").write_text("\n".join(lines[:6]) + "\n")
    (d / "events_2_local-1").write_text("\n".join(lines[6:12]) + "\n")
    (d / "events_10_local-1").write_text("\n".join(lines[12:]) + "\n")
    (d / "appstatus_local-1").write_text("")
    assert list(eventlog.read_events(tmp_path)) == EVENTS
    assert eventlog.span_metrics(eventlog.read_events(tmp_path), SPANS) == \
        eventlog.span_metrics(EVENTS, SPANS)

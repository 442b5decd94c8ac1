"""Unit tests for the event-log reader, on a small hand-written log.

    python3 -m pytest benchmark/test_harness.py -q
"""

from __future__ import annotations

import json

import pytest

from benchmark import harness


def _task(stage, run_ms, gc_ms=0, read=0, written=0, spilled=0):
    return {
        "Event": "SparkListenerTaskEnd",
        "Stage ID": stage,
        "Task Info": {"Launch Time": 0, "Finish Time": run_ms},
        "Task Metrics": {
            "Executor Run Time": run_ms,
            "JVM GC Time": gc_ms,
            "Memory Bytes Spilled": spilled,
            "Disk Bytes Spilled": 0,
            "Shuffle Read Metrics": {"Remote Bytes Read": 0, "Local Bytes Read": read},
            "Shuffle Write Metrics": {"Shuffle Bytes Written": written},
        },
    }


def _job(jid, start_ms, end_ms, stages, tags):
    return [
        {"Event": "SparkListenerJobStart", "Job ID": jid, "Submission Time": start_ms,
         "Stage IDs": stages, "Properties": {"spark.job.tags": ",".join(tags)}},
        {"Event": "SparkListenerJobEnd", "Job ID": jid, "Completion Time": end_ms},
    ]


@pytest.fixture
def log(tmp_path):
    mb = 1024 * 1024
    events = [{"Event": "SparkListenerApplicationStart"}]
    # span 1 (10.0 s .. 14.0 s) holds jobs 0 and 1, which overlap
    # (a broadcast job inside its parent): the busy union is 10.5..12.5
    events += _job(0, 10_500, 12_500, [0, 1], ["nxgb-0", "nxgb-1"])
    events += _job(1, 11_000, 12_000, [2], ["nxgb-0", "nxgb-1"])
    # span 2 (20.0 .. 21.0) reuses stage 1 (skipped there) and runs stage 3
    events += _job(2, 20_200, 20_700, [1, 3], ["nxgb-0", "nxgb-2"])
    events += [
        _task(0, 100, gc_ms=10, written=2 * mb),
        _task(0, 300, read=mb),
        _task(1, 200, spilled=mb),
        _task(2, 1200),
        _task(3, 50, read=3 * mb),
    ]
    path = tmp_path / "app-1"
    path.write_text("\n".join(json.dumps(e) for e in events) + "\n")
    return str(path)


def _spans():
    return [
        harness.Span(0, "pass", None, 10.0, 21.0),
        harness.Span(1, "kernels.pagerank", 0, 10.0, 14.0),
        harness.Span(2, "kernels.triangles", 0, 20.0, 21.0),
    ]


def test_reader_maps_stages_to_first_job(log):
    jobs, tasks, stage_job = harness.read_event_log(log)
    assert sorted(jobs) == [0, 1, 2]
    assert jobs[1].tags == frozenset({"nxgb-0", "nxgb-1"})
    assert (jobs[0].start, jobs[0].end) == (10.5, 12.5)
    assert stage_job == {0: 0, 1: 0, 2: 1, 3: 2}
    assert len(tasks) == 5


def test_span_counters(log):
    c = harness.all_span_counters(_spans(), log)
    pr = c[1]
    assert pr["jobs"] == 2 and pr["tasks"] == 4
    assert pr["exec_run_s"] == pytest.approx(1.8)
    assert pr["gc_s"] == pytest.approx(0.01)
    assert pr["shuffle_read_mb"] == pytest.approx(1.0)
    assert pr["shuffle_write_mb"] == pytest.approx(2.0)
    assert pr["spill_mb"] == pytest.approx(1.0)
    # union of [10.5, 12.5] and [11, 12] is 2 s of a 4 s span; a sum of
    # job durations would give 1 s
    assert pr["driver_gap_s"] == pytest.approx(2.0)
    # run times 100, 300, 200, 1200 ms: max 1.2 s over median 0.25 s
    assert pr["task_skew"] == pytest.approx(4.8)

    tri = c[2]
    assert (tri["jobs"], tri["tasks"]) == (1, 1)
    assert tri["shuffle_read_mb"] == pytest.approx(3.0)
    assert tri["driver_gap_s"] == pytest.approx(0.5)
    assert tri["task_skew"] == pytest.approx(1.0)

    # the parent span carries every job through the nested tags
    assert c[0]["jobs"] == 3 and c[0]["tasks"] == 5
    assert c[0]["driver_gap_s"] == pytest.approx(11.0 - 2.0 - 0.5)


def test_union_length():
    assert harness.union_length([]) == 0.0
    assert harness.union_length([(0, 1), (2, 3)]) == 2.0
    assert harness.union_length([(0, 2), (1, 3), (2.5, 2.7)]) == 3.0

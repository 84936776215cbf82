"""Tests of the benchmark's own arithmetic (no Spark needed):

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import json

import pytest

from perfbench import stats


# ---------------------------------------------------------------- percentiles


def test_tail_percentile_needs_ten_samples_beyond():
    # p90 of 100 samples has exactly 10 beyond it: reported
    assert stats.tail_percentile(range(1, 101)) == (0.9, 90)
    # 99 samples leave only 9 beyond the p90: nothing qualifies
    assert stats.tail_percentile(range(1, 100)) is None
    # 200 samples: p95 has 10 beyond, p99 only 2 -> p95 is the highest
    assert stats.tail_percentile(range(1, 201)) == (0.95, 190)
    # 1000 samples qualify p99
    assert stats.tail_percentile(range(1, 1001)) == (0.99, 990)


def test_tail_percentile_never_from_a_handful():
    assert stats.tail_percentile([]) is None
    assert stats.tail_percentile([5.0] * 19) is None


def test_beyond_counts_samples_above_nearest_rank():
    assert stats.beyond(100, 0.9) == 10
    assert stats.beyond(20, 0.5) == 10
    assert stats.beyond(19, 0.5) == 9
    assert stats.beyond(1, 0.5) == 0


# ------------------------------------------------------------------ self time


def test_self_time_subtracts_children():
    assert stats.self_time((0.0, 10.0), [(1.0, 3.0), (5.0, 6.0)]) == pytest.approx(7.0)


def test_self_time_counts_overlapping_children_once_and_clips():
    children = [(1.0, 4.0), (3.0, 5.0), (9.0, 12.0), (-2.0, 0.5)]
    # covered: [1,5] -> 4, [9,10] -> 1, [0,0.5] -> 0.5
    assert stats.self_time((0.0, 10.0), children) == pytest.approx(4.5)


def test_self_time_without_children_is_duration():
    assert stats.self_time((2.0, 2.5), []) == pytest.approx(0.5)


# ---------------------------------------------------------------- tracing cost


def test_overhead_is_traced_minus_untraced_medians():
    assert stats.overhead([100, 110, 90], [130, 120, 125]) == pytest.approx(25)
    assert stats.overhead([10.0], [9.0]) == pytest.approx(-1.0)


# ------------------------------------------------------------------ event log


def _task(stage, run_ms, gc_ms=0, sread=0, swrite=0, spill=0, rows=0):
    return {
        "Event": "SparkListenerTaskEnd",
        "Stage ID": stage,
        "Task Metrics": {
            "Executor Run Time": run_ms,
            "JVM GC Time": gc_ms,
            "Memory Bytes Spilled": spill,
            "Disk Bytes Spilled": 0,
            "Shuffle Read Metrics": {"Remote Bytes Read": 0, "Local Bytes Read": sread},
            "Shuffle Write Metrics": {"Shuffle Bytes Written": swrite},
            "Input Metrics": {"Records Read": rows},
            "Output Metrics": {"Records Written": 0},
        },
    }


def _job(jid, stages, start_ms, end_ms, group=None):
    props = {"spark.jobGroup.id": group} if group else {}
    return [
        {"Event": "SparkListenerJobStart", "Job ID": jid, "Submission Time": start_ms,
         "Stage IDs": stages, "Properties": props},
        {"Event": "SparkListenerJobEnd", "Job ID": jid, "Completion Time": end_ms},
    ]


def _stage(sid, name="collect at x.py", rdds=("MapPartitionsRDD",)):
    return {"Event": "SparkListenerStageCompleted",
            "Stage Info": {"Stage ID": sid, "Stage Name": name,
                           "RDD Info": [{"Name": r} for r in rdds], "Accumulables": []}}


TINY_LOG = [
    {"Event": "SparkListenerLogStart", "Spark Version": "4.1.2"},
    # job 0: tagged with span 0's group; two stages, one of them skipped
    *_job(0, [0, 1], 1_000_000, 1_002_000, group="pb0"),
    _stage(0), _task(0, 700, gc_ms=50, swrite=300), _task(0, 500, swrite=200),
    # job 1: tagged with the child span's group
    *_job(1, [2], 1_003_000, 1_004_000, group="pb1"),
    _stage(2, rdds=("FileScanRDD",)), _task(2, 400, sread=500, spill=64, rows=7),
    # job 2: untagged (a streaming micro-batch): attributed by time to span 1
    *_job(2, [3], 1_004_500, 1_005_000, group="0b3e-run-id"),
    _stage(3), _task(3, 100),
]

SPANS = [
    {"id": 0, "name": "op", "parent": None, "depth": 0, "start": 999.5, "end": 1006.0},
    {"id": 1, "name": "sink.append", "parent": 0, "depth": 1, "start": 1002.5, "end": 1005.5},
]


def _lines(events):
    return [json.dumps(e) for e in events] + ['{"Event": "torn']


def test_event_log_folds_into_span_counters():
    log = stats.EventLog(stats.read_events(_lines(TINY_LOG)))
    c = stats.span_counters(log, SPANS)

    child = c[1]
    assert child["job_ids"] == [1, 2]
    assert child["jobs"] == 2 and child["stages"] == 2 and child["tasks"] == 2
    assert child["executor_run_s"] == pytest.approx(0.5)
    assert child["shuffle_read_bytes"] == 500 and child["spill_bytes"] == 64

    parent = c[0]  # its own job plus its child's
    assert parent["jobs"] == 3
    assert parent["stages"] == 3  # stage 1 was skipped: no tasks ran
    assert parent["tasks"] == 4
    assert parent["executor_run_s"] == pytest.approx(1.7)
    assert parent["gc_s"] == pytest.approx(0.05)
    assert parent["shuffle_write_bytes"] == 500

    # driver gap: wall minus the union of time inside its jobs
    assert parent["wall_s"] == pytest.approx(6.5)
    assert parent["driver_gap_s"] == pytest.approx(6.5 - (2.0 + 1.0 + 0.5))
    assert child["driver_gap_s"] == pytest.approx(3.0 - 1.5)
    assert parent["self_s"] == pytest.approx(6.5 - 3.0)


def test_event_log_keeps_records_read_per_task():
    log = stats.EventLog(stats.read_events(_lines(TINY_LOG)))
    assert [t["records_read"] for t in log.stage_tasks[2]] == [7]


def test_job_outside_every_span_is_unassigned():
    events = _job(7, [9], 5_000_000, 5_001_000)
    log = stats.EventLog(stats.read_events(_lines(events)))
    owned = stats.assign_jobs(log, SPANS)
    assert owned == {0: [], 1: []}

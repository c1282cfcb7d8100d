"""The benchmark's own span and event-log arithmetic."""

import json

import pytest

from tracing import (
    GROUP_PREFIX,
    MIN_BEYOND,
    Span,
    attribute_jobs,
    percentile,
    read_event_log,
    self_time,
    span_receipts,
    union_length,
)


def _spans():
    # pass0 [0, 10] holds a [1, 4] and b [3, 8]; b holds c [5, 6]
    return [
        Span(0, "pass0", 0.0, 10.0, None, "r"),
        Span(1, "a", 1.0, 4.0, 0, "r"),
        Span(2, "b", 3.0, 8.0, 0, "r"),
        Span(3, "c", 5.0, 6.0, 2, "r"),
    ]


def test_union_length_merges_overlaps_and_clips():
    assert union_length([(1, 4), (3, 8), (9, 9.5)]) == pytest.approx(7.5)
    assert union_length([(1, 4), (3, 8)], lo=2, hi=5) == pytest.approx(3.0)
    assert union_length([]) == 0.0


def test_self_time_subtracts_union_of_children():
    spans = _spans()
    # children a and b overlap on [3, 4]: their union covers 7 of 10 s
    assert self_time(spans[0], spans) == pytest.approx(3.0)
    assert self_time(spans[2], spans) == pytest.approx(4.0)
    assert self_time(spans[3], spans) == pytest.approx(1.0)


def test_jobs_attributed_by_group_then_innermost_open_span():
    spans = _spans()
    jobs = [
        {"job_id": 1, "submit": 5.5, "group": f"{GROUP_PREFIX}1"},  # group wins
        {"job_id": 2, "submit": 5.5, "group": None},  # inside c, b and pass0
        {"job_id": 3, "submit": 3.5, "group": None},  # a and b: same depth
        {"job_id": 4, "submit": 9.0, "group": "someone-else"},
        {"job_id": 5, "submit": 11.0, "group": None},  # outside every span
    ]
    got = attribute_jobs(jobs, spans)
    assert got[1] == 1
    assert got[2] == 3
    assert got[3] in (1, 2)
    assert got[4] == 0
    assert 5 not in got


def test_percentile_needs_enough_samples_beyond_it():
    xs = list(range(1, 20))  # 19 samples: the median has 9 beyond it
    assert percentile(xs, 50) is None
    xs = list(range(1, 21))  # 20 samples: the median has 10 beyond it
    assert percentile(xs, 50) == 10
    assert percentile(list(range(99)), 90) is None
    assert percentile(list(range(100)), 90) == 89  # ranks 91..100 lie beyond
    assert MIN_BEYOND == 10
    assert percentile([], 50) is None


def _event(kind, **kw):
    return json.dumps({"Event": kind, **kw})


def test_span_receipts_from_an_event_log(tmp_path):
    spans = [
        Span(0, "pass0", 100.0, 110.0, None, "r"),
        Span(1, "load", 100.0, 104.0, 0, "r"),
    ]
    lines = [
        _event("SparkListenerJobStart", **{"Job ID": 0, "Submission Time": 101000,
               "Stage IDs": [0, 1], "Properties": {"spark.jobGroup.id": f"{GROUP_PREFIX}1"}}),
        _event("SparkListenerJobEnd", **{"Job ID": 0, "Completion Time": 103000}),
        _event("SparkListenerStageCompleted", **{"Stage Info": {
            "Stage ID": 0, "Submission Time": 101000, "Completion Time": 103000}}),
    ]
    for dur in (1000, 1000, 4000):
        lines.append(_event("SparkListenerTaskEnd", **{
            "Stage ID": 0,
            "Task Info": {"Launch Time": 101000, "Finish Time": 101000 + dur,
                          "Accumulables": [{"Name": "time to run Python workers", "Update": "500"}]},
            "Task Metrics": {"Executor CPU Time": 2 * 10**9,
                             "Shuffle Write Metrics": {"Shuffle Bytes Written": 10},
                             "Input Metrics": {"Records Read": 7}},
        }))
    path = tmp_path / "events"
    path.write_text("\n".join(lines) + "\n")
    rec = span_receipts(spans, read_event_log([str(path)]))
    assert set(rec) == {1}  # the pass span is only a container
    r = rec[1]
    assert r["wall_s"] == pytest.approx(4.0)
    assert r["driver_s"] == pytest.approx(2.0)  # the job covers 2 of 4 s
    assert r["jobs"] == 1
    assert r["stages"] == 1  # stage 1 never ran (skipped)
    assert r["exec_cpu_s"] == pytest.approx(6.0)
    assert r["python_s"] == pytest.approx(1.5)
    assert r["shuffle_bytes"] == 30
    assert r["task_skew"] == pytest.approx(4.0)
    assert r["records_read"] == 21

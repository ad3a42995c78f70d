"""Unit tests for the benchmark's pure helpers (no Spark needed).

    python3 -m pytest perfbench/tests -q
"""

import json
import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import spans  # noqa: E402
import stats  # noqa: E402


def test_percentile_interpolates_between_ranks():
    xs = [4.0, 1.0, 3.0, 2.0]
    assert stats.percentile(xs, 0.0) == 1.0
    assert stats.percentile(xs, 0.5) == 2.5
    assert stats.percentile(xs, 1.0) == 4.0
    assert stats.percentile([7.0], 0.9) == 7.0
    with pytest.raises(ValueError):
        stats.percentile([], 0.5)


@pytest.mark.parametrize("n,p,ok", [
    (1, 0.5, True),      # the median is always reported
    (99, 0.9, False),    # 9.9 samples beyond p90: too few
    (100, 0.9, True),    # exactly 10 beyond
    (999, 0.99, False),
    (1000, 0.99, True),
])
def test_percentile_needs_ten_samples_beyond_it(n, p, ok):
    assert stats.supported(n, p) is ok


def test_summary_reports_sample_count_and_support():
    s = stats.summary([float(i) for i in range(20)])
    assert s["n"] == 20
    assert s["p50"] == 9.5
    assert s["supported"] == {"p50": True, "p90": False}
    assert stats.summary([]) == {"n": 0}


def _span(sid, start, end, parent=None, name="s"):
    return spans.Span(sid, name, start, end, parent, "run")


def test_self_time_subtracts_union_of_children():
    parent = _span(0, 0.0, 10.0)
    kids = [_span(1, 1.0, 3.0, 0), _span(2, 2.0, 5.0, 0),
            _span(3, 8.0, 12.0, 0), _span(4, 1.5, 2.5, 1)]  # 4 is a grandchild
    # children cover [1, 5] and [8, 10] of the parent: 6 s
    assert spans.self_time(parent, [parent] + kids) == pytest.approx(4.0)
    assert spans.self_time(kids[0], [parent] + kids) == pytest.approx(1.0)
    assert spans.self_time(kids[2], [parent] + kids) == pytest.approx(4.0)


def test_idle_time_is_wall_with_no_task_running():
    tasks = [(1.0, 2.0), (1.5, 3.0), (6.0, 7.0), (20.0, 21.0)]
    assert spans.idle_time(0.0, 10.0, tasks) == pytest.approx(7.0)
    assert spans.idle_time(0.0, 10.0, []) == pytest.approx(10.0)


class _FakeContext:
    def __init__(self):
        self.groups = []

    def setJobGroup(self, group, description):
        self.groups.append(group)


def test_tracer_nests_spans_and_restores_the_parent_job_group():
    sc = _FakeContext()
    tr = spans.Tracer("run-1", sc)
    with tr.span("pipeline"):
        with tr.span("parse"):
            pass
        with tr.span("route"):
            pass
    (pipe,) = tr.named("pipeline")
    assert pipe.parent is None
    assert {s.parent for s in tr.named("parse") + tr.named("route")} == {pipe.id}
    assert sc.groups == ["pipeline", "parse", "pipeline", "route", "pipeline"]
    assert all(s.run_id == "run-1" for s in tr.spans)


def _job(job_id, stages, group, submit_ms):
    props = {} if group is None else {"spark.jobGroup.id": group}
    return {"Event": "SparkListenerJobStart", "Job ID": job_id,
            "Stage IDs": stages, "Properties": props,
            "Submission Time": submit_ms}


def _task(stage, launch_ms, finish_ms, cpu_ns=0, run_ms=0, gc_ms=0,
          shuffle_b=0, read_b=0, read_rows=0):
    return {"Event": "SparkListenerTaskEnd", "Stage ID": stage,
            "Task Info": {"Launch Time": launch_ms, "Finish Time": finish_ms},
            "Task Metrics": {
                "Executor Run Time": run_ms, "Executor CPU Time": cpu_ns,
                "JVM GC Time": gc_ms, "Memory Bytes Spilled": 1,
                "Disk Bytes Spilled": 2,
                "Shuffle Write Metrics": {"Shuffle Bytes Written": shuffle_b},
                "Input Metrics": {"Bytes Read": read_b,
                                  "Records Read": read_rows},
            }}


def test_fold_groups_task_metrics_by_job_group():
    events = [
        _job(0, [0, 1], "parse", 1000),
        _job(1, [1, 2], "route", 2000),  # stage 1 stays with its first job
        _job(2, [3], None, 3000),
        _task(0, 1000, 1500, cpu_ns=2 * 10**9, run_ms=400, gc_ms=50,
              read_b=100, read_rows=10),
        _task(1, 1100, 1900, cpu_ns=10**9, run_ms=700, shuffle_b=64),
        _task(2, 2000, 2500, cpu_ns=5 * 10**8, run_ms=500),
        _task(3, 3000, 3100),
        {"Event": "SparkListenerStageCompleted"},
    ]
    folded = spans.fold_event_log(events)
    parse, route, none = folded["parse"], folded["route"], folded[None]
    assert (parse.jobs, parse.tasks) == (1, 2)
    assert parse.task_cpu_s == pytest.approx(3.0)
    assert parse.task_run_s == pytest.approx(1.1)
    assert parse.gc_s == pytest.approx(0.05)
    assert (parse.shuffle_write_b, parse.input_b, parse.rows_in) == (64, 100, 10)
    assert parse.spill_b == 6
    assert parse.job_starts == [1.0]
    assert sorted(parse.intervals) == [(1.0, 1.5), (1.1, 1.9)]
    assert (route.jobs, route.tasks) == (1, 1)
    assert route.task_cpu_s == pytest.approx(0.5)
    assert (none.jobs, none.tasks) == (1, 1)
    assert len(spans.all_intervals(folded)) == 4
    assert "intervals" not in parse.public()


def test_read_event_log_handles_rolling_and_single_file_layouts(tmp_path):
    rolling = tmp_path / "eventlog_v2_app-1"
    rolling.mkdir()
    # numeric, not lexical, order of the rolled files
    (rolling / "events_10_app-1").write_text(json.dumps({"n": 3}) + "\n")
    (rolling / "events_2_app-1").write_text(json.dumps({"n": 2}) + "\n")
    (rolling / "events_1_app-1").write_text(
        json.dumps({"n": 1}) + "\n\n")
    (rolling / "appstatus_app-1").write_text("")
    (tmp_path / "app-0").write_text(json.dumps({"n": 0}) + "\n")
    (tmp_path / "app-9.inprogress").write_text(json.dumps({"n": 9}) + "\n")
    assert [e["n"] for e in spans.read_event_log(str(tmp_path))] == [0, 1, 2, 3]

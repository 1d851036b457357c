import os

import pytest

from perfbench import eventlog

FIXTURE = os.path.join(os.path.dirname(__file__), "fixtures", "eventlog_small.jsonl")


@pytest.fixture(scope="module")
def log():
    return eventlog.parse(eventlog.read_events(FIXTURE))


def test_jobs_carry_their_group(log):
    assert [(j.job_id, j.group) for j in log.jobs] == [
        (0, "operators.aggregate.term_counts"),
        (1, "sources.catalog.read"),
        (2, None),
    ]
    assert all(j.end >= j.start for j in log.jobs)


def test_tasks_attributed_through_stages(log):
    agg = log.stats(log.in_groups("operators.aggregate"))
    assert (agg.jobs, agg.tasks, agg.failed_tasks) == (1, 4, 0)
    assert agg.shuffle_write_bytes == 312
    assert agg.cpu_s == pytest.approx((211012603 + 77915185 + 53433078 + 77804835) / 1e9)
    assert agg.reduce_stages == {1}
    assert agg.reduce_task_skew() == pytest.approx(0.209 / 0.203)
    read = log.stats(log.in_groups("sources.catalog"))
    assert (read.jobs, read.tasks, read.shuffle_write_bytes) == (1, 3, 118)
    tot = log.total()
    assert (len(log.jobs), tot.tasks) == (3, 9)


def test_started_within(log):
    j1 = log.jobs[1]
    assert log.started_within([(j1.start - 0.001, j1.start + 0.001)]) == [j1]
    assert log.started_within([]) == []


def test_scheduler_delay_and_failed_task():
    events = [
        {"Event": "SparkListenerJobStart", "Job ID": 7, "Submission Time": 1000,
         "Stage IDs": [3], "Properties": {"spark.jobGroup.id": "g"}},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 3,
         "Task End Reason": {"Reason": "ExceptionFailure"},
         "Task Info": {"Launch Time": 1000, "Finish Time": 1500, "Getting Result Time": 20, "Failed": True},
         "Task Metrics": {"Executor Run Time": 300, "Executor Deserialize Time": 50,
                          "Result Serialization Time": 30, "JVM GC Time": 40,
                          "Memory Bytes Spilled": 5, "Disk Bytes Spilled": 6}},
        {"Event": "SparkListenerJobEnd", "Job ID": 7, "Completion Time": 1600,
         "Job Result": {"Result": "JobFailed"}},
    ]
    log = eventlog.parse(events)
    st = log.stats(log.jobs)
    assert st.scheduler_delay_s == pytest.approx((500 - 300 - 50 - 30 - 20) / 1e3)
    assert (st.failed_tasks, st.spill_bytes, st.gc_s) == (1, 11, 0.04)


def test_rolling_log_directory(tmp_path):
    d = tmp_path / "eventlog_v2_local-1"
    d.mkdir()
    lines = open(FIXTURE).read().splitlines(keepends=True)
    (d / "events_2_local-1").write_text("".join(lines[8:]))
    (d / "events_1_local-1").write_text("".join(lines[:8]))
    (d / "appstatus_local-1").write_text("")
    log = eventlog.parse(eventlog.read_events(str(tmp_path)))
    assert len(log.jobs) == 3 and log.total().tasks == 9

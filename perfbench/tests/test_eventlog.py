"""The event-log parser, on a four-job log from a two-core local session:
job group ``q:build`` ran ``spark.range(100).count()`` (2 jobs); group
``q:exec`` wrote a pandas-UDF aggregation to parquet (2 jobs)."""

import os

import pytest

from perfbench import eventlog
from perfbench.layers import _union_s

FIXTURE = os.path.join(os.path.dirname(__file__), "fixtures", "eventlog_small.jsonl")


@pytest.fixture(scope="module")
def jobs():
    return eventlog.parse(eventlog.read_events(FIXTURE))


def test_jobs_and_groups(jobs):
    assert sorted(jobs) == [0, 1, 2, 3]
    assert [jobs[j]["group"] for j in sorted(jobs)] == ["q:build", "q:build", "q:exec", "q:exec"]
    assert all(j["stages"] == 1 for j in jobs.values())
    assert [jobs[j]["tasks"] for j in sorted(jobs)] == [2, 1, 2, 1]


def test_task_metrics(jobs):
    assert jobs[0]["shuffle_write_bytes"] == jobs[1]["shuffle_read_bytes"] == 118
    assert jobs[2]["shuffle_write_bytes"] == jobs[3]["shuffle_read_bytes"] == 384
    assert jobs[0]["task_run_s"] == pytest.approx(0.112)
    assert jobs[0]["gc_s"] == pytest.approx(0.022)
    assert all(j["spill_bytes"] == 0 for j in jobs.values())
    assert jobs[2]["duration_s"] == pytest.approx(1.092)


def test_python_metrics_only_on_the_udf_stage(jobs):
    udf = jobs[2]
    assert udf["python_total_s"] == pytest.approx(1.73)
    assert udf["python_boot_s"] == pytest.approx(1.021)
    assert udf["python_init_s"] == pytest.approx(0.702)
    assert udf["python_bytes_sent"] == 8416
    assert udf["python_bytes_received"] == 8288
    for j in (0, 1, 3):
        assert jobs[j]["python_total_s"] == 0


def test_write_metrics_go_to_the_writing_job(jobs):
    assert jobs[3]["write_files"] == 1
    assert jobs[3]["write_bytes"] == 791
    assert jobs[3]["write_task_s"] == jobs[3]["task_run_s"] > 0
    assert sum(j["write_files"] for j in jobs.values()) == 1


def test_union_of_job_intervals():
    def job(start_ms, dur_s):
        return {"submit_ms": start_ms, "duration_s": dur_s}

    assert _union_s([]) == 0
    assert _union_s([job(0, 1.0), job(500, 1.0)]) == pytest.approx(1.5)
    assert _union_s([job(0, 1.0), job(2000, 0.5)]) == pytest.approx(1.5)
    assert _union_s([job(0, 3.0), job(1000, 0.5)]) == pytest.approx(3.0)

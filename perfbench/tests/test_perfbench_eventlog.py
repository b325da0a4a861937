"""The event-log parser against a log captured from a real ``local[4]``
run (Spark 4.1): a tagged mapInPandas job, a tagged two-job shuffle
aggregation, untagged jobs, an untagged parquet write and a tagged
parquet read. The fixture keeps the events the parser reads, with the
large plan-text and per-task metric fields removed."""

import os

import pytest

from eventlog import parse, read_events
from layers import jobs_by_span_name

FIXTURE = os.path.join(os.path.dirname(__file__), "fixtures", "eventlog_local4.jsonl")


@pytest.fixture(scope="module")
def parsed():
    return parse(read_events(FIXTURE))


def test_jobs_carry_their_descriptions_and_stages(parsed):
    jobs, _ = parsed
    assert len(jobs) == 8
    by_name = jobs_by_span_name(jobs)
    assert {n: len(js) for n, js in by_name.items()} == {
        "search.topk_bruteforce": 1,
        "dedup.incremental_neardup": 2,
        "similarity.ivf_search_partitioned": 2,
    }
    assert sum(1 for j in jobs.values() if j.description is None) == 3
    # the skipped map stage of job 2 is not counted again
    assert [jobs[i].stages for i in range(8)] == [1] * 8


def test_stage_accumulables(parsed):
    jobs, _ = parsed
    assert jobs[0].executor_run_ms == 9316.0
    assert jobs[0].input_records == 4000.0
    assert jobs[1].shuffle_write_bytes == 1544.0
    assert jobs[2].shuffle_read_bytes == 1544.0
    assert jobs[1].spill_bytes == 0.0


def test_tasks(parsed):
    jobs, _ = parsed
    assert [jobs[i].tasks for i in range(8)] == [4, 4, 1, 4, 1, 2, 1, 2]
    assert all(j.failed_tasks == 0 for j in jobs.values())
    for j in jobs.values():
        assert len(j.task_intervals) == j.tasks
        assert all(f >= s for s, f in j.task_intervals)
        assert sum(len(v) for v in j.stage_task_ms.values()) == j.tasks


def test_driver_sql_metrics_by_execution(parsed):
    jobs, sql = parsed
    exec_id = jobs[7].execution_id
    assert sql[exec_id] == {"number of files read": 2.0, "size of files read": 4977.0}

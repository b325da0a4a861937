import pytest

from eventlog import JobStats
from layers import LAYERS, compute, jobs_by_span_name, metric_units
from spans import Span, Tracer, job_tag, parse_job_tag, self_time


def _span(i, name, start, end, parent=None, op=0):
    return Span(i, name, op, parent, start, end)


def test_self_time_subtracts_the_union_of_children():
    op = _span(0, "op", 0.0, 10.0)
    spans = [
        op,
        _span(1, "encode.encode", 1.0, 4.0, parent=0),
        _span(2, "search.topk_bruteforce", 3.0, 5.0, parent=0),  # overlaps span 1
        _span(3, "metrics.evaluate_all", 8.0, 12.0, parent=0),  # runs past the op
        _span(4, "dedup.x", 2.0, 3.0, parent=1),  # grandchild: not op's child
    ]
    assert self_time(op, spans) == pytest.approx(10.0 - 4.0 - 2.0)
    assert self_time(spans[1], spans) == pytest.approx(2.0)
    assert self_time(spans[2], spans) == pytest.approx(2.0)


def test_job_tag_round_trip_and_foreign_descriptions():
    assert parse_job_tag(job_tag("serve", "similarity.ivf_search_partitioned", 7)) == (
        "serve", "similarity.ivf_search_partitioned", 7)
    assert parse_job_tag(job_tag("pipeline", "dedup.write_neardup_index", -1))[2] == -1
    for desc in (None, "", "count at NativeMethodAccessorImpl.java:0",
                 "a:b:c", "w:nolayer:3", "w:x.y:op"):
        assert parse_job_tag(desc) is None


def test_tracer_records_spans_and_tags_jobs_only_when_enabled():
    descs = []
    tr = Tracer("serve", True, descs.append)
    with tr.call("datagen", "generate_documents") as sp:
        sp.items = 5
    with tr.op(0):
        with tr.call("search", "topk_bruteforce", "exact"):
            pass
    names = [(s.name, s.op, s.parent, s.kind) for s in tr.spans]
    assert names == [
        ("datagen.generate_documents", -1, None, ""),
        ("op", 0, None, ""),
        ("search.topk_bruteforce", 0, 1, "exact"),
    ]
    assert descs == ["serve:datagen.generate_documents:-1", None,
                     "serve:search.topk_bruteforce:0", None]
    assert all(s.end >= s.start for s in tr.spans)

    descs.clear()
    off = Tracer("serve", False, descs.append)
    with off.op(0):
        with off.call("search", "topk_bruteforce") as sp:
            pass
    assert off.spans == [] and descs == []
    assert sp.seconds >= 0  # still timed for the untraced report


def test_jobs_join_spans_by_description():
    jobs = {
        0: JobStats(0, "serve:search.topk_bruteforce:3", 0),
        1: JobStats(1, "serve:search.topk_bruteforce:4", 1),
        2: JobStats(2, "serve:similarity.ivf_search_partitioned:5", 2),
        3: JobStats(3, None, 3),
        4: JobStats(4, "collect at run.py:1", 4),
    }
    by_name = jobs_by_span_name(jobs)
    assert sorted(by_name) == ["search.topk_bruteforce", "similarity.ivf_search_partitioned"]
    assert [j.job_id for j in by_name["search.topk_bruteforce"]] == [0, 1]


def test_compute_reports_every_declared_metric():
    jobs = {0: JobStats(0, "serve:search.topk_bruteforce:0", 0, stages=1, tasks=2,
                        executor_run_ms=500.0, stage_task_ms={0: [100, 300]},
                        task_intervals=[(0, 100), (50, 300)])}
    spans = [_span(0, "op", 0.0, 1.0), _span(1, "search.topk_bruteforce", 0.1, 0.9, parent=0)]
    spans[1].kind, spans[1].items = "exact", 1000
    e2e = {"setup_s": 1.0, "op_cpu_ms": 2.0, "items_per_cpu_s": 3.0, "peak_mem_mb": 4.0}
    out = compute(spans, jobs, {}, {}, {"job_floor_ms": 1.0, "cpu_floor_ms": 2.0}, e2e)
    units = metric_units({k: "x" for k in e2e})
    assert set(out) == set(units)
    assert len(units) <= 128
    assert out["search.jobs"] == 1.0
    assert out["search.executor_run_s"] == pytest.approx(0.5)
    assert out["search.task_skew"] == pytest.approx(1.5)
    assert out["search.exact_call_ms"] == pytest.approx(800.0)
    assert out["spark.driver_gap_ms_per_op"] == pytest.approx(1000.0 - 300.0)
    assert out["traced.op_cpu_ms"] == 2.0
    assert all(out[f"{layer}.jobs"] == 0.0 for layer in LAYERS if layer != "search")

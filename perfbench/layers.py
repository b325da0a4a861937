"""Per-layer metrics of a traced run.

A layer is an engine module, named as in the spans (``datagen``,
``encode``, ``parquet_index``, ``search``, ``similarity``,
``manifest_index``, ``metrics``, ``dedup``, ``curation``, ``lexical``)
plus ``session`` (the floor probes). Every layer gets the Spark stage
metrics of the jobs its spans tagged, per call; the layer-specific
metrics come from span times and the workloads' own counts. A layer
the workload does not call reports 0, the prediction for a bypassed
layer; each layer is measured in the traced run of the workload that
calls it.
"""

from __future__ import annotations

from stats import median
from spans import Span, covered, parse_job_tag, self_time

LAYERS = (
    "session", "datagen", "encode", "parquet_index", "search", "similarity",
    "manifest_index", "metrics", "dedup", "curation", "lexical",
)
STAGE_METRICS = (
    ("jobs", "count"),
    ("executor_run_s", "s"),
    ("shuffle_read_bytes", "B"),
    ("shuffle_write_bytes", "B"),
    ("spill_bytes", "B"),
    ("task_skew", "ratio"),
    ("failed_tasks", "count"),
)
SPECIFIC = (
    ("session.job_floor_ms", "ms"),
    ("session.cpu_floor_ms", "ms"),
    ("spark.jobs_per_op", "count"),
    ("spark.driver_gap_ms_per_op", "ms"),
    ("datagen.busy_s", "s"),
    ("datagen.rows_per_s", "1/s"),
    ("encode.busy_s", "s"),
    ("encode.docs_per_s", "1/s"),
    ("parquet_index.write_s", "s"),
    ("parquet_index.bytes_per_vector", "B"),
    ("parquet_index.files_written", "count"),
    ("search.exact_call_ms", "ms"),
    ("search.hybrid_call_ms", "ms"),
    ("search.batch_call_ms", "ms"),
    ("search.docs_scored_per_s", "1/s"),
    ("search.tasks_per_call", "count"),
    ("similarity.train_s", "s"),
    ("similarity.assign_s", "s"),
    ("similarity.ivf_call_ms", "ms"),
    ("similarity.rows_scanned_per_query", "count"),
    ("similarity.files_read_per_query", "count"),
    ("manifest_index.upsert_s", "s"),
    ("manifest_index.upsert_rows_scanned_per_row", "ratio"),
    ("manifest_index.tombstone_rows", "count"),
    ("manifest_index.files_in_gen", "count"),
    ("manifest_index.compact_bytes_per_live_byte", "ratio"),
    ("metrics.evaluate_s", "s"),
    ("dedup.incremental_s", "s"),
    ("dedup.dup_frac", "ratio"),
    ("curation.funnel_s", "s"),
    ("curation.accept_frac", "ratio"),
    ("lexical.span_dedup_s", "s"),
)


def metric_units(end_to_end: dict[str, str]) -> dict[str, str]:
    """Every per-layer metric name -> unit, in report order.
    ``end_to_end`` (name -> unit) adds ``traced.<name>``: the end-to-end
    metrics as measured in the traced run, for the tracing overhead."""
    out = {f"{layer}.{m}": u for layer in LAYERS for m, u in STAGE_METRICS}
    out.update(SPECIFIC)
    out.update({f"traced.{m}": u for m, u in end_to_end.items()})
    return out


def jobs_by_span_name(jobs) -> dict[str, list]:
    """Tagged jobs grouped by span name ``<layer>.<function>``."""
    out: dict[str, list] = {}
    for job in jobs.values():
        tag = parse_job_tag(job.description)
        if tag is not None:
            out.setdefault(tag[1], []).append(job)
    return out


def _med(values, scale: float = 1.0) -> float:
    values = list(values)
    return median(values) * scale if values else 0.0


def _stage_metrics(jobs: list, calls: int) -> dict[str, float]:
    per = max(calls, 1)
    skews = [
        max(ts) / median(ts)
        for j in jobs
        for ts in j.stage_task_ms.values()
        if len(ts) >= 2 and median(ts) > 0
    ]
    return {
        "jobs": len(jobs) / per,
        "executor_run_s": sum(j.executor_run_ms for j in jobs) / 1000.0 / per,
        "shuffle_read_bytes": sum(j.shuffle_read_bytes for j in jobs) / per,
        "shuffle_write_bytes": sum(j.shuffle_write_bytes for j in jobs) / per,
        "spill_bytes": sum(j.spill_bytes for j in jobs) / per,
        "task_skew": max(skews) if skews else 0.0,
        "failed_tasks": float(sum(j.failed_tasks for j in jobs)),
    }


def compute(spans: list[Span], jobs: dict, sql: dict, counters: dict,
            floors: dict, traced_e2e: dict[str, float]) -> dict[str, float]:
    """All per-layer metrics of one traced run."""
    calls = [s for s in spans if s.name != "op"]
    ops = [s for s in spans if s.name == "op"]
    by_name = jobs_by_span_name(jobs)
    out: dict[str, float] = {}

    for layer in LAYERS:
        layer_calls = [s for s in calls if s.layer == layer]
        layer_jobs = [j for name, js in by_name.items() if name.split(".", 1)[0] == layer for j in js]
        for m, v in _stage_metrics(layer_jobs, len(layer_calls)).items():
            out[f"{layer}.{m}"] = v

    def named(name: str, kind: str | None = None) -> list[Span]:
        return [s for s in calls if s.name == name and (kind is None or s.kind == kind)]

    def layer_spans(layer: str) -> list[Span]:
        return [s for s in calls if s.layer == layer]

    def busy(layer: str) -> float:
        return _med(self_time(s, spans) for s in layer_spans(layer))

    def rate(layer: str) -> float:
        ss = layer_spans(layer)
        t = sum(s.seconds for s in ss)
        return sum(s.items for s in ss) / t if t > 0 else 0.0

    def sql_sum(name: str, metric: str) -> float:
        execs = {j.execution_id for j in by_name.get(name, []) if j.execution_id is not None}
        return sum(sql.get(e, {}).get(metric, 0.0) for e in execs)

    def count(key: str) -> float:
        v = counters.get(key, 0.0)
        return _med(v) if isinstance(v, list) else float(v)

    out["session.job_floor_ms"] = floors["job_floor_ms"]
    out["session.cpu_floor_ms"] = floors["cpu_floor_ms"]
    op_jobs: dict[int, list] = {}
    for job in jobs.values():
        tag = parse_job_tag(job.description)
        if tag is not None and tag[2] >= 0:
            op_jobs.setdefault(tag[2], []).append(job)
    out["spark.jobs_per_op"] = sum(len(v) for v in op_jobs.values()) / max(len(ops), 1)
    out["spark.driver_gap_ms_per_op"] = _med(
        max(0.0, s.seconds * 1000.0 - covered(
            iv for j in op_jobs.get(s.op, []) for iv in j.task_intervals))
        for s in ops
    )
    out["datagen.busy_s"] = busy("datagen")
    out["datagen.rows_per_s"] = rate("datagen")
    out["encode.busy_s"] = busy("encode")
    out["encode.docs_per_s"] = rate("encode")
    out["parquet_index.write_s"] = _med(s.seconds for s in named("parquet_index.write_vector_index"))
    out["parquet_index.bytes_per_vector"] = count("index_bytes_per_vector")
    out["parquet_index.files_written"] = count("index_files")
    for kind in ("exact", "hybrid", "batch"):
        out[f"search.{kind}_call_ms"] = _med(
            (s.seconds for s in named("search.topk_bruteforce", kind)), 1000.0)
    out["search.docs_scored_per_s"] = rate("search")
    search_calls = len(layer_spans("search"))
    out["search.tasks_per_call"] = (
        sum(j.tasks for n, js in by_name.items() if n.startswith("search.") for j in js)
        / max(search_calls, 1)
    )
    ivf = "similarity.ivf_search_partitioned"
    n_ivf = max(len(named(ivf)), 1)
    out["similarity.train_s"] = _med(s.seconds for s in named("similarity.train_ivf_centroids"))
    out["similarity.assign_s"] = _med(s.seconds for s in named("similarity.ivf_assign_inline"))
    out["similarity.ivf_call_ms"] = _med((s.seconds for s in named(ivf, "ivf")), 1000.0)
    out["similarity.rows_scanned_per_query"] = (
        sum(j.input_records for j in by_name.get(ivf, [])) / n_ivf)
    out["similarity.files_read_per_query"] = sql_sum(ivf, "number of files read") / n_ivf
    ups = "manifest_index.upsert_manifest_index"
    upserted = sum(s.items for s in named(ups))
    out["manifest_index.upsert_s"] = _med(s.seconds for s in named(ups))
    out["manifest_index.upsert_rows_scanned_per_row"] = (
        sum(j.input_records for j in by_name.get(ups, [])) / upserted if upserted else 0.0)
    out["manifest_index.tombstone_rows"] = count("tombstone_rows")
    out["manifest_index.files_in_gen"] = count("files_in_gen")
    gen_bytes = count("compact_gen_bytes")
    out["manifest_index.compact_bytes_per_live_byte"] = (
        sql_sum("manifest_index.compact_manifest_index", "size of files read") / gen_bytes
        if gen_bytes else 0.0)
    out["metrics.evaluate_s"] = _med(s.seconds for s in named("metrics.evaluate_all"))
    out["dedup.incremental_s"] = _med(s.seconds for s in named("dedup.incremental_neardup"))
    out["dedup.dup_frac"] = count("dup_frac")
    out["curation.funnel_s"] = _med(
        s.seconds for s in named("curation.incremental_curation_funnel_stored", ""))
    out["curation.accept_frac"] = count("accept_frac")
    out["lexical.span_dedup_s"] = _med(s.seconds for s in named("lexical.span_dedup"))
    for m, v in traced_e2e.items():
        out[f"traced.{m}"] = v
    return out

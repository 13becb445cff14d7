"""From a finished run to the two output records.

The gated end-to-end metrics are defined on both workloads:

- ``setup_s``: session start, set-up builds and the first query of each
  set-up index; the harness's input generation and oracle truth are
  left out;
- ``recall_at_10``: the lowest recall@10 of the run against an exact
  oracle, ties counted as interchangeable.

Latency and throughput move by more than a gate's bound between runs on
a shared VM (README.md gives the measured spreads), so they are figures
of the detail record, not gated metrics: ``query_p50_ms`` and
``scan_items_per_s`` over ``FIGURE_KINDS``, every operation kind's
samples, and the workload's named figures.
"""

from __future__ import annotations

from perfbench import ann_workload, stats, trace
from perfbench.ann_workload import TYPES, ann_query_update
from perfbench.text_workload import text_dedup_bm25

WORKLOADS = {
    "ann_query_update": ann_query_update,
    "text_dedup_bm25": text_dedup_bm25,
}

FIGURE_KINDS = {
    "ann_query_update": {
        "query_p50_ms": [f"point:{t}" for t in TYPES] + ["sql_point"],
        "scan_items_per_s": [f"batch:{t}" for t in TYPES],
    },
    "text_dedup_bm25": {
        "query_p50_ms": ["bm25_query"],
        "scan_items_per_s": ["minhash_dedup", "duplicate_spans"],
    },
}
# single-query kinds (jobs per point query) and interactive call kinds
# (driver share) of each workload
POINT_KINDS = {
    "ann_query_update": [f"point:{t}" for t in TYPES] + ["sql_point", "fresh_query"],
    "text_dedup_bm25": [],
}
CALL_KINDS = {
    "ann_query_update": POINT_KINDS["ann_query_update"]
    + ["update_batch", "delete_batch", "merge_batch"],
    "text_dedup_bm25": ["bm25_query", "bm25_add_docs"],
}

END_TO_END_UNITS = {
    "setup_s": "s",
    "recall_at_10": "ratio",
}

LAYER_FIELDS = ["calls", "self_s", "jobs", "tasks", "task_s", "shuffle_bytes"]
RATIO_UNITS = {
    "wall_s": "s",
    "spans.outside_s": "s",
    "gc_s": "s",
    "trace.overhead_s": "s",
    "spark.spill_bytes": "bytes",
    "spans.failed": "count",
    "spark.job_s_under_span_share": "ratio",
    "spark.jobs_per_point_query": "count",
    "driver_share": "ratio",
    "indexes.flat.rows_read_per_result": "ratio",
    "indexes.ivf_flat.rows_read_per_result": "ratio",
    "indexes.ivf_pq.rows_read_per_result": "ratio",
    "indexes.vamana.rows_read_per_result": "ratio",
    "storage.enforcement_s_per_dml": "s",
    "storage.files_written_per_dml": "count",
    "indexes.overlay.pending_update_rows_per_query": "count",
    "storage.files_per_index": "count",
    "operators.dedup.shuffle_bytes_per_doc": "bytes",
}
FIELD_UNITS = {"calls": "count", "self_s": "s", "jobs": "count", "tasks": "count",
               "task_s": "s", "shuffle_bytes": "bytes"}


def per_layer_names() -> list[tuple[str, str]]:
    """(name, unit) of every per-layer metric, in output order."""
    out = [(f"{layer}.{f}", FIELD_UNITS[f]) for layer in trace.LAYERS for f in LAYER_FIELDS]
    return out + list(RATIO_UNITS.items())


def kind_figures(run) -> dict:
    out = {}
    for kind, xs in sorted(run.samples.items()):
        t, pct = stats.tail(xs)
        rates = [n / s for n, s in zip(run.items[kind], xs) if s > 0]
        out[kind] = {
            "n": len(xs),
            "p50_ms": 1000 * stats.median(xs),
            "tail_ms": 1000 * t,
            "tail_pct": pct,
            "items_per_s": stats.median(rates) if rates else None,
            "samples_ms": [round(1000 * x, 3) for x in xs],
        }
    return out


def _geo(figs: dict, kinds: list[str], key: str) -> float | None:
    vals = [figs[k][key] for k in kinds if k in figs and figs[k][key]]
    if len(vals) != len(kinds):
        return None  # a kind with no successful sample leaves the metric undefined
    return stats.geomean(vals)


def named_figures(workload: str, run, figs: dict) -> dict:
    """The workload's own figures, named as in README.md."""
    v = run.values
    out: dict = {}
    if workload == "ann_query_update":
        pts = [f"point:{t}" for t in TYPES]
        out["point_query_p50_ms"] = _geo(figs, pts, "p50_ms")
        out["point_query_tail_ms"] = _geo(figs, pts, "tail_ms")
        out["point_query_tail_pct"] = min((figs[k]["tail_pct"] for k in pts if k in figs), default=None)
        out["sql_query_p50_ms"] = figs.get("sql_point", {}).get("p50_ms")
        out["batch_query_qps"] = _geo(figs, [f"batch:{t}" for t in TYPES], "items_per_s")
        out["ingest_vectors_per_s"] = _geo(
            figs, ["ingest:IVF_FLAT", "ingest:IVF_PQ", "ingest:VAMANA"], "items_per_s")
        out["dml_p50_ms"] = _geo(figs, ["update_batch", "delete_batch", "merge_batch"], "p50_ms")
        out["fresh_query_p50_ms"] = figs.get("fresh_query", {}).get("p50_ms")
        out["fresh_recall_at_10"] = v.get("fresh_recall")
        out["consolidate_s"] = figs.get("consolidate", {}).get("p50_ms", 0) / 1000 or None
        out["stored_bytes_per_vector_byte"] = v.get("stored_bytes_per_vector_byte")
        out["ivf_pq_query_setting"] = dict(ann_workload.PQ_QUERY)
    else:
        out["bm25_query_p50_ms"] = figs.get("bm25_query", {}).get("p50_ms")
        out["bm25_add_docs_p50_ms"] = figs.get("bm25_add_docs", {}).get("p50_ms")
        out["bm25_build_docs_per_s"] = figs.get("bm25_build", {}).get("items_per_s")
        out["dedup_docs_per_s"] = _geo(figs, ["minhash_dedup", "duplicate_spans"], "items_per_s")
    for name, kinds in FIGURE_KINDS[workload].items():
        out[name] = _geo(figs, kinds, "p50_ms" if name.endswith("_ms") else "items_per_s")
    out["recall_at_10"] = v.get("recall_at_10")
    out["failed_op_ratio"] = run.failed / run.attempted if run.attempted else None
    return out


def end_to_end(run, record: dict) -> dict:
    vals = {"setup_s": record["setup_s"], "recall_at_10": run.values.get("recall_at_10")}
    return {n: {"value": vals[n], "unit": u} for n, u in END_TO_END_UNITS.items()
            if vals[n] is not None}


def per_layer(workload: str, run, record: dict, tracer, evdir: str) -> tuple[dict, dict]:
    events = trace.parse_event_log(evdir)
    tab = trace.layer_table(tracer.spans, events)
    vals: dict[str, float] = {}
    for layer in trace.LAYERS:
        row = tab["layers"][layer]
        for f in LAYER_FIELDS:
            vals[f"{layer}.{f}"] = row[f]
    ops = tab["ops"]
    jobs = trace.job_intervals(events)
    v = run.values
    point_n = sum(len(run.samples.get(x, [])) for x in POINT_KINDS[workload])
    point_jobs = sum(ops.get(x, {}).get("jobs", 0) for x in POINT_KINDS[workload])
    call_spans = [s for s in run.op_spans if s.op in CALL_KINDS[workload]]
    rows_read = {}
    for t in TYPES:
        kind = f"batch:{t}"
        n = len(run.samples.get(kind, []))
        nq_k = n * v.get("batch_nq", 0) * ann_workload.K
        rows_read[t] = ops.get(kind, {}).get("records_read", 0) / nq_k if nq_k else 0.0
    docs = v.get("dedup_docs", 0)
    dedup_shuffle = sum(ops.get(x, {}).get("shuffle_bytes", 0) for x in ("minhash_dedup", "duplicate_spans"))
    t0 = record["t_start_epoch"]
    t1 = t0 + record["run_wall_s"]
    roots = [(max(s.t0, t0), min(s.t1, t1)) for s in tracer.spans if s.parent is None]
    vals.update({
        "wall_s": record["run_wall_s"],
        "spans.outside_s": record["run_wall_s"] - stats.union_length(roots),
        "gc_s": tab["gc_s"],
        "trace.overhead_s": tracer.overhead_s,
        "spark.spill_bytes": sum(r["spill_bytes"] for r in tab["layers"].values()),
        "spans.failed": sum(r["failed"] for r in tab["layers"].values()),
        "spark.job_s_under_span_share": (
            tab["job_s_under_span"] / tab["job_s_total"] if tab["job_s_total"] else 0.0),
        "spark.jobs_per_point_query": point_jobs / point_n if point_n else 0.0,
        "driver_share": trace.driver_share(call_spans, jobs),
        "indexes.flat.rows_read_per_result": rows_read["FLAT"],
        "indexes.ivf_flat.rows_read_per_result": rows_read["IVF_FLAT"],
        "indexes.ivf_pq.rows_read_per_result": rows_read["IVF_PQ"],
        "indexes.vamana.rows_read_per_result": rows_read["VAMANA"],
        "storage.enforcement_s_per_dml": v.get("enforcement_s_per_dml", 0.0),
        "storage.files_written_per_dml": v.get("files_written_per_dml", 0.0),
        "indexes.overlay.pending_update_rows_per_query": v.get("pending_rows_per_query", 0.0),
        "storage.files_per_index": v.get("files_per_index", 0.0),
        "operators.dedup.shuffle_bytes_per_doc": dedup_shuffle / docs if docs else 0.0,
    })
    units = dict(per_layer_names())
    detail = {
        "layers": tab["layers"],
        "ops": ops,
        "span_names": tab["span_names"],
        "job_s_total": tab["job_s_total"],
        "job_s_under_span": tab["job_s_under_span"],
        "spans": len(tracer.spans),
        "unmeasured": trace.WORKER_SIDE,
    }
    return {n: {"value": x, "unit": units[n]} for n, x in vals.items()}, detail


def summarize(workload: str, run, record: dict, tracer, evdir: str) -> tuple[dict, dict]:
    figs = kind_figures(run)
    detail = dict(record)
    detail["kinds"] = figs
    detail["figures"] = named_figures(workload, run, figs)
    detail["setup_phases"] = run.values.get("setup_phases")
    detail["errors"] = run.errors[:20]
    detail["attempted"] = run.attempted
    detail["failed"] = run.failed
    if tracer is not None:
        metrics, detail["trace"] = per_layer(workload, run, record, tracer, evdir)
    else:
        metrics = end_to_end(run, record)
    # a metric a failed kind left undefined makes the run incorrect
    expected = per_layer_names() if tracer is not None else list(END_TO_END_UNITS.items())
    complete = all(n in metrics for n, _ in expected)
    summary = {
        "correct": run.failed == 0 and complete,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": metrics,
    }
    return summary, detail

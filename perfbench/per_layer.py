"""Per-layer metrics of a traced run, each per timed operation unless its
name says otherwise.  A layer the workload does not hold reads 0."""

from __future__ import annotations

import os

from tracing import PIPELINE_CALLS, event_log_metrics, read_event_log


def _self_seconds(spans: list[dict], name: str, n_ops: int) -> float:
    """Time in spans called ``name`` not covered by their child spans."""
    child = {}
    for s in spans:
        if s["parent"] is not None:
            child[s["parent"]] = child.get(s["parent"], 0.0) + s["t1"] - s["t0"]
    tot = sum(s["t1"] - s["t0"] - child.get(s["id"], 0.0)
              for s in spans if s["timed"] and s["name"] == name)
    return tot / n_ops


def per_layer_metrics(run, e2e: dict, session_s: float,
                      worker_cpu: list[float], gc_s: float) -> dict:
    from run import ALL_QUERIES, PER_LAYER

    tr, wl = run.tracer, run.workload
    n = max(len(tr.timed_ops), 1)
    timed = set(tr.timed_ops)
    m = {name: 0.0 for name, _ in PER_LAYER}
    m["session.start_s"] = session_s
    m["trace.op_p50_s"] = e2e["op_p50_s"]
    m["jvm.gc_s"] = gc_s / n
    m["python.worker_cpu_s"] = sum(worker_cpu) / n
    m["cache.persisted"] = tr.cache_persisted / n
    m["cache.left_after_release"] = tr.cache_left / n
    m.update(event_log_metrics(
        read_event_log(os.path.join(run.work, "events")), tr))

    phases = {"analysis": tr.final_analysis_ms, "optimization": 0.0,
              "planning": 0.0}
    for op, ph in tr.catalyst:
        if op in timed:
            for k in phases:
                phases[k] += ph.get(k, 0)
    for k, v in phases.items():
        m[f"catalyst.{k}_s"] = v / 1000.0 / n

    for key, field in (("streaming.trigger_ms", "triggerExecution"),
                       ("streaming.planning_ms", "queryPlanning"),
                       ("streaming.add_batch_ms", "addBatch")):
        m[key] = sum(d.get(field, 0) for op, d in tr.stream_progress
                     if op in timed) / n

    per_query = tr.span_seconds_by_query()
    for q in ALL_QUERIES:
        m[f"query.{q}_s"] = per_query.get(q, 0.0)

    if run.args.workload == "etl_daily":
        import etl
        m["plans.build_s"] = _self_seconds(tr.spans, "pipeline_run", n)
        missing = set(PIPELINE_CALLS) - {s["name"] for s in tr.spans}
        if missing:
            raise RuntimeError(f"pipeline calls not traced: {missing}")
        m["quality.check_s"] = tr.span_seconds(("expect_nonempty",
                                                "expect_no_nulls"))
        m["files.csv_write_s"] = tr.span_seconds(("write_single_csv",))
        m["warehouse.merge_append_s"] = tr.span_seconds(
            ("warehouse.merge_append",))
        m["warehouse.rows_written"] = sum(wl.written[-n:]) / n
        files, size = etl.warehouse_stats(wl.wh)
        rows = len(etl.warehouse_keys(wl.wh))
        m["warehouse.files"] = float(files)
        m["warehouse.bytes_per_row"] = size / rows if rows else 0.0
        fetches = etl.count_fetches(os.path.join(run.work, "fetches"))
        m["http.fetches_per_doc"] = fetches / (len(wl.fleet.cities) * wl.ops)
    else:
        m["plans.build_s"] = tr.span_seconds(("build",))
    return m

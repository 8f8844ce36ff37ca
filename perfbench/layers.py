"""The per-layer metrics a traced run reports, for every workload.

A metric of a layer the workload never calls reads 0: that workload is
the "no change predicted" control for the layer.  Times are per timed
call (set-up spans excluded); ``*.jobs`` / ``*.tasks`` are Spark jobs and
tasks started inside the span, children excluded.
"""

from __future__ import annotations

from querymix import MIX

#: span name prefix -> layer, for the self-time rollup
LAYER_OF = {
    "autoingest": "streaming", "tables": "tables", "pipeline": "pipeline",
    "sql": "sqldml", "query": "plans", "gold": "plans",
    "cycle": "bench",
}
#: spans whose job count has a shorter metric name
JOBS_OF = {"autoingest.run_once": "autoingest.jobs", "pipeline.run": "pipeline.jobs"}
LAYERS = ("streaming", "tables", "pipeline", "sqldml", "plans", "bench")

#: (name, unit, better) — the span-derived metrics are filled by ``fill``
PER_LAYER: list[tuple[str, str, str]] = [
    ("session.get_spark_s", "s", "lower"),
    ("autoingest.run_once_s", "s", "lower"),
    ("autoingest.jobs", "count", "lower"),
    ("autoingest.rows_in", "count", "higher"),
    ("autoingest.rescued_rows", "count", "higher"),
    ("autoingest.checkpoint_bytes", "bytes", "lower"),
    ("tables.merge_s", "s", "lower"),
    ("tables.merge.jobs", "count", "lower"),
    ("tables.merge.tasks", "count", "lower"),
    ("tables.merge.files_rewritten_ratio", "ratio", "lower"),
    ("tables.merge.bytes_written_per_input_byte", "ratio", "lower"),
    ("sql.dml_s", "s", "lower"),
    ("tables.optimize_s", "s", "lower"),
    ("tables.active_files", "count", "lower"),
    ("tables.log_bytes", "bytes", "lower"),
    ("tables.read_s", "s", "lower"),
    ("tables.read_where_s", "s", "lower"),
    ("tables.read_where.files_skipped_ratio", "ratio", "higher"),
    ("tables.time_travel_s", "s", "lower"),
    ("tables.write_s", "s", "lower"),
    ("pipeline.run_s", "s", "lower"),
    ("pipeline.jobs", "count", "lower"),
    ("pipeline.expectation_dropped_rows", "count", "higher"),
    ("sql.plan_s", "s", "lower"),
    *[m for q in MIX for m in ((f"query.{q}_s", "s", "lower"),
                              (f"query.{q}.jobs", "count", "lower"))],
    ("gold.refresh_s", "s", "lower"),
    ("storage.bytes_written", "bytes", "lower"),
    ("storage.files", "count", "lower"),
    ("proc.py_rss_mb", "MB", "lower"),
    ("proc.jvm_rss_mb", "MB", "lower"),
    *[(f"self.{layer}_s", "s", "lower") for layer in LAYERS],
    ("trace.latency_p50_s", "s", "lower"),
    ("trace.bookkeeping_s", "s", "lower"),
]
UNIT = {name: unit for name, unit, _ in PER_LAYER}


def fill(tracer, extra: dict[str, float], ops: int) -> dict[str, tuple[float, str]]:
    """Every per-layer metric as ``{name: (value, unit)}``: span-derived
    times and job counts from ``tracer``, the rest from ``extra``, 0 for
    layers this workload never calls.  ``ops`` divides the self-time
    rollup into a per-operation figure."""
    agg = tracer.by_name(timed_only=True)
    out = {name: 0.0 for name, _, _ in PER_LAYER}
    for name, a in agg.items():
        if f"{name}_s" in out:
            out[f"{name}_s"] = a["total_s"] / a["n"]
        for k in ("jobs", "tasks"):
            key = JOBS_OF.get(name, f"{name}.jobs") if k == "jobs" else f"{name}.{k}"
            if key in out:
                out[key] = a[k] / a["n"]
        layer = LAYER_OF.get(name.split(".")[0])
        if layer in LAYERS:
            out[f"self.{layer}_s"] += a["self_s"] / max(1, ops)
    out.update(extra)
    unknown = set(out) - set(UNIT)
    if unknown:
        raise KeyError(f"metrics not in PER_LAYER: {sorted(unknown)}")
    return {name: (value, UNIT[name]) for name, value in out.items()}

"""Per-layer metrics of a traced run.

Names are ``<workload>.<span>.<metric>`` for the spans of every
workload; a run reports 0 for the spans of the other workloads, which
it does not run. Repeated spans (one per pass, or one per op in the
index lifecycle) report the median over the traced warm passes; a span
that only runs in the cold pass (``ann_build``) reports that one
instance.
"""

from __future__ import annotations

import statistics
import time

from tracing import SPAN_METRICS, read_event_log, self_time, span_receipts

SPAN_UNITS = {
    "wall_s": "s", "driver_s": "s", "jobs": "count", "stages": "count",
    "exec_cpu_s": "s", "python_s": "s", "shuffle_bytes": "B", "task_skew": "ratio",
}
#: metrics outside the span grid: name → (unit, better)
EXTRA = {
    "monthly_batch.io.avro_decode_rows_per_s": ("1/s", "higher"),
    "session.start_s": ("s", "lower"),
    "session.worker_warm_s": ("s", "lower"),
    "gc_s": ("s", "lower"),
    "python_workers.peak_rss_mb": ("MB", "lower"),
    "trace.overhead_pct": ("%", "lower"),
}


def catalog() -> dict[str, tuple[str, str]]:
    """Every per-layer metric: name → (unit, better)."""
    from workloads import WORKLOADS

    out = {}
    for name, wl in WORKLOADS.items():
        out[f"{name}.pass.self_s"] = ("s", "lower")
        for span in wl.spans:
            for m in SPAN_METRICS:
                out[f"{name}.{span}.{m}"] = (SPAN_UNITS[m], "lower")
        for span in wl.result_spans:
            out[f"{name}.{span}.rows_read_per_result"] = ("ratio", "lower")
    out.update(EXTRA)
    return out


def receipts(tracer, log_files: list[str], pass_spans: list[tuple[int, bool]]):
    """span name → [(receipt, from a warm pass)] for every public call,
    and under "pass" the self time of each pass: the client's own work
    between the calls."""
    log = read_event_log(log_files)
    per_span = span_receipts(tracer.spans, log)
    warm = {sid for sid, is_warm in pass_spans if is_warm}
    out: dict[str, list[tuple[dict, bool]]] = {}
    for sp in tracer.spans:
        if sp.span_id in per_span:
            out.setdefault(sp.name, []).append((per_span[sp.span_id], sp.parent in warm))
        elif sp.parent is None:
            out.setdefault("pass", []).append(
                ({"self_s": self_time(sp, tracer.spans)}, sp.span_id in warm)
            )
    return out


def per_layer_metrics(workload: str, wl, receipts_by_name, extra: dict) -> dict:
    units = catalog()
    values = {name: 0.0 for name in units}
    for span, items in receipts_by_name.items():
        use = [r for r, warm in items if warm] or [r for r, _ in items]
        if span == "pass":
            values[f"{workload}.pass.self_s"] = statistics.median(r["self_s"] for r in use)
            continue
        for m in SPAN_METRICS:
            values[f"{workload}.{span}.{m}"] = statistics.median(r[m] for r in use)
        if span in wl.result_spans:
            values[f"{workload}.{span}.rows_read_per_result"] = statistics.median(
                r["records_read"] / max(1, wl.results_per_call(span)) for r in use
            )
    values.update({k: v for k, v in extra.items() if k in values})
    return {k: (v, units[k][0]) for k, v in values.items()}


def avro_decode_rate(spark, wl, repeats: int = 3) -> float:
    """Rows per second of a decode-only scan of the monthly batch's Avro
    snapshots through ``io.avro_py.read_avro_py`` (median of
    ``repeats``); 0 for the other workloads, which have no Avro input."""
    if wl.name != "monthly_batch":
        return 0.0
    from batch_process_dpla_index_spark.io.avro_py import read_avro_py

    times = []
    for _ in range(repeats):
        t0 = time.perf_counter()
        read_avro_py(spark, *wl.avro_paths()).write.format("noop").mode("overwrite").save()
        times.append(time.perf_counter() - t0)
    return wl.inputs.rows / statistics.median(times)

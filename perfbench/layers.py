"""Per-layer metrics of a traced run.

Every workload reports the same names (``PER_LAYER``); a layer a workload
does not exercise reports 0. Times are medians per operation, counts and
bytes are means per timed operation, and ``self_s.<layer>`` is the layer's
self time over the timed rounds divided by the number of operations (the
session layer has none there: it only starts the session).
"""

from __future__ import annotations

from . import stats, trace

PER_LAYER = (
    "entry.build_s", "entry.eager_jobs", "entry.py4j_calls",
    "spark.plan_s", "spark.exec_s",
    "spark.jobs", "spark.stages", "spark.tasks", "spark.empty_tasks_ratio",
    "spark.shuffle_read_bytes", "spark.shuffle_write_bytes", "spark.spill_bytes",
    "spark.jvm_gc_s", "spark.failed_tasks", "spark.cached_bytes_left",
    "functions.python_bytes",
    "operators.ann.append_s", "streaming.batch_s", "operators.ann.compact_s",
    "operators.ann.ivf_topk_build_s", "operators.ann.ivf_topk_exec_s",
    "operators.ann.rows_scanned_per_result", "sources.index_files",
    "session.start_s", "session.warm_pass_s", "session.drift_ratio",
) + tuple(f"self_s.{layer}" for layer in trace.LAYERS if layer != "session")

_UNITS = {"_s": "s", "bytes": "bytes", "_left": "bytes", "ratio": "ratio"}


def unit(name: str) -> str:
    if name.startswith("self_s."):
        return "s"
    for suffix, u in _UNITS.items():
        if name.endswith(suffix):
            return u
    return "count"


def per_layer(wl, run: dict, tracer, log_dir: str) -> tuple[dict, dict]:
    """(result metrics, trace report) from the run record, the in-memory
    spans and the event log in ``log_dir``."""
    ops = run["ops"]
    path = trace.find_event_log(log_dir)
    jobs = trace.parse_event_log(path)["jobs"] if path else {}
    groups = getattr(wl, "streaming_groups", {})
    spans = tracer.spans + trace.job_spans(tracer.spans, jobs, groups)
    tracer.spans = spans
    n_ops = max(1, len(ops))

    sums = dict.fromkeys(
        ("jobs", "stages", "tasks", "empty_tasks", "shuffle_read_bytes", "shuffle_write_bytes",
         "spill_bytes", "gc_s", "failed_tasks", "python_bytes"), 0.0)
    exec_s = []
    for op in ops:
        if op.get("span") is None:
            continue
        inside = trace.descendants(spans, op["span"])
        op_jobs = [jobs[s["job"]] for s in spans if s.get("job") is not None and s["id"] in inside]
        for j in op_jobs:
            sums["jobs"] += 1
            sums["stages"] += len(j["stages"])
            for k in ("tasks", "empty_tasks", "shuffle_read_bytes", "shuffle_write_bytes",
                      "spill_bytes", "gc_s", "failed_tasks", "python_bytes"):
                sums[k] += j[k]
        op["records_read"] = sum(j.get("records_read", 0) for j in op_jobs)
        lo = min((j["start"] for j in op_jobs), default=0.0)
        exec_s.append(trace.covered([(j["start"], j["end"]) for j in op_jobs], lo, float("inf")))

    m = dict.fromkeys(PER_LAYER, 0.0)
    m.update({
        "spark.exec_s": stats.median(exec_s),
        "spark.jobs": sums["jobs"] / n_ops,
        "spark.stages": sums["stages"] / n_ops,
        "spark.tasks": sums["tasks"] / n_ops,
        "spark.empty_tasks_ratio": sums["empty_tasks"] / max(1.0, sums["tasks"]),
        "spark.shuffle_read_bytes": sums["shuffle_read_bytes"] / n_ops,
        "spark.shuffle_write_bytes": sums["shuffle_write_bytes"] / n_ops,
        "spark.spill_bytes": sums["spill_bytes"] / n_ops,
        "spark.jvm_gc_s": sums["gc_s"] / n_ops,
        "spark.failed_tasks": sums["failed_tasks"] / n_ops,
        "spark.cached_bytes_left": sum(op.get("cached_bytes_left", 0) for op in ops) / n_ops,
        "functions.python_bytes": sums["python_bytes"] / n_ops,
        "session.start_s": run["session_start_s"],
        "session.warm_pass_s": run["warm_pass_s"],
        "session.drift_ratio": stats.drift_ratio(run["round_s"]),
    })
    m.update(wl.layers(ops))

    timed = set()
    for s in spans:
        if s["parent"] is None and s["name"].startswith("round "):
            timed |= {s["id"]} | trace.descendants(spans, s["id"])
    self_s = trace.self_times([s for s in spans if s["id"] in timed])
    for name in PER_LAYER:
        if name.startswith("self_s."):
            m[name] = self_s.get(name[len("self_s."):], 0.0) / n_ops

    report = {
        "largest_self_time_layer": max(trace.LAYERS, key=lambda layer: self_s.get(layer, 0.0)),
        "self_share": {k: v / max(1e-9, sum(self_s.values())) for k, v in sorted(self_s.items())},
        "spans": len(spans),
        "event_log_jobs": len(jobs),
    }
    metrics = {name: {"value": float(m[name]), "unit": unit(name)} for name in PER_LAYER}
    return metrics, report

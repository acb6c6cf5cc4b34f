"""Tracing for the per-layer run: spans, a Py4J call counter, Spark's local
event log parsed offline, and the self time of each layer.

A span is ``{"id", "name", "layer", "start", "end", "parent"}`` with times in
seconds since the epoch. Spans are kept in memory and written out once, at
the end of the run. Every span also names a Spark job group, so the jobs it
fired can be found in the event log afterwards; those jobs become child
spans of layer ``spark``.
"""

from __future__ import annotations

import glob
import json
import os
import threading
import time
from collections import defaultdict
from contextlib import contextmanager

LAYERS = (
    "bench", "session", "entry", "sources", "functions", "operators",
    "plans", "streaming", "spark",
)


class Py4JCounter:
    """Counts Py4J round trips from this Python process to the JVM by
    wrapping ``send_command`` on both Py4J client classes."""

    def __init__(self) -> None:
        self.calls = 0
        self.paused = False
        self._lock = threading.Lock()
        self._patched: list[tuple[type, object]] = []

    def install(self) -> None:
        from py4j import clientserver, java_gateway

        for cls in (java_gateway.GatewayClient, clientserver.JavaClient):
            original = cls.send_command
            counter = self

            def send_command(self_, *args, _orig=original, **kwargs):
                if not counter.paused:
                    with counter._lock:
                        counter.calls += 1
                return _orig(self_, *args, **kwargs)

            cls.send_command = send_command
            self._patched.append((cls, original))

    def uninstall(self) -> None:
        for cls, original in self._patched:
            cls.send_command = original
        self._patched.clear()


class Tracer:
    """Records spans when enabled; when disabled every call is a no-op, so
    the untraced run pays only for a function call per boundary."""

    def __init__(self, spark_context=None, enabled: bool = False) -> None:
        self.enabled = enabled
        self.sc = spark_context
        self.spans: list[dict] = []
        self.py4j = Py4JCounter()
        self._stack: list[int] = []
        if enabled:
            self.py4j.install()

    @contextmanager
    def span(self, name: str, layer: str):
        if not self.enabled:
            yield None
            return
        sid = len(self.spans)
        parent = self._stack[-1] if self._stack else None
        group = f"pb-{sid}"
        self.py4j.paused = True
        if self.sc is not None:
            self.sc.setJobGroup(group, name)
        self.py4j.paused = False
        rec = {"id": sid, "name": name, "layer": layer, "start": time.time(),
               "end": None, "parent": parent, "py4j": self.py4j.calls}
        self.spans.append(rec)
        self._stack.append(sid)
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            rec["py4j"] = self.py4j.calls - rec["py4j"]
            self._stack.pop()
            self.py4j.paused = True
            if self.sc is not None:
                tracker = self.sc.statusTracker()
                rec["jobs_tracked"] = len(tracker.getJobIdsForGroup(group))
                if self._stack:
                    self.sc.setJobGroup(f"pb-{self._stack[-1]}", "")
                else:
                    self.sc._jsc.clearJobGroup()
            self.py4j.paused = False

    def close(self) -> None:
        self.py4j.uninstall()


# Driver-side functions at layer boundaries that the registry's query
# builders call. A traced run wraps them in spans before ``__spark_entry__``
# is imported (it binds ``load_table`` at import). They never run inside a
# UDF, so the wrapper is never shipped to a Python worker.
BOUNDARY_FUNCTIONS = (
    ("vector_search_optimization_spark.sources", "load_table", "sources"),
    ("vector_search_optimization_spark.sources.readers", "load_table", "sources"),
    ("vector_search_optimization_spark.plans", "analytics_prologue", "plans"),
    ("vector_search_optimization_spark.plans.pipelines", "analytics_prologue", "plans"),
)


def wrap_boundaries(tracer: Tracer) -> None:
    import functools
    import importlib

    wrapped: dict[int, object] = {}
    for module, name, layer in BOUNDARY_FUNCTIONS:
        mod = importlib.import_module(module)
        fn = getattr(mod, name)
        if id(fn) not in wrapped:
            @functools.wraps(fn)
            def wrapper(*args, _fn=fn, _name=name, _layer=layer, **kwargs):
                with tracer.span(_name, _layer):
                    return _fn(*args, **kwargs)
            wrapped[id(fn)] = wrapper
        setattr(mod, name, wrapped[id(fn)])


# --- event log ---------------------------------------------------------------


def _accum(task_info: dict, name: str) -> int:
    return sum(int(a.get("Update") or 0) for a in task_info.get("Accumulables", [])
               if a.get("Name") == name)


def parse_event_log(path: str) -> dict:
    """Parse an uncompressed Spark JSON event log (a file, or a directory
    of rolled ``events_*`` files) into per-job records.

    Returns ``{"jobs": {job_id: {...}}, "stages": {stage_id: job_id}}``. Each
    job record holds its group, submit/end times in seconds, the stages that
    ran, and task totals: tasks, failed_tasks, empty_tasks (tasks that read
    no input and no shuffle records), shuffle_read_bytes,
    shuffle_write_bytes, spill_bytes, gc_s, run_s, python_bytes and
    records_read (input records scanned).
    """
    files = sorted(glob.glob(os.path.join(path, "events_*"))) if os.path.isdir(path) else [path]
    jobs: dict[int, dict] = {}
    stage_job: dict[int, int] = {}
    for f in files:
        with open(f) as fh:
            for line in fh:
                e = json.loads(line)
                kind = e.get("Event")
                if kind == "SparkListenerJobStart":
                    jid = e["Job ID"]
                    jobs[jid] = {
                        "group": (e.get("Properties") or {}).get("spark.jobGroup.id"),
                        "start": e["Submission Time"] / 1000.0, "end": None,
                        "stages": set(), "tasks": 0, "failed_tasks": 0, "empty_tasks": 0,
                        "shuffle_read_bytes": 0, "shuffle_write_bytes": 0,
                        "spill_bytes": 0, "gc_s": 0.0, "run_s": 0.0, "python_bytes": 0,
                        "records_read": 0,
                    }
                    for sid in e.get("Stage IDs", []):
                        stage_job[sid] = jid
                elif kind == "SparkListenerJobEnd":
                    if e["Job ID"] in jobs:
                        jobs[e["Job ID"]]["end"] = e["Completion Time"] / 1000.0
                elif kind == "SparkListenerTaskEnd":
                    job = jobs.get(stage_job.get(e["Stage ID"]))
                    if job is None:
                        continue
                    job["stages"].add(e["Stage ID"])
                    job["tasks"] += 1
                    if (e.get("Task End Reason") or {}).get("Reason") != "Success":
                        job["failed_tasks"] += 1
                    m = e.get("Task Metrics") or {}
                    sr = m.get("Shuffle Read Metrics") or {}
                    sw = m.get("Shuffle Write Metrics") or {}
                    read = sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
                    job["shuffle_read_bytes"] += read
                    job["shuffle_write_bytes"] += sw.get("Shuffle Bytes Written", 0)
                    job["spill_bytes"] += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
                    job["gc_s"] += m.get("JVM GC Time", 0) / 1000.0
                    job["run_s"] += m.get("Executor Run Time", 0) / 1000.0
                    input_records = (m.get("Input Metrics") or {}).get("Records Read", 0)
                    job["records_read"] += input_records
                    records = input_records + sr.get("Total Records Read", 0)
                    if records == 0:
                        job["empty_tasks"] += 1
                    info = e.get("Task Info") or {}
                    job["python_bytes"] += (_accum(info, "data sent to Python workers")
                                            + _accum(info, "data returned from Python workers"))
    for job in jobs.values():
        if job["end"] is None:
            job["end"] = job["start"]
    return {"jobs": jobs, "stages": stage_job}


def find_event_log(log_dir: str) -> str | None:
    entries = [p for p in glob.glob(os.path.join(log_dir, "*")) if not p.endswith(".crc")]
    return max(entries, key=os.path.getmtime) if entries else None


def job_spans(spans: list[dict], jobs: dict[int, dict], streaming_groups: dict[str, int]) -> list[dict]:
    """One ``spark`` span per job, parented to the span whose job group it
    ran under. Jobs fired by a streaming query run under the query's own
    group (its run id), which ``streaming_groups`` maps to a span id. A job
    with no known group goes to the innermost span open when it started."""
    out = []
    n = len(spans)
    for jid, job in sorted(jobs.items()):
        g = job["group"] or ""
        parent = streaming_groups.get(g)
        if parent is None and g.startswith("pb-"):
            parent = int(g[3:])
        if parent is None:
            open_ = [s for s in spans if s["start"] <= job["start"] <= (s["end"] or s["start"])]
            parent = max(open_, key=lambda s: s["start"])["id"] if open_ else None
        if parent is None or parent >= n:
            continue
        out.append({"id": n + len(out), "name": f"job {jid}", "layer": "spark",
                    "start": job["start"], "end": job["end"], "parent": parent, "job": jid})
    return out


def covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    total, cur = 0.0, lo
    for a, b in sorted(intervals):
        a, b = max(a, cur), min(b, hi)
        if b > a:
            total += b - a
            cur = b
    return total


def self_times(spans: list[dict]) -> dict[str, float]:
    """Seconds per layer that no child span covers (children's intervals are
    clipped to the parent and overlapping children count once)."""
    children: dict[int, list[tuple[float, float]]] = defaultdict(list)
    for s in spans:
        if s["parent"] is not None:
            children[s["parent"]].append((s["start"], s["end"]))
    out: dict[str, float] = defaultdict(float)
    for s in spans:
        dur = s["end"] - s["start"]
        out[s["layer"]] += max(0.0, dur - covered(children.get(s["id"], []), s["start"], s["end"]))
    return dict(out)


def descendants(spans: list[dict], root: int) -> set[int]:
    kids: dict[int, list[int]] = defaultdict(list)
    for s in spans:
        if s["parent"] is not None:
            kids[s["parent"]].append(s["id"])
    out, todo = set(), [root]
    while todo:
        cur = todo.pop()
        for k in kids.get(cur, []):
            if k not in out:
                out.add(k)
                todo.append(k)
    return out

"""Run-time harness shared by the workloads: the Spark session, the RSS
sampler, the timed closed loop, leak checks and the result line.

A workload is an object with

- ``name`` and ``primary``: the operation kind its latency metrics describe;
- ``setup(rep)``: build the run's inputs (called several times, timed);
- ``warm()``: one untimed pass that also checks outputs; returns seconds of
  program time (check time excluded);
- ``round(r)``: one round of operations, a list of op records
  ``{"kind", "name", "t", "ok", "err"}`` (plus workload fields);
- ``finish()``: final output checks, returns a list of problems;
- ``report(ops, run)`` and ``layers(ops)``: workload-specific figures for
  the report line and per-layer metrics.
"""

from __future__ import annotations

import os
import threading
import time

from . import stats
from .trace import Tracer

SETUP_REPS = 3
MIN_ROUNDS = 2


def start_session(work: str, trace: bool):
    """SparkSession through the engine's own factory, with every local
    directory inside ``work`` and, when tracing, the JSON event log on."""
    from vector_search_optimization_spark.session import get_spark

    conf = {
        "spark.local.dir": os.path.join(work, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        # a fixed-size heap keeps the JVM's resident set from depending on
        # when the collector decides to grow it
        "spark.driver.extraJavaOptions": (
            f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} -XX:-UsePerfData "
            f"-Xms{os.environ.get('SPARK_DRIVER_MEMORY', '1g')}"
        ),
        "spark.sql.streaming.checkpointLocation": os.path.join(work, "checkpoints"),
    }
    if trace:
        log_dir = os.path.join(work, "eventlog")
        os.makedirs(log_dir, exist_ok=True)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + log_dir,
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    return get_spark("perfbench", extra_conf=conf)


class RssSampler(threading.Thread):
    """Samples the summed resident set of the driver JVM and all of its
    descendant processes (the Python workers) and keeps the peak."""

    def __init__(self, root_pid: int, interval: float = 0.5) -> None:
        super().__init__(daemon=True)
        self.root_pid = root_pid
        self.interval = interval
        self.peak_bytes = 0
        self._stop_evt = threading.Event()
        self._page = os.sysconf("SC_PAGE_SIZE")

    def _tree(self) -> list[int]:
        children: dict[int, list[int]] = {}
        for d in os.listdir("/proc"):
            if not d.isdigit():
                continue
            try:
                with open(f"/proc/{d}/stat") as f:
                    ppid = int(f.read().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                continue
            children.setdefault(ppid, []).append(int(d))
        out, todo = [], [self.root_pid]
        while todo:
            pid = todo.pop()
            out.append(pid)
            todo.extend(children.get(pid, []))
        return out

    def sample(self) -> int:
        total = 0
        for pid in self._tree():
            try:
                with open(f"/proc/{pid}/statm") as f:
                    total += int(f.read().split()[1]) * self._page
            except (OSError, IndexError, ValueError):
                continue
        self.peak_bytes = max(self.peak_bytes, total)
        return total

    def run(self) -> None:
        while not self._stop_evt.wait(self.interval):
            self.sample()

    def stop(self) -> float:
        self._stop_evt.set()
        self.join()
        self.sample()
        return self.peak_bytes / 2**20


def persisted_state(spark) -> tuple[int, int]:
    """(persistent RDD count, their cached bytes) — a query must leave both
    at zero once its result is consumed and its caches released."""
    jsc = spark.sparkContext._jsc
    n = jsc.getPersistentRDDs().size()
    cached = 0
    if n:
        for info in jsc.sc().getRDDStorageInfo():
            cached += info.memSize() + info.diskSize()
    if not spark._jsparkSession.sharedState().cacheManager().isEmpty():
        n += 1
    return n, cached


def clear_persisted(spark) -> None:
    spark.catalog.clearCache()
    for rdd in spark.sparkContext._jsc.getPersistentRDDs().values():
        rdd.unpersist(True)


def leak_check(spark, op: dict) -> None:
    """Mark ``op`` failed if anything is still persisted, then clear it so
    one leaking operation cannot slow the next."""
    n, cached = persisted_state(spark)
    op["cached_bytes_left"] = cached
    if n:
        op["ok"] = False
        op["err"] = (op.get("err") or "") + f" leaked {n} persisted entries"
        clear_persisted(spark)


def failed_count(run: dict) -> int:
    """Operations that errored, leaked or gave a wrong output, plus checks
    that failed outside any operation (capped at the attempted count)."""
    ops = run["ops"]
    return min(len(ops), sum(1 for op in ops if not op["ok"]) + len(run["problems"]))


def run_workload(wl, spark, tracer: Tracer, seconds: float, session_start_s: float) -> dict:
    """Set up, warm, run whole rounds until ``seconds`` have passed (and at
    least ``MIN_ROUNDS``), then check. Returns the raw run record."""
    setup_times = []
    for rep in range(SETUP_REPS):
        t0 = time.perf_counter()
        with tracer.span(f"setup {rep}", "bench"):
            wl.setup(rep)
        setup_times.append(time.perf_counter() - t0)
    t0 = time.perf_counter()
    with tracer.span("warm", "bench"):
        warm_s = wl.warm()
    warm_wall_s = time.perf_counter() - t0

    ops: list[dict] = []
    round_s: list[float] = []
    t_start = time.perf_counter()
    while True:
        r = len(round_s)
        t0 = time.perf_counter()
        with tracer.span(f"round {r}", "bench"):
            try:
                batch = wl.round(r)
            except Exception as e:  # noqa: BLE001 — a failed round is a failed op
                batch = [{"kind": wl.primary, "name": f"round {r}", "ok": False,
                          "t": time.perf_counter() - t0, "err": f"{type(e).__name__}: {e}"}]
                clear_persisted(spark)
        round_s.append(time.perf_counter() - t0)
        for op in batch:
            op["round"] = r
        ops.extend(batch)
        if len(round_s) >= MIN_ROUNDS and time.perf_counter() - t_start >= seconds:
            break
    measured_s = time.perf_counter() - t_start
    t0 = time.perf_counter()
    problems = wl.finish()
    finish_s = time.perf_counter() - t0
    return {
        "session_start_s": session_start_s,
        "setup_reps_s": setup_times,
        "warm_pass_s": warm_s,
        "warm_wall_s": warm_wall_s,
        "finish_s": finish_s,
        "setup_s": session_start_s + stats.median(setup_times) + warm_s,
        "ops": ops,
        "round_s": round_s,
        "measured_s": measured_s,
        "problems": problems,
    }


def end_to_end(wl, run: dict, peak_rss_mb: float) -> tuple[dict, dict]:
    """(metrics for the result line, extra figures for the report line)."""
    ops = run["ops"]
    primary = [op["t"] for op in ops if op["kind"] == wl.primary and op["ok"]]
    metrics = {
        "setup_s": {"value": run["setup_s"], "unit": "s"},
        "ops_per_s": {"value": len(primary) / run["measured_s"], "unit": "1/s"},
        "op_p50_s": {"value": stats.median(primary), "unit": "s"},
        "peak_rss_mb": {"value": peak_rss_mb, "unit": "MB"},
    }
    tail = stats.tail(primary)
    report = {
        "workload": wl.name,
        "primary_op": wl.primary,
        "failed_ratio": {"value": failed_count(run) / max(1, len(ops)), "unit": "ratio"},
        "op_tail_s": (
            {"value": tail["value"], "unit": "s", "percentile": tail["percentile"], "n": tail["n"]}
            if tail else {"value": None, "unit": "s", "n": len(primary),
                          "note": "fewer than 11 samples: no percentile has 10 beyond it"}
        ),
        "rounds": len(run["round_s"]),
        "round_s": [round(x, 4) for x in run["round_s"]],
        "round_spread": stats.quartile_spread(run["round_s"]),
        "drift_ratio": stats.drift_ratio(run["round_s"]),
        "session_start_s": run["session_start_s"],
        "setup_reps_s": run["setup_reps_s"],
        "warm_pass_s": run["warm_pass_s"],
        "warm_wall_s": run["warm_wall_s"],
        "finish_s": run["finish_s"],
        "measured_s": run["measured_s"],
        "errors": sorted({f'{op["name"]}: {op["err"]}' for op in ops if not op["ok"]})[:20],
        "problems": run["problems"],
    }
    report.update(wl.report(ops, run))
    return metrics, report

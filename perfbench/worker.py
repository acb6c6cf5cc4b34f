"""One benchmark run inside the child process that ``run.py`` starts.

Prints a report line (``{"report": ...}``) and then the result line the
benchmark contract asks for, as the last line of standard output.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

T_PROCESS = time.perf_counter()

from . import harness, layers  # noqa: E402
from .trace import Tracer, wrap_boundaries


def _workloads():
    from .workloads.ingest import IngestProbe
    from .workloads.refscale import Refscale
    from .workloads.registry_floor import RegistryFloor

    return {w.name: w for w in (RegistryFloor, Refscale, IngestProbe)}


def main(argv: list[str]) -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), required=True)
    ap.add_argument("--work", required=True)
    ap.add_argument("--out", required=True)
    a = ap.parse_args(argv)

    workloads = _workloads()
    cls = workloads[a.workload]
    trace = bool(a.trace)

    phases = {"python_start_s": time.perf_counter() - T_PROCESS}
    t_session = time.time()
    t0 = time.perf_counter()
    spark = harness.start_session(a.work, trace)
    session_start_s = time.perf_counter() - t0
    sampler = harness.RssSampler(int(spark._jvm.java.lang.ProcessHandle.current().pid()))
    sampler.start()
    tracer = Tracer(spark.sparkContext, trace)
    if trace:
        wrap_boundaries(tracer)
        tracer.spans.append({"id": 0, "name": "session start", "layer": "session",
                             "start": t_session, "end": time.time(), "parent": None, "py4j": 0})
    wl = cls(spark, a.seed, a.work, tracer)
    t0 = time.perf_counter()
    run = harness.run_workload(wl, spark, tracer, a.seconds, session_start_s)
    phases["run_s"] = time.perf_counter() - t0
    peak_rss_mb = sampler.stop()
    metrics, report = harness.end_to_end(wl, run, peak_rss_mb)
    t0 = time.perf_counter()
    spark.stop()
    phases["stop_s"] = time.perf_counter() - t0
    report["phases"] = phases
    tracer.close()

    os.makedirs(a.out, exist_ok=True)
    stem = os.path.join(a.out, f"{a.workload}-seed{a.seed}")
    if trace:
        traced_e2e = {k: v["value"] for k, v in metrics.items()}
        metrics, report["trace"] = layers.per_layer(wl, run, tracer, os.path.join(a.work, "eventlog"))
        report["trace"]["end_to_end"] = traced_e2e
        untraced = f"{stem}-trace0.json"
        if os.path.exists(untraced):
            with open(untraced) as f:
                base = json.load(f)["metrics"]
            report["trace"]["overhead"] = {
                k: {"traced": traced_e2e[k], "untraced": base[k]["value"],
                    "traced_minus_untraced": traced_e2e[k] - base[k]["value"]}
                for k in ("op_p50_s", "ops_per_s")
            }
        else:
            report["trace"]["overhead"] = (
                f"no untraced run of {a.workload} with seed {a.seed} in {a.out}: "
                "run --trace 0 with the same seed first"
            )
        with open(f"{stem}-spans.json", "w") as f:
            json.dump(tracer.spans, f)

    ops = run["ops"]
    failed = harness.failed_count(run)
    result = {"correct": failed == 0, "attempted": len(ops), "failed": failed, "metrics": metrics}
    with open(f"{stem}-trace{a.trace}.json", "w") as f:
        json.dump({"result": result, "report": report, "metrics": metrics}, f, default=str)
    print(json.dumps({"report": report}, default=str))
    print(json.dumps(result))
    return 0 if failed == 0 else 1


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))

"""Benchmark launcher.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Runs one workload in a child process, with the environment the engine
needs set here rather than in the engine: the repository on PYTHONPATH (so
Python workers can import the package), ``SPARK_GRAFT_CPUS`` set to the
usable cores, the driver heap sized to the machine, and every scratch
directory (Spark local dirs, temp files, generated inputs, the IVF index,
the event log) under one per-run directory inside the checkout, removed
afterwards. The child runs in its own process group; the launcher kills
that group and waits for it to empty on exit or timeout.

The last line of standard output is the JSON result; the line before it is
a report with the workload-specific figures. Per-run records (and the
spans of a traced run) are kept in ``.perfbench_out/``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORKLOADS = ("registry-floor", "refscale-pipeline", "index-ingest-probe")
TIMEOUT_S = 170


def _driver_memory() -> str:
    """A sixteenth of physical memory, between 1 and 2 GiB: the inputs are
    small, and the machine may be shared."""
    total = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    mb = min(2048, max(1024, total // 16 // 2**20))
    return f"{mb}m"


def _kill_group(pgid: int) -> None:
    for sig in (signal.SIGTERM, signal.SIGKILL):
        try:
            os.killpg(pgid, sig)
        except ProcessLookupError:
            return
        deadline = time.time() + 5
        while time.time() < deadline:
            try:
                os.killpg(pgid, 0)
            except ProcessLookupError:
                return
            time.sleep(0.1)


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    missing = [p for p in ("__spark_entry__.py", "vector_search_optimization_spark/__init__.py")
               if not os.path.exists(os.path.join(ROOT, p))]
    if missing:
        print(f"perfbench: the engine is not in {ROOT} (missing {', '.join(missing)})", file=sys.stderr)
        return 2

    work = os.path.join(ROOT, ".perfbench_work", f"{a.workload}-seed{a.seed}-{os.getpid()}")
    out = os.path.join(ROOT, ".perfbench_out")
    for d in ("tmp", "spark-local"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    os.makedirs(out, exist_ok=True)
    env = dict(os.environ)
    env.update({
        "PYTHONPATH": os.pathsep.join([ROOT] + [p for p in env.get("PYTHONPATH", "").split(os.pathsep) if p]),
        "SPARK_GRAFT_CPUS": str(len(os.sched_getaffinity(0))),
        "SPARK_DRIVER_MEMORY": _driver_memory(),
        "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
        "TMPDIR": os.path.join(work, "tmp"),
        "PYSPARK_PYTHON": sys.executable,
        "PYSPARK_DRIVER_PYTHON": sys.executable,
        # keeps every JVM, spark-submit's launcher included, out of /tmp
        "JAVA_TOOL_OPTIONS": "-XX:-UsePerfData",
    })
    cmd = [sys.executable, "-m", "perfbench.worker", "--workload", a.workload,
           "--seed", str(a.seed), "--seconds", str(a.seconds), "--trace", str(a.trace),
           "--work", work, "--out", out]
    t0 = time.perf_counter()
    log_path = os.path.join(out, f"{a.workload}-seed{a.seed}-trace{a.trace}.log")
    with open(log_path, "w") as log:
        child = subprocess.Popen(cmd, cwd=ROOT, env=env, stdout=subprocess.PIPE,
                                 stderr=log, text=True, start_new_session=True)
        try:
            stdout, _ = child.communicate(timeout=TIMEOUT_S)
        except subprocess.TimeoutExpired:
            _kill_group(child.pid)
            child.communicate()
            print(f"perfbench: run exceeded {TIMEOUT_S}s; log in {log_path}", file=sys.stderr)
            return 3
        finally:
            _kill_group(child.pid)
            shutil.rmtree(work, ignore_errors=True)
            try:
                os.rmdir(os.path.dirname(work))
            except OSError:
                pass  # another run's directory is still there
    lines = [ln for ln in stdout.splitlines() if ln.strip()]
    if child.returncode not in (0, 1) or not lines or not lines[-1].startswith('{"correct"'):
        with open(log_path) as f:
            sys.stderr.write("".join(f.readlines()[-40:]))
        print(f"perfbench: run failed (exit {child.returncode}); log in {log_path}", file=sys.stderr)
        return child.returncode or 4
    report = json.loads(lines[-2]) if len(lines) > 1 else {"report": {}}
    report["report"]["run_wall_s"] = time.perf_counter() - t0
    print(json.dumps(report))
    print(lines[-1])
    return child.returncode


if __name__ == "__main__":
    sys.exit(main())

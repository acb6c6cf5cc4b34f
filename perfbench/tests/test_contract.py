import json
import os
import shutil
import subprocess
import sys

from perfbench import layers

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def _benchmark():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def test_per_layer_names_match_the_trace():
    assert [m["name"] for m in _benchmark()["per_layer"]] == list(layers.PER_LAYER)
    assert all(m["unit"] == layers.unit(m["name"]) for m in _benchmark()["per_layer"])


def test_workloads_are_the_launchers():
    sys.path.insert(0, os.path.join(ROOT, "perfbench"))
    import run

    names = [w["name"] for w in _benchmark()["workloads"]]
    assert set(names) <= set(run.WORKLOADS)


def test_launcher_fails_without_the_engine(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(os.path.join(ROOT, "perfbench"), tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    bench = _benchmark()
    p = subprocess.run(
        bench["command"] + ["--workload", bench["workloads"][0]["name"], "--seed", "1",
                            "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=60,
    )
    assert p.returncode != 0
    assert p.stdout.strip() == ""

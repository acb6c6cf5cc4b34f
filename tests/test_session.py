"""Session sizing without a JVM: unset sizing variables fall back to the
machine — the usable cores, and a quarter of physical memory clamped to
[4g, 32g] — never to a fixed size the machine may not have."""

from __future__ import annotations

import os

import pytest

from vector_search_optimization_spark import session


def _machine(monkeypatch, cores: int, mem_gib: float) -> None:
    monkeypatch.delenv("SPARK_GRAFT_CPUS", raising=False)
    monkeypatch.delenv("SPARK_DRIVER_MEMORY", raising=False)
    monkeypatch.setattr(os, "sched_getaffinity", lambda _pid: set(range(cores)))
    page = 4096
    sizes = {"SC_PAGE_SIZE": page, "SC_PHYS_PAGES": int(mem_gib * 2**30) // page}
    monkeypatch.setattr(os, "sysconf", lambda key: sizes[key])


@pytest.mark.parametrize(
    "cores, mem_gib, want_cpus, want_mem",
    [
        (4, 15.6, "4", "4g"),  # a quarter is 3.9g: the 4g floor
        (16, 64, "16", "16g"),
        (96, 512, "96", "32g"),  # a quarter is 128g: the 32g cap
    ],
)
def test_unset_sizing_comes_from_the_machine(
    monkeypatch, cores, mem_gib, want_cpus, want_mem
):
    _machine(monkeypatch, cores, mem_gib)
    assert session.default_cpus() == want_cpus
    assert session.default_driver_memory() == want_mem


def test_sizing_variables_override_the_machine(monkeypatch):
    _machine(monkeypatch, 4, 15.6)
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "8")
    monkeypatch.setenv("SPARK_DRIVER_MEMORY", "2g")
    assert session.default_cpus() == "8"
    assert session.default_driver_memory() == "2g"

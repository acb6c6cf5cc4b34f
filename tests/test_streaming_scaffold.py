"""Each piece of streaming scaffolding and of the daily grid exists once
(Spark-free: reads the sources). The exactly-once table fold — the
function that writes ``_epoch-`` markers and recovers an interrupted
swap — is one function every maintained table runs through, the
complete-mode snapshot writer lives only in grid_monitor.py, and the
day bucket and the exact-cents daily sum are each written once, in
operators/timeseries.py and its one SQL twin."""

from __future__ import annotations

import ast
import pathlib

ROOT = pathlib.Path(__file__).resolve().parent.parent
STREAMING = ROOT / "vector_search_optimization_spark" / "streaming"


def _sources() -> dict[str, str]:
    return {p.name: p.read_text() for p in sorted(STREAMING.glob("*.py"))}


def _functions_where(pred) -> set[tuple[str, str]]:
    """(module, function) for every function whose own body holds a
    node matching ``pred`` (nested functions count on their own)."""
    hits = set()
    for name, src in _sources().items():
        for fn in ast.walk(ast.parse(src)):
            if not isinstance(fn, (ast.FunctionDef, ast.AsyncFunctionDef)):
                continue
            body = [n for stmt in fn.body for n in ast.walk(stmt)]
            if any(pred(n) for n in body):
                hits.add((name, fn.name))
    return hits


def _is_marker_write(node) -> bool:
    """An ``open(..., "w")`` whose path mentions ``_epoch-``."""
    return (
        isinstance(node, ast.Call)
        and isinstance(node.func, ast.Name)
        and node.func.id == "open"
        and "_epoch-" in ast.unparse(node.args[0])
        and any(
            isinstance(a, ast.Constant) and a.value == "w" for a in node.args[1:]
        )
    )


def _calls(name: str):
    return lambda n: (
        isinstance(n, ast.Call)
        and isinstance(n.func, ast.Name)
        and n.func.id == name
    )


def test_one_function_writes_epoch_markers_and_recovers_swaps():
    fold = {("agg_maintenance.py", "fold_batch_into_table")}
    assert _functions_where(_is_marker_write) == fold
    assert _functions_where(_calls("recover_interrupted_swap")) == fold


def test_complete_mode_is_written_only_by_grid_monitor():
    writers = {
        name
        for name, src in _sources().items()
        if 'outputMode("complete")' in src
    }
    assert writers == {"grid_monitor.py"}


def _owners(needle: str) -> list[tuple[str, str]]:
    """(file, owner) for every occurrence of ``needle`` in the entry
    module and the package, where the owner is the innermost function
    or module-level assignment holding it."""
    paths = [ROOT / "__spark_entry__.py"]
    paths += sorted((ROOT / "vector_search_optimization_spark").rglob("*.py"))
    hits = []
    for path in paths:
        src = path.read_text()
        if needle not in src:
            continue
        tree = ast.parse(src)
        scopes = [
            (n.lineno, n.end_lineno, n.name)
            for n in ast.walk(tree)
            if isinstance(n, (ast.FunctionDef, ast.AsyncFunctionDef))
        ] + [
            (n.lineno, n.end_lineno, n.targets[0].id)
            for n in tree.body
            if isinstance(n, ast.Assign) and isinstance(n.targets[0], ast.Name)
        ]
        for i, line in enumerate(src.splitlines(), 1):
            for _ in range(line.count(needle)):
                owner = min(
                    (s for s in scopes if s[0] <= i <= s[1]),
                    key=lambda s: s[1] - s[0],
                )
                hits.append((path.name, owner[2]))
    return sorted(hits)


def test_daily_grid_is_defined_once():
    """The day bucket, the exact-cents sum per (type, day) and its SQL
    twin each appear once; the week-keyed evt_kendalls_w and the
    bucket-keyed evt_bh_fdr keep their own cents aggregate."""
    assert _owners("/ F.lit(86400.0)") == [("timeseries.py", "epoch_day")]
    assert _owners('F.round(F.sum("value") * 100)') == [
        ("__spark_entry__.py", "evt_bh_fdr"),
        ("__spark_entry__.py", "evt_kendalls_w"),
        ("timeseries.py", "daily_cents"),
    ]
    assert _owners("CAST(round(sum(value) * 100) AS BIGINT) AS cents") == [
        ("__spark_entry__.py", "_BH_FDR_SQL"),
        ("__spark_entry__.py", "_DAILY_CENTS_CTE"),
        ("__spark_entry__.py", "_KENDALLS_W_SQL"),
    ]

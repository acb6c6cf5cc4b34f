"""Each piece of streaming scaffolding exists once (Spark-free: reads
the streaming/ sources). The exactly-once table fold — the function
that writes ``_epoch-`` markers and recovers an interrupted swap — is
one function every maintained table runs through, and the complete-mode
snapshot writer lives only in grid_monitor.py."""

from __future__ import annotations

import ast
import pathlib

STREAMING = (
    pathlib.Path(__file__).resolve().parent.parent
    / "vector_search_optimization_spark"
    / "streaming"
)


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

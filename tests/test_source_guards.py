"""Source-level guards (Spark-free: they read the sources with ``ast``).

- Every parameter default in the program is one some caller overrides:
  a default nobody changes is a constant, and a knob that selects a code
  path nobody takes is dead code.
- No module defines the same top-level name twice: Python keeps only the
  last binding, so the first is silently dead (a test that never runs, a
  function that is never called).
- Every top-level function and class of the program is reached from a
  root: code that only tests call is an API half nobody runs.
"""

from __future__ import annotations

import ast
import pathlib
from collections import defaultdict

ROOT = pathlib.Path(__file__).resolve().parent.parent
PACKAGE = ROOT / "vector_search_optimization_spark"
PROGRAM = [ROOT / "__spark_entry__.py", *sorted(PACKAGE.rglob("*.py"))]
CALLERS = [
    *PROGRAM,
    ROOT / "bench.py",
    *sorted((ROOT / "tools").rglob("*.py")),
    *sorted((ROOT / "perfbench").rglob("*.py")),
    *sorted((ROOT / "tests").rglob("*.py")),
]
# The benchmark is frozen: any argument it passes, in any form, stays.
FROZEN = ROOT / "perfbench"
# Deployment settings: chosen per machine, not by the program's callers.
EXEMPT = {
    ("vector_search_optimization_spark.session", "get_spark", "master"):
        "the Spark master URL is a deployment setting",
}


def _module(path: pathlib.Path) -> str:
    return ".".join(path.relative_to(ROOT).with_suffix("").parts)


def _parse(path: pathlib.Path) -> ast.Module:
    return ast.parse(path.read_text(), str(path))


class _Def:
    """One top-level function or method and its defaulted parameters."""

    def __init__(self, module: str, qualname: str, fn: ast.FunctionDef, method: bool):
        self.module, self.qualname = module, qualname
        a = fn.args
        self.positional = [p.arg for p in [*a.posonlyargs, *a.args]]
        self.offset = 1 if method else 0  # self / cls
        pos_defaults = dict(zip(self.positional[::-1], a.defaults[::-1]))
        kw_defaults = {
            p.arg: d for p, d in zip(a.kwonlyargs, a.kw_defaults) if d is not None
        }
        self.defaults: dict[str, ast.expr] = {**pos_defaults, **kw_defaults}

    def bound(self, call: ast.Call, via_attribute: bool) -> dict[str, ast.expr] | None:
        """Parameter -> argument for ``call``; None when a splat may pass
        any parameter."""
        if any(isinstance(a, ast.Starred) for a in call.args) or any(
            k.arg is None for k in call.keywords
        ):
            return None
        skip = self.offset if via_attribute else 0
        names = self.positional[skip:]
        out = dict(zip(names, call.args))
        out.update({k.arg: k.value for k in call.keywords})
        return out


def _definitions() -> dict[str, list[_Def]]:
    """Callable name -> its definitions; a class name maps to __init__."""
    defs: dict[str, list[_Def]] = defaultdict(list)
    for path in PROGRAM:
        mod = _module(path)
        for node in _parse(path).body:
            if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
                defs[node.name].append(_Def(mod, node.name, node, False))
            elif isinstance(node, ast.ClassDef):
                for item in node.body:
                    if not isinstance(item, (ast.FunctionDef, ast.AsyncFunctionDef)):
                        continue
                    static = any(
                        isinstance(d, ast.Name) and d.id == "staticmethod"
                        for d in item.decorator_list
                    )
                    d = _Def(mod, f"{node.name}.{item.name}", item, not static)
                    defs[item.name].append(d)
                    if item.name == "__init__":
                        defs[node.name].append(d)
    return defs


def _callee(node: ast.expr) -> tuple[str | None, bool]:
    if isinstance(node, ast.Name):
        return node.id, False
    if isinstance(node, ast.Attribute):
        return node.attr, True
    return None, False


def _same_literal(arg: ast.expr, default: ast.expr) -> bool:
    try:
        a, d = ast.literal_eval(arg), ast.literal_eval(default)
    except ValueError:
        return False
    return type(a) is type(d) and a == d


def _overridden() -> set[tuple[str, str, str]]:
    """(module, qualname, param) for every defaulted parameter some call
    passes a value other than its default."""
    defs = _definitions()
    hit: set[tuple[str, str, str]] = set()
    for path in CALLERS:
        frozen = FROZEN in path.parents
        for call in ast.walk(_parse(path)):
            if not isinstance(call, ast.Call):
                continue
            name, via_attr = _callee(call.func)
            if name == "partial" and call.args:
                # functools.partial(f, ...) may pass f anything
                target, _ = _callee(call.args[0])
                for d in defs.get(target, []):
                    hit.update((d.module, d.qualname, p) for p in d.defaults)
                continue
            for d in defs.get(name, []):
                # Foo(...) binds like self.__init__(...)
                attr = via_attr or d.qualname.endswith(".__init__")
                bound = d.bound(call, attr)
                for p, default in d.defaults.items():
                    if bound is None or (
                        p in bound
                        and (frozen or not _same_literal(bound[p], default))
                    ):
                        hit.add((d.module, d.qualname, p))
    return hit


def _defaulted() -> set[tuple[str, str, str]]:
    return {
        (d.module, d.qualname, p)
        for ds in _definitions().values()
        for d in ds
        for p in d.defaults
    }


def test_every_parameter_default_is_overridden_by_some_caller():
    never = sorted(_defaulted() - _overridden() - set(EXEMPT))
    assert not never, (
        f"{len(never)} defaulted parameters no caller overrides; make each "
        "the constant it always is:\n"
        + "\n".join(f"  {m}.{f}({p})" for m, f, p in never)
    )


def _top_level_names(tree: ast.Module) -> list[tuple[str, int]]:
    out = []
    for node in tree.body:
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
            out.append((node.name, node.lineno))
    return out


def test_no_top_level_name_is_defined_twice():
    dupes = []
    for path in [*PROGRAM, *sorted((ROOT / "tests").rglob("*.py"))]:
        seen: dict[str, int] = {}
        for name, line in _top_level_names(_parse(path)):
            if name in seen:
                dupes.append(f"  {_module(path)}.{name}: L{seen[name]} and L{line}")
            seen.setdefault(name, line)
    assert not dupes, "defined twice (only the last one exists):\n" + "\n".join(dupes)


# --- reachability -------------------------------------------------------------
#
# Roots: the module-level code of __spark_entry__.py (``_QUERIES`` holds
# every query builder and oracle generator), bench.py, tools/, perfbench/
# and the three lists below, which are kept here and nowhere else. A name
# resolves by spelling: a bare name, an attribute or an imported name that
# matches a top-level definition reaches every definition so named, so the
# walk over-reaches rather than misses a caller. A package ``__init__``
# re-export and a module's ``__all__`` reach nothing.

ENTRY = ROOT / "__spark_entry__.py"
SCRIPTS = [
    ROOT / "bench.py",
    *sorted((ROOT / "tools").rglob("*.py")),
    *sorted(FROZEN.rglob("*.py")),
]

# The streaming surface: monitor starters, the merges a maintained table
# is folded with, and the stream sources they read. A registry query
# returns a batch frame, so only tests start these.
STREAMING = [
    "read_events_stream",
    "sessionized_counts_stream",
    "running_user_stats_stream",
    "asof_click_purchase_stream",
    "first_seen_dedup_stream",
    "register_replay_source",
    "heavy_hitter_monitor_stream",
    "interval_join_stream",
    "stream_dedup_against_corpus",
    "read_documents_stream",
    "stream_curate_to_parquet",
    "stream_maintain_table",
    "merge_counts",
    "merge_bitmaps",
    "merge_skyline",
    "actives_from_bitmap_table",
    "stream_drawdown_monitor",
    "stream_psi_monitor",
    "stream_ks_monitor",
    "start_daily_cents_monitor",
]
# Reference twins: the plain formulation an operator is checked against,
# with the test file that compares them.
TWINS = {
    "minhash_signatures": "tests/test_dedup.py",
    "simhash": "tests/test_dedup.py",
    "intra_group_pairs": "tests/test_kernel_equivalence.py",
    "nearest_centroid_crossjoin": "tests/test_nearest_centroid.py",
    "dbscan_kernel": "tests/test_outliers_dbscan.py",
    "all_pairs_topk": "tests/test_ann.py",
    "rp_table_buckets": "tests/test_kernel_equivalence.py",
    "_loo_knn_pair_join": "tests/test_r10_ops.py",
    "word_ngrams": "tests/test_kernel_equivalence.py",
    "interval_join_batch": "tests/test_streaming_joins.py",
}
# The only cover of a SURVEY.md step (COVERAGE.md names it there).
SURVEY_COVER = {
    "register_xlsx_source": "S6 Excel scan, executor-side",
    "write_upsert": "S11 keyed upsert sink",
    "fit_and_evaluate": "M5 timing harness",
    "umap_project": "M11 UMAP",
    "SearchIndex": "the search-client surface of SURVEY.md section 1.1",
}
LISTED = [*STREAMING, *TWINS, *SURVEY_COVER]


def _program_graph() -> tuple[dict[str, list[ast.AST]], list[ast.AST]]:
    """(name -> the top-level nodes that define it, root nodes)."""
    defs: dict[str, list[ast.AST]] = defaultdict(list)
    roots: list[ast.AST] = [_parse(p) for p in SCRIPTS]
    for path in PROGRAM:
        if path.name == "__init__.py":
            continue
        for node in _parse(path).body:
            if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
                defs[node.name].append(node)
            elif path == ENTRY:
                roots.append(node)
            elif isinstance(node, (ast.Assign, ast.AnnAssign)):
                targets = node.targets if isinstance(node, ast.Assign) else [node.target]
                for t in targets:
                    for n in ast.walk(t):
                        if isinstance(n, ast.Name) and n.id != "__all__":
                            defs[n.id].append(node)
    return defs, roots


def _names(node: ast.AST) -> set[str]:
    out = set()
    for n in ast.walk(node):
        if isinstance(n, ast.Name):
            out.add(n.id)
        elif isinstance(n, ast.Attribute):
            out.add(n.attr)
        elif isinstance(n, ast.alias):
            out.add(n.name.rsplit(".", 1)[-1])
    return out


def _reached(defs, roots: list[ast.AST], names: list[str]) -> set[str]:
    todo = [n for r in roots for n in _names(r) if n in defs] + list(names)
    seen: set[str] = set()
    while todo:
        name = todo.pop()
        if name in seen:
            continue
        seen.add(name)
        for node in defs[name]:
            todo.extend(n for n in _names(node) if n in defs and n not in seen)
    return seen


def _top_level_defs() -> list[tuple[str, str, int]]:
    return [
        (_module(path), node.name, node.end_lineno - node.lineno + 1)
        for path in PROGRAM
        for node in _parse(path).body
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef))
    ]


def test_every_definition_is_reached_from_a_root():
    defs, roots = _program_graph()
    seen = _reached(defs, roots, LISTED)
    dead = [f"  {m}.{n} ({lines} lines)" for m, n, lines in _top_level_defs() if n not in seen]
    assert not dead, (
        f"{len(dead)} top-level definitions no root reaches; delete each, "
        "or call it from the query that computes the same thing:\n" + "\n".join(dead)
    )


def test_root_lists_name_live_unreached_code():
    defs, roots = _program_graph()
    defined = {n for _, n, _ in _top_level_defs()}
    from_program = _reached(defs, roots, [])
    stale = [f"  {n}: not defined" for n in LISTED if n not in defined]
    stale += [f"  {n}: a non-list root reaches it" for n in LISTED if n in from_program]
    stale += [
        f"  {n}: {test} no longer names it"
        for n, test in TWINS.items()
        if n not in _names(_parse(ROOT / test))
    ]
    assert not stale, "stale root-list entries:\n" + "\n".join(stale)

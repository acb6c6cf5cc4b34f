"""Vector math as Catalyst expressions (SURVEY §2.8 F1-F6, F8).

The reference's kernels are numpy calls: ``np.linalg.norm`` (F1,
main-script1.ipynb:269 c13), safe-divide normalisation (F2, same cell),
euclidean/cosine/manhattan distances (F3-F5, main-script1.ipynb:310 c15,
chunk_similarities.ipynb:447 c21), ``np.fromstring`` vector parse (F6,
main-script1.ipynb:310 c15), z-score (F8, main-script1.ipynb:3767 c64).

Here every kernel is a *column expression* built from Spark higher-order
array functions (``transform`` / ``zip_with`` / ``aggregate``), so it runs
JVM-side inside whole-stage codegen — no Python round-trip, no UDF serde —
and composes with predicate pushdown and partial aggregation. All arithmetic
is promoted to double so results are reproducible across engines (the float
inputs stay float32 on disk; only the math is widened).

Each kernel (``dot``, ``l2_norm``, ``l2_normalize``, ``euclidean``,
``sq_euclidean``, ``cosine_similarity``, ``cosine_distance``,
``manhattan``, ``distance``, ``parse_vector``) is built as ONE SQL
expression: its text is rendered in Python and handed to ``F.expr``, one
Py4J round trip, where building the same tree through the Column API
(``F.col``, Python-lambda ``F.zip_with``/``F.aggregate``) costs hundreds.
The text spells out the same per-element math — ``CAST(v AS
ARRAY<DOUBLE>)``, ``zip_with``, ``aggregate(…, 0.0D, (acc, x) -> acc +
x)``, ``sqrt``, ``CASE WHEN ‖v‖ = 0.0D`` for the normalisation guard —
so Catalyst evaluates the same IEEE-754 operations in the same order and
results are bit-identical (pinned against the Column-built formulas in
tests/test_vector_functions.py). Cosine's zero guard is
``try_divide(<a, b>, ‖a‖ * ‖b‖)``: NULL exactly when the denominator is
±0 (where ``CASE WHEN d = 0.0D THEN NULL ELSE n / d END`` was NULL) and
otherwise the same division, but each norm appears once in the plan, so
a row's norm is computed once instead of twice. An operand is one of:

- a column name: each dotted part is backquoted, the way ``F.col``
  splits it (``"a.__v"`` → ``` `a`.`__v` ```; a name already holding
  backquotes is used as written);
- a sequence of numbers: an ``array(<x>D, …)`` literal (``vector_lit``);
- a ``Column``: its SQL text (``_jc.toString()``), exact for ``F.expr``
  columns — every kernel and ``vector_lit`` return one — and for
  ``F.col``/``F.slice``-style function calls.

The norm of a sequence operand is folded on the driver: ``math.sqrt`` of
a left fold ``acc + x * x`` from ``0.0``. Spark's ``aggregate`` runs the
same IEEE-754 double operations in the same order and ``sqrt`` is
correctly rounded on both sides, so the folded value is bit-identical to
the one the plan would compute; it enters the plan as one ``<n>D``
literal, and a cosine against a query vector carries the vector literal
once (the Column-built tree carried it five times).
"""

from __future__ import annotations

import math
from typing import Sequence, Union

import pandas as pd  # module-level: pandas_udf type hints resolve via globals
from pyspark.sql import Column
from pyspark.sql import functions as F

Operand = Union[str, Column, Sequence[float]]


def stack_vectors(series: "pd.Series") -> "np.ndarray":
    """pandas Series of fixed-length vectors → (n, dim) float64 matrix.

    Arrow hands mapInPandas/pandas_udf list columns as object arrays of
    np.ndarray; ``np.stack`` over those is ~50x faster than the boxed
    ``tolist()`` round-trip (measured 2.8s -> 0.05s at 5,755 x 3,072).
    Values are bit-identical to ``np.asarray(series.tolist(), np.float64)``.
    Falls back to the boxed path for ragged/plain-list input."""
    import numpy as np

    try:
        return np.stack(series.to_numpy()).astype(np.float64, copy=False)
    except ValueError:  # ragged rows or exotic element types
        return np.asarray(series.tolist(), dtype=np.float64)


_NON_FINITE = {"nan": "NaN", "inf": "Infinity", "-inf": "-Infinity"}


def _double_sql(x) -> str:
    """SQL literal of one double: ``repr`` of a Python float is its
    shortest round-trip decimal and Spark parses ``<x>D`` with a correctly
    rounded ``toDouble``, so the literal is bit-identical to
    ``F.lit(float(x))``; non-finite values go through the special strings
    a double cast accepts."""
    x = float(x)
    if math.isfinite(x):
        return f"{x!r}D"
    return f"CAST('{_NON_FINITE[repr(x)]}' AS DOUBLE)"


def _array_sql(values) -> str:
    return f"array({', '.join(map(_double_sql, values))})"


def vector_lit(values) -> Column:
    """Plan-literal array<double> of ``values``, built as ONE SQL
    expression instead of one ``F.lit`` per element (each of those is
    several Py4J round trips: 34 ms -> 0.6 ms at 64 dims, 1.8 s -> 11 ms
    at 3,072, measured on 4 vCPUs). Every element is bit-identical to
    ``F.lit(float(x))`` (see ``_double_sql``)."""
    return F.expr(_array_sql(values))


def _operand_sql(v: Operand) -> str:
    """SQL text of a kernel operand (see the module docstring)."""
    if isinstance(v, str):
        if "`" in v:
            return v
        return ".".join(f"`{part}`" for part in v.split("."))
    if isinstance(v, Column):
        return v._jc.toString()
    return _array_sql(v)


def _vec_sql(v: Operand) -> str:
    return f"CAST({_operand_sql(v)} AS ARRAY<DOUBLE>)"


def _sum_sql(a: Operand, b: Operand, term: str) -> str:
    """Sum over positions of ``term`` (in the lambda variables x, y)."""
    pairs = f"zip_with({_vec_sql(a)}, {_vec_sql(b)}, (x, y) -> {term})"
    return f"aggregate({pairs}, 0.0D, (acc, x) -> acc + x)"


def _dot_sql(a: Operand, b: Operand) -> str:
    return _sum_sql(a, b, "x * y")


def _norm_sql(v: Operand) -> str:
    """‖v‖; a sequence's norm is folded on the driver (module docstring)."""
    if isinstance(v, (str, Column)):
        return f"sqrt({_dot_sql(v, v)})"
    acc = 0.0
    for x in map(float, v):
        acc = acc + x * x
    return _double_sql(math.sqrt(acc))


def _cosine_sql(a: Operand, b: Operand) -> str:
    """<a, b> / (‖a‖·‖b‖), NULL when the denominator is zero (module
    docstring: the zero guard)."""
    return f"try_divide({_dot_sql(a, b)}, {_norm_sql(a)} * {_norm_sql(b)})"


def dot(a: Operand, b: Operand) -> Column:
    """Inner product <a, b>."""
    return F.expr(_dot_sql(a, b))


def l2_norm(v: Operand) -> Column:
    """F1 — euclidean norm (np.linalg.norm, main-script1.ipynb:269 c13)."""
    return F.expr(_norm_sql(v))


def l2_normalize(v: Operand) -> Column:
    """F2 — safe-divide unit-normalisation.

    Mirrors ``normalizar_vector`` (main-script1.ipynb:269 c13): a zero
    vector is returned unchanged rather than producing NaNs. One
    ``aggregate`` folds the squared norm and its finish lambda binds it
    for the ``transform``, so a row costs O(d): Spark's interpreted
    higher-order functions hoist nothing, and a norm written inside the
    ``transform`` body would be re-folded per element (O(d²)). The fold
    runs the same IEEE-754 operations in the same order as ``l2_norm``,
    so the result is bit-identical to dividing by it. The lambda
    variables carry names no column here uses, because the operand's
    text appears inside them.
    """
    vec = _vec_sql(v)
    return F.expr(
        f"aggregate({vec}, 0.0D, (__s, __x) -> __s + __x * __x, "
        f"__s -> CASE WHEN sqrt(__s) = 0.0D THEN {vec} "
        f"ELSE transform({vec}, __x -> __x / sqrt(__s)) END)"
    )


# The name of a former Arrow pandas-UDF twin, which lost to the fold above
# at 256 and 3,072 dims; kept because existing callers import it.
l2_normalize_kernel = l2_normalize


def euclidean(a: Operand, b: Operand) -> Column:
    """F3 — euclidean distance (np.linalg.norm(a-b), cdist euclidean)."""
    return F.expr(f"sqrt({_sum_sql(a, b, '(x - y) * (x - y)')})")


def sq_euclidean(a: Operand, b: Operand) -> Column:
    """Squared euclidean — argmin-equivalent to F3 without the sqrt.

    Use in nearest-centroid ranking: one fewer transcendental per candidate
    pair, same winner.
    """
    return F.expr(_sum_sql(a, b, "(x - y) * (x - y)"))


def cosine_similarity(a: Operand, b: Operand) -> Column:
    """F4 — cosine similarity (sklearn cosine_similarity,
    chunk_similarities.ipynb:447 c21). Zero-norm inputs yield NULL."""
    return F.expr(_cosine_sql(a, b))


def cosine_distance(a: Operand, b: Operand) -> Column:
    """F4 — cosine distance (sklearn cosine_distances,
    nuevo-kmeans-pre.ipynb:636 c29)."""
    return F.expr(f"1.0D - ({_cosine_sql(a, b)})")


def manhattan(a: Operand, b: Operand) -> Column:
    """F5 — manhattan/L1 distance (manhattan_distances import,
    main-script1.ipynb:79 c5)."""
    return F.expr(_sum_sql(a, b, "abs(x - y)"))


DISTANCES = {
    "euclidean": euclidean,
    "sqeuclidean": sq_euclidean,
    "cosine": cosine_distance,
    "manhattan": manhattan,
}


def distance(a: Operand, b: Operand, metric: str = "euclidean") -> Column:
    """Metric dispatch used by the join/search operators."""
    try:
        return DISTANCES[metric](a, b)
    except KeyError:
        raise ValueError(f"unknown metric {metric!r}; one of {sorted(DISTANCES)}")


def parse_vector(s: Column | str) -> Column:
    """F6 — '"[0.1, -0.2, ...]"' string → array<float>.

    Spark-side equivalent of ``np.fromstring(c[1:-1], sep=',')``
    (main-script1.ipynb:310 c15), needed for CSV round-trips of the
    centroid table. The pattern is a raw SQL string literal, so its
    backslashes reach the regex as written.
    """
    cleaned = f"regexp_replace({_operand_sql(s)}, R'[\\[\\]\\s]', '')"
    return F.expr(
        f"CASE WHEN {cleaned} = '' THEN NULL "
        f"ELSE transform(split({cleaned}, ','), x -> CAST(x AS FLOAT)) END"
    )


def vector_to_string(v: Column | str) -> Column:
    """Inverse of parse_vector for CSV sinks: array → "[f, f, ...]"."""
    col = F.col(v) if isinstance(v, str) else v
    return F.concat(F.lit("["), F.array_join(col, ", "), F.lit("]"))


def z_score(value: Column, mean: Column, std: Column) -> Column:
    """F8 — (x - mean) / std with NULL on zero std
    (main-script1.ipynb:3767 c64 divides by np.std; ddof=0 there)."""
    return F.when(std == 0.0, F.lit(None)).otherwise((value - mean) / std)

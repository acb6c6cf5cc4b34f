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
"""

from __future__ import annotations

import math

import pandas as pd  # module-level: pandas_udf type hints resolve via globals
from pyspark.sql import Column
from pyspark.sql import functions as F


def _d(v: Column | str) -> Column:
    """Array column promoted to array<double> for stable arithmetic."""
    col = F.col(v) if isinstance(v, str) else v
    return col.cast("array<double>")


def stack_vectors(series: "pd.Series", dtype=None) -> "np.ndarray":
    """pandas Series of fixed-length vectors → (n, dim) matrix.

    Arrow hands mapInPandas/pandas_udf list columns as object arrays of
    np.ndarray; ``np.stack`` over those is ~50x faster than the boxed
    ``tolist()`` round-trip (measured 2.8s -> 0.05s at 5,755 x 3,072).
    Values are bit-identical to ``np.asarray(series.tolist(), dtype)``.
    Falls back to the boxed path for ragged/plain-list input."""
    import numpy as np

    dtype = dtype or np.float64
    try:
        return np.stack(series.to_numpy()).astype(dtype, copy=False)
    except ValueError:  # ragged rows or exotic element types
        return np.asarray(series.tolist(), dtype=dtype)


_NON_FINITE = {"nan": "NaN", "inf": "Infinity", "-inf": "-Infinity"}


def vector_lit(values) -> Column:
    """Plan-literal array<double> of ``values``, built as ONE SQL
    expression instead of one ``F.lit`` per element (each of those is
    several Py4J round trips: 34 ms -> 0.6 ms at 64 dims, 1.8 s -> 11 ms
    at 3,072, measured on 4 vCPUs). ``repr`` of a Python float is its shortest round-trip decimal
    and Spark parses ``<x>D`` with a correctly rounded ``toDouble``, so
    every element is bit-identical to ``F.lit(float(x))``; non-finite
    values go through the special strings a double cast accepts."""

    def elem(x) -> str:
        x = float(x)
        if math.isfinite(x):
            return f"{x!r}D"
        return f"CAST('{_NON_FINITE[repr(x)]}' AS DOUBLE)"

    return F.expr(f"array({', '.join(map(elem, values))})")


def dot(a: Column | str, b: Column | str) -> Column:
    """Inner product <a, b>."""
    return F.aggregate(
        F.zip_with(_d(a), _d(b), lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def l2_norm(v: Column | str) -> Column:
    """F1 — euclidean norm (np.linalg.norm, main-script1.ipynb:269 c13)."""
    return F.sqrt(dot(v, v))


def l2_normalize(v: Column | str) -> Column:
    """F2 — safe-divide unit-normalisation.

    Mirrors ``normalizar_vector`` (main-script1.ipynb:269 c13): a zero
    vector is returned unchanged rather than producing NaNs.
    """
    vec = _d(v)
    norm = l2_norm(v)
    return F.when(norm == 0.0, vec).otherwise(F.transform(vec, lambda x: x / norm))


def l2_normalize_kernel(col: Column | str) -> Column:
    """F2 as an Arrow-batched pandas UDF — the high-dimension path.

    The expression form (l2_normalize) runs interpreted per element in
    Spark's higher-order functions; at dim ~3000 that is minutes per few
    thousand rows, while one numpy pass per Arrow batch is milliseconds
    (measured 344s -> <2s on the reference-shape workload). Semantics
    identical incl. the zero-vector pass-through.
    """
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("array<double>")
    def _norm(s: pd.Series) -> pd.Series:
        import numpy as np

        mat = stack_vectors(s)
        norms = np.linalg.norm(mat, axis=1, keepdims=True)
        norms[norms == 0.0] = 1.0  # zero vector passes through unchanged
        return pd.Series(list(mat / norms))

    return _norm(F.col(col) if isinstance(col, str) else col)


def euclidean(a: Column | str, b: Column | str) -> Column:
    """F3 — euclidean distance (np.linalg.norm(a-b), cdist euclidean)."""
    return F.sqrt(
        F.aggregate(
            F.zip_with(_d(a), _d(b), lambda x, y: (x - y) * (x - y)),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
    )


def sq_euclidean(a: Column | str, b: Column | str) -> Column:
    """Squared euclidean — argmin-equivalent to F3 without the sqrt.

    Use in nearest-centroid ranking: one fewer transcendental per candidate
    pair, same winner.
    """
    return F.aggregate(
        F.zip_with(_d(a), _d(b), lambda x, y: (x - y) * (x - y)),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def cosine_similarity(a: Column | str, b: Column | str) -> Column:
    """F4 — cosine similarity (sklearn cosine_similarity,
    chunk_similarities.ipynb:447 c21). Zero-norm inputs yield NULL."""
    denom = l2_norm(a) * l2_norm(b)
    return F.when(denom == 0.0, F.lit(None)).otherwise(dot(a, b) / denom)


def cosine_distance(a: Column | str, b: Column | str) -> Column:
    """F4 — cosine distance (sklearn cosine_distances,
    nuevo-kmeans-pre.ipynb:636 c29)."""
    return F.lit(1.0) - cosine_similarity(a, b)


def manhattan(a: Column | str, b: Column | str) -> Column:
    """F5 — manhattan/L1 distance (manhattan_distances import,
    main-script1.ipynb:79 c5)."""
    return F.aggregate(
        F.zip_with(_d(a), _d(b), lambda x, y: F.abs(x - y)),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


DISTANCES = {
    "euclidean": euclidean,
    "sqeuclidean": sq_euclidean,
    "cosine": cosine_distance,
    "manhattan": manhattan,
}


def distance(a: Column | str, b: Column | str, metric: str = "euclidean") -> Column:
    """Metric dispatch used by the join/search operators."""
    try:
        return DISTANCES[metric](a, b)
    except KeyError:
        raise ValueError(f"unknown metric {metric!r}; one of {sorted(DISTANCES)}")


def parse_vector(s: Column | str) -> Column:
    """F6 — '"[0.1, -0.2, ...]"' string → array<float>.

    Spark-side equivalent of ``np.fromstring(c[1:-1], sep=',')``
    (main-script1.ipynb:310 c15), needed for CSV round-trips of the
    centroid table.
    """
    col = F.col(s) if isinstance(s, str) else s
    cleaned = F.regexp_replace(col, r"[\[\]\s]", "")
    return F.when(cleaned == "", F.lit(None)).otherwise(
        F.transform(F.split(cleaned, ","), lambda x: x.cast("float"))
    )


def vector_to_string(v: Column | str) -> Column:
    """Inverse of parse_vector for CSV sinks: array → "[f, f, ...]"."""
    col = F.col(v) if isinstance(v, str) else v
    return F.concat(F.lit("["), F.array_join(col, ", "), F.lit("]"))


def z_score(value: Column, mean: Column, std: Column) -> Column:
    """F8 — (x - mean) / std with NULL on zero std
    (main-script1.ipynb:3767 c64 divides by np.std; ddof=0 there)."""
    return F.when(std == 0.0, F.lit(None)).otherwise((value - mean) / std)


def hash_embedding_kernel(
    col: Column | str, dim: int = 16, seed: int = 42
) -> Column:
    """Deterministic text-embedding stand-in (Arrow-batched).

    The reference embeds chunks with a hosted 3072-dim model
    (main-script1-extenso(1er).ipynb:293 c14) — no embedding model ships
    in this container, so pipeline plumbing uses this seeded surrogate:
    unit-normalised gaussian vector drawn from a RNG keyed by
    (seed, utf-8 text hash). Identical text → identical vector, so
    downstream index/probe/dedup tests assert exact behavior. Swap in a
    real model by replacing this one kernel; every consumer takes any
    ``array<float>`` column.
    """
    import hashlib

    from pyspark.sql.functions import pandas_udf

    @pandas_udf("array<float>")
    def _embed(s: pd.Series) -> pd.Series:
        import numpy as np

        out = []
        for text in s:
            digest = hashlib.sha256(
                f"{seed}:".encode() + (text or "").encode("utf-8")
            ).digest()
            rng = np.random.RandomState(
                int.from_bytes(digest[:4], "big") % (2**31 - 1)
            )
            v = rng.standard_normal(dim)
            n = float(np.linalg.norm(v))
            out.append((v / n if n else v).astype(np.float32))
        return pd.Series(out)

    return _embed(F.col(col) if isinstance(col, str) else col)

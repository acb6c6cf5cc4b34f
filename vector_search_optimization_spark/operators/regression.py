"""Closed-form linear models at corpus scale (normal equations).

Training a linear probe (quality regressor / cheap feature-based
classifier head) over 100 TB does not need SGD or MLlib iterations:
for d features the least-squares solution is ``w = (XᵀX)⁻¹ Xᵀy`` and
XᵀX / Xᵀy are plain algebraic aggregates — ONE combinable map-side
partial aggregation over the corpus (d·(d+1)/2 + d + 2 running sums),
one tiny shuffle of partial states, and a d×d solve on the driver.
Scoring is a pure map-side projection with the solved weights inlined
as literals. That is the whole plan: no iteration, no caching, no
per-row Python.

Determinism contract (what makes the solved weights value-oracle-able):
when every feature and the target are INTEGER-valued columns, the Gram
sums are computed in ``decimal(38,0)`` — exact at any corpus size, no
float summation-order noise — so identical data yields bit-identical
Gram integers under ANY partitioning, and the (deterministic, same
LAPACK build) numpy solve on those integers yields bit-identical
weights. Float features would make the Gram order-dependent; gate on
integer inputs rather than silently degrade.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

_INT_TYPES = {"int", "bigint", "smallint", "tinyint"}


def gram_aggregate(df: DataFrame, feature_cols: list[str], target_col: str):
    """Exact-integer normal-equation sufficient statistics.

    Returns ``(A, b, n)`` where ``A[i][j] = Σ x_i·x_j`` and
    ``b[i] = Σ x_i·y`` over the augmented feature vector
    ``x = (1, feature_cols...)`` — Python ints (exact), plus the row
    count. One aggregation pass; partial-aggregated map-side."""
    for c in [*feature_cols, target_col]:
        t = dict(df.dtypes)[c]
        if t not in _INT_TYPES:
            raise ValueError(
                f"gram_aggregate needs integer columns for exact sums; "
                f"{c} is {t}"
            )
    dec = "decimal(19,0)"
    xs = [F.lit(1).cast(dec)] + [F.col(c).cast(dec) for c in feature_cols]
    y = F.col(target_col).cast(dec)
    aggs, names = [], []
    for i in range(len(xs)):
        for j in range(i, len(xs)):
            names.append(("A", i, j))
            aggs.append(F.sum(xs[i] * xs[j]).alias(f"a_{i}_{j}"))
    for i in range(len(xs)):
        names.append(("b", i))
        aggs.append(F.sum(xs[i] * y).alias(f"b_{i}"))
    aggs.append(F.count(F.lit(1)).alias("n"))
    row = df.agg(*aggs).collect()[0]  # bounded: ONE row of partial sums
    d = len(xs)
    A = [[0] * d for _ in range(d)]
    b = [0] * d
    for nm in names:
        if nm[0] == "A":
            _, i, j = nm
            A[i][j] = A[j][i] = int(row[f"a_{i}_{j}"])
        else:
            _, i = nm
            b[i] = int(row[f"b_{i}"])
    return A, b, int(row["n"])


def fit_linear_probe(
    df: DataFrame, feature_cols: list[str], target_col: str
) -> list[float]:
    """Least-squares weights ``[w0 (intercept), w_1..w_d]`` solved from
    the exact-integer Gram via numpy. Deterministic: exact ints in,
    one fixed LAPACK ``solve`` out."""
    import numpy as np

    A, b, _ = gram_aggregate(df, feature_cols, target_col)
    w = np.linalg.solve(
        np.array(A, dtype="float64"), np.array(b, dtype="float64")
    )
    return [float(v) for v in w]


def score_linear_probe(
    df: DataFrame,
    feature_cols: list[str],
    weights: list[float],
) -> DataFrame:
    """Map-side scoring: ``w0 + Σ w_i·x_i`` with the weights inlined as
    double literals, left-associated — the same IEEE evaluation order an
    ANSI SQL oracle writes, so predictions are bit-identical
    cross-engine before any rounding."""
    expr = F.lit(weights[0])
    for w, c in zip(weights[1:], feature_cols):
        expr = expr + F.lit(w) * F.col(c).cast("double")
    return df.withColumn("pred", expr)

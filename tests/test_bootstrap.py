"""Deterministic Poisson bootstrap: the weight law must match the
Poisson(1) inverse CDF, replicate weights must average ~1, the CI must
cover a planted mean shift, and everything must be bit-stable across
invocations (no rand() anywhere)."""

from __future__ import annotations

import math

from pyspark.sql import functions as F

from vector_search_optimization_spark.operators import bootstrap as BS


def test_thresholds_are_poisson1_cdf():
    ts = BS.poisson1_thresholds()
    want = 0.0
    term = math.exp(-1.0)
    for k, t in enumerate(ts):
        want += term
        assert abs(t - want) < 1e-15, k
        term /= k + 1
    assert 0.999 < ts[-1] < 1.0


def test_weight_law_and_mean_near_one(spark):
    # map a fine uniform grid through the inverse CDF: the empirical
    # PMF must match Poisson(1) to grid resolution, hence mean ~ 1
    n = 20_000
    u = spark.range(n).select(((F.col("id") + 0.5) / n).alias("u"))
    w = u.select(BS.poisson1_weight(F.col("u")).alias("w"))
    pmf = {r["w"]: r["count"] / n for r in w.groupBy("w").count().collect()}
    for k in range(4):
        want = math.exp(-1.0) / math.factorial(k)
        assert abs(pmf[k] - want) < 2e-3, k
    mean = sum(k * p for k, p in pmf.items())
    assert abs(mean - 1.0) < 5e-3


def test_ci_covers_planted_shift_and_is_deterministic(spark):
    rows = [(i, i % 2 == 0, (10.0 if i % 2 == 0 else 5.0) + (i % 7) * 0.1)
            for i in range(400)]
    df = spark.createDataFrame(rows, "k long, g boolean, v double")

    def run():
        [r] = BS.poisson_bootstrap_mean_diff(df, "k", "g", "v").collect()
        return r

    r1, r2 = run(), run()
    assert r1 == r2  # pure function of the data
    assert r1["n_boot"] == 64
    assert r1["ci_lo"] < 5.0 < r1["ci_hi"]  # true diff = 5.0
    assert r1["ci_hi"] - r1["ci_lo"] < 1.0  # tight at n=400

"""Deterministic Poisson bootstrap — confidence intervals on massive
data in ONE pass, with NO rand().

The Poisson bootstrap (Chamandy et al. '12, "Estimating Uncertainty
for Massive Data Streams") replaces resampling-with-replacement by an
independent Poisson(1) weight per (row, replicate): each replicate's
statistic is a weighted aggregate, so B replicates cost one scan of
the data exploded ×B — no shuffling of resampled copies, no
coordination, and every weight here derives from sha256(key | b) (the
engine's deterministic-sampling discipline: rerun-, retry-,
partitioning- and ENGINE-stable, so the oracle recomputes the exact
same weights).

Scale notes: the exploded frame never materializes — it's a generated
column feeding a combinable (replicate, group) aggregate whose shuffle
carries B×groups partial states. B is the dial (64 gives ~±12% CI-width
accuracy on the CI itself; the statistic's cost is linear in B).
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

#: 16^13 = 2^52 — the u52 hash-uniform denominator (exactly representable)
POW52 = float(1 << 52)


def poisson1_thresholds() -> list[float]:
    """Cumulative P(X <= k), k = 0..6, for Poisson(1) — the
    inverse-CDF thresholds. Python doubles, embedded as 17-digit
    literals on the SQL side so both engines compare the same values."""
    cum, term, out = 0.0, math.exp(-1.0), []
    for k in range(7):
        cum += term
        out.append(cum)
        term /= k + 1
    return out


def poisson1_weight(u: Column) -> Column:
    """Inverse-CDF Poisson(1) draw from a uniform column (clamped at
    ``max_k`` — P(X > 6) ≈ 8e-5, negligible CI effect and identical on
    both engines)."""
    w = None
    for k, t in enumerate(poisson1_thresholds()):
        w = F.when(u < F.lit(t), k) if w is None else w.when(u < F.lit(t), k)
    return w.otherwise(F.lit(len(poisson1_thresholds())))


def poisson1_weight_sql(u_expr: str) -> str:
    """DuckDB twin of :func:`poisson1_weight`."""
    whens = "\n".join(
        f"  WHEN {u_expr} < {t:.17e} THEN {k}"
        for k, t in enumerate(poisson1_thresholds())
    )
    return f"CASE\n{whens}\n  ELSE {len(poisson1_thresholds())} END"


def hash_uniform(key: Column, replicate: Column) -> Column:
    """u52 uniform in [0, 1) from sha256(key | replicate) — the
    weighted-sample hash-uniform extended with a replicate index."""
    return (
        F.conv(
            F.substring(
                F.sha2(
                    F.concat_ws(
                        "|", key.cast("string"), replicate.cast("string")
                    ),
                    256,
                ),
                1,
                13,
            ),
            16,
            10,
        ).cast("double")
        / F.lit(POW52)
    )


def poisson_bootstrap_mean_diff(
    df: DataFrame,
    key_col: str,
    group_col: str,
    value_col: str,
) -> DataFrame:
    """Bootstrap CI for the difference in means between two cohorts
    (``group_col`` boolean: true = cohort A). Returns ONE row:
    the 2.5% and 97.5% quantiles of the per-replicate weighted mean
    difference over 64 replicates, plus the replicate count. Point estimates are for the
    CALLER (derive them tie-free from exact sums — this operator only
    owns the resampling distribution).

    Plan: explode a generated replicate index (never materialized), one
    combinable (replicate, cohort) aggregate, a B-row pivot, one exact
    percentile over B values."""
    b = F.explode(F.sequence(F.lit(0), F.lit(63))).alias("b")
    rep = df.select(
        F.col(key_col).alias("__k"),
        F.col(group_col).alias("__g"),
        F.col(value_col).cast("double").alias("__v"),
        b,
    )
    w = poisson1_weight(
        hash_uniform(F.col("__k"), F.col("b"))
    ).cast("double")
    agg = rep.groupBy("b", "__g").agg(
        F.sum(w * F.col("__v")).alias("__ws"), F.sum(w).alias("__ww")
    )
    per_b = agg.groupBy("b").agg(
        (
            F.max(F.when(F.col("__g"), F.col("__ws")))
            / F.max(F.when(F.col("__g"), F.col("__ww")))
            - F.max(F.when(~F.col("__g"), F.col("__ws")))
            / F.max(F.when(~F.col("__g"), F.col("__ww")))
        ).alias("__d")
    )
    return per_b.agg(
        F.count(F.lit(1)).alias("n_boot"),
        F.percentile("__d", F.lit(0.025)).alias("__lo"),
        F.percentile("__d", F.lit(0.975)).alias("__hi"),
    ).select(
        "n_boot",
        F.round("__lo", 6).alias("ci_lo"),
        F.round("__hi", 6).alias("ci_hi"),
    )

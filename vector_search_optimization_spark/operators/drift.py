"""Input-drift detection — population stability index (PSI) over value
distributions, shared by the batch query (``evt_psi_drift``) and the
streaming monitor (streaming.drift).

PSI is the standard production-ML drift score: bucket a numeric column
into fixed-width bins defined by a REFERENCE cohort's range, compare the
reference and current bucket proportions, and sum
``(p_ref − p_cur)·ln(p_ref/p_cur)``. Conventional reading: < 0.1 stable,
0.1–0.2 moderate shift, > 0.2 drifted.

One definition for batch and stream: both paths use ``bucketize`` for
the binning expression and ``psi_from_counts`` for the score, so the
incremental monitor is exactly the batch computation replayed over the
accumulated stream state (equivalence-tested in
tests/test_streaming_drift.py).

Scale notes (100 TB): bucket counting is ONE combinable conditional
aggregate per cohort — map-side partials, a (group, bucket)-sized
shuffle; the PSI combine runs on the tiny (groups × buckets) frame. The
streaming path keeps only that frame as state (via the running groupBy
count), never rows.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

EPS = 1e-6  # proportion floor — the standard zero-bucket smoothing
PSI_DRIFT_THRESHOLD = 0.2


def bucketize(value: Column | str, lo: Column, hi: Column) -> Column:
    """Fixed-width bucket index in [0, 10) for ``value`` over
    the [lo, hi] reference range; out-of-range values clamp into the
    edge buckets (the current cohort may exceed the reference range —
    that mass lands in the boundary bins and drives PSI up, which is
    the signal, not an error)."""
    v = F.col(value) if isinstance(value, str) else value
    # degenerate reference range (hi == lo: constant column / one-value
    # cohort) puts everything in bucket 0 instead of raising — Spark 4
    # ANSI errors even on DOUBLE division by zero
    return F.when(hi > lo,
        F.least(
            F.lit(9),
            F.greatest(
                F.lit(0),
                F.floor((v - lo) / (hi - lo) * 10).cast("int"),
            ),
        ),
    ).otherwise(F.lit(0))


def psi_from_counts(counts: DataFrame) -> DataFrame:
    """PSI per group from a (group, bucket, n_ref, n_cur) frame:
    proportions with the 1e-6 floor, summed over present buckets, plus
    the conventional 0.2 drift flag. The input frame is (groups ×
    buckets)-sized, so everything here is a tiny combine."""
    totals = counts.groupBy("event_type").agg(
        F.sum("n_ref").alias("__t_ref"), F.sum("n_cur").alias("__t_cur")
    )
    # a cohort can be EMPTY for a group (novel event_type appearing only
    # in the stream, or a group whose rows all fall in one cohort):
    # ANSI errors on the 0/0 proportion, so guard the division and let
    # the EPS floor take over — every bucket of the missing cohort reads
    # as eps, PSI goes large, drifted flips true (maximal drift is the
    # right report for a brand-new group)
    p_ref = F.greatest(
        F.when(F.col("__t_ref") > 0, F.col("n_ref") / F.col("__t_ref")).otherwise(
            F.lit(0.0)
        ),
        F.lit(EPS),
    )
    p_cur = F.greatest(
        F.when(F.col("__t_cur") > 0, F.col("n_cur") / F.col("__t_cur")).otherwise(
            F.lit(0.0)
        ),
        F.lit(EPS),
    )
    return (
        counts.join(totals, "event_type")
        .groupBy("event_type")
        .agg(
            F.round(
                F.sum((p_ref - p_cur) * F.log(p_ref / p_cur)), 6
            ).alias("psi")
        )
        .select(
            "event_type",
            "psi",
            (F.col("psi") > PSI_DRIFT_THRESHOLD).alias("drifted"),
        )
    )


def psi_drift(df: DataFrame, ref_pred: Column) -> DataFrame:
    """Batch PSI between the rows matching ``ref_pred`` (reference
    cohort) and the rest (current cohort): reference range via a one-row
    broadcast, ONE conditional bucket-count aggregate over both cohorts,
    then the shared PSI combine."""
    e = df.select("event_type", "value", ref_pred.alias("__is_ref"))
    rng = e.where("__is_ref").agg(
        F.min("value").alias("lo"), F.max("value").alias("hi")
    )
    counts = (
        e.join(F.broadcast(rng))
        .select(
            "event_type",
            "__is_ref",
            bucketize("value", F.col("lo"), F.col("hi")).alias(
                "bucket"
            ),
        )
        .groupBy("event_type", "bucket")
        .agg(
            F.sum(F.col("__is_ref").cast("long")).alias("n_ref"),
            F.sum((~F.col("__is_ref")).cast("long")).alias("n_cur"),
        )
    )
    return psi_from_counts(counts).orderBy("event_type")


def ks_two_sample(
    df: DataFrame,
    group_col: str,
    value_col: str,
    sample_col: str,
    a_name: str = "n_a",
    b_name: str = "n_b",
) -> DataFrame:
    """Exact two-sample Kolmogorov–Smirnov distance per group — the
    distribution-shift test PSI approximates with buckets, computed
    EXACTLY and integer-first so the oracle comparison is tie-free:

    D = max_v |F_a(v) − F_b(v)| = max_v |k_a(v)·n_b − k_b(v)·n_a| / (n_a·n_b)

    ``sample_col`` is a boolean column (true → sample A). Pipeline: ONE
    combinable groupBy on (group, value) producing per-value counts for
    both samples (map-side partials — the raw rows never shuffle twice),
    a cumulative window per group over the value grid (value-DISTINCT
    rows only, so the window input is bounded by cardinality, not row
    count), then max of the INTEGER numerator |k_a·n_b − k_b·n_a|. The
    exported ``ks_stat`` is DERIVED from the integer numerator and the
    integer counts by one IEEE double division — bit-identical across
    engines (the evt_gap_fill derived-ratio rule). Groups where either
    sample is empty are dropped (D is undefined there).

    Numerator overflow bound: k·n ≤ n_a·n_b must fit a signed 64-bit —
    holds to ~3e9 rows per side per group; beyond that swap the
    numerator math to double (the statistic itself, not the gate,
    degrades gracefully).

    Returns (group_col, n_a, n_b, d_num, ks_stat)."""
    per_v = df.groupBy(group_col, value_col).agg(
        F.sum(F.when(F.col(sample_col), 1).otherwise(0))
        .cast("long")
        .alias("__ca"),
        F.sum(F.when(~F.col(sample_col), 1).otherwise(0))
        .cast("long")
        .alias("__cb"),
    )
    return ks_from_value_counts(
        per_v, group_col, value_col, "__ca", "__cb", a_name, b_name
    )


def ks_from_value_counts(
    per_v: DataFrame,
    group_col: str,
    value_col: str,
    a_col: str,
    b_col: str,
    a_name: str = "n_a",
    b_name: str = "n_b",
) -> DataFrame:
    """The counts→D combine of ks_two_sample, factored out so the
    streaming monitor (streaming.drift.stream_ks_monitor) applies the
    EXACT batch definition to its maintained (group, value) count state
    — the one-definition rule the PSI pair follows. Input: one row per
    (group, value) with per-sample counts ``a_col``/``b_col``."""
    w = (
        Window.partitionBy(group_col)
        .orderBy(value_col)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = per_v.select(
        group_col,
        F.sum(a_col).over(w).alias("__ka"),
        F.sum(b_col).over(w).alias("__kb"),
    )
    tot = per_v.groupBy(group_col).agg(
        F.sum(a_col).alias(a_name), F.sum(b_col).alias(b_name)
    )
    na, nb = F.col(a_name), F.col(b_name)
    return (
        cum.join(tot, group_col)
        .groupBy(group_col, a_name, b_name)
        .agg(
            F.max(
                F.abs(F.col("__ka") * nb - F.col("__kb") * na)
            ).alias("d_num")
        )
        .where((na > 0) & (nb > 0))
        .select(
            group_col,
            a_name,
            b_name,
            "d_num",
            (
                F.col("d_num").cast("double")
                / (na * nb).cast("double")
            ).alias("ks_stat"),
        )
    )

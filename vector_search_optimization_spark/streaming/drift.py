"""Streaming input-drift monitor — incremental PSI against a static
reference profile.

The batch PSI computation (operators.drift) replayed continuously: a
reference cohort's bucket profile is computed ONCE (batch), and the
event stream maintains a running (group, bucket) count via the
streaming state store; every micro-batch the tiny count frame joins the
static reference profile and the SHARED ``psi_from_counts`` combine
rewrites the latest per-group PSI scores (the KS monitor does the same
with per-value counts). Both write through
``grid_monitor.start_grid_rewrite_monitor``. Batch and stream agree
exactly once the stream has absorbed the same rows
(tests/test_streaming_drift.py).

Scale notes (100 TB/day streams): state is (groups × buckets) rows —
constant, independent of stream volume; each micro-batch shuffles only
its own partial counts (map-side combined). The PSI rewrite touches a
frame of the same tiny size. The reference range ships as two literals
(the profile is static by definition; re-profiling is a new monitor).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from ..operators.drift import bucketize, ks_from_value_counts, psi_from_counts
from .grid_monitor import start_grid_rewrite_monitor

__all__ = ["stream_psi_monitor", "stream_ks_monitor"]


def stream_psi_monitor(
    stream_df: DataFrame,
    lo: float,
    hi: float,
    ref_counts: DataFrame,
    out_path: str,
    checkpoint_dir: str,
) -> StreamingQuery:
    """Start the monitor: running bucket counts over the stream
    (complete-mode streaming aggregate — the state store holds the
    (group, bucket) frame), full-outer joined per micro-batch with the
    static reference profile so one-sided buckets keep their mass, PSI
    via the shared combine, latest scores overwritten at ``out_path``.

    ``lo``/``hi`` are the reference cohort's value range; ``ref_counts``
    its (group, bucket, n_ref) frame, bucketed over that range.
    """
    bucketed = stream_df.select(
        F.col("event_type"),
        bucketize("value", F.lit(float(lo)), F.lit(float(hi))).alias(
            "bucket"
        ),
    )
    counts = bucketed.groupBy("event_type", "bucket").count()

    def _snapshot(batch_df: DataFrame) -> DataFrame:
        cur = batch_df.withColumnRenamed("count", "n_cur")
        joined = ref_counts.join(cur, ["event_type", "bucket"], "full").select(
            F.col("event_type"),
            F.col("bucket"),
            F.coalesce("n_ref", F.lit(0)).alias("n_ref"),
            F.coalesce("n_cur", F.lit(0)).alias("n_cur"),
        )
        return psi_from_counts(joined).orderBy("event_type")

    return start_grid_rewrite_monitor(counts, out_path, checkpoint_dir, _snapshot)


def stream_ks_monitor(
    stream_df: DataFrame,
    ref_counts: DataFrame,
    out_path: str,
    checkpoint_dir: str,
) -> StreamingQuery:
    """Exact two-sample KS drift against a static reference sample,
    maintained incrementally: the stream keeps a running
    (group, value) count (complete-mode streaming aggregate — the state
    store holds one row per distinct (group, value), CARDINALITY-bounded
    exactly like the batch operator's window input, independent of
    stream volume), and every micro-batch full-outer joins the static
    reference's per-value counts and rewrites the latest per-group
    statistic via the SHARED ``ks_from_value_counts`` combine — so
    stream-after-absorbing-rows ≡ batch by construction
    (tests/test_streaming_drift.py pins it).

    ``ref_counts``: the reference cohort's per-value counts, columns
    exactly (event_type, value, n_ref) —
    ``ref.groupBy(group, value).count()`` with ``count`` renamed to
    ``n_ref``. Groups the stream has not reached yet (or reference-only
    groups) are dropped by the combine's n>0 guard, mirroring batch
    semantics. Continuous high-cardinality value columns should be
    quantized upstream (the statistic is then exact on the quantized
    grid — same contract as batch)."""
    counts = (
        stream_df.select("event_type", "value")
        .where(F.col("value").isNotNull())
        .groupBy("event_type", "value")
        .count()
    )

    def _snapshot(batch_df: DataFrame) -> DataFrame:
        cur = batch_df.withColumnRenamed("count", "n_cur")
        per_v = ref_counts.join(cur, ["event_type", "value"], "full").select(
            F.col("event_type"),
            F.col("value"),
            F.coalesce("n_ref", F.lit(0)).cast("long").alias("n_ref"),
            F.coalesce("n_cur", F.lit(0)).cast("long").alias("n_cur"),
        )
        return ks_from_value_counts(
            per_v, "event_type", "value", "n_ref", "n_cur",
            a_name="n_ref_total", b_name="n_cur_total",
        ).orderBy("event_type")

    return start_grid_rewrite_monitor(counts, out_path, checkpoint_dir, _snapshot)

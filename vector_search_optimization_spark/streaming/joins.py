"""Stream-stream joins — watermarked event-time interval joins.

The one Structured Streaming join family the engine had not yet
exercised: BOTH sides are unbounded streams, so Spark buffers each side
in the state store and the event-time range condition plus watermarks
bound how much state it must keep (without them a stream-stream join's
state grows forever — Spark rejects an inner interval join with no
watermark-derived state cleanup bound on either side).

The shape here is the classic attribution join: for every purchase,
find the same user's view events in the preceding window (view.ts ∈
[purchase.ts − window, purchase.ts]). Batch twin: the identical
condition as a plain inner join — stream and batch agree exactly once
both streams are drained (tests/test_streaming_joins.py).

Scale notes (100 TB/day streams): state per side is bounded by
(watermark delay + join window) × arrival rate, hash-partitioned on
user_id like any equi-join; late rows beyond the watermark are dropped
by the state cleanup, which is the documented trade of every
production stream-stream join. The range condition rides WITH the
user_id equi-condition, so the join is a keyed state lookup, never a
cross-stream scan.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

__all__ = ["interval_join_stream", "interval_join_batch"]


def _sides(
    views: DataFrame,
    purchases: DataFrame,
    watermark_delay: str | None,
) -> tuple[DataFrame, DataFrame]:
    v = views.select(
        F.col("user_id").alias("v_user"),
        F.col("event_id").alias("view_id"),
        F.col("ts").alias("view_ts"),
    )
    p = purchases.select(
        F.col("user_id").alias("p_user"),
        F.col("event_id").alias("purchase_id"),
        F.col("ts").alias("purchase_ts"),
        F.col("value").alias("purchase_value"),
    )
    if watermark_delay is not None:
        v = v.withWatermark("view_ts", watermark_delay)
        p = p.withWatermark("purchase_ts", watermark_delay)
    return v, p


def _joined(v: DataFrame, p: DataFrame, window_seconds: int) -> DataFrame:
    cond = (
        (F.col("v_user") == F.col("p_user"))
        & (F.col("view_ts") <= F.col("purchase_ts"))
        & (
            F.col("view_ts")
            >= F.col("purchase_ts") - F.expr(f"INTERVAL {window_seconds} SECONDS")
        )
    )
    return v.join(p, cond).select(
        F.col("p_user").alias("user_id"),
        "purchase_id",
        "view_id",
        "purchase_value",
    )


def interval_join_stream(
    view_stream: DataFrame,
    purchase_stream: DataFrame,
    watermark_delay: str = "2 hours",
) -> DataFrame:
    """Watermarked stream-stream attribution join: each purchase pairs
    with the same user's views in the preceding hour.
    Both sides carry a watermark so the state store evicts buffered rows
    once they can no longer match (view state is held for watermark +
    window; purchase state for the watermark)."""
    v, p = _sides(view_stream, purchase_stream, watermark_delay)
    return _joined(v, p, 3600)


def interval_join_batch(views: DataFrame, purchases: DataFrame) -> DataFrame:
    """The batch twin — the SAME projection and join condition with no
    watermarks (a bounded input needs no state eviction); the streaming
    result must equal this once both streams drain."""
    v, p = _sides(views, purchases, None)
    return _joined(v, p, 3600)

"""Continuously-maintained EXACT distinct-count bitmap table.

The streaming twin of the batch bitmap rollup (`evt_bitmap_rollup` in
the registry): a per-(day, bucket) user-bitmap lake table folded forward
by each micro-batch. Plain per-key counts can be maintained additively
(agg_maintenance); DISTINCT counts cannot — a user seen on day 3 by two
different batches must count once — so the maintained state is the
bitmap itself, and the fold is a bitmap OR, which is idempotent and
order-independent per (day, bucket) cell. Every rollup a dashboard
needs (DAU, WAU, per-type actives, audience overlap) then reads the
bitmap table, never the raw event history, and stays EXACT — the
property approx sketches trade away.

Exactly-once: ``merge_bitmaps`` runs under agg_maintenance's table fold
(``stream_maintain_table(stream, table, checkpoint, merge_bitmaps)``)
with its epoch-marker + atomic-swap protocol (an OR applied twice is
idempotent at the CELL level, but the companion n_events count is
additive, so replay protection is still required). Same local-filesystem
contract — on a lake store this fold is a table-format MERGE with the
txn log's batchId dedup.

Scale notes (100 TB): each micro-batch shuffles only its own
(day, bucket) bitmap partials — ≤ 4 KiB per cell regardless of how many
events hit it — and the merge rewrite is proportional to the CELL space
(days × buckets), not to history. bitmap_bucket_number shards the id
space so one cell's bitmap never exceeds 32768 bits; bucket sub-counts
stay additive under the union used by the read-side rollups.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..operators.timeseries import epoch_day


def day_bucket_bitmaps(events: DataFrame) -> DataFrame:
    """ONE definition of the (day_idx, bucket, bm, n_events) pre-agg for
    both the batch rollup and the streaming fold — epoch-day indices via
    ``timeseries.epoch_day``."""
    return (
        events.select(epoch_day("ts").alias("day_idx"), "user_id")
        .groupBy("day_idx", F.expr("bitmap_bucket_number(user_id)").alias("bucket"))
        .agg(
            F.expr("bitmap_construct_agg(bitmap_bit_position(user_id))").alias(
                "bm"
            ),
            F.count(F.lit(1)).alias("n_events"),
        )
    )


def merge_bitmaps(base: DataFrame | None, batch_df: DataFrame) -> DataFrame:
    """OR one micro-batch's (day, bucket) bitmaps into ``base``. The
    merge is a unionByName + re-aggregate (bitmap_or_agg over the ≤2
    rows per cell) — Spark exposes the bitmap OR only as an aggregate,
    and the union form needs no join and no null-coalescing of binary
    columns."""
    partial = day_bucket_bitmaps(batch_df)
    if base is None:
        return partial
    return (
        base.unionByName(partial)
        .groupBy("day_idx", "bucket")
        .agg(
            F.expr("bitmap_or_agg(bm)").alias("bm"),
            F.sum("n_events").alias("n_events"),
        )
    )


def actives_from_bitmap_table(spark, table_path: str) -> DataFrame:
    """Read-side rollup: exact daily + total actives from the maintained
    table — never touches raw events. total = Σ_bucket |OR_day bm|;
    daily = Σ_bucket |bm| per day."""
    t = spark.read.parquet(table_path)
    daily = (
        t.groupBy("day_idx")
        .agg(
            F.sum(F.expr("bitmap_count(bm)")).alias("dau"),
            F.sum("n_events").alias("n_events"),
        )
        .orderBy("day_idx")
    )
    total = (
        t.groupBy("bucket")
        .agg(F.expr("bitmap_count(bitmap_or_agg(bm))").alias("c"))
        .agg(F.sum("c").alias("total_actives"))
    )
    return daily.join(F.broadcast(total))

"""Streaming isotonic maintenance must equal the evt_isotonic_daily
batch combine once the stream has absorbed the same rows — including
when a late row violates monotonicity against a past day and triggers
a pool-adjacent merge that rewrites blocks (the fact that forces
grid-state maintenance instead of folded blocks)."""

from __future__ import annotations

import datetime as dt

from vector_search_optimization_spark.operators import timeseries as TS
from vector_search_optimization_spark.streaming.grid_monitor import (
    start_daily_cents_monitor,
)


def test_stream_isotonic_late_row_merges_blocks(spark, tmpdirs):
    """The property that forces grid state: days [1.00, 5.00] fit as
    two singleton blocks (already monotone); a late +6.00 on day 0
    makes the series [7.00, 5.00] — a violation PAVA must pool into
    ONE block with the exact mean 600 cents.  A folded block list
    could never merge retroactively."""
    base = dt.datetime(2024, 3, 1)
    b1 = [
        (base, "A", 1.00),
        (base + dt.timedelta(days=1), "A", 5.00),
    ]
    b2 = [(base, "A", 6.00)]
    drop = f"{tmpdirs}/drop2"
    spark.createDataFrame(
        b1, schema="ts timestamp, event_type string, value double"
    ).write.mode("overwrite").parquet(drop)
    spark.createDataFrame(
        b2, schema="ts timestamp, event_type string, value double"
    ).write.mode("append").parquet(drop)

    stream = (
        spark.readStream.schema(
            "ts timestamp, event_type string, value double"
        )
        .option("maxFilesPerTrigger", 1)
        .parquet(drop)
    )
    q = start_daily_cents_monitor(
        stream,
        out_path=f"{tmpdirs}/blocks2",
        checkpoint_dir=f"{tmpdirs}/ckpt2",
        combine=TS.isotonic_blocks,
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    rows = spark.read.parquet(f"{tmpdirs}/blocks2").collect()
    assert len(rows) == 1
    r = rows[0]
    assert r.block_days == 2
    assert r.block_cents == 1200  # 700 + 500
    assert r.iso_fit_cents == 600.0

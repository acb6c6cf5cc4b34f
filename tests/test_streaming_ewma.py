"""Streaming EWMA maintenance must equal the evt_ewma_daily batch
combine at every absorption point, not just at the end. The split-day
case is pinned with every other cents monitor in
test_streaming_cents_monitors.py."""

from __future__ import annotations

from pyspark.sql import functions as F

from vector_search_optimization_spark.operators import timeseries as TS
from vector_search_optimization_spark.streaming.grid_monitor import (
    start_daily_cents_monitor,
)


def test_stream_ewma_prefix_consistency(spark, tmpdirs):
    """A single-batch stream equals the batch combine over exactly that
    prefix (the monitor is correct at every absorption point, not just
    at the end)."""
    rows = [
        ("a", 86400 * d, float(10 + d)) for d in range(5)
    ] + [("b", 86400 * d, 50.0) for d in range(3)]
    df = spark.createDataFrame(
        rows, "event_type string, epoch long, value double"
    ).select(
        "event_type",
        F.col("epoch").cast("timestamp").alias("ts"),
        "value",
    )
    want = {
        r.event_type: (r.n_days, r.last_day_cents, r.ewma_cents)
        for r in TS.ewma_from_daily(TS.daily_cents(df)).collect()
    }

    drop = f"{tmpdirs}/drop2"
    df.select("ts", "event_type", "value").write.mode("overwrite").parquet(
        drop
    )
    stream = spark.readStream.schema(
        "ts timestamp, event_type string, value double"
    ).parquet(drop)
    q = start_daily_cents_monitor(
        stream,
        out_path=f"{tmpdirs}/level2",
        checkpoint_dir=f"{tmpdirs}/ckpt2",
        combine=TS.ewma_from_daily,
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    got = {
        r.event_type: (r.n_days, r.last_day_cents, r.ewma_cents)
        for r in spark.read.parquet(f"{tmpdirs}/level2").collect()
    }
    assert got == want
    # constant series sanity on group b: EWMA == the constant exactly
    assert got["b"][2] == 5000.0

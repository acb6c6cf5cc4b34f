"""Streaming Holt maintenance must equal the evt_holt_linear batch
combine over the absorbed prefix, and hand-checkable series pin its
recursion. The split-day case is pinned with every other cents monitor
in test_streaming_cents_monitors.py."""

from __future__ import annotations

from pyspark.sql import functions as F

from vector_search_optimization_spark.operators import timeseries as TS
from vector_search_optimization_spark.streaming.grid_monitor import (
    start_daily_cents_monitor,
)


def _keyed(rows):
    return {
        r.event_type: (
            r.n_days,
            r.level_cents,
            r.trend_cents,
            r.forecast_7d_cents,
            r.rmse_cents,
        )
        for r in rows
    }


def test_stream_holt_prefix_and_known_series(spark, tmpdirs):
    """A single-batch stream equals the batch combine over exactly that
    prefix, and two hand-checkable series pin the recursion: a constant
    series smooths to (level == constant, trend == 0, rmse == 0), and
    a perfect line y = 100·t is absorbed by the init (l=x1, b=x2−x1)
    into exact one-step predictions — rmse == 0 with the trend equal to
    the true slope."""
    rows = (
        [("const", 86400 * d, 50.0) for d in range(6)]
        + [("line", 86400 * d, float(100 * (d + 1))) for d in range(6)]
    )
    df = spark.createDataFrame(
        rows, "event_type string, epoch long, value double"
    ).select(
        "event_type",
        F.col("epoch").cast("timestamp").alias("ts"),
        "value",
    )
    want = _keyed(TS.holt_from_daily(TS.daily_cents(df)).collect())

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
        combine=TS.holt_from_daily,
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    got = _keyed(spark.read.parquet(f"{tmpdirs}/level2").collect())
    assert got == want

    n, level, trend, fc7, rmse = got["const"]
    assert (n, level, trend, rmse) == (6, 5000.0, 0.0, 0.0)
    assert fc7 == 5000.0
    n, level, trend, fc7, rmse = got["line"]
    assert (n, trend, rmse) == (6, 10000.0, 0.0)
    assert level == 60000.0  # cents of the last point y = 600
    assert fc7 == 60000.0 + 7 * 10000.0

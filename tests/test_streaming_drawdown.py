"""Streaming drawdown maintenance must equal the evt_dau_drawdown
batch combine once the stream has absorbed the same rows — including
when a day's USERS are split across micro-batches (the case that
forbids a per-day DAU fold: a user straddling batches must not count
twice) and when late data revises an old day's DAU (a folded running
peak could never be revised)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from vector_search_optimization_spark.operators import timeseries as TS
from vector_search_optimization_spark.sources import load_table
from vector_search_optimization_spark.streaming.drawdown_maintenance import (
    stream_drawdown_monitor,
)


def _batch_profile(events):
    daily = events.groupBy("event_type", TS.epoch_day("ts").alias("d")).agg(
        F.countDistinct("user_id").cast("long").alias("dau")
    )
    return TS.drawdown_from_daily(daily)


def _rows(df):
    return {
        r.event_type: (
            r.n_days,
            r.peak,
            r.max_drawdown,
            r.trough_day,
            r.max_drawdown_pct,
            r.longest_underwater_days,
        )
        for r in df.collect()
    }


def test_stream_drawdown_equals_batch_with_split_users(
    spark, sf_small, tmpdirs
):
    """Two drop-zone files split by event_id parity: every day's users
    straddle both micro-batches, so double-counting a user (a per-day
    DAU sum fold) would break equality."""
    events = load_table(spark, sf_small, "events").select(
        "event_id", "ts", "event_type", "user_id"
    )
    want = _rows(_batch_profile(events))

    drop = f"{tmpdirs}/drop"
    cols = ["ts", "event_type", "user_id"]
    ts_type = dict(events.dtypes)["ts"]
    events.where(F.col("event_id") % 2 == 0).select(cols).write.mode(
        "overwrite"
    ).parquet(drop)
    events.where(F.col("event_id") % 2 == 1).select(cols).write.mode(
        "append"
    ).parquet(drop)

    stream = (
        spark.readStream.schema(
            f"ts {ts_type}, event_type string, user_id long"
        )
        .option("maxFilesPerTrigger", 1)
        .parquet(drop)
    )
    q = stream_drawdown_monitor(
        stream,
        out_path=f"{tmpdirs}/profile",
        checkpoint_dir=f"{tmpdirs}/ckpt",
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    got = _rows(spark.read.parquet(f"{tmpdirs}/profile"))
    assert got == want


def test_stream_drawdown_late_day_revises_peak(spark, tmpdirs):
    """Second micro-batch adds users to an EARLIER day, raising the
    running peak retroactively — only grid-state maintenance gets
    this right. Series (per day DAU after absorption):
    day0=4, day1=1, day2=2 -> peak 4, max_drawdown 3 at day1."""
    import datetime

    base = datetime.datetime(2024, 7, 1, 12)

    def ev(day, uid):
        return (base + datetime.timedelta(days=day), "a", uid)

    first = [ev(0, 1), ev(1, 1), ev(2, 1), ev(2, 2)]
    late = [ev(0, 2), ev(0, 3), ev(0, 4)]  # day0 grows 1 -> 4 late
    schema = "ts timestamp, event_type string, user_id long"
    drop = f"{tmpdirs}/drop"
    spark.createDataFrame(first, schema).coalesce(1).write.mode(
        "overwrite"
    ).parquet(drop)
    spark.createDataFrame(late, schema).coalesce(1).write.mode(
        "append"
    ).parquet(drop)

    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(drop)
    )
    q = stream_drawdown_monitor(
        stream,
        out_path=f"{tmpdirs}/profile",
        checkpoint_dir=f"{tmpdirs}/ckpt",
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    rows = spark.read.parquet(f"{tmpdirs}/profile").collect()
    assert len(rows) == 1
    r = rows[0]
    assert r.peak == 4
    assert r.max_drawdown == 3
    assert r.max_drawdown_pct == pytest.approx(3 / 4)
    assert r.longest_underwater_days == 2

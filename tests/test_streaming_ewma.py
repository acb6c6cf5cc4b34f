"""Streaming EWMA maintenance must equal the evt_ewma_daily batch
combine once the stream has absorbed the same rows — including when a
DAY is split across micro-batches (the case that forbids folding a
decayed numerator forward and forces grid-state maintenance)."""

from __future__ import annotations

import shutil
import tempfile

import pytest
from pyspark.sql import functions as F

from vector_search_optimization_spark.operators import timeseries as TS
from vector_search_optimization_spark.sources import load_table
from vector_search_optimization_spark.streaming.grid_monitor import (
    start_daily_cents_monitor,
)


@pytest.fixture()
def tmpdirs():
    root = tempfile.mkdtemp(prefix="ewma_stream_")
    yield root
    shutil.rmtree(root, ignore_errors=True)


def _batch_ewma(events):
    day = F.floor(F.unix_timestamp(F.col("ts")) / F.lit(86400.0)).cast("long")
    daily = (
        events.where(F.col("value").isNotNull())
        .groupBy(F.col("event_type"), day.alias("d"))
        .agg(F.round(F.sum("value") * 100).cast("long").alias("cents"))
    )
    return TS.ewma_from_daily(daily)


def test_stream_ewma_equals_batch_with_split_days(spark, sf_small, tmpdirs):
    """Two drop-zone files split by event_id parity — every day's rows
    straddle BOTH micro-batches, so any per-day finality assumption in
    the state fold would break. After full absorption the sink output
    must equal the batch combine row-for-row (cents are exact after
    absorption, so equality is exact)."""
    events = load_table(spark, sf_small, "events").select(
        "event_id", "ts", "event_type", "value"
    )
    want = {
        r.event_type: (r.n_days, r.last_day_cents, r.ewma_cents)
        for r in _batch_ewma(events).collect()
    }

    drop = f"{tmpdirs}/drop"
    cols = ["ts", "event_type", "value"]
    ts_type = dict(events.dtypes)["ts"]
    events.where(F.col("event_id") % 2 == 0).select(cols).write.mode(
        "overwrite"
    ).parquet(drop)
    events.where(F.col("event_id") % 2 == 1).select(cols).write.mode(
        "append"
    ).parquet(drop)

    stream = (
        spark.readStream.schema(
            f"ts {ts_type}, event_type string, value double"
        )
        .option("maxFilesPerTrigger", 1)
        .parquet(drop)
    )
    q = start_daily_cents_monitor(
        stream,
        out_path=f"{tmpdirs}/level",
        checkpoint_dir=f"{tmpdirs}/ckpt",
        combine=TS.ewma_from_daily,
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    got = {
        r.event_type: (r.n_days, r.last_day_cents, r.ewma_cents)
        for r in spark.read.parquet(f"{tmpdirs}/level").collect()
    }
    assert got == want


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
        for r in _batch_ewma(df).collect()
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

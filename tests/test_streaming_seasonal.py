"""Streaming seasonal maintenance must equal the evt_seasonal_decompose
batch combine once the stream has absorbed the same rows — including
when a DAY is split across micro-batches (its cents change AND its ±3
neighbors' trend windows change, the two facts that force grid-state
maintenance instead of a folded per-dow state)."""

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
    root = tempfile.mkdtemp(prefix="seasonal_stream_")
    yield root
    shutil.rmtree(root, ignore_errors=True)


def _batch_seasonal(events):
    day = F.floor(F.unix_timestamp(F.col("ts")) / F.lit(86400.0)).cast("long")
    daily = (
        events.where(F.col("value").isNotNull())
        .groupBy(F.col("event_type"), day.alias("d"))
        .agg(F.round(F.sum("value") * 100).cast("long").alias("cents"))
    )
    return TS.seasonal_from_daily(daily)


def test_stream_seasonal_equals_batch_with_split_days(
    spark, sf_small, tmpdirs
):
    events = load_table(spark, sf_small, "events").select(
        "event_id", "ts", "event_type", "value"
    )
    want = {
        (r.event_type, r.dow): (
            r.n_days,
            r.detrended_sum_num,
            r.seasonal_cents,
            r.resid_ss,
        )
        for r in _batch_seasonal(events).collect()
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
        out_path=f"{tmpdirs}/seasonal",
        checkpoint_dir=f"{tmpdirs}/ckpt",
        combine=TS.seasonal_from_daily,
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    got = {
        (r.event_type, r.dow): (
            r.n_days,
            r.detrended_sum_num,
            r.seasonal_cents,
            r.resid_ss,
        )
        for r in spark.read.parquet(f"{tmpdirs}/seasonal").collect()
    }
    assert got == want

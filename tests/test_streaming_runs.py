"""Streaming runs-test maintenance must equal the evt_runs_test batch
combine once the stream has absorbed the same rows — including when a
DAY is split across micro-batches (late data flips a day's sign, and
the median itself moves — the two facts that force grid-state
maintenance instead of a folded (last_sign, counters) state)."""

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
    root = tempfile.mkdtemp(prefix="runs_stream_")
    yield root
    shutil.rmtree(root, ignore_errors=True)


def _batch_runs(events):
    day = F.floor(F.unix_timestamp(F.col("ts")) / F.lit(86400.0)).cast("long")
    daily = (
        events.where(F.col("value").isNotNull())
        .groupBy(F.col("event_type"), day.alias("d"))
        .agg(F.round(F.sum("value") * 100).cast("long").alias("cents"))
    )
    return TS.runs_test_from_daily(daily)


def test_stream_runs_equals_batch_with_split_days(spark, sf_small, tmpdirs):
    """Two drop-zone files split by event_id parity — every day's rows
    straddle BOTH micro-batches. After full absorption the sink output
    must equal the batch combine row-for-row; the statistic chains
    correctly-rounded ops on the absorbed exact-integer grid, so
    equality is exact (no approx)."""
    events = load_table(spark, sf_small, "events").select(
        "event_id", "ts", "event_type", "value"
    )
    want = {
        r.event_type: (
            r.n_runs,
            r.n_above,
            r.n_below,
            r.expected_runs,
            r.z_stat,
        )
        for r in _batch_runs(events).collect()
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
        out_path=f"{tmpdirs}/runs",
        checkpoint_dir=f"{tmpdirs}/ckpt",
        combine=TS.runs_test_from_daily,
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    got = {
        r.event_type: (
            r.n_runs,
            r.n_above,
            r.n_below,
            r.expected_runs,
            r.z_stat,
        )
        for r in spark.read.parquet(f"{tmpdirs}/runs").collect()
    }
    assert got == want

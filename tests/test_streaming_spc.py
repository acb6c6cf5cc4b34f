"""Streaming SPC maintenance must equal the evt_spc_individuals batch
combine once the stream has absorbed the same rows — including when a
late spike on an old day moves the center/MR̄ and re-flags other days
(the fact that forces grid-state maintenance instead of folded chart
stats)."""

from __future__ import annotations

import datetime as dt

from vector_search_optimization_spark.operators import timeseries as TS
from vector_search_optimization_spark.streaming.grid_monitor import (
    start_daily_cents_monitor,
)


def test_stream_spc_late_spike_reflags_days(spark, tmpdirs):
    """The property that forces grid state: 10 flat days (1.00 each)
    plus one 2.00 day — with MR̄ small the 2.00 day is out of control.
    A late +99.00 on an OLD flat day explodes MR̄ (its two adjacent
    moving ranges), the limits widen, and the 2.00 day drops back in
    control while the spiked day itself is flagged — the revision a
    folded violation count could never make."""
    base = dt.datetime(2024, 3, 1)
    b1 = [
        (base + dt.timedelta(days=k), "A", 1.00 if k < 10 else 2.00)
        for k in range(11)
    ]
    df1 = spark.createDataFrame(
        b1, schema="ts timestamp, event_type string, value double"
    )
    # chart on batch 1 alone: the 2.00 day must be out of control
    first = TS.spc_from_daily(TS.daily_cents(df1)).collect()[0]
    assert first.n_violations >= 1

    b2 = [(base + dt.timedelta(days=4), "A", 99.00)]
    drop = f"{tmpdirs}/drop2"
    df1.write.mode("overwrite").parquet(drop)
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
        out_path=f"{tmpdirs}/chart2",
        checkpoint_dir=f"{tmpdirs}/ckpt2",
        combine=TS.spc_from_daily,
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    rows = spark.read.parquet(f"{tmpdirs}/chart2").collect()
    assert len(rows) == 1
    got = rows[0]
    # maintained read equals the all-rows batch combine exactly
    batch = TS.spc_from_daily(
        TS.daily_cents(
            spark.createDataFrame(
                b1 + b2,
                schema="ts timestamp, event_type string, value double",
            )
        )
    ).collect()[0]
    assert tuple(got) == tuple(batch)
    # and the late spike genuinely rewrote the chart: wider limits,
    # different violation set than batch 1's
    assert got.mrbar_cents > first.mrbar_cents
    assert got.ucl_cents > first.ucl_cents

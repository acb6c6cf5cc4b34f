"""Streaming turning-point maintenance must equal the
evt_turning_points batch combine once the stream has absorbed the same
rows — including when a late row changes one day's count and flips a
NEIGHBOR day's local-extremum status (the fact that forces grid-state
maintenance instead of a folded tally)."""

from __future__ import annotations

import datetime as dt

from pyspark.sql import functions as F

from vector_search_optimization_spark.operators import timeseries as TS
from vector_search_optimization_spark.sources import load_table
from vector_search_optimization_spark.streaming.grid_monitor import (
    start_grid_rewrite_monitor,
)


def test_stream_turning_equals_batch_with_split_days(
    spark, sf_small, tmpdirs
):
    events = load_table(spark, sf_small, "events").select(
        "event_id", "ts", "event_type"
    )
    want = sorted(
        tuple(r)
        for r in TS.turning_points_from_daily(
            TS.daily_counts(events)
        ).collect()
    )

    drop = f"{tmpdirs}/drop"
    ts_type = dict(events.dtypes)["ts"]
    events.where(F.col("event_id") % 2 == 0).select(
        "ts", "event_type"
    ).write.mode("overwrite").parquet(drop)
    events.where(F.col("event_id") % 2 == 1).select(
        "ts", "event_type"
    ).write.mode("append").parquet(drop)

    stream = (
        spark.readStream.schema(f"ts {ts_type}, event_type string")
        .option("maxFilesPerTrigger", 1)
        .parquet(drop)
    )
    q = start_grid_rewrite_monitor(
        TS.daily_counts(stream),
        out_path=f"{tmpdirs}/test",
        checkpoint_dir=f"{tmpdirs}/ckpt",
        snapshot=TS.turning_points_from_daily,
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    got = sorted(
        tuple(r) for r in spark.read.parquet(f"{tmpdirs}/test").collect()
    )
    assert got == want  # every day straddled both micro-batches


def test_stream_turning_late_rows_flip_neighbor_extremum(spark, tmpdirs):
    """Counts [1, 2, 1, 2, 1] have turning points at interior days
    1, 2, 3 (peak, trough, peak).  Three late events on the middle day
    make it [1, 2, 4, 2, 1] — the middle day stays a peak but BOTH
    neighbors lose their extremum status: the tally drops 3 → 1, a
    revision no folded counter could make."""
    base = dt.datetime(2024, 3, 1)
    counts1 = [1, 2, 1, 2, 1]
    b1 = []
    for k, c in enumerate(counts1):
        for _ in range(c):
            b1.append((base + dt.timedelta(days=k, hours=1), "A"))
    b2 = [(base + dt.timedelta(days=2, hours=2), "A")] * 3
    drop = f"{tmpdirs}/drop2"
    spark.createDataFrame(
        b1, schema="ts timestamp, event_type string"
    ).write.mode("overwrite").parquet(drop)
    spark.createDataFrame(
        b2, schema="ts timestamp, event_type string"
    ).write.mode("append").parquet(drop)

    # batch sanity on b1 alone: 3 turning points
    tp1 = TS.turning_points_from_daily(
        TS.daily_counts(
            spark.createDataFrame(b1, "ts timestamp, event_type string")
        )
    ).collect()[0]
    assert tp1.n_turning == 3

    stream = (
        spark.readStream.schema("ts timestamp, event_type string")
        .option("maxFilesPerTrigger", 1)
        .parquet(drop)
    )
    q = start_grid_rewrite_monitor(
        TS.daily_counts(stream),
        out_path=f"{tmpdirs}/test2",
        checkpoint_dir=f"{tmpdirs}/ckpt2",
        snapshot=TS.turning_points_from_daily,
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    rows = spark.read.parquet(f"{tmpdirs}/test2").collect()
    assert len(rows) == 1
    r = rows[0]
    assert r.n_days == 5
    assert r.n_turning == 1  # neighbors of the boosted day both flipped
    batch = TS.turning_points_from_daily(
        TS.daily_counts(
            spark.createDataFrame(
                b1 + b2, "ts timestamp, event_type string"
            )
        )
    ).collect()[0]
    assert tuple(r) == tuple(batch)

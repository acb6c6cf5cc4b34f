"""Streaming tail-dependence maintenance must equal the
evt_tail_dependence batch combine once the stream has absorbed the same
rows — including when a late row lifts an old day across a pair's 0.8
threshold (the order statistic moves, re-classifying OTHER days'
exceedance flags: the fact that forces grid-state maintenance instead
of folded exceedance counts)."""

from __future__ import annotations

import datetime as dt
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
    root = tempfile.mkdtemp(prefix="taildep_stream_")
    yield root
    shutil.rmtree(root, ignore_errors=True)


def _batch_daily(events):
    day = F.floor(F.unix_timestamp(F.col("ts")) / F.lit(86400.0)).cast("long")
    return (
        events.where(F.col("value").isNotNull())
        .groupBy(F.col("event_type"), day.alias("d"))
        .agg(F.round(F.sum("value") * 100).cast("long").alias("cents"))
    )


def test_stream_tail_dep_equals_batch_with_split_days(
    spark, sf_small, tmpdirs
):
    events = load_table(spark, sf_small, "events").select(
        "event_id", "ts", "event_type", "value"
    )
    want = sorted(
        tuple(r)
        for r in TS.tail_dependence_from_daily(
            _batch_daily(events)
        ).collect()
    )

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
        out_path=f"{tmpdirs}/pairs",
        checkpoint_dir=f"{tmpdirs}/ckpt",
        combine=TS.tail_dependence_from_daily,
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    got = sorted(
        tuple(r) for r in spark.read.parquet(f"{tmpdirs}/pairs").collect()
    )
    assert got == want  # every day straddled both micro-batches


def test_stream_tail_dep_late_row_moves_threshold(spark, tmpdirs):
    """The property that forces grid state: 10 shared days, comonotone
    pair; a late row lifts type A's SMALLEST day above everything,
    moving A's 0.8 threshold (rank 8 order statistic) and flipping
    which days jointly exceed — a folded exceedance count could never
    be revised."""
    base = dt.datetime(2024, 3, 1)
    b1 = []
    for k in range(10):
        b1.append((base + dt.timedelta(days=k), "A", (k + 1) * 1.0))
        b1.append((base + dt.timedelta(days=k), "B", (k + 1) * 2.0))
    # late row: +100.00 on A's day 0 makes it A's maximum
    b2 = [(base, "A", 100.0)]
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
        out_path=f"{tmpdirs}/pairs2",
        checkpoint_dir=f"{tmpdirs}/ckpt2",
        combine=TS.tail_dependence_from_daily,
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    rows = spark.read.parquet(f"{tmpdirs}/pairs2").collect()
    assert len(rows) == 1
    r = rows[0]
    # Without the late row the comonotone pair reads λ = 1 (A thr 800,
    # exceedances days {8, 9} on both sides).  The late +10000 cents
    # make A's day 0 its maximum (10100): A's sorted cents are
    # [200..1000, 10100], the rank-8 order statistic moves 800 → 900,
    # A's exceedance set becomes days {9, 0} while B's stays {8, 9} —
    # joint shrinks to {9} and λ drops to 0.5.  A folded exceedance
    # count could never revise day 8's flag.
    assert r.n_days == 10
    assert r.thr1_cents == 900 and r.thr2_cents == 1600
    assert (r.n_exc1, r.n_exc2, r.n_joint) == (2, 2, 1)
    assert r.lambda_u == 0.5
    # and the maintained read equals the all-rows batch combine
    batch = TS.tail_dependence_from_daily(
        _batch_daily(
            spark.createDataFrame(
                b1 + b2,
                schema="ts timestamp, event_type string, value double",
            )
        )
    ).collect()
    assert sorted(tuple(x) for x in rows) == sorted(
        tuple(x) for x in batch
    )

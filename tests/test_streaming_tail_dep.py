"""Streaming tail-dependence maintenance must equal the
evt_tail_dependence batch combine once the stream has absorbed the same
rows — including when a late row lifts an old day across a pair's 0.8
threshold (the order statistic moves, re-classifying OTHER days'
exceedance flags: the fact that forces grid-state maintenance instead
of folded exceedance counts)."""

from __future__ import annotations

import datetime as dt

from vector_search_optimization_spark.operators import timeseries as TS
from vector_search_optimization_spark.streaming.grid_monitor import (
    start_daily_cents_monitor,
)


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
        TS.daily_cents(
            spark.createDataFrame(
                b1 + b2,
                schema="ts timestamp, event_type string, value double",
            )
        )
    ).collect()
    assert sorted(tuple(x) for x in rows) == sorted(
        tuple(x) for x in batch
    )

"""Streaming SAX maintenance must equal the evt_sax_motifs batch
combine once the stream has absorbed the same rows — including when a
DAY is split across micro-batches (its cents change, which can shift
the per-group quartile cuts and re-letter the whole group: the fact
that forces grid-state maintenance instead of folded motif counts)."""

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
    root = tempfile.mkdtemp(prefix="sax_stream_")
    yield root
    shutil.rmtree(root, ignore_errors=True)


def _batch_daily(events):
    day = F.floor(F.unix_timestamp(F.col("ts")) / F.lit(86400.0)).cast("long")
    return (
        events.where(F.col("value").isNotNull())
        .groupBy(F.col("event_type"), day.alias("d"))
        .agg(F.round(F.sum("value") * 100).cast("long").alias("cents"))
    )


def test_stream_sax_equals_batch_with_split_days(spark, sf_small, tmpdirs):
    events = load_table(spark, sf_small, "events").select(
        "event_id", "ts", "event_type", "value"
    )
    batch_daily = _batch_daily(events)
    want_grid = {
        (r.event_type, r.d): r.cents for r in batch_daily.collect()
    }
    want_motifs = sorted(
        tuple(r) for r in TS.sax_motifs_from_daily(batch_daily).collect()
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
        out_path=f"{tmpdirs}/daily",
        checkpoint_dir=f"{tmpdirs}/ckpt",
        combine=lambda daily: daily,  # the monitor snapshots the grid itself
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    maintained = spark.read.parquet(f"{tmpdirs}/daily")
    got_grid = {(r.event_type, r.d): r.cents for r in maintained.collect()}
    assert got_grid == want_grid  # every day straddled both batches

    got_motifs = sorted(
        tuple(r) for r in TS.sax_motifs_from_daily(maintained).collect()
    )
    assert got_motifs == want_motifs


def test_stream_sax_late_day_reshifts_quartiles(spark, tmpdirs):
    """The property that forces grid state: a late row lifting ONE old
    day across a quartile cut must re-letter other days' symbols in the
    maintained read — folded motif counts could never do that."""
    import datetime as dt

    base = dt.datetime(2024, 3, 1)
    # 8 days with cents 1..8 (value k/100); batch 1 has all 8 days,
    # batch 2 adds +1.00 to day 0 only, pushing it from the bottom
    # quartile to the top and shifting every quartile boundary
    b1 = [
        (base + dt.timedelta(days=k), "A", (k + 1) / 100.0) for k in range(8)
    ]
    b2 = [(base, "A", 1.00)]
    df1 = spark.createDataFrame(
        b1, schema="ts timestamp, event_type string, value double"
    )
    df2 = spark.createDataFrame(
        b2, schema="ts timestamp, event_type string, value double"
    )
    drop = f"{tmpdirs}/drop2"
    df1.write.mode("overwrite").parquet(drop)
    df2.write.mode("append").parquet(drop)

    stream = (
        spark.readStream.schema(
            "ts timestamp, event_type string, value double"
        )
        .option("maxFilesPerTrigger", 1)
        .parquet(drop)
    )
    q = start_daily_cents_monitor(
        stream,
        out_path=f"{tmpdirs}/daily2",
        checkpoint_dir=f"{tmpdirs}/ckpt2",
        combine=lambda daily: daily,  # the monitor snapshots the grid itself
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    maintained = spark.read.parquet(f"{tmpdirs}/daily2")
    got = {r.d - min(x.d for x in maintained.collect()): r.cents
           for r in maintained.collect()}
    # day 0 absorbed the late +100 cents: 1 + 100 = 101
    assert got[0] == 101 and got[1] == 2
    # and the combine on the maintained grid equals the combine on the
    # equivalent batch grid (late data fully reflected)
    batch_equiv = _batch_daily(
        spark.createDataFrame(
            b1 + b2, schema="ts timestamp, event_type string, value double"
        )
    )
    assert sorted(
        tuple(r) for r in TS.sax_motifs_from_daily(maintained).collect()
    ) == sorted(
        tuple(r) for r in TS.sax_motifs_from_daily(batch_equiv).collect()
    )

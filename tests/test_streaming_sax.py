"""Streaming SAX maintenance must re-letter a whole group when a late
row shifts its quartile cuts — the fact that forces grid-state
maintenance instead of folded motif counts. The split-day case is
pinned with every other cents monitor in
test_streaming_cents_monitors.py."""

from __future__ import annotations

from vector_search_optimization_spark.operators import timeseries as TS
from vector_search_optimization_spark.streaming.grid_monitor import (
    start_daily_cents_monitor,
)


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
    batch_equiv = TS.daily_cents(
        spark.createDataFrame(
            b1 + b2, schema="ts timestamp, event_type string, value double"
        )
    )
    assert sorted(
        tuple(r) for r in TS.sax_motifs_from_daily(maintained).collect()
    ) == sorted(
        tuple(r) for r in TS.sax_motifs_from_daily(batch_equiv).collect()
    )

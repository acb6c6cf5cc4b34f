"""Every cents-grid monitor must equal its batch query once the stream
has absorbed the same rows — including when every DAY is split across
micro-batches, the case that forbids folding any per-day running state
forward and forces grid-state maintenance.

The monitor's state is ``daily_cents`` of the stream and its snapshot
the batch combine, so the batch side is ``combine(daily_cents(events))``.
Cents are exact once a day is fully absorbed, so equality is exact, row
for row. Each combine's late-data / known-series behaviour is pinned
in its own tests/test_streaming_<name>.py."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from vector_search_optimization_spark.operators import timeseries as TS
from vector_search_optimization_spark.sources import load_table
from vector_search_optimization_spark.streaming.grid_monitor import (
    start_daily_cents_monitor,
)

COMBINES = {
    "grid": lambda daily: daily,  # an identity combine snapshots the grid
    "ewma": TS.ewma_from_daily,
    "holt": TS.holt_from_daily,
    "isotonic": TS.isotonic_blocks,
    "runs": TS.runs_test_from_daily,
    "sax": TS.sax_motifs_from_daily,
    "seasonal": TS.seasonal_from_daily,
    "spc": TS.spc_from_daily,
    "tail_dep": TS.tail_dependence_from_daily,
}


def _rows(df):
    return sorted((tuple(r) for r in df.collect()), key=repr)


@pytest.mark.parametrize("name", sorted(COMBINES))
def test_stream_equals_batch_with_split_days(spark, sf_small, tmpdirs, name):
    """Two drop-zone files split by event_id parity: every day's rows
    straddle BOTH micro-batches, so any per-day finality assumption in
    the state fold would break."""
    combine = COMBINES[name]
    events = load_table(spark, sf_small, "events").select(
        "event_id", "ts", "event_type", "value"
    )
    want = combine(TS.daily_cents(events))

    drop = f"{tmpdirs}/drop"
    cols = ["ts", "event_type", "value"]
    events.where(F.col("event_id") % 2 == 0).select(cols).write.mode(
        "overwrite"
    ).parquet(drop)
    events.where(F.col("event_id") % 2 == 1).select(cols).write.mode(
        "append"
    ).parquet(drop)
    stream = (
        spark.readStream.schema(events.select(cols).schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(drop)
    )
    q = start_daily_cents_monitor(
        stream, f"{tmpdirs}/out", f"{tmpdirs}/ckpt", combine
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    got = spark.read.parquet(f"{tmpdirs}/out")
    assert got.columns == want.columns
    assert _rows(got) == _rows(want)

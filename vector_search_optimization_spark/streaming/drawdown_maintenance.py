"""Streaming DAU-drawdown maintenance — the evt_dau_drawdown batch
query replayed continuously.

Grid-rewrite family (see streaming/grid_monitor.py for the shared
state/rounding/scale discipline), with one twist: DAU is a DISTINCT
count, so unlike the cents-sum members the maintained state cannot be
a (group, day) → sum — a user seen again on the same day must not
re-count.  The state is therefore the distinct-activity grid
(group, day, user) (complete-mode aggregate; the per-key count is
irrelevant — presence is the datum), and every micro-batch rewrites
the per-group drawdown profile from it via the SHARED combine
(operators/timeseries.drawdown_from_daily).  Running peaks / troughs
can move when late data lands on an old day — another reason only the
grid is a valid incremental state (a folded running peak could never
be revised downward).  Stream ≡ batch pytest-pinned in
tests/test_streaming_drawdown.py.

Scale: state is |distinct (group, day, user) activity| rows — bounded
by active-user-days, NOT by event volume (map-side combine absorbs
duplicate events before the shuffle).  At extreme user cardinality
swap the exact distinct grid for the per-day roaring-bitmap/HLL state
documented in evt_bitmap_rollup — the combine is unchanged, only the
dau column's producer differs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from ..operators.timeseries import drawdown_from_daily, epoch_day
from .grid_monitor import start_grid_rewrite_monitor

__all__ = ["stream_drawdown_monitor"]


def stream_drawdown_monitor(
    stream_df: DataFrame, out_path: str, checkpoint_dir: str
) -> StreamingQuery:
    """Start the monitor: distinct (event_type, day, user_id) activity
    grid over the stream; per micro-batch the absorbed grid collapses
    to per-day DAU and the shared drawdown combine overwrites
    ``out_path`` with the latest per-type profile — column-identical
    to the evt_dau_drawdown batch export (with the combine's generic
    ``peak`` name; the batch query aliases it to ``peak_dau``)."""
    grid = (
        stream_df.select("event_type", epoch_day("ts").alias("d"), "user_id")
        .groupBy("event_type", "d", "user_id")
        .agg(F.count(F.lit(1)).alias("_seen"))
    )

    def _snapshot(batch_df: DataFrame) -> DataFrame:
        daily = batch_df.groupBy("event_type", "d").agg(
            F.count(F.lit(1)).cast("long").alias("dau")
        )
        return drawdown_from_daily(daily)

    return start_grid_rewrite_monitor(
        grid, out_path, checkpoint_dir, _snapshot
    )

"""Shared scaffold for the GRID-REWRITE streaming monitors.

The family (ewma / holt / runs / seasonal / sax / spc / isotonic /
tail-dependence / drawdown / turning points) all follow one
discipline, extracted here (VERDICT r10 item 5): the maintained state
is a CALENDAR-BOUNDED grid kept as a complete-mode streaming
aggregate (|groups × days| rows — dimension-table-sized at any stream
volume; each micro-batch shuffles only its own map-side-combined
partials), and every micro-batch the sink rewrites the monitor's
export from the ABSORBED grid via the monitor's batch combine
(operators/timeseries.*_from_daily) — so stream-after-absorbing-rows
≡ batch by construction.  A folded per-group running state would be
wrong for every member: a day keeps receiving events across
micro-batches (its sum is not final until read time), and late data
landing on a PAST day can move the median/quartile-cuts/trend-
neighbors/running-peak that downstream rows depend on — only the grid
is a valid incremental state.

Rounding to exact cents happens in the SINK (on the absorbed grid),
never in the state fold — partial-batch roundings would not compose.

The additive-fold monitors (cms/emd — where cells of a union ARE the
sum of cells, so the aggregate itself is the state) are deliberately
NOT this family and keep their own scaffolding.
"""

from __future__ import annotations

from typing import Callable

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

__all__ = ["start_grid_rewrite_monitor", "start_daily_cents_monitor"]


def start_grid_rewrite_monitor(
    grid: DataFrame,
    out_path: str,
    checkpoint_dir: str,
    snapshot: Callable[[DataFrame], DataFrame],
) -> StreamingQuery:
    """Run ``grid`` (a streaming complete-mode aggregate) and, per
    micro-batch, overwrite ``out_path`` with ``snapshot(absorbed
    grid)`` — the monitor's batch-identical export."""

    def _sink(batch_df: DataFrame, _epoch: int) -> None:
        snapshot(batch_df).write.mode("overwrite").parquet(out_path)

    return (
        grid.writeStream.outputMode("complete")
        .foreachBatch(_sink)
        .option("checkpointLocation", checkpoint_dir)
        .start()
    )


def start_daily_cents_monitor(
    stream_df: DataFrame,
    out_path: str,
    checkpoint_dir: str,
    combine: Callable[[DataFrame], DataFrame],
    group_col: str = "event_type",
    ts_col: str = "ts",
    value_col: str = "value",
) -> StreamingQuery:
    """The cents-sum specialization: state is the running (group, day)
    value-sum grid; per micro-batch the absorbed grid rounds to exact
    integer cents (columns ``group_col, d, cents``) and ``combine``
    produces the snapshot written to ``out_path``.

    A batch query's combine is its monitor: passing
    ``operators.timeseries.ewma_from_daily`` (or ``holt_from_daily``,
    ``runs_test_from_daily``, ``seasonal_from_daily``, ``spc_from_daily``,
    ``isotonic_blocks``, ``tail_dependence_from_daily``;
    ``functools.partial`` binds non-default arguments) keeps that query's
    export fresh, column-identical to the batch export over the same
    rows (stream ≡ batch pinned in tests/test_streaming_*.py).  An
    identity combine snapshots the grid itself, which
    ``sax_motifs_from_daily`` turns into the batch motifs."""
    day = F.floor(F.unix_timestamp(F.col(ts_col)) / F.lit(86400.0)).cast(
        "long"
    )
    grid = (
        stream_df.where(F.col(value_col).isNotNull())
        .select(F.col(group_col), day.alias("d"), F.col(value_col))
        .groupBy(group_col, "d")
        .agg(F.sum(value_col).alias("_vsum"))
    )

    def _snapshot(batch_df: DataFrame) -> DataFrame:
        daily = batch_df.select(
            group_col,
            "d",
            F.round(F.col("_vsum") * 100).cast("long").alias("cents"),
        )
        return combine(daily)

    return start_grid_rewrite_monitor(
        grid, out_path, checkpoint_dir, _snapshot
    )

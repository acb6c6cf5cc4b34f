"""The one snapshot writer behind every complete-mode streaming monitor.

A monitor is a streaming aggregate kept in complete mode plus a
snapshot: every micro-batch ``start_grid_rewrite_monitor`` overwrites
the monitor's export with ``snapshot(absorbed aggregate)``. Handing it
a batch query's own aggregate over the stream, and that query's own
combine as the snapshot, makes stream-after-absorbing-rows ≡ batch by
construction. Complete mode is the right output mode for all of them:
the state is bounded by a calendar, a value domain or a fixed sketch,
never by stream volume, and the sink needs the WHOLE aggregate to
rewrite a readable export (an update-mode delta would lose the
unchanged rows on overwrite).

Whether the aggregate may be read as-is or only through a rewrite is a
property of the state, documented on the aggregate or the combine, not
of this writer:

- additive state — cells of a union are the sum of cells, so the
  aggregate itself is the export and the snapshot is the identity or a
  join against a static reference: ``sketches.cms_cells`` (count-min
  sketch), ``distribution.cents_counts`` (the EMD count frame),
  streaming/drift.py's PSI and KS counts;
- grid state — ewma / holt / runs / seasonal / sax / spc / isotonic /
  tail-dependence / drawdown / turning points (VERDICT r10 item 5):
  the state is a CALENDAR-BOUNDED (group, day) grid (|groups × days|
  rows — dimension-table-sized at any stream volume; each micro-batch
  shuffles only its own map-side-combined partials) and the snapshot
  is the statistic's ``operators/timeseries.*_from_daily`` combine.
  A folded per-group running state would be wrong for every member: a
  day keeps receiving events across micro-batches (its sum is not
  final until read time), and late data landing on a PAST day can move
  the median/quartile-cuts/trend-neighbors/running-peak that
  downstream rows depend on — only the grid is a valid incremental
  state. Rounding to exact cents happens in the SNAPSHOT (on the
  absorbed grid), never in the state fold — partial-batch roundings
  would not compose.
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
    """Run ``grid`` (a streaming aggregate, kept in complete mode) and,
    per micro-batch, overwrite ``out_path`` with ``snapshot(absorbed
    grid)`` — the monitor's batch-identical export. An identity
    snapshot (``lambda g: g``) exports the aggregate itself."""

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

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
  state. The grid is the batch queries' own ``daily_cents`` or
  ``daily_counts`` aggregate run over the stream: its state holds the
  running sums, and rounding to exact cents is the aggregate's result
  expression, evaluated on the absorbed sum, never on one batch's
  partial sum (partial roundings would not compose).
"""

from __future__ import annotations

from typing import Callable

from pyspark.sql import DataFrame
from pyspark.sql.streaming import StreamingQuery

from ..operators.timeseries import daily_cents

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
) -> StreamingQuery:
    """The cents-grid monitor: state is ``timeseries.daily_cents`` of
    the stream, the batch queries' own grid, and per micro-batch
    ``combine`` of the absorbed grid is written to ``out_path``.

    A batch query's combine is its monitor: passing
    ``operators.timeseries.ewma_from_daily`` (or ``holt_from_daily``,
    ``runs_test_from_daily``, ``seasonal_from_daily``, ``spc_from_daily``,
    ``isotonic_blocks``, ``tail_dependence_from_daily``,
    ``sax_motifs_from_daily``) keeps that query's export fresh,
    column-identical to ``combine(daily_cents(events))`` over the same
    rows (stream ≡ batch pinned in tests/test_streaming_cents_monitors.py).
    An identity combine snapshots the grid itself."""
    return start_grid_rewrite_monitor(
        daily_cents(stream_df), out_path, checkpoint_dir, combine
    )

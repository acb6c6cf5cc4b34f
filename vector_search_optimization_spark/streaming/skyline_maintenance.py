"""Streaming skyline (Pareto-front) maintenance — the parts_skyline
batch operator replayed continuously.

The skyline MERGE property skyline(A ∪ B) = skyline(skyline(A) ∪ B)
makes the FRONT ITSELF a valid incremental state: per micro-batch the
batch's points collapse to their own local front (two-phase pruning),
union with the maintained front, and one survivors pass rewrites the
table. A point once dominated can never rejoin the front (dominance is
monotone under insertion — this maintenance supports inserts, not
deletes; deletions invalidate the pruning and need the full recompute).

Exactly-once across foreachBatch replays: ``merge_skyline`` runs
under agg_maintenance's table fold
(``stream_maintain_table(stream, table, checkpoint, merge_skyline)``),
whose ``_epoch-{scope}-N`` marker installs atomically WITH the data
and whose recovery restores the front from ``.__old__`` after a crash
between commit_swap's renames. The stream itself is a stateless
passthrough; the TABLE is the state.

Scale notes: state is the FRONT (for a 2-D integer lattice it is
bounded by the number of distinct price values — lattice-bounded, not
stream-bounded); each micro-batch pays its own two-phase prune (the
batch's local fronts parallelize) plus one union-sized survivors pass.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from ..operators.ranking_stats import skyline_survivors_2d, two_phase_skyline

__all__ = ["merge_skyline"]


def merge_skyline(base: DataFrame | None, batch_df: DataFrame) -> DataFrame:
    """Merge one micro-batch's points into the maintained front
    (insert-only — see module docstring): the batch's own two-phase
    front, then one survivors pass over its union with ``base``."""
    partial = two_phase_skyline(batch_df)
    if base is None:
        return partial
    return skyline_survivors_2d(base.select(*batch_df.columns).unionByName(partial))

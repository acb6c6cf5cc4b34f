"""Continuously-maintained tables (incremental materialized views).

The third streaming-maintenance pattern next to the live IVF index
(index_maintenance) and the curated drop-zone (curation): a TABLE
folded forward by each micro-batch instead of recomputed from the full
history. One fold (``fold_batch_into_table``) and one starter
(``stream_maintain_table``) serve every such table; a family supplies
only its ``merge(base_or_None, batch) -> DataFrame``: the per-key
counts and sums here (``merge_counts``), the exact distinct bitmaps
(bitmap_maintenance) and the skyline front (skyline_maintenance).

Exactly-once fold: foreachBatch can REPLAY an epoch after a failure, and
an additive merge applied twice double-counts. The committed epoch id
travels INSIDE the table directory as an ``_epoch-{scope}-N`` marker
file (the underscore prefix makes parquet readers ignore it), written
into the staging dir BEFORE the atomic swap — data and marker install
together on BOTH the initial and the merge path, so a replayed epoch
sees itself already committed and skips. The ``scope`` is derived from
the checkpoint location: a table is bound to ONE query
lineage, and a stream started with a different/reset checkpoint (whose
source re-reads history and whose epoch ids restart at 0) is REFUSED
with an error instead of silently double-counting or dropping batches.
A crash between the swap's two renames is recovered at the next fold
(the intact previous table is restored from ``.__old__``).

Local-filesystem paths only (like compact_ivf_cells): the marker and
recovery protocol uses os/glob. At lake scale this exact fold is a
Delta/Iceberg MERGE INTO + the txn log's batchId dedup — the table
format owns atomicity there, so the file protocol is deliberately not
generalized to hdfs://s3a:// (NotImplementedError instead of subtle
wrong-FS behavior).

Scale notes (100 TB), counts: each micro-batch shuffles only its own
per-key partials (combinable agg), then joins them against the aggregate
table — which is |distinct keys|-sized, not history-sized. The
full-outer merge rewrite is proportional to the KEY space.
"""

from __future__ import annotations

import glob
import hashlib
import os
from typing import Callable

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from ..sources.writers import commit_swap


def _require_local(table_path: str) -> None:
    if "://" in table_path:
        raise NotImplementedError(
            "the table fold's marker/recovery protocol is local-filesystem "
            "only; on a lake store use a table format (Delta/Iceberg MERGE "
            "INTO owns the atomicity this module hand-rolls)"
        )


def _scope_tag(checkpoint: str) -> str:
    """The query-lineage tag binding a table to one checkpoint."""
    return hashlib.sha256(checkpoint.encode()).hexdigest()[:8]


def _marker_scopes(table_path: str) -> set[str]:
    return {
        os.path.basename(m).split("-")[1]
        for m in glob.glob(os.path.join(table_path, "_epoch-*-*"))
    }


def committed_epoch(table_path: str, scope: str = "default") -> int:
    """Highest epoch folded into the table under this scope, -1 if none."""
    marks = glob.glob(os.path.join(table_path, f"_epoch-{scope}-*"))
    return max(
        (int(os.path.basename(m).rsplit("-", 1)[1]) for m in marks), default=-1
    )


def recover_interrupted_swap(table_path: str) -> bool:
    """A crash between commit_swap's two renames leaves the table absent
    and the previous state under .__old__ — restore it (os.rename is
    atomic) so the replayed epoch merges into history instead of
    silently re-initializing from one batch."""
    old = table_path.rstrip("/") + ".__old__"
    if not os.path.exists(table_path) and os.path.exists(old):
        os.rename(old, table_path)
        return True
    return False


def fold_batch_into_table(
    batch_df: DataFrame,
    epoch_id: int,
    table_path: str,
    merge: Callable[[DataFrame | None, DataFrame], DataFrame],
    scope: str = "default",
) -> bool:
    """Fold one micro-batch into the table as ``merge(base, batch_df)``
    (``base`` is None on the first epoch); returns False when the epoch
    was already committed (replay) and nothing was done. Raises if the
    table belongs to a different query lineage (see module docstring)."""
    _require_local(table_path)
    recover_interrupted_swap(table_path)
    seen = _marker_scopes(table_path)
    if seen and scope not in seen:
        raise ValueError(
            f"table {table_path} was built by a different "
            "query/checkpoint lineage — reset the table together with the "
            "checkpoint, or keep the original checkpoint"
        )
    if epoch_id <= committed_epoch(table_path, scope):
        return False  # replayed epoch — the fold already happened
    spark = batch_df.sparkSession
    base = spark.read.parquet(table_path) if os.path.exists(table_path) else None
    # ONE path for both branches: stage data + marker, then install
    # atomically (commit_swap tolerates a missing base on first epoch)
    staging = table_path.rstrip("/") + ".__staging__"
    merge(base, batch_df).write.mode("overwrite").parquet(staging)
    with open(os.path.join(staging, f"_epoch-{scope}-{epoch_id}"), "w") as f:
        f.write("ok")
    commit_swap(spark, staging, table_path, require_base=False)
    return True


def stream_maintain_table(
    stream_df: DataFrame,
    table_path: str,
    checkpoint: str,
    merge: Callable[[DataFrame | None, DataFrame], DataFrame],
) -> StreamingQuery:
    """Keep the table at ``table_path`` current against a stream: each
    micro-batch folds in through ``fold_batch_into_table``. The stream
    itself is a stateless passthrough; the TABLE is the state, bound to
    ``checkpoint`` (see module docstring). ``functools.partial`` binds a
    merge's column arguments (``merge_counts``,
    ``bitmap_maintenance.merge_bitmaps``,
    ``skyline_maintenance.merge_skyline``)."""
    _require_local(table_path)
    scope = _scope_tag(checkpoint)
    return (
        stream_df.writeStream.foreachBatch(
            lambda batch_df, epoch_id: fold_batch_into_table(
                batch_df, epoch_id, table_path, merge, scope=scope
            )
        )
        .option("checkpointLocation", checkpoint)
        .start()
    )


def merge_counts(
    base: DataFrame | None,
    batch_df: DataFrame,
    group_col: str,
    value_col: str,
) -> DataFrame:
    """Additive merge: the batch's (n, sum_value) per key, full-outer
    summed into ``base``."""
    # sums cast to double in BOTH branches so the table schema never
    # drifts between the initial epoch and merged epochs
    partial = batch_df.groupBy(group_col).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(value_col).cast("double").alias("sum_value"),
    )
    if base is None:
        return partial
    return (
        base.alias("b")
        .join(partial.alias("p"), group_col, "full_outer")
        .select(
            F.coalesce(F.col(f"b.{group_col}"), F.col(f"p.{group_col}")).alias(
                group_col
            ),
            (
                F.coalesce(F.col("b.n"), F.lit(0))
                + F.coalesce(F.col("p.n"), F.lit(0))
            ).alias("n"),
            (
                F.coalesce(F.col("b.sum_value"), F.lit(0.0))
                + F.coalesce(F.col("p.sum_value"), F.lit(0.0))
            ).cast("double").alias("sum_value"),
        )
    )

"""Continuous ANN index maintenance: streaming ingest into the IVF layout.

The batch half of the lifecycle lives in operators.ann: write_ivf_index
builds the cell-partitioned corpus once, append_to_ivf_index folds a new
batch in at O(batch) cost (only touched cell directories get new files).
This module wires that append into Structured Streaming, so a stream of
fresh embeddings (a crawler, an ingestion queue) keeps the index current
without ever rewriting it.

Reference anchor: the reference's index is Azure AI Search, which it
updates incrementally via merge/upload calls (ChunkLabelingProcesor.py:49
``merge_documents``; full-index rescan at update-etiquetas.ipynb:96 c6).
Here the same "index stays live while documents arrive" contract is
expressed engine-side: foreachBatch → broadcast-argmin cell assign →
partitioned parquet append.

Scale notes (100 TB): each micro-batch does one map-side cell assignment
(the quantizer broadcasts; no shuffle) and appends only to the cells it
touches — one Spark job per micro-batch, the write itself: the quantizer
is read and sorted on the driver, and no emptiness probe runs first.
Checkpointing gives exactly-once *offset* tracking; the sink is
append-only parquet, so a replayed epoch can duplicate rows — dedupe on
vec_id at probe time or compact periodically, the standard
streaming-into-lake contract. Quantizer drift is handled out-of-band by a
periodic re-train + full write_ivf_index (ann.py docstring), never by the
stream itself: re-training in-stream would invalidate every previously
assigned cell.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql.streaming import StreamingQuery

from ..operators import ann


def stream_append_to_ivf_index(
    stream_df: DataFrame,
    path: str,
    checkpoint: str | None = None,
    trigger_once: bool = False,
) -> StreamingQuery:
    """Start a stream that appends every micro-batch into the IVF index
    at ``path`` (built beforehand by ann.write_ivf_index).

    foreachBatch rather than a direct parquet sink because the append is
    not a plain write: each batch is first assigned to cells against the
    stored (immutable) quantizer — a broadcast argmin, no shuffle — and
    lands partitionBy("cell") so probes keep pruning partitions as the
    corpus grows.
    """

    def _fold(batch_df: DataFrame, epoch_id: int) -> None:
        # no emptiness probe: an empty batch's partitioned write lands no
        # file, so the guard would only cost a job per micro-batch
        ann.append_to_ivf_index(batch_df, path)

    writer = stream_df.writeStream.foreachBatch(_fold).outputMode("append")
    if checkpoint is not None:
        writer = writer.option("checkpointLocation", checkpoint)
    if trigger_once:
        writer = writer.trigger(availableNow=True)
    return writer.start()

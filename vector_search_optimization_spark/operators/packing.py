"""Token-budget batch packing (training-data pipeline: group documents
into LLM-sized batches — the engine-side generalization of the
reference's per-cluster token-capped prompt assembly,
update-etiquetas.ipynb:171 c9 ``contar_tokens`` budget loop).

Two formulations:

- ``pack_by_token_budget`` (shards=None): the exact one-pass streaming
  pack — running token total per group in id order, a batch break when
  the total crosses the budget. One window shuffle; a group's whole
  corpus lands in ONE window partition, which is correct but a hotspot
  when a single group (language) dominates the corpus.
- sharded (shards=N): the 100 TB relaxation SCALING.md documents — ids
  hash into N shards per group, the window partitions by (group, shard),
  and batch keys are (group, shard, batch_ix). Batch boundaries shift
  relative to the exact pack (each shard packs independently) but every
  packing invariant still holds per batch; no task ever holds more than
  ~1/N of a group. The sharded pack of shard count 1 IS the exact pack
  (property-tested).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def pack_by_token_budget(
    df: DataFrame,
    budget: int,
    tokens: Column,
    shards: int | None = None,
) -> DataFrame:
    """Assign each row ``batch_id = floor(exclusive_cumulative_tokens /
    budget)`` in ``id_col`` order — the one-pass windowed pack.

    Returns the input columns plus (n_tok, [shard,] batch_id). Invariant:
    a batch's token sum exceeds the budget by at most its final document.
    Note the floor-of-cumsum semantics deliberately differ from a
    counter-resetting greedy pack: an over-budget document's overshoot
    counts against the FOLLOWING batch ids (budget=10, tokens [19, 2, 9]
    → batches [19], [2], [9], where a resetting pack would give [19],
    [2, 9]). In exchange the assignment is a pure expression over one
    window — no stateful scan — and global token offsets are recoverable
    from batch ids alone.
    """
    out = df.withColumn("n_tok", tokens)
    if shards is None:
        part = ["lang"]
    else:
        shard_name = "shard"
        while shard_name in df.columns:  # never clobber a caller's column
            shard_name += "_"
        out = out.withColumn(
            shard_name, F.pmod(F.xxhash64(F.col("doc_id")), F.lit(shards))
        )
        part = ["lang", shard_name]
    w = (
        Window.partitionBy(*part)
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    return out.withColumn(
        "batch_id",
        F.floor(F.coalesce(F.sum("n_tok").over(w), F.lit(0)) / F.lit(budget)),
    )

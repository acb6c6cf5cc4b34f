"""Top-k / ranking operators (SURVEY §2.6 O5-O7, §2.5 W4-W5, §2.4 A12).

Reference sites: 100 nearest + 100 farthest docs per cluster for LLM
labeling (update-etiquetas.ipynb:171 c9 — ``np.argsort(distances)[:k]`` /
``sorted_docs[-k:]``), first-row-per-group (main-script1.ipynb:1724 c55),
dense label numbering (main-script1.ipynb:1120 c39).

All are window compositions — partial sort per partition, single shuffle on
the partition key. For huge groups Spark's window top-k gets a
rank-limit pushdown (WindowGroupLimit) so executors keep only k rows per
group before the shuffle.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def top_k_per_group(
    df: DataFrame,
    group_col: str | list[str],
    order_col: Column | str | list,
    k: int,
    descending: bool = False,
) -> DataFrame:
    """O5/O6 — k smallest (or largest with descending=True) rows per group.

    ``order_col`` may be a column/name or a list of sort expressions
    (e.g. ``[F.col("value").desc(), F.col("id").asc()]``); ``descending``
    applies only to the single-column form.
    """
    groups = [group_col] if isinstance(group_col, str) else list(group_col)
    if isinstance(order_col, list):
        order = order_col
    else:
        col = F.col(order_col) if isinstance(order_col, str) else order_col
        order = [col.desc() if descending else col.asc()]
    w = Window.partitionBy(*groups).orderBy(*order)
    return (
        df.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
    )


def interleave_near_far(
    df: DataFrame,
    group_col: str,
    dist_col: str,
    k: int,
    tie_col: str | None = None,
) -> DataFrame:
    """O7 — alternate the k nearest and k farthest rows per group.

    The reference interleaves closest/farthest cluster members to build the
    LLM labeling prompt (update-etiquetas.ipynb:171 c9). Output adds
    ``side`` ('near'|'far') and ``ord`` (interleaved position: near_1,
    far_1, near_2, far_2, ...). Rank both directions in ONE window pass
    (row_number asc + desc over the same partitioning → one shuffle).

    Pass ``tie_col`` (an id column, always ranked ASC) to make the
    selection deterministic under duplicate distances — required
    whenever the output feeds a value-oracled path.
    """
    ties = [F.col(tie_col).asc()] if tie_col else []
    w_near = Window.partitionBy(group_col).orderBy(
        F.col(dist_col).asc(), *ties
    )
    w_far = Window.partitionBy(group_col).orderBy(
        F.col(dist_col).desc(), *ties
    )
    ranked = df.withColumn("__rn", F.row_number().over(w_near)).withColumn(
        "__rf", F.row_number().over(w_far)
    )
    near = ranked.where(F.col("__rn") <= k).select(
        "*",
        F.lit("near").alias("side"),
        (F.col("__rn") * 2 - 1).alias("ord"),
    )
    far = ranked.where(F.col("__rf") <= k).select(
        "*", F.lit("far").alias("side"), (F.col("__rf") * 2).alias("ord")
    )
    return near.unionByName(far).drop("__rn", "__rf")


def first_row_per_group(
    df: DataFrame, group_col: str | list[str], order_col: Column | str
) -> DataFrame:
    """A12 — deterministic groupby().first(): explicit order, rank 1.

    pandas 'first' is encounter-order; Spark has no stable encounter order,
    so the engine requires an explicit ordering column (SURVEY §4.3).
    """
    return top_k_per_group(df, group_col, order_col, k=1).drop("rank")


def dense_label_numbering(df: DataFrame, label_col: str) -> DataFrame:
    """W5 — dense 0-based label ids.

    The reference numbers labels in encounter order ({v: i for i, v in
    enumerate(unique)}, main-script1.ipynb:1120 c39); the engine
    standardises on lexicographic order (documented deviation, SURVEY §4.3).
    """
    w = Window.orderBy(F.col(label_col).asc())
    return df.withColumn("etiqueta_numero", F.dense_rank().over(w) - 1)

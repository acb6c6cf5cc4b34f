"""Element-wise vector aggregation per group (SURVEY §2.4 A7).

Reference: per-category centroid via ``groupby('category')['content_vector_norm']
.apply(lambda x: np.mean(np.array(x.tolist()), axis=0))``
(main-script1.ipynb:990 c34) — the one true custom aggregate in the codebase.

Two formulations:

- ``group_vector_mean`` (default): MLlib ``Summarizer.mean`` — a single
  aggregation pass shipping O(dim) partial state per group per task. The
  scale path: the shuffle carries one summarizer buffer per (task, group),
  not the vectors.
- ``group_vector_mean_posexplode``: pure-SQL posexplode → avg per (group,
  pos) → re-collect. Shuffles n*dim scalar rows; kept as the declarative
  correctness oracle and for engines without MLlib.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def group_vector_mean(df: DataFrame, group_col: str, vector_col: str) -> DataFrame:
    """Per-group element-wise mean vector via MLlib Summarizer (one pass)."""
    from pyspark.ml.functions import array_to_vector, vector_to_array
    from pyspark.ml.stat import Summarizer

    return (
        df.select(
            group_col,
            array_to_vector(F.col(vector_col).cast("array<double>")).alias("__v"),
        )
        .groupBy(group_col)
        .agg(Summarizer.mean(F.col("__v")).alias("__m"))
        .select(group_col, vector_to_array(F.col("__m")).alias("centroid"))
    )


def group_vector_mean_posexplode(
    df: DataFrame,
    group_col: str,
    vector_col: str,
) -> DataFrame:
    """Declarative formulation: posexplode + avg + ordered re-collect."""
    exploded = df.select(
        group_col,
        F.posexplode(F.col(vector_col).cast("array<double>")).alias("__pos", "__val"),
    )
    return (
        exploded.groupBy(group_col, "__pos")
        .agg(F.avg("__val").alias("__m"))
        .groupBy(group_col)
        .agg(
            F.array_sort(F.collect_list(F.struct("__pos", "__m"))).alias("__s")
        )
        .select(
            group_col,
            F.transform(F.col("__s"), lambda x: x["__m"]).alias("centroid"),
        )
    )

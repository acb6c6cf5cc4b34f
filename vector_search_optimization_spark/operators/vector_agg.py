"""Element-wise vector aggregation per group (SURVEY §2.4 A7).

Reference: per-category centroid via ``groupby('category')['content_vector_norm']
.apply(lambda x: np.mean(np.array(x.tolist()), axis=0))``
(main-script1.ipynb:990 c34) — the one true custom aggregate in the codebase.

``group_vector_mean``: MLlib ``Summarizer.mean`` — a single aggregation
pass shipping O(dim) partial state per group per task. The scale path:
the shuffle carries one summarizer buffer per (task, group), not the
vectors.
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

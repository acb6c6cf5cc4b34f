"""J7/W4/M12 — nearest-centroid join: UDF path vs declarative oracle vs numpy."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from vector_search_optimization_spark.operators import nearest_centroid as NC
from vector_search_optimization_spark.sources import load_table
from tests.fixtures import jobs_in_group

METRICS = ["euclidean", "sqeuclidean", "cosine", "manhattan"]


@pytest.fixture(scope="module")
def emb(spark, sf_small):
    return load_table(spark, sf_small, "embeddings").cache()


@pytest.fixture(scope="module")
def cents(spark, sf_small):
    from vector_search_optimization_spark.operators import vector_agg as VA

    e = load_table(spark, sf_small, "embeddings")
    return (
        VA.group_vector_mean(e, "label", "embedding")
        .withColumnRenamed("label", "cluster_label")
        .cache()
    )


@pytest.mark.parametrize("metric", METRICS)
def test_udf_matches_crossjoin(emb, cents, metric):
    a = (
        NC.nearest_centroid(emb, cents, vector_col="embedding", metric=metric)
        .select("vec_id", "assigned_label", "assigned_dist")
        .toPandas()
        .set_index("vec_id")
        .sort_index()
    )
    b = (
        NC.nearest_centroid_crossjoin(emb, cents, vector_col="embedding", metric=metric)
        .select("vec_id", "assigned_label", "assigned_dist")
        .toPandas()
        .set_index("vec_id")
        .sort_index()
    )
    assert (a.assigned_label == b.assigned_label).all()
    assert np.allclose(a.assigned_dist, b.assigned_dist, rtol=1e-9, equal_nan=True)


def test_matches_numpy_argmin(emb, cents):
    pdf = emb.select("vec_id", "embedding").toPandas().sort_values("vec_id")
    cdf = cents.toPandas().sort_values("cluster_label")
    mat = np.array(pdf.embedding.tolist(), dtype=np.float64)
    cm = np.array(cdf.centroid.tolist(), dtype=np.float64)
    d = np.sqrt(((mat[:, None, :] - cm[None, :, :]) ** 2).sum(axis=2))
    expected = cdf.cluster_label.values[np.argmin(d, axis=1)]
    got = (
        NC.nearest_centroid(emb, cents, vector_col="embedding")
        .select("vec_id", "assigned_label")
        .toPandas()
        .sort_values("vec_id")
    )
    assert (got.assigned_label.values == expected).all()


def test_tie_breaks_to_lowest_label(spark):
    # two identical centroids → argmin must pick the lower label in BOTH paths
    df = spark.createDataFrame([(1, [1.0, 1.0])], "id long, v array<float>")
    cents = spark.createDataFrame(
        [(7, [0.0, 0.0]), (3, [0.0, 0.0])], "cluster_label int, centroid array<float>"
    )
    for fn in (NC.nearest_centroid, NC.nearest_centroid_crossjoin):
        row = fn(df, cents, vector_col="v").first()
        assert row.assigned_label == 3, fn.__name__


def test_duplicate_rows_survive_crossjoin_path(spark):
    df = spark.createDataFrame(
        [(1, [1.0, 0.0]), (1, [1.0, 0.0])], "id long, v array<float>"
    )
    cents = spark.createDataFrame(
        [(0, [0.0, 0.0])], "cluster_label int, centroid array<float>"
    )
    assert NC.nearest_centroid_crossjoin(df, cents, vector_col="v").count() == 2


def test_build_over_driver_local_centroids_fires_no_job(spark, emb):
    """The centroid table is collected and sorted on the driver: over a
    LocalRelation (how an IVF index hands out its quantizer) building the
    assignment runs no Spark job, and the labels still match numpy."""
    import pyarrow as pa

    pdf = emb.select("vec_id", "embedding").toPandas().sort_values("vec_id")
    mat = np.array(pdf.embedding.tolist(), dtype=np.float64)
    cm = mat[[5, 0, 3]]
    cents = spark.createDataFrame(
        pa.table(
            {
                "cluster_label": pa.array([2, 0, 1], pa.int32()),
                "centroid": pa.array(cm.tolist(), pa.list_(pa.float32())),
            }
        )
    )
    assert "LocalRelation" in cents._jdf.queryExecution().optimizedPlan().toString()

    jobs, out = jobs_in_group(
        spark,
        "nc-build",
        lambda: NC.nearest_centroid(emb, cents, vector_col="embedding"),
    )
    assert jobs == []
    cm32 = cm.astype(np.float32).astype(np.float64)
    d = ((mat[:, None, :] - cm32[None, :, :]) ** 2).sum(axis=2)
    expected = np.array([2, 0, 1])[np.argmin(d, axis=1)]
    got = out.select("vec_id", "assigned_label").toPandas().sort_values("vec_id")
    assert (got.assigned_label.values == expected).all()


@pytest.mark.parametrize(
    "labels",
    [[7, 3, 5, 3, 9, 1], [4, None, 2, 6, None, 0]],
    ids=["int", "null"],
)
def test_unsorted_centroids_assign_like_sorted(spark, labels):
    """Centroids handed over in any order assign exactly as the same
    table sorted by Spark (ascending, nulls first): exact ties go to the
    first label in that order, in both formulations."""
    pts = [[0.0, 0.0], [1.0, 1.0], [4.0, 4.0], [9.0, 9.0]]
    vecs = [[1.0, 1.0], [4.0, 4.0], [1.0, 1.0], [4.0, 4.0], [9.0, 9.0], [9.0, 9.0]]
    df = spark.createDataFrame(list(enumerate(pts)), "id long, v array<float>")
    cents = spark.createDataFrame(
        list(zip(labels, vecs)), "cluster_label int, centroid array<float>"
    )
    ordered = cents.orderBy("cluster_label").collect()
    cm = np.array([r.centroid for r in ordered])
    d = ((np.array(pts)[:, None, :] - cm[None, :, :]) ** 2).sum(axis=2)
    want = [ordered[j].cluster_label for j in np.argmin(d, axis=1)]
    for fn in (NC.nearest_centroid, NC.nearest_centroid_crossjoin):
        got = fn(df, cents, vector_col="v").orderBy("id").collect()
        assert [r.assigned_label for r in got] == want, fn.__name__


@pytest.mark.parametrize(
    "ddl, values",
    [
        ("int", [7, None, -3, 0, 12, None, 5]),
        ("string", ["b", "10", None, "é", "Z", "9", "", "a"]),
        ("double", [2.5, float("nan"), None, -1.0, float("inf"), 0.5]),
    ],
)
def test_driver_sort_key_matches_spark_ascending(spark, ddl, values):
    """The driver-side label sort puts rows in the order Spark's
    ascending orderBy does: nulls first, strings by code point, NaN
    after every number."""
    df = spark.createDataFrame([(v,) for v in values], f"label {ddl}")
    spark_order = [r.label for r in df.orderBy("label").collect()]
    driver_order = sorted((r.label for r in df.collect()), key=NC._ascending)
    # NaN != NaN: compare through repr
    assert [repr(v) for v in driver_order] == [repr(v) for v in spark_order]

"""Heavy-hitter sketch-then-verify (operators/heavy_hitters.py).

The contract under test: the output is the EXACT set of keys with
``count > phi * total`` — independent of partition layout — even though
the intermediate candidate set is layout-dependent; and the candidate
stage is bounded (<= 1/phi keys per batch) so nothing corpus-sized is
ever shuffled or broadcast.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from vector_search_optimization_spark.operators import heavy_hitters as HH
from vector_search_optimization_spark.sources import load_table
from tests.fixtures import run_stream_to_memory


def _planted(spark, n_noise=3000, n_hot=400, parts=7):
    """A stream with one true hitter ('hot', ~12%) spread EVENLY over
    all partitions (the adversarial layout for per-partition counting:
    no partition is hot-dominated) plus near-uniform noise keys."""
    rows = [(i, f"k{i % 97}") for i in range(n_noise)]
    step = (n_noise + n_hot) // n_hot
    rows += [(n_noise + i, "hot") for i in range(n_hot)]
    df = spark.createDataFrame(rows, "i long, key string")
    # round-robin-ish deterministic spread: partition by i
    return df.repartition(parts, "i").select("key")


def _exact(df, phi):
    tot = df.count()
    return {
        r["key"]: r["n"]
        for r in df.groupBy("key")
        .agg(F.count(F.lit(1)).alias("n"))
        .where(F.col("n") > phi * tot)
        .collect()
    }


@pytest.mark.parametrize("phi", [0.05, 0.02])
def test_matches_exact_formulation(spark, phi):
    df = _planted(spark)
    got = {
        r["key"]: (r["n"], r["total"], r["share"])
        for r in HH.heavy_hitters(df, "key", phi).collect()
    }
    want = _exact(df, phi)
    assert set(got) == set(want)
    total = df.count()
    for k, (n, tot, share) in got.items():
        assert n == want[k] and tot == total and share == n / total


def test_partition_layout_invariance(spark):
    """Same data, three different layouts -> identical output rows."""
    base = _planted(spark)
    outs = []
    for df in (base, base.repartition(1), base.repartition(13, "key")):
        outs.append(
            tuple(map(tuple, HH.heavy_hitters(df, "key", 0.05).collect()))
        )
    assert outs[0] == outs[1] == outs[2]
    assert any(r[0] == "hot" for r in outs[0])


def test_candidate_stage_is_bounded_and_complete(spark):
    df = _planted(spark)
    phi = 0.05
    cands = [r["key"] for r in HH.candidate_keys(df, "key", phi).collect()]
    # complete: the true hitter is guaranteed a candidate
    assert "hot" in cands
    # bounded: far below the 97-key noise vocabulary — per batch at most
    # 1/phi=20 keys can qualify, and near-uniform noise keys mostly don't
    assert len(cands) <= 98


def test_no_hitters_when_uniform(spark):
    df = spark.createDataFrame(
        [(i, f"k{i % 50}") for i in range(2000)], "i long, key string"
    ).select("key")
    assert HH.heavy_hitters(df, "key", 0.05).count() == 0


def test_streaming_monitor_brackets_counts_and_bounds_state(spark, sf_small):
    """Multi-batch replay: every summarized key's true count sits inside
    the emitted [est, est+decs] bracket, and per-shard state never
    exceeds ceil(1/phi) keys even though each shard sees ~75 distinct
    users (trims genuinely fire)."""
    import math

    from vector_search_optimization_spark import streaming as S
    from vector_search_optimization_spark.sources.replay_datasource import (
        register_replay_source,
    )

    register_replay_source(spark)
    phi, n_shards = 0.05, 2
    ev = (
        spark.readStream.format("events_replay")
        .option("path", sf_small)
        .option("rows_per_batch", "300")
        .load()
    )
    out = run_stream_to_memory(
        S.heavy_hitter_monitor_stream(ev, "user_id", phi, n_shards=n_shards),
        "t_hh_user",
        output_mode="update",
    ).toPandas()
    # final snapshot per shard = the emission with that shard's max row count
    final = out[out.shard_rows == out.groupby("shard").shard_rows.transform("max")]
    k = int(math.ceil(1.0 / phi))
    assert (final.groupby("shard").size() <= k).all()
    true = (
        load_table(spark, sf_small, "events")
        .groupBy(F.col("user_id").cast("string").alias("key"))
        .agg(F.count(F.lit(1)).alias("n"))
        .toPandas()
        .set_index("key")["n"]
    )
    for r in final.itertuples():
        assert r.est <= true[r.key] <= r.est + r.decs


def test_streaming_monitor_candidates_superset_then_verify_equals_batch(
    spark, sf_small
):
    """The stream-then-verify contract: streaming candidates contain every
    exact batch heavy hitter, and the exact verify over the accumulated
    table restricted to those candidates reproduces the batch operator's
    output. With k >= distinct keys no trim ever fires, so est IS exact."""
    from vector_search_optimization_spark import streaming as S
    from vector_search_optimization_spark.operators.heavy_hitters import (
        heavy_hitters,
    )
    from vector_search_optimization_spark.sources.replay_datasource import (
        register_replay_source,
    )

    register_replay_source(spark)
    ev = (
        spark.readStream.format("events_replay")
        .option("path", sf_small)
        .option("rows_per_batch", "300")
        .load()
    )
    out = run_stream_to_memory(
        S.heavy_hitter_monitor_stream(ev, "event_type", 0.1, n_shards=2),
        "t_hh_type",
        output_mode="update",
    ).toPandas()
    final = out[out.shard_rows == out.groupby("shard").shard_rows.transform("max")]
    assert (final.decs == 0).all()  # no eviction -> exact MG counts
    batch = heavy_hitters(
        load_table(spark, sf_small, "events"), "event_type", 0.1
    ).toPandas()
    assert set(batch.event_type.astype(str)) <= set(final.key)
    got_counts = final.set_index("key").est
    for r in batch.itertuples():
        assert got_counts[str(r.event_type)] == r.n

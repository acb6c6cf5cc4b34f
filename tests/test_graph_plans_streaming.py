"""G1-G2 graph stage, EP1/EP3 pipeline, streaming windows, multimodal."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from vector_search_optimization_spark.operators import graph, multimodal
from vector_search_optimization_spark.plans import (
    FakeChatModel,
    analytics_prologue,
    cluster_label_pipeline,
)
from vector_search_optimization_spark.sources import load_table
from tests.fixtures import run_stream_to_memory


# --- graph -------------------------------------------------------------------

def test_two_clique_communities(spark):
    # two 3-cliques joined by one weak edge → 2 communities, positive Q
    rows = [
        ("d1", 1), ("d1", 2), ("d1", 3),
        ("d2", 1), ("d2", 2), ("d2", 3),
        ("d3", 4), ("d3", 5), ("d3", 6),
        ("d4", 4), ("d4", 5), ("d4", 6),
        ("d5", 3), ("d5", 4),  # weak bridge
    ]
    df = spark.createDataFrame(rows, "doc string, cluster int")
    verts, edges = graph.build_cluster_graph(df, "doc", "cluster")
    assert verts.count() == 6
    res = graph.detect_communities(edges)
    assert res["n_communities"] == 2
    assert sorted(map(sorted, res["communities"])) == [[1, 2, 3], [4, 5, 6]]
    assert res["modularity"] > 0.3


def test_modularity_helper_agrees_with_networkx(spark):
    import networkx as nx
    from networkx.algorithms import community as nxc

    edges = [(1, 2, 3.0), (2, 3, 1.0), (3, 4, 2.0), (4, 1, 1.0)]
    comms = [{1, 2}, {3, 4}]
    g = nx.Graph()
    for s, d, w in edges:
        g.add_edge(s, d, weight=w)
    expect = nxc.modularity(g, comms, weight="weight")
    assert graph.modularity(edges, comms) == pytest.approx(expect, abs=1e-9)


def test_greedy_fallback_partitions_cliques():
    edges = [(a, b, 1.0) for a in (1, 2, 3) for b in (1, 2, 3) if a < b]
    edges += [(a, b, 1.0) for a in (4, 5, 6) for b in (4, 5, 6) if a < b]
    edges += [(3, 4, 0.1)]
    comms = graph._greedy_modularity_fallback({1, 2, 3, 4, 5, 6}, edges, True)
    assert sorted(sorted(c) for c in comms) == [[1, 2, 3], [4, 5, 6]]


# --- pipelines ----------------------------------------------------------------

@pytest.fixture(scope="module")
def chunk_like(spark):
    """documents+embeddings zipped into the reference's chunk-table shape."""
    rng = np.random.RandomState(5)
    rows = []
    for i in range(120):
        c = i % 4
        vec = (np.eye(4)[c] * 5 + rng.normal(scale=0.3, size=4)).tolist()
        rows.append(
            (f"chk-{i:04d}", f"doc-{i // 3:03d}", f"text {i} " * 5,
             ["document", "site", "calendar", "table"][i % 4], vec)
        )
    return spark.createDataFrame(
        rows, "id string, document_id string, content string, category string, "
              "content_vector array<float>"
    ).cache()


def test_analytics_prologue(chunk_like, spark):
    from vector_search_optimization_spark.operators import vector_agg as VA
    from vector_search_optimization_spark.functions import vector as V

    from pyspark.sql import Window

    normalized = chunk_like.withColumn("nv", V.l2_normalize("content_vector"))
    cents = VA.group_vector_mean(normalized, "category", "nv").select(
        (F.dense_rank().over(Window.orderBy("category")) - 1).alias("cluster_label"),
        "centroid",
    )
    report = analytics_prologue(chunk_like, cents)
    pdf = report.toPandas()
    assert set(pdf.columns) == {"assigned_label", "category", "n_chunks", "n_docs", "pct"}
    assert pdf.n_chunks.sum() == 120
    # pct sums to 100 within each assigned cluster
    sums = pdf.groupby("assigned_label").pct.sum()
    assert ((sums - 100.0).abs() < 0.5).all()


def test_cluster_label_pipeline_end_to_end(chunk_like):
    llm = FakeChatModel()
    res = cluster_label_pipeline(chunk_like, k=4, llm=llm, sample_k=10)
    assert len(res["labels"]) == 4
    assert len(llm.calls) == 4
    labeled = res["labeled"]
    assert labeled.where(F.col("etiqueta_cluster").isNull()).count() == 0
    audit = {r.etiqueta_cluster: r.n_docs for r in res["audit"].collect()}
    assert sum(audit.values()) == 120
    assert set(audit) == set(res["labels"].values())


def test_cluster_label_pipeline_lloyd_quantizer_deterministic(chunk_like):
    """quantizer='lloyd' (the value-oracle path): two runs produce the
    same labels, audit counts, and prompt-corpus sha — the property the
    driver's ep3_label_pipeline hash gate relies on."""
    def run():
        res = cluster_label_pipeline(
            chunk_like, k=4, llm=FakeChatModel(), sample_k=10,
            token_budget=25, quantizer="lloyd",
        )
        return sorted(
            (r.etiqueta_cluster, r.n_docs, r.corpus_chars, r.corpus_sha)
            for r in res["audit"].collect()
        )

    a, b = run(), run()
    assert a == b
    assert sum(r[1] for r in a) == 120
    assert all(r[2] <= 100 for r in a)  # token_budget * 4 char cap
    assert len({r[3] for r in a}) == len(a)  # distinct corpora per cluster


def test_pipeline_null_vectors_stay_unlabeled(chunk_like, spark):
    with_null = chunk_like.union(
        spark.createDataFrame(
            [("chk-null", "doc-x", "t", "document", None)],
            chunk_like.schema,
        )
    )
    res = cluster_label_pipeline(with_null, k=4, sample_k=5)
    nulls = res["labeled"].where(F.col("etiqueta_cluster").isNull())
    assert [r.id for r in nulls.collect()] == ["chk-null"]


# --- streaming -----------------------------------------------------------------

def test_streaming_matches_batch_tumbling(spark, sf_small):
    from vector_search_optimization_spark import streaming as S
    import __spark_entry__ as m

    ev = S.read_events_stream(spark, sf_small)
    # complete mode: append would (correctly) withhold windows the
    # watermark hasn't closed when the bounded backlog ends
    got = run_stream_to_memory(
        S.tumbling_window_agg(ev), "t_tumbling", output_mode="complete"
    ).toPandas()
    want = m.queries()["evt_tumbling_window"](spark, sf_small).toPandas()
    g = got.sort_values(["window_start", "event_type"], ignore_index=True)
    w = want.sort_values(["window_start", "event_type"], ignore_index=True)
    assert len(g) == len(w)
    assert (g.n.values == w.n.values).all()
    assert np.allclose(g.sum_value, w.sum_value)


def test_streaming_session_windows(spark, sf_small):
    from vector_search_optimization_spark import streaming as S

    ev = S.read_events_stream(spark, sf_small)
    got = run_stream_to_memory(
        S.sessionized_counts_stream(ev),
        "t_sessions",
        output_mode="complete",
    )
    per_user = got.groupBy("user_id").agg(F.sum("n_events").alias("n")).toPandas()
    total = per_user.n.sum()
    assert total == 1000  # every event lands in exactly one session


def test_streaming_asof_matches_batch(spark, sf_small):
    """The stateful streaming as-of join must reproduce the (oracle-
    verified) batch as-of aggregate on a bounded backlog."""
    from vector_search_optimization_spark import streaming as S
    import __spark_entry__ as m

    ev = S.read_events_stream(spark, sf_small)
    rows = run_stream_to_memory(S.asof_click_purchase_stream(ev), "t_asof")
    got = rows.agg(
        F.count(F.lit(1)).alias("n_purchases"),
        F.count("lag_s").alias("n_matched"),
        F.sum("lag_s").alias("sum_lag_s"),
        F.max("lag_s").alias("max_lag_s"),
    ).select(
        "n_purchases",
        "n_matched",
        "sum_lag_s",
        (F.col("sum_lag_s").cast("double") / F.col("n_matched")).alias(
            "avg_lag_s"
        ),
        "max_lag_s",
    ).first()
    want = m.queries()["evt_asof_join"](spark, sf_small).first()
    assert got.asDict() == want.asDict()


def test_stateful_running_user_stats(spark, sf_small):
    from vector_search_optimization_spark import streaming as S

    ev = S.read_events_stream(spark, sf_small)
    got = run_stream_to_memory(
        S.running_user_stats_stream(ev), "t_stateful", output_mode="update"
    ).toPandas()
    # one bounded backlog → one micro-batch → final running totals match batch
    import __spark_entry__  # noqa: F401  (path setup)
    from vector_search_optimization_spark.sources import load_table

    want = (
        load_table(spark, sf_small, "events")
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n_events"), F.round(F.sum("value"), 4).alias("sum_value"))
        .toPandas()
    )
    last = got.groupby("user_id").last().sort_index()
    want = want.set_index("user_id").sort_index()
    assert (last.n_events == want.n_events).all()
    assert np.allclose(last.sum_value, want.sum_value, atol=0.01)


# --- multimodal -----------------------------------------------------------------

@pytest.fixture(scope="module")
def assets(spark):
    rows = [
        ("a1", "image", "image/png", bytearray(b"\x89PNG" + b"x" * 400), 1024, 768, None),
        ("a2", "image", "image/png", bytearray(b"\x89PNG" + b"y" * 100), 200, 100, None),
        ("a3", "video", "video/mp4", bytearray(b"mp4" + b"z" * 50), 1920, 1080, 3500),
        ("a4", "audio", "audio/wav", None, None, None, 2000),
    ]
    from vector_search_optimization_spark import schemas

    return spark.createDataFrame(rows, schemas.ASSETS)


def test_extract_features_stub(assets):
    out = multimodal.extract_features(assets).toPandas().set_index("asset_id")
    assert len(out) == 4
    assert all(len(v) == 16 for v in out.feature_vec)
    assert out.loc["a1", "n_bytes"] == 404
    assert out.loc["a4", "n_bytes"] == 0
    # deterministic: same payload → same sha/features
    again = multimodal.extract_features(assets).toPandas().set_index("asset_id")
    assert (out.sha_prefix == again.sha_prefix).all()


def test_resize_plan_caps_at_768(assets):
    out = multimodal.resize_plan(assets).toPandas().set_index("asset_id")
    assert out.loc["a1", "needs_resize"]
    assert out.loc["a1", "target_width"] == 768
    assert not out.loc["a2", "needs_resize"]


def test_frame_sample_plan(assets):
    frames = multimodal.frame_sample_plan(assets).collect()
    assert [(r.frame_idx, r.frame_ts_ms) for r in frames] == [(0, 0), (1, 1000), (2, 2000), (3, 3000)]


def test_events_replay_custom_streaming_source(spark, sf_small):
    """The Python DataSource stream reader replays the events table in
    bounded micro-batches; a streaming count over it must equal the
    batch count, and offset-range replay must be deterministic
    (exactly-once recovery contract)."""
    from vector_search_optimization_spark import streaming as S
    from vector_search_optimization_spark.sources.replay_datasource import (
        EventsReplayReader,
        register_replay_source,
    )

    register_replay_source(spark)
    ev = (
        spark.readStream.format("events_replay")
        .option("path", sf_small)
        .option("rows_per_batch", "300")  # 1000 rows → 4 micro-batches
        .load()
    )
    got = run_stream_to_memory(
        ev.groupBy("event_type").agg(F.count(F.lit(1)).alias("n")),
        "t_replay",
        output_mode="complete",
    )
    want = {
        (r.event_type, r.n)
        for r in load_table(spark, sf_small, "events")
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    assert {(r.event_type, r.n) for r in got.collect()} == want

    # offset contract, no Spark: re-reading a committed range yields the
    # identical rows the original read produced
    rdr = EventsReplayReader({"path": sf_small, "rows_per_batch": "300"})
    it1, end = rdr.read(rdr.initialOffset())
    first = list(it1)
    assert end == {"idx": 300} and len(first) == 300
    assert list(rdr.readBetweenOffsets({"idx": 0}, end)) == first


def test_streaming_first_seen_dedup_matches_batch(spark, sf_small):
    """Stateful streaming dedup over the ordered replay source: the
    emitted (fingerprint, id) set equals the batch min-per-fingerprint,
    across four micro-batches of carried seen-state."""
    from vector_search_optimization_spark import streaming as S
    from vector_search_optimization_spark.sources.replay_datasource import (
        register_replay_source,
    )

    register_replay_source(spark)
    ev = (
        spark.readStream.format("events_replay")
        .option("path", sf_small)
        .option("rows_per_batch", "300")
        .load()
        .withColumn("fp", F.xxhash64("user_id", "event_type"))
    )
    got = {
        (r.fp, r.event_id)
        for r in run_stream_to_memory(
            S.first_seen_dedup_stream(ev), "t_dedup"
        ).collect()
    }
    want = {
        (r.fp, r.event_id)
        for r in load_table(spark, sf_small, "events")
        .withColumn("fp", F.xxhash64("user_id", "event_type"))
        .groupBy("fp")
        .agg(F.min("event_id").alias("event_id"))
        .collect()
    }
    assert got == want and len(got) > 50


def test_watermark_drops_late_events_in_append_mode(spark, tmp_path):
    """The late-data contract, end to end: after the watermark advances
    past a window and append mode emits it, an event arriving for that
    window is DROPPED — its count never changes — while an event inside
    the horizon still lands."""
    from vector_search_optimization_spark.streaming.windows import (
        tumbling_window_agg,
    )

    src = str(tmp_path / "events_src")
    schema = "ts timestamp, event_type string, value double"

    def write_batch(name, rows):
        spark.createDataFrame(rows, schema).coalesce(1).write.mode(
            "append"
        ).parquet(src)

    import datetime as dt

    t0 = dt.datetime(2026, 1, 1, 0, 30)
    # batch 1: one event in the 00:00 window, then advance event time to
    # 06:00 — with a 2h watermark the horizon moves to 04:00, far past
    # the 00:00 window, which append mode then finalizes and emits
    write_batch("b1", [
        (t0, "click", 1.0),
        (dt.datetime(2026, 1, 1, 6, 0), "click", 1.0),
    ])

    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
    )
    agg = tumbling_window_agg(stream)
    q = (
        agg.writeStream.outputMode("append")
        .format("memory")
        .queryName("t_late_drop")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    try:
        q.processAllAvailable()
        # batch 2: one event LATE for the closed 00:00 window (dropped),
        # one inside the horizon (kept, emitted once its window closes)
        write_batch("b2", [
            (dt.datetime(2026, 1, 1, 0, 45), "click", 1.0),   # late -> drop
            (dt.datetime(2026, 1, 1, 5, 30), "click", 1.0),   # in horizon
        ])
        # batch 3: push event time far ahead so every open window closes
        write_batch("b3", [(dt.datetime(2026, 1, 2, 0, 0), "click", 1.0)])
        q.processAllAvailable()
        rows = {
            r.window_start: r.n
            for r in spark.sql("SELECT * FROM t_late_drop").collect()
        }
    finally:
        q.stop()

    h0 = int(dt.datetime(2026, 1, 1, 0, 0, tzinfo=dt.timezone.utc).timestamp())
    h530 = int(dt.datetime(2026, 1, 1, 5, 0, tzinfo=dt.timezone.utc).timestamp())
    assert rows[h0] == 1          # late arrival did NOT bump the closed window
    assert rows[h530] == 1        # in-horizon event landed

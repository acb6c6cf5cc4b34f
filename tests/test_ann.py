"""ANN tier tests: brute-force correctness, IVF recall, partition pruning."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from vector_search_optimization_spark.functions import vector as V
from vector_search_optimization_spark.operators import ann
from vector_search_optimization_spark.session import bounded_collect
from vector_search_optimization_spark.sources import load_table
from tests.fixtures import jobs_in_group


@pytest.fixture(scope="module")
def emb(spark, sf_small):
    return load_table(spark, sf_small, "embeddings").cache()


def test_brute_force_matches_numpy(emb):
    pdf = emb.toPandas().sort_values("vec_id")
    X = np.asarray(pdf.embedding.tolist(), dtype=np.float64)
    q = X[0]
    sims = X @ q / (np.linalg.norm(X, axis=1) * np.linalg.norm(q))
    order = np.lexsort((pdf.vec_id.values, -np.round(sims, 6)))[:10]
    expect = pdf.vec_id.values[order]
    got = [r.vec_id for r in ann.brute_force_topk(emb, q.tolist()).collect()]
    assert got == list(expect)


def test_ivf_recall_at_10(emb):
    """nprobe=8/16 cells must recover >=70% of the exact top-10 on the
    clustered synthetic corpus (standard IVF recall sanity bound)."""
    q = emb.where(F.col("vec_id") == 0).first()["embedding"]
    cents = ann.train_ivf_centroids(emb, num_cells=16)
    idx = ann.assign_ivf_cells(emb, cents).cache()
    exact = {r.vec_id for r in ann.brute_force_topk(emb, q).collect()}
    approx = {r.vec_id for r in ann.ivf_topk(idx, cents, q, nprobe=8).collect()}
    assert len(approx & exact) >= 7
    # full probe = exact
    full = {r.vec_id for r in ann.ivf_topk(idx, cents, q, nprobe=16).collect()}
    assert full == exact


def test_bounded_collect_materializes_once_and_leaves_no_cache(spark, sf_small):
    """The bounded driver fetch train_ivf_centroids trains on: the limited
    frame is counted into the cache and collected from it. That is 3 jobs
    on this scan, the count train_ivf_centroids' own fetch fired before it
    called the helper (a bare limit(N).collect() fires 1), and nothing
    stays persisted."""
    src = load_table(spark, sf_small, "embeddings").select("embedding")
    cached = spark.sparkContext._jsc.getPersistentRDDs()
    before = set(cached.keySet())
    jobs, rows = jobs_in_group(
        spark, "bounded_collect", lambda: bounded_collect(src, 100_000)
    )
    assert len(rows) == src.count()
    assert len(jobs) == 3
    assert set(spark.sparkContext._jsc.getPersistentRDDs().keySet()) == before


def test_all_pairs_distributed_equals_kernel(emb):
    """The registered emb_top_pairs path (grid-block GEMM, no driver
    collect) must produce the exact same top-20 as the driver-bounded
    all_pairs_topk kernel — same values, same tie-breaks."""
    exact = [
        (r.id_a, r.id_b, r.cos_sim) for r in ann.all_pairs_topk(emb).collect()
    ]
    dist = [
        (r.id_a, r.id_b, r.cos_sim)
        for r in ann.all_pairs_topk_distributed(emb, num_blocks=4).collect()
    ]
    assert dist == exact


def test_rp_blocked_recall_on_planted_near_dups(spark):
    """Multi-table SRP blocking must recover >= 90% of PLANTED near-dup
    pairs (cos ~0.995) — the workload LSH blocking is for. (On weakly
    similar pairs, theta ~60deg, sign-LSH recall is structurally low; the
    exact grid path covers that regime.)"""
    import numpy as np

    rng = np.random.RandomState(3)
    rows = []
    expect = set()
    for i in range(40):
        v = rng.normal(size=32)
        v /= np.linalg.norm(v)
        rows.append((2 * i, v.tolist()))
        n = v + rng.normal(scale=0.03, size=32)  # cos ~0.9995
        rows.append((2 * i + 1, (n / np.linalg.norm(n)).tolist()))
        expect.add((2 * i, 2 * i + 1))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    got = {
        (r.id_a, r.id_b)
        for r in ann.rp_blocked_top_pairs(df, k=40).collect()
    }
    assert len(got & expect) >= 36


def test_rp_blocked_no_driver_collect(emb):
    """Plan sanity: the blocked path joins on (tbl, bucket) — no
    crossJoin, no nested loop. The bucket assignment runs as ONE Arrow
    kernel stage (rp_table_buckets_kernel); everything after it is a
    pure DataFrame plan, and nothing collects the corpus."""
    plan = (
        ann.rp_blocked_top_pairs(emb)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    # the bucket kernel is the only python stage; it appears once per
    # join side in the unexecuted plan (the persist dedupes at runtime)
    assert 1 <= plan.count("MapInPandas") <= 2
    assert "InMemoryTableScan" in plan  # bucketed rows cached, not re-derived


def test_ivf_partitioned_layout_prunes(spark, emb, tmp_path):
    """The 100 TB layout: corpus written partitionBy(cell) → probing reads
    only the probed cells' files (PartitionFilters in the scan)."""
    cents = ann.train_ivf_centroids(emb, num_cells=8)
    idx = ann.assign_ivf_cells(emb, cents)
    path = str(tmp_path / "ivf_corpus")
    idx.write.partitionBy("cell").parquet(path)
    corpus = spark.read.parquet(path)
    probed = corpus.where(F.col("cell").isin([0, 1]))
    plan = probed._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [" in plan
    assert "cell" in plan.split("PartitionFilters")[1][:200]
    # and the pruned scan still yields correct top-k within the probe set
    q = emb.where(F.col("vec_id") == 0).first()["embedding"]
    got = ann.brute_force_topk(probed, q, k=5).collect()
    assert len(got) == 5


def test_ivf_index_lifecycle_and_nprobe_recall_curve(spark, emb, tmp_path):
    """Build once (write_ivf_index), probe many: the loaded corpus prunes
    partitions, and recall@10 grows monotonically with nprobe, reaching
    1.0 when every cell is probed (nprobe = num_cells ⇒ exact)."""
    cents = ann.train_ivf_centroids(emb, num_cells=16)
    path = str(tmp_path / "ivf_index")
    ann.write_ivf_index(emb, cents, path)
    indexed, loaded_cents = ann.load_ivf_index(spark, path)
    assert loaded_cents.count() == cents.count()

    q = emb.where(F.col("vec_id") == 0).first()["embedding"]
    probe = ann.ivf_topk(indexed, loaded_cents, q)
    plan = probe._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [" in plan
    assert "cell" in plan.split("PartitionFilters")[1][:200]

    exact = {r.vec_id for r in ann.brute_force_topk(emb, q).collect()}
    recalls = []
    for nprobe in (1, 2, 4, 8, 16):
        got = {
            r.vec_id
            for r in ann.ivf_topk(indexed, loaded_cents, q, nprobe=nprobe).collect()
        }
        recalls.append(len(got & exact) / len(exact))
    assert recalls == sorted(recalls)  # monotone non-decreasing in nprobe
    assert recalls[-1] == 1.0  # all cells probed = exact


def test_ivf_probe_build_fires_no_spark_job(spark, emb, tmp_path):
    """Opening the index and building a probe runs no Spark job: the
    corpus schema comes from a parquet footer, the centroids are read on
    the driver, the query is one literal. Schemas and top-k rows equal a
    probe over frames opened with plain spark.read.parquet."""
    cents = ann.train_ivf_centroids(emb, num_cells=8)
    path = str(tmp_path / "ivf_index")
    ann.write_ivf_index(emb, cents, path)
    q = emb.orderBy("vec_id").first().embedding

    def build():
        indexed, loaded_cents = ann.load_ivf_index(spark, path)
        probe = ann.ivf_topk(indexed, loaded_cents, q)
        return indexed, loaded_cents, probe

    jobs, (indexed, loaded_cents, probe) = jobs_in_group(
        spark, "ivf-probe-build", build
    )
    assert jobs == []

    # the tracker does see schema inference: plain reads fire jobs
    plain_jobs, (plain_idx, plain_cents) = jobs_in_group(
        spark,
        "ivf-plain-read",
        lambda: (
            spark.read.parquet(f"{path}/corpus"),
            spark.read.parquet(f"{path}/centroids"),
        ),
    )
    assert len(plain_jobs) >= 2

    assert indexed.schema == plain_idx.schema
    assert loaded_cents.schema == plain_cents.schema
    want = ann.ivf_topk(plain_idx, plain_cents, q).collect()
    assert len(want) == 10
    assert probe.collect() == want


def test_probe_score_builds_in_few_py4j_calls(spark):
    """The probe score is one SQL expression: building it for a 3,072-dim
    query is a handful of Py4J round trips, not a few per element.

    Counted like perfbench/trace.py's Py4JCounter (a ``send_command``
    wrapper), but only on this thread: a streaming query left by an
    earlier test calls back into Python and sends commands of its own."""
    import gc
    import threading

    from py4j.java_gateway import GatewayClient

    q = np.random.RandomState(7).standard_normal(3072).tolist()
    V.cosine_similarity("embedding", q)  # first call loads JVM classes
    me = threading.get_ident()
    calls = []
    original = GatewayClient.send_command  # the Py4J client classes share it

    def send_command(self_, *args, **kwargs):
        if threading.get_ident() == me:
            calls.append(args[0])
        return original(self_, *args, **kwargs)

    for score in (V.cosine_similarity, V.dot):
        gc.collect()
        gc.disable()  # no finalizer of an unrelated Java handle in the count
        GatewayClient.send_command = send_command
        try:
            calls.clear()
            score("embedding", q)
        finally:
            GatewayClient.send_command = original
            gc.enable()
        assert len(calls) <= 10, (score.__name__, calls)


def test_ivf_probe_plan_holds_query_once(spark, emb, tmp_path):
    """The optimized plan of a cosine probe carries the query literal once
    (its norm is a driver-folded constant) and two aggregates: the row
    norm and the dot product."""
    cents = ann.train_ivf_centroids(emb, num_cells=8)
    path = str(tmp_path / "ivf_index")
    ann.write_ivf_index(emb, cents, path)
    indexed, loaded_cents = ann.load_ivf_index(spark, path)
    # eighths print the same in Python and Java, so the literal's text is known
    q = [round(x * 8) / 8 for x in emb.orderBy("vec_id").first().embedding]
    probe = ann.ivf_topk(indexed, loaded_cents, q)
    plan = probe._jdf.queryExecution().optimizedPlan().toString()
    assert plan.count("[" + ",".join(map(repr, q)) + "]") == 1
    assert plan.count("aggregate(") == 2
    assert len(probe.collect()) == 10


def test_load_ivf_index_without_spark_footer_falls_back(spark, tmp_path):
    """An index written by another engine (pyarrow: no Spark schema
    record in the footer) with an extra column opens with Spark's own
    inference: same schema and rows as spark.read.parquet."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = np.random.RandomState(7)
    path = tmp_path / "ivf_arrow"
    for cell in range(2):
        d = path / "corpus" / f"cell={cell}"
        d.mkdir(parents=True)
        pq.write_table(
            pa.table({
                "vec_id": pa.array(np.arange(cell * 10, cell * 10 + 10), pa.int64()),
                "embedding": pa.array(
                    list(rng.rand(10, 4).astype(np.float32)), pa.list_(pa.float32())
                ),
                "source": pa.array([f"s{i}" for i in range(10)]),
            }),
            d / "part-0.parquet",
        )
    (path / "centroids").mkdir()
    pq.write_table(
        pa.table({
            "cell": pa.array([0, 1], pa.int32()),
            "centroid": pa.array(
                list(rng.rand(2, 4).astype(np.float32)), pa.list_(pa.float32())
            ),
        }),
        path / "centroids" / "part-0.parquet",
    )
    for f in path.glob("**/*.parquet"):
        assert ann._SPARK_ROW_METADATA not in (pq.read_metadata(f).metadata or {})

    indexed, cents = ann.load_ivf_index(spark, str(path))
    plain = spark.read.parquet(str(path / "corpus"))
    plain_cents = spark.read.parquet(str(path / "centroids"))
    assert "source" in indexed.columns
    assert indexed.schema == plain.schema
    assert cents.schema == plain_cents.schema
    assert sorted(indexed.collect()) == sorted(plain.collect())
    assert sorted(cents.collect()) == sorted(plain_cents.collect())


def test_vector_lit_bit_identical_to_per_element_lits(spark):
    """V.vector_lit (one SQL array literal) carries exactly the doubles
    the per-element F.lit form does, non-finite and extreme values too."""
    import struct

    vals = [
        float("nan"), float("inf"), float("-inf"), -0.0, 0.0,
        5e-324, 1.7976931348623157e308, -1.7976931348623157e308,
        0.1, -1 / 3, 1e-5, 2.5e16, np.float32(0.1), np.float64(-7.25), 3,
    ]
    df = spark.range(1).select(
        V.vector_lit(vals).alias("one"),
        F.array(*[F.lit(float(x)) for x in vals]).alias("per_elem"),
    )
    assert dict(df.dtypes) == {"one": "array<double>", "per_elem": "array<double>"}
    row = df.first()

    def bits(xs):
        return struct.pack(f"<{len(xs)}d", *map(float, xs))

    assert bits(row.one) == bits(row.per_elem) == bits(vals)


def test_ivf_append_is_incremental(spark, emb, tmp_path):
    """append_to_ivf_index adds a batch into the partitioned corpus
    without touching existing files: every pre-append file survives
    byte-identical, the union of rows is exact, and a probe near an
    appended vector finds it through the same pruned scan."""
    import glob
    import os

    old = emb.where(F.col("vec_id") % 2 == 0)
    new = emb.where(F.col("vec_id") % 2 == 1)
    cents = ann.train_ivf_centroids(old, num_cells=8)
    path = str(tmp_path / "ivf_index")
    ann.write_ivf_index(old, cents, path)

    before = {
        p: os.path.getmtime(p)
        for p in glob.glob(f"{path}/corpus/**/*.parquet", recursive=True)
    }
    ann.append_to_ivf_index(new, path)
    after = set(glob.glob(f"{path}/corpus/**/*.parquet", recursive=True))

    assert set(before) <= after  # nothing rewritten or deleted
    for p, mtime in before.items():
        assert os.path.getmtime(p) == mtime

    indexed, loaded_cents = ann.load_ivf_index(spark, path)
    assert indexed.count() == emb.count()
    q = new.orderBy("vec_id").first()["embedding"]
    got = {
        r.vec_id
        for r in ann.ivf_topk(indexed, loaded_cents, q, k=5, nprobe=8).collect()
    }
    exact = {r.vec_id for r in ann.brute_force_topk(emb, q, k=5).collect()}
    assert got == exact  # nprobe = num_cells ⇒ exact, incl. appended rows


def test_bucketed_join_avoids_shuffle(spark, sf_small, tmp_path):
    """bucketBy co-location: a self-join on the bucket key plans without
    an Exchange on either side (SCALING.md storage-layout lever)."""
    spark.sql("DROP TABLE IF EXISTS ev_bucketed")
    ev = load_table(spark, sf_small, "events")
    ev.write.bucketBy(8, "user_id").sortBy("user_id").mode("overwrite").saveAsTable(
        "ev_bucketed"
    )
    t = spark.table("ev_bucketed")
    agg = t.groupBy("user_id").agg(F.count(F.lit(1)).alias("n"))
    plan = agg._jdf.queryExecution().executedPlan().toString()
    assert "Exchange hashpartitioning" not in plan  # bucketing satisfies it
    # force SMJ (the small table would otherwise broadcast) to show the
    # co-located join needs no shuffle on either side
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        joined = t.alias("a").join(t.alias("b"), "user_id")
        jplan = joined._jdf.queryExecution().executedPlan().toString()
        assert "SortMergeJoin" in jplan
        assert "Exchange hashpartitioning" not in jplan
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
    spark.sql("DROP TABLE IF EXISTS ev_bucketed")


def test_int8_quantization_recall_and_reconstruction(spark, emb):
    """SQ int8: reconstruction error bounded by scale/2 per element, and
    quantized top-10 recall >= 0.8 vs the exact float path."""
    q = ann.quantize_int8(emb).withColumn("deq", ann.dequantize_int8())
    row = q.select("embedding", "deq", "q8", "q8_scale").first()
    for x, xq in zip(row.embedding, row.deq):
        assert abs(float(x) - xq) <= row.q8_scale / 2 + 1e-9
    assert max(abs(v) for v in row.q8) <= 127

    qvec = emb.where(F.col("vec_id") == 0).first()["embedding"]
    exact = {r.vec_id for r in ann.brute_force_topk(emb, qvec).collect()}
    deq = q.select("vec_id", F.col("deq").alias("embedding"))
    approx = {r.vec_id for r in ann.brute_force_topk(deq, qvec).collect()}
    assert len(exact & approx) / len(exact) >= 0.8


def test_pq_codes_storage_and_recall(spark, emb):
    """PQ: codes are m small ints (32x smaller than float32 at dim 64),
    reconstruction distances correlate — PQ-ADC top-10 recall >= 0.6 vs
    exact euclidean (16 centroids x 8 subspaces on a 64-dim corpus; PQ
    is the coarsest tier, IVF/SQ cover higher-recall regimes)."""
    books = ann.train_pq_codebooks(emb.orderBy("vec_id"), 8, 16)
    assert books.shape == (8, 16, 8)
    enc = ann.pq_encode_kernel(emb.select("vec_id", "embedding"), books)
    row = enc.first()
    assert len(row.pq_codes) == 8 and all(0 <= c < 16 for c in row.pq_codes)

    qvec = emb.where(F.col("vec_id") == 0).first()["embedding"]
    adc = [
        r.vec_id
        for r in enc.select("vec_id", ann.pq_adc_score(books, qvec).alias("d"))
        .orderBy("d", "vec_id")
        .limit(10)
        .collect()
    ]
    import numpy as np

    pdf = emb.toPandas().sort_values("vec_id")
    X = np.asarray(pdf.embedding.tolist(), dtype=np.float64)
    q = np.asarray(qvec, dtype=np.float64)
    order = np.argsort(((X - q) ** 2).sum(1))
    rank = {int(pdf.vec_id.values[order[i]]): i for i in range(len(order))}
    exact = set(pdf.vec_id.values[order[:10]])
    # coarse-tier invariants: the query finds itself, candidates rank far
    # above random (mean exact rank ~27 measured vs 250 random), and some
    # exact neighbors survive the 32x compression
    assert min(adc, key=lambda v: rank[v]) == 0 and 0 in adc
    assert np.mean([rank[v] for v in adc]) <= 75
    assert len(set(adc) & exact) / 10 >= 0.2


def test_ivfpq_composition_recall_and_pruning(spark, emb):
    """IVF-PQ (Faiss IndexIVFPQ layout): with every cell probed the
    composition must equal pure PQ-ADC ranking (coarse pruning adds no
    error when nothing is pruned); with nprobe=8/16 the candidate set is
    cell-bounded and recall vs pure ADC stays high."""
    books = ann.train_pq_codebooks(emb.orderBy("vec_id"), 8, 16)
    cents = ann.train_ivf_centroids(emb, num_cells=16)
    idx = ann.assign_ivf_cells(emb, cents)
    enc = ann.pq_encode_kernel(idx.select("vec_id", "embedding", "cell"), books).cache()
    qvec = emb.where(F.col("vec_id") == 0).first()["embedding"]

    pure_adc = [
        r.vec_id
        for r in enc.select("vec_id", ann.pq_adc_score(books, qvec).alias("d"))
        .orderBy("d", "vec_id")
        .limit(10)
        .collect()
    ]
    full = [
        r.vec_id
        for r in ann.ivfpq_topk(enc, cents, books, qvec, nprobe=16).collect()
    ]
    assert full == pure_adc  # no pruning → identical ranking

    probed = [
        r.vec_id
        for r in ann.ivfpq_topk(enc, cents, books, qvec, nprobe=8).collect()
    ]
    assert 0 in probed  # query's own cell is always probed first
    assert len(set(probed) & set(pure_adc)) >= 6
    enc.unpersist()


def test_streaming_ivf_index_maintenance(spark, emb, tmp_path):
    """A parquet-file stream of fresh embeddings folds into the IVF
    index via foreachBatch: after processAllAvailable the index holds
    the full corpus, pre-existing files are untouched (append-only),
    and a probe finds a streamed-in vector through the pruned scan."""
    import glob
    import os

    from vector_search_optimization_spark.streaming.index_maintenance import (
        stream_append_to_ivf_index,
    )

    old = emb.where(F.col("vec_id") % 2 == 0)
    new = emb.where(F.col("vec_id") % 2 == 1)
    cents = ann.train_ivf_centroids(old, num_cells=8)
    path = str(tmp_path / "ivf_index")
    ann.write_ivf_index(old, cents, path)
    before = {
        p: os.path.getmtime(p)
        for p in glob.glob(f"{path}/corpus/**/*.parquet", recursive=True)
    }

    # stage the stream: two arrival waves into a watched directory
    src = str(tmp_path / "arrivals")
    w1 = new.where(F.col("vec_id") % 4 == 1)
    w2 = new.where(F.col("vec_id") % 4 == 3)
    w1.write.mode("append").parquet(src)
    stream = (
        spark.readStream.schema(new.schema)
        .option("maxFilesPerTrigger", "4")
        .parquet(src)
    )
    q = stream_append_to_ivf_index(
        stream, path, checkpoint=str(tmp_path / "ckpt")
    )
    try:
        q.processAllAvailable()
        w2.write.mode("append").parquet(src)
        q.processAllAvailable()
    finally:
        q.stop()

    after = set(glob.glob(f"{path}/corpus/**/*.parquet", recursive=True))
    assert set(before) <= after
    for p, mtime in before.items():
        assert os.path.getmtime(p) == mtime  # append-only contract

    indexed, loaded_cents = ann.load_ivf_index(spark, path)
    assert indexed.count() == emb.count()
    assert {r.vec_id for r in indexed.select("vec_id").collect()} == {
        r.vec_id for r in emb.select("vec_id").collect()
    }

    # probe near a streamed-in vector: it must surface via pruned cells
    target = new.orderBy("vec_id").first()
    got = {
        r.vec_id
        for r in ann.ivf_topk(
            indexed, loaded_cents, target.embedding, k=5, nprobe=8
        ).collect()
    }
    assert target.vec_id in got


def test_compact_ivf_cells_preserves_rows_and_prunes_files(spark, emb, tmp_path):
    """Compaction rewrites only over-fragmented cells down to one file,
    leaves compliant cells byte-untouched, and the corpus row set (and a
    probe's results) are identical before and after."""
    import glob
    import os

    old = emb.where(F.col("vec_id") % 2 == 0)
    cents = ann.train_ivf_centroids(old, num_cells=4)
    path = str(tmp_path / "ivf_index")
    ann.write_ivf_index(old, cents, path)
    # fragment the index: six tiny appends
    rest = emb.where(F.col("vec_id") % 2 == 1)
    for i in range(6):
        ann.append_to_ivf_index(rest.where(F.col("vec_id") % 12 == 2 * i + 1), path)

    def files_per_cell():
        return {
            d: sorted(glob.glob(f"{d}/*.parquet"))
            for d in glob.glob(f"{path}/corpus/cell=*")
        }

    before = files_per_cell()
    assert any(len(fs) > 4 for fs in before.values())  # fixture fragmented
    rows_before = sorted(
        r.vec_id for r in spark.read.parquet(f"{path}/corpus").collect()
    )
    compliant = {d for d, fs in before.items() if len(fs) <= 4}
    mtimes = {f: os.path.getmtime(f) for d in compliant for f in before[d]}

    compacted = ann.compact_ivf_cells(spark, path)
    assert compacted  # something was actually rewritten

    after = files_per_cell()
    for d in after:
        assert len(after[d]) <= 4 or d in compliant
    for f, t in mtimes.items():  # compliant cells untouched
        assert os.path.getmtime(f) == t
    rows_after = sorted(
        r.vec_id for r in spark.read.parquet(f"{path}/corpus").collect()
    )
    assert rows_after == rows_before

    indexed, loaded_cents = ann.load_ivf_index(spark, path)
    q = emb.orderBy("vec_id").first().embedding
    got = [r.vec_id for r in ann.ivf_topk(indexed, loaded_cents, q, k=5).collect()]
    assert len(got) == 5


def test_pq_refined_topk_recovers_exact_ranking(spark, emb):
    """Re-ranking must return the TRUE top-k whenever the ADC shortlist
    contains it — with rerank = corpus size the result equals exact
    brute-force squared-euclidean ranking; with a tight shortlist the
    top-1 (the query itself) still survives."""
    import numpy as np

    rows = emb.select("vec_id", "embedding").collect()
    q = next(r.embedding for r in rows if r.vec_id == rows[0].vec_id)
    X = np.array([r.embedding for r in rows], dtype=np.float64)
    qv = np.array(q, dtype=np.float64)
    exact_order = sorted(
        ((float(((x - qv) ** 2).sum()), r.vec_id) for x, r in zip(X, rows)),
    )[:5]
    want = [vid for _, vid in exact_order]

    books = ann.train_pq_codebooks(emb.orderBy("vec_id"), 8, 16)
    enc = ann.pq_encode_kernel(emb.select("vec_id", "embedding"), books)

    full = ann.pq_refined_topk(enc, books, q, k=5, rerank=len(rows)).collect()
    assert [r.vec_id for r in full] == want  # rerank=n == exact ranking

    tight = ann.pq_refined_topk(enc, books, q, k=1, rerank=10).collect()
    assert tight[0].vec_id == want[0] and tight[0].exact_dist == 0.0


def test_ivfpq_refined_topk_exact_when_unconstrained(spark, emb, tmp_path):
    """With every cell probed and rerank = corpus size, the composed
    IVF-PQ + refine stack must reproduce exact squared-euclidean
    ranking; the refine fetch must read only shortlist ids."""
    import numpy as np

    cents = ann.train_ivf_centroids(emb, num_cells=4)
    path = str(tmp_path / "ivf")
    ann.write_ivf_index(emb, cents, path)
    indexed, loaded_cents = ann.load_ivf_index(spark, path)
    books = ann.train_pq_codebooks(emb.orderBy("vec_id"), 8, 16)
    enc = ann.pq_encode_kernel(
        indexed.select("vec_id", "embedding", "cell"), books
    ).drop("embedding")

    rows = emb.select("vec_id", "embedding").collect()
    q = rows[0].embedding
    qv = np.array(q, dtype=np.float64)
    X = np.array([r.embedding for r in rows], dtype=np.float64)
    want = [
        vid
        for _, vid in sorted(
            (float(((x - qv) ** 2).sum()), r.vec_id) for x, r in zip(X, rows)
        )[:5]
    ]

    got = ann.ivfpq_refined_topk(
        enc, indexed, loaded_cents, books, q,
        k=5, rerank=len(rows),
    ).collect()
    assert [r.vec_id for r in got] == want
    assert got[0].exact_dist == 0.0  # the query vector itself


def test_compact_ivf_cells_repeated_rounds_unique_names(spark, emb, tmp_path):
    """A second compaction round must not collide with (and destroy) the
    first round's compacted-* files — install names are epoch-unique,
    and rows survive fragment -> compact -> fragment -> compact."""
    import glob

    old = emb.where(F.col("vec_id") % 2 == 0)
    cents = ann.train_ivf_centroids(old, num_cells=4)
    path = str(tmp_path / "ivf_index")
    ann.write_ivf_index(old, cents, path)
    rest = emb.where(F.col("vec_id") % 2 == 1)
    for i in range(6):
        ann.append_to_ivf_index(rest.where(F.col("vec_id") % 12 == 2 * i + 1), path)
    assert ann.compact_ivf_cells(spark, path)
    rows_mid = sorted(r.vec_id for r in spark.read.parquet(f"{path}/corpus").collect())

    # re-fragment and compact again: previous compacted-* files are now
    # among the originals being replaced
    for i in range(6):
        ann.append_to_ivf_index(rest.where(F.col("vec_id") % 12 == 2 * i + 1), path)
    assert ann.compact_ivf_cells(spark, path, max_files_per_cell=1)
    rows_after = sorted(r.vec_id for r in spark.read.parquet(f"{path}/corpus").collect())
    # the duplicate appends collapse: compaction dedups on vec_id so
    # crash leftovers / replayed epochs converge instead of accumulating
    assert rows_after == rows_mid
    for d in glob.glob(f"{path}/corpus/cell=*"):
        assert len(glob.glob(f"{d}/*.parquet")) <= 1


def test_compact_ivf_cells_rewrites_fragmented_cells_in_one_write(spark, emb, tmp_path):
    """Compacting four fragmented cells is one Spark write (at most 2
    jobs under AQE: the shuffle by cell and the write), not a write per
    cell. The row set is exact, each compacted cell holds one file,
    compliant cells are byte-untouched, and a stale staging directory
    left by an interrupted earlier run is overwritten: none of its rows
    reach the corpus and it is gone afterwards."""
    import glob
    import os
    import shutil

    old = emb.where(F.col("vec_id") % 2 == 0)
    cents = ann.train_ivf_centroids(old, num_cells=8)
    path = str(tmp_path / "ivf_index")
    ann.write_ivf_index(old.coalesce(1), cents, path)  # one file per cell
    # fragment the four fullest cells: three one-file appends into each
    new = ann.assign_ivf_cells(emb.where(F.col("vec_id") % 2 == 1), cents)
    sizes = new.groupBy("cell").count().collect()
    hot = sorted(r.cell for r in sorted(sizes, key=lambda r: -r["count"])[:4])
    for i in range(3):
        ann.append_to_ivf_index(
            new.where(F.col("cell").isin(hot) & (F.col("vec_id") % 3 == i))
            .drop("cell")
            .coalesce(1),
            path,
        )

    def files_per_cell():
        return {
            int(d.rsplit("=", 1)[1]): sorted(glob.glob(f"{d}/*.parquet"))
            for d in glob.glob(f"{path}/corpus/cell=*")
        }

    def rows():
        return sorted(
            (r.vec_id, r.cell, tuple(r.embedding))
            for r in spark.read.parquet(f"{path}/corpus").collect()
        )

    before = files_per_cell()
    assert sorted(c for c, fs in before.items() if len(fs) > 2) == hot
    compliant = {
        f: open(f, "rb").read()
        for c, fs in before.items()
        if c not in hot
        for f in fs
    }
    assert compliant
    rows_before = rows()
    assert len({r[0] for r in rows_before}) == len(rows_before)

    staging = f"{path}/_compact_staging"
    cold = min(c for c in before if c not in hot)
    for c in (hot[0], cold):
        os.makedirs(f"{staging}/cell={c}")
        shutil.copy(before[c][0], f"{staging}/cell={c}/part-stale.parquet")

    jobs, compacted = jobs_in_group(
        spark,
        "ivf-compact",
        lambda: ann.compact_ivf_cells(spark, path, max_files_per_cell=2),
    )
    assert len(jobs) <= 2
    assert compacted == hot

    after = files_per_cell()
    assert set(after) == set(before)
    for c in hot:
        assert len(after[c]) == 1
        assert os.path.basename(after[c][0]).startswith("compacted-0-")
    for f, data in compliant.items():
        assert open(f, "rb").read() == data
    assert {f for c, fs in after.items() if c not in hot for f in fs} == set(
        compliant
    )
    assert rows() == rows_before
    assert not os.path.exists(staging)


def test_ivf_append_fires_one_spark_job(spark, emb, tmp_path):
    """An append is its write and nothing more: the quantizer is read
    and sorted on the driver, so the cell assignment adds no job."""
    old = emb.where(F.col("vec_id") % 2 == 0)
    cents = ann.train_ivf_centroids(old, num_cells=8)
    path = str(tmp_path / "ivf_index")
    ann.write_ivf_index(old, cents, path)
    new = emb.where(F.col("vec_id") % 2 == 1)

    jobs, _ = jobs_in_group(
        spark, "ivf-append", lambda: ann.append_to_ivf_index(new, path)
    )
    assert len(jobs) == 1
    indexed, _ = ann.load_ivf_index(spark, path)
    assert sorted(r.vec_id for r in indexed.select("vec_id").collect()) == sorted(
        r.vec_id for r in emb.select("vec_id").collect()
    )


def test_ivf_empty_append_lands_no_file(spark, emb, tmp_path):
    """Appending an empty frame writes no file under corpus/ other than
    the _SUCCESS marker, so an empty micro-batch needs no guard."""
    import os

    cents = ann.train_ivf_centroids(emb, num_cells=8)
    path = str(tmp_path / "ivf_index")
    ann.write_ivf_index(emb, cents, path)

    def listing():
        return {
            os.path.join(d, f): os.path.getmtime(os.path.join(d, f))
            for d, _, fs in os.walk(f"{path}/corpus")
            for f in fs
            if f not in ("_SUCCESS", "._SUCCESS.crc")
        }

    before = listing()
    ann.append_to_ivf_index(emb.where(F.lit(False)), path)
    assert listing() == before
    indexed, _ = ann.load_ivf_index(spark, path)
    assert indexed.count() == emb.count()


def test_stream_micro_batch_fires_one_spark_job(spark, emb, tmp_path):
    """One availableNow micro-batch of stream_append_to_ivf_index runs
    exactly one Spark job under the stream's job group (its run id): the
    append's write. No emptiness probe, no Spark sort of the quantizer."""
    from vector_search_optimization_spark.streaming.index_maintenance import (
        stream_append_to_ivf_index,
    )

    old = emb.where(F.col("vec_id") % 2 == 0)
    new = emb.where(F.col("vec_id") % 2 == 1)
    cents = ann.train_ivf_centroids(old, num_cells=8)
    path = str(tmp_path / "ivf_index")
    ann.write_ivf_index(old, cents, path)
    src = str(tmp_path / "arrivals")
    new.coalesce(1).write.parquet(src)

    stream = spark.readStream.schema(new.schema).parquet(src)
    q = stream_append_to_ivf_index(
        stream, path, checkpoint=str(tmp_path / "ckpt"), trigger_once=True
    )
    q.awaitTermination()
    assert q.exception() is None
    assert len(q.recentProgress) == 1
    sc = spark.sparkContext
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    assert len(sc.statusTracker().getJobIdsForGroup(str(q.runId))) == 1
    # the batch is scanned once, so its input metric counts each row once
    assert q.recentProgress[0]["numInputRows"] == new.count()
    indexed, _ = ann.load_ivf_index(spark, path)
    assert indexed.count() == emb.count()


def test_matryoshka_rerank_full_equals_exact(spark, emb):
    """matryoshka_topk with rerank = corpus size must equal the exact
    full-dim brute-force top-k (the shortlist then contains everything);
    a tight shortlist still returns k rows scored at full precision."""
    rows = emb.orderBy("vec_id").select("embedding").first()
    q = rows[0]
    n = emb.count()
    exact = ann.brute_force_topk(emb, q, k=5).collect()
    mrl = ann.matryoshka_topk(emb, q, k=5, rerank=n).collect()
    assert [r.vec_id for r in mrl] == [r.vec_id for r in exact]
    assert [r.score for r in mrl] == [r.score for r in exact]

    tight = ann.matryoshka_topk(emb, q, k=3, rerank=10).collect()
    assert len(tight) == 3
    # the query vector itself must survive any shortlist: its prefix
    # cosine is exactly 1.0 (the maximum)
    assert tight[0].score == 1.0


def test_ivf_recall_audit_monotone_and_full_probe_exact(emb):
    """ivf_recall_audit: recall is non-decreasing in nprobe per query,
    and probing every cell recovers the exact top-10 (recall 1.0)."""
    cents_df = ann.train_ivf_centroids(emb, num_cells=16)
    idx = ann.assign_ivf_cells(emb, cents_df).cache()
    queries = emb.where(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    rows = ann.ivf_recall_audit(idx, cents_df, queries, nprobes=(1, 4, 16)).collect()
    by_q = {}
    for r in rows:
        by_q.setdefault(r.query_id, {})[r.nprobe] = r.recall_at_10
    for qid, recs in by_q.items():
        assert recs[1] <= recs[4] <= recs[16], (qid, recs)
        assert recs[16] == 1.0


def test_ivf_recall_audit_generic_query_id_type(emb):
    """The probe frame's id type derives from the queries frame — string
    query ids must work end to end (the signature is generic, so the
    internal literal frame cannot hardcode long)."""
    cents_df = ann.train_ivf_centroids(emb, num_cells=8)
    idx = ann.assign_ivf_cells(emb, cents_df)
    queries = emb.where(F.col("vec_id") < 2).select(
        F.concat(F.lit("q-"), F.col("vec_id")).alias("query_id"),
        F.col("embedding").alias("query_vec"),
    )
    rows = ann.ivf_recall_audit(
        idx, cents_df, queries, k=5, nprobes=(8,)
    ).collect()
    assert {r.query_id for r in rows} == {"q-0", "q-1"}
    for r in rows:
        assert r.recall_at_5 == 1.0  # full probe recovers the exact top-5

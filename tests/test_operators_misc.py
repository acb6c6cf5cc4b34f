"""topk / islands / upsert / similarity / vector_agg golden tests."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from vector_search_optimization_spark.operators import (
    islands,
    similarity as SIM,
    topk,
    upsert,
    vector_agg as VA,
)


def test_consecutive_runs_golden(spark):
    # ocr.py:47-59 example: a a b b b a  →  a:[(0,1),(5,5)], b:[(2,4)]
    seq = ["a", "a", "b", "b", "b", "a"]
    df = spark.createDataFrame(list(enumerate(seq)), "pos int, pred string")
    runs = {
        (r.pred, r.start, r.end, r.run_len)
        for r in islands.consecutive_runs(df, "pos", "pred").collect()
    }
    assert runs == {("a", 0, 1, 2), ("b", 2, 4, 3), ("a", 5, 5, 1)}


def test_top_k_and_first_per_group(spark):
    rows = [("g1", 1, 10.0), ("g1", 2, 30.0), ("g1", 3, 20.0), ("g2", 4, 5.0)]
    df = spark.createDataFrame(rows, "g string, id int, v double")
    top2 = topk.top_k_per_group(df, "g", "v", 2, descending=True)
    got = {(r.g, r.id, r.rank) for r in top2.collect()}
    assert got == {("g1", 2, 1), ("g1", 3, 2), ("g2", 4, 1)}
    first = topk.first_row_per_group(df, "g", "v")
    assert {(r.g, r.id) for r in first.collect()} == {("g1", 1), ("g2", 4)}


def test_interleave_near_far(spark):
    rows = [("g", i, float(i)) for i in range(6)]
    df = spark.createDataFrame(rows, "g string, id int, d double")
    out = topk.interleave_near_far(df, "g", "d", 2).orderBy("ord").collect()
    assert [(r.id, r.side) for r in out] == [
        (0, "near"), (5, "far"), (1, "near"), (4, "far")
    ]


def test_dense_label_numbering(spark):
    df = spark.createDataFrame([("b",), ("a",), ("c",), ("a",)], "lab string")
    got = {
        (r.lab, r.etiqueta_numero)
        for r in topk.dense_label_numbering(df, "lab").collect()
    }
    assert got == {("a", 0), ("b", 1), ("c", 2)}


def test_upsert_fields_semantics(spark):
    base = spark.createDataFrame(
        [(1, "x", 10), (2, "y", 20), (3, "z", 30)], "id int, s string, n int"
    )
    updates = spark.createDataFrame(
        [(1, "X", None), (3, None, 99), (4, "ghost", 0)],
        "id int, s string, n int",
    )
    out = {r.id: (r.s, r.n) for r in upsert.upsert_fields(base, updates, "id").collect()}
    assert out == {
        1: ("X", 10),   # s updated, n NULL → keep base
        2: ("y", 20),   # untouched
        3: ("z", 99),   # n updated
    }                    # id=4 ignored (no base row)
    with pytest.raises(ValueError, match="not in base"):
        upsert.upsert_fields(base, updates.withColumnRenamed("n", "q"), "id")


def test_intra_group_pairs_vs_numpy(spark):
    rng = np.random.RandomState(0)
    rows = [(i, "g" if i < 4 else "h", rng.normal(size=6).tolist()) for i in range(7)]
    df = spark.createDataFrame(rows, "id int, g string, v array<float>")
    got = {
        (r.id_a, r.id_b): r.sim
        for r in SIM.intra_group_pairs(df, "g", "id", "v").collect()
    }
    assert len(got) == 6 + 3  # C(4,2) + C(3,2)
    # storage is array<float> — round inputs to float32 like Spark does
    vecs = {i: np.array(v, dtype=np.float32).astype(np.float64) for i, _, v in rows}
    for (a, b), sim in got.items():
        expect = vecs[a] @ vecs[b] / (np.linalg.norm(vecs[a]) * np.linalg.norm(vecs[b]))
        assert sim == pytest.approx(float(expect), rel=1e-6)


def test_cooccurrence_edges(spark):
    rows = [
        ("d1", 1), ("d1", 2), ("d1", 2), ("d1", 3),
        ("d2", 1), ("d2", 2),
        ("d3", 5),
    ]
    df = spark.createDataFrame(rows, "doc string, cluster int")
    got = {
        (r.src, r.dst): r.weight
        for r in SIM.cooccurrence_edges(df, "doc", "cluster").collect()
    }
    assert got == {(1, 2): 2, (1, 3): 1, (2, 3): 1}


def _group_vector_mean_posexplode(df, group_col, vector_col):
    """Declarative formulation: posexplode + avg + ordered re-collect."""
    exploded = df.select(
        group_col,
        F.posexplode(F.col(vector_col).cast("array<double>")).alias("__pos", "__val"),
    )
    return (
        exploded.groupBy(group_col, "__pos")
        .agg(F.avg("__val").alias("__m"))
        .groupBy(group_col)
        .agg(F.array_sort(F.collect_list(F.struct("__pos", "__m"))).alias("__s"))
        .select(group_col, F.transform(F.col("__s"), lambda x: x["__m"]).alias("centroid"))
    )


def test_group_vector_mean_both_paths(spark):
    rows = [("a", [1.0, 2.0]), ("a", [3.0, 4.0]), ("b", [5.0, 6.0])]
    df = spark.createDataFrame(rows, "g string, v array<float>")
    for fn in (VA.group_vector_mean, _group_vector_mean_posexplode):
        got = {r.g: r.centroid for r in fn(df, "g", "v").collect()}
        assert got["a"] == pytest.approx([2.0, 3.0])
        assert got["b"] == pytest.approx([5.0, 6.0])


def test_distance_matrix_symmetric_zero_diag(spark):
    df = spark.createDataFrame(
        [(0, [0.0, 0.0]), (1, [3.0, 4.0])], "id int, v array<float>"
    )
    got = {(r.id_a, r.id_b): r.dist for r in SIM.distance_matrix(df, "id", "v").collect()}
    assert got[(0, 0)] == 0.0
    assert got[(0, 1)] == got[(1, 0)] == pytest.approx(5.0)


# --- token-budget packing (exact + sharded) ----------------------------------

class TestPackByTokenBudget:
    BUDGET = 40

    @pytest.fixture(scope="class")
    def corpus(self, spark):
        import random

        rng = random.Random(3)
        rows = [
            (i, ["en", "es", "fr"][i % 3], " ".join("w" for _ in range(rng.randrange(1, 25))))
            for i in range(120)
        ]
        return spark.createDataFrame(rows, "doc_id long, lang string, text string").cache()

    def _pack(self, corpus, shards):
        from vector_search_optimization_spark.functions import text as TX
        from vector_search_optimization_spark.operators.packing import (
            pack_by_token_budget,
        )

        return pack_by_token_budget(
            corpus,
            self.BUDGET,
            TX.whitespace_token_count("text"),
            shards=shards,
        )

    def test_shard_count_one_is_the_exact_pack(self, corpus):
        exact = {
            (r.doc_id, r.batch_id) for r in self._pack(corpus, None).collect()
        }
        one = {
            (r.doc_id, r.batch_id) for r in self._pack(corpus, 1).collect()
        }
        assert exact == one

    @pytest.mark.parametrize("shards", [None, 4])
    def test_budget_invariant_and_total_coverage(self, corpus, shards):
        rows = self._pack(corpus, shards).collect()
        assert {r.doc_id for r in rows} == set(range(120))  # every doc packed once
        from collections import defaultdict

        batches = defaultdict(list)
        for r in rows:
            key = (r.lang, getattr(r, "shard", 0), r.batch_id)
            batches[key].append(r.n_tok)
        for key, toks in batches.items():
            # streaming-pack contract: only the final doc may overflow
            assert sum(toks) <= self.BUDGET + max(toks), key

    def test_sharded_window_partitions_by_shard(self, corpus):
        plan = self._pack(corpus, 4)._jdf.queryExecution().executedPlan().toString()
        assert "shard" in plan.split("Window")[0] or "shard" in plan  # shard in partition spec

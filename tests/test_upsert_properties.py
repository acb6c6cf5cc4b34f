"""Algebraic properties of the keyed upsert (S11)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from vector_search_optimization_spark.operators.upsert import upsert_fields


@pytest.fixture(scope="module")
def base(spark):
    return spark.createDataFrame(
        [(i, f"v{i}", i * 10) for i in range(20)], "id int, s string, n int"
    ).cache()


def _as_set(df):
    return {(r.id, r.s, r.n) for r in df.collect()}


def test_empty_updates_is_identity(spark, base):
    empty = spark.createDataFrame([], "id int, s string, n int")
    assert _as_set(upsert_fields(base, empty, "id")) == _as_set(base)


def test_idempotent(spark, base):
    ups = spark.createDataFrame([(3, "X", None), (7, None, 99)], "id int, s string, n int")
    once = upsert_fields(base, ups, "id")
    twice = upsert_fields(once, ups, "id")
    assert _as_set(once) == _as_set(twice)


def test_last_writer_wins_composition(spark, base):
    u1 = spark.createDataFrame([(5, "first", None)], "id int, s string, n int")
    u2 = spark.createDataFrame([(5, "second", None)], "id int, s string, n int")
    composed = upsert_fields(upsert_fields(base, u1, "id"), u2, "id")
    row = composed.where("id = 5").first()
    assert row.s == "second"
    assert row.n == 50  # untouched field preserved through both


def test_row_count_invariant(spark, base):
    ups = spark.createDataFrame(
        [(1, "a", None), (99, "ghost", 1), (100, "ghost2", 2)],
        "id int, s string, n int",
    )
    out = upsert_fields(base, ups, "id")
    assert out.count() == base.count()  # upsert never inserts or deletes


class TestScd2Intervals:
    """scd2_intervals folds stacked snapshots into type-2 validity runs."""

    def _hist(self, spark, rows):
        from vector_search_optimization_spark.operators.upsert import (
            scd2_intervals,
        )

        snaps = spark.createDataFrame(
            rows, "k string, attr string, version int"
        )
        out = scd2_intervals(snaps, ["k"], ["attr"])
        return {
            (r["k"], r["valid_from"]): (
                r["attr"], r["valid_to"], r["is_current"]
            )
            for r in out.collect()
        }

    def test_change_closes_and_opens_runs(self, spark):
        h = self._hist(
            spark,
            [("a", "x", 1), ("a", "x", 2), ("a", "y", 3), ("a", "y", 4)],
        )
        assert h[("a", 1)] == ("x", 3, False)   # closed by the change at v3
        assert h[("a", 3)] == ("y", None, True)

    def test_delete_then_readd_breaks_the_run(self, spark):
        # present v1-v2, absent v3, back UNCHANGED v4: the naive lag-only
        # fold would merge this into one 1..current run
        h = self._hist(spark, [("a", "x", 1), ("a", "x", 2), ("a", "x", 4)])
        assert h[("a", 1)] == ("x", 3, False)   # closed by the delete
        assert h[("a", 4)] == ("x", None, True)

    def test_closed_by_final_delete_and_late_arrival(self, spark):
        h = self._hist(
            spark,
            [("gone", "x", 1), ("gone", "x", 2), ("late", "y", 3),
             ("ref", "z", 3)],
        )
        assert h[("gone", 1)] == ("x", 3, False)  # not current: absent at 3
        assert h[("late", 3)] == ("y", None, True)

    def test_null_attr_transitions_are_real_changes(self, spark):
        h = self._hist(
            spark, [("a", None, 1), ("a", "x", 2), ("a", None, 3)]
        )
        assert h[("a", 1)] == (None, 2, False)
        assert h[("a", 2)] == ("x", 3, False)
        assert h[("a", 3)] == (None, None, True)

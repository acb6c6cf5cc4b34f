"""Data-quality constraint suite (operators.validation)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from vector_search_optimization_spark.operators import validation as V


@pytest.fixture(scope="module")
def vdf(spark):
    rows = [
        (0, "en", 10.0, "a@b.io"),
        (1, "en", 55.5, "c@d.org"),
        (2, "xx", -3.0, "not-an-email"),   # bad lang, out of range, bad fmt
        (3, None, 20.0, None),             # null lang/email
        (3, "es", 30.0, "e@f.net"),        # duplicate id
    ]
    return spark.createDataFrame(rows, "id long, lang string, v double, email string").cache()


def test_check_constraints_counts(vdf):
    rules = [
        V.non_null("lang"),
        V.unique("id"),
        V.in_range("v", 0.0, 100.0),
        V.accepted_values("lang", ["en", "es"]),
        V.satisfies("v IS NULL OR v <> 55.5", "no_55"),
    ]
    got = {r.rule: (r.violations, r.passed) for r in V.check_constraints(vdf, rules).collect()}
    assert got["non_null(lang)"] == (1, False)
    assert got["unique(id)"] == (1, False)          # 5 rows, 4 distinct ids
    assert got["in_range(v, 0.0, 100.0)"] == (1, False)
    assert got["accepted_values(lang)"] == (1, False)  # 'xx'; NULL not counted
    assert got["no_55"] == (1, False)


def test_check_constraints_single_pass_plan(vdf):
    """20 rules must still be ONE aggregate pair over one scan — the
    whole point of compiling constraints into conditional aggregates."""
    rules = [V.in_range("v", 0.0, float(hi)) for hi in range(100, 120)]
    plan = V.check_constraints(vdf, rules)._jdf.queryExecution().executedPlan().toString()
    # one partial+final aggregate pair around one exchange — not 20 jobs
    assert plan.count("HashAggregate") == 2
    assert plan.count("Exchange") == 1


def test_constraints_on_clean_and_empty_tables(spark, sf_small):
    from vector_search_optimization_spark.sources import load_table

    docs = load_table(spark, sf_small, "documents")
    clean = V.check_constraints(
        docs,
        [
            V.non_null("doc_id"),
            V.unique("doc_id"),
            V.accepted_values("lang", ["en", "es", "de", "fr", "zh"]),
            V.satisfies("n_chars >= 0", "n_chars_nonneg"),
        ],
    ).collect()
    assert all(r.passed for r in clean)
    empty = spark.createDataFrame([], "id long")
    got = V.check_constraints(empty, [V.non_null("id"), V.unique("id")]).collect()
    assert all(r.passed for r in got)
    with pytest.raises(ValueError):
        V.check_constraints(docs, [])


from hypothesis import given, settings
from hypothesis import strategies as st


@st.composite
def _table_and_bounds(draw):
    n = draw(st.integers(min_value=0, max_value=30))
    rows = [
        (
            draw(st.one_of(st.none(), st.integers(0, 5))),
            draw(st.one_of(st.none(), st.floats(-10, 10, allow_nan=False))),
        )
        for _ in range(n)
    ]
    lo = draw(st.floats(-5, 0))
    hi = draw(st.floats(0, 5))
    return rows, lo, hi


@given(_table_and_bounds())
@settings(max_examples=12, deadline=None)
def test_constraint_counts_match_pandas_reference(spark, case):
    """Randomized cross-check of every counter against a plain python
    computation over the same rows (NULL semantics included)."""
    rows, lo, hi = case
    df = spark.createDataFrame(rows, "k int, v double")
    rules = [
        V.non_null("k"),
        V.unique("k"),
        V.in_range("v", lo, hi),
        V.accepted_values("k", [0, 1, 2]),
    ]
    got = {r.rule: r.violations for r in V.check_constraints(df, rules).collect()}
    ks = [k for k, _ in rows]
    vs = [v for _, v in rows]
    nn_k = [k for k in ks if k is not None]
    assert got["non_null(k)"] == sum(k is None for k in ks)
    assert got["unique(k)"] == len(nn_k) - len(set(nn_k))
    assert got[f"in_range(v, {lo}, {hi})"] == sum(
        v is not None and (v < lo or v > hi) for v in vs
    )
    assert got["accepted_values(k)"] == sum(
        k is not None and k not in (0, 1, 2) for k in ks
    )

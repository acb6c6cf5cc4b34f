"""Unit tests for functions.vector (SURVEY §2.8 F1-F6) against numpy."""

from __future__ import annotations

import math
import struct

import numpy as np
import pytest
from pyspark.sql import functions as F

from vector_search_optimization_spark.functions import vector as V

VECS = [
    ([1.0, 2.0, 2.0], [0.0, 3.0, 4.0]),
    ([0.5, -0.5, 0.25], [1.0, 1.0, 1.0]),
    ([0.0, 0.0, 0.0], [1.0, 2.0, 3.0]),  # zero vector edge case
]


@pytest.fixture(scope="module")
def pairs_df(spark):
    return spark.createDataFrame(
        [(a, b) for a, b in VECS], "a array<float>, b array<float>"
    )


def test_l2_norm_and_dot(pairs_df):
    rows = pairs_df.select(
        V.l2_norm("a").alias("na"), V.dot("a", "b").alias("d")
    ).collect()
    for row, (a, b) in zip(rows, VECS):
        assert row.na == pytest.approx(np.linalg.norm(a), rel=1e-9)
        assert row.d == pytest.approx(float(np.dot(a, b)), rel=1e-9)


def test_l2_normalize_unit_and_zero_safe(pairs_df):
    rows = pairs_df.select(V.l2_normalize("a").alias("u")).collect()
    assert np.linalg.norm(rows[0].u) == pytest.approx(1.0, abs=1e-9)
    assert rows[2].u == [0.0, 0.0, 0.0]  # zero vector passes through


def test_distances_match_numpy(pairs_df):
    rows = pairs_df.select(
        V.euclidean("a", "b").alias("e"),
        V.manhattan("a", "b").alias("m"),
        V.cosine_similarity("a", "b").alias("c"),
    ).collect()
    for row, (a, b) in zip(rows, VECS):
        a_, b_ = np.array(a), np.array(b)
        assert row.e == pytest.approx(float(np.linalg.norm(a_ - b_)), rel=1e-9)
        assert row.m == pytest.approx(float(np.abs(a_ - b_).sum()), rel=1e-9)
        na, nb = np.linalg.norm(a_), np.linalg.norm(b_)
        if na == 0 or nb == 0:
            assert row.c is None  # zero-norm → NULL, not NaN
        else:
            assert row.c == pytest.approx(float(a_ @ b_ / (na * nb)), rel=1e-9)


def test_sq_euclidean_rank_equivalent(pairs_df):
    rows = pairs_df.select(
        V.euclidean("a", "b").alias("e"), V.sq_euclidean("a", "b").alias("s")
    ).collect()
    for row in rows:
        assert row.s == pytest.approx(row.e**2, rel=1e-9)


def test_parse_vector_roundtrip(spark):
    df = spark.createDataFrame(
        [("[0.1, -2.5, 3]",), ("[]",), ("[1.5]",)], "s string"
    )
    rows = df.select(V.parse_vector("s").alias("v")).collect()
    assert rows[0].v == pytest.approx([0.1, -2.5, 3.0])
    assert rows[1].v is None
    assert rows[2].v == [1.5]
    # roundtrip through vector_to_string
    back = (
        df.select(V.parse_vector("s").alias("v"))
        .where(F.col("v").isNotNull())
        .select(V.parse_vector(V.vector_to_string("v")).alias("v2"))
        .collect()
    )
    assert back[0].v2 == pytest.approx([0.1, -2.5, 3.0])


def test_distance_dispatch_rejects_unknown():
    with pytest.raises(ValueError, match="unknown metric"):
        V.distance("a", "b", "chebyshev")


# --- one-SQL-expression kernels vs the Column-built formulas ------------
# The kernels render SQL text; the reference below builds the same math
# through the Column API (F.col, Python-lambda zip_with/aggregate, one
# F.lit per element) the way the module did before. Every kernel must
# match it bit for bit under every operand form.


def _ref_d(v):
    return (F.col(v) if isinstance(v, str) else v).cast("array<double>")


def _ref_sum(a, b, term):
    return F.aggregate(
        F.zip_with(_ref_d(a), _ref_d(b), term), F.lit(0.0), lambda acc, x: acc + x
    )


def _ref_dot(a, b):
    return _ref_sum(a, b, lambda x, y: x * y)


def _ref_l2_norm(v):
    return F.sqrt(_ref_dot(v, v))


def _ref_l2_normalize(v):
    norm = _ref_l2_norm(v)
    return F.when(norm == 0.0, _ref_d(v)).otherwise(
        F.transform(_ref_d(v), lambda x: x / norm)
    )


def _ref_cosine_similarity(a, b):
    denom = _ref_l2_norm(a) * _ref_l2_norm(b)
    return F.when(denom == 0.0, F.lit(None)).otherwise(_ref_dot(a, b) / denom)


_REF_BINARY = {
    "dot": _ref_dot,
    "euclidean": lambda a, b: F.sqrt(_ref_sum(a, b, lambda x, y: (x - y) * (x - y))),
    "sq_euclidean": lambda a, b: _ref_sum(a, b, lambda x, y: (x - y) * (x - y)),
    "cosine_similarity": _ref_cosine_similarity,
    "cosine_distance": lambda a, b: F.lit(1.0) - _ref_cosine_similarity(a, b),
    "manhattan": lambda a, b: _ref_sum(a, b, lambda x, y: F.abs(x - y)),
}
_REF_METRICS = {
    "euclidean": "euclidean",
    "sqeuclidean": "sq_euclidean",
    "cosine": "cosine_distance",
    "manhattan": "manhattan",
}
_REF_UNARY = {"l2_norm": _ref_l2_norm, "l2_normalize": _ref_l2_normalize}


def _ref_parse_vector(s):
    cleaned = F.regexp_replace(F.col(s), r"[\[\]\s]", "")
    return F.when(cleaned == "", F.lit(None)).otherwise(
        F.transform(F.split(cleaned, ","), lambda x: x.cast("float"))
    )


_INF, _NAN = float("inf"), float("nan")
# zero vector, NaN, +-inf, -0.0, the smallest subnormal, plain values
_EDGE_ROWS = [
    ([0.0, 0.0, 0.0], [1.0, 2.0, 3.0]),
    ([_NAN, 1.0, 2.0], [1.0, 1.0, 1.0]),
    ([_INF, 1.0, 0.0], [-_INF, 2.0, 1.0]),
    ([-0.0, -0.0, 1.0], [0.0, -0.0, 2.0]),
    ([5e-324, 1.0, -2.0], [5e-324, 5e-324, 0.5]),
    ([1.0, 2.0, 2.0], [0.0, 3.0, 4.0]),
    ([0.1, -0.7, 1e300], [3.3, 0.25, 1e-300]),
]
_EDGE_QUERIES = [
    [0.0, 0.0, 0.0],
    [_NAN, 0.5, 1.0],
    [_INF, 0.0, -1.0],
    [-0.0, 0.0, -0.0],
    [5e-324, 5e-324, 5e-324],
    [0.3, -1.7, 2.9],
]


def _bits(v):
    """Bit pattern of a result, NaN folded to one token."""
    if v is None:
        return None
    if isinstance(v, list):
        return [_bits(x) for x in v]
    return "nan" if math.isnan(v) else struct.pack("<d", v)


@pytest.fixture(scope="module")
def edge_df(spark):
    rows = [(i, a, b, a, b) for i, (a, b) in enumerate(_EDGE_ROWS)]
    return spark.createDataFrame(
        rows,
        "id int, a array<double>, b array<double>, "
        "fa array<float>, fb array<float>",
    )


def _assert_same(df, pairs):
    """Select every (new, reference) column pair once; compare bits."""
    exprs = []
    for i, (new, ref) in enumerate(pairs):
        exprs += [new.alias(f"n{i}"), ref.alias(f"r{i}")]
    for row in df.select(*exprs).collect():
        for i in range(len(pairs)):
            assert _bits(row[f"n{i}"]) == _bits(row[f"r{i}"]), (i, row)


def _kernel_pairs(new_operands, ref_operands):
    """(kernel, reference) column pairs for every kernel on one operand form."""
    (na, nb), (ra, rb) = new_operands, ref_operands
    pairs = [(getattr(V, k)(na, nb), ref(ra, rb)) for k, ref in _REF_BINARY.items()]
    pairs += [
        (V.distance(na, nb, metric), _REF_BINARY[k](ra, rb))
        for metric, k in _REF_METRICS.items()
    ]
    for k, ref in _REF_UNARY.items():
        pairs += [(getattr(V, k)(na), ref(ra)), (getattr(V, k)(nb), ref(rb))]
    return pairs


@pytest.mark.parametrize(
    "names", [("a", "b"), ("fa", "fb"), ("a", "fb")], ids=["double", "float", "mixed"]
)
def test_kernels_bit_identical_on_column_names(edge_df, names):
    _assert_same(edge_df, _kernel_pairs(names, names))


def test_kernels_bit_identical_on_dotted_self_join(edge_df):
    v = edge_df.select("id", F.col("fa").alias("__v"))
    pairs_df = v.alias("a").crossJoin(v.alias("b"))
    _assert_same(
        pairs_df,
        _kernel_pairs(("a.__v", "b.__v"), (F.col("a.__v"), F.col("b.__v"))),
    )


def test_kernels_bit_identical_on_slices_and_kernel_outputs(edge_df):
    sl = (F.slice("a", 1, 2), F.slice("fb", 2, 2))
    _assert_same(edge_df, _kernel_pairs(sl, sl))
    _assert_same(
        edge_df,
        _kernel_pairs(
            (V.l2_normalize("a"), V.l2_normalize("fb")),
            (_ref_l2_normalize("a"), _ref_l2_normalize("fb")),
        )
        + [
            (V.l2_norm(V.l2_normalize("a")), _ref_l2_norm(_ref_l2_normalize("a"))),
            (
                V.l2_normalize(V.l2_normalize("fa")),
                _ref_l2_normalize(_ref_l2_normalize("fa")),
            ),
        ],
    )


@pytest.mark.parametrize("q", _EDGE_QUERIES, ids=lambda q: repr(q))
def test_kernels_bit_identical_on_sequences(edge_df, q):
    """A sequence operand (cosine's norm folded on the driver) equals the
    reference over the per-element literal, in either argument position."""
    ref_q = F.array(*[F.lit(float(x)) for x in q])
    pairs = _kernel_pairs(("a", q), ("a", ref_q))
    pairs += _kernel_pairs((q, "fb"), (ref_q, "fb"))
    _assert_same(edge_df, pairs)


def test_parse_vector_bit_identical(spark):
    texts = ["[0.1, -2.5, 3]", "[]", "[1.5]", " [ 1e-45 ,\t-0.0 ] ", "[NaN, 7]", None]
    df = spark.createDataFrame([(t,) for t in texts], "s string")
    _assert_same(df, [(V.parse_vector("s"), _ref_parse_vector("s"))])


@pytest.mark.parametrize("dim", [64, 3072])
def test_folded_query_norm_matches_plan_norm(spark, dim):
    """Cosine against a sequence (query norm folded on the driver) equals
    cosine against the literal Column (norm computed in the plan), bit for
    bit, for 200 seeded random vectors."""
    rng = np.random.RandomState(dim)
    rows = [(i, rng.standard_normal(dim).tolist()) for i in range(200)]
    df = spark.createDataFrame(rows, "id int, v array<double>")
    for q in (rng.standard_normal(dim), rng.standard_normal(dim).astype(np.float32)):
        lit = V.vector_lit(q)
        _assert_same(
            df,
            [
                (V.cosine_similarity("v", q), V.cosine_similarity("v", lit)),
                (V.cosine_distance(q, "v"), V.cosine_distance(lit, "v")),
            ],
        )


def _wide_rows(dim):
    """Rows at the reference's width: a zero row, NaN, +inf and -inf each
    at one position of an otherwise regular row, and a regular row."""
    rng = np.random.RandomState(dim)
    regular = rng.standard_normal(dim).tolist()
    rows = [[0.0] * dim, list(regular)]
    for pos, x in ((0, _NAN), (dim // 2, _INF), (dim - 1, -_INF)):
        row = list(regular)
        row[pos] = x
        rows.append(row)
    return rows


def test_l2_normalize_bit_identical_at_reference_width(spark):
    """The one-fold normalize equals the Column-built formula that
    re-folds the norm per element, bit for bit, on 3,072-dim zero, NaN
    and ±inf rows (double and float operands)."""
    rows = _wide_rows(3072)
    df = spark.createDataFrame(
        [(i, v, v) for i, v in enumerate(rows)],
        "id int, v array<double>, fv array<float>",
    )
    _assert_same(
        df,
        [
            (V.l2_normalize("v"), _ref_l2_normalize("v")),
            (V.l2_normalize("fv"), _ref_l2_normalize("fv")),
        ],
    )


def test_l2_normalize_plan_folds_the_norm_once(pairs_df):
    """One ``aggregate`` per row: the norm is not re-folded inside the
    ``transform`` lambda."""
    plan = (
        pairs_df.select(V.l2_normalize("a").alias("u"))
        ._jdf.queryExecution()
        .optimizedPlan()
        .toString()
    )
    assert plan.count("aggregate(") == 1, plan


def test_l2_normalize_kernel_is_the_fold(spark):
    """The former Arrow twin's name is the expression, so NaN stays NaN
    (pandas -> Arrow conversion had turned it into NULL)."""
    assert V.l2_normalize_kernel is V.l2_normalize
    df = spark.createDataFrame([([_NAN, 1.0],)], "v array<double>")
    (u,) = df.select(V.l2_normalize_kernel("v")).first()
    assert u is not None and len(u) == 2
    assert all(x is not None and math.isnan(x) for x in u)

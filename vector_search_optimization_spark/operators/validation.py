"""Declarative data-quality constraints — one aggregation pass.

The Deequ / Great Expectations pattern, Spark-first: every constraint
compiles to a conditional aggregate over the same scan, so checking 20
rules on a 100 TB table costs exactly one combinable shuffle of a
1-row state — not 20 jobs. Results come back as (rule, violations,
passed) rows for gating a pipeline stage or for writing to a
quality-metrics table.

Usage::

    report = check_constraints(df, [
        non_null("doc_id"), unique("doc_id"),
        in_range("n_chars", 0, 1_000_000),
        accepted_values("lang", ["en", "es", "de", "fr", "zh"]),
        satisfies("text IS NULL OR length(text) >= 1", "text_not_empty"),
    ])

Each rule is (name, violation_predicate_column): violations == rows
where the predicate is TRUE. ``unique`` is the one exception — it needs
its own distinct aggregation, expressed as count(*) - count_distinct
inside the same agg (exact; swap in approx_count_distinct at lake scale
if a small error bound is acceptable).
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


@dataclass(frozen=True)
class Rule:
    name: str
    # violation counter expression: evaluates to a LONG count inside agg
    counter: Column


def _count_if(pred: Column) -> Column:
    return F.sum(pred.cast("long"))


def non_null(col: str) -> Rule:
    return Rule(f"non_null({col})", _count_if(F.col(col).isNull()))


def unique(col: str) -> Rule:
    """count(*) - count(distinct col) over non-null values; NULLs are
    counted by non_null, not here (SQL UNIQUE semantics)."""
    return Rule(
        f"unique({col})",
        _count_if(F.col(col).isNotNull()) - F.count_distinct(F.col(col)),
    )


def in_range(col: str, lo: float, hi: float) -> Rule:
    c = F.col(col)
    return Rule(
        f"in_range({col}, {lo}, {hi})",
        _count_if(c.isNotNull() & ((c < F.lit(lo)) | (c > F.lit(hi)))),
    )


def accepted_values(col: str, values: list) -> Rule:
    """NULLs never violate this rule (use non_null for that), so a None
    in ``values`` is dropped — left in, three-valued isin would turn the
    predicate NULL for every non-member and silently pass everything."""
    c = F.col(col)
    clean = [v for v in values if v is not None]
    if not clean:
        raise ValueError("accepted_values needs at least one non-None value")
    return Rule(
        f"accepted_values({col})",
        _count_if(c.isNotNull() & ~c.isin(clean)),
    )


def satisfies(sql_predicate: str, name: str) -> Rule:
    """Arbitrary SQL predicate that every row must satisfy."""
    return Rule(name, _count_if(~F.expr(sql_predicate)))


def check_constraints(df: DataFrame, rules: list[Rule]) -> DataFrame:
    """(rule, violations, passed) — ALL rules in ONE agg over one scan."""
    if not rules:
        raise ValueError("rules must be non-empty")
    agg = df.agg(
        F.count(F.lit(1)).alias("__n"),
        *[r.counter.alias(f"__v{i}") for i, r in enumerate(rules)],
    )
    per_rule = F.array(
        *[
            F.struct(
                F.lit(r.name).alias("rule"),
                F.coalesce(F.col(f"__v{i}"), F.lit(0)).alias("violations"),
            )
            for i, r in enumerate(rules)
        ]
    )
    return (
        agg.select(F.explode(per_rule).alias("r"))
        .select(
            F.col("r.rule").alias("rule"),
            F.col("r.violations").cast("long").alias("violations"),
            (F.col("r.violations") == 0).alias("passed"),
        )
    )



# Benford first-digit law: P(d) = log10(1 + 1/d). The nine expected
# probabilities are emitted as REPR-EXACT double literals so the Spark
# expression and the DuckDB oracle parse the identical IEEE value — no
# cross-engine log10 libm dependence (the last-ulp hazard class).
BENFORD_P: dict[int, float] = {
    d: __import__("math").log10(1.0 + 1.0 / d) for d in range(1, 10)
}


def first_significant_digit(cents: Column) -> Column:
    """Leading decimal digit of a positive exact-integer amount, via the
    integer's string form — integer→string is exact and identical across
    engines, unlike floor(log10(x)) which can flip at powers of ten on a
    last-ulp libm difference."""
    return F.substring(cents.cast("string"), 1, 1).cast("int")


def benford_expected(digit: Column) -> Column:
    """Expected Benford probability as a literal CASE over the nine
    repr-exact constants (see BENFORD_P)."""
    expr = F.lit(None).cast("double")
    for d in range(9, 0, -1):
        expr = F.when(digit == d, F.lit(BENFORD_P[d])).otherwise(expr)
    return expr


def benford_expected_sql(digit_expr: str) -> str:
    """The DuckDB-side CASE with the SAME repr-exact literals. The `e0`
    suffix types them DOUBLE — a bare decimal literal parses as DECIMAL
    in DuckDB, which would run (non-IEEE) decimal arithmetic and
    overflow DECIMAL(38) in the chi-square product."""
    cases = " ".join(
        f"WHEN {d} THEN {BENFORD_P[d]!r}e0" for d in range(1, 10)
    )
    return f"CASE {digit_expr} {cases} END"

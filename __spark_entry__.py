"""Driver contract for the spark-graft builder (PySpark target).

Each entry in ``_REGISTRY`` is one operator/query from SURVEY.md §2 (or an
engine extension: dedup / ANN / text analysis), implemented through the
``vector_search_optimization_spark`` package, with an equivalent DuckDB SQL
oracle where the semantics are SQL-expressible. Aggregate/computed columns
are aliased identically on both sides; floats are rounded on both sides so
cross-engine summation-order noise doesn't break the value hash.
"""

from __future__ import annotations

import json
import os
import re
import shutil
from collections.abc import Callable
from pathlib import Path

import numpy as np
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from vector_search_optimization_spark.functions import text as TX
from vector_search_optimization_spark.functions import vector as V
from vector_search_optimization_spark.operators import ann, dedup, islands, topk, upsert
from vector_search_optimization_spark.operators import distribution as DIST
from vector_search_optimization_spark.operators import nearest_centroid as NC
from vector_search_optimization_spark.operators import ranking_stats as RKS
from vector_search_optimization_spark.operators import timeseries as TS
from vector_search_optimization_spark.operators import validation as DQV
from vector_search_optimization_spark.operators import similarity as SIM
from vector_search_optimization_spark.operators import vector_agg as VA
from vector_search_optimization_spark.sources import load_table, spread_scan

SF0001 = "/root/testdata/sf0.001"


def _oracle_sf_dir() -> str:
    """The sf dir the *generated* oracles read to derive their literals.

    Data-dependent oracle SQL (seeded quantizers, PCA bases, MCD fits) must
    be generated from the SAME table the oracle will be evaluated against.
    The driver evaluates at sf0.01 (the default); tools/check_correctness.py
    and tests/test_oracle_parity.py point this at whatever sf they run."""
    return os.environ.get("SPARK_GRAFT_ORACLE_SF_DIR", "/root/testdata/sf0.01")


# The daily grid's SQL twin, one text per CTE, spliced into every oracle
# that reads it: ``daily`` is timeseries.daily_cents (event_type, d,
# cents) and ``bounds``/``spine``/``grid`` is timeseries.gap_filled over
# it (grid.x = cents, zero on the days no event covers).
_DAILY_CENTS_CTE = """daily AS (
  SELECT event_type,
         CAST(floor(floor(epoch(ts)) / 86400.0) AS BIGINT) AS d,
         CAST(round(sum(value) * 100) AS BIGINT) AS cents
  FROM events WHERE value IS NOT NULL GROUP BY 1, 2
)"""
_GAP_FILLED_CTE = """bounds AS (
  SELECT event_type, min(d) AS lo, max(d) AS hi FROM daily GROUP BY 1
), spine AS (
  SELECT event_type,
         CAST(unnest(generate_series(lo, hi)) AS BIGINT) AS d
  FROM bounds
), grid AS (
  SELECT s.event_type, s.d, coalesce(a.cents, 0) AS x
  FROM spine s LEFT JOIN daily a
    ON s.event_type = a.event_type AND s.d = a.d
)"""


# ---------------------------------------------------------------------------
# flagship
# ---------------------------------------------------------------------------

def q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q1-shaped rollup (A1/A4/A8 + O2): the canonical partial-agg
    plan — one shuffle of tiny partial states, whole-stage codegen'd.

    The avg columns are DERIVED from the tie-free rounded sums and the
    count (avg = round(sum, 2) / count, exported unrounded): rounding a
    mean of decimal-valued data directly can land exactly on a HALF_UP
    tie boundary, while dividing two values that are already
    bit-identical across engines is bit-identical IEEE division (the
    evt_gap_fill decimal-tie rule applied to the avg exports)."""
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("sum_disc_price"),
            F.round(F.sum("l_discount"), 2).alias("__sum_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
        .select(
            "l_returnflag",
            "l_linestatus",
            "sum_qty",
            "sum_base_price",
            "sum_disc_price",
            (F.col("sum_qty") / F.col("count_order")).alias("avg_qty"),
            (F.col("sum_base_price") / F.col("count_order")).alias(
                "avg_price"
            ),
            (F.col("__sum_disc") / F.col("count_order")).alias("avg_disc"),
            "count_order",
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


_Q1_SQL = """
SELECT l_returnflag, l_linestatus,
       round(sum(l_quantity), 2)                            AS sum_qty,
       round(sum(l_extendedprice), 2)                       AS sum_base_price,
       round(sum(l_extendedprice * (1 - l_discount)), 2)    AS sum_disc_price,
       round(sum(l_quantity), 2) / count(*)                 AS avg_qty,
       round(sum(l_extendedprice), 2) / count(*)            AS avg_price,
       round(sum(l_discount), 2) / count(*)                 AS avg_disc,
       count(*)                                             AS count_order
FROM lineitem
GROUP BY l_returnflag, l_linestatus
"""


# ---------------------------------------------------------------------------
# relational aggregations (SURVEY §2.4)
# ---------------------------------------------------------------------------

def a1_a3_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A1 group count + A3 distinct count per group."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.count("l_quantity").alias("n_lines"),
        F.countDistinct("l_orderkey").alias("n_orders"),
        F.countDistinct("l_partkey").alias("n_parts"),
    )


_A1_SQL = """
SELECT l_returnflag,
       count(l_quantity)          AS n_lines,
       count(DISTINCT l_orderkey) AS n_orders,
       count(DISTINCT l_partkey)  AS n_parts
FROM lineitem GROUP BY l_returnflag
"""


def a5_two_level(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A5/A6 — lines per (flag, order), then mean/std (ddof=1, pandas
    convention per SURVEY A4) per flag.

    mean_lines exports as the UNROUNDED integer-sum / count quotient
    (bit-identical IEEE division of identical integers on both engines;
    a rounded mean of integer counts can land exactly on a HALF_UP tie
    when the group size has only 2/5 prime factors). std stays rounded:
    a sqrt is irrational, so the 6dp boundary is measure-zero."""
    li = load_table(spark, sf_dir, "lineitem")
    per_order = li.groupBy("l_returnflag", "l_orderkey").agg(
        F.count(F.lit(1)).alias("n")
    )
    return (
        per_order.groupBy("l_returnflag")
        .agg(
            F.sum("n").alias("sum_lines"),
            F.count(F.lit(1)).alias("n_orders"),
            F.round(F.stddev_samp("n"), 6).alias("std_lines"),
        )
        .select(
            "l_returnflag",
            "sum_lines",
            "n_orders",
            (F.col("sum_lines").cast("double") / F.col("n_orders")).alias(
                "mean_lines"
            ),
            "std_lines",
        )
    )


_A5_SQL = """
WITH per_order AS (
  SELECT l_returnflag, l_orderkey, count(*) AS n
  FROM lineitem GROUP BY l_returnflag, l_orderkey
)
SELECT l_returnflag,
       CAST(sum(n) AS BIGINT)   AS sum_lines,
       count(*)                 AS n_orders,
       CAST(sum(n) AS DOUBLE) / count(*) AS mean_lines,
       round(stddev_samp(n), 6) AS std_lines
FROM per_order GROUP BY l_returnflag
"""


def a9_value_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A9 — value_counts (count + sort desc)."""
    o = load_table(spark, sf_dir, "orders")
    return (
        o.groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.desc("n"), "o_orderpriority")
    )


_A9_SQL = """
SELECT o_orderpriority, count(*) AS n
FROM orders GROUP BY o_orderpriority
"""


def a10_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A10 — binned histogram of l_quantity (width-5 buckets)."""
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.select(F.floor(F.col("l_quantity") / 5).cast("long").alias("bucket"))
        .groupBy("bucket")
        .agg(F.count(F.lit(1)).alias("n"))
    )


_A10_SQL = """
SELECT CAST(floor(l_quantity / 5) AS BIGINT) AS bucket, count(*) AS n
FROM lineitem GROUP BY bucket
"""


def a11_a13_buckets_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A11 conditional buckets + A13 ratio of aggregates (one row)."""
    li = load_table(spark, sf_dir, "lineitem")
    above = F.sum(F.when(F.col("l_discount") > 0.05, 1).otherwise(0))
    total = F.count(F.lit(1))
    return li.agg(
        above.cast("long").alias("n_above"),
        (total - above).cast("long").alias("n_below"),
        F.round(above / total * 100, 4).alias("pct_above"),
        F.round(F.sum("l_extendedprice") / F.sum("l_quantity"), 4).alias(
            "price_per_unit"
        ),
    )


_A11_SQL = """
SELECT CAST(sum(CASE WHEN l_discount > 0.05 THEN 1 ELSE 0 END) AS BIGINT) AS n_above,
       CAST(count(*) - sum(CASE WHEN l_discount > 0.05 THEN 1 ELSE 0 END) AS BIGINT) AS n_below,
       round(100.0 * sum(CASE WHEN l_discount > 0.05 THEN 1 ELSE 0 END) / count(*), 4) AS pct_above,
       round(sum(l_extendedprice) / sum(l_quantity), 4) AS price_per_unit
FROM lineitem
"""


def a12_first_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A12 — deterministic first-row-per-group (earliest order per customer)."""
    o = load_table(spark, sf_dir, "orders")
    first = topk.first_row_per_group(
        o, "o_custkey", F.struct("o_orderdate", "o_orderkey")
    )
    # dates exported as ISO strings: engine-neutral for the value hash
    return first.select(
        "o_custkey",
        "o_orderkey",
        F.date_format("o_orderdate", "yyyy-MM-dd").alias("first_order_date"),
    )


_A12_SQL = """
SELECT o_custkey, o_orderkey, strftime(o_orderdate, '%Y-%m-%d') AS first_order_date FROM (
  SELECT o_custkey, o_orderkey, o_orderdate,
         row_number() OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey) AS rn
  FROM orders
) WHERE rn = 1
"""


def a14_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A14 — exact percentiles (continuous interpolation) per group."""
    o = load_table(spark, sf_dir, "orders")
    return o.groupBy("o_orderstatus").agg(
        F.round(F.percentile("o_totalprice", F.lit(0.5)), 4).alias("p50"),
        F.round(F.percentile("o_totalprice", F.lit(0.95)), 4).alias("p95"),
    )


_A14_SQL = """
SELECT o_orderstatus,
       round(quantile_cont(o_totalprice, 0.5), 4)  AS p50,
       round(quantile_cont(o_totalprice, 0.95), 4) AS p95
FROM orders GROUP BY o_orderstatus
"""


# ---------------------------------------------------------------------------
# joins (SURVEY §2.3)
# ---------------------------------------------------------------------------

def j1_inner_join_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J1 — inner equi-join + aggregate (orders x customer). avg_price
    derives from the tie-free rounded sum (the evt_gap_fill decimal-tie
    rule: never export a directly-rounded mean of 2-decimal data)."""
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    return (
        o.join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.round(F.sum("o_totalprice"), 2).alias("sum_price"),
        )
        .select(
            "c_mktsegment",
            "n_orders",
            "sum_price",
            (F.col("sum_price") / F.col("n_orders")).alias("avg_price"),
        )
    )


_J1_SQL = """
SELECT c_mktsegment, count(*) AS n_orders,
       round(sum(o_totalprice), 2) AS sum_price,
       round(sum(o_totalprice), 2) / count(*) AS avg_price
FROM orders JOIN customer ON o_custkey = c_custkey
GROUP BY c_mktsegment
"""


def j2_left_join_flags(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J2 — left join + null-tolerant flag: order-count histogram over ALL
    customers (zero-order customers included)."""
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    per_cust = o.groupBy("o_custkey").agg(F.count(F.lit(1)).alias("n"))
    return (
        c.join(per_cust, c.c_custkey == per_cust.o_custkey, "left")
        .select(F.coalesce("n", F.lit(0)).alias("n_orders"))
        .groupBy("n_orders")
        .agg(F.count(F.lit(1)).alias("n_customers"))
    )


_J2_SQL = """
WITH per_cust AS (SELECT o_custkey, count(*) AS n FROM orders GROUP BY o_custkey)
SELECT coalesce(n, 0) AS n_orders, count(*) AS n_customers
FROM customer LEFT JOIN per_cust ON c_custkey = o_custkey
GROUP BY coalesce(n, 0)
"""


def j4_semi_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J4/P7 — semi-join filter: parts that appear in lineitem, by brand."""
    p = load_table(spark, sf_dir, "part")
    li = load_table(spark, sf_dir, "lineitem")
    return (
        p.join(li, p.p_partkey == li.l_partkey, "left_semi")
        .groupBy("p_brand")
        .agg(F.count(F.lit(1)).alias("n_parts"))
    )


_J4_SQL = """
SELECT p_brand, count(*) AS n_parts
FROM part WHERE p_partkey IN (SELECT l_partkey FROM lineitem)
GROUP BY p_brand
"""


def j5_lookup_chain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J5 — dim-table lookup chain (customer -> nation -> region), both dims
    broadcast: zero shuffle on the fact side before the final agg."""
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region")
    return (
        c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy("r_name")
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            F.round(F.sum("c_acctbal"), 2).alias("sum_acctbal"),
        )
    )


_J5_SQL = """
SELECT r_name, count(*) AS n_customers, round(sum(c_acctbal), 2) AS sum_acctbal
FROM customer
JOIN nation ON c_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
GROUP BY r_name
"""


def q3_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q3-shaped: 3-way join + agg + top-10 by revenue — exercises
    join ordering with one broadcastable dim and two fact tables."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c.where(F.col("c_mktsegment") == "BUILDING")),
              o.o_custkey == c.c_custkey)
        .groupBy("o_orderkey", "o_orderpriority")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue")
        )
        .orderBy(F.desc("revenue"), "o_orderkey")
        .limit(10)
    )


_Q3_SQL = """
SELECT o_orderkey, o_orderpriority,
       round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
WHERE c_mktsegment = 'BUILDING'
GROUP BY o_orderkey, o_orderpriority
ORDER BY revenue DESC, o_orderkey
LIMIT 10
"""


def q5_supplier_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q5-shaped: 5-way join through two broadcast dim chains —
    revenue per region."""
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy("r_name")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue"),
            F.countDistinct("o_orderkey").alias("n_orders"),
        )
    )


_Q5_SQL = """
SELECT r_name,
       round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
       count(DISTINCT o_orderkey) AS n_orders
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation ON s_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
GROUP BY r_name
"""


def q7_volume_shipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q7-shaped: 6-way join (nation joined TWICE under different
    roles) with a disjunctive nation-pair predicate and a ship-date
    window — bilateral trade volume by year. Join-ordering stress: the
    fact table joins orders on the shuffle key while both nation dims
    (and supplier/customer) broadcast; the date filter pushes to the
    lineitem scan."""
    li = load_table(spark, sf_dir, "lineitem").where(
        F.col("l_shipdate").between("1995-01-01", "1996-12-31 23:59:59")
    )
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation")
    n1 = n.select(
        F.col("n_nationkey").alias("n1_key"), F.col("n_name").alias("supp_nation")
    )
    n2 = n.select(
        F.col("n_nationkey").alias("n2_key"), F.col("n_name").alias("cust_nation")
    )
    pair = (
        (F.col("supp_nation") == "NATION_1") & (F.col("cust_nation") == "NATION_2")
    ) | (
        (F.col("supp_nation") == "NATION_2") & (F.col("cust_nation") == "NATION_1")
    )
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(n1), F.col("s_nationkey") == F.col("n1_key"))
        .join(F.broadcast(n2), F.col("c_nationkey") == F.col("n2_key"))
        .where(pair)
        .groupBy(
            "supp_nation", "cust_nation", F.year("l_shipdate").alias("l_year")
        )
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue"),
            F.count(F.lit(1)).alias("n_lines"),
        )
        .orderBy("supp_nation", "cust_nation", "l_year")
    )


_Q7_SQL = """
SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
       CAST(year(l_shipdate) AS INTEGER) AS l_year,
       round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
       count(*) AS n_lines
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN customer ON o_custkey = c_custkey
JOIN nation n1 ON s_nationkey = n1.n_nationkey
JOIN nation n2 ON c_nationkey = n2.n_nationkey
WHERE l_shipdate BETWEEN TIMESTAMP '1995-01-01'
                     AND TIMESTAMP '1996-12-31 23:59:59'
  AND ((n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
    OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1'))
GROUP BY 1, 2, 3
ORDER BY 1, 2, 3
"""


def q4_order_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q4-shaped: per-priority count of orders that have at least one
    lineitem shipped >60 days after the order date, inside one quarter.

    Deliberately written as SQL with a correlated EXISTS (non-equi
    correlation ``l_shipdate > o_orderdate + 60 days``) so Catalyst's
    subquery decorrelation is exercised: the optimizer must rewrite the
    EXISTS into a LEFT SEMI join on ``l_orderkey = o_orderkey`` carrying
    the date predicate as a join condition — plan-pinned in
    tests/test_plan_shapes.py. The quarter filter pushes to the orders
    scan, so at 100 TB the semi join probes only one quarter of orders."""
    load_table(spark, sf_dir, "orders").createOrReplaceTempView("q4_orders")
    load_table(spark, sf_dir, "lineitem").createOrReplaceTempView("q4_lineitem")
    return spark.sql("""
        SELECT o_orderpriority, count(*) AS n_orders
        FROM q4_orders
        WHERE o_orderdate >= TIMESTAMP '1996-07-01'
          AND o_orderdate < TIMESTAMP '1996-10-01'
          AND EXISTS (
            SELECT 1 FROM q4_lineitem
            WHERE l_orderkey = o_orderkey
              AND l_shipdate > o_orderdate + INTERVAL 60 DAYS
          )
        GROUP BY o_orderpriority
        ORDER BY o_orderpriority
    """)


_Q4_SQL = """
SELECT o_orderpriority, count(*) AS n_orders
FROM orders
WHERE o_orderdate >= TIMESTAMP '1996-07-01'
  AND o_orderdate < TIMESTAMP '1996-10-01'
  AND EXISTS (
    SELECT 1 FROM lineitem
    WHERE l_orderkey = o_orderkey
      AND l_shipdate > o_orderdate + INTERVAL 60 DAY
  )
GROUP BY o_orderpriority
ORDER BY o_orderpriority
"""


def q10_returned_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q10-shaped: top-20 customers by revenue lost to returned
    lineitems in one quarter — fact-fact shuffle join (lineitem⋈orders,
    both filtered before the join) with the customer and nation dims
    broadcast.

    Revenue is summed in EXACT integer arithmetic: each addend
    ``round(price*100) * (100 - round(disc*100))`` is an exact integer
    (price and discount are 2-decimal), so the per-customer sum is
    bit-identical across engines — the first cut of this query rounded
    the float sum to 2dp and hit a genuine decimal .005 tie on row 3
    (307843.595: Spark .60, DuckDB .59). The exported double ``revenue``
    is DERIVED from the exact integer (identical division → identical
    bits), and the top-20 rank key is the integer itself with the unique
    c_custkey as tiebreak."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders").where(
        F.col("o_orderdate").between("1996-01-01", "1996-03-31 23:59:59")
    )
    li = load_table(spark, sf_dir, "lineitem").where(F.col("l_returnflag") == "R")
    n = load_table(spark, sf_dir, "nation")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy("c_custkey", "c_name", "n_name")
        .agg(
            F.sum(
                F.round(F.col("l_extendedprice") * 100).cast("long")
                * (100 - F.round(F.col("l_discount") * 100).cast("long"))
            ).alias("revenue_c4"),
            F.count(F.lit(1)).alias("n_lines"),
        )
        .withColumn("revenue", F.col("revenue_c4") / F.lit(10000.0))
        .select("c_custkey", "c_name", "n_name", "revenue_c4", "revenue", "n_lines")
        .orderBy(F.desc("revenue_c4"), "c_custkey")
        .limit(20)
    )


_Q10_SQL = """
WITH agg AS (
  SELECT c_custkey, c_name, n_name,
         CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)
                  * (100 - CAST(round(l_discount * 100) AS BIGINT)))
              AS BIGINT) AS revenue_c4,
         count(*) AS n_lines
  FROM lineitem
  JOIN orders ON l_orderkey = o_orderkey
  JOIN customer ON o_custkey = c_custkey
  JOIN nation ON c_nationkey = n_nationkey
  WHERE l_returnflag = 'R'
    AND o_orderdate BETWEEN TIMESTAMP '1996-01-01'
                        AND TIMESTAMP '1996-03-31 23:59:59'
  GROUP BY c_custkey, c_name, n_name
)
SELECT c_custkey, c_name, n_name, revenue_c4,
       revenue_c4 / 10000.0 AS revenue, n_lines
FROM agg
ORDER BY revenue_c4 DESC, c_custkey
LIMIT 20
"""


def q17_small_qty_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q17-shaped: per-brand revenue from lineitems whose quantity is
    below 20% of that part's average quantity — the correlated scalar
    subquery (``avg(l_quantity) where l2.l_partkey = l.l_partkey``)
    decorrelated the idiomatic-Spark way: a per-part aggregate joined back
    onto lineitem on the l_partkey equi key. The stats-side join strategy
    is left to Catalyst's size estimate: one row per part broadcasts at
    test scale but exceeds the threshold at 100 TB, where it falls back
    to a shuffle join whose build side reuses the aggregate's l_partkey
    Exchange — both strategies are equi-joins, no per-row re-scan.

    The small-quantity predicate is evaluated in exact integer arithmetic
    (``5 * l_quantity * n_q < sum_q`` ⟺ ``l_quantity < 0.2 * avg``,
    quantities are integer-valued), so the threshold comparison is
    bit-identical across engines — no float-division boundary."""
    li = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part")
    per_part = li.groupBy(F.col("l_partkey").alias("pp_partkey")).agg(
        F.sum("l_quantity").alias("sum_q"),
        F.count(F.lit(1)).alias("n_q"),
    )
    return (
        li.join(per_part, li.l_partkey == per_part.pp_partkey)
        .where(5 * F.col("l_quantity") * F.col("n_q") < F.col("sum_q"))
        .join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .groupBy("p_brand")
        .agg(
            F.round(F.sum("l_extendedprice"), 2).alias("small_qty_revenue"),
            F.count(F.lit(1)).alias("n_lines"),
        )
        .orderBy("p_brand")
    )


_Q17_SQL = """
WITH per_part AS (
  SELECT l_partkey AS pp_partkey,
         sum(l_quantity) AS sum_q, count(*) AS n_q
  FROM lineitem GROUP BY 1
)
SELECT p_brand,
       round(sum(l_extendedprice), 2) AS small_qty_revenue,
       count(*) AS n_lines
FROM lineitem
JOIN per_part ON l_partkey = pp_partkey
JOIN part ON l_partkey = p_partkey
WHERE 5 * l_quantity * n_q < sum_q
GROUP BY p_brand
ORDER BY p_brand
"""


def q18_large_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q18-shaped: orders whose total quantity exceeds 250, with the
    customer attached — written as SQL with an IN subquery over a grouped
    HAVING so Catalyst rewrites it into a LEFT SEMI join against the
    aggregated lineitem (plan-pinned). The outer re-aggregation groups by
    the unique o_orderkey, so the semi-join output shrinks to the handful
    of qualifying orders before the customer broadcast join."""
    load_table(spark, sf_dir, "customer").createOrReplaceTempView("q18_customer")
    load_table(spark, sf_dir, "orders").createOrReplaceTempView("q18_orders")
    load_table(spark, sf_dir, "lineitem").createOrReplaceTempView("q18_lineitem")
    return spark.sql("""
        SELECT c_name, c_custkey, o_orderkey,
               date_format(o_orderdate, 'yyyy-MM-dd') AS o_orderdate_s,
               o_totalprice,
               CAST(sum(l_quantity) AS BIGINT) AS sum_qty
        FROM q18_customer
        JOIN q18_orders ON c_custkey = o_custkey
        JOIN q18_lineitem ON o_orderkey = l_orderkey
        WHERE o_orderkey IN (
          SELECT l_orderkey FROM q18_lineitem
          GROUP BY l_orderkey HAVING sum(l_quantity) > 250
        )
        GROUP BY c_name, c_custkey, o_orderkey,
                 date_format(o_orderdate, 'yyyy-MM-dd'), o_totalprice
        ORDER BY o_totalprice DESC, o_orderkey
        LIMIT 100
    """)


_Q18_SQL = """
SELECT c_name, c_custkey, o_orderkey,
       strftime(o_orderdate, '%Y-%m-%d') AS o_orderdate_s,
       o_totalprice,
       CAST(sum(l_quantity) AS BIGINT) AS sum_qty
FROM customer
JOIN orders ON c_custkey = o_custkey
JOIN lineitem ON o_orderkey = l_orderkey
WHERE o_orderkey IN (
  SELECT l_orderkey FROM lineitem
  GROUP BY l_orderkey HAVING sum(l_quantity) > 250
)
GROUP BY c_name, c_custkey, o_orderkey,
         strftime(o_orderdate, '%Y-%m-%d'), o_totalprice
ORDER BY o_totalprice DESC, o_orderkey
LIMIT 100
"""


def q13_order_count_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q13-shaped: distribution of customers by order count, with a
    predicate folded into the LEFT JOIN's ON clause (here: pre-filtering
    the right input, which is equivalent for a left join and lets the
    priority filter push to the orders scan). Customers with zero
    qualifying orders survive as c_count=0 via count(o_orderkey)
    (non-null counting). The per-customer groupBy keys on the join key,
    so at 100 TB it reuses the join's c_custkey hash partitioning with
    no extra Exchange; the second agg reduces to ~tens of rows."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders").where(
        F.col("o_orderpriority") != "5-LOW"
    )
    per_cust = (
        c.join(o, c.c_custkey == o.o_custkey, "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return (
        per_cust.groupBy("c_count")
        .agg(F.count(F.lit(1)).alias("custdist"))
        .orderBy(F.desc("custdist"), F.desc("c_count"))
    )


_Q13_SQL = """
WITH c_orders AS (
  SELECT c_custkey, count(o_orderkey) AS c_count
  FROM customer LEFT JOIN orders
    ON c_custkey = o_custkey AND o_orderpriority <> '5-LOW'
  GROUP BY c_custkey
)
SELECT c_count, count(*) AS custdist
FROM c_orders GROUP BY c_count
ORDER BY custdist DESC, c_count DESC
"""


def q15_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q15-shaped: supplier(s) achieving the maximum quarterly
    revenue — the VIEW + scalar-max self-reference expressed as one
    revenue aggregate joined (equi, on the exact integer revenue value)
    against its own broadcast 1-row max. Revenue is summed in exact
    integer cents×(100-disc) arithmetic (the q10 pattern), so the
    max-equality join key is bit-identical across engines — a float
    revenue would make "equals the max" a coin flip in the low bits.
    At 100 TB the date filter pushes to the lineitem scan and the
    revenue agg is one combinable shuffle over ~suppliers rows."""
    li = load_table(spark, sf_dir, "lineitem").where(
        F.col("l_shipdate").between("1996-01-01", "1996-03-31 23:59:59")
    )
    rev = li.groupBy(F.col("l_suppkey").alias("supplier_no")).agg(
        F.sum(
            F.round(F.col("l_extendedprice") * 100).cast("long")
            * (100 - F.round(F.col("l_discount") * 100).cast("long"))
        ).alias("total_revenue_c4")
    )
    best = rev.agg(F.max("total_revenue_c4").alias("max_rev"))
    s = load_table(spark, sf_dir, "supplier")
    return (
        rev.join(F.broadcast(best), F.col("total_revenue_c4") == F.col("max_rev"))
        .join(F.broadcast(s), F.col("supplier_no") == F.col("s_suppkey"))
        .select(
            "s_suppkey",
            "s_name",
            "total_revenue_c4",
            (F.col("total_revenue_c4") / F.lit(10000.0)).alias("total_revenue"),
        )
        .orderBy("s_suppkey")
    )


_Q15_SQL = """
WITH revenue AS (
  SELECT l_suppkey AS supplier_no,
         CAST(sum(CAST(round(l_extendedprice*100) AS BIGINT)
                  * (100 - CAST(round(l_discount*100) AS BIGINT))) AS BIGINT)
           AS total_revenue_c4
  FROM lineitem
  WHERE l_shipdate BETWEEN TIMESTAMP '1996-01-01'
                       AND TIMESTAMP '1996-03-31 23:59:59'
  GROUP BY 1)
SELECT s_suppkey, s_name, total_revenue_c4,
       total_revenue_c4 / 10000.0 AS total_revenue
FROM supplier JOIN revenue ON s_suppkey = supplier_no
WHERE total_revenue_c4 = (SELECT max(total_revenue_c4) FROM revenue)
ORDER BY s_suppkey
"""


def q16_supplier_variety(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q16-shaped: distinct-supplier variety per (brand, type, size)
    over the lineitem association (this corpus has no partsupp table —
    lineitem plays its role), excluding one brand / a type prefix / all
    but 8 sizes, and excluding a supplier list via NOT IN (subquery).

    Written as SQL so Catalyst's null-aware anti-join rewrite is
    exercised: s_suppkey is non-null, so the NOT IN plans as a broadcast
    anti join rather than a per-row subquery. The part-side predicates
    prune the part scan before its broadcast; count(DISTINCT) runs as
    the standard two-level Expand aggregate, combinable at 100 TB."""
    load_table(spark, sf_dir, "lineitem").createOrReplaceTempView("q16_lineitem")
    load_table(spark, sf_dir, "part").createOrReplaceTempView("q16_part")
    load_table(spark, sf_dir, "supplier").createOrReplaceTempView("q16_supplier")
    return spark.sql("""
        SELECT p_brand, p_type, p_size,
               count(DISTINCT l_suppkey) AS supplier_cnt
        FROM q16_lineitem JOIN q16_part ON l_partkey = p_partkey
        WHERE p_brand <> 'Brand#3' AND p_type NOT LIKE 'PROMO%'
          AND p_size IN (1, 9, 14, 19, 23, 36, 45, 49)
          AND l_suppkey NOT IN (
            SELECT s_suppkey FROM q16_supplier WHERE s_name LIKE '%7')
        GROUP BY p_brand, p_type, p_size
        ORDER BY supplier_cnt DESC, p_brand, p_type, p_size
    """)


_Q16_SQL = """
SELECT p_brand, p_type, p_size, count(DISTINCT l_suppkey) AS supplier_cnt
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE p_brand <> 'Brand#3' AND p_type NOT LIKE 'PROMO%'
  AND p_size IN (1, 9, 14, 19, 23, 36, 45, 49)
  AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_name LIKE '%7')
GROUP BY p_brand, p_type, p_size
ORDER BY supplier_cnt DESC, p_brand, p_type, p_size
"""


def q19_disjunctive_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q19-shaped: revenue under a three-branch disjunctive
    (brand × size-range × quantity-range) predicate spanning both join
    sides. The shape Catalyst must get right: the join itself stays a
    plain l_partkey equi-join (part broadcasts), the OR-of-ANDs is
    evaluated post-join, and the derivable common conjuncts
    (p_size >= 1, l_quantity <= 30) are pushed to the respective scans
    as PushedFilters. Revenue uses the exact integer-cents pattern; the
    exported double is one shared IEEE division of that integer."""
    li = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part")
    branch = (
        (F.col("p_brand") == "Brand#5")
        & F.col("p_size").between(1, 15)
        & F.col("l_quantity").between(1, 11)
    ) | (
        (F.col("p_brand") == "Brand#11")
        & F.col("p_size").between(1, 25)
        & F.col("l_quantity").between(10, 20)
    ) | (
        (F.col("p_brand") == "Brand#17")
        & F.col("p_size").between(1, 35)
        & F.col("l_quantity").between(20, 30)
    )
    return (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .where(branch)
        .agg(
            F.sum(
                F.round(F.col("l_extendedprice") * 100).cast("long")
                * (100 - F.round(F.col("l_discount") * 100).cast("long"))
            ).alias("revenue_c4"),
            F.count(F.lit(1)).alias("n_lines"),
        )
        .withColumn("revenue", F.col("revenue_c4") / F.lit(10000.0))
        .select("revenue_c4", "revenue", "n_lines")
    )


_Q19_SQL = """
SELECT CAST(sum(CAST(round(l_extendedprice*100) AS BIGINT)
             * (100 - CAST(round(l_discount*100) AS BIGINT))) AS BIGINT)
         AS revenue_c4,
       CAST(sum(CAST(round(l_extendedprice*100) AS BIGINT)
             * (100 - CAST(round(l_discount*100) AS BIGINT))) AS BIGINT)
         / 10000.0 AS revenue,
       count(*) AS n_lines
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE (p_brand = 'Brand#5'  AND p_size BETWEEN 1 AND 15
       AND l_quantity BETWEEN 1 AND 11)
   OR (p_brand = 'Brand#11' AND p_size BETWEEN 1 AND 25
       AND l_quantity BETWEEN 10 AND 20)
   OR (p_brand = 'Brand#17' AND p_size BETWEEN 1 AND 35
       AND l_quantity BETWEEN 20 AND 30)
"""


def q21_waiting_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q21-shaped: suppliers who were the SOLE late shipper in
    finalized multi-supplier orders — the hardest decorrelation shape in
    TPC-H: one correlated EXISTS (another supplier exists on the order)
    AND one correlated NOT EXISTS (no OTHER supplier was late). This
    corpus has no commit/receipt dates, so "late" = shipped more than
    90 days after the order date; the NOT EXISTS subquery re-joins
    orders internally (o3 = the same unique order) so its correlation is
    a pure l_orderkey equi — Catalyst rewrites the pair into a LEFT SEMI
    + LEFT ANTI join chain on l_orderkey, no per-row re-scan. At 100 TB
    all three lineitem legs shuffle on the same l_orderkey key and AQE
    can reuse the exchange."""
    load_table(spark, sf_dir, "supplier").createOrReplaceTempView("q21_supplier")
    load_table(spark, sf_dir, "orders").createOrReplaceTempView("q21_orders")
    load_table(spark, sf_dir, "lineitem").createOrReplaceTempView("q21_lineitem")
    return spark.sql("""
        SELECT s_name, count(*) AS numwait
        FROM q21_supplier
        JOIN q21_lineitem l1 ON s_suppkey = l1.l_suppkey
        JOIN q21_orders ON o_orderkey = l1.l_orderkey
        WHERE o_orderstatus = 'F'
          AND l1.l_shipdate > o_orderdate + INTERVAL 90 DAYS
          AND EXISTS (
            SELECT 1 FROM q21_lineitem l2
            WHERE l2.l_orderkey = l1.l_orderkey
              AND l2.l_suppkey <> l1.l_suppkey)
          AND NOT EXISTS (
            SELECT 1 FROM q21_lineitem l3
            JOIN q21_orders o3 ON l3.l_orderkey = o3.o_orderkey
            WHERE l3.l_orderkey = l1.l_orderkey
              AND l3.l_suppkey <> l1.l_suppkey
              AND l3.l_shipdate > o3.o_orderdate + INTERVAL 90 DAYS)
        GROUP BY s_name
        ORDER BY numwait DESC, s_name
        LIMIT 20
    """)


_Q21_SQL = """
SELECT s_name, count(*) AS numwait
FROM supplier
JOIN lineitem l1 ON s_suppkey = l1.l_suppkey
JOIN orders ON o_orderkey = l1.l_orderkey
WHERE o_orderstatus = 'F'
  AND l1.l_shipdate > o_orderdate + INTERVAL 90 DAY
  AND EXISTS (SELECT 1 FROM lineitem l2
              WHERE l2.l_orderkey = l1.l_orderkey
                AND l2.l_suppkey <> l1.l_suppkey)
  AND NOT EXISTS (SELECT 1 FROM lineitem l3
                  JOIN orders o3 ON l3.l_orderkey = o3.o_orderkey
                  WHERE l3.l_orderkey = l1.l_orderkey
                    AND l3.l_suppkey <> l1.l_suppkey
                    AND l3.l_shipdate > o3.o_orderdate + INTERVAL 90 DAY)
GROUP BY s_name
ORDER BY numwait DESC, s_name
LIMIT 20
"""


def q22_idle_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q22-shaped: high-balance customers with no recent orders,
    grouped by a derived code (c_custkey % 7 stands in for the phone
    country code; every customer here has SOME order, so the anti-join
    is on orders after a cutoff). Two classic shapes in one plan: the
    "above average" scalar subquery — evaluated tie-free as
    cents(acctbal) * n_pos > sum_cents, all-integer (the q17/j3
    boundary discipline: a float avg comparison can flip on engines'
    partial-sum order) — and a correlated NOT EXISTS that Catalyst
    rewrites to a LEFT ANTI join on c_custkey with the date predicate
    pushed to the orders scan."""
    load_table(spark, sf_dir, "customer").createOrReplaceTempView("q22_customer")
    load_table(spark, sf_dir, "orders").createOrReplaceTempView("q22_orders")
    return spark.sql("""
        WITH pos AS (
          SELECT CAST(sum(CAST(round(c_acctbal*100) AS BIGINT)) AS BIGINT)
                   AS sum_cents,
                 count(*) AS n_pos
          FROM q22_customer WHERE c_acctbal > 0.0
        )
        SELECT c_custkey % 7 AS cc, count(*) AS n_cust,
               CAST(sum(CAST(round(c_acctbal*100) AS BIGINT)) AS BIGINT)
                 AS bal_cents,
               CAST(sum(CAST(round(c_acctbal*100) AS BIGINT)) AS BIGINT)
                 / CAST(100 AS DOUBLE) AS total_bal
        FROM q22_customer
        WHERE CAST(round(c_acctbal*100) AS BIGINT) * (SELECT n_pos FROM pos)
                > (SELECT sum_cents FROM pos)
          AND NOT EXISTS (
            SELECT 1 FROM q22_orders WHERE o_custkey = c_custkey
              AND o_orderdate >= TIMESTAMP '2000-07-01')
        GROUP BY c_custkey % 7 ORDER BY cc
    """)


_Q22_SQL = """
WITH pos AS (
  SELECT CAST(sum(CAST(round(c_acctbal*100) AS BIGINT)) AS BIGINT) AS sum_cents,
         count(*) AS n_pos
  FROM customer WHERE c_acctbal > 0.0
)
SELECT c_custkey % 7 AS cc, count(*) AS n_cust,
       CAST(sum(CAST(round(c_acctbal*100) AS BIGINT)) AS BIGINT) AS bal_cents,
       CAST(sum(CAST(round(c_acctbal*100) AS BIGINT)) AS BIGINT) / 100.0
         AS total_bal
FROM customer
WHERE CAST(round(c_acctbal*100) AS BIGINT) * (SELECT n_pos FROM pos)
        > (SELECT sum_cents FROM pos)
  AND NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey
                  AND o_orderdate >= TIMESTAMP '2000-07-01')
GROUP BY 1 ORDER BY cc
"""


def j13_lateral_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated LATERAL join — the two most recent orders per BUILDING
    customer via a per-row LATERAL subquery with ORDER BY … LIMIT 2.
    The join-surface element the o5 window formulation doesn't cover:
    the user WRITES a per-outer-row subquery, and Catalyst must
    decorrelate it into a rank window + equi join (plan-pinned: one
    Window, zero nested loops) instead of executing it per customer —
    the difference between one shuffle and |customers| query
    re-executions at 100 TB. The (date DESC, orderkey) sort makes the
    LIMIT boundary engine-deterministic."""
    load_table(spark, sf_dir, "customer").createOrReplaceTempView("j13_customer")
    load_table(spark, sf_dir, "orders").createOrReplaceTempView("j13_orders")
    return spark.sql("""
        SELECT c_custkey, t.o_orderkey,
               date_format(t.o_orderdate, 'yyyy-MM-dd') AS o_orderdate_s,
               t.o_totalprice
        FROM j13_customer, LATERAL (
          SELECT o_orderkey, o_orderdate, o_totalprice FROM j13_orders
          WHERE o_custkey = c_custkey
          ORDER BY o_orderdate DESC, o_orderkey LIMIT 2) t
        WHERE c_mktsegment = 'BUILDING'
        ORDER BY c_custkey, o_orderkey
    """)


_J13_LATERAL_SQL = """
SELECT c_custkey, t.o_orderkey,
       strftime(t.o_orderdate, '%Y-%m-%d') AS o_orderdate_s,
       t.o_totalprice
FROM customer, LATERAL (
  SELECT o_orderkey, o_orderdate, o_totalprice FROM orders
  WHERE o_custkey = c_custkey
  ORDER BY o_orderdate DESC, o_orderkey LIMIT 2) t
WHERE c_mktsegment = 'BUILDING'
ORDER BY c_custkey, o_orderkey
"""


def q6_forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q6-shaped: the pure scan-side query — one year of lineitem,
    a discount band and a quantity cap, no join at all. The date and
    quantity predicates are native column comparisons and reach the
    parquet scan as PushedFilters (the plan test pins the date filter);
    the discount band is an EXPRESSION filter — round(disc*100) in
    [5,7] — which deliberately does NOT push: exact-cents membership is
    chosen over scan pushdown so the band edge can't flip on float
    representation (0.07*100 = 7.000000000000001). The row-group
    pruning the band would buy is negligible next to the date
    predicate's, and the aggregate stays a single combinable partial —
    at 100 TB this is the "is your scan path clean" canary."""
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.where(
            (F.col("l_shipdate") >= "1997-01-01")
            & (F.col("l_shipdate") < "1998-01-01")
            & F.round(F.col("l_discount") * 100).cast("long").between(5, 7)
            & (F.col("l_quantity") < 24)
        )
        .agg(
            F.sum(
                F.round(F.col("l_extendedprice") * 100).cast("long")
                * F.round(F.col("l_discount") * 100).cast("long")
            ).alias("revenue_c4"),
            F.count(F.lit(1)).alias("n_lines"),
        )
        .withColumn("revenue", F.col("revenue_c4") / F.lit(10000.0))
        .select("revenue_c4", "revenue", "n_lines")
    )


_Q6_SQL = """
SELECT CAST(sum(CAST(round(l_extendedprice*100) AS BIGINT)
             * CAST(round(l_discount*100) AS BIGINT)) AS BIGINT) AS revenue_c4,
       CAST(sum(CAST(round(l_extendedprice*100) AS BIGINT)
             * CAST(round(l_discount*100) AS BIGINT)) AS BIGINT) / 10000.0
         AS revenue,
       count(*) AS n_lines
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1997-01-01'
  AND l_shipdate < TIMESTAMP '1998-01-01'
  AND CAST(round(l_discount*100) AS BIGINT) BETWEEN 5 AND 7
  AND l_quantity < 24
"""


def q8_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q8-shaped: NATION_1's supplier market share, by year, of
    STANDARD-part volume sold to AFRICA-region customers — the widest
    join in the suite (lineitem + orders fact-fact shuffle, then part /
    customer / supplier / nation×2 / region all broadcast; nation plays
    two roles). The share is a conditional-sum ratio DERIVED from two
    exact integer volumes (one IEEE division per year, bit-identical
    across engines); 100·volume_c4 stays far under 2^53."""
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders").where(
        F.col("o_orderdate").between("1995-01-01", "1996-12-31 23:59:59")
    )
    p = load_table(spark, sf_dir, "part").where(F.col("p_type") == "STANDARD")
    c = load_table(spark, sf_dir, "customer")
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region").where(F.col("r_name") == "AFRICA")
    n1 = n.select(
        F.col("n_nationkey").alias("cn_key"), F.col("n_regionkey").alias("cn_region")
    )
    n2 = n.select(
        F.col("n_nationkey").alias("sn_key"), F.col("n_name").alias("supp_nation")
    )
    vol = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(n1), F.col("c_nationkey") == F.col("cn_key"))
        .join(F.broadcast(r), F.col("cn_region") == F.col("r_regionkey"))
        .join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .join(F.broadcast(n2), F.col("s_nationkey") == F.col("sn_key"))
        .select(
            F.year("o_orderdate").alias("o_year"),
            (
                F.round(F.col("l_extendedprice") * 100).cast("long")
                * (100 - F.round(F.col("l_discount") * 100).cast("long"))
            ).alias("volume_c4"),
            "supp_nation",
        )
    )
    nation_vol = F.sum(
        F.when(F.col("supp_nation") == "NATION_1", F.col("volume_c4")).otherwise(
            F.lit(0)
        )
    )
    return (
        vol.groupBy("o_year")
        .agg(
            nation_vol.alias("nation_c4"),
            F.sum("volume_c4").alias("total_c4"),
        )
        .withColumn("mkt_share", F.col("nation_c4") / F.col("total_c4"))
        .orderBy("o_year")
    )


_Q8_SQL = """
WITH vol AS (
  SELECT CAST(year(o_orderdate) AS INTEGER) AS o_year,
         CAST(round(l_extendedprice*100) AS BIGINT)
           * (100 - CAST(round(l_discount*100) AS BIGINT)) AS volume_c4,
         n2.n_name AS supp_nation
  FROM lineitem
  JOIN orders   ON l_orderkey = o_orderkey
  JOIN part     ON l_partkey = p_partkey
  JOIN customer ON o_custkey = c_custkey
  JOIN nation n1 ON c_nationkey = n1.n_nationkey
  JOIN region   ON n1.n_regionkey = r_regionkey
  JOIN supplier ON l_suppkey = s_suppkey
  JOIN nation n2 ON s_nationkey = n2.n_nationkey
  WHERE r_name = 'AFRICA'
    AND p_type = 'STANDARD'
    AND o_orderdate BETWEEN TIMESTAMP '1995-01-01'
                        AND TIMESTAMP '1996-12-31 23:59:59'
)
SELECT o_year,
       CAST(sum(CASE WHEN supp_nation = 'NATION_1' THEN volume_c4 ELSE 0 END)
            AS BIGINT) AS nation_c4,
       CAST(sum(volume_c4) AS BIGINT) AS total_c4,
       CAST(sum(CASE WHEN supp_nation = 'NATION_1' THEN volume_c4 ELSE 0 END)
            AS BIGINT) / CAST(sum(volume_c4) AS BIGINT) AS mkt_share
FROM vol GROUP BY o_year ORDER BY o_year
"""


def q12_late_shipment_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q12-shaped: conditional-aggregate classification of late
    shipments (this corpus has no ship mode or commit/receipt dates, so
    the class key is l_linestatus and "late" = shipped >90 days after
    the order date — a join-side predicate, not scan-pushable, exactly
    like the original's receipt-vs-commit comparison). One fact-fact
    equi-join, then CASE-WHEN sums — both conditional counts come out
    of a single combinable aggregate pass, no second scan."""
    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem").where(
        (F.col("l_shipdate") >= "1997-01-01") & (F.col("l_shipdate") < "1998-01-01")
    )
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        o.join(li, o.o_orderkey == li.l_orderkey)
        .where(F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 90 DAYS"))
        .groupBy(F.col("l_linestatus").alias("ship_class"))
        .agg(
            F.sum(F.when(high, 1).otherwise(0)).alias("high_line_count"),
            F.sum(F.when(~high, 1).otherwise(0)).alias("low_line_count"),
        )
        .orderBy("ship_class")
    )


_Q12_SQL = """
SELECT l_linestatus AS ship_class,
       CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT','2-HIGH')
                     THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
       CAST(sum(CASE WHEN o_orderpriority NOT IN ('1-URGENT','2-HIGH')
                     THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
FROM orders JOIN lineitem ON o_orderkey = l_orderkey
WHERE l_shipdate > o_orderdate + INTERVAL 90 DAY
  AND l_shipdate >= TIMESTAMP '1997-01-01'
  AND l_shipdate < TIMESTAMP '1998-01-01'
GROUP BY l_linestatus ORDER BY l_linestatus
"""


def q14_promo_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q14-shaped: promo-part revenue share for one month — the
    CASE-WHEN-inside-ratio aggregate. One broadcast part join over a
    month of lineitem (date pushed to the scan); both the promo and
    total volumes are exact integers and the percentage is
    (100.0 · promo) / total evaluated left-associatively on both
    engines (100·promo_c4 < 2^53, so the product is exact and the
    single division is bit-identical)."""
    li = load_table(spark, sf_dir, "lineitem").where(
        (F.col("l_shipdate") >= "1997-09-01") & (F.col("l_shipdate") < "1997-10-01")
    )
    p = load_table(spark, sf_dir, "part")
    vol = (
        F.round(F.col("l_extendedprice") * 100).cast("long")
        * (100 - F.round(F.col("l_discount") * 100).cast("long"))
    )
    promo = F.sum(
        F.when(F.col("p_type").startswith("PROMO"), vol).otherwise(F.lit(0))
    )
    return (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .agg(promo.alias("promo_c4"), F.sum(vol).alias("total_c4"))
        .withColumn(
            "promo_revenue_pct",
            F.lit(100.0) * F.col("promo_c4") / F.col("total_c4"),
        )
        .select("promo_c4", "total_c4", "promo_revenue_pct")
    )


_Q14_SQL = """
SELECT CAST(sum(CASE WHEN p_type LIKE 'PROMO%' THEN
              CAST(round(l_extendedprice*100) AS BIGINT)
              * (100 - CAST(round(l_discount*100) AS BIGINT))
            ELSE 0 END) AS BIGINT) AS promo_c4,
       CAST(sum(CAST(round(l_extendedprice*100) AS BIGINT)
              * (100 - CAST(round(l_discount*100) AS BIGINT))) AS BIGINT)
         AS total_c4,
       100.0 * CAST(sum(CASE WHEN p_type LIKE 'PROMO%' THEN
              CAST(round(l_extendedprice*100) AS BIGINT)
              * (100 - CAST(round(l_discount*100) AS BIGINT))
            ELSE 0 END) AS BIGINT)
         / CAST(sum(CAST(round(l_extendedprice*100) AS BIGINT)
              * (100 - CAST(round(l_discount*100) AS BIGINT))) AS BIGINT)
         AS promo_revenue_pct
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE l_shipdate >= TIMESTAMP '1997-09-01'
  AND l_shipdate < TIMESTAMP '1997-10-01'
"""


# The corpus ships no partsupp table, so the four partsupp-dependent
# TPC-H shapes (Q2/Q9/Q11/Q20) run against a DERIVED part-supplier
# dimension: the distinct (l_partkey, l_suppkey) association observed in
# lineitem, with availqty/supplycost synthesized by integer-modulo hash
# math — deterministic, engine-identical (pure BIGINT arithmetic), and
# exactly the derived-dimension pattern the SCD2/snapshot queries use.
# supplycost is carried in integer CENTS so every downstream aggregate
# stays exact.
_PS_CTE = """ps AS (
  SELECT l_partkey AS ps_partkey, l_suppkey AS ps_suppkey,
         1 + (l_partkey * 7 + l_suppkey * 11) % 9999 AS ps_availqty,
         10000 + (l_partkey * 13 + l_suppkey * 17) % 90000
           AS ps_supplycost_c
  FROM (SELECT DISTINCT l_partkey, l_suppkey FROM {li}))"""


def _register_tpch_views(spark: SparkSession, sf_dir: str, tag: str) -> None:
    for t in ("part", "supplier", "lineitem", "orders", "nation", "region"):
        load_table(spark, sf_dir, t).createOrReplaceTempView(f"{tag}_{t}")


def q2_min_cost_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q2-shaped: the region's minimum-cost supplier for each
    qualifying part — the harder correlated-scalar-subquery shape (the
    subquery re-joins supplier/nation/region under the correlation).
    Catalyst must decorrelate the MIN into one per-part aggregate over
    the region-filtered ps join and equi-join it back on
    (p_partkey, supplycost) — the supplycost equality key is an exact
    integer (cents), so "equals the min" cannot flip on float low bits.
    The suffix LIKE ('%DARD') is deliberately non-prefix: it cannot push
    as StartsWith, exercising the residual-filter path."""
    _register_tpch_views(spark, sf_dir, "q2")
    ps = _PS_CTE.format(li="q2_lineitem")
    return spark.sql(f"""
        WITH {ps}
        SELECT s_acctbal, s_name, n_name, p_partkey, p_type,
               ps_supplycost_c
        FROM q2_part, q2_supplier, ps, q2_nation, q2_region
        WHERE p_partkey = ps_partkey AND s_suppkey = ps_suppkey
          AND p_size = 15 AND p_type LIKE '%DARD'
          AND s_nationkey = n_nationkey AND n_regionkey = r_regionkey
          AND r_name = 'ASIA'
          AND ps_supplycost_c = (
            SELECT min(ps2.ps_supplycost_c)
            FROM ps ps2, q2_supplier s2, q2_nation n2, q2_region r2
            WHERE ps2.ps_partkey = p_partkey
              AND s2.s_suppkey = ps2.ps_suppkey
              AND s2.s_nationkey = n2.n_nationkey
              AND n2.n_regionkey = r2.r_regionkey
              AND r2.r_name = 'ASIA')
        ORDER BY s_acctbal DESC, n_name, s_name, p_partkey
        LIMIT 100
    """)


_Q2_SQL = (
    "WITH "
    + _PS_CTE.format(li="lineitem")
    + """
SELECT s_acctbal, s_name, n_name, p_partkey, p_type, ps_supplycost_c
FROM part, supplier, ps, nation, region
WHERE p_partkey = ps_partkey AND s_suppkey = ps_suppkey
  AND p_size = 15 AND p_type LIKE '%DARD'
  AND s_nationkey = n_nationkey AND n_regionkey = r_regionkey
  AND r_name = 'ASIA'
  AND ps_supplycost_c = (
    SELECT min(ps2.ps_supplycost_c)
    FROM ps ps2, supplier s2, nation n2, region r2
    WHERE ps2.ps_partkey = p_partkey AND s2.s_suppkey = ps2.ps_suppkey
      AND s2.s_nationkey = n2.n_nationkey AND n2.n_regionkey = r2.r_regionkey
      AND r2.r_name = 'ASIA')
ORDER BY s_acctbal DESC, n_name, s_name, p_partkey
LIMIT 100
"""
)


def q9_product_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q9-shaped: profit (revenue − supply cost) per supplier
    nation per order year over one part type — the widest fact-side
    expression in the suite, entirely in exact integer c4 units
    (price_cents·(100−disc_cents) − cost_cents·qty·100; quantities are
    integer-valued). Join graph: lineitem ⋈ orders fact-fact shuffle,
    the derived ps association joined on the composite
    (l_partkey, l_suppkey) key, part/supplier/nation broadcast."""
    _register_tpch_views(spark, sf_dir, "q9")
    ps = _PS_CTE.format(li="q9_lineitem")
    return spark.sql(f"""
        WITH {ps}
        SELECT n_name AS nation, CAST(year(o_orderdate) AS INTEGER) AS o_year,
               CAST(sum(CAST(round(l_extendedprice*100) AS BIGINT)
                        * (100 - CAST(round(l_discount*100) AS BIGINT))
                        - ps_supplycost_c
                          * CAST(round(l_quantity) AS BIGINT) * 100)
                    AS BIGINT) AS profit_c4,
               count(*) AS n_lines
        FROM q9_lineitem
        JOIN ps ON l_partkey = ps_partkey AND l_suppkey = ps_suppkey
        JOIN q9_part ON l_partkey = p_partkey
        JOIN q9_supplier ON l_suppkey = s_suppkey
        JOIN q9_nation ON s_nationkey = n_nationkey
        JOIN q9_orders ON l_orderkey = o_orderkey
        WHERE p_type = 'PROMO'
        GROUP BY n_name, year(o_orderdate)
        ORDER BY nation, o_year DESC
    """)


_Q9_SQL = (
    "WITH "
    + _PS_CTE.format(li="lineitem")
    + """
SELECT n_name AS nation, CAST(year(o_orderdate) AS INTEGER) AS o_year,
       CAST(sum(CAST(round(l_extendedprice*100) AS BIGINT)
                * (100 - CAST(round(l_discount*100) AS BIGINT))
                - ps_supplycost_c * CAST(round(l_quantity) AS BIGINT) * 100)
            AS BIGINT) AS profit_c4,
       count(*) AS n_lines
FROM lineitem
JOIN ps ON l_partkey = ps_partkey AND l_suppkey = ps_suppkey
JOIN part ON l_partkey = p_partkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation ON s_nationkey = n_nationkey
JOIN orders ON l_orderkey = o_orderkey
WHERE p_type = 'PROMO'
GROUP BY 1, 2 ORDER BY nation, o_year DESC
"""
)


def q11_important_stock(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q11-shaped: parts whose one-nation stock value exceeds a
    fixed fraction of that nation's total stock value — the
    grouped-HAVING-vs-global-scalar-subquery shape. The fraction test is
    the exact-integer clearing sum_part · 2000 > total (⟺ share >
    1/2000): both sides BIGINT, so the threshold cannot flip on an
    engine's float low bits. Catalyst evaluates the scalar subquery as
    one tiny separate job over the same filtered frame."""
    _register_tpch_views(spark, sf_dir, "q11")
    ps = _PS_CTE.format(li="q11_lineitem")
    return spark.sql(f"""
        WITH {ps}, filt AS (
          SELECT ps_partkey, ps_supplycost_c * ps_availqty AS v
          FROM ps JOIN q11_supplier ON ps_suppkey = s_suppkey
          JOIN q11_nation ON s_nationkey = n_nationkey
          WHERE n_name = 'NATION_3'
        )
        SELECT ps_partkey, CAST(sum(v) AS BIGINT) AS value_c
        FROM filt GROUP BY ps_partkey
        HAVING CAST(sum(v) AS BIGINT) * 2000 > (SELECT CAST(sum(v) AS BIGINT) FROM filt)
        ORDER BY value_c DESC, ps_partkey
    """)


_Q11_SQL = (
    "WITH "
    + _PS_CTE.format(li="lineitem")
    + """, filt AS (
  SELECT ps_partkey, ps_supplycost_c * ps_availqty AS v
  FROM ps JOIN supplier ON ps_suppkey = s_suppkey
  JOIN nation ON s_nationkey = n_nationkey
  WHERE n_name = 'NATION_3'
)
SELECT ps_partkey, CAST(sum(v) AS BIGINT) AS value_c
FROM filt GROUP BY ps_partkey
HAVING CAST(sum(v) AS BIGINT) * 2000 > (SELECT CAST(sum(v) AS BIGINT) FROM filt)
ORDER BY value_c DESC, ps_partkey
"""
)


def q20_surplus_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q20-shaped: suppliers in one nation holding surplus stock of
    small-name parts — the doubly-nested subquery shape: an IN over ps
    rows that themselves pass (a) an IN over a name-prefix part filter
    and (b) a CORRELATED scalar aggregate (half-year shipped quantity
    for that exact (part, supplier) pair). The surplus test is the
    exact-integer clearing 2·availqty > sum_qty. A (part, supplier)
    pair with no shipments in the window yields a NULL scalar — the
    comparison is then NULL and the row drops on BOTH engines (the
    original Q20's semantics, deliberately not coalesced away).
    Catalyst must flatten the whole nest into semi-join + aggregate
    join-back chains — no per-row re-scan."""
    _register_tpch_views(spark, sf_dir, "q20")
    ps = _PS_CTE.format(li="q20_lineitem")
    return spark.sql(f"""
        WITH {ps}
        SELECT s_name, s_acctbal
        FROM q20_supplier JOIN q20_nation ON s_nationkey = n_nationkey
        WHERE n_name = 'NATION_2'
          AND s_suppkey IN (
            SELECT ps_suppkey FROM ps
            WHERE ps_partkey IN (
                SELECT p_partkey FROM q20_part WHERE p_name LIKE 'small%')
              AND 2 * ps_availqty > (
                SELECT CAST(sum(CAST(round(l_quantity) AS BIGINT)) AS BIGINT)
                FROM q20_lineitem
                WHERE l_partkey = ps_partkey AND l_suppkey = ps_suppkey
                  AND l_shipdate >= TIMESTAMP '1997-01-01'
                  AND l_shipdate < TIMESTAMP '1998-01-01'))
        ORDER BY s_name
    """)


_Q20_SQL = (
    "WITH "
    + _PS_CTE.format(li="lineitem")
    + """
SELECT s_name, s_acctbal
FROM supplier JOIN nation ON s_nationkey = n_nationkey
WHERE n_name = 'NATION_2'
  AND s_suppkey IN (
    SELECT ps_suppkey FROM ps
    WHERE ps_partkey IN (SELECT p_partkey FROM part
                         WHERE p_name LIKE 'small%')
      AND 2 * ps_availqty > (
        SELECT CAST(sum(CAST(round(l_quantity) AS BIGINT)) AS BIGINT)
        FROM lineitem
        WHERE l_partkey = ps_partkey AND l_suppkey = ps_suppkey
          AND l_shipdate >= TIMESTAMP '1997-01-01'
          AND l_shipdate < TIMESTAMP '1998-01-01'))
ORDER BY s_name
"""
)


def j3_group_agg_enrichment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J3 — group aggregate joined back onto the fact table as enrichment
    (per-category centroid onto every row, main-script1.ipynb:990 c34
    shape): per-status avg price onto orders, flag above-average orders.

    The above-average predicate is evaluated as
    ``price * n_group > round(sum, 2)`` rather than ``price > avg``:
    the raw double avg differs across engines in its low bits (different
    partial-sum orders), so a price sitting exactly at the group mean
    could flip the flag; the rounded sum is tie-free for 2-decimal
    price data and the integer-scaled product is exact in double, so
    the comparison is engine-deterministic (same boundary up to
    0.005/n — inside the zone the raw comparison itself could not
    resolve deterministically)."""
    o = load_table(spark, sf_dir, "orders")
    stats_by_status = o.groupBy("o_orderstatus").agg(
        F.round(F.sum("o_totalprice"), 2).alias("sum_price"),
        F.count(F.lit(1)).alias("n_orders"),
    )
    enriched = o.join(F.broadcast(stats_by_status), "o_orderstatus", "left")
    return (
        enriched.withColumn(
            "above_avg",
            F.col("o_totalprice") * F.col("n_orders") > F.col("sum_price"),
        )
        .groupBy("o_orderstatus", "above_avg")
        .agg(F.count(F.lit(1)).alias("n"))
    )


_J3_SQL = """
WITH a AS (SELECT o_orderstatus, round(sum(o_totalprice), 2) AS sum_price,
                  count(*) AS n_orders
           FROM orders GROUP BY o_orderstatus)
SELECT o.o_orderstatus, o.o_totalprice * a.n_orders > a.sum_price AS above_avg,
       count(*) AS n
FROM orders o LEFT JOIN a ON o.o_orderstatus = a.o_orderstatus
GROUP BY 1, 2
"""


# ---------------------------------------------------------------------------
# windows / sorts / top-k (SURVEY §2.5, §2.6)
# ---------------------------------------------------------------------------

def w1_w2_proportion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W1/W2 — windowed partition total + proportion-of-partition."""
    li = load_table(spark, sf_dir, "lineitem")
    counts = li.groupBy("l_returnflag", "l_linestatus").agg(
        F.count(F.lit(1)).alias("n")
    )
    w = Window.partitionBy("l_returnflag")
    return counts.select(
        "l_returnflag",
        "l_linestatus",
        "n",
        F.round(F.col("n") / F.sum("n").over(w) * 100, 4).alias("pct"),
    )


_W1_SQL = """
WITH counts AS (
  SELECT l_returnflag, l_linestatus, count(*) AS n
  FROM lineitem GROUP BY l_returnflag, l_linestatus
)
SELECT l_returnflag, l_linestatus, n,
       round(100.0 * n / sum(n) OVER (PARTITION BY l_returnflag), 4) AS pct
FROM counts
"""


def w3_cumsum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W3 — cumulative sum along ordered categories within a partition."""
    li = load_table(spark, sf_dir, "lineitem")
    counts = li.groupBy("l_returnflag", "l_linestatus").agg(
        F.count(F.lit(1)).alias("n")
    )
    w = (
        Window.partitionBy("l_returnflag")
        .orderBy("l_linestatus")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return counts.select(
        "l_returnflag", "l_linestatus", F.sum("n").over(w).alias("cum_n")
    )


_W3_SQL = """
WITH counts AS (
  SELECT l_returnflag, l_linestatus, count(*) AS n
  FROM lineitem GROUP BY l_returnflag, l_linestatus
)
SELECT l_returnflag, l_linestatus,
       CAST(sum(n) OVER (PARTITION BY l_returnflag ORDER BY l_linestatus
                         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
            AS BIGINT) AS cum_n
FROM counts
"""


def w5_dense_numbering(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W5 — dense 0-based label numbering (lexicographic, SURVEY §4.3)."""
    o = load_table(spark, sf_dir, "orders")
    return topk.dense_label_numbering(
        o.select("o_orderpriority").distinct(), "o_orderpriority"
    )


_W5_SQL = """
SELECT o_orderpriority,
       dense_rank() OVER (ORDER BY o_orderpriority) - 1 AS etiqueta_numero
FROM (SELECT DISTINCT o_orderpriority FROM orders)
"""


def w6_islands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W6 — gaps & islands: consecutive same-event_type runs per user
    (ocr.py:47-59 _get_prediction_ranges semantics)."""
    e = load_table(spark, sf_dir, "events")
    return islands.consecutive_runs(e, "event_id", "event_type", ["user_id"])


_W6_SQL = """
WITH flagged AS (
  SELECT user_id, event_id, event_type,
         CASE WHEN lag(event_type) OVER w IS NULL
               OR lag(event_type) OVER w <> event_type THEN 1 ELSE 0 END AS new_run
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY event_id)
), islands AS (
  SELECT *, sum(new_run) OVER (PARTITION BY user_id ORDER BY event_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island
  FROM flagged
)
SELECT user_id, event_type, min(event_id) AS start, max(event_id) AS "end",
       count(*) AS run_len
FROM islands GROUP BY user_id, event_type, island
"""


def o5_topk_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O5 — top-3 events by value per user (window rank-limit pushdown)."""
    e = load_table(spark, sf_dir, "events")
    t = topk.top_k_per_group(
        e, "user_id", [F.col("value").desc(), F.col("event_id").asc()], k=3
    )
    return t.select("user_id", "event_id", "value", "rank")


_O5_SQL = """
SELECT user_id, event_id, value, rn AS rank FROM (
  SELECT user_id, event_id, value,
         row_number() OVER (PARTITION BY user_id ORDER BY value DESC, event_id) AS rn
  FROM events
) WHERE rn <= 3
"""


def u_set_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """U1/U2 — union-all of two slices + distinct."""
    c = load_table(spark, sf_dir, "customer")
    lo = c.where(F.col("c_acctbal") < 0).select("c_mktsegment")
    hi = c.where(F.col("c_acctbal") >= 0).select("c_mktsegment")
    return lo.unionByName(hi).distinct()


_U_SQL = """
SELECT DISTINCT c_mktsegment FROM (
  SELECT c_mktsegment FROM customer WHERE c_acctbal < 0
  UNION ALL
  SELECT c_mktsegment FROM customer WHERE c_acctbal >= 0
)
"""


def p_filters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P4-P7 — equality / range / IN-list predicates pushed to the scan."""
    o = load_table(spark, sf_dir, "orders")
    return (
        o.where(
            (F.col("o_totalprice") > 50000)
            & (F.col("o_totalprice") <= 200000)
            & F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
            & (F.col("o_orderstatus") != "P")
        )
        .groupBy("o_orderstatus")
        .agg(F.count(F.lit(1)).alias("n"))
    )


_P_SQL = """
SELECT o_orderstatus, count(*) AS n
FROM orders
WHERE o_totalprice > 50000 AND o_totalprice <= 200000
  AND o_orderpriority IN ('1-URGENT', '2-HIGH')
  AND o_orderstatus <> 'P'
GROUP BY o_orderstatus
"""


def pivot_categories(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A2 + pivot — groupBy(flag).pivot(status).count()
    (pivot_table at main-script1.ipynb:1141 c41)."""
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_returnflag")
        .pivot("l_linestatus", ["O", "F"])
        .agg(F.count(F.lit(1)))
        .withColumnRenamed("O", "n_open")
        .withColumnRenamed("F", "n_finished")
        .na.fill(0, ["n_open", "n_finished"])
    )


_PIVOT_SQL = """
SELECT l_returnflag,
       CAST(sum(CASE WHEN l_linestatus = 'O' THEN 1 ELSE 0 END) AS BIGINT) AS n_open,
       CAST(sum(CASE WHEN l_linestatus = 'F' THEN 1 ELSE 0 END) AS BIGINT) AS n_finished
FROM lineitem GROUP BY l_returnflag
"""


def unpivot_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wide→long melt (pandas .melt, the inverse of pivot_categories):
    per-status order metrics unpivoted to (status, metric, value) rows
    via the native unpivot/stack operator — a pure projection over the
    aggregated frame (the Expand node), no extra shuffle beyond the one
    agg."""
    o = load_table(spark, sf_dir, "orders")
    # avg derives from the tie-free rounded sum (decimal-tie rule)
    wide = o.groupBy("o_orderstatus").agg(
        F.round(F.sum("o_totalprice"), 2).alias("__sum"),
        F.round(F.max("o_totalprice"), 2).alias("max_price"),
        F.count(F.lit(1)).alias("__n"),
    ).select(
        "o_orderstatus",
        (F.col("__sum") / F.col("__n")).alias("avg_price"),
        "max_price",
        F.col("__n").cast("double").alias("n_orders"),
    )
    return wide.unpivot(
        ["o_orderstatus"],
        ["avg_price", "max_price", "n_orders"],
        "metric",
        "value",
    ).orderBy("o_orderstatus", "metric")


_UNPIVOT_SQL = """
WITH wide AS (
  SELECT o_orderstatus,
         round(sum(o_totalprice), 2) / count(*) AS avg_price,
         round(max(o_totalprice), 2) AS max_price,
         CAST(count(*) AS DOUBLE) AS n_orders
  FROM orders GROUP BY o_orderstatus
)
SELECT o_orderstatus, metric, value FROM (
  SELECT o_orderstatus, 'avg_price' AS metric, avg_price AS value FROM wide
  UNION ALL
  SELECT o_orderstatus, 'max_price', max_price FROM wide
  UNION ALL
  SELECT o_orderstatus, 'n_orders', n_orders FROM wide
) ORDER BY o_orderstatus, metric
"""


# ---------------------------------------------------------------------------
# vector operators (SURVEY §2.8, §2.3 J7-J9) over the embeddings table
# ---------------------------------------------------------------------------

def f1_f2_norms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F1/F2 — l2 norm + unit-norm invariant after normalisation."""
    e = load_table(spark, sf_dir, "embeddings")
    # two projections: materializing the normalized array once keeps the
    # norm-of-normalized expression from re-expanding the whole normalize
    # (nested HOF would be O(d^2) per row)
    staged = e.select(
        "vec_id",
        F.col("embedding").alias("v"),
        V.l2_normalize("embedding").alias("u"),
    )
    return staged.select(
        "vec_id",
        F.round(V.l2_norm("v"), 6).alias("norm"),
        F.round(V.l2_norm("u"), 6).alias("unit_norm"),
    )


_F1_SQL = """
SELECT vec_id,
       round(sqrt(list_reduce(list_transform(embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)),
             (a, b) -> a + b)), 6) AS norm,
       round(1.0, 6) AS unit_norm
FROM embeddings
"""


def j7_nearest_centroid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J7/W4/M12/A7 — vector-mean centroids per label, then nearest-centroid
    assignment (broadcast BLAS path), audited as counts + mean distance."""
    e = load_table(spark, sf_dir, "embeddings")
    cents = VA.group_vector_mean(e, "label", "embedding").withColumnRenamed(
        "label", "cluster_label"
    )
    assigned = NC.nearest_centroid(e, cents, vector_col="embedding")
    return assigned.groupBy("assigned_label").agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.avg("assigned_dist"), 6).alias("avg_dist"),
    )


_J7_SQL = """
WITH cent AS (
  SELECT label, list(m ORDER BY pos) AS centroid FROM (
    SELECT label, pos, avg(val) AS m FROM (
      SELECT label, CAST(unnest(embedding) AS DOUBLE) AS val,
             generate_subscripts(embedding, 1) AS pos
      FROM embeddings
    ) GROUP BY label, pos
  ) GROUP BY label
), dist AS (
  SELECT e.vec_id, c.label AS cl,
         sqrt(list_reduce(list_transform(list_zip(e.embedding, c.centroid),
              p -> (CAST(p[1] AS DOUBLE) - CAST(p[2] AS DOUBLE)) ** 2),
              (x, y) -> x + y)) AS d
  FROM embeddings e CROSS JOIN cent c
), best AS (
  SELECT vec_id, cl, d,
         row_number() OVER (PARTITION BY vec_id ORDER BY d, cl) AS rn
  FROM dist
)
SELECT cl AS assigned_label, count(*) AS n, round(avg(d), 6) AS avg_dist
FROM best WHERE rn = 1 GROUP BY cl
"""


def j9_distance_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J9 — all-pairs euclidean distance matrix over the label centroids
    (squareform(pdist(centroids)), main-script1.ipynb:1009 c35)."""
    e = load_table(spark, sf_dir, "embeddings")
    cents = VA.group_vector_mean(e, "label", "embedding")
    m = SIM.distance_matrix(cents, "label", "centroid")
    return m.select("id_a", "id_b", F.round("dist", 6).alias("dist"))


_J9_SQL = """
WITH cent AS (
  SELECT label, list(m ORDER BY pos) AS centroid FROM (
    SELECT label, pos, avg(val) AS m FROM (
      SELECT label, CAST(unnest(embedding) AS DOUBLE) AS val,
             generate_subscripts(embedding, 1) AS pos
      FROM embeddings
    ) GROUP BY label, pos
  ) GROUP BY label
)
SELECT a.label AS id_a, b.label AS id_b,
       round(sqrt(list_reduce(list_transform(list_zip(a.centroid, b.centroid),
             p -> (p[1] - p[2]) ** 2), (x, y) -> x + y)), 6) AS dist
FROM cent a CROSS JOIN cent b
"""


def j8_similarity_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J8/A11 — all-pairs cosine within each label group (upper triangle),
    bucketed at 0.8 (chunk_similarities.ipynb:447 c21 report shape)."""
    e = load_table(spark, sf_dir, "embeddings")
    pairs = SIM.intra_group_pairs_kernel(e, "label", "vec_id", "embedding")
    return SIM.similarity_buckets(pairs, "sim")


_J8_SQL = """
WITH pairs AS (
  SELECT list_reduce(list_transform(list_zip(a.embedding, b.embedding),
             p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)), (x, y) -> x + y)
         / (sqrt(list_reduce(list_transform(a.embedding, x -> CAST(x AS DOUBLE) ** 2), (x, y) -> x + y))
          * sqrt(list_reduce(list_transform(b.embedding, x -> CAST(x AS DOUBLE) ** 2), (x, y) -> x + y))) AS sim
  FROM embeddings a JOIN embeddings b
    ON a.label = b.label AND a.vec_id < b.vec_id
)
SELECT count(*) AS n_pairs,
       CAST(sum(CASE WHEN sim > 0.8 THEN 1 ELSE 0 END) AS BIGINT) AS n_above,
       CAST(count(*) - sum(CASE WHEN sim > 0.8 THEN 1 ELSE 0 END) AS BIGINT) AS n_below,
       round(100.0 * sum(CASE WHEN sim > 0.8 THEN 1 ELSE 0 END) / count(*), 2) AS pct_above
FROM pairs
"""


def ann_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN baseline — exact top-10 by cosine to the min-vec_id vector."""
    e = load_table(spark, sf_dir, "embeddings")
    q = e.orderBy("vec_id").select("embedding").first()[0]
    return ann.brute_force_topk(e, q)


_ANN_SQL = """
WITH q AS (SELECT embedding AS qv FROM embeddings ORDER BY vec_id LIMIT 1)
SELECT vec_id,
       round(list_reduce(list_transform(list_zip(embedding, qv),
             p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)), (x, y) -> x + y)
       / (sqrt(list_reduce(list_transform(embedding, x -> CAST(x AS DOUBLE) ** 2), (x, y) -> x + y))
        * sqrt(list_reduce(list_transform(qv, x -> CAST(x AS DOUBLE) ** 2), (x, y) -> x + y))), 6) AS score
FROM embeddings, q
ORDER BY score DESC, vec_id ASC
LIMIT 10
"""


def ann_topk_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch ANN — exact top-5 per query for a 5-vector query table
    (broadcast queries; corpus never shuffles; window rank-limit pushdown)."""
    e = load_table(spark, sf_dir, "embeddings")
    queries_df = (
        e.where(F.col("vec_id") < 5)
        .select(
            F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
        )
    )
    out = ann.brute_force_topk_batch(e, queries_df, k=5)
    return out.select("query_id", "vec_id", "score", "rank")


_ANN_BATCH_SQL = """
WITH q AS (
  SELECT vec_id AS query_id, embedding AS qv FROM embeddings WHERE vec_id < 5
), scored AS (
  SELECT q.query_id, e.vec_id,
         round(list_reduce(list_transform(list_zip(e.embedding, q.qv),
               p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)), (x, y) -> x + y)
         / (sqrt(list_reduce(list_transform(e.embedding, x -> CAST(x AS DOUBLE) ** 2), (x, y) -> x + y))
          * sqrt(list_reduce(list_transform(q.qv, x -> CAST(x AS DOUBLE) ** 2), (x, y) -> x + y))), 6) AS score
  FROM embeddings e CROSS JOIN q
)
SELECT query_id, vec_id, score, rank FROM (
  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY score DESC, vec_id) AS rank
  FROM scored
) WHERE rank <= 5
"""


def ann_matryoshka_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Matryoshka two-stage retrieval (MRL adaptive retrieval): 16-dim
    prefix-cosine shortlist of 50, exact 64-dim re-rank to top-10
    (ann.matryoshka_topk). The oracle replays both stages — shortlist
    boundary included — on rounded scores with id tie-breaks."""
    e = load_table(spark, sf_dir, "embeddings")
    q = e.orderBy("vec_id").select("embedding").first()[0]
    return ann.matryoshka_topk(e, q, rerank=50)


def _mrl_cos_sql(a: str, b: str) -> str:
    return (
        f"round(list_reduce(list_transform(list_zip({a}, {b}),"
        f" p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)), (x, y) -> x + y)"
        f" / (sqrt(list_reduce(list_transform({a}, x -> CAST(x AS DOUBLE) ** 2), (x, y) -> x + y))"
        f"  * sqrt(list_reduce(list_transform({b}, x -> CAST(x AS DOUBLE) ** 2), (x, y) -> x + y))), 6)"
    )


_ANN_MRL_SQL = f"""
WITH q AS (SELECT embedding AS qv FROM embeddings ORDER BY vec_id LIMIT 1),
pre AS (
  SELECT vec_id, embedding,
         {_mrl_cos_sql("list_slice(embedding, 1, 16)", "list_slice(qv, 1, 16)")} AS pre_score
  FROM embeddings, q
  ORDER BY pre_score DESC, vec_id ASC LIMIT 50
)
SELECT vec_id, {_mrl_cos_sql("embedding", "qv")} AS score, pre_score
FROM pre, q
ORDER BY score DESC, vec_id ASC LIMIT 10
"""


def mmr_diverse_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Diversified retrieval (Carbonell/Goldstein MMR, the re-rank every
    production search stack bolts onto plain top-k): exact cosine
    shortlist of 50 (distributed — the brute_force_topk TakeOrdered
    plan), greedy λ=0.5 MMR over the collected shortlist on the driver
    (bounded finish, 50 rows by contract). Oracle: the generator runs
    the SAME shared kernel (retrieval.mmr_select — 6dp-rounded cosines,
    min-id tie-breaks) over the DuckDB-derived shortlist and inlines
    only the (rank, vec_id) selection as literals; DuckDB independently
    recomputes every exported value (sim_q, max-prior-sim via the
    bounded k×k pair join, the derived mmr_score)."""
    from vector_search_optimization_spark.operators import retrieval as RET

    e = load_table(spark, sf_dir, "embeddings")
    q = e.orderBy("vec_id").select("embedding").first()[0]
    return RET.mmr_rerank(e, q)


def _mmr_sql() -> str:
    """Generated oracle for mmr_diverse_topk (at the oracle sf): DuckDB
    rebuilds the rounded-score shortlist (the proven ann_topk boundary
    discipline), the shared kernel picks the MMR selection, and the SQL
    recomputes sims/penalties/scores from the inlined (rank, id) pairs."""
    import duckdb

    from vector_search_optimization_spark.operators.retrieval import mmr_select

    cos_q = _mrl_cos_sql("embedding", "qv")
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW embeddings AS SELECT * FROM "
        f"'{_oracle_sf_dir()}/embeddings.parquet'"
    )
    short = con.execute(
        "WITH q AS (SELECT embedding AS qv FROM embeddings"
        " ORDER BY vec_id LIMIT 1)"
        f" SELECT vec_id, {cos_q} AS score FROM embeddings, q"
        " ORDER BY score DESC, vec_id ASC LIMIT 50"
    ).df()
    ids = [int(x) for x in short["vec_id"]]
    qvec = con.execute(
        "SELECT embedding FROM embeddings ORDER BY vec_id LIMIT 1"
    ).fetchone()[0]
    vmap = dict(
        con.execute(
            "SELECT vec_id, embedding FROM embeddings WHERE vec_id IN "
            f"({','.join(map(str, ids))})"
        ).fetchall()
    )
    con.close()
    picks = mmr_select(ids, [vmap[i] for i in ids], qvec)
    sel_vals = ", ".join(f"({r}, {i})" for r, i, _, _ in picks)
    return f"""
WITH q AS (SELECT embedding AS qv FROM embeddings ORDER BY vec_id LIMIT 1),
sel AS (SELECT * FROM (VALUES {sel_vals}) t(rank, vec_id)),
scored AS (
  SELECT s.rank, s.vec_id, {cos_q} AS sim_q, e.embedding
  FROM sel s JOIN embeddings e ON e.vec_id = s.vec_id, q
),
pairs AS (
  SELECT a.rank,
         max({_mrl_cos_sql("a.embedding", "b.embedding")}) AS max_prior_sim
  FROM scored a JOIN scored b ON b.rank < a.rank
  GROUP BY a.rank
)
SELECT s.rank, s.vec_id, s.sim_q, p.max_prior_sim,
       0.5 * s.sim_q - 0.5 * coalesce(p.max_prior_sim, 0.0) AS mmr_score
FROM scored s LEFT JOIN pairs p ON p.rank = s.rank
ORDER BY s.rank
"""


def _ivf_index_dir(spark: SparkSession, sf_dir: str) -> str:
    """Build-once cache of the materialized IVF index for a scale factor.

    The index (corpus partitionBy("cell") + centroid table) is the
    *build* half of the IVF lifecycle; queries probe it. Deterministic
    (seeded quantizer), keyed by sf dir and index params, so rebuilds
    across sessions produce identical layouts.
    """
    import tempfile

    key = os.path.abspath(sf_dir.rstrip("/"))
    # fingerprint the source data into the cache key: /root/testdata is
    # REGENERATED between rounds (CLAUDE.md), and a stale cached index
    # from a previous generation would silently diverge from the oracle,
    # which always recomputes from the CURRENT parquet
    src = os.path.join(key, "embeddings.parquet")
    try:
        st = os.stat(src)
        fp = f"{int(st.st_mtime)}_{st.st_size}"
    except OSError:
        fp = "nodata"
    path = os.path.join(
        tempfile.gettempdir(),
        f"spark_graft_ivf16v2_s42_{os.path.basename(key)}_{fp}",
    )
    if not os.path.exists(os.path.join(path, "centroids", "_SUCCESS")):
        e = load_table(spark, sf_dir, "embeddings")
        # vec_id-ordered training sample: the seeded quantizer is then a
        # pure function of the data, reproducible by the oracle generator
        cents = ann.train_ivf_centroids(e.orderBy("vec_id"), num_cells=16)
        ann.write_ivf_index(e, cents, path)
    return path


def prepare(spark: SparkSession, sf_dir: str) -> None:
    """Pre-build shared materialized artifacts (IVF index) so per-query
    timings measure probe cost, not index build. bench.py calls this in
    its untimed warmup; calling queries without it still works — they
    build lazily on first use."""
    _ivf_index_dir(spark, sf_dir)


def ann_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF approximate top-10 — the PROBE half of the index lifecycle:
    opens the materialized cell-partitioned corpus (built once per sf by
    _ivf_index_dir / prepare) and scans only the nprobe=4 nearest cells;
    the IN-list filter prunes partitions at the parquet source
    (PartitionFilters — pinned in tests/test_plan_shapes.py). Value
    oracle: the seeded quantizer is a pure function of the vec_id-ordered
    data, so _ivf_sql() re-derives identical centroids through the shared
    _lloyd_kmeans and DuckDB recomputes assignment (struct-min argmin),
    the probe filter, and the cosine top-10. The nprobe→recall curve is
    pytest-gated (tests/test_ann.py)."""
    path = _ivf_index_dir(spark, sf_dir)
    indexed, cents = ann.load_ivf_index(spark, path)
    e = load_table(spark, sf_dir, "embeddings")
    q = e.orderBy("vec_id").select("embedding").first()[0]
    return ann.ivf_topk(indexed, cents, q)


def _ivf_oracle_parts() -> tuple:
    """Shared derivation for the IVF-family generated oracles: re-run
    the seeded quantizer on the vec_id-ordered oracle-sf data (shared
    _lloyd_kmeans, float32 round-trip like the written index) and build
    the DuckDB argmin struct-list for cell assignment. Returns
    (pdf, X, cents, structs_sql)."""
    import duckdb

    from vector_search_optimization_spark.operators.ann import _lloyd_kmeans

    pdf = duckdb.sql(
        "SELECT vec_id, embedding FROM "
        f"'{_oracle_sf_dir()}/embeddings.parquet' ORDER BY vec_id"
    ).df()
    X = np.asarray(pdf["embedding"].tolist(), dtype=np.float64)
    centers = _lloyd_kmeans(X[:100_000], 16, seed=42, max_iter=20)
    # the index stores centroids as array<float>: round-trip through f32
    cents = np.asarray(
        [list(map(float, c)) for c in centers], dtype=np.float32
    ).astype(np.float64)

    def cell_dist(i: int) -> str:
        lits = ", ".join(f"{float(x)!r}" for x in cents[i])
        return (
            "list_reduce(list_transform(list_zip(embedding, "
            f"[{lits}]), p -> (CAST(p[1] AS DOUBLE) - p[2]) "
            "* (CAST(p[1] AS DOUBLE) - p[2])), (x, y) -> x + y)"
        )

    structs = ", ".join(
        "{'d': " + cell_dist(i) + f", 'c': {i}}}" for i in range(len(cents))
    )
    return pdf, X, cents, structs


def _ivf_sql() -> str:
    """Generated oracle for ann_ivf_topk at the oracle sf (driver: sf0.01):
    re-run the seeded quantizer on the identically-ordered data
    (shared _lloyd_kmeans; centroids round-tripped through float32 like
    the written index), compute the probed cells the way ivf_topk does,
    and let DuckDB recompute per-row cell assignment and the probed
    cosine top-10."""
    pdf, X, cents, structs = _ivf_oracle_parts()
    q = X[pdf["vec_id"].to_numpy() == 0][0]
    order = sorted(
        range(len(cents)), key=lambda i: float(np.sum((cents[i] - q) ** 2))
    )
    probe = ", ".join(str(i) for i in order[:4])
    return f"""
WITH assigned AS (
  SELECT vec_id, embedding, list_min([{structs}])['c'] AS cell
  FROM embeddings
),
q AS (SELECT embedding AS qv FROM embeddings ORDER BY vec_id LIMIT 1)
SELECT a.vec_id,
       round(list_reduce(list_transform(list_zip(a.embedding, qv),
             p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)), (x, y) -> x + y)
       / (sqrt(list_reduce(list_transform(a.embedding, x -> CAST(x AS DOUBLE) ** 2), (x, y) -> x + y))
        * sqrt(list_reduce(list_transform(qv, x -> CAST(x AS DOUBLE) ** 2), (x, y) -> x + y))), 6) AS score
FROM assigned a, q
WHERE a.cell IN ({probe})
ORDER BY score DESC, a.vec_id ASC
LIMIT 10
"""


def ann_recall_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@10 of the IVF probe vs the exact scan for 5 query vectors
    at nprobe ∈ {1, 4} (ann.ivf_recall_audit — one broadcast-probe plan,
    no per-query loop). The oracle re-derives the quantizer through the
    shared seeded-Lloyd path, recomputes each query's probed cells, and
    replays both the IVF and exact top-10 sets plus the overlap."""
    path = _ivf_index_dir(spark, sf_dir)
    indexed, cents = ann.load_ivf_index(spark, path)
    e = load_table(spark, sf_dir, "embeddings")
    queries_df = e.where(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    return ann.ivf_recall_audit(indexed, cents, queries_df)


def _ivf_recall_sql() -> str:
    """Generated oracle for ann_recall_audit: literal centroids from the
    shared seeded quantizer, per-(nprobe, query) probe cells computed the
    way ivf_topk picks them, then DuckDB recomputes assignment, both
    top-10 sets on rounded scores, and the overlap counts."""
    pdf, X, cents, structs = _ivf_oracle_parts()
    ids = pdf["vec_id"].to_numpy()
    probe_vals = []
    for qid in range(5):
        qv = X[ids == qid][0]
        order = sorted(
            range(len(cents)),
            key=lambda i: float(np.sum((cents[i] - qv) ** 2)),
        )
        for npb in (1, 4):
            for c in order[:npb]:
                probe_vals.append(f"({npb}, {qid}, {c})")
    cos = (
        "round(list_reduce(list_transform(list_zip({a}, qv),"
        " p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)), (x, y) -> x + y)"
        " / (sqrt(list_reduce(list_transform({a}, x -> CAST(x AS DOUBLE) ** 2), (x, y) -> x + y))"
        "  * sqrt(list_reduce(list_transform(qv, x -> CAST(x AS DOUBLE) ** 2), (x, y) -> x + y))), 6)"
    )
    return f"""
WITH assigned AS (
  SELECT vec_id, embedding, list_min([{structs}])['c'] AS cell
  FROM embeddings
),
probes(nprobe, query_id, cell) AS (VALUES {", ".join(probe_vals)}),
qs AS (
  SELECT vec_id AS query_id, embedding AS qv FROM embeddings WHERE vec_id < 5
),
exact AS (
  SELECT query_id, vec_id FROM (
    SELECT q.query_id, e.vec_id,
           row_number() OVER (PARTITION BY q.query_id
               ORDER BY {cos.format(a="e.embedding")} DESC, e.vec_id) AS rk
    FROM embeddings e, qs q
  ) WHERE rk <= 10
),
ivf AS (
  SELECT nprobe, query_id, vec_id FROM (
    SELECT p.nprobe, p.query_id, a.vec_id,
           row_number() OVER (PARTITION BY p.nprobe, p.query_id
               ORDER BY {cos.format(a="a.embedding")} DESC, a.vec_id) AS rk
    FROM assigned a
    JOIN probes p ON a.cell = p.cell
    JOIN qs q ON q.query_id = p.query_id
  ) WHERE rk <= 10
)
SELECT i.nprobe, i.query_id,
       CAST(sum(CASE WHEN ex.vec_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
         AS n_overlap,
       round(sum(CASE WHEN ex.vec_id IS NOT NULL THEN 1 ELSE 0 END) / 10.0, 2)
         AS recall_at_10
FROM ivf i
LEFT JOIN exact ex ON i.query_id = ex.query_id AND i.vec_id = ex.vec_id
GROUP BY i.nprobe, i.query_id
ORDER BY i.nprobe, i.query_id
"""


def emb_top_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding similarity audit: 20 globally most-similar pairs, EXACT,
    via the 2-D grid-block GEMM (all_pairs_topk_distributed) — no
    driver-side corpus collect; the O(n^2) work shards into block-pair
    tasks. The driver-bounded all_pairs_topk kernel survives as the pytest
    equivalence oracle."""
    e = load_table(spark, sf_dir, "embeddings")
    return ann.all_pairs_topk_distributed(e)


_EMB_TOP_SQL = """
SELECT a.vec_id AS id_a, b.vec_id AS id_b,
       round(list_reduce(list_transform(list_zip(a.embedding, b.embedding),
             p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)), (x, y) -> x + y)
       / (sqrt(list_reduce(list_transform(a.embedding, x -> CAST(x AS DOUBLE) ** 2), (x, y) -> x + y))
        * sqrt(list_reduce(list_transform(b.embedding, x -> CAST(x AS DOUBLE) ** 2), (x, y) -> x + y))), 6) AS cos_sim
FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
ORDER BY cos_sim DESC, id_a, id_b
LIMIT 20
"""


def emb_near_dup_blocked(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding near-dup blocking (the 100 TB LSH path): multi-table
    SRP-LSH candidate pairs + cosine, top-20 by similarity. Approximate by
    construction — the right tool when the workload is near-duplicate
    pruning (cos >= ~0.95), where multi-table recall is ~1; recall on
    planted near-dups is pytest-gated (tests/test_ann.py). Bucket planes
    are seeded literals, so the DuckDB oracle reproduces the exact same
    candidate set."""
    e = load_table(spark, sf_dir, "embeddings")
    return ann.rp_blocked_top_pairs(e)


_EMB_DIM = 64  # synthetic embeddings table dimension (TESTDATA.md)


def _emb_blocked_sql() -> str:
    """Oracle twin of emb_near_dup_blocked: same multi-table buckets from
    the same seeded plane literals, candidate = collide in >= 1 table,
    exact cosine + top-20."""
    tables = []
    for t in range(4):
        planes = ann.rp_planes(8, _EMB_DIM, seed=42 + t)
        bits = []
        for i in range(8):
            lits = ", ".join(f"{float(x)!r}" for x in planes[i])
            dot = (
                "list_reduce(list_transform(list_zip(embedding, "
                f"[{lits}]), p -> CAST(p[1] AS DOUBLE) * p[2]), (x, y) -> x + y)"
            )
            bits.append(f"(CASE WHEN {dot} > 0 THEN {1 << i} ELSE 0 END)")
        tables.append("CAST(" + " + ".join(bits) + " AS BIGINT)")
    bks = "[" + ", ".join(tables) + "]"
    return f"""
WITH bucketed AS (
  SELECT vec_id, embedding, {bks} AS bks FROM embeddings
)
SELECT a.vec_id AS id_a, b.vec_id AS id_b,
       round(list_reduce(list_transform(list_zip(a.embedding, b.embedding),
             p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)), (x, y) -> x + y)
       / (sqrt(list_reduce(list_transform(a.embedding, x -> CAST(x AS DOUBLE) ** 2), (x, y) -> x + y))
        * sqrt(list_reduce(list_transform(b.embedding, x -> CAST(x AS DOUBLE) ** 2), (x, y) -> x + y))), 6) AS cos_sim
FROM bucketed a JOIN bucketed b ON a.vec_id < b.vec_id
WHERE len(list_filter(list_zip(a.bks, b.bks), p -> p[1] = p[2])) > 0
ORDER BY cos_sim DESC, id_a, id_b
LIMIT 20
"""


def semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup composition (Abbas et al. '23) end to end: seeded-Lloyd
    IVF quantizer → broadcast cell assignment → intra-cell GEMM cosine
    pairs → min-id-per-dup-group survives (operators.dedup.semantic_dedup).
    The corpus is the embeddings table plus PLANTED exact duplicates
    (every 50th vector re-inserted at id+100000), so the removal path is
    exercised regardless of how the synthetic data regenerates (natural
    max cosine ≈ 0.51 at dim 64). Exports per-cell (n_docs, n_removed,
    n_kept); DuckDB independently recomputes the assignment from literal
    centroids AND the intra-cell pair predicate itself."""
    e = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    planted = e.where(F.col("vec_id") % 50 == 0).select(
        (F.col("vec_id") + 100000).alias("vec_id"), "embedding"
    )
    corpus = e.unionByName(planted)
    cents = ann.train_ivf_centroids(corpus.orderBy("vec_id"), num_cells=8)
    flagged = dedup.semantic_dedup(corpus, cents, threshold=0.9)
    return (
        flagged.groupBy("cell")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum((~F.col("keep")).cast("long")).alias("n_removed"),
            F.sum(F.col("keep").cast("long")).alias("n_kept"),
        )
        .orderBy("cell")
    )


_SEMDEDUP_COS_SQL = """round(
  list_reduce(list_transform(list_zip(a.embedding, b.embedding),
       p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)), (x, y) -> x + y)
  / (sqrt(list_reduce(list_transform(a.embedding,
          x -> CAST(x AS DOUBLE) ** 2), (x, y) -> x + y))
   * sqrt(list_reduce(list_transform(b.embedding,
          x -> CAST(x AS DOUBLE) ** 2), (x, y) -> x + y))), 6)"""


def _semantic_dedup_sql() -> str:
    """Generated oracle: the quantizer-literal pattern — Lloyd centroids
    recomputed by the shared python twin over the SAME planted-union
    corpus in vec_id order, assignment + pair predicate + keep rule all
    recomputed by DuckDB from those literals."""
    import duckdb

    from vector_search_optimization_spark.operators.ann import _lloyd_kmeans

    pdf = duckdb.sql(
        "SELECT vec_id, embedding FROM "
        f"'{_oracle_sf_dir()}/embeddings.parquet' ORDER BY vec_id"
    ).df()
    X = np.asarray(pdf["embedding"].tolist(), dtype=np.float64)
    ids = pdf["vec_id"].to_numpy()
    x_all = np.vstack([X, X[ids % 50 == 0]])  # planted block sorts after
    centers = _lloyd_kmeans(x_all[:100_000], 8, seed=42, max_iter=20)
    cents = np.asarray(
        [list(map(float, c)) for c in centers], dtype=np.float32
    ).astype(np.float64)

    def cell_dist(i: int) -> str:
        lits = ", ".join(f"{float(x)!r}" for x in cents[i])
        return (
            "list_reduce(list_transform(list_zip(embedding, "
            f"[{lits}]), p -> (CAST(p[1] AS DOUBLE) - p[2]) "
            "* (CAST(p[1] AS DOUBLE) - p[2])), (x, y) -> x + y)"
        )

    structs = ", ".join(
        "{'d': " + cell_dist(i) + f", 'c': {i}}}" for i in range(len(cents))
    )
    return f"""
WITH corpus AS (
  SELECT vec_id, embedding FROM embeddings
  UNION ALL
  SELECT vec_id + 100000 AS vec_id, embedding FROM embeddings
  WHERE vec_id % 50 = 0
), assigned AS (
  SELECT vec_id, embedding,
         CAST(list_min([{structs}])['c'] AS BIGINT) AS cell
  FROM corpus
), removed AS (
  SELECT DISTINCT b.vec_id
  FROM assigned a JOIN assigned b
    ON a.cell = b.cell AND a.vec_id < b.vec_id
  WHERE {_SEMDEDUP_COS_SQL} >= 0.9
)
SELECT s.cell, count(*) AS n_docs,
       CAST(sum(CASE WHEN r.vec_id IS NOT NULL THEN 1 ELSE 0 END)
            AS BIGINT) AS n_removed,
       CAST(sum(CASE WHEN r.vec_id IS NULL THEN 1 ELSE 0 END)
            AS BIGINT) AS n_kept
FROM assigned s LEFT JOIN removed r ON s.vec_id = r.vec_id
GROUP BY s.cell ORDER BY s.cell
"""


# random-projection LSH: plane literals are seeded numpy constants, so the
# oracle SQL is *generated* with the identical literals.
_RP_PLANES = np.random.RandomState(42).normal(size=(8, 64))


def rp_bucket_hist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SRP-LSH bucket histogram (the blocking stage for embedding dedup)."""
    e = load_table(spark, sf_dir, "embeddings")
    b = ann.random_projection_buckets(e, num_planes=8)
    return b.groupBy("rp_bucket").agg(F.count(F.lit(1)).alias("n"))


def _rp_sql() -> str:
    bits = []
    for i in range(8):
        lits = ", ".join(f"{float(x)!r}" for x in _RP_PLANES[i])
        dot = (
            "list_reduce(list_transform(list_zip(embedding, "
            f"[{lits}]), p -> CAST(p[1] AS DOUBLE) * p[2]), (x, y) -> x + y)"
        )
        bits.append(f"(CASE WHEN {dot} > 0 THEN {1 << i} ELSE 0 END)")
    expr = " + ".join(bits)
    return (
        f"SELECT CAST({expr} AS BIGINT) AS rp_bucket, count(*) AS n "
        "FROM embeddings GROUP BY rp_bucket"
    )


# ---------------------------------------------------------------------------
# text analysis / dedup over the documents table
# ---------------------------------------------------------------------------

def text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-scoring features per document (pretraining-filter style)."""
    d = load_table(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        TX.whitespace_token_count("text").alias("n_tokens"),
        TX.bpe_ish_token_count("text").alias("n_bpe_tokens"),
        TX.char_count("text").alias("n_chars_actual"),
        TX.mean_word_length("text").alias("mean_word_len"),
        TX.digit_ratio("text").alias("digit_ratio"),
        TX.stopword_ratio("text").alias("stopword_ratio"),
    )


_TEXT_QUALITY_SQL = r"""
SELECT doc_id,
       CASE WHEN trim(text) = '' THEN 0
            ELSE len(string_split_regex(trim(text), '\s+')) END AS n_tokens,
       len(regexp_extract_all(text, '[\p{L}\p{N}]+|[^\p{L}\p{N}\s]')) AS n_bpe_tokens,
       length(text) AS n_chars_actual,
       CASE WHEN trim(text) = '' THEN NULL
            ELSE round(list_reduce(list_transform(string_split_regex(trim(text), '\s+'),
                 w -> CAST(length(w) AS DOUBLE)), (a, b) -> a + b)
                 / len(string_split_regex(trim(text), '\s+')), 6) END AS mean_word_len,
       CASE WHEN length(text) = 0 THEN NULL
            ELSE round(CAST(length(text) - length(regexp_replace(text, '[0-9]', '', 'g')) AS DOUBLE)
                 / length(text), 6) END AS digit_ratio,
       CASE WHEN trim(text) = '' THEN NULL
            ELSE round(CAST(len(list_filter(string_split_regex(lower(trim(text)), '\s+'),
                 w -> w IN ('the','and','of','to','is','in','that','for','with','was'))) AS DOUBLE)
                 / len(string_split_regex(lower(trim(text)), '\s+')), 6) END AS stopword_ratio
FROM documents
"""


def text_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Repetition quality metrics (Gopher-style corpus-cleaning signals):
    per doc, the fraction of repeated words (1 - distinct/total) and the
    concentration of the most frequent word-bigram (max bigram count /
    total bigrams). Highly repetitive machine-generated text spikes both.
    Scale: per-doc gram stats need no cross-doc state, so the hot path
    is ONE map-side Arrow kernel pass (functions.text.word_gram_stats_expr
    — no explode, no shuffle, no per-element interpreted expressions);
    the declarative explode → two-groupBy formulation stays as its
    equivalence-tested oracle (tests/test_kernel_equivalence.py), and the
    ratio/rounding math stays JVM-side so floats match the SQL oracle
    bit-for-bit."""
    d = load_table(spark, sf_dir, "documents")
    st = d.select("doc_id", TX.word_gram_stats_expr("text", 2).alias("__st"))
    nw = F.col("__st.n_words")
    ng = F.col("__st.n_grams")
    mx = F.col("__st.max_gram_count")
    return st.select(
        "doc_id",
        F.when(nw <= 0, F.lit(0.0))
        .otherwise(
            F.round(
                1.0 - F.col("__st.n_distinct_words") / nw.cast("double"), 6
            )
        )
        .alias("dup_word_frac"),
        F.coalesce(ng, F.lit(0)).alias("n_2grams"),
        F.coalesce(mx, F.lit(0)).alias("max_2gram_count"),
        F.coalesce(
            F.when(ng > 0, F.round(mx / ng.cast("double"), 6)), F.lit(0.0)
        ).alias("top_2gram_frac"),
    )


_TEXT_REPETITION_SQL = r"""
WITH toks AS (
  SELECT doc_id,
         list_filter(string_split_regex(lower(trim(text)), '\s+'), t -> t <> '') AS w
  FROM documents
), grams AS (
  SELECT doc_id,
         unnest(list_transform(range(1, len(w)),
                               j -> array_to_string(list_slice(w, j, j + 1), ' '))) AS g
  FROM toks WHERE len(w) >= 2
), gc AS (
  SELECT doc_id, g, count(*) AS c FROM grams GROUP BY doc_id, g
), agg AS (
  SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_2grams,
         max(c) AS max_2gram_count
  FROM gc GROUP BY doc_id
)
SELECT t.doc_id,
       CASE WHEN len(t.w) <= 0 THEN 0.0
            ELSE round(1.0 - CAST(len(list_distinct(t.w)) AS DOUBLE) / len(t.w), 6)
       END AS dup_word_frac,
       coalesce(a.n_2grams, 0) AS n_2grams,
       coalesce(a.max_2gram_count, 0) AS max_2gram_count,
       coalesce(round(CAST(a.max_2gram_count AS DOUBLE) / a.n_2grams, 6), 0.0)
         AS top_2gram_frac
FROM toks t LEFT JOIN agg a ON t.doc_id = a.doc_id
"""


def text_gopher_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style multi-order repetition gate (Rae et al. '21 §A1.1:
    duplicate-word fraction + top n-gram concentration at several gram
    orders): per doc, dup_word_frac and top-{2,3,4}-gram fractions from
    ONE tokenization pass (functions.text.word_gram_stats_multi_expr —
    map-only, no shuffle), plus the composite keep/flag decision at the
    Gopher-ish thresholds. Ratio and rounding math stays JVM-side for
    oracle bit-parity (same contract as text_repetition)."""
    d = load_table(spark, sf_dir, "documents")
    st = d.select("doc_id", TX.word_gram_stats_multi_expr("text").alias("__st"))
    nw = F.col("__st.n_words")
    dup = F.when(nw <= 0, F.lit(0.0)).otherwise(
        F.round(1.0 - F.col("__st.n_distinct_words") / nw.cast("double"), 6)
    )
    fracs = {
        n: F.coalesce(
            F.when(
                F.col(f"__st.n_grams_{n}") > 0,
                F.round(
                    F.col(f"__st.max_gram_count_{n}")
                    / F.col(f"__st.n_grams_{n}").cast("double"),
                    6,
                ),
            ),
            F.lit(0.0),
        )
        for n in (2, 3, 4)
    }
    return st.select(
        "doc_id",
        dup.alias("dup_word_frac"),
        fracs[2].alias("top_2gram_frac"),
        fracs[3].alias("top_3gram_frac"),
        fracs[4].alias("top_4gram_frac"),
        (
            (F.coalesce(dup, F.lit(0.0)) <= 0.3)
            & (fracs[2] <= 0.2)
            & (fracs[3] <= 0.18)
            & (fracs[4] <= 0.16)
        ).alias("keep"),
    )


def _gopher_gram_cte(n: int) -> str:
    return f"""g{n} AS (
  SELECT doc_id, CAST(sum(c) AS BIGINT) AS ng, max(c) AS mx
  FROM (
    SELECT doc_id, g, count(*) AS c
    FROM (
      SELECT doc_id,
             unnest(list_transform(range(1, len(w) - {n - 2}),
                    j -> array_to_string(list_slice(w, j, j + {n - 1}), ' '))) AS g
      FROM toks WHERE len(w) >= {n}
    ) GROUP BY doc_id, g
  ) GROUP BY doc_id
)"""


_GOPHER_SQL = r"""
WITH toks AS (
  SELECT doc_id,
         list_filter(string_split_regex(lower(trim(text)), '\s+'), t -> t <> '') AS w
  FROM documents
), """ + ", ".join(_gopher_gram_cte(n) for n in (2, 3, 4)) + r"""
SELECT t.doc_id,
       CASE WHEN len(t.w) <= 0 THEN 0.0
            ELSE round(1.0 - CAST(len(list_distinct(t.w)) AS DOUBLE) / len(t.w), 6)
       END AS dup_word_frac,
       coalesce(round(CAST(g2.mx AS DOUBLE) / g2.ng, 6), 0.0) AS top_2gram_frac,
       coalesce(round(CAST(g3.mx AS DOUBLE) / g3.ng, 6), 0.0) AS top_3gram_frac,
       coalesce(round(CAST(g4.mx AS DOUBLE) / g4.ng, 6), 0.0) AS top_4gram_frac,
       (coalesce(CASE WHEN len(t.w) <= 0 THEN 0.0
             ELSE round(1.0 - CAST(len(list_distinct(t.w)) AS DOUBLE) / len(t.w), 6)
        END, 0.0) <= 0.3
        AND coalesce(round(CAST(g2.mx AS DOUBLE) / g2.ng, 6), 0.0) <= 0.2
        AND coalesce(round(CAST(g3.mx AS DOUBLE) / g3.ng, 6), 0.0) <= 0.18
        AND coalesce(round(CAST(g4.mx AS DOUBLE) / g4.ng, 6), 0.0) <= 0.16)
         AS keep
FROM toks t
LEFT JOIN g2 ON t.doc_id = g2.doc_id
LEFT JOIN g3 ON t.doc_id = g3.doc_id
LEFT JOIN g4 ON t.doc_id = g4.doc_id
"""


def text_line_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher §A1.1's OTHER half (Rae et al. '21): line/paragraph-level
    repetition — duplicate-line fraction, duplicate-paragraph fraction,
    and the fraction-of-characters-in-duplicate-lines/paragraphs
    variants, plus the composite keep gate at the Gopher thresholds
    (dup fractions ≤ 0.30, dup-char fractions ≤ 0.20). Real pipelines
    filter on these BEFORE the word-gram gates — boilerplate repeats
    whole lines, not n-grams. Scale: ONE map-side Arrow kernel pass
    (functions.text.line_stats_expr — per-doc Counter per split level,
    no explode/shuffle); ratios export UNROUNDED as integer-quotient
    doubles (bit-identical IEEE division on both engines — the
    decimal-tie rule), with the integer counts alongside."""
    d = load_table(spark, sf_dir, "documents")
    st = d.select("doc_id", TX.line_stats_expr("text").alias("__st"))

    def frac(num: str, den: str):
        n, dn = F.col(f"__st.{num}"), F.col(f"__st.{den}")
        return F.coalesce(
            F.when(dn > 0, n.cast("double") / dn), F.lit(0.0)
        )

    fr = {
        "dup_line_frac": frac("dup_lines", "n_lines"),
        "dup_line_char_frac": frac("dup_line_chars", "line_chars"),
        "dup_para_frac": frac("dup_paras", "n_paras"),
        "dup_para_char_frac": frac("dup_para_chars", "para_chars"),
    }
    return st.select(
        "doc_id",
        F.coalesce(F.col("__st.n_lines"), F.lit(0)).alias("n_lines"),
        F.coalesce(F.col("__st.n_paras"), F.lit(0)).alias("n_paras"),
        *[c.alias(k) for k, c in fr.items()],
        (
            (fr["dup_line_frac"] <= 0.30)
            & (fr["dup_para_frac"] <= 0.30)
            & (fr["dup_line_char_frac"] <= 0.20)
            & (fr["dup_para_char_frac"] <= 0.20)
        ).alias("keep"),
    )


def _line_rep_cte(tag: str, split_expr: str) -> str:
    """Per-split-level dup aggregation: unnest → trim/filter → per-value
    counts → dup sums (the declarative formulation the kernel twins)."""
    return f"""{tag}c AS (
  SELECT doc_id, p, count(*) AS c FROM (
    SELECT doc_id, trim(x, ' ' || chr(9) || chr(13)) AS p
    FROM (SELECT doc_id, unnest({split_expr}) AS x FROM documents)
  ) WHERE p <> '' GROUP BY doc_id, p
), {tag}agg AS (
  SELECT doc_id,
         CAST(sum(c) AS BIGINT) AS n,
         CAST(coalesce(sum(c) FILTER (WHERE c > 1), 0) AS BIGINT) AS dup,
         CAST(sum(c * length(p)) AS BIGINT) AS chars,
         CAST(coalesce(sum(c * length(p)) FILTER (WHERE c > 1), 0)
              AS BIGINT) AS dup_chars
  FROM {tag}c GROUP BY doc_id
)"""


_LINE_REP_SQL = (
    "WITH "
    + _line_rep_cte("l", "string_split(text, chr(10))")
    + ",\n"
    + _line_rep_cte("p", r"string_split_regex(text, '\n{2,}')")
    + r"""
SELECT d.doc_id,
       coalesce(l.n, 0) AS n_lines,
       coalesce(p.n, 0) AS n_paras,
       coalesce(CAST(l.dup AS DOUBLE) / nullif(l.n, 0), 0.0)
         AS dup_line_frac,
       coalesce(CAST(l.dup_chars AS DOUBLE) / nullif(l.chars, 0), 0.0)
         AS dup_line_char_frac,
       coalesce(CAST(p.dup AS DOUBLE) / nullif(p.n, 0), 0.0)
         AS dup_para_frac,
       coalesce(CAST(p.dup_chars AS DOUBLE) / nullif(p.chars, 0), 0.0)
         AS dup_para_char_frac,
       (coalesce(CAST(l.dup AS DOUBLE) / nullif(l.n, 0), 0.0) <= 0.30
        AND coalesce(CAST(p.dup AS DOUBLE) / nullif(p.n, 0), 0.0) <= 0.30
        AND coalesce(CAST(l.dup_chars AS DOUBLE) / nullif(l.chars, 0), 0.0)
            <= 0.20
        AND coalesce(CAST(p.dup_chars AS DOUBLE) / nullif(p.chars, 0), 0.0)
            <= 0.20) AS keep
FROM documents d
LEFT JOIN lagg l ON d.doc_id = l.doc_id
LEFT JOIN pagg p ON d.doc_id = p.doc_id
"""
)


def dedup_exact_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-dedup audit: total docs vs distinct canonical texts, and the
    row count surviving dedup_exact (must equal n_distinct)."""
    d = load_table(spark, sf_dir, "documents")
    # survivor total as a 1-row broadcast instead of a driver count
    # (r12, guide §5: the eager count was a whole extra job)
    surv = dedup.dedup_exact(d).agg(
        F.count(F.lit(1)).alias("n_survivors")
    )
    norm = F.trim(F.regexp_replace(F.lower(F.col("text")), r"\s+", " "))
    return (
        d.agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.countDistinct(norm).alias("n_distinct"),
        )
        .join(F.broadcast(surv))
        .select("n_docs", "n_distinct", "n_survivors")
    )


_DEDUP_EXACT_SQL = r"""
SELECT count(*) AS n_docs,
       count(DISTINCT trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS n_distinct,
       count(DISTINCT trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS n_survivors
FROM documents
"""


def doc_quality_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pretraining-style quality gate + per-lang survivor counts."""
    d = load_table(spark, sf_dir, "documents")
    scored = d.select(
        "lang",
        TX.whitespace_token_count("text").alias("n_tokens"),
        TX.mean_word_length("text").alias("mwl"),
    )
    return (
        scored.where((F.col("n_tokens") >= 10) & (F.col("mwl") >= 2.0))
        .groupBy("lang")
        .agg(F.count(F.lit(1)).alias("n_docs"))
    )


_DOC_FILTER_SQL = r"""
WITH scored AS (
  SELECT lang,
         CASE WHEN trim(text) = '' THEN 0
              ELSE len(string_split_regex(trim(text), '\s+')) END AS n_tokens,
         CASE WHEN trim(text) = '' THEN NULL
              ELSE list_reduce(list_transform(string_split_regex(trim(text), '\s+'),
                   w -> CAST(length(w) AS DOUBLE)), (a, b) -> a + b)
                   / len(string_split_regex(trim(text), '\s+')) END AS mwl
  FROM documents
)
SELECT lang, count(*) AS n_docs
FROM scored WHERE n_tokens >= 10 AND mwl >= 2.0
GROUP BY lang
"""


def text_langid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-ID heuristic histogram: stopword-hit argmax per document
    (functions.text.language_id), counted per predicted language."""
    d = load_table(spark, sf_dir, "documents")
    return (
        d.select(TX.language_id("text").alias("lang_pred"))
        .groupBy("lang_pred")
        .agg(F.count(F.lit(1)).alias("n"))
    )


def _langid_sql() -> str:
    from vector_search_optimization_spark.functions.text import _STOPWORDS

    structs = []
    for lang in sorted(_STOPWORDS):
        words = ", ".join(f"'{w}'" for w in _STOPWORDS[lang])
        hits = (
            r"len(list_filter(string_split_regex(lower(trim(text)), '\s+'), "
            f"w -> w IN ({words})))"
        )
        structs.append(f"{{'hits': {hits}, 'lang': '{lang}'}}")
    best = f"list_max([{', '.join(structs)}])"
    return rf"""
WITH scored AS (
  SELECT CASE
           WHEN length(regexp_replace(text, '[^一-鿿]', '', 'g')) > 0 THEN 'zh'
           WHEN {best}.hits > 0 THEN {best}.lang
           ELSE 'und'
         END AS lang_pred
  FROM documents
)
SELECT lang_pred, count(*) AS n FROM scored GROUP BY lang_pred
"""


def minhash_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash-LSH near-duplicate candidates. The shingle hash is the
    SQL-expressible polynomial rolling hash (functions.text.poly_hash), so
    the full signature->banding->estimate pipeline has an exact DuckDB
    value oracle (_minhash_sql)."""
    d = load_table(spark, sf_dir, "documents")
    return dedup.minhash_near_duplicates(d, jaccard_threshold=0.2)


# The oracle rebuilds the entire MinHash pipeline in SQL: poly-hash each
# distinct word-3-shingle, take the seeded universal-hash minima (the
# (a_i, b_i) literals come from dedup.minhash_coeffs — same RNG draw as the
# Spark side), then all-pairs banding on signature slices. All-pairs is
# fine for the oracle (sf0.01); the Spark side uses the bucket join.
_POLY_SQL = (
    "list_reduce(list_prepend(CAST(0 AS BIGINT), "
    "list_transform(range(1, length({s}) + 1), i -> CAST(unicode(({s})[i]) AS BIGINT))), "
    "(acc, x) -> (acc * {base} + x) % 2147483647)"
)

_MINHASH_SHINGLE_SQL = r"""
WITH toks AS (
  SELECT doc_id, list_filter(string_split_regex(lower(trim(text)), '\s+'), t -> t <> '') AS w
  FROM documents
), sh AS (
  SELECT doc_id, CASE WHEN len(w) >= {n} THEN
      list_distinct(list_transform(range(1, len(w) - {nm1} + 1),
                                   j -> array_to_string(list_slice(w, j, j + {nm1}), ' ')))
    ELSE [array_to_string(w, ' ')] END AS shingles
  FROM toks
)"""


def _minhash_sigs_sql(pair_on: str = "a.doc_id < b.doc_id") -> str:
    a, b = dedup.minhash_coeffs(64)
    poly = _POLY_SQL.format(s="s", base=TX.POLY_BASE)
    return (
        _MINHASH_SHINGLE_SQL.format(n=3, nm1=2)
        + f""", hs AS (
  SELECT doc_id, list_transform(shingles, s -> {poly}) AS h FROM sh
), sigs AS (
  SELECT doc_id,
         list_transform(list_zip([{', '.join(map(str, a))}], [{', '.join(map(str, b))}]),
                        p -> list_min(list_transform(h, v -> (p[1] * v + p[2]) % 2147483647))) AS sig
  FROM hs
), pairs AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, a.sig AS sa, b.sig AS sb
  FROM sigs a JOIN sigs b ON {pair_on}
), banded AS (
  SELECT id_a, id_b,
         round(CAST(len(list_filter(list_zip(sa, sb), p -> p[1] = p[2])) AS DOUBLE) / 64, 6) AS est_jaccard,
         len(list_filter(range(0, 16), bb -> list_slice(sa, bb*4 + 1, bb*4 + 4) = list_slice(sb, bb*4 + 1, bb*4 + 4))) AS nbands
  FROM pairs
)"""
    )


def _minhash_sql() -> str:
    return (
        _minhash_sigs_sql()
        + "\nSELECT id_a, id_b, est_jaccard FROM banded WHERE nbands >= 1 AND est_jaccard >= 0.2"
    )


def simhash_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash hamming-ball near-duplicate audit. max_hamming=3 → 4 x
    16-bit segments. The synthetic corpus draws from a ~30-word
    vocabulary, so most documents ARE simhash-near-duplicates — returned
    as a hamming histogram rather than the multi-million-row pair list;
    pytest covers pair-level recall on planted duplicates. The poly
    shingle hash makes the 62-bit simhash reproducible in DuckDB
    (_simhash_sql)."""
    d = load_table(spark, sf_dir, "documents")
    pairs = dedup.simhash_near_duplicates(d)
    return pairs.groupBy("hamming").agg(F.count(F.lit(1)).alias("n_pairs"))


def _simhash_sql() -> str:
    p1 = _POLY_SQL.format(s="s", base=TX.POLY_BASE)
    p2 = _POLY_SQL.format(s="s", base=TX.POLY_BASE2)
    # (h1 << 31) | h2 with h2 < 2^31  ==  h1 * 2^31 + h2
    h64 = f"(({p1}) * 2147483648 + ({p2}))"
    # majority vote per bit: bit b set iff ones*2 > m (ties -> 0, matching
    # the Spark side's strict votes > 0). Bits 62/63 are always 0.
    bits = " + ".join(
        f"(CASE WHEN 2*len(list_filter(hs, v -> ((v >> {bb}) & 1) = 1)) > len(hs) THEN {1 << bb} ELSE 0 END)"
        for bb in range(62)
    )
    return (
        _MINHASH_SHINGLE_SQL.format(n=2, nm1=1)
        + f""", hs AS (
  SELECT doc_id, list_transform(shingles, s -> {h64}) AS hs FROM sh
), sims AS (
  SELECT doc_id, {bits} AS sim FROM hs
), ham AS (
  SELECT CAST(bit_count(xor(a.sim, b.sim)) AS INTEGER) AS hamming
  FROM sims a JOIN sims b ON a.doc_id < b.doc_id
)
SELECT hamming, count(*) AS n_pairs FROM ham WHERE hamming <= 3 GROUP BY hamming"""
    )


# ---------------------------------------------------------------------------
# prologue slice + outlier suite (SURVEY §7.3, §2.9 M6-M9)
# ---------------------------------------------------------------------------

def _label_centroids(e: DataFrame, normalized: bool = False) -> DataFrame:
    src = (
        e.withColumn("embedding", V.l2_normalize("embedding"))
        if normalized
        else e
    )
    return VA.group_vector_mean(src, "label", "embedding").withColumnRenamed(
        "label", "cluster_label"
    )


_CENT_SQL = """
  SELECT label, list(m ORDER BY pos) AS centroid FROM (
    SELECT label, pos, avg(val) AS m FROM (
      SELECT label, CAST(unnest(embedding) AS DOUBLE) AS val,
             generate_subscripts(embedding, 1) AS pos
      FROM embeddings
    ) GROUP BY label, pos
  ) GROUP BY label
"""

_NORM_EMB_SQL = """
  SELECT vec_id, label,
         CASE WHEN sqrt(list_reduce(list_transform(embedding,
                   x -> CAST(x AS DOUBLE) ** 2), (x, y) -> x + y)) = 0
              THEN list_transform(embedding, x -> CAST(x AS DOUBLE))
              ELSE list_transform(embedding, x -> CAST(x AS DOUBLE)
                   / sqrt(list_reduce(list_transform(embedding,
                         y -> CAST(y AS DOUBLE) ** 2), (x, y) -> x + y))) END
         AS embedding
  FROM embeddings
"""


def prologue_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SURVEY §7.3 minimum slice: normalise → nearest-centroid assign →
    per-(assigned, true-label) counts with proportion window — the shared
    notebook-prologue query (main-script1.ipynb c13-c17 + c41) on the
    embeddings table."""
    from vector_search_optimization_spark.plans import analytics_prologue

    e = load_table(spark, sf_dir, "embeddings")
    cents = _label_centroids(e, normalized=True)
    report = analytics_prologue(
        e,
        cents,
        vector_col="embedding",
        category_col="label",
        id_col="vec_id",
        doc_col="vec_id",
    )
    return report.withColumnRenamed("label", "true_label")


_PROLOGUE_SQL = f"""
WITH norm AS ({_NORM_EMB_SQL}),
cent AS (
  SELECT label, list(m ORDER BY pos) AS centroid FROM (
    SELECT label, pos, avg(val) AS m FROM (
      SELECT label, unnest(embedding) AS val,
             generate_subscripts(embedding, 1) AS pos
      FROM norm
    ) GROUP BY label, pos
  ) GROUP BY label
), dist AS (
  SELECT n.vec_id, n.label AS true_label, c.label AS cl,
         sqrt(list_reduce(list_transform(list_zip(n.embedding, c.centroid),
              p -> (p[1] - p[2]) ** 2), (x, y) -> x + y)) AS d
  FROM norm n CROSS JOIN cent c
), best AS (
  SELECT vec_id, true_label, cl,
         row_number() OVER (PARTITION BY vec_id ORDER BY d, cl) AS rn
  FROM dist
), rep AS (
  SELECT cl AS assigned_label, true_label,
         count(*) AS n_chunks, count(DISTINCT vec_id) AS n_docs
  FROM best WHERE rn = 1 GROUP BY cl, true_label
)
SELECT assigned_label, true_label, n_chunks, n_docs,
       round(100.0 * n_chunks / sum(n_chunks) OVER (PARTITION BY assigned_label), 1) AS pct
FROM rep
"""


def m6_zscore_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M6 — per-cluster z-score outliers on distance-to-own-centroid
    (z > 3, population std — main-script1.ipynb:3767 c64 semantics)."""
    from vector_search_optimization_spark.operators import outliers as OUT

    e = load_table(spark, sf_dir, "embeddings")
    cents = _label_centroids(e)
    with_dist = e.join(
        F.broadcast(cents), e.label == cents.cluster_label
    ).withColumn("dist", V.euclidean("embedding", "centroid"))
    flagged = OUT.zscore_outliers(with_dist, "label", "dist")
    return flagged.groupBy("label").agg(
        F.sum(F.col("is_outlier").cast("long")).alias("n_outliers"),
        F.count(F.lit(1)).alias("n"),
    )


_M6_SQL = f"""
WITH cent AS ({_CENT_SQL}),
d AS (
  SELECT e.vec_id, e.label,
         sqrt(list_reduce(list_transform(list_zip(e.embedding, c.centroid),
              p -> (CAST(p[1] AS DOUBLE) - p[2]) ** 2), (x, y) -> x + y)) AS dist
  FROM embeddings e JOIN cent c ON e.label = c.label
), s AS (
  SELECT label, avg(dist) AS m, stddev_pop(dist) AS sd
  FROM d GROUP BY label
)
SELECT d.label,
       CAST(sum(CASE WHEN s.sd > 0 AND abs((d.dist - s.m) / s.sd) > 3
                THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers,
       count(*) AS n
FROM d JOIN s ON d.label = s.label
GROUP BY d.label
"""


def m7_percentile_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M7 — cosine distance to own centroid > 95th percentile per cluster
    (nuevo-kmeans-pre.ipynb:636 c29)."""
    from vector_search_optimization_spark.operators import outliers as OUT

    e = load_table(spark, sf_dir, "embeddings")
    cents = _label_centroids(e)
    with_dist = e.join(
        F.broadcast(cents), e.label == cents.cluster_label
    ).withColumn("dist", V.cosine_distance("embedding", "centroid"))
    flagged = OUT.percentile_outliers(with_dist, "label", "dist")
    return flagged.groupBy("label").agg(
        F.sum(F.col("is_outlier").cast("long")).alias("n_outliers"),
        F.count(F.lit(1)).alias("n"),
    )


_M7_SQL = f"""
WITH cent AS ({_CENT_SQL}),
d AS (
  SELECT e.vec_id, e.label,
         1.0 - list_reduce(list_transform(list_zip(e.embedding, c.centroid),
               p -> CAST(p[1] AS DOUBLE) * p[2]), (x, y) -> x + y)
         / (sqrt(list_reduce(list_transform(e.embedding, x -> CAST(x AS DOUBLE) ** 2), (x, y) -> x + y))
          * sqrt(list_reduce(list_transform(c.centroid, x -> x ** 2), (x, y) -> x + y))) AS dist
  FROM embeddings e JOIN cent c ON e.label = c.label
), thr AS (
  SELECT label, quantile_cont(dist, 0.95) AS t FROM d GROUP BY label
)
SELECT d.label,
       CAST(sum(CASE WHEN d.dist > thr.t THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers,
       count(*) AS n
FROM d JOIN thr ON d.label = thr.label
GROUP BY d.label
"""


def m8_lof_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M8 — per-cluster Local Outlier Factor (numpy Breunig kernel via
    applyInPandas; analisis-informe.ipynb c69 semantics). The DuckDB twin
    spells LOF out relationally — kNN by window rank, reachability via
    neighbor joins — feasible because clusters are small at oracle scale."""
    from vector_search_optimization_spark.operators import outliers as OUT

    e = load_table(spark, sf_dir, "embeddings")
    flagged = OUT.lof_outliers(e, "label", "embedding", "vec_id")
    return flagged.groupBy("label").agg(
        F.sum(F.col("is_outlier").cast("long")).alias("n_outliers"),
        F.round(F.max("lof"), 4).alias("max_lof"),
        F.count(F.lit(1)).alias("n"),
    )


# LOF relational formulation, mirroring operators/outliers._lof_scores:
# k = max(1, floor(0.05*m)) neighbors per point (deterministic (dist, j)
# tie-break), k-distance = max neighbor dist, reach(i,j) = max(kdist(j),
# dist(i,j)), lrd = 1/(mean reach + 1e-12), LOF = mean neighbor lrd / lrd.
# Threshold = the ceil(0.02*m)-th largest LOF per cluster; flag lof >= thr.
_M8_SQL = """
WITH sz AS (
  SELECT label, count(*) AS m,
         greatest(1, least(CAST(floor(0.05 * count(*)) AS INT), count(*) - 1)) AS k,
         CAST(ceil(0.02 * count(*)) AS INT) AS n_out
  FROM embeddings GROUP BY label
), d AS (
  SELECT a.label, a.vec_id AS i, b.vec_id AS j,
         sqrt(list_reduce(list_transform(list_zip(a.embedding, b.embedding),
              p -> (CAST(p[1] AS DOUBLE) - CAST(p[2] AS DOUBLE)) ** 2),
              (x, y) -> x + y)) AS dist
  FROM embeddings a JOIN embeddings b
    ON a.label = b.label AND a.vec_id <> b.vec_id
), knn AS (
  SELECT label, i, j, dist,
         row_number() OVER (PARTITION BY label, i ORDER BY dist, j) AS rn
  FROM d
), nbr AS (
  SELECT knn.label, knn.i, knn.j, knn.dist
  FROM knn JOIN sz ON knn.label = sz.label
  WHERE knn.rn <= sz.k
), kdist AS (
  SELECT label, i, max(dist) AS kd FROM nbr GROUP BY label, i
), lrd AS (
  SELECT n.label, n.i, 1.0 / (avg(greatest(kj.kd, n.dist)) + 1e-12) AS lrd
  FROM nbr n JOIN kdist kj ON n.label = kj.label AND n.j = kj.i
  GROUP BY n.label, n.i
), lof AS (
  SELECT n.label, n.i, avg(lj.lrd) / any_value(li.lrd) AS lof
  FROM nbr n
  JOIN lrd lj ON n.label = lj.label AND n.j = lj.i
  JOIN lrd li ON n.label = li.label AND n.i = li.i
  GROUP BY n.label, n.i
), thr AS (
  SELECT t.label, min(t.lof) AS thr FROM (
    SELECT label, lof,
           row_number() OVER (PARTITION BY label ORDER BY lof DESC) AS rn
    FROM lof
  ) t JOIN sz ON t.label = sz.label
  WHERE t.rn <= sz.n_out
  GROUP BY t.label
)
SELECT l.label,
       CAST(sum(CASE WHEN l.lof >= t.thr THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers,
       round(max(l.lof), 4) AS max_lof,
       count(*) AS n
FROM lof l JOIN thr t ON l.label = t.label
GROUP BY l.label
"""


_M9_DIM = 3
_M9_SEED = 42
_M9_SAMPLE_CAP = 100_000


def _fold_dot(vec, coef) -> float:
    """Sequential left-fold double dot product — replicates bit-for-bit
    what Spark's aggregate(zip_with(...)) fold and DuckDB's list_reduce
    compute, so the oracle generator feeds the SAME projected values into
    the shared FastMCD as the Spark kernel receives."""
    acc = 0.0
    for a, b in zip(vec, coef):
        acc += float(a) * float(b)
    return acc


def _m9_basis(X) -> tuple[np.ndarray, list[float]]:
    """Deterministic PCA-3D basis + fold-exact center offsets, shared by
    the Spark query and the oracle generator (reduction.pca_components_numpy
    is seeded-free and deterministic on identical input)."""
    from vector_search_optimization_spark.operators.reduction import (
        pca_components_numpy,
    )

    mu, comps = pca_components_numpy(X, _M9_DIM)
    offs = [_fold_dot(mu, comps[i]) for i in range(_M9_DIM)]
    return comps, offs


def m9_mahalanobis_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M9 — per-cluster robust (FastMCD) Mahalanobis > 95th pct, applied
    in a PCA-3D projection like the reference (UMAP->3D->MinCovDet,
    main-script1.ipynb:4140 c70; PCA stands in for UMAP — documented
    deviation, SURVEY §4.3). The basis comes from a driver-bounded
    deterministic sample (IVF-quantizer pattern) and is applied as
    plan-literal expressions — the big table never collects; FastMCD runs
    per cluster inside applyInPandas. Value oracle: _m9_sql() re-derives
    the identical basis + MCD fits and inlines them as SQL literals."""
    from vector_search_optimization_spark.operators import outliers as OUT

    e = load_table(spark, sf_dir, "embeddings")
    sample = (
        e.select("vec_id", "embedding").orderBy("vec_id").limit(_M9_SAMPLE_CAP).collect()
    )
    X = np.asarray([r[1] for r in sample], dtype=np.float64)
    comps, offs = _m9_basis(X)
    p3 = F.array(
        *[
            V.dot("embedding", comps[i]) - F.lit(offs[i])
            for i in range(_M9_DIM)
        ]
    )
    e2 = e.withColumn("p3", p3)
    flagged = OUT.mahalanobis_outliers(e2, "label", "p3", "vec_id", seed=_M9_SEED)
    return (
        flagged.groupBy("label")
        .agg(
            F.sum(F.col("is_outlier").cast("long")).alias("n_outliers"),
            F.count(F.lit(1)).alias("n"),
            F.round(F.avg("mahal"), 5).alias("avg_mahal"),
        )
        .orderBy("label")
    )


def _m9_sql() -> str:
    """Generated oracle for m9: recompute the PCA-3D basis and the seeded
    per-cluster FastMCD fits from the oracle-sf parquet (driver: sf0.01)
    via the SAME shared numpy code, inline location/precision as
    literals, and let DuckDB recompute projection, Mahalanobis, the 95th
    percentile threshold (quantile_cont = np.percentile linear), flags,
    and the per-cluster rollup."""
    import duckdb

    from vector_search_optimization_spark.operators.outliers import (
        location_covariance,
    )

    pdf = duckdb.sql(
        "SELECT vec_id, label, embedding FROM "
        f"'{_oracle_sf_dir()}/embeddings.parquet' ORDER BY vec_id"
    ).df()
    X = np.asarray(pdf["embedding"].tolist(), dtype=np.float64)
    comps, offs = _m9_basis(X)
    P = np.array(
        [[_fold_dot(row, comps[i]) - offs[i] for i in range(_M9_DIM)] for row in X]
    )
    labels = pdf["label"].to_numpy()
    par_rows = []
    for lbl in sorted(set(labels.tolist())):
        Pl = P[labels == lbl]  # already vec_id-ordered
        assert len(Pl) >= 3, "oracle assumes every cluster has >= 3 rows at the oracle sf"
        mu_c, cov_c = location_covariance(Pl, seed=_M9_SEED)
        prec = np.linalg.pinv(cov_c)
        q = [prec[0, 0], prec[1, 1], prec[2, 2],
             prec[0, 1] + prec[1, 0], prec[0, 2] + prec[2, 0],
             prec[1, 2] + prec[2, 1]]
        par_rows.append(
            "(" + ", ".join(
                [str(int(lbl))] + [f"{float(v)!r}" for v in list(mu_c) + q]
            ) + ")"
        )

    def proj(i: int) -> str:
        lits = ", ".join(f"{float(c)!r}" for c in comps[i])
        return (
            "list_reduce(list_transform(list_zip(embedding, "
            f"[{lits}]), p -> CAST(p[1] AS DOUBLE) * p[2]), (x, y) -> x + y)"
            f" - {float(offs[i])!r}"
        )

    values = ",\n".join(par_rows)
    return f"""
WITH base AS (
  SELECT label,
         {proj(0)} AS p1,
         {proj(1)} AS p2,
         {proj(2)} AS p3
  FROM embeddings
),
par AS (
  SELECT * FROM (VALUES
{values}
  ) t(label, m1, m2, m3, q11, q22, q33, q12, q13, q23)
),
scored AS (
  SELECT b.label,
         sqrt(greatest(
             (p1-m1)*(p1-m1)*q11 + (p2-m2)*(p2-m2)*q22 + (p3-m3)*(p3-m3)*q33
           + (p1-m1)*(p2-m2)*q12 + (p1-m1)*(p3-m3)*q13 + (p2-m2)*(p3-m3)*q23,
           0)) AS mahal
  FROM base b JOIN par USING (label)
),
thr AS (SELECT label, quantile_cont(mahal, 0.95) AS thr FROM scored GROUP BY label)
SELECT s.label,
       CAST(sum(CASE WHEN s.mahal > t.thr THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers,
       count(*) AS n,
       round(avg(s.mahal), 5) AS avg_mahal
FROM scored s JOIN thr t USING (label)
GROUP BY s.label
ORDER BY s.label
"""


def m1_kmeans_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M1 — seeded k-means cluster-size histogram (k=8): the centers are
    trained on a driver-bounded vec_id-ordered sample (shared
    _lloyd_kmeans — the Faiss-style quantizer recipe, a pure function of
    the data) and applied as a broadcast argmin over the full table (no
    shuffle; one partial-agg shuffle for the histogram). MLlib kmeans_fit
    (n_init restarts, inertia, k-means||) remains the operator API —
    invariants in tests/test_clustering.py; k-means|| init depends on
    data partitioning, so THIS registered formulation trades it for the
    sample-trained quantizer to be cross-engine reproducible: _m1_sql()
    re-derives identical centers and DuckDB recomputes the assignment
    histogram (reference: main-script1.ipynb KMeans(n_clusters, seed)
    cluster-size table)."""
    e = load_table(spark, sf_dir, "embeddings")
    cents = ann.train_ivf_centroids(e.orderBy("vec_id"), num_cells=8)
    assigned = ann.assign_ivf_cells(e, cents)
    return (
        assigned.groupBy(F.col("cell").alias("cluster"))
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.desc("n"), "cluster")
    )


def _m1_sql() -> str:
    """Generated oracle for m1 (at the oracle sf, driver: sf0.01):
    re-derive the seeded centers via the shared _lloyd_kmeans on the
    identically-ordered data (float32 round-trip like the centroid
    DataFrame), then DuckDB recomputes per-row argmin assignment
    (struct-min: ties → lowest cluster id, matching np.argmin) and the
    size histogram."""
    import duckdb

    from vector_search_optimization_spark.operators.ann import _lloyd_kmeans

    pdf = duckdb.sql(
        "SELECT vec_id, embedding FROM "
        f"'{_oracle_sf_dir()}/embeddings.parquet' ORDER BY vec_id"
    ).df()
    X = np.asarray(pdf["embedding"].tolist(), dtype=np.float64)
    centers = _lloyd_kmeans(X[:100_000], 8, seed=42, max_iter=20)
    cents = np.asarray(
        [list(map(float, c)) for c in centers], dtype=np.float32
    ).astype(np.float64)

    def cell_dist(i: int) -> str:
        lits = ", ".join(f"{float(x)!r}" for x in cents[i])
        return (
            "list_reduce(list_transform(list_zip(embedding, "
            f"[{lits}]), p -> (CAST(p[1] AS DOUBLE) - p[2]) "
            "* (CAST(p[1] AS DOUBLE) - p[2])), (x, y) -> x + y)"
        )

    structs = ", ".join(
        "{'d': " + cell_dist(i) + f", 'c': {i}}}" for i in range(len(cents))
    )
    return f"""
WITH assigned AS (
  SELECT list_min([{structs}])['c'] AS cluster FROM embeddings
)
SELECT cluster, count(*) AS n FROM assigned
GROUP BY cluster
ORDER BY n DESC, cluster
"""


def m10_pca_variance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M10 — PCA explained-variance ratios (3 components), verifiable
    formulation: the deterministic eigh basis (same driver-bounded sample
    helper as m9) is applied as plan-literal projections and the ratio is
    computed DISTRIBUTEDLY as var_pop(projection) / total variance, with
    total variance = E||x||² - ||E x||² in one pass over the table, a
    declarative form DuckDB can recompute independently."""
    from vector_search_optimization_spark.operators import vector_agg as VA

    e = load_table(spark, sf_dir, "embeddings")
    sample = (
        e.select("vec_id", "embedding").orderBy("vec_id").limit(_M9_SAMPLE_CAP).collect()
    )
    X = np.asarray([r[1] for r in sample], dtype=np.float64)
    comps, offs = _m9_basis(X)
    e2 = e.select(
        *[
            (V.dot("embedding", comps[i]) - F.lit(offs[i])).alias(f"p{i}")
            for i in range(_M9_DIM)
        ],
        V.dot("embedding", "embedding").alias("sq"),
    )
    agg = e2.agg(
        *[F.var_pop(f"p{i}").alias(f"v{i}") for i in range(_M9_DIM)],
        F.avg("sq").alias("msq"),
    ).first()
    mu_full = VA.group_vector_mean(
        e.withColumn("__g", F.lit(1)), "__g", "embedding"
    ).first()["centroid"]
    total = agg["msq"] - _fold_dot(mu_full, mu_full)
    return spark.createDataFrame(
        [(i, float(agg[f"v{i}"]), float(total)) for i in range(_M9_DIM)],
        schema="component int, v double, t double",
    ).select(
        "component", F.round(F.col("v") / F.col("t"), 4).alias("variance_ratio")
    ).orderBy("component")


def _m10_sql() -> str:
    """Generated oracle for m10 (at the oracle sf, driver: sf0.01): inline
    the shared deterministic basis as
    literals; DuckDB independently recomputes the projection variances,
    the total variance (per-coordinate means via generate_subscripts +
    unnest), and the ratios."""
    import duckdb

    pdf = duckdb.sql(
        "SELECT vec_id, embedding FROM "
        f"'{_oracle_sf_dir()}/embeddings.parquet' ORDER BY vec_id"
    ).df()
    X = np.asarray(pdf["embedding"].tolist(), dtype=np.float64)
    comps, offs = _m9_basis(X)

    def proj(i: int) -> str:
        lits = ", ".join(f"{float(c)!r}" for c in comps[i])
        return (
            "list_reduce(list_transform(list_zip(embedding, "
            f"[{lits}]), p -> CAST(p[1] AS DOUBLE) * p[2]), (x, y) -> x + y)"
            f" - {float(offs[i])!r}"
        )

    var_sel = ", ".join(f"var_pop({proj(i)}) AS v{i}" for i in range(_M9_DIM))
    return f"""
WITH coord AS (
  SELECT pos, avg(CAST(val AS DOUBLE)) AS m
  FROM (
    SELECT unnest(embedding) AS val,
           generate_subscripts(embedding, 1) AS pos
    FROM embeddings
  )
  GROUP BY pos
),
totals AS (
  SELECT avg(list_reduce(list_transform(embedding,
             x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), (x, y) -> x + y))
         - (SELECT sum(m * m) FROM coord) AS total
  FROM embeddings
),
vars AS (SELECT {var_sel} FROM embeddings)
SELECT t.component,
       round(CASE t.component WHEN 0 THEN v.v0 WHEN 1 THEN v.v1 ELSE v.v2 END
             / totals.total, 4) AS variance_ratio
FROM (VALUES (0), (1), (2)) t(component), vars v, totals
ORDER BY t.component
"""


_M4_EPS = 1.1
_M4_MIN_SAMPLES = 3

def m4_dbscan_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M4 — DBSCAN cluster-size histogram via the DISTRIBUTED path: grid-
    blocked ε-join (no crossJoin, no driver collect) + pointer-jumping
    connected components. Cluster ids are min-member vec_ids, noise -1.
    Kernel/distributed equivalence is pytest-gated; the DuckDB oracle
    recomputes DBSCAN from its definition with a recursive-CTE closure."""
    from vector_search_optimization_spark.operators import dbscan as DB

    e = load_table(spark, sf_dir, "embeddings")
    lab = DB.dbscan_distributed(e, eps=_M4_EPS, min_samples=_M4_MIN_SAMPLES)
    return (
        lab.groupBy(F.col("dbscan_label").cast("long").alias("dbscan_label"))
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.desc("n"), "dbscan_label")
    )


_M4_D2 = (
    "list_sum(list_transform(list_zip(a.embedding, b.embedding), "
    "p -> (CAST(p[1] AS DOUBLE) - CAST(p[2] AS DOUBLE)) "
    "* (CAST(p[1] AS DOUBLE) - CAST(p[2] AS DOUBLE))))"
)

_M4_SQL = f"""
WITH RECURSIVE
pts AS (SELECT vec_id, embedding FROM embeddings),
neigh AS MATERIALIZED (
    SELECT a.vec_id AS src, b.vec_id AS dst
    FROM pts a JOIN pts b ON a.vec_id <> b.vec_id
    WHERE sqrt({_M4_D2}) <= {_M4_EPS}
),
deg AS (SELECT src, count(*) + 1 AS deg FROM neigh GROUP BY src),
core AS (SELECT src AS pid FROM deg WHERE deg >= {_M4_MIN_SAMPLES}),
core_edges AS (
    SELECT n.src, n.dst FROM neigh n
    JOIN core c1 ON n.src = c1.pid
    JOIN core c2 ON n.dst = c2.pid
),
reach(a, b) AS (
    SELECT src, dst FROM core_edges
    UNION
    SELECT r.a, e.dst FROM reach r JOIN core_edges e ON r.b = e.src
),
core_labels AS (
    SELECT c.pid, least(c.pid, coalesce(min(r.b), c.pid)) AS lbl
    FROM core c LEFT JOIN reach r ON r.a = c.pid
    GROUP BY c.pid
),
border_labels AS (
    SELECT n.src AS pid, min(cl.lbl) AS lbl
    FROM neigh n JOIN core_labels cl ON n.dst = cl.pid
    WHERE n.src NOT IN (SELECT pid FROM core)
    GROUP BY n.src
),
lbls AS (SELECT * FROM core_labels UNION ALL SELECT * FROM border_labels)
SELECT CAST(coalesce(l.lbl, -1) AS BIGINT) AS dbscan_label, count(*) AS n
FROM pts p LEFT JOIN lbls l ON p.vec_id = l.pid
GROUP BY 1
ORDER BY n DESC, dbscan_label
"""


_M4_GRID_EPS = [1.0, 1.1, 1.2]
_M4_GRID_MS = [3, 5, 8]


def m4_grid_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M4 — the reference's eps × min_samples DBSCAN hyperparameter grid
    with silhouette scoring (silhouettes.ipynb:661 c30; the reference
    runs 10×10, the driver-checked sweep is the 3×3 core of that grid).
    Each combo labels via the DISTRIBUTED path (grid-blocked ε-join +
    pointer-jumping CC); the ε-pair table is built once per eps and
    shared across the min_samples axis; combos with < 2 clusters skip
    silhouette (NULL), like the reference's skip branch. Dispatch uses
    the operator's own size heuristic (numpy kernel while the corpus
    fits one task's m² working set, grid-blocked distributed labeling
    beyond — kernel ≡ distributed is pytest-gated in
    test_outliers_dbscan.py). The DuckDB oracle recomputes every combo
    from the DBSCAN definition (shared all-pairs distance CTE, per-combo
    recursive-CTE closure) plus the full pairwise silhouette over each
    combo's clustered subset."""
    from vector_search_optimization_spark.operators import dbscan as DB

    e = load_table(spark, sf_dir, "embeddings")
    res = DB.dbscan_grid_search(e, _M4_GRID_EPS, _M4_GRID_MS)
    rows = [
        (
            r["eps"],
            r["min_samples"],
            r["n_clusters"],
            r["n_noise"],
            None if r["silhouette"] is None else round(r["silhouette"], 4),
        )
        for r in res
    ]
    return spark.createDataFrame(
        rows,
        "eps double, min_samples int, n_clusters long, n_noise long,"
        " silhouette double",
    ).orderBy("eps", "min_samples")


def _m4_grid_sql() -> str:
    """Generated oracle for m4_grid_sweep: one shared all-pairs distance
    CTE (MATERIALIZED: DuckDB inlines a plain CTE at every reference, and
    this one is read by every combo's neighbour and silhouette CTEs),
    then per combo the full DBSCAN derivation (degree → core → recursive
    transitive closure → min-label clusters → border assignment) and the
    exact pairwise silhouette over that combo's clustered subset
    (singletons score 0, sklearn convention — same formulation as
    _M2_SQL)."""
    ctes = [
        "pts AS (SELECT vec_id, embedding FROM embeddings)",
        f"alldist AS MATERIALIZED (\n"
        f"  SELECT a.vec_id AS i, b.vec_id AS j, sqrt({_M4_D2}) AS dist\n"
        f"  FROM pts a JOIN pts b ON a.vec_id <> b.vec_id\n"
        f")",
    ]
    for ei, eps in enumerate(_M4_GRID_EPS):
        ctes.append(
            f"neigh_{ei} AS (SELECT i AS src, j AS dst FROM alldist"
            f" WHERE dist <= {eps})"
        )
        ctes.append(
            f"deg_{ei} AS (SELECT src, count(*) + 1 AS deg FROM neigh_{ei}"
            f" GROUP BY src)"
        )
    selects = []
    for ei, eps in enumerate(_M4_GRID_EPS):
        for ms in _M4_GRID_MS:
            c = f"{ei}_{ms}"
            ctes.append(
                f"core_{c} AS (SELECT src AS pid FROM deg_{ei}"
                f" WHERE deg >= {ms})"
            )
            ctes.append(
                f"core_edges_{c} AS (\n"
                f"  SELECT n.src, n.dst FROM neigh_{ei} n\n"
                f"  JOIN core_{c} c1 ON n.src = c1.pid\n"
                f"  JOIN core_{c} c2 ON n.dst = c2.pid\n"
                f")"
            )
            ctes.append(
                f"reach_{c}(a, b) AS (\n"
                f"  SELECT src, dst FROM core_edges_{c}\n"
                f"  UNION\n"
                f"  SELECT r.a, e.dst FROM reach_{c} r"
                f" JOIN core_edges_{c} e ON r.b = e.src\n"
                f")"
            )
            ctes.append(
                f"core_labels_{c} AS (\n"
                f"  SELECT c.pid, least(c.pid, coalesce(min(r.b), c.pid))"
                f" AS lbl\n"
                f"  FROM core_{c} c LEFT JOIN reach_{c} r ON r.a = c.pid\n"
                f"  GROUP BY c.pid\n"
                f")"
            )
            ctes.append(
                f"border_labels_{c} AS (\n"
                f"  SELECT n.src AS pid, min(cl.lbl) AS lbl\n"
                f"  FROM neigh_{ei} n"
                f" JOIN core_labels_{c} cl ON n.dst = cl.pid\n"
                f"  WHERE n.src NOT IN (SELECT pid FROM core_{c})\n"
                f"  GROUP BY n.src\n"
                f")"
            )
            ctes.append(
                f"assign_{c} AS (\n"
                f"  SELECT p.vec_id, coalesce(l.lbl, -1) AS lbl\n"
                f"  FROM pts p LEFT JOIN (SELECT * FROM core_labels_{c}"
                f" UNION ALL SELECT * FROM border_labels_{c}) l"
                f" ON p.vec_id = l.pid\n"
                f")"
            )
            ctes.append(
                f"agg_{c} AS (\n"
                f"  SELECT d.i, ai.lbl AS li, aj.lbl AS lj,"
                f" sum(d.dist) / count(*) AS mean_d\n"
                f"  FROM alldist d\n"
                f"  JOIN assign_{c} ai ON ai.vec_id = d.i AND ai.lbl >= 0\n"
                f"  JOIN assign_{c} aj ON aj.vec_id = d.j AND aj.lbl >= 0\n"
                f"  GROUP BY d.i, ai.lbl, aj.lbl\n"
                f")"
            )
            ctes.append(
                f"ab_{c} AS (\n"
                f"  SELECT i, max(CASE WHEN lj = li THEN mean_d END) AS a,\n"
                f"         min(CASE WHEN lj <> li THEN mean_d END) AS b\n"
                f"  FROM agg_{c} GROUP BY i\n"
                f")"
            )
            selects.append(
                f"SELECT CAST({eps} AS DOUBLE) AS eps,"
                f" CAST({ms} AS INTEGER) AS min_samples,\n"
                f"  (SELECT count(DISTINCT lbl) FROM assign_{c}"
                f" WHERE lbl >= 0) AS n_clusters,\n"
                f"  (SELECT count(*) FROM assign_{c} WHERE lbl < 0)"
                f" AS n_noise,\n"
                f"  CASE WHEN (SELECT count(DISTINCT lbl) FROM assign_{c}"
                f" WHERE lbl >= 0) >= 2\n"
                f"       THEN (SELECT round(avg(CASE WHEN a IS NULL THEN 0.0"
                f" ELSE (b - a) / greatest(a, b) END), 4) FROM ab_{c})\n"
                f"       ELSE NULL END AS silhouette"
            )
    return (
        "WITH RECURSIVE\n"
        + ",\n".join(ctes)
        + "\n"
        + "\nUNION ALL\n".join(selects)
        + "\nORDER BY eps, min_samples"
    )


# ---------------------------------------------------------------------------
# graph stage (SURVEY §2.10) over events (user ~ document, event_type ~ cluster)
# ---------------------------------------------------------------------------

def g1_cooccurrence_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """G1/J10 — weighted co-occurrence edges: #users in which each pair of
    event_types co-occurs (analisis-informe.ipynb:2558 c76 shape)."""
    e = load_table(spark, sf_dir, "events")
    return SIM.cooccurrence_edges(e, "user_id", "event_type")


_G1_SQL = """
WITH nodes AS (SELECT DISTINCT user_id, event_type FROM events)
SELECT a.event_type AS src, b.event_type AS dst, count(*) AS weight
FROM nodes a JOIN nodes b
  ON a.user_id = b.user_id AND a.event_type < b.event_type
GROUP BY a.event_type, b.event_type
"""


def g2_communities(spark: SparkSession, sf_dir: str) -> DataFrame:
    """G2 — greedy-modularity communities + modularity on the co-occurrence
    graph (Spark builds the edge list at scale — the J10 self-join; the
    37-node graph algorithm runs driver-side, SURVEY §2.10). Value oracle:
    _g2_sql() re-derives the partition with the same order-deterministic
    kernel and inlines ONLY the assignment as literals — DuckDB
    independently rebuilds the edge list from events and recomputes sizes,
    sorted member lists, and the Newman modularity Q."""
    from vector_search_optimization_spark.operators import graph as G

    e = load_table(spark, sf_dir, "events")
    verts, edges = G.build_cluster_graph(e, "user_id", "event_type")
    res = G.detect_communities(edges, vertices_df=verts)
    rows = [
        (i, len(c), ",".join(map(str, c)), round(res["modularity"], 4))
        for i, c in enumerate(res["communities"])
    ]
    return spark.createDataFrame(
        rows, schema="community int, size bigint, members string, modularity double"
    )


def _g2_sql() -> str:
    """Generated oracle for g2 (at the oracle sf, driver: sf0.01): run the
    shared Spark-free kernel over the DuckDB-rebuilt G1 edge list, inline
    the (node, community) assignment as literals, and let DuckDB recompute
    everything derivable: community sizes, ','-joined sorted members, and
    Q = Σ_intra 2w/2m − Σ_c (deg_c/2m)²."""
    import duckdb

    from vector_search_optimization_spark.operators.graph import (
        detect_communities_kernel,
    )

    con = duckdb.connect()
    con.execute(
        "CREATE VIEW events AS SELECT * FROM "
        f"'{_oracle_sf_dir()}/events.parquet'"
    )
    epdf = con.sql(_G1_SQL).df()
    vpdf = con.sql("SELECT DISTINCT event_type AS id FROM events").df()
    con.close()
    edges = list(
        zip(epdf["src"].tolist(), epdf["dst"].tolist(), epdf["weight"].tolist())
    )
    nodes = set(vpdf["id"].tolist())
    res = detect_communities_kernel(nodes, edges)
    assign = ",\n".join(
        f"('{n}', {i})"
        for i, c in enumerate(res["communities"])
        for n in c
    )
    return f"""
WITH nodes AS (SELECT DISTINCT user_id, event_type FROM events),
edges AS (
  SELECT a.event_type AS src, b.event_type AS dst,
         CAST(count(*) AS DOUBLE) AS w
  FROM nodes a JOIN nodes b
    ON a.user_id = b.user_id AND a.event_type < b.event_type
  GROUP BY 1, 2
),
assign AS (SELECT * FROM (VALUES
{assign}
) t(id, community)),
two_m AS (SELECT 2.0 * sum(w) AS m2 FROM edges),
intra AS (
  SELECT coalesce(sum(2.0 * e.w), 0.0) AS s
  FROM edges e
  JOIN assign ca ON ca.id = e.src
  JOIN assign cb ON cb.id = e.dst
  WHERE ca.community = cb.community
),
deg AS (
  SELECT id, sum(w) AS d
  FROM (SELECT src AS id, w FROM edges UNION ALL SELECT dst AS id, w FROM edges)
  GROUP BY id
),
ctot AS (
  SELECT a.community, sum(coalesce(deg.d, 0.0)) AS dc
  FROM assign a LEFT JOIN deg ON deg.id = a.id
  GROUP BY a.community
),
q AS (
  SELECT round((SELECT s FROM intra) / (SELECT m2 FROM two_m)
       - (SELECT sum((dc / (SELECT m2 FROM two_m)) ** 2) FROM ctot), 4) AS modularity
)
SELECT CAST(a.community AS INTEGER) AS community,
       count(*) AS size,
       string_agg(a.id, ',' ORDER BY a.id) AS members,
       q.modularity
FROM assign a, q
GROUP BY a.community, q.modularity
ORDER BY community
"""


def ep3_label_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EP1/EP3 — the FULL label-and-writeback ETL, value-oracled end to
    end: scan → seeded-Lloyd cluster → near/far interleave sample (id
    tie-broken) → char-budget concat → deterministic fake-LLM label per
    cluster in sorted order → keyed upsert writeback → audit enriched
    with the exact prompt-corpus length + sha256. quantizer="lloyd" is
    what makes the pipeline cross-engine reproducible (MLlib KMeans'
    parallel init is not bit-reproducible outside Spark — that API path
    stays covered by pytest, tests/test_graph_plans_streaming.py);
    the sha value-checks the whole sampling/truncation path, and DuckDB
    independently recomputes n_docs from literal centroids. Reference:
    update-etiquetas.ipynb:171 c9 end-to-end."""
    from vector_search_optimization_spark.plans import (
        FakeChatModel,
        cluster_label_pipeline,
    )

    e = load_table(spark, sf_dir, "embeddings").select(
        F.col("vec_id").alias("id"),
        F.concat(F.lit("doc "), F.col("vec_id")).alias("content"),
        F.col("embedding").alias("content_vector"),
    )
    res = cluster_label_pipeline(
        e, k=8, llm=FakeChatModel(), sample_k=20, token_budget=25,
        quantizer="lloyd",
    )
    return res["audit"].orderBy("etiqueta_cluster")


def ep3_lloyd_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EP3 with a FULL value oracle: the labeling pipeline re-based on the
    cross-engine-reproducible seeded Lloyd quantizer (m1's formulation) —
    assign → deterministic near/far interleave (ties broken by id) →
    ordered concat under a char budget → deterministic fake-LLM label per
    cluster (call order = sorted cluster id) → audit. Output per cluster:
    (etiqueta_cluster, n_docs, corpus_chars, corpus_sha) — the sha256 of
    the exact prompt corpus value-checks the whole sampling path
    (interleave order, concat, truncation), which the rows-only MLlib
    ep3_label_pipeline cannot. n_docs is independently recomputed by
    DuckDB via the literal-centroid struct-min assignment; the corpus
    stats come from the python twin sharing _pairwise/_lloyd_kmeans.
    Reference: update-etiquetas.ipynb:171 c9 end-to-end."""
    import hashlib

    from vector_search_optimization_spark.operators.nearest_centroid import (
        nearest_centroid,
    )
    from vector_search_optimization_spark.plans import FakeChatModel

    e = load_table(spark, sf_dir, "embeddings")
    docs = e.select(
        F.col("vec_id").alias("id"),
        F.concat(F.lit("doc "), F.col("vec_id")).alias("content"),
        F.col("embedding"),
    )
    cents = ann.train_ivf_centroids(e.orderBy("vec_id"), num_cells=8)
    assigned = nearest_centroid(
        docs, cents, vector_col="embedding",
        label_col="cell", metric="sqeuclidean",
        out_label="cluster", out_dist="dist",
    ).persist()

    k, budget_chars = 20, 100
    w_near = Window.partitionBy("cluster").orderBy(
        F.col("dist").asc(), F.col("id").asc()
    )
    w_far = Window.partitionBy("cluster").orderBy(
        F.col("dist").desc(), F.col("id").asc()
    )
    ranked = assigned.withColumn(
        "__rn", F.row_number().over(w_near)
    ).withColumn("__rf", F.row_number().over(w_far))
    near = ranked.where(F.col("__rn") <= k).select(
        "cluster", "id", "content", (F.col("__rn") * 2 - 1).alias("ord")
    )
    far = ranked.where(F.col("__rf") <= k).select(
        "cluster", "id", "content", (F.col("__rf") * 2).alias("ord")
    )
    # k cluster rows, sorted on the driver (the fake LLM's call order)
    corpora = sorted(
        near.unionByName(far)
        .groupBy("cluster")
        .agg(
            F.substring(
                F.concat_ws(
                    "\n",
                    F.transform(
                        F.array_sort(
                            F.collect_list(F.struct("ord", "id", "content"))
                        ),
                        lambda r: r["content"],
                    ),
                ),
                1,
                budget_chars,
            ).alias("corpus")
        )
        .collect(),
        key=lambda r: r["cluster"],
    )
    llm = FakeChatModel()
    stats = [
        (
            int(r["cluster"]),
            llm(r["corpus"]),
            len(r["corpus"]),
            hashlib.sha256(r["corpus"].encode()).hexdigest(),
        )
        for r in corpora
    ]
    stats_df = spark.createDataFrame(
        stats,
        "cluster long, etiqueta_cluster string, corpus_chars int, corpus_sha string",
    )
    hist = assigned.groupBy("cluster").agg(F.count(F.lit(1)).alias("n_docs"))
    return (
        hist.join(F.broadcast(stats_df), "cluster")
        .select("etiqueta_cluster", "n_docs", "corpus_chars", "corpus_sha")
        .orderBy("etiqueta_cluster")
    )


def _ep3_sql(metric: str) -> str:
    """Generated oracle shared by ep3_lloyd_audit (metric="sqeuclidean")
    and ep3_label_pipeline (metric="euclidean", the pipeline's
    nearest_centroid default — mirrored exactly so tie-breaks resolve
    identically): python twin of the sampling path (shared _pairwise +
    _lloyd_kmeans — bit-identical distances), corpus stats as literals,
    n_docs recomputed by DuckDB from literal centroids."""
    import hashlib

    import duckdb

    from vector_search_optimization_spark.operators.ann import _lloyd_kmeans
    from vector_search_optimization_spark.operators.nearest_centroid import (
        _pairwise,
    )

    pdf = duckdb.sql(
        "SELECT vec_id, embedding FROM "
        f"'{_oracle_sf_dir()}/embeddings.parquet' ORDER BY vec_id"
    ).df()
    X = np.asarray(pdf["embedding"].tolist(), dtype=np.float64)
    ids = pdf["vec_id"].to_numpy()
    centers = _lloyd_kmeans(X[:100_000], 8, seed=42, max_iter=20)
    cents = np.asarray(
        [list(map(float, c)) for c in centers], dtype=np.float32
    ).astype(np.float64)
    d = _pairwise(X, cents, metric)
    arg = d.argmin(axis=1)
    dist = d[np.arange(len(arg)), arg]

    k, budget_chars = 20, 100
    lit_rows = []
    for idx, c in enumerate(sorted(set(int(a) for a in arg))):
        mem = [
            (float(dist[i]), int(ids[i]), f"doc {int(ids[i])}")
            for i in range(len(ids))
            if arg[i] == c
        ]
        near = sorted(mem, key=lambda m: (m[0], m[1]))[:k]
        far = sorted(mem, key=lambda m: (-m[0], m[1]))[:k]
        rows = [(2 * r + 1, m[1], m[2]) for r, m in enumerate(near)] + [
            (2 * r + 2, m[1], m[2]) for r, m in enumerate(far)
        ]
        rows.sort()
        corpus = "\n".join(r[2] for r in rows)[:budget_chars]
        lit_rows.append(
            (
                c,
                f"label-{idx}",
                len(corpus),
                hashlib.sha256(corpus.encode()).hexdigest(),
            )
        )

    def cell_dist(i: int) -> str:
        lits = ", ".join(f"{float(x)!r}" for x in cents[i])
        return (
            "list_reduce(list_transform(list_zip(embedding, "
            f"[{lits}]), p -> (CAST(p[1] AS DOUBLE) - p[2]) "
            "* (CAST(p[1] AS DOUBLE) - p[2])), (x, y) -> x + y)"
        )

    structs = ", ".join(
        "{'d': " + cell_dist(i) + f", 'c': {i}}}" for i in range(len(cents))
    )
    values = ", ".join(
        f"({c}, '{lbl}', {n}, '{sha}')" for c, lbl, n, sha in lit_rows
    )
    return f"""
WITH assigned AS (
  SELECT list_min([{structs}])['c'] AS cluster FROM embeddings
), hist AS (
  SELECT cluster, count(*) AS n_docs FROM assigned GROUP BY cluster
), lit AS (
  SELECT * FROM (VALUES {values})
         AS t(cluster, etiqueta_cluster, corpus_chars, corpus_sha)
)
SELECT l.etiqueta_cluster, h.n_docs,
       CAST(l.corpus_chars AS INTEGER) AS corpus_chars, l.corpus_sha
FROM hist h JOIN lit l USING (cluster)
ORDER BY etiqueta_cluster
"""


def _ep3_lloyd_sql() -> str:
    return _ep3_sql("sqeuclidean")


def _ep3_pipeline_sql() -> str:
    return _ep3_sql("euclidean")


def o7_interleave(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O7 — interleave 2 nearest + 2 farthest events per user by value
    (the labeling-prompt sampling pattern, update-etiquetas.ipynb:171 c9);
    event_id tie-break mirrors the oracle's window ORDER BY exactly (two
    equal values per user would otherwise leave the pick to Spark)."""
    e = load_table(spark, sf_dir, "events")
    out = topk.interleave_near_far(e, "user_id", "value", k=2, tie_col="event_id")
    return out.select("user_id", "event_id", "side", "ord")


_O7_SQL = """
WITH ranked AS (
  SELECT user_id, event_id,
         row_number() OVER (PARTITION BY user_id ORDER BY value ASC, event_id) AS rn,
         row_number() OVER (PARTITION BY user_id ORDER BY value DESC, event_id) AS rf
  FROM events
)
SELECT user_id, event_id, 'near' AS side, rn * 2 - 1 AS ord FROM ranked WHERE rn <= 2
UNION ALL
SELECT user_id, event_id, 'far' AS side, rf * 2 AS ord FROM ranked WHERE rf <= 2
"""


def j5_literal_map(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J5 (dict-map form) — tiny literal lookup as a map expression, the
    Spark idiom for pandas .map(color_mapping) (main-script1.ipynb:696 c26)."""
    e = load_table(spark, sf_dir, "events")
    color = F.create_map(
        F.lit("click"), F.lit("blue"),
        F.lit("view"), F.lit("green"),
        F.lit("purchase"), F.lit("gold"),
        F.lit("signup"), F.lit("purple"),
        F.lit("error"), F.lit("red"),
    )
    return (
        e.select(F.coalesce(color[F.col("event_type")], F.lit("gray")).alias("color"))
        .groupBy("color")
        .agg(F.count(F.lit(1)).alias("n"))
    )


_J5_MAP_SQL = """
SELECT CASE event_type
         WHEN 'click' THEN 'blue' WHEN 'view' THEN 'green'
         WHEN 'purchase' THEN 'gold' WHEN 'signup' THEN 'purple'
         WHEN 'error' THEN 'red' ELSE 'gray' END AS color,
       count(*) AS n
FROM events GROUP BY 1
"""


def m2_silhouette(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M2 — euclidean silhouette of the true label clustering
    (nuevo-kmeans-pre.ipynb:284 c14; sklearn silhouette_score semantics).
    sample_size=2000 >= n at oracle/bench scale, so the distributed
    kernel computes the FULL silhouette and the O(n^2) DuckDB pair
    formulation is an exact oracle for it. Scale path: only the sample is
    collected/broadcast; distance sums accumulate executor-side."""
    from vector_search_optimization_spark.operators import clustering as C

    e = load_table(spark, sf_dir, "embeddings")
    sil = C.silhouette_exact_distributed(e, "embedding", "label", id_cols=["vec_id"])
    return spark.createDataFrame(
        [(round(sil, 4),)], schema="silhouette double"
    )


# Full euclidean silhouette as pairwise SQL: per point, a = mean distance to
# own-label others, b = min over other labels of mean distance; singleton
# clusters score 0 (sklearn convention).
_M2_SQL = """
WITH d AS (
  SELECT a.vec_id AS i, a.label AS li, b.label AS lj,
         sqrt(list_reduce(list_transform(list_zip(a.embedding, b.embedding),
              p -> (CAST(p[1] AS DOUBLE) - CAST(p[2] AS DOUBLE)) ** 2),
              (x, y) -> x + y)) AS dist
  FROM embeddings a JOIN embeddings b ON a.vec_id <> b.vec_id
), agg AS (
  SELECT i, li, lj, sum(dist) / count(*) AS mean_d
  FROM d GROUP BY i, li, lj
), ab AS (
  SELECT i,
         max(CASE WHEN lj = li THEN mean_d END) AS a,
         min(CASE WHEN lj <> li THEN mean_d END) AS b
  FROM agg GROUP BY i
)
SELECT round(avg(CASE WHEN a IS NULL THEN 0.0
                      ELSE (b - a) / greatest(a, b) END), 4) AS silhouette
FROM ab
"""


def f7_string_caps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F7 — capitalize + first-char-upper predicate
    (nuevo-kmeans-pre.ipynb:63 c5)."""
    d = load_table(spark, sf_dir, "documents")
    cap = F.concat(
        F.upper(F.substring("source", 1, 1)), F.lower(F.expr("substring(source, 2)"))
    )
    return (
        d.select(
            cap.alias("source_cap"),
            F.substring("source", 1, 1).rlike("[A-Z]").alias("was_upper"),
        )
        .groupBy("source_cap", "was_upper")
        .agg(F.count(F.lit(1)).alias("n"))
    )


_F7_SQL = """
SELECT upper(substr(source, 1, 1)) || lower(substr(source, 2)) AS source_cap,
       regexp_matches(substr(source, 1, 1), '[A-Z]') AS was_upper,
       count(*) AS n
FROM documents GROUP BY 1, 2
"""


# ---------------------------------------------------------------------------
# events: windowed / sessionized analytics (streaming-parity batch plans)
# ---------------------------------------------------------------------------

def evt_tumbling_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling 1-hour windows per event_type: the streaming plan of
    streaming/windows.py run over the batch table (the optimizer drops
    the watermark from a batch plan; window start exported as epoch
    seconds)."""
    from vector_search_optimization_spark.streaming import windows as SW

    return SW.tumbling_window_agg(load_table(spark, sf_dir, "events"))


_EVT_WINDOW_SQL = """
SELECT CAST(floor(epoch(ts) / 3600) * 3600 AS BIGINT) AS window_start,
       event_type, count(*) AS n, round(sum(value), 4) AS sum_value
FROM events GROUP BY 1, 2
"""


def evt_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-granularity rollup (GROUPING SETS): per-(event_type, hour)
    totals, per-event_type subtotals, and the grand total in ONE pass —
    Spark compiles the rollup to a single Expand + aggregate, so the
    three report levels cost one shuffle, not three jobs (the engine-side
    version of the reference's layered report tables,
    main-script1.ipynb:1141 c41 family). grouping_level disambiguates
    rows (0=leaf, 1=per-type, 3=grand total)."""
    e = load_table(spark, sf_dir, "events")
    hours = e.select(
        "event_type",
        (F.floor(F.unix_timestamp("ts") / 3600) * 3600).alias("hour_start"),
        "value",
    )
    return (
        hours.rollup("event_type", "hour_start")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("value"), 4).alias("sum_value"),
            F.grouping_id().alias("grouping_level"),
        )
        .select(
            "event_type", "hour_start", "n", "sum_value", "grouping_level"
        )
    )


_EVT_ROLLUP_SQL = """
SELECT event_type,
       CAST(floor(epoch(ts) / 3600) * 3600 AS BIGINT) AS hour_start,
       count(*) AS n, round(sum(value), 4) AS sum_value,
       CAST(GROUPING(event_type) * 2 + GROUPING(hour_start) AS BIGINT)
         AS grouping_level
FROM events
GROUP BY ROLLUP(event_type, hour_start)
"""


def evt_sliding_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding windows (1h length, 15m slide): each event lands in 4
    overlapping windows (streaming/windows.py sliding_window_agg over the
    batch table)."""
    from vector_search_optimization_spark.streaming import windows as SW

    return SW.sliding_window_agg(load_table(spark, sf_dir, "events"))


_EVT_SLIDING_SQL = """
WITH expanded AS (
  SELECT event_type,
         CAST(floor(epoch(ts) / 900) * 900 - s.off AS BIGINT) AS window_start
  FROM events
  CROSS JOIN (SELECT unnest([0, 900, 1800, 2700]) AS off) s
)
SELECT window_start, event_type, count(*) AS n
FROM expanded GROUP BY 1, 2
"""


def minhash_verified_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-stage near-dup pipeline: MinHash-LSH candidates verified by
    exact char-5-gram jaccard (the standard candidates->verify split).
    Poly shingle hash → the candidate set and the verification jaccard
    both have a DuckDB value oracle (_minhash_verified_sql)."""
    d = load_table(spark, sf_dir, "documents")
    sigs = dedup.minhash_signatures_kernel(d)
    cands = dedup.minhash_lsh_candidates(sigs, num_hashes=64)
    return dedup.ngram_jaccard_pairs(d, cands)


# LSH candidates (>=1 agreeing band, no estimate threshold) verified by
# exact char-5-gram jaccard on lower(trim(text)), matching
# dedup.ngram_jaccard_pairs semantics (distinct grams, short-text
# fallback to the whole string, union==0 -> 0.0). Appended after
# _minhash_sigs_sql(); exposes the `vpairs` CTE.
_VERIFIED_PAIRS_CTES = r""", grams AS (
  SELECT doc_id, CASE WHEN length(t) >= 5 THEN
      list_distinct(list_transform(range(1, length(t) - 3), j -> substring(t, j, 5)))
    ELSE [t] END AS g
  FROM (SELECT doc_id, lower(trim(text)) AS t FROM documents)
), vpairs AS (
  SELECT id_a, id_b,
         round(CASE WHEN un = 0 THEN 0.0 ELSE CAST(inter AS DOUBLE) / un END, 6) AS jaccard
  FROM (
    SELECT c.id_a, c.id_b,
           len(list_intersect(ga.g, gb.g)) AS inter,
           len(ga.g) + len(gb.g) - len(list_intersect(ga.g, gb.g)) AS un
    FROM (SELECT id_a, id_b FROM banded WHERE nbands >= 1) c
    JOIN grams ga ON ga.doc_id = c.id_a
    JOIN grams gb ON gb.doc_id = c.id_b
  )
  WHERE round(CASE WHEN un = 0 THEN 0.0 ELSE CAST(inter AS DOUBLE) / un END, 6) >= 0.5
)"""


def _minhash_verified_sql() -> str:
    return (
        _minhash_sigs_sql()
        + _VERIFIED_PAIRS_CTES
        + "\nSELECT id_a, id_b, jaccard FROM vpairs"
    )


def incremental_corpus_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nightly-ingest dedup: a new batch (doc_id % 10 == 0, ~10% of the
    corpus) band-probes the EXISTING corpus's persisted minhash index
    (dedup.minhash_band_rows — at lake scale a bucket-sorted table;
    the append→probe consistency of that layout is pytest-pinned in
    tests/test_dedup.py) instead of re-deduping the whole corpus, then
    candidates verify with exact char-5-gram jaccard
    (dedup.ngram_jaccard_pairs). One map-side signature pass over the
    batch, one broadcast probe over the index — the corpus never
    shuffles and is never re-signatured. Oracle: DuckDB rebuilds
    signatures for both sides from the shared poly-hash literals and
    recomputes batch×corpus banding + exact verification itself."""
    d = load_table(spark, sf_dir, "documents")
    corpus = d.where(F.col("doc_id") % 10 != 0)
    batch = d.where(F.col("doc_id") % 10 == 0)
    corpus_bands = dedup.minhash_band_rows(
        dedup.minhash_signatures_kernel(corpus), num_hashes=64
    )
    cands = dedup.minhash_probe_corpus(batch, corpus_bands)
    verified = dedup.ngram_jaccard_pairs(d, cands)
    return verified.select(
        F.col("id_a").alias("batch_id"),
        F.col("id_b").alias("corpus_id"),
        "jaccard",
    )


def _incremental_dedup_sql() -> str:
    return (
        _minhash_sigs_sql(pair_on="a.doc_id % 10 = 0 AND b.doc_id % 10 <> 0")
        + _VERIFIED_PAIRS_CTES
        + "\nSELECT id_a AS batch_id, id_b AS corpus_id, jaccard FROM vpairs"
    )


def ngram_jaccard_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT-threshold n-gram Jaccard near-dup join (no LSH, no false
    negatives): AllPairs/PPJoin prefix filtering over word-3-shingle
    sets — rarest-first global token order, probing prefix
    |d|-ceil(t|d|)+1, length filter, then exact |A∩B|/|A∪B| verify
    (dedup.jaccard_similarity_join). Complements minhash_near_dup: same
    pair semantics, exact instead of probabilistic. Oracle: DuckDB
    computes the full all-pairs exact jaccard (feasible at oracle sf) —
    the driver gate therefore checks prefix-filter COMPLETENESS, not
    just precision. Shingle hash is the shared SQL-expressible poly
    hash (functions.text.poly_hash)."""
    d = load_table(spark, sf_dir, "documents")
    return dedup.jaccard_similarity_join(d)


# all-pairs exact-jaccard CTEs over the word-3-shingle hash sets —
# shared by the ngram-jaccard dedup oracle and the split-leakage oracle
_JACCARD_HS_JP = f""", hs AS (
  SELECT doc_id, list_distinct(list_transform(shingles, s -> {_POLY_SQL.format(s='s', base=TX.POLY_BASE)})) AS h FROM sh
), jp AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
         CAST(len(list_filter(a.h, v -> list_contains(b.h, v))) AS DOUBLE) AS i,
         CAST(len(a.h) + len(b.h) AS DOUBLE) AS t
  FROM hs a JOIN hs b ON a.doc_id < b.doc_id
)"""

_NGRAM_JACCARD_SQL = (
    _MINHASH_SHINGLE_SQL.format(n=3, nm1=2)
    + _JACCARD_HS_JP
    + """
SELECT id_a, id_b, round(i / (t - i), 6) AS jaccard
FROM jp WHERE round(i / (t - i), 6) >= 0.5"""
)


def dedup_canonical_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup canonicalization end-to-end: MinHash-LSH candidates →
    exact 5-gram jaccard verify → connected components over the verified
    pair graph (graph.connected_components: min-label propagation +
    pointer jumping, O(log n) rounds) → one canonical survivor (min
    doc_id) per duplicate group with the group size. The "keep one copy
    per dup cluster" step of a training-data pipeline; transitive dups
    (A~B, B~C, A!~C) land in ONE group, which pairwise output can't
    express. Oracle: same pair graph, DuckDB recursive-CTE closure."""
    d = load_table(spark, sf_dir, "documents")
    sigs = dedup.minhash_signatures_kernel(d)
    cands = dedup.minhash_lsh_candidates(sigs, num_hashes=64)
    verified = dedup.ngram_jaccard_pairs(d, cands)
    return dedup.canonical_duplicate_groups(verified)


def _dedup_canonical_sql() -> str:
    head = (_minhash_sigs_sql() + _VERIFIED_PAIRS_CTES).replace(
        "WITH toks", "WITH RECURSIVE toks", 1
    )
    return (
        head
        + r""", cedges AS (
  SELECT id_a AS a, id_b AS b FROM vpairs
  UNION ALL
  SELECT id_b AS a, id_a AS b FROM vpairs
), reach(a, b) AS (
  SELECT a, b FROM cedges
  UNION
  SELECT r.a, e.b FROM reach r JOIN cedges e ON r.b = e.a
), lbls AS (
  SELECT a AS id, least(a, min(b)) AS comp FROM reach GROUP BY a
)
SELECT CAST(comp AS BIGINT) AS canonical_id, CAST(count(*) AS BIGINT) AS group_size
FROM lbls GROUP BY comp HAVING count(*) >= 2
ORDER BY group_size DESC, canonical_id"""
    )


def evt_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sessionization: 30-min inactivity gap, per-user session count + the
    longest session's event count (lag + cumsum islands)."""
    e = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    # unix_timestamp (not cast-to-long): ANSI mode rejects TIMESTAMP_NTZ→BIGINT
    # casts, and the session TZ is pinned UTC by load_table so the epoch
    # matches DuckDB's floor(epoch(ts)) exactly
    sec = F.unix_timestamp(F.col("ts"))
    gap = sec - F.lag(sec).over(w)
    sess = (
        e.withColumn("new_sess", F.when(gap.isNull() | (gap > 1800), 1).otherwise(0))
        .withColumn(
            "sess_id",
            F.sum("new_sess").over(w.rowsBetween(Window.unboundedPreceding, 0)),
        )
        .groupBy("user_id", "sess_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
    )
    return sess.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_sessions"),
        F.max("n_events").alias("max_session_events"),
    )


_EVT_SESSIONS_SQL = """
WITH gaps AS (
  SELECT user_id, event_id, ts,
         CASE WHEN lag(ts) OVER w IS NULL
               OR floor(epoch(ts)) - floor(epoch(lag(ts) OVER w)) > 1800
              THEN 1 ELSE 0 END AS new_sess
  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
), sess AS (
  SELECT user_id,
         sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sess_id
  FROM gaps
), per_sess AS (
  SELECT user_id, sess_id, count(*) AS n_events FROM sess GROUP BY user_id, sess_id
)
SELECT user_id, count(*) AS n_sessions, max(n_events) AS max_session_events
FROM per_sess GROUP BY user_id
"""


def evt_gap_fill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Regular-grid resample with gap filling (the time-series densify /
    pandas-asfreq-ffill staple): per event_type, an hourly spine over
    the observed global range (generated dimension — sequence + explode,
    bounded by types × hours), left join of hourly aggregates, missing
    hours carried as n=0 with the last observed hourly sum
    forward-filled per type (one window shuffle over the tiny spine).
    ONE fact scan: the hourly aggregate is persisted (tiny types ×
    active-hours frame) and the spine's bounds and type list
    re-aggregate IT, not the fact table. Hours export as epoch seconds
    and the carried metric is the tie-free rounded sum (see the inline
    note on mean rounding ties)."""
    e = load_table(spark, sf_dir, "events")
    hb = F.date_trunc("hour", F.col("ts"))
    # the carried metric is the ROUNDED SUM, deliberately not the mean:
    # per-bucket means of 2-decimal values land exactly on rounding-tie
    # boundaries (378.03/8 = 47.253750) where HALF_UP vs float-repr
    # behavior diverges across engines at ANY export precision, while
    # round(sum, 2) of decimal-valued data sits >= 0.005 - 1e-10 from
    # every boundary — tie-free (readers derive means from sum/n)
    agg = (
        e.groupBy("event_type", hb.alias("h"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 2).alias("sum_value"),
        )
        .persist()
    )
    bounds = agg.agg(F.min("h").alias("lo"), F.max("h").alias("hi"))
    types = agg.select("event_type").distinct()
    spine = types.join(F.broadcast(bounds)).select(
        "event_type",
        F.explode(
            F.sequence("lo", "hi", F.expr("interval 1 hour"))
        ).alias("h"),
    )
    j = spine.join(agg, ["event_type", "h"], "left")
    w = (
        Window.partitionBy("event_type")
        .orderBy("h")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return j.select(
        "event_type",
        F.unix_timestamp("h").alias("hour_epoch"),
        F.coalesce("n_events", F.lit(0)).alias("n_events"),
        "sum_value",
        F.last("sum_value", ignorenulls=True).over(w).alias(
            "sum_value_ffill"
        ),
    )


_GAP_FILL_SQL = """
WITH e AS (
  SELECT event_type, date_trunc('hour', ts) AS h, value FROM events
), agg AS (
  SELECT event_type, h, count(*) AS n_events,
         round(sum(value), 2) AS sum_value
  FROM e GROUP BY event_type, h
), bounds AS (
  SELECT min(h) AS lo, max(h) AS hi FROM e
), spine AS (
  -- list-returning generate_series + unnest: the table-function form
  -- cannot take lateral column parameters in DuckDB 1.0
  SELECT t.event_type, s.h
  FROM (SELECT DISTINCT event_type FROM e) t,
       (SELECT unnest(generate_series(lo, hi, INTERVAL 1 HOUR)) AS h
        FROM bounds) s
), j AS (
  SELECT s.event_type, s.h,
         coalesce(a.n_events, 0) AS n_events, a.sum_value
  FROM spine s LEFT JOIN agg a
    ON s.event_type = a.event_type AND s.h = a.h
)
SELECT event_type, CAST(floor(epoch(h)) AS BIGINT) AS hour_epoch,
       CAST(n_events AS BIGINT) AS n_events, sum_value,
       last_value(sum_value IGNORE NULLS) OVER (
           PARTITION BY event_type ORDER BY h
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
         AS sum_value_ffill
FROM j
"""


def evt_interarrival(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user inter-arrival gaps via lag over the user timeline,
    aggregated per (later-event) type — the telemetry cadence report.
    Gap seconds are floor-epoch INTEGER deltas, and the exports follow
    the decimal-mean rule: exact integer sum + count (readers derive
    means), plus exact interpolating percentiles whose values are
    k/10-decimal rationals (tie-free at 4dp). One window shuffle on
    user_id + one combinable agg."""
    from pyspark.sql import Window

    e = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    sec = F.unix_timestamp("ts")
    gaps = e.select(
        "event_type",
        (sec - F.lag(sec).over(w)).alias("gap_s"),
    ).where(F.col("gap_s").isNotNull())
    return (
        gaps.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_gaps"),
            F.sum("gap_s").alias("sum_gap_s"),
            F.min("gap_s").alias("min_gap_s"),
            F.max("gap_s").alias("max_gap_s"),
            F.round(F.percentile(F.col("gap_s"), F.lit(0.5)), 4).alias(
                "p50_gap_s"
            ),
            F.round(F.percentile(F.col("gap_s"), F.lit(0.9)), 4).alias(
                "p90_gap_s"
            ),
        )
        .orderBy("event_type")
    )


_INTERARRIVAL_SQL = """
WITH g AS (
  SELECT event_type,
         floor(epoch(ts)) - lag(floor(epoch(ts))) OVER (
             PARTITION BY user_id ORDER BY ts, event_id) AS gap_s
  FROM events
)
SELECT event_type, count(*) AS n_gaps,
       CAST(sum(gap_s) AS BIGINT) AS sum_gap_s,
       CAST(min(gap_s) AS BIGINT) AS min_gap_s,
       CAST(max(gap_s) AS BIGINT) AS max_gap_s,
       round(quantile_cont(gap_s, 0.5), 4) AS p50_gap_s,
       round(quantile_cont(gap_s, 0.9), 4) AS p90_gap_s
FROM g WHERE gap_s IS NOT NULL
GROUP BY event_type ORDER BY event_type
"""


_FUNNEL_STEPS = ["view", "click", "purchase"]


def evt_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered funnel analysis over the event stream: per user, step k
    counts only if it happens at-or-after that user's first qualifying
    step k-1 (view → click → purchase). Output: per step, the number of
    users reaching it and the conversion vs step 1.

    Scale shape: each stage is one filtered scan aggregated to one row
    per user, then an equi-join against the PREVIOUS stage's per-user
    firsts — the per-user tables only shrink down the funnel, so every
    join after stage 1 is a candidate broadcast. Each per-user frame is
    PERSISTED because it feeds two consumers (its own count row and the
    next stage's join input) and ReusedExchange across those differing
    subtrees is not guaranteed; the conversion denominator comes from
    the step-1 row of the 3-row union via a first_value window instead
    of re-aggregating stage 1 a third time."""
    from pyspark.sql import Window

    e = load_table(spark, sf_dir, "events")
    steps = _FUNNEL_STEPS
    reached = []  # per-user first-qualifying-ts frames, one per step
    cur = (
        e.where(F.col("event_type") == steps[0])
        .groupBy("user_id")
        .agg(F.min("ts").alias("s_ts"))
        .persist()
    )
    reached.append(cur)
    for step in steps[1:]:
        prev = cur.select("user_id", F.col("s_ts").alias("p_ts"))
        cur = (
            e.where(F.col("event_type") == step)
            .join(prev, "user_id")
            .where(F.col("ts") >= F.col("p_ts"))
            .groupBy("user_id")
            .agg(F.min("ts").alias("s_ts"))
            .persist()
        )
        reached.append(cur)
    rows = None
    for i, (step, df) in enumerate(zip(steps, reached), start=1):
        r = df.agg(F.count(F.lit(1)).alias("n_users")).select(
            F.lit(i).alias("step"),
            F.lit(step).alias("event_type"),
            F.col("n_users"),
        )
        rows = r if rows is None else rows.unionByName(r)
    # the window runs over the 3-row union — single tiny partition
    w = Window.orderBy("step").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    n_base = F.first("n_users").over(w)
    return rows.select(
        "step",
        "event_type",
        "n_users",
        # ANSI errors on 0/0: an empty step-1 cohort (regenerated
        # testdata without the step-1 event type) yields NULL
        F.when(
            n_base > 0, F.round(F.col("n_users") / n_base, 6)
        ).alias("conversion"),
    ).orderBy("step")


def evt_sketch_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch-surface audit: HyperLogLog distinct (approx_count_distinct,
    rsd=0.01) and the quantile sketch (percentile_approx, accuracy 1e4)
    against their exact counterparts, exported as EXACT values plus
    within-tolerance booleans — the cross-engine-checkable contract for
    approximate operators (each engine runs its own sketch, so each
    tolerance must sit far above that engine's guaranteed error for the
    boolean to stay deterministic across testdata regenerations; the
    driver hash gate then applies). HLL gate: relative cardinality
    error ≤ 10% (≥4σ for both Spark's rsd=0.01 and DuckDB's default
    ~2.3% rsd). Quantile gate: the sketch guarantees RANK error (eps =
    1/accuracy = 1e-4 of n for Spark's KLL-style summary; DuckDB's
    t-digest is empirically ~1e-3 at mid-quantiles), NOT value error —
    on an adversarial value distribution (a plateau then a cliff around
    the median) a within-eps-rank answer can be arbitrarily far in
    VALUE, so the old |approx-exact| <= 1%·|exact| gate could flap on a
    regenerated distribution. The gate therefore checks the rank of the
    approximate answer directly: the fraction of rows strictly below /
    at-or-below the sketch's p50 must bracket 0.5 within ±2% of n
    (200× Spark's guaranteed eps, ~20× t-digest's typical — can't flap
    while a broken sketch, typically off by >>2% rank, still fails).
    At 100 TB the sketches are the only affordable distinct/quantile
    path; this query is the acceptance test that keeps them honest."""
    e = load_table(spark, sf_dir, "events")
    # TWO passes, not three (r12: guide §1.2 "remove unnecessary
    # passes"): the percentile pass stays alone — mixing object-buffer
    # percentile aggregates with the count-distinct rewrite in ONE agg
    # forces a slow sort-based ObjectAggregate over the expanded rows
    # (measured 4.9s vs ~1.2s split at sf0.1) — but the distinct-count
    # pair mixes fine with the plain avg/first aggregates of the rank
    # pass (declarative aggs under the standard distinct rewrite), so
    # the old separate `dist` pass is folded into `rank`.
    perc = e.agg(
        F.percentile(F.col("value"), F.lit(0.5)).alias("__p50_exact"),
        F.percentile_approx(F.col("value"), F.lit(0.5), F.lit(10000)).alias(
            "__p50_approx"
        ),
    )
    # rank of the sketch's answer within the exact distribution (one
    # combinable pass over the scan lineage, broadcast one-row): with
    # duplicate mass the sketch answer occupies the rank interval
    # [frac_lt, frac_le] — acceptance is that interval intersecting
    # [0.5 - tol, 0.5 + tol]
    agg = e.join(F.broadcast(perc)).agg(
        F.countDistinct("user_id").alias("n_users_exact"),
        F.approx_count_distinct("user_id", rsd=0.01).alias("__hll"),
        F.avg((F.col("value") < F.col("__p50_approx")).cast("double")).alias(
            "__frac_lt"
        ),
        F.avg((F.col("value") <= F.col("__p50_approx")).cast("double")).alias(
            "__frac_le"
        ),
        F.first("__p50_exact").alias("__p50_exact"),
    )
    return agg.select(
        "n_users_exact",
        (
            F.abs(F.col("__hll") - F.col("n_users_exact"))
            / F.col("n_users_exact")
            <= 0.10
        ).alias("hll_within_10pct"),
        F.round("__p50_exact", 4).alias("p50_exact"),
        (
            (F.col("__frac_lt") <= 0.5 + 0.02)
            & (F.col("__frac_le") >= 0.5 - 0.02)
        ).alias("p50_rank_within_2pct"),
    )


_SKETCH_SQL = """
WITH agg AS (
  SELECT count(DISTINCT user_id) AS n_users_exact,
         approx_count_distinct(user_id) AS hll,
         quantile_cont(value, 0.5) AS p50_exact,
         approx_quantile(value, 0.5) AS p50_approx
  FROM events
), rank AS (
  SELECT avg(CASE WHEN value < p50_approx THEN 1.0 ELSE 0.0 END) AS frac_lt,
         avg(CASE WHEN value <= p50_approx THEN 1.0 ELSE 0.0 END) AS frac_le
  FROM events, agg
)
SELECT n_users_exact,
       abs(hll - n_users_exact) / CAST(n_users_exact AS DOUBLE) <= 0.10
         AS hll_within_10pct,
       round(p50_exact, 4) AS p50_exact,
       (frac_lt <= 0.5 + 0.02 AND frac_le >= 0.5 - 0.02)
         AS p50_rank_within_2pct
FROM agg, rank
"""


def evt_psi_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Population-stability-index drift check between two event cohorts
    (the standard production-ML input-drift monitor): cohorts split
    deterministically by event_id parity, the REFERENCE cohort's
    min/max define 10 fixed-width value buckets (one-row broadcast, the
    sanctioned pattern), and PSI = Σ (p_ref − p_cur)·ln(p_ref/p_cur)
    per event_type with 1e-6 proportion floors (the standard zero-bucket
    smoothing). Plan: two conditional-aggregate passes over one scan
    lineage + one tiny (type × bucket) join — all combinable shuffles,
    drift flagged at the conventional 0.2 threshold. The SAME
    bucketize/psi_from_counts definitions drive the incremental
    streaming monitor (streaming.drift; stream-vs-batch equality
    tested in tests/test_streaming_drift.py)."""
    from vector_search_optimization_spark.operators import drift as DR

    e = load_table(spark, sf_dir, "events")
    return DR.psi_drift(e, F.col("event_id") % 2 == 0)


_PSI_SQL = """
WITH e AS (
  SELECT event_type, value, event_id % 2 = 0 AS is_ref FROM events
), rng AS (
  SELECT min(value) AS lo, max(value) AS hi FROM e WHERE is_ref
), bucketed AS (
  SELECT event_type, is_ref,
         CASE WHEN hi > lo THEN least(9, greatest(0,
             CAST(floor((value - lo) / (hi - lo) * 10) AS INTEGER)))
              ELSE 0 END AS bucket
  FROM e, rng
), counts AS (
  SELECT event_type, bucket,
         sum(CASE WHEN is_ref THEN 1 ELSE 0 END) AS n_ref,
         sum(CASE WHEN is_ref THEN 0 ELSE 1 END) AS n_cur
  FROM bucketed GROUP BY event_type, bucket
), tot AS (
  SELECT event_type, sum(n_ref) AS t_ref, sum(n_cur) AS t_cur
  FROM counts GROUP BY event_type
), psi AS (
  SELECT c.event_type,
         round(sum(
             (greatest(CASE WHEN t_ref > 0
                  THEN CAST(n_ref AS DOUBLE) / t_ref ELSE 0 END, 1e-6)
              - greatest(CASE WHEN t_cur > 0
                  THEN CAST(n_cur AS DOUBLE) / t_cur ELSE 0 END, 1e-6))
             * ln(greatest(CASE WHEN t_ref > 0
                  THEN CAST(n_ref AS DOUBLE) / t_ref ELSE 0 END, 1e-6)
                  / greatest(CASE WHEN t_cur > 0
                  THEN CAST(n_cur AS DOUBLE) / t_cur ELSE 0 END, 1e-6))
         ), 6) AS psi
  FROM counts c JOIN tot t ON c.event_type = t.event_type
  GROUP BY c.event_type
)
SELECT event_type, psi, psi > 0.2 AS drifted FROM psi ORDER BY event_type
"""


_FUNNEL_SQL = """
WITH s1 AS (
  SELECT user_id, min(ts) AS ts1 FROM events
  WHERE event_type = 'view' GROUP BY user_id
), s2 AS (
  SELECT e.user_id, min(e.ts) AS ts2 FROM events e JOIN s1 USING (user_id)
  WHERE e.event_type = 'click' AND e.ts >= s1.ts1 GROUP BY e.user_id
), s3 AS (
  SELECT e.user_id, min(e.ts) AS ts3 FROM events e JOIN s2 USING (user_id)
  WHERE e.event_type = 'purchase' AND e.ts >= s2.ts2 GROUP BY e.user_id
), counts AS (
  SELECT 1 AS step, 'view' AS event_type, count(*) AS n_users FROM s1
  UNION ALL
  SELECT 2, 'click', count(*) FROM s2
  UNION ALL
  SELECT 3, 'purchase', count(*) FROM s3
)
SELECT step, event_type, n_users,
       CASE WHEN (SELECT count(*) FROM s1) > 0
            THEN round(CAST(n_users AS DOUBLE)
                       / (SELECT count(*) FROM s1), 6) END AS conversion
FROM counts ORDER BY step
"""


# ---------------------------------------------------------------------------
# upsert (S11)
# ---------------------------------------------------------------------------

def s11_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S11 — merge_documents-style keyed partial update, audited by lang
    counts (ChunkLabelingProcesor.py:47-50 semantics)."""
    d = load_table(spark, sf_dir, "documents")
    updates = d.where(F.col("doc_id") % 10 == 0).select(
        "doc_id", F.lit("relabeled").alias("lang")
    )
    merged = upsert.upsert_fields(d, updates, "doc_id", ["lang"])
    return merged.groupBy("lang").agg(F.count(F.lit(1)).alias("n"))


_S11_SQL = """
SELECT CASE WHEN doc_id % 10 = 0 THEN 'relabeled' ELSE lang END AS lang,
       count(*) AS n
FROM documents GROUP BY 1
"""


# ---------------------------------------------------------------------------
# source/sink roundtrips (S1/S2/S6/S8/S9/S10 + F6) — each query pushes a
# table through a real sink+scan pair and aggregates the readback, so the
# DuckDB oracle (reading the parquet directly) value-checks serialization
# losslessness end to end
# ---------------------------------------------------------------------------

def _roundtrip_path(sf_dir: str, leaf: str) -> str:
    """Per-sf scratch path under the temp dir (TMPDIR) so sf0.001 parity
    runs and sf0.01 driver runs, and runs with separate temp dirs, can't
    clobber each other's files."""
    import tempfile

    tag = os.path.basename(sf_dir.rstrip("/"))
    path = os.path.join(tempfile.gettempdir(), "spark_graft_roundtrip", tag)
    os.makedirs(path, exist_ok=True)
    return os.path.join(path, leaf)


def s1_csv_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S8 CSV sink → S1 CSV scan → F6 string→vector parse, verified by
    value: per-label count and mean L2 norm must survive the
    float→"[f, ...]"→float roundtrip bit-exactly (Java shortest-repr
    float strings reparse to the identical float32)."""
    from vector_search_optimization_spark.sources import writers

    e = load_table(spark, sf_dir, "embeddings")
    path = _roundtrip_path(sf_dir, "csv_embeddings")
    writers.write_csv(e, path)
    back = (
        spark.read.option("header", True)
        .schema("vec_id long, embedding string, label int")
        .csv(path)
        .select("vec_id", V.parse_vector("embedding").alias("embedding"), "label")
    )
    return (
        back.groupBy("label")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.avg(V.l2_norm("embedding")), 4).alias("avg_norm"),
        )
        .orderBy("label")
    )


_S1_SQL = """
SELECT label, count(*) AS n,
       round(avg(sqrt(list_sum(list_transform(embedding,
             x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))), 4) AS avg_norm
FROM embeddings GROUP BY label ORDER BY label
"""


def s2_json_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S10 JSON sink → S2 JSON scan roundtrip on documents (projection to
    doc_id/lang/text), verified per-lang: unicode text must survive JSON
    escaping with identical character counts."""
    from vector_search_optimization_spark.sources import writers

    d = load_table(spark, sf_dir, "documents").select("doc_id", "lang", "text")
    path = _roundtrip_path(sf_dir, "json_documents")
    writers.write_json(d, path)
    back = spark.read.schema("doc_id long, lang string, text string").json(path)
    return (
        back.groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(F.length("text")).alias("sum_chars"),
            F.max("doc_id").alias("max_doc"),
        )
        .orderBy("lang")
    )


_S2_SQL = """
SELECT lang, count(*) AS n_docs,
       CAST(sum(length(text)) AS BIGINT) AS sum_chars,
       max(doc_id) AS max_doc
FROM documents GROUP BY lang ORDER BY lang
"""


def s6_excel_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S9 Excel sink → S6 Excel scan roundtrip on the nation dim table
    through the stdlib zip+XML xlsx codec, verified by per-region counts
    and the lexicographic first name."""
    from vector_search_optimization_spark.sources import readers, writers

    n = load_table(spark, sf_dir, "nation")
    path = _roundtrip_path(sf_dir, "nation.xlsx")
    writers.write_excel(n, path)
    back = readers.read_excel(spark, path)
    return (
        back.groupBy(F.col("n_regionkey").cast("long").alias("n_regionkey"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.min("n_name").alias("first_name"),
        )
        .orderBy("n_regionkey")
    )


_S6_SQL = """
SELECT CAST(n_regionkey AS BIGINT) AS n_regionkey, count(*) AS n,
       min(n_name) AS first_name
FROM nation GROUP BY 1 ORDER BY 1
"""


# ---------------------------------------------------------------------------
# F5 manhattan distance (seeded reference vector, plan-literal both sides)
# ---------------------------------------------------------------------------

_F5_SEED = 7


def _f5_ref_vector(dim: int) -> np.ndarray:
    """Seeded reference vector shared by the Spark plan literals and the
    generated DuckDB literals (pure function of dim+seed, like the RP
    planes)."""
    return np.random.RandomState(_F5_SEED).normal(size=dim)


def f5_manhattan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F5 — L1/manhattan distance (manhattan_distances,
    main-script1.ipynb:79 c5) of every embedding to a seeded reference
    vector; 20 farthest rows. Pure column expressions (zip_with/aggregate),
    no shuffle before the top-k sort."""
    e = load_table(spark, sf_dir, "embeddings")
    dim = len(e.select("embedding").first()[0])
    ref = _f5_ref_vector(dim)
    return (
        e.select(
            "vec_id",
            F.round(V.manhattan("embedding", ref), 4).alias("l1_dist"),
        )
        .orderBy(F.desc("l1_dist"), "vec_id")
        .limit(20)
    )


def _f5_sql() -> str:
    import duckdb

    dim = duckdb.sql(
        f"SELECT len(embedding) FROM '{_oracle_sf_dir()}/embeddings.parquet' LIMIT 1"
    ).fetchone()[0]
    lits = ", ".join(f"{float(x)!r}" for x in _f5_ref_vector(dim))
    return f"""
SELECT vec_id,
       round(list_sum(list_transform(list_zip(embedding, [{lits}]),
             p -> abs(CAST(p[1] AS DOUBLE) - p[2]))), 4) AS l1_dist
FROM embeddings ORDER BY l1_dist DESC, vec_id LIMIT 20
"""


# ---------------------------------------------------------------------------
# M3 k-sweep (seeded quantizer per k; inertia + occupancy, generated oracle)
# ---------------------------------------------------------------------------

_M3_KS = (2, 4, 8)


def m3_k_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M3 — the reference's k-selection sweep (inertia per candidate k,
    silhouettes.ipynb elbow loop) over the seeded sample-trained Lloyd
    quantizer (same recipe as m1, reproducible cross-engine). Inertia is
    computed distributedly: broadcast argmin assignment (no shuffle), one
    partial-agg reduction per k."""
    e = load_table(spark, sf_dir, "embeddings")
    per_k = []
    for k in _M3_KS:
        cents = ann.train_ivf_centroids(e.orderBy("vec_id"), num_cells=k)
        assigned = NC.nearest_centroid(
            e,
            cents,
            vector_col="embedding",
            label_col="cell",
            metric="sqeuclidean",
            out_label="cell",
            out_dist="sqdist",
        )
        per_k.append(
            assigned.agg(
                F.lit(k).cast("int").alias("k"),
                F.round(F.sum("sqdist"), 2).alias("inertia"),
                F.countDistinct("cell").alias("clusters_used"),
            )
        )
    out = per_k[0]
    for nxt in per_k[1:]:
        out = out.unionByName(nxt)
    return out.orderBy("k")


def _m3_sql() -> str:
    """Generated oracle: re-derive each k's centers with the shared
    _lloyd_kmeans (float32 round-trip like the centroid DataFrame), then
    DuckDB recomputes min squared distance per row, its sum (inertia) and
    the distinct argmin cells per k."""
    import duckdb

    from vector_search_optimization_spark.operators.ann import _lloyd_kmeans

    pdf = duckdb.sql(
        "SELECT vec_id, embedding FROM "
        f"'{_oracle_sf_dir()}/embeddings.parquet' ORDER BY vec_id"
    ).df()
    X = np.asarray(pdf["embedding"].tolist(), dtype=np.float64)

    selects = []
    for k in _M3_KS:
        centers = _lloyd_kmeans(X[:100_000], k, seed=42, max_iter=20)
        cents = np.asarray(
            [list(map(float, c)) for c in centers], dtype=np.float32
        ).astype(np.float64)

        def cell_dist(i: int) -> str:
            lits = ", ".join(f"{float(x)!r}" for x in cents[i])
            return (
                "list_reduce(list_transform(list_zip(embedding, "
                f"[{lits}]), p -> (CAST(p[1] AS DOUBLE) - p[2]) "
                "* (CAST(p[1] AS DOUBLE) - p[2])), (x, y) -> x + y)"
            )

        structs = ", ".join(
            "{'d': " + cell_dist(i) + f", 'c': {i}}}" for i in range(len(cents))
        )
        selects.append(
            f"""
SELECT {k} AS k, round(sum(d), 2) AS inertia,
       count(DISTINCT c) AS clusters_used
FROM (SELECT list_min([{structs}])['d'] AS d,
             list_min([{structs}])['c'] AS c FROM embeddings)"""
        )
    return " UNION ALL ".join(selects) + " ORDER BY k"


# ---------------------------------------------------------------------------
# multimodal plumbing (engine extension) — binary payloads through the
# extract/resize/frame-sample stages with a full value oracle
# ---------------------------------------------------------------------------

def mm_asset_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal asset pipeline over real binary columns: documents.text
    encoded to utf-8 payload bytes (the container has no media codecs —
    the bytes are the asset), modality/width/height/duration derived
    deterministically from doc_id. Exercises extract_features
    (mapInPandas binary→features), frame_sample_plan (sequence explode)
    and resize_plan (geometry expressions); sha/byte-length/frame/resize
    outputs are all value-checked by the DuckDB oracle."""
    from vector_search_optimization_spark.operators import multimodal as MM

    d = load_table(spark, sf_dir, "documents").where(F.col("text").isNotNull())
    assets = d.select(
        F.col("doc_id").cast("string").alias("asset_id"),
        F.element_at(
            F.array(F.lit("image"), F.lit("audio"), F.lit("video")),
            (F.col("doc_id") % 3 + 1).cast("int"),
        ).alias("modality"),
        F.encode("text", "UTF-8").alias("payload"),
        (F.lit(400) + (F.col("doc_id") % 7) * 100).cast("int").alias("width"),
        (F.lit(300) + (F.col("doc_id") % 5) * 150).cast("int").alias("height"),
        ((F.col("doc_id") % 5) * 1000 + 500).cast("long").alias("duration_ms"),
    )
    feats = MM.extract_features(assets)
    frames = (
        MM.frame_sample_plan(assets)
        .groupBy("asset_id")
        .agg(F.count(F.lit(1)).alias("n_frames"))
    )
    resize = MM.resize_plan(assets.where(F.col("modality") == "image")).select(
        "asset_id", "target_width"
    )
    return (
        feats.join(frames, "asset_id", "left")
        .join(resize, "asset_id", "left")
        .select(
            "asset_id",
            "modality",
            "n_bytes",
            "sha_prefix",
            F.coalesce("n_frames", F.lit(0).cast("long")).alias("n_frames"),
            F.coalesce("target_width", F.lit(0).cast("int")).alias("target_width"),
        )
        .orderBy(F.desc("n_bytes"), "asset_id")
        .limit(50)
    )


_MM_SQL = """
WITH assets AS (
  SELECT CAST(doc_id AS VARCHAR) AS asset_id,
         ['image', 'audio', 'video'][CAST(doc_id % 3 AS INT) + 1] AS modality,
         text,
         400 + (doc_id % 7) * 100 AS width,
         300 + (doc_id % 5) * 150 AS height,
         (doc_id % 5) * 1000 + 500 AS duration_ms
  FROM documents WHERE text IS NOT NULL
)
SELECT asset_id, modality,
       CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
       substring(sha256(text), 1, 16) AS sha_prefix,
       CASE WHEN modality = 'video'
            THEN CAST(floor((duration_ms - 1) / 1000.0) AS BIGINT) + 1
            ELSE 0 END AS n_frames,
       CAST(CASE WHEN modality = 'image' AND greatest(width, height) > 768
            THEN floor(width * (768.0 / greatest(width, height)))
            WHEN modality = 'image' THEN width
            ELSE 0 END AS INTEGER) AS target_width
FROM assets ORDER BY n_bytes DESC, asset_id LIMIT 50
"""


# ---------------------------------------------------------------------------
# training-data pipeline: deterministic split / batch packing /
# benchmark decontamination (engine extensions, all value-oracled)
# ---------------------------------------------------------------------------

_SPLIT_A = 2654435761  # Knuth multiplicative constant (< 2^32; products stay < 2^63)
_SPLIT_B = 40503


def split_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic train/val/test split (98/1/1) by a multiplicative
    hash of doc_id — reproducible across engines and runs, no sampling
    state. The split column is a pure projection (no shuffle); the audit
    aggregates split × lang occupancy."""
    d = load_table(spark, sf_dir, "documents")
    h = F.pmod(F.col("doc_id") * F.lit(_SPLIT_A) + F.lit(_SPLIT_B), F.lit(1000))
    split = (
        F.when(h < 980, "train").when(h < 990, "val").otherwise("test")
    )
    return (
        d.withColumn("split", split)
        .groupBy("split", "lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").alias("sum_chars"),
        )
        .orderBy("split", "lang")
    )


_SPLIT_SQL = f"""
SELECT CASE WHEN (doc_id * {_SPLIT_A} + {_SPLIT_B}) % 1000 < 980 THEN 'train'
            WHEN (doc_id * {_SPLIT_A} + {_SPLIT_B}) % 1000 < 990 THEN 'val'
            ELSE 'test' END AS split,
       lang, count(*) AS n_docs,
       CAST(sum(n_chars) AS BIGINT) AS sum_chars
FROM documents GROUP BY 1, 2 ORDER BY split, lang
"""


_PACK_BUDGET = 1024


def pack_batches(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-budget batch packing: documents stream into batches per lang
    in doc_id order, a new batch opening when the running token total
    crosses the budget (batch_id = floor(cumulative_tokens_before /
    budget) — the one-pass streaming pack). One window shuffle on
    (lang, doc_id), one agg shuffle; at 100 TB the window partitions by
    (lang, shard) so no single partition holds a language's full corpus."""
    from vector_search_optimization_spark.operators.packing import (
        pack_by_token_budget,
    )

    d = load_table(spark, sf_dir, "documents")
    packed = pack_by_token_budget(
        d.select("lang", "doc_id", "text"),
        _PACK_BUDGET,
        TX.whitespace_token_count("text"),
    )
    return (
        packed.groupBy("lang", "batch_id")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tok").alias("sum_tokens"),
        )
        .orderBy("lang", "batch_id")
    )


_PACK_SQL = rf"""
WITH toks AS (
  SELECT lang, doc_id,
         CASE WHEN trim(text) = '' THEN 0
              ELSE len(string_split_regex(trim(text), '\s+')) END AS n_tok
  FROM documents
), packed AS (
  SELECT lang, doc_id, n_tok,
         CAST(floor(coalesce(sum(n_tok) OVER (
              PARTITION BY lang ORDER BY doc_id
              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
              / {_PACK_BUDGET}.0) AS BIGINT) AS batch_id
  FROM toks
)
SELECT lang, batch_id, count(*) AS n_docs,
       CAST(sum(n_tok) AS BIGINT) AS sum_tokens
FROM packed GROUP BY lang, batch_id ORDER BY lang, batch_id
"""


_DECON_MOD = 97


def decontaminate_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination audit: word-3-shingle fingerprints of a
    held-out benchmark slice (doc_id % 97 == 0) broadcast-semi-joined
    against the training slice's fingerprints; a training doc sharing ANY
    shingle is flagged. Per-lang counts + contamination rate. Scale: the
    benchmark fingerprint set is small by construction (benchmarks are),
    fingerprints are map-side (no shuffle before the semi-join), flagged
    ids collapse via distinct before the final count."""
    d = load_table(spark, sf_dir, "documents")
    grams = dedup.shingle_hash_rows(d)
    is_bench = F.col("doc_id") % _DECON_MOD == 0
    bench_grams = grams.where(is_bench).select("g").distinct()
    train = d.where(~is_bench)
    hit_ids = (
        grams.where(~is_bench)
        .join(F.broadcast(bench_grams), "g", "left_semi")
        .select("doc_id")
        .distinct()
    )
    return _decon_report(train, hit_ids)


def _decon_report(train: DataFrame, hit_ids: DataFrame) -> DataFrame:
    """Per-lang contamination report shared by the broadcast-set and
    Bloom-prefilter paths. contaminated_pct derives UNROUNDED from the
    integer counts (decimal-tie rule: identical ints → bit-identical
    IEEE division on both engines)."""
    flagged = (
        train.join(hit_ids, "doc_id", "left_semi")
        .groupBy("lang")
        .agg(F.count(F.lit(1)).alias("n_contaminated"))
    )
    totals = train.groupBy("lang").agg(F.count(F.lit(1)).alias("n_train"))
    return (
        totals.join(flagged, "lang", "left")
        .select(
            "lang",
            "n_train",
            F.coalesce("n_contaminated", F.lit(0).cast("long")).alias(
                "n_contaminated"
            ),
            (
                F.coalesce("n_contaminated", F.lit(0).cast("long")).cast(
                    "double"
                )
                / F.col("n_train")
            ).alias("contaminated_pct"),
        )
        .orderBy("lang")
    )


def decontaminate_bloom(spark: SparkSession, sf_dir: str) -> DataFrame:
    """decontaminate_overlap's EXACT semantics through the Bloom
    prefilter path (dedup.decontaminate_with_bloom): the corpus gram
    stream is map-side prefiltered against a compact Bloom bitmap of
    the benchmark fingerprints (built distributed via a mapInPandas
    partial-bitmap OR — Spark 4 keeps bloom_filter_agg internal), and
    only the FPR-bounded survivors reach the exact verification join.
    No false negatives + exact verify ⇒ flagged set identical to the
    broadcast-set path, so this query SHARES its DuckDB oracle — the
    hash gate proves the Bloom path end to end. At 1e8+ benchmark
    shingles this is the feasible plan: ~10 bits/shingle broadcast vs
    8+ bytes/shingle for the exact set."""
    d = load_table(spark, sf_dir, "documents")
    is_bench = F.col("doc_id") % _DECON_MOD == 0
    hit_ids = dedup.decontaminate_with_bloom(d, is_bench, n_bits=1 << 20)
    train = d.where(~is_bench)
    return _decon_report(train, hit_ids)


def _decon_sql() -> str:
    poly = _POLY_SQL.format(s="s", base=TX.POLY_BASE)
    return (
        _MINHASH_SHINGLE_SQL.format(n=3, nm1=2)
        + f""", hs AS (
  SELECT doc_id, list_transform(shingles, s -> {poly}) AS h FROM sh
), bench AS (
  SELECT DISTINCT unnest(h) AS g FROM hs WHERE doc_id % {_DECON_MOD} = 0
), hits AS (
  SELECT DISTINCT t.doc_id
  FROM (SELECT doc_id, unnest(h) AS g FROM hs WHERE doc_id % {_DECON_MOD} <> 0) t
  JOIN bench b ON t.g = b.g
)
SELECT lang, count(*) AS n_train,
       CAST(sum(CASE WHEN doc_id IN (SELECT doc_id FROM hits)
                THEN 1 ELSE 0 END) AS BIGINT) AS n_contaminated,
       CAST(sum(CASE WHEN doc_id IN (SELECT doc_id FROM hits)
                THEN 1 ELSE 0 END) AS DOUBLE) / count(*) AS contaminated_pct
FROM documents WHERE doc_id % {_DECON_MOD} <> 0
GROUP BY lang ORDER BY lang
"""
    )


# ---------------------------------------------------------------------------
# temporal joins (engine extension): as-of (point-in-time) and banded
# range joins — operators Spark lacks natively, re-expressed scale-safe
# ---------------------------------------------------------------------------

def evt_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join: every purchase picks the same user's most recent
    prior-or-simultaneous click. Scale pattern: union the two event
    streams, ONE shuffle on user_id, time-ordered window with
    last(ignorenulls) carry-forward — never a range crossJoin, state per
    user is one row. The DuckDB oracle is an INDEPENDENT formulation
    (native ASOF LEFT JOIN), so agreement is strong evidence of the
    point-in-time semantics (ties: a click at the exact purchase
    timestamp counts, hence the is_buy sort tiebreak)."""
    e = load_table(spark, sf_dir, "events")
    sec = F.unix_timestamp(F.col("ts"))
    clicks = (
        e.where(F.col("event_type") == "click")
        .groupBy("user_id", "ts")
        .agg(F.count(F.lit(1)).alias("__dummy"))
        .select(
            "user_id",
            "ts",
            F.lit(0).alias("is_buy"),
            F.lit(None).cast("long").alias("event_id"),
        )
    )
    buys = e.where(F.col("event_type") == "purchase").select(
        "user_id", "ts", F.lit(1).alias("is_buy"), "event_id"
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "is_buy")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    filled = clicks.unionByName(buys).withColumn(
        "last_click_sec",
        F.last(F.when(F.col("is_buy") == 0, sec), ignorenulls=True).over(w),
    )
    matched = filled.where(F.col("is_buy") == 1).select(
        "user_id",
        "event_id",
        (sec - F.col("last_click_sec")).alias("lag_s"),
    )
    # integer-second lags: sum is exact, avg derives unrounded (a
    # rounded mean of integers ties whenever the group size has only
    # 2/5 prime factors — the decimal-tie rule)
    return matched.agg(
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
    )


_ASOF_SQL = """
WITH clicks AS (
  SELECT DISTINCT user_id, ts FROM events WHERE event_type = 'click'
), buys AS (
  SELECT user_id, ts, event_id FROM events WHERE event_type = 'purchase'
), joined AS (
  SELECT b.user_id, b.event_id,
         floor(epoch(b.ts)) - floor(epoch(c.ts)) AS lag_s
  FROM buys b ASOF LEFT JOIN clicks c
    ON b.user_id = c.user_id AND b.ts >= c.ts
)
SELECT count(*) AS n_purchases,
       count(lag_s) AS n_matched,
       CAST(sum(lag_s) AS BIGINT) AS sum_lag_s,
       CAST(sum(lag_s) AS DOUBLE) / count(lag_s) AS avg_lag_s,
       CAST(max(lag_s) AS BIGINT) AS max_lag_s
FROM joined
"""


_RANGE_WINDOW_S = 3600


def evt_range_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Banded range join: click→purchase pairs of the same user within a
    1-hour forward window. Scale pattern: band each side to
    floor(ts/W) buckets, probe bucket b and b+1 (every |Δt| ≤ W pair
    spans at most adjacent buckets), filter exactly — an equi-join the
    planner can hash-partition, never an inequality crossJoin."""
    e = load_table(spark, sf_dir, "events")
    sec = F.unix_timestamp(F.col("ts"))
    w = _RANGE_WINDOW_S
    clicks = (
        e.where(F.col("event_type") == "click")
        .select("user_id", sec.alias("c_sec"))
        .withColumn("bucket", F.explode(F.array(
            F.floor(F.col("c_sec") / w),
            F.floor(F.col("c_sec") / w) + 1,
        )))
    )
    buys = e.where(F.col("event_type") == "purchase").select(
        "user_id", sec.alias("b_sec"), F.floor(F.col("b_sec") / w).alias("bucket")
    )
    pairs = (
        clicks.join(buys, ["user_id", "bucket"])
        .where(
            (F.col("b_sec") >= F.col("c_sec"))
            & (F.col("b_sec") - F.col("c_sec") <= w)
        )
        # distinct collapses same-second duplicate events into one pair,
        # mirroring the oracle's DISTINCT over floored-second triples
        .select("user_id", "c_sec", "b_sec")
        .distinct()
    )
    # integer-second gaps: export the exact sum; avg derives unrounded
    # (decimal-tie rule)
    return pairs.agg(
        F.count(F.lit(1)).alias("n_pairs"),
        F.countDistinct("user_id").alias("n_users"),
        F.sum(F.col("b_sec") - F.col("c_sec")).alias("sum_gap_s"),
    ).select(
        "n_pairs",
        "n_users",
        "sum_gap_s",
        (F.col("sum_gap_s").cast("double") / F.col("n_pairs")).alias(
            "avg_gap_s"
        ),
    )


_RANGE_SQL = f"""
WITH pairs AS (
  SELECT DISTINCT c.user_id,
         floor(epoch(c.ts)) AS c_sec, floor(epoch(b.ts)) AS b_sec
  FROM events c JOIN events b
    ON c.user_id = b.user_id
   AND c.event_type = 'click' AND b.event_type = 'purchase'
   AND floor(epoch(b.ts)) >= floor(epoch(c.ts))
   AND floor(epoch(b.ts)) - floor(epoch(c.ts)) <= {_RANGE_WINDOW_S}
)
SELECT count(*) AS n_pairs,
       count(DISTINCT user_id) AS n_users,
       CAST(sum(b_sec - c_sec) AS BIGINT) AS sum_gap_s,
       CAST(sum(b_sec - c_sec) AS DOUBLE) / count(*) AS avg_gap_s
FROM pairs
"""


_F11_BUDGET_TOKENS = 48  # exact-BPE budget; truncates most docs at every sf


def f11_token_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F11 — token-budget truncation audit (update-etiquetas.ipynb:171 c9
    caps the labeling prompt at 125,000 tiktoken tokens): per-lang count
    of documents the budget truncates, plus kept-token and kept-char
    totals — all via the EXACT BPE merge loop (functions.bpe), not the
    chars-per-token proxy. The oracle recomputes every per-doc count with
    the same tokenizer driver-side, so truncation semantics (whole
    pre-tokens, never splitting one) are value-checked."""
    d = load_table(spark, sf_dir, "documents")
    # fused kernel: ONE pre-tokenization pass per document (count +
    # truncation audit together) instead of three separate UDF passes
    stats = TX.bpe_budget_stats_expr("text", _F11_BUDGET_TOKENS)
    return (
        d.select("lang", stats.alias("__s"))
        .select(
            "lang",
            F.col("__s.n_tok").alias("__n"),
            F.col("__s.kept_tok").alias("__kept_tok"),
            F.col("__s.kept_chars").alias("__kept_chars"),
        )
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(
                (F.col("__n") > _F11_BUDGET_TOKENS).cast("long")
            ).alias("n_truncated"),
            F.sum("__kept_tok").alias("sum_kept_tokens"),
            F.sum("__kept_chars").cast("long").alias("sum_kept_chars"),
        )
        .orderBy("lang")
    )


def _f11_sql() -> str:
    """Generated oracle: per-lang aggregates recomputed driver-side with
    the identical python tokenizer (functions.bpe), emitted as literals."""
    import duckdb

    from vector_search_optimization_spark.functions.bpe import bpe_budget_stats

    pdf = duckdb.sql(
        f"SELECT lang, text FROM '{_oracle_sf_dir()}/documents.parquet'"
    ).df()
    agg: dict[str, list[int]] = {}
    for lang, text in zip(pdf["lang"], pdf["text"]):
        n, kept_tok, kept_chars = bpe_budget_stats(
            text or "", _F11_BUDGET_TOKENS
        )
        a = agg.setdefault(lang, [0, 0, 0, 0])
        a[0] += 1
        a[1] += 1 if n > _F11_BUDGET_TOKENS else 0
        a[2] += kept_tok
        a[3] += kept_chars
    vals = ", ".join(
        f"('{lang}', {a[0]}, {a[1]}, {a[2]}, {a[3]})"
        for lang, a in sorted(agg.items())
    )
    return f"""
SELECT lang, CAST(n_docs AS BIGINT) AS n_docs,
       CAST(n_truncated AS BIGINT) AS n_truncated,
       CAST(sum_kept_tokens AS BIGINT) AS sum_kept_tokens,
       CAST(sum_kept_chars AS BIGINT) AS sum_kept_chars
FROM (VALUES {vals})
     AS t(lang, n_docs, n_truncated, sum_kept_tokens, sum_kept_chars)
ORDER BY lang
"""


def f10_bpe_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F10 — EXACT per-document BPE token counts (the reference's
    contar_tokens, update-etiquetas.ipynb:171 c9, minus the tiktoken
    dependency: functions.bpe runs the public byte-level merge loop over
    the committed merges table). Value-checked per doc against a
    driver-side recomputation with the same tokenizer."""
    d = load_table(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        "lang",
        TX.bpe_token_count_exact("text").alias("n_bpe_tokens"),
    ).orderBy("doc_id")


def _f10_sql() -> str:
    import duckdb

    from vector_search_optimization_spark.functions.bpe import bpe_token_count

    pdf = duckdb.sql(
        f"SELECT doc_id, lang, text FROM '{_oracle_sf_dir()}/documents.parquet'"
        " ORDER BY doc_id"
    ).df()
    vals = ", ".join(
        f"({int(i)}, '{lang}', {bpe_token_count(t or '')})"
        for i, lang, t in zip(pdf["doc_id"], pdf["lang"], pdf["text"])
    )
    return f"""
SELECT CAST(doc_id AS BIGINT) AS doc_id, lang,
       CAST(n_bpe_tokens AS BIGINT) AS n_bpe_tokens
FROM (VALUES {vals}) AS t(doc_id, lang, n_bpe_tokens)
ORDER BY doc_id
"""


def text_compression_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Compression-ratio quality signal (the Gopher-family filter:
    templated/repetitive text deflates far below natural prose): per
    doc, utf-8 bytes, deflate bytes (Arrow kernel,
    functions.text.compressed_size_expr), their ratio, and the
    low-ratio flag at 0.3. Oracle: per-doc deflate sizes inlined from
    the driver-side stdlib-zlib recomputation (f10 pattern — same zlib
    build, deterministic); byte counts and ratio math recomputed by
    DuckDB."""
    d = load_table(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        F.octet_length("text").alias("n_bytes"),
        TX.compressed_size_expr("text").alias("n_deflate_bytes"),
    ).select(
        "doc_id",
        "n_bytes",
        "n_deflate_bytes",
        F.when(
            F.col("n_bytes") > 0,
            F.round(F.col("n_deflate_bytes") / F.col("n_bytes"), 6),
        ).alias("compression_ratio"),
        F.coalesce(
            F.when(
                F.col("n_bytes") > 0,
                F.col("n_deflate_bytes") / F.col("n_bytes") < 0.3,
            ),
            F.lit(False),
        ).alias("suspect_repetitive"),
    )


def _compression_sql() -> str:
    import duckdb

    pdf = duckdb.sql(
        f"SELECT doc_id, text FROM '{_oracle_sf_dir()}/documents.parquet'"
        " ORDER BY doc_id"
    ).df()
    vals = ", ".join(
        f"({int(i)}, {TX.compressed_size_py(t)})"
        for i, t in zip(pdf["doc_id"], pdf["text"])
    )
    return f"""
SELECT d.doc_id, CAST(strlen(d.text) AS INTEGER) AS n_bytes,
       CAST(v.comp AS BIGINT) AS n_deflate_bytes,
       CASE WHEN strlen(d.text) > 0
            THEN round(CAST(v.comp AS DOUBLE) / strlen(d.text), 6) END
         AS compression_ratio,
       coalesce(CASE WHEN strlen(d.text) > 0
            THEN CAST(v.comp AS DOUBLE) / strlen(d.text) < 0.3 END, FALSE)
         AS suspect_repetitive
FROM documents d JOIN (VALUES {vals}) AS v(doc_id, comp)
  ON d.doc_id = v.doc_id
"""


def source_overlap_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-source contamination matrix: for every source pair, the
    number of distinct word-3-shingle hashes they share — the pairwise
    generalization of decontaminate_overlap (which checks the corpus
    against ONE benchmark set). Plan: the shared shingle fingerprint
    explode (map-side kernel), distinct (source, g), then a self
    equi-join on the shingle hash — per-hash source lists are bounded by
    the source count (20 here), so candidate volume is
    O(shingles × sources²) worst-case and typically far less; the same
    family as the decontamination join, no all-pairs-of-docs anywhere."""
    d = load_table(spark, sf_dir, "documents")
    toks = dedup.shingle_hash_rows(d)
    src = (
        toks.join(d.select("doc_id", "source"), "doc_id")
        .select("source", "g")
        .distinct()
    )
    a = src.select(F.col("source").alias("source_a"), "g")
    b = src.select(F.col("source").alias("source_b"), "g")
    return (
        a.join(b, "g")
        .where(F.col("source_a") < F.col("source_b"))
        .groupBy("source_a", "source_b")
        .agg(F.count(F.lit(1)).alias("n_shared_shingles"))
        .orderBy("source_a", "source_b")
    )


def _source_overlap_sql() -> str:
    poly = _POLY_SQL.format(s="s", base=TX.POLY_BASE)
    return (
        _MINHASH_SHINGLE_SQL.format(n=3, nm1=2)
        + f""", ex AS (
  SELECT doc_id, unnest(shingles) AS s FROM sh
), hs AS (
  SELECT d.source, {poly} AS g
  FROM ex JOIN documents d USING (doc_id)
  GROUP BY 1, 2
)
SELECT a.source AS source_a, b.source AS source_b,
       count(*) AS n_shared_shingles
FROM hs a JOIN hs b ON a.g = b.g AND a.source < b.source
GROUP BY 1, 2 ORDER BY 1, 2"""
    )


def tokenizer_fertility(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer-fertility audit per language: BPE-tokens-per-word and
    chars-per-BPE-token (the standard multilingual tokenizer-quality
    report — high fertility means the vocab under-serves that language,
    inflating training cost per word). One Arrow-batched BPE pass +
    one combinable agg shuffle. Oracle: per-doc BPE counts inlined from
    the driver-side recomputation (the f10 pattern); DuckDB recomputes
    the sums, ratios and per-lang aggregation itself.

    Exports are TIE-PROOF by construction (the evt_gap_fill rule):
    integer token/char sums plus the corpus-level ratios-of-sums
    (the standard fertility definition), exported UNROUNDED — a
    quotient of identical integers is bit-identical IEEE division on
    both engines, whereas the old rounded per-doc-ratio means sat one
    testdata regeneration away from a HALF_UP-vs-float-repr rounding
    tie."""
    d = load_table(spark, sf_dir, "documents")
    stats = d.select(
        "lang",
        TX.bpe_token_count_exact("text").alias("bpe"),
        TX.whitespace_token_count("text").alias("ws"),
        F.length("text").alias("chars"),
    ).where(F.col("ws") > 0)
    return (
        stats.groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("bpe").alias("sum_bpe"),
            F.sum("ws").alias("sum_ws"),
            F.sum("chars").alias("sum_chars"),
        )
        .select(
            "lang",
            "n_docs",
            "sum_bpe",
            "sum_ws",
            "sum_chars",
            (F.col("sum_bpe").cast("double") / F.col("sum_ws")).alias(
                "fertility"
            ),
            (F.col("sum_chars").cast("double") / F.col("sum_bpe")).alias(
                "chars_per_token"
            ),
        )
        .orderBy("lang")
    )


def _ws_count_py(t: str | None) -> int:
    """Exact python twin of functions.text.whitespace_token_count:
    F.trim strips 0x20 SPACES only (tabs/newlines survive), and
    F.split(limit=-1) KEEPS empty pieces — so '\\tfoo bar\\n' counts 4
    (leading+trailing empties), unlike word_tokens_py which drops them.
    re.split likewise keeps leading/trailing empties; re.ASCII matches
    Java regex \\s."""
    import re

    t = (t or "").strip(" ")
    if t == "":
        return 0
    return len(re.split(r"\s+", t, flags=re.ASCII))


def _fertility_sql() -> str:
    import duckdb

    from vector_search_optimization_spark.functions.bpe import bpe_token_count

    pdf = duckdb.sql(
        f"SELECT doc_id, lang, text FROM '{_oracle_sf_dir()}/documents.parquet'"
        " ORDER BY doc_id"
    ).df()
    vals = ", ".join(
        f"('{lang}', {bpe_token_count(t or '')},"
        f" {_ws_count_py(t)}, {len(t or '')})"
        for lang, t in zip(pdf["lang"], pdf["text"])
    )
    return f"""
SELECT lang, count(*) AS n_docs,
       CAST(sum(bpe) AS BIGINT) AS sum_bpe,
       CAST(sum(ws) AS BIGINT) AS sum_ws,
       CAST(sum(chars) AS BIGINT) AS sum_chars,
       CAST(sum(bpe) AS DOUBLE) / CAST(sum(ws) AS BIGINT) AS fertility,
       CAST(sum(chars) AS DOUBLE) / CAST(sum(bpe) AS BIGINT)
         AS chars_per_token
FROM (VALUES {vals}) AS t(lang, bpe, ws, chars)
WHERE ws > 0
GROUP BY lang ORDER BY lang
"""


def s7_convert_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S7 — the binaryFile→mapInPandas conversion stage, value-checked
    end to end: documents.text written out as one .txt file per doc,
    scanned back through the binary ingest path, converted, and joined
    by path-derived doc_id. The oracle recomputes the txt conversion
    (strip) straight from the parquet — a mismatch anywhere in the
    binary scan / Arrow batch / extraction path breaks the hash."""
    from vector_search_optimization_spark.sources import converters as CV

    d = load_table(spark, sf_dir, "documents")
    out_dir = _roundtrip_path(sf_dir, "txt_docs")
    # one file per doc_id: clear the leaf first, or doc files from a
    # previous dataset generation (doc_id sets change between rounds)
    # would be scanned back as phantom rows
    shutil.rmtree(out_dir, ignore_errors=True)
    os.makedirs(out_dir, exist_ok=True)

    # files are written executor-side, one partition at a time (local FS
    # here; at lake scale the same pattern targets object storage) — no
    # driver collect, no serial write loop
    def _write_files(it):
        import pandas as pd

        for pdf in it:
            for doc_id, text in zip(pdf["doc_id"], pdf["text"]):
                with open(os.path.join(out_dir, f"{doc_id}.txt"), "w") as f:
                    f.write(text or "")
            yield pd.DataFrame({"n": [len(pdf)]})

    # writer stage NOT spread (r11 A/B-probed): the txt write is pure
    # file-create IO — 32 concurrent writers on one directory measured
    # ~1s slower than the single sequential task; contrast s7_pdf below
    d.select("doc_id", "text").mapInPandas(_write_files, schema="n long").agg(
        F.sum("n")
    ).collect()
    converted = CV.convert_documents(
        CV.read_binary_docs(spark, out_dir, glob="*.txt")
    )
    with_id = converted.withColumn(
        "doc_id",
        F.regexp_extract(F.col("path"), r"(\d+)\.txt$", 1).cast("long"),
    )
    return (
        with_id.select(
            "doc_id",
            F.col("n_chars").cast("long").alias("n_chars_extracted"),
            "converted",
        )
        .orderBy("doc_id")
    )


_S7_SQL = """
SELECT doc_id,
       CAST(length(trim(coalesce(text, ''),
            chr(10) || chr(13) || chr(9) || chr(11) || chr(12) || ' '))
           AS BIGINT) AS n_chars_extracted,
       true AS converted
FROM documents ORDER BY doc_id
"""


def s7_pdf_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S7 pdf leg — documents.text written as one FlateDecode pdf per doc
    (sources.converters.text_to_pdf), scanned back through the binary
    ingest path, and text-extracted by the pure-python pdf converter
    (pdf_to_text). Value-checked end to end: per-doc extracted char count
    AND a sha256 over the extracted text must match the oracle's
    recomputation from the parquet — covering string escaping, Flate
    round-trip, line splitting, and latin-1 '?'-substitution exactly.
    Matches the reference's pdf ingest (analisis-informe.ipynb:2806 c82)
    without its vendored converter."""
    from vector_search_optimization_spark.sources import converters as CV

    d = load_table(spark, sf_dir, "documents")
    out_dir = _roundtrip_path(sf_dir, "pdf_docs")
    shutil.rmtree(out_dir, ignore_errors=True)
    os.makedirs(out_dir, exist_ok=True)

    def _write_files(it):
        import pandas as pd

        for pdf in it:
            for doc_id, text in zip(pdf["doc_id"], pdf["text"]):
                with open(os.path.join(out_dir, f"{doc_id}.pdf"), "wb") as f:
                    f.write(CV.text_to_pdf(text or ""))
            yield pd.DataFrame({"n": [len(pdf)]})

    # spread the writer stage: text_to_pdf (zlib deflate per doc) + 5000
    # file writes would otherwise run in the scan's ONE task (guide §2.5)
    spread_scan(d.select("doc_id", "text"), "doc_id").mapInPandas(
        _write_files, schema="n long"
    ).agg(F.sum("n")).collect()
    converted = CV.convert_documents(
        CV.read_binary_docs(spark, out_dir, glob="*.pdf")
    )
    return (
        converted.withColumn(
            "doc_id",
            F.regexp_extract(F.col("path"), r"(\d+)\.pdf$", 1).cast("long"),
        )
        .select(
            "doc_id",
            F.col("n_chars").cast("long").alias("n_chars_extracted"),
            F.when(F.col("converted"), F.sha2(F.col("text"), 256)).alias(
                "text_sha"
            ),
            "converted",
        )
        .orderBy("doc_id")
    )


# the oracle mirrors the writer/extractor pair exactly: codepoints > 0xFF
# become '?' (one char each, so length is preserved), then ASCII-whitespace
# outer trim; sha256 over that string equals Spark's sha2(extracted, 256)
_S7_PDF_SQL = r"""
WITH t AS (
  SELECT doc_id,
         trim(regexp_replace(coalesce(text, ''), '[^\x00-\xFF]', '?', 'g'),
              chr(10) || chr(13) || chr(9) || chr(11) || chr(12) || ' ') AS x
  FROM documents
)
SELECT doc_id,
       CAST(length(x) AS BIGINT) AS n_chars_extracted,
       CASE WHEN length(x) > 0 THEN sha256(x) END AS text_sha,
       length(x) > 0 AS converted
FROM t ORDER BY doc_id
"""


def doc_chunking(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding word-window chunking of the documents table — the ingest
    step between conversion and embedding that produces the reference's
    chunk fact rows (SURVEY §1.1; 5,755 chunk rows at
    silhouettes.ipynb:237 c11; chunk key shape ChunkLabelingProcesor.py:30).
    32-token windows, 8-token overlap, stable chunk ids
    ``{doc_id}_{chunk_ix}``. Pure projection + posexplode: chunking is
    map-only at any corpus size (plan-pinned: zero Exchange)."""
    d = load_table(spark, sf_dir, "documents")
    exploded = d.select(
        F.col("doc_id"),
        F.explode(TX.word_chunks("text", chunk_tokens=32, overlap=8)).alias(
            "c"
        ),
    )
    return exploded.select(
        F.concat(
            F.col("doc_id").cast("string"), F.lit("_"), F.col("c.chunk_ix")
        ).alias("chunk_id"),
        "doc_id",
        F.col("c.chunk_ix").alias("chunk_ix"),
        F.col("c.n_tokens").alias("n_tokens"),
        F.col("c.chunk_text").alias("chunk_text"),
    )


_DOC_CHUNK_SQL = r"""
WITH toks AS (
  SELECT doc_id,
         list_filter(string_split_regex(trim(text), '\s+'), t -> t <> '') AS w
  FROM documents
), st AS (
  SELECT doc_id, w, unnest(range(0, len(w), 24)) AS s FROM toks
)
SELECT CAST(doc_id AS VARCHAR) || '_' || CAST(s // 24 AS VARCHAR) AS chunk_id,
       doc_id,
       CAST(s // 24 AS INTEGER) AS chunk_ix,
       CAST(least(len(w) - s, 32) AS INTEGER) AS n_tokens,
       array_to_string(list_slice(w, s + 1, s + 32), ' ') AS chunk_text
FROM st
"""


def ann_quantized_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Int8 scalar-quantized ANN: the corpus is symmetric-per-vector
    quantized (4× storage cut), the query runs cosine top-20 over the
    DEQUANTIZED vectors — the standard SQ recall/storage trade. The
    DuckDB oracle reproduces quantize → dequantize → cosine → top-k
    bit-for-bit, so the accuracy loss is value-checked, not estimated.
    Same seeded query vector as ann_topk; comparing the two result sets
    measures SQ recall directly."""
    e = load_table(spark, sf_dir, "embeddings")
    deq = ann.quantize_int8(e).withColumn("deq", ann.dequantize_int8())
    qvec = e.orderBy("vec_id").select("embedding").first()[0]
    return (
        deq.select(
            "vec_id",
            F.round(V.cosine_similarity("deq", qvec), 6).alias("score"),
        )
        .orderBy(F.desc("score"), "vec_id")
        .limit(20)
    )


_ANN_QUANT_SQL = """
WITH q AS (
  SELECT list_transform(embedding, x -> CAST(x AS DOUBLE)) AS qv
  FROM embeddings ORDER BY vec_id LIMIT 1
), quant AS (
  SELECT vec_id,
         list_max(list_transform(embedding, x -> abs(CAST(x AS DOUBLE)))) / 127.0
             AS s,
         embedding
  FROM embeddings
), deq AS (
  SELECT vec_id,
         CASE WHEN s = 0 THEN list_transform(embedding, x -> 0.0)
              ELSE list_transform(embedding,
                   x -> round(CAST(x AS DOUBLE) / s) * s) END AS v
  FROM quant
), scored AS (
  SELECT vec_id,
         round(
           list_sum(list_transform(list_zip(v, qv), p -> p[1] * p[2]))
           / nullif(sqrt(list_sum(list_transform(v, x -> x * x)))
                    * sqrt(list_sum(list_transform(qv, x -> x * x))), 0),
           6) AS score
  FROM deq, q
)
SELECT vec_id, score FROM scored ORDER BY score DESC, vec_id LIMIT 20
"""


_PQ_M, _PQ_KSUB = 8, 16


def ann_pq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantized ANN (Jégou PQ-ADC): 16-centroid codebooks per 8
    subspaces (32× storage cut at dim 64), corpus encoded by an Arrow
    argmin kernel, then the 20 nearest rows to the min-vec_id query by
    asymmetric distance — m literal lookup tables, so the scan does 8
    element_at lookups per row and no vector math. The DuckDB oracle
    re-derives the same codebooks, codes, and LUT sums from literals."""
    e = load_table(spark, sf_dir, "embeddings")
    books = ann.train_pq_codebooks(e.orderBy("vec_id"), _PQ_M, _PQ_KSUB)
    qvec = e.orderBy("vec_id").select("embedding").first()[0]
    enc = ann.pq_encode_kernel(e.select("vec_id", "embedding"), books)
    return (
        enc.select(
            "vec_id",
            F.round(ann.pq_adc_score(books, qvec), 6).alias("adc_dist"),
        )
        .orderBy("adc_dist", "vec_id")
        .limit(20)
    )


def _pq_oracle_parts() -> tuple[str, "np.ndarray"]:
    """Shared generator for the PQ oracles: re-derives the codebooks from
    the vec_id-ordered oracle data and returns (adc_sql_expr, qvec) —
    the literal-LUT asymmetric-distance expression over `embedding` plus
    the query vector (min vec_id)."""
    import duckdb

    con = duckdb.sql(
        "SELECT vec_id, embedding FROM "
        f"'{_oracle_sf_dir()}/embeddings.parquet' ORDER BY vec_id"
    ).df()
    X = np.asarray(con["embedding"].tolist(), dtype=np.float64)
    qvec = X[0]  # data is vec_id-ordered; min-id row = the query vector

    m, ksub = _PQ_M, _PQ_KSUB
    dim = X.shape[1]
    dsub = dim // m
    from vector_search_optimization_spark.operators.ann import _lloyd_kmeans

    books = np.stack(
        [
            _lloyd_kmeans(X[:100_000, j * dsub : (j + 1) * dsub], ksub, 42 + j, 20)
            for j in range(m)
        ]
    ).astype(np.float32).astype(np.float64)

    sub_terms = []
    for j in range(m):
        lo, hi = j * dsub + 1, (j + 1) * dsub
        sub = f"list_transform(embedding[{lo}:{hi}], x -> CAST(x AS DOUBLE))"
        structs = []
        for c in range(ksub):
            lits = ", ".join(f"{float(v)!r}" for v in books[j][c])
            d = (
                f"list_sum(list_transform(list_zip({sub}, [{lits}]), "
                "p -> (p[1] - p[2]) * (p[1] - p[2])))"
            )
            structs.append("{'d': " + d + f", 'c': {c}}}")
        code = f"list_min([{', '.join(structs)}])['c']"
        qs = qvec[j * dsub : (j + 1) * dsub]
        lut = ((books[j] - qs[None, :]) ** 2).sum(axis=1)
        lut_lits = ", ".join(f"{float(v)!r}" for v in lut)
        sub_terms.append(f"([{lut_lits}])[{code} + 1]")
    return " + ".join(sub_terms), qvec


def _pq_sql() -> str:
    """Generated oracle: same sample → same _lloyd_kmeans codebooks →
    DuckDB recomputes per-subspace argmin codes (struct-min, ties →
    lowest code) and the identical literal LUT sums."""
    adc, _ = _pq_oracle_parts()
    return f"""
SELECT vec_id, round({adc}, 6) AS adc_dist
FROM embeddings ORDER BY adc_dist, vec_id LIMIT 20
"""


def ann_pq_refined_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-stage PQ retrieval (Jégou ADC + exact re-rank, Faiss
    IndexRefineFlat): ADC shortlists 100 candidates via literal lookup
    tables, full-precision squared euclidean re-scores ONLY those rows,
    true top-10 returned — how compressed storage keeps exact-quality
    answers (full-precision reads amortize over the shortlist, not the
    corpus). Oracle: the shared literal-LUT ADC CTE + exact re-rank
    recomputed by DuckDB over the identical candidate cut."""
    e = load_table(spark, sf_dir, "embeddings")
    books = ann.train_pq_codebooks(e.orderBy("vec_id"), _PQ_M, _PQ_KSUB)
    qvec = e.orderBy("vec_id").select("embedding").first()[0]
    enc = ann.pq_encode_kernel(e.select("vec_id", "embedding"), books)
    top = ann.pq_refined_topk(enc, books, qvec)
    return top.select(
        "vec_id",
        F.round("exact_dist", 6).alias("exact_dist"),
        F.round("adc_dist", 6).alias("adc_dist"),
    )


def _pq_refined_sql() -> str:
    adc, qvec = _pq_oracle_parts()
    qlits = ", ".join(f"{float(v)!r}" for v in qvec)
    return f"""
WITH cand AS (
  SELECT vec_id, embedding, {adc} AS adc_dist
  FROM embeddings ORDER BY adc_dist, vec_id LIMIT 100
), ref AS (
  SELECT vec_id, adc_dist,
         list_sum(list_transform(list_zip(embedding, [{qlits}]),
              p -> (CAST(p[1] AS DOUBLE) - p[2]) * (CAST(p[1] AS DOUBLE) - p[2])))
           AS exact_dist
  FROM cand
)
SELECT vec_id, round(exact_dist, 6) AS exact_dist, round(adc_dist, 6) AS adc_dist
FROM ref ORDER BY exact_dist, vec_id LIMIT 10
"""


def ann_ivfpq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ composition (Faiss IndexIVFPQ, by_residual=false): the
    materialized cell-partitioned IVF index supplies the probe set
    (nprobe=4 of 16 cells, partition-pruned scan), PQ codes supply the
    score (8 LUT lookups per row — no vector math, no full-precision
    reads). The actual lake-scale ANN layout: coarse pruning × 32×
    compressed scoring. Oracle: both quantizers re-derived driver-side
    from the vec_id-ordered data (shared _lloyd_kmeans), DuckDB
    recomputes cell assignment, codes, and literal LUT sums."""
    e = load_table(spark, sf_dir, "embeddings")
    books = ann.train_pq_codebooks(e.orderBy("vec_id"), _PQ_M, _PQ_KSUB)
    path = _ivf_index_dir(spark, sf_dir)
    indexed, cents = ann.load_ivf_index(spark, path)
    qvec = e.orderBy("vec_id").select("embedding").first()[0]
    enc = ann.pq_encode_kernel(
        indexed.select("vec_id", "embedding", "cell"), books
    ).drop("embedding")
    top = ann.ivfpq_topk(enc, cents, books, qvec, k=20)
    return top.select("vec_id", F.round(F.col("adc_dist"), 6).alias("adc_dist"))


_IVFPQ_PARTS_CACHE: dict[str, tuple] = {}


def _ivfpq_oracle_parts() -> tuple[str, str, str, "np.ndarray"]:
    """Shared generator for the IVF-PQ oracles: returns (cell_structs,
    probe_inlist, adc_expr, qvec) — _ivf_sql's literal-centroid cell
    assignment composed with _pq_sql's literal codebook ADC. Cached per
    oracle sf dir (two oracles consume it; the 9 k-means fits are
    identical) — keyed on the env-dependent dir, NOT a bare lru_cache,
    because SPARK_GRAFT_ORACLE_SF_DIR differs between the parity test
    and check_correctness."""
    cached = _IVFPQ_PARTS_CACHE.get(_oracle_sf_dir())
    if cached is not None:
        return cached
    import duckdb

    from vector_search_optimization_spark.operators.ann import _lloyd_kmeans

    pdf = duckdb.sql(
        "SELECT vec_id, embedding FROM "
        f"'{_oracle_sf_dir()}/embeddings.parquet' ORDER BY vec_id"
    ).df()
    X = np.asarray(pdf["embedding"].tolist(), dtype=np.float64)
    qvec = X[0]  # data is vec_id-ordered; min-id row = the query vector

    # coarse quantizer — identical to _ivf_sql
    centers = _lloyd_kmeans(X[:100_000], 16, seed=42, max_iter=20)
    cents = np.asarray(
        [list(map(float, c)) for c in centers], dtype=np.float32
    ).astype(np.float64)
    order = sorted(
        range(len(cents)), key=lambda i: float(np.sum((cents[i] - qvec) ** 2))
    )
    probe = ", ".join(str(i) for i in order[:4])

    def cell_dist(i: int) -> str:
        lits = ", ".join(f"{float(x)!r}" for x in cents[i])
        return (
            "list_reduce(list_transform(list_zip(embedding, "
            f"[{lits}]), p -> (CAST(p[1] AS DOUBLE) - p[2]) "
            "* (CAST(p[1] AS DOUBLE) - p[2])), (x, y) -> x + y)"
        )

    cell_structs = ", ".join(
        "{'d': " + cell_dist(i) + f", 'c': {i}}}" for i in range(len(cents))
    )

    # PQ codebooks + ADC — identical to _pq_sql
    m, ksub = _PQ_M, _PQ_KSUB
    dsub = X.shape[1] // m
    books = np.stack(
        [
            _lloyd_kmeans(X[:100_000, j * dsub : (j + 1) * dsub], ksub, 42 + j, 20)
            for j in range(m)
        ]
    ).astype(np.float32).astype(np.float64)
    sub_terms = []
    for j in range(m):
        lo, hi = j * dsub + 1, (j + 1) * dsub
        sub = f"list_transform(embedding[{lo}:{hi}], x -> CAST(x AS DOUBLE))"
        structs = []
        for c in range(ksub):
            lits = ", ".join(f"{float(v)!r}" for v in books[j][c])
            d = (
                f"list_sum(list_transform(list_zip({sub}, [{lits}]), "
                "p -> (p[1] - p[2]) * (p[1] - p[2])))"
            )
            structs.append("{'d': " + d + f", 'c': {c}}}")
        code = f"list_min([{', '.join(structs)}])['c']"
        qs = qvec[j * dsub : (j + 1) * dsub]
        lut = ((books[j] - qs[None, :]) ** 2).sum(axis=1)
        lut_lits = ", ".join(f"{float(v)!r}" for v in lut)
        sub_terms.append(f"([{lut_lits}])[{code} + 1]")
    adc = " + ".join(sub_terms)
    _IVFPQ_PARTS_CACHE[_oracle_sf_dir()] = (cell_structs, probe, adc, qvec)
    return cell_structs, probe, adc, qvec


def _ivfpq_sql() -> str:
    cell_structs, probe, adc, _ = _ivfpq_oracle_parts()
    return f"""
WITH assigned AS (
  SELECT vec_id, embedding, list_min([{cell_structs}])['c'] AS cell
  FROM embeddings
)
SELECT vec_id, round({adc}, 6) AS adc_dist
FROM assigned WHERE cell IN ({probe})
ORDER BY adc_dist, vec_id LIMIT 20
"""


def ann_ivfpq_refined_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The complete production ANN stack in one query (Faiss IndexIVFPQ
    + IndexRefineFlat): coarse cells prune the scan (partition pruning),
    PQ-ADC shortlists 100 candidates at one byte per subspace per row,
    and only the shortlist's full-precision vectors are fetched back (id
    IN-list pushed to the parquet scan) for the exact top-10. Oracle:
    the shared cell/LUT literal parts + an exact re-rank CTE."""
    e = load_table(spark, sf_dir, "embeddings")
    books = ann.train_pq_codebooks(e.orderBy("vec_id"), _PQ_M, _PQ_KSUB)
    path = _ivf_index_dir(spark, sf_dir)
    indexed, cents = ann.load_ivf_index(spark, path)
    qvec = e.orderBy("vec_id").select("embedding").first()[0]
    enc = ann.pq_encode_kernel(
        indexed.select("vec_id", "embedding", "cell"), books
    ).drop("embedding")
    top = ann.ivfpq_refined_topk(enc, indexed, cents, books, qvec)
    return top.select(
        "vec_id",
        F.round("exact_dist", 6).alias("exact_dist"),
        F.round("adc_dist", 6).alias("adc_dist"),
    )


def _ivfpq_refined_sql() -> str:
    cell_structs, probe, adc, qvec = _ivfpq_oracle_parts()
    qlits = ", ".join(f"{float(v)!r}" for v in qvec)
    return f"""
WITH assigned AS (
  SELECT vec_id, embedding, list_min([{cell_structs}])['c'] AS cell
  FROM embeddings
), cand AS (
  SELECT vec_id, embedding, {adc} AS adc_dist
  FROM assigned WHERE cell IN ({probe})
  ORDER BY adc_dist, vec_id LIMIT 100
), ref AS (
  SELECT vec_id, adc_dist,
         list_sum(list_transform(list_zip(embedding, [{qlits}]),
              p -> (CAST(p[1] AS DOUBLE) - p[2]) * (CAST(p[1] AS DOUBLE) - p[2])))
           AS exact_dist
  FROM cand
)
SELECT vec_id, round(exact_dist, 6) AS exact_dist, round(adc_dist, 6) AS adc_dist
FROM ref ORDER BY exact_dist, vec_id LIMIT 10
"""


_HYBRID_TERMS = ("join", "window", "scan")
_RRF_K = 60
_HYBRID_TOP = 100
_BM25_K1 = 1.2
_BM25_B = 0.75


def hybrid_search_rrf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid retrieval with reciprocal-rank fusion — the capability the
    reference delegates to Azure AI Search (SURVEY §0: hybrid keyword +
    vector search), re-expressed engine-side. Keyword side: BM25 (what
    Azure AI Search actually runs) — Robertson/Lucene idf
    ln(1 + (N - df + 0.5)/(df + 0.5)) with k1/b saturation over doc
    length vs the corpus average; N, per-term df, and avgdl are computed
    distributedly and broadcast as one stats row. Vector side: cosine to
    the min-vec_id query. Each side takes its top-100 via a scale-safe
    orderBy+limit (TakeOrdered — no global window over the corpus),
    ranks the bounded result list, and RRF fuses:
    score = Σ 1/(60 + rank), absent side contributes 0."""
    from vector_search_optimization_spark.operators import retrieval as R

    d = load_table(spark, sf_dir, "documents").where(F.col("text").isNotNull())
    e = load_table(spark, sf_dir, "embeddings")
    base = d.join(e, d["doc_id"] == e["vec_id"]).select("doc_id", "text", "embedding")

    with_kw = R.bm25_keyword_scores(
        base, _HYBRID_TERMS, "text", "doc_id", k1=_BM25_K1, b=_BM25_B
    )
    kw_top = R.top_ranked(
        with_kw.where(F.col("kw_score") > 0),
        "kw_score", "doc_id", _HYBRID_TOP, "rank_kw",
    )

    qvec = e.orderBy("vec_id").select("embedding").first()[0]
    vec_scored = base.select(
        "doc_id",
        F.round(V.cosine_similarity("embedding", qvec), 6).alias("vec_score"),
    ).where(F.col("vec_score").isNotNull())
    vec_top = R.top_ranked(
        vec_scored, "vec_score", "doc_id", _HYBRID_TOP, "rank_vec"
    )

    fused = R.rrf_fuse({"kw": kw_top, "vec": vec_top}, "doc_id", _RRF_K)
    return fused.orderBy(F.desc("rrf_score"), "doc_id").limit(20)


_HYBRID_SQL = f"""
WITH base AS (
  SELECT d.doc_id, d.text, e.embedding
  FROM documents d JOIN embeddings e ON d.doc_id = e.vec_id
  WHERE d.text IS NOT NULL
), toks AS (
  SELECT doc_id, embedding,
         list_filter(string_split_regex(lower(text), '\\s+'), t -> t <> '') AS w
  FROM base
), tf AS (
  SELECT doc_id, embedding, CAST(len(w) AS DOUBLE) AS dl,
         {", ".join(f"len(list_filter(w, t -> t = '{term}')) AS tf{j}"
                    for j, term in enumerate(_HYBRID_TERMS))}
  FROM toks
), stats AS (
  SELECT count(*) AS n, avg(dl) AS avgdl,
         {", ".join(f"sum(CASE WHEN tf{j} > 0 THEN 1 ELSE 0 END) AS df{j}"
                    for j in range(len(_HYBRID_TERMS)))}
  FROM tf
), kw AS (
  SELECT doc_id,
         round({" + ".join(
             f"CASE WHEN s.df{j} > 0 THEN "
             f"ln(1.0 + (CAST(s.n AS DOUBLE) - s.df{j} + 0.5) / (s.df{j} + 0.5))"
             f" * (CAST(tf{j} AS DOUBLE) * ({_BM25_K1} + 1.0))"
             f" / (CAST(tf{j} AS DOUBLE) + {_BM25_K1} * "
             f"(1.0 - {_BM25_B} + {_BM25_B} * dl / s.avgdl))"
             f" ELSE 0.0 END"
             for j in range(len(_HYBRID_TERMS)))}, 6) AS kw_score
  FROM tf, stats s
), kw_top AS (
  SELECT doc_id,
         CAST(row_number() OVER (ORDER BY kw_score DESC, doc_id) AS INT) AS rank_kw
  FROM kw WHERE kw_score > 0
  ORDER BY kw_score DESC, doc_id LIMIT {_HYBRID_TOP}
), q AS (
  SELECT list_transform(embedding, x -> CAST(x AS DOUBLE)) AS qv
  FROM embeddings ORDER BY vec_id LIMIT 1
), vec AS (
  SELECT doc_id,
         round(
           list_sum(list_transform(list_zip(embedding, qv),
                    p -> CAST(p[1] AS DOUBLE) * p[2]))
           / nullif(sqrt(list_sum(list_transform(embedding,
                         x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
                    * sqrt(list_sum(list_transform(qv, x -> x * x))), 0),
           6) AS vec_score
  FROM base, q
), vec_top AS (
  SELECT doc_id,
         CAST(row_number() OVER (ORDER BY vec_score DESC, doc_id) AS INT) AS rank_vec
  FROM vec WHERE vec_score IS NOT NULL
  ORDER BY vec_score DESC, doc_id LIMIT {_HYBRID_TOP}
)
SELECT coalesce(k.doc_id, v.doc_id) AS doc_id,
       coalesce(k.rank_kw, 0) AS rank_kw,
       coalesce(v.rank_vec, 0) AS rank_vec,
       round(coalesce(1.0 / ({_RRF_K} + k.rank_kw), 0.0)
             + coalesce(1.0 / ({_RRF_K} + v.rank_vec), 0.0), 6) AS rrf_score
FROM kw_top k FULL OUTER JOIN vec_top v ON k.doc_id = v.doc_id
ORDER BY rrf_score DESC, doc_id LIMIT 20
"""


_WINNOW_N, _WINNOW_W = 5, 4


def doc_winnow_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing document fingerprints (Schleimer/Wilkerson/Aiken, the
    MOSS algorithm): positional char-5-gram rolling hashes, min of each
    sliding window of 4 — the guarantee is every sufficiently long match
    shares a fingerprint, at ~1/w the storage of full shingling. Pure
    column expressions over the shared polynomial hash, so DuckDB
    recomputes every fingerprint set identically."""
    d = load_table(spark, sf_dir, "documents")

    # Arrow kernel: the interpreted per-gram poly_hash fold measured ~6
    # min at sf0.01; the vectorized window hash (char_gram_hashes_np) +
    # sliding-window min is milliseconds and bit-identical
    def batches(it):
        import pandas as pd

        for pdf in it:
            ids, ng, nf, mn, mx = [], [], [], [], []
            for doc_id, text in zip(pdf["doc_id"].tolist(), pdf["text"]):
                t = (text or "").strip(" ").lower()
                h = TX.char_gram_hashes_np(t, _WINNOW_N)
                if len(h) <= _WINNOW_W:
                    fps = h.min(keepdims=True)
                else:
                    fps = np.lib.stride_tricks.sliding_window_view(
                        h, _WINNOW_W
                    ).min(axis=1)
                ids.append(doc_id)
                ng.append(len(h))
                nf.append(len(np.unique(fps)))
                mn.append(int(fps.min()))
                mx.append(int(fps.max()))
            yield pd.DataFrame(
                {
                    "doc_id": ids,
                    "n_grams": ng,
                    "n_fingerprints": nf,
                    "min_fp": mn,
                    "max_fp": mx,
                }
            )

    return (
        d.select("doc_id", "text")
        .mapInPandas(
            batches,
            schema="doc_id long, n_grams long, n_fingerprints long, "
            "min_fp long, max_fp long",
        )
        .orderBy("doc_id")
    )


def _winnow_sql() -> str:
    # the poly template's inner fold variable is i — the outer gram
    # lambda must use j so the substring's position binds to the gram,
    # not the fold step
    poly_gram = _POLY_SQL.format(
        s=f"substring(t, j, {_WINNOW_N})", base=TX.POLY_BASE
    )
    poly_whole = _POLY_SQL.format(s="t", base=TX.POLY_BASE)
    return f"""
WITH g AS (
  SELECT doc_id, lower(trim(text)) AS t FROM documents
), h AS (
  SELECT doc_id,
         CASE WHEN length(t) >= {_WINNOW_N} THEN
             list_transform(range(1, length(t) - {_WINNOW_N - 2}),
                            j -> {poly_gram})
         ELSE [{poly_whole}] END AS hs
  FROM g
), w AS (
  SELECT doc_id, hs,
         list_transform(range(1, greatest(len(hs) - {_WINNOW_W - 1}, 1) + 1),
                        i -> list_min(hs[i:i + {_WINNOW_W - 1}])) AS fps
  FROM h
)
SELECT doc_id, CAST(len(hs) AS BIGINT) AS n_grams,
       CAST(len(list_distinct(fps)) AS BIGINT) AS n_fingerprints,
       CAST(list_min(fps) AS BIGINT) AS min_fp,
       CAST(list_max(fps) AS BIGINT) AS max_fp
FROM w ORDER BY doc_id
"""


# ---------------------------------------------------------------------------
# PII redaction (training-data scrubbing; functions.redact)
# ---------------------------------------------------------------------------
# documents.text is synthetic word-salad with no real PII, so the query
# deterministically plants one email / phone / IPv4 / URL per doc, derived
# from doc_id — BOTH sides build the identical augmented text from the
# same parquet, then the redaction contract (pattern set + application
# order, functions/redact.py) is value-checked per doc: match counts on
# the raw text, plus length and sha256 of the redacted output.

def pii_redaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrub: regexp counters + ordered redaction, pure projection
    (map-only at any corpus size; all four detectors are codegen'd
    regexp expressions — no Python in the hot path)."""
    from vector_search_optimization_spark.functions import redact as RD

    d = load_table(spark, sf_dir, "documents")
    aug = d.select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.lit(" contact user"),
            F.col("doc_id").cast("string"),
            F.lit("@mail.example.com or +1-555-"),
            F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0"),
            F.lit(" ip 10.0."),
            (F.col("doc_id") % 256).cast("string"),
            F.lit("."),
            ((F.col("doc_id") * 7) % 256).cast("string"),
            F.lit(" via https://site"),
            (F.col("doc_id") % 50).cast("string"),
            F.lit(".example.org/p"),
        ).alias("aug"),
    )
    counts = RD.pii_counts("aug")
    return (
        aug.select(
            "doc_id",
            *[v.alias(k) for k, v in counts.items()],
            F.length(RD.redact_pii("aug")).alias("redacted_len"),
            F.sha2(RD.redact_pii("aug"), 256).alias("redacted_sha"),
        )
        .orderBy("doc_id")
    )


_PII_SQL = r"""
WITH aug AS (
  SELECT doc_id,
         text || ' contact user' || CAST(doc_id AS VARCHAR)
              || '@mail.example.com or +1-555-'
              || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
              || ' ip 10.0.' || CAST(doc_id % 256 AS VARCHAR)
              || '.' || CAST((doc_id * 7) % 256 AS VARCHAR)
              || ' via https://site' || CAST(doc_id % 50 AS VARCHAR)
              || '.example.org/p' AS aug
  FROM documents
), red AS (
  SELECT doc_id, aug,
         regexp_replace(regexp_replace(regexp_replace(regexp_replace(aug,
           'https?://[^\s]+', '<URL>', 'g'),
           '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
           '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b', '<IP>', 'g'),
           '\+\d{1,2}-\d{3}-\d{3,4}\b', '<PHONE>', 'g') AS redacted
  FROM aug
)
SELECT doc_id,
       len(regexp_extract_all(aug, 'https?://[^\s]+')) AS n_url,
       len(regexp_extract_all(aug,
           '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS n_email,
       len(regexp_extract_all(aug,
           '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b')) AS n_ip,
       len(regexp_extract_all(aug, '\+\d{1,2}-\d{3}-\d{3,4}\b')) AS n_phone,
       length(redacted) AS redacted_len,
       sha256(redacted) AS redacted_sha
FROM red ORDER BY doc_id
"""


# ---------------------------------------------------------------------------
# unigram LM quality scoring (operators.lm_quality)
# ---------------------------------------------------------------------------

def lm_quality_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perplexity-style curation signal: train a unigram LM on the corpus
    (one combinable shuffle), score every doc by mean token surprisal
    (broadcast vocab join + one combinable per-doc agg)."""
    from vector_search_optimization_spark.operators import lm_quality as LM

    d = spread_scan(
        load_table(spark, sf_dir, "documents").select("doc_id", "text"),
        "doc_id",
    )
    vocab = LM.train_unigram_lm(d)
    return (
        LM.unigram_surprisal(d, vocab)
        .select(
            "doc_id",
            "n_tokens",
            F.round("avg_surprisal", 4).alias("avg_surprisal"),
        )
        .orderBy("doc_id")
    )


_LM_SQL = r"""
WITH toks AS (
  SELECT doc_id,
         unnest(list_filter(string_split_regex(text, '\s+'),
                            s -> s <> '')) AS word
  FROM documents
), vocab AS (
  SELECT word, count(*) AS cnt FROM toks GROUP BY word
), tot AS (
  SELECT CAST(sum(cnt) AS DOUBLE) AS n_total,
         CAST(count(*) AS DOUBLE) AS v_size
  FROM vocab
)
SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
       round(avg(-ln((COALESCE(cnt, 0) + 1.0) / (n_total + v_size))), 4)
         AS avg_surprisal
FROM toks LEFT JOIN vocab USING (word) CROSS JOIN tot
GROUP BY doc_id ORDER BY doc_id
"""


# ---------------------------------------------------------------------------
# deterministic sampling (operators.sampling)
# ---------------------------------------------------------------------------

def stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exactly-20-per-lang reproducible sample in sha256 hash order —
    one window shuffle with WindowGroupLimit pushdown; the sample is a
    pure function of the data (retry/partitioning-invariant)."""
    from vector_search_optimization_spark.operators import sampling as SAMP

    d = load_table(spark, sf_dir, "documents")
    return (
        SAMP.stratified_sample_fixed_n(d, "lang", "doc_id", 20)
        .select(
            "lang",
            "rank",
            "doc_id",
            F.substring(SAMP.sample_hash("doc_id"), 1, 8).alias("h8"),
        )
        .orderBy("lang", "rank")
    )


_STRAT_SQL = """
WITH h AS (
  SELECT lang, doc_id, sha256(CAST(doc_id AS VARCHAR)) AS sh FROM documents
), r AS (
  SELECT lang, doc_id, substr(sh, 1, 8) AS h8,
         CAST(row_number() OVER (PARTITION BY lang ORDER BY sh, doc_id)
              AS BIGINT) AS rank
  FROM h
)
SELECT lang, rank, doc_id, h8 FROM r WHERE rank <= 20 ORDER BY lang, rank
"""


def fraction_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """~25% hash-threshold sample, counted per lang — a scan-level filter
    (pure projection + predicate, zero shuffle before the count agg);
    rerun-stable without rand()."""
    from vector_search_optimization_spark.operators import sampling as SAMP

    d = load_table(spark, sf_dir, "documents")
    return (
        SAMP.deterministic_sample(d, "doc_id", 0.25)
        .groupBy("lang")
        .agg(F.count(F.lit(1)).alias("n_sampled"), F.min("doc_id").alias("min_doc"))
        .orderBy("lang")
    )


_FRAC_SQL = """
SELECT lang, count(*) AS n_sampled, min(doc_id) AS min_doc
FROM documents
WHERE substr(sha256(CAST(doc_id AS VARCHAR)), 1, 4) < '4000'
GROUP BY lang ORDER BY lang
"""


def source_mixture_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-based corpus mixture weighting (sampling.
    mixture_weights, alpha=0.5): per-source whitespace-token counts
    (one combinable agg over the corpus — the only heavy stage), then
    w_s = sqrt(n_s)/Σ sqrt(n_s) with the natural share and the
    oversample factor the training sampler applies. The standard
    pretraining data-mixing dial (GPT-3/LLaMA-style source
    re-weighting: alpha < 1 upsamples small sources). raw_share and
    oversample_factor export unrounded (derived from bit-identical
    inputs); weight rounds 6dp (Σ of irrationals)."""
    from vector_search_optimization_spark.operators import sampling as SAMP

    d = load_table(spark, sf_dir, "documents")
    sizes = d.groupBy("source").agg(
        F.sum(TX.whitespace_token_count("text")).alias("n_tokens")
    )
    return SAMP.mixture_weights(sizes, "source", "n_tokens").orderBy(
        "source"
    )


_MIXTURE_SQL = r"""
WITH tok AS (
  SELECT source,
         CASE WHEN trim(text) = '' THEN 0
              ELSE len(string_split_regex(trim(text), '\s+')) END AS ws
  FROM documents
), sizes AS (
  SELECT source, CAST(sum(ws) AS BIGINT) AS n_tokens
  FROM tok GROUP BY source
), tot AS (
  SELECT CAST(sum(n_tokens) AS BIGINT) AS n_total,
         sum(sqrt(CAST(n_tokens AS DOUBLE))) AS w_total
  FROM sizes
)
SELECT source, n_tokens,
       CAST(n_tokens AS DOUBLE) / n_total AS raw_share,
       round(sqrt(CAST(n_tokens AS DOUBLE)) / w_total, 6) AS weight,
       round(sqrt(CAST(n_tokens AS DOUBLE)) / w_total, 6)
         / (CAST(n_tokens AS DOUBLE) / n_total) AS oversample_factor
FROM sizes, tot ORDER BY source
"""


def mixture_sample_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The data-mixing EXECUTOR: apply source_mixture_weights to the
    corpus under a token budget of half the corpus. Per-source keep rate
    r_s = min(1, budget·w_s / n_s) = min(1, 0.5·weight/raw_share)
    (alpha=0.5 upsamples small sources to rate 1, downsamples large
    ones), applied per document by the deterministic hash threshold
    (sampling.sample_by_rate — rerun/partitioning/engine-stable, no
    rand()). Exports per source the rate and the realized sample
    (n_kept, kept_tokens); the oracle recomputes weights, rates, the
    u16 hash threshold, and the aggregation independently."""
    from vector_search_optimization_spark.operators import sampling as SAMP

    d = load_table(spark, sf_dir, "documents").select(
        "doc_id", "source", TX.whitespace_token_count("text").alias("__ws")
    )
    sizes = d.groupBy("source").agg(F.sum("__ws").alias("n_tokens"))
    w = SAMP.mixture_weights(sizes, "source", "n_tokens").select(
        "source",
        "n_tokens",
        F.least(
            F.lit(1.0), F.lit(0.5) * F.col("weight") / F.col("raw_share")
        ).alias("rate"),
    )
    kept = SAMP.sample_by_rate(
        d.join(F.broadcast(w.select("source", "rate")), "source"),
        "doc_id",
        "rate",
    )
    agg = kept.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_kept"),
        F.sum("__ws").alias("kept_tokens"),
    )
    return (
        w.join(agg, "source", "left")
        .select(
            "source",
            "n_tokens",
            "rate",
            F.coalesce("n_kept", F.lit(0).cast("long")).alias("n_kept"),
            F.coalesce("kept_tokens", F.lit(0).cast("long")).alias(
                "kept_tokens"
            ),
        )
        .orderBy("source")
    )


_MIXTURE_APPLY_SQL = r"""
WITH tok AS (
  SELECT doc_id, source,
         CASE WHEN trim(text) = '' THEN 0
              ELSE len(string_split_regex(trim(text), '\s+')) END AS ws
  FROM documents
), sizes AS (
  SELECT source, CAST(sum(ws) AS BIGINT) AS n_tokens
  FROM tok GROUP BY source
), tot AS (
  SELECT CAST(sum(n_tokens) AS BIGINT) AS n_total,
         sum(sqrt(CAST(n_tokens AS DOUBLE))) AS w_total
  FROM sizes
), rates AS (
  SELECT source, n_tokens,
         least(1.0,
               0.5 * round(sqrt(CAST(n_tokens AS DOUBLE)) / w_total, 6)
               / (CAST(n_tokens AS DOUBLE) / n_total)) AS rate
  FROM sizes, tot
), kept AS (
  SELECT t.source, t.ws
  FROM tok t JOIN rates r ON t.source = r.source
  WHERE CAST(concat('0x', substr(sha256(CAST(t.doc_id AS VARCHAR)), 1, 4))
             AS BIGINT) < r.rate * 65536.0
), agg AS (
  SELECT source, count(*) AS n_kept, CAST(sum(ws) AS BIGINT) AS kept_tokens
  FROM kept GROUP BY source
)
SELECT r.source, r.n_tokens, r.rate,
       coalesce(a.n_kept, 0) AS n_kept,
       coalesce(a.kept_tokens, 0) AS kept_tokens
FROM rates r LEFT JOIN agg a ON r.source = a.source
ORDER BY r.source
"""


def source_token_kl(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source unigram KL divergence vs the corpus distribution — the
    data-mixing diagnostic that tells you WHICH sources are
    distributionally far from the blend (companion dial to
    source_mixture_weights' size-based weighting: two same-size sources
    can deserve very different temperatures if one is off-distribution).

    KL(source ‖ corpus) = Σ_t (c_st/n_s)·ln((c_st/n_s)/(c_t/N)),
    computed as (Σ c_st·[ln c_st − ln c_t])/n_s − ln n_s + ln N so the
    only join is (source, token)-counts ⋈ token-totals on the token equi
    key. Plan at 100 TB: one combinable (source, token) count shuffle
    over the corpus (the only stage that sees raw tokens), a
    vocab-sized second agg, a vocab-bounded equi-join, then a per-source
    agg; the global N attaches via an empty-frame window over the
    ~|sources|-row result (no 1-row broadcast join, no nested loop).
    kl_nats rounds 6dp (sum of irrationals — tie-free); token counts
    export exact."""
    d = load_table(spark, sf_dir, "documents")
    words = F.filter(
        F.split(F.lower(F.trim(F.col("text"))), r"\s+"), lambda t: t != ""
    )
    counts = (
        d.select("source", F.explode(words).alias("w"))
        .groupBy("source", "w")
        .agg(F.count(F.lit(1)).alias("c_st"))
    )
    tok_tot = counts.groupBy("w").agg(F.sum("c_st").alias("c_t"))
    per_src = (
        counts.join(tok_tot, "w")
        .groupBy("source")
        .agg(
            F.sum("c_st").alias("n_tokens"),
            F.count(F.lit(1)).alias("n_distinct"),
            F.sum(
                F.col("c_st").cast("double")
                * (
                    F.log(F.col("c_st").cast("double"))
                    - F.log(F.col("c_t").cast("double"))
                )
            ).alias("lnterm"),
        )
    )
    return (
        per_src.withColumn(
            "n_total", F.sum("n_tokens").over(Window.partitionBy())
        )
        .select(
            "source",
            "n_tokens",
            "n_distinct",
            F.round(
                F.col("lnterm") / F.col("n_tokens")
                - F.log(F.col("n_tokens").cast("double"))
                + F.log(F.col("n_total").cast("double")),
                6,
            ).alias("kl_nats"),
        )
        .orderBy("source")
    )


_SOURCE_KL_SQL = r"""
WITH tok AS (
  SELECT source,
         unnest(list_filter(string_split_regex(lower(trim(text)), '\s+'),
                            t -> t <> '')) AS w
  FROM documents
), c AS (
  SELECT source, w, count(*) AS c_st FROM tok GROUP BY 1, 2
), t AS (
  SELECT w, CAST(sum(c_st) AS BIGINT) AS c_t FROM c GROUP BY 1
), s AS (
  SELECT source, CAST(sum(c_st) AS BIGINT) AS n_tokens,
         count(*) AS n_distinct,
         sum(CAST(c_st AS DOUBLE)
             * (ln(CAST(c_st AS DOUBLE)) - ln(CAST(c_t AS DOUBLE)))) AS lnterm
  FROM c JOIN t USING (w) GROUP BY source
)
SELECT source, n_tokens, n_distinct,
       round(lnterm / n_tokens - ln(CAST(n_tokens AS DOUBLE))
             + ln(CAST(sum(n_tokens) OVER () AS DOUBLE)), 6) AS kl_nats
FROM s ORDER BY source
"""


def evt_anomaly_mad(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Median-absolute-deviation outliers per event type — the robust
    sibling of m6's z-score gate (a handful of extreme values can drag a
    mean/stddev threshold arbitrarily; the median/MAD pair has a 50%
    breakdown point). Flag = |v − median| > 3·1.4826·MAD, the standard
    normal-consistency scaling.

    Cross-engine boundary discipline: values are 2-decimal, so the
    median is a multiple of 0.005 and the MAD of 0.0025 — everything is
    carried as scaled integers (v_c = cents; dev_c2 = 2×cents deviation;
    mad_c4 = 4×cents MAD) and the flag is the all-integer comparison
    10000·dev_c2 > 22239·mad_c4 (⟺ dev > 4.4478·MAD exactly; 22239 =
    44478/2). A float threshold here could flip rows sitting on the
    boundary between Spark's and DuckDB's low bits. F.percentile is
    exact interpolating == quantile_cont (CLAUDE.md). Plan: two
    combinable per-type aggs + two 5-row broadcast joins — the event
    table streams through twice, never shuffles on anything but
    event_type."""
    e = load_table(spark, sf_dir, "events")
    base = e.select(
        "event_type", F.round(F.col("value") * 100).cast("long").alias("v_c")
    )
    med = base.groupBy("event_type").agg(
        F.percentile("v_c", F.lit(0.5)).alias("med_c")
    )
    dev = base.join(F.broadcast(med), "event_type").select(
        "event_type",
        "med_c",
        F.round(F.abs(F.col("v_c") - F.col("med_c")) * 2)
        .cast("long")
        .alias("dev_c2"),
    )
    mad = dev.groupBy("event_type").agg(
        F.round(F.percentile("dev_c2", F.lit(0.5)) * 2)
        .cast("long")
        .alias("mad_c4")
    )
    return (
        dev.join(F.broadcast(mad), "event_type")
        .groupBy("event_type", "med_c", "mad_c4")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(
                F.when(
                    F.col("dev_c2") * 10000 > F.col("mad_c4") * 22239, 1
                ).otherwise(0)
            ).alias("n_outliers"),
        )
        .select(
            "event_type",
            "n_events",
            "med_c",
            "mad_c4",
            "n_outliers",
            (F.lit(100.0) * F.col("n_outliers") / F.col("n_events")).alias(
                "outlier_pct"
            ),
            (F.col("mad_c4") / F.lit(400.0)).alias("mad_value"),
        )
        .orderBy("event_type")
    )


_EVT_MAD_SQL = """
WITH base AS (
  SELECT event_type, CAST(round(value*100) AS BIGINT) AS v_c FROM events
), med AS (
  SELECT event_type, quantile_cont(v_c, 0.5) AS med_c FROM base GROUP BY 1
), dev AS (
  SELECT b.event_type, m.med_c,
         CAST(round(abs(b.v_c - m.med_c) * 2) AS BIGINT) AS dev_c2
  FROM base b JOIN med m USING (event_type)
), mad AS (
  SELECT event_type,
         CAST(round(quantile_cont(dev_c2, 0.5) * 2) AS BIGINT) AS mad_c4
  FROM dev GROUP BY 1
)
SELECT d.event_type, count(*) AS n_events, d.med_c, m.mad_c4,
       CAST(sum(CASE WHEN d.dev_c2*10000 > m.mad_c4*22239
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers,
       100.0 * CAST(sum(CASE WHEN d.dev_c2*10000 > m.mad_c4*22239
                             THEN 1 ELSE 0 END) AS BIGINT) / count(*)
         AS outlier_pct,
       m.mad_c4 / CAST(400 AS DOUBLE) AS mad_value
FROM dev d JOIN mad m USING (event_type)
GROUP BY d.event_type, d.med_c, m.mad_c4
ORDER BY d.event_type
"""


def text_word_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document vocabulary entropy + type-token ratio — the
    lexical-diversity quality signal (low-entropy docs are template/
    keyword-stuffed spam; used alongside the repetition gates in
    C4/Gopher-style curation). One map-side Arrow kernel pass
    (functions.text.word_entropy_stats_expr — zero Exchange besides the
    final sort; the declarative explode → per-word counts → agg
    formulation is the DuckDB oracle and the pytest equivalence
    target). entropy_nats rounds 6dp (irrational — tie-free); ttr is
    DERIVED unrounded from the two exact integers (one shared IEEE
    division). The integer exports coalesce to 0 so a NULL text row
    (kernel: all-NULL) matches the oracle's coalesce — "no text ⇒ 0
    tokens" — and the compare dtype stays integral (no pandas
    int→float flip if a regenerated table ever ships NULL text)."""
    d = load_table(spark, sf_dir, "documents")
    st = TX.word_entropy_stats_expr("text")
    return (
        d.select("doc_id", st.alias("s"))
        .select(
            "doc_id",
            F.coalesce(F.col("s.n_tokens"), F.lit(0).cast("long")).alias(
                "n_tokens"
            ),
            F.coalesce(F.col("s.n_distinct"), F.lit(0).cast("long")).alias(
                "n_distinct"
            ),
            F.round(F.col("s.entropy_nats"), 6).alias("entropy_nats"),
            F.when(
                F.col("s.n_tokens") > 0,
                F.col("s.n_distinct") / F.col("s.n_tokens"),
            ).alias("ttr"),
        )
        .orderBy("doc_id")
    )


_WORD_ENTROPY_SQL = r"""
WITH tok AS (
  SELECT doc_id,
         unnest(list_filter(string_split_regex(lower(trim(text)), '\s+'),
                            t -> t <> '')) AS w
  FROM documents
), wc AS (
  SELECT doc_id, w, count(*) AS c FROM tok GROUP BY doc_id, w
), agg AS (
  SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_tokens, count(*) AS n_distinct,
         sum(CAST(c AS DOUBLE) * ln(CAST(c AS DOUBLE))) AS lnsum
  FROM wc GROUP BY doc_id
)
SELECT d.doc_id,
       coalesce(a.n_tokens, 0) AS n_tokens,
       coalesce(a.n_distinct, 0) AS n_distinct,
       round(ln(CAST(a.n_tokens AS DOUBLE)) - a.lnsum / a.n_tokens, 6)
         AS entropy_nats,
       CAST(a.n_distinct AS DOUBLE) / a.n_tokens AS ttr
FROM documents d LEFT JOIN agg a USING (doc_id)
ORDER BY d.doc_id
"""


def customer_rfm_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM (recency / frequency / monetary) customer segmentation — the
    classic CRM cube: per-customer last-order age, order count, and
    lifetime spend, each scored into equi-depth quartiles, then segment
    sizes and spend per (r, f, m) cell.

    Quartile assignment is score = 1 + Σ(v > cutoff_i) against the three
    exact interpolating percentiles (F.percentile == quantile_cont) —
    buckets ASCEND with the metric (r=4 - stalest, f=4/m=4 - best), and
    because every input is an exact integer (days, counts, cents) and
    the cutoffs are exact .25-step interpolations, the comparisons are
    bit-identical across engines. This is the scalable formulation of
    a17's ntile: a global NTILE window would single-partition the
    customer frame at 100 TB, while the 1-row cutoff broadcast keeps
    scoring map-side (ties around a cutoff land in the same bucket on
    both engines — NTILE's arbitrary equal-value splits don't).
    avg_monetary derives from the exact sums (shared IEEE division)."""
    o = load_table(spark, sf_dir, "orders")
    rfm = o.groupBy("o_custkey").agg(
        F.datediff(
            F.lit("2001-09-01").cast("date"),
            F.max(F.col("o_orderdate").cast("date")),
        )
        .cast("long")
        .alias("recency_d"),
        F.count(F.lit(1)).alias("freq"),
        F.sum(F.round(F.col("o_totalprice") * 100).cast("long")).alias(
            "monetary_c"
        ),
    )
    qs = F.array(F.lit(0.25), F.lit(0.5), F.lit(0.75))
    cuts = rfm.agg(
        F.percentile("recency_d", qs).alias("rc"),
        F.percentile("freq", qs).alias("fc"),
        F.percentile("monetary_c", qs).alias("mc"),
    )

    def bucket(v: str, c: str) -> F.Column:
        return (
            F.lit(1)
            + (F.col(v) > F.col(c)[0]).cast("int")
            + (F.col(v) > F.col(c)[1]).cast("int")
            + (F.col(v) > F.col(c)[2]).cast("int")
        )

    scored = rfm.join(F.broadcast(cuts)).select(
        "o_custkey",
        "monetary_c",
        bucket("recency_d", "rc").alias("r_b"),
        bucket("freq", "fc").alias("f_b"),
        bucket("monetary_c", "mc").alias("m_b"),
    )
    return (
        scored.groupBy(
            F.concat_ws("-", "r_b", "f_b", "m_b").alias("segment")
        )
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            F.sum("monetary_c").alias("sum_monetary_c"),
        )
        .withColumn(
            "avg_monetary",
            F.col("sum_monetary_c") / (F.lit(100.0) * F.col("n_customers")),
        )
        .orderBy("segment")
    )


_RFM_SQL = """
WITH rfm AS (
  SELECT o_custkey,
         CAST(date_diff('day', CAST(max(o_orderdate) AS DATE),
                        DATE '2001-09-01') AS BIGINT) AS recency_d,
         count(*) AS freq,
         CAST(sum(CAST(round(o_totalprice*100) AS BIGINT)) AS BIGINT)
           AS monetary_c
  FROM orders GROUP BY o_custkey
), cuts AS (
  SELECT quantile_cont(recency_d, [0.25, 0.5, 0.75]) AS rc,
         quantile_cont(freq, [0.25, 0.5, 0.75]) AS fc,
         quantile_cont(monetary_c, [0.25, 0.5, 0.75]) AS mc
  FROM rfm
), scored AS (
  SELECT o_custkey, monetary_c,
         1 + CAST(recency_d > rc[1] AS INTEGER)
           + CAST(recency_d > rc[2] AS INTEGER)
           + CAST(recency_d > rc[3] AS INTEGER) AS r_b,
         1 + CAST(freq > fc[1] AS INTEGER)
           + CAST(freq > fc[2] AS INTEGER)
           + CAST(freq > fc[3] AS INTEGER) AS f_b,
         1 + CAST(monetary_c > mc[1] AS INTEGER)
           + CAST(monetary_c > mc[2] AS INTEGER)
           + CAST(monetary_c > mc[3] AS INTEGER) AS m_b
  FROM rfm, cuts
)
SELECT concat(r_b, '-', f_b, '-', m_b) AS segment,
       count(*) AS n_customers,
       CAST(sum(monetary_c) AS BIGINT) AS sum_monetary_c,
       CAST(sum(monetary_c) AS BIGINT) / (100.0 * count(*)) AS avg_monetary
FROM scored GROUP BY 1 ORDER BY segment
"""


def doc_ngram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document n-gram novelty — the fraction of a document's
    distinct word-3-shingles that appear NOWHERE else in the corpus
    (document frequency 1). The memorization/diversity audit dual of
    decontamination: low-novelty documents are recombinations of
    corpus-common phrasing, high-novelty documents carry unique text
    worth keeping under dedup pressure.

    Reuses dedup.shingle_hash_rows (map-side distinct shingle-hash
    explode — the decontamination fingerprint table) so the oracle
    replays the identical tokenization + poly hash. Plan: one
    combinable df-count shuffle on the shingle hash + one equi-join
    back — O(corpus shingles), no pair materialization. Hash collisions
    can only DEFLATE novelty (two grams sharing a hash look non-novel);
    ~n²/2^31 expected collisions, and the oracle replays the same hash
    so the export is still exact. novelty derives from the two exact
    integers."""
    d = load_table(spark, sf_dir, "documents")
    rows = dedup.shingle_hash_rows(d)
    df_counts = rows.groupBy("g").agg(F.count(F.lit(1)).alias("df"))
    return (
        rows.join(df_counts, "g")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_grams"),
            F.sum(F.when(F.col("df") == 1, 1).otherwise(0)).alias("n_novel"),
        )
        .withColumn("novelty", F.col("n_novel") / F.col("n_grams"))
        .orderBy("doc_id")
    )


def _ngram_novelty_sql() -> str:
    poly = _POLY_SQL.format(s="s", base=TX.POLY_BASE)
    return (
        _MINHASH_SHINGLE_SQL.format(n=3, nm1=2)
        + f""", hs AS (
  SELECT doc_id, list_distinct(list_transform(shingles, s -> {poly})) AS h
  FROM sh
), rows AS (
  SELECT doc_id, unnest(h) AS g FROM hs
), dfc AS (
  SELECT g, count(*) AS df FROM rows GROUP BY g
)
SELECT r.doc_id, count(*) AS n_grams,
       CAST(sum(CASE WHEN dfc.df = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_novel,
       CAST(sum(CASE WHEN dfc.df = 1 THEN 1 ELSE 0 END) AS BIGINT) / count(*)
         AS novelty
FROM rows r JOIN dfc USING (g)
GROUP BY r.doc_id ORDER BY r.doc_id
"""
    )


def nb_lang_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multinomial Naive Bayes language classifier trained AND scored in
    pure DataFrame algebra (no MLlib) — the fastText-style corpus-filter
    shape (CCNet-lineage pipelines train exactly this kind of generative
    classifier to route/filter web text), exported as the
    resubstitution confusion matrix.

    Math (Laplace-smoothed): score(d, l) = ln(docs_l)
    + Σ_w cnt_dw·ln(c_lw + 1) − n_d·ln(n_l + V). Words MISSING from a
    class contribute ln(0+1) = 0, so the per-word join can stay an
    INNER join on the (word, class) table — the smoothing default needs
    no outer-join backfill; the −ln(N_docs) prior denominator is
    class-constant and drops from the argmax. Plan at 100 TB: training
    is ONE combinable (lang, word) count shuffle; scoring is one
    vocab-bounded equi-join on the word (class table broadcast under
    the vocab_top_k discipline) + a (doc, lang) agg; the 5-row
    class-constants frame broadcasts onto the doc spine (whitelisted
    bounded nested loop, the ann_topk_batch pattern). Prediction ranks
    on the 6dp-ROUNDED score with the lang name as tie-break (the
    established cross-engine ranking discipline — raw float argmax
    could flip on sum-order low bits)."""
    d = load_table(spark, sf_dir, "documents")
    words = F.filter(
        F.split(F.lower(F.trim(F.col("text"))), r"\s+"), lambda t: t != ""
    )
    tok = d.select("doc_id", F.col("lang").alias("true_lang"), F.explode(words).alias("w"))
    doc_word = tok.groupBy("doc_id", "true_lang", "w").agg(
        F.count(F.lit(1)).alias("cnt")
    )
    class_word = (
        tok.groupBy(F.col("true_lang").alias("lang"), "w")
        .agg(F.count(F.lit(1)).alias("c_lw"))
        .withColumn("lnc1", F.log(F.col("c_lw").cast("double") + 1.0))
    )
    vocab = class_word.agg(
        F.count_distinct(F.col("w")).cast("double").alias("v")
    )  # 1-row frame; joined below (not an eager driver count)
    class_consts = (
        class_word.groupBy("lang")
        .agg(F.sum("c_lw").alias("n_l"))
        .join(
            F.broadcast(
                d.groupBy(F.col("lang").alias("lang")).agg(
                    F.count(F.lit(1)).alias("docs_l")
                )
            ),
            "lang",
        )
        .join(F.broadcast(vocab))
        .select(
            "lang",
            F.log(F.col("docs_l").cast("double")).alias("prior"),
            F.log(F.col("n_l").cast("double") + F.col("v")).alias("ln_denom"),
        )
    )
    term1 = (
        doc_word.join(class_word.select("w", "lang", "lnc1"), "w")
        .groupBy("doc_id", "lang")
        .agg(F.sum(F.col("cnt").cast("double") * F.col("lnc1")).alias("t1"))
    )
    doc_stats = doc_word.groupBy("doc_id", "true_lang").agg(
        F.sum("cnt").alias("n_d")
    )
    scored = (
        doc_stats.join(F.broadcast(class_consts))
        .join(term1, ["doc_id", "lang"], "left")
        .select(
            "doc_id",
            "true_lang",
            "lang",
            F.round(
                F.col("prior")
                + F.coalesce(F.col("t1"), F.lit(0.0))
                - F.col("n_d").cast("double") * F.col("ln_denom"),
                6,
            ).alias("score"),
        )
    )
    w_rank = Window.partitionBy("doc_id").orderBy(F.desc("score"), F.asc("lang"))
    return (
        scored.withColumn("rn", F.row_number().over(w_rank))
        .where(F.col("rn") == 1)
        .groupBy("true_lang", F.col("lang").alias("pred_lang"))
        .agg(F.count(F.lit(1)).alias("n_docs"))
        .orderBy("true_lang", "pred_lang")
    )


_NB_CONFUSION_SQL = r"""
WITH tok AS (
  SELECT doc_id, lang AS true_lang,
         unnest(list_filter(string_split_regex(lower(trim(text)), '\s+'),
                            t -> t <> '')) AS w
  FROM documents
), doc_word AS (
  SELECT doc_id, true_lang, w, count(*) AS cnt FROM tok GROUP BY 1, 2, 3
), class_word AS (
  SELECT true_lang AS lang, w, count(*) AS c_lw,
         ln(CAST(count(*) AS DOUBLE) + 1.0) AS lnc1
  FROM tok GROUP BY 1, 2
), vocab AS (
  SELECT CAST(count(DISTINCT w) AS DOUBLE) AS v FROM class_word
), class_consts AS (
  SELECT c.lang, ln(CAST(d.docs_l AS DOUBLE)) AS prior,
         ln(CAST(c.n_l AS DOUBLE) + vocab.v) AS ln_denom
  FROM (SELECT lang, CAST(sum(c_lw) AS BIGINT) AS n_l
        FROM class_word GROUP BY lang) c
  JOIN (SELECT lang, count(*) AS docs_l FROM documents GROUP BY lang) d
    ON c.lang = d.lang, vocab
), term1 AS (
  SELECT dw.doc_id, cw.lang,
         sum(CAST(dw.cnt AS DOUBLE) * cw.lnc1) AS t1
  FROM doc_word dw JOIN class_word cw ON dw.w = cw.w
  GROUP BY dw.doc_id, cw.lang
), doc_stats AS (
  SELECT doc_id, true_lang, CAST(sum(cnt) AS BIGINT) AS n_d
  FROM doc_word GROUP BY 1, 2
), scored AS (
  SELECT ds.doc_id, ds.true_lang, cc.lang,
         round(cc.prior + coalesce(t1.t1, 0.0)
               - CAST(ds.n_d AS DOUBLE) * cc.ln_denom, 6) AS score
  FROM doc_stats ds
  CROSS JOIN class_consts cc
  LEFT JOIN term1 t1 ON t1.doc_id = ds.doc_id AND t1.lang = cc.lang
), pred AS (
  SELECT doc_id, true_lang, lang AS pred_lang,
         row_number() OVER (PARTITION BY doc_id
                            ORDER BY score DESC, lang ASC) AS rn
  FROM scored
)
SELECT true_lang, pred_lang, count(*) AS n_docs
FROM pred WHERE rn = 1
GROUP BY true_lang, pred_lang
ORDER BY true_lang, pred_lang
"""


def boilerplate_strip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-level boilerplate-line removal (curation.
    strip_boilerplate_lines — the CCNet/RefinedWeb stage that drops
    lines repeating across many documents). The synthetic corpus has no
    natural line structure, so the query PLANTS it: every doc gains a
    copyright footer line and every 4th doc a banner line whose leading
    padding varies per doc (doc_id % 3 spaces) — stripped only if
    matching happens on the TRIMMED form, exercising the shared line
    contract. Body lines (df=1) must survive byte-exact in order:
    the exported sha256 of the rebuilt text value-checks the whole
    posexplode → df-count → anti-join → ordered-rebuild path."""
    from vector_search_optimization_spark.operators import curation as CUR

    d = load_table(spark, sf_dir, "documents")
    aug = d.select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.lit("\ncopyright acme corp - all rights reserved"),
            F.when(
                F.col("doc_id") % 4 == 0,
                F.concat(
                    F.lit("\n"),
                    F.repeat(F.lit(" "), (F.col("doc_id") % 3).cast("int")),
                    F.lit("subscribe now"),
                ),
            ).otherwise(F.lit("")),
        ).alias("text"),
    )
    out = CUR.strip_boilerplate_lines(aug)
    return out.select(
        "doc_id",
        "n_lines_before",
        "n_lines_removed",
        F.length("clean_text").alias("clean_chars"),
        F.sha2(F.col("clean_text"), 256).alias("clean_sha"),
    ).orderBy("doc_id")


_BOILERPLATE_SQL = """
WITH aug AS (
  SELECT doc_id,
         text || chr(10) || 'copyright acme corp - all rights reserved'
         || CASE WHEN doc_id % 4 = 0
                 THEN chr(10) || repeat(' ', CAST(doc_id % 3 AS INTEGER))
                      || 'subscribe now'
                 ELSE '' END AS text
  FROM documents
), ls AS (
  SELECT doc_id, string_split(text, chr(10)) AS arr FROM aug
), keyed AS (
  SELECT doc_id, generate_subscripts(arr, 1) AS pos, unnest(arr) AS line,
         trim(unnest(arr), ' ' || chr(9) || chr(13)) AS key
  FROM ls
), freq AS (
  SELECT key FROM keyed WHERE key <> ''
  GROUP BY key HAVING count(DISTINCT doc_id) >= 10
), kept AS (
  SELECT k.doc_id, k.pos, k.line
  FROM keyed k LEFT JOIN freq f ON k.key = f.key
  WHERE f.key IS NULL
), rebuilt AS (
  SELECT doc_id, count(*) AS n_after,
         string_agg(line, chr(10) ORDER BY pos) AS clean_text
  FROM kept GROUP BY doc_id
), totals AS (
  SELECT doc_id, count(*) AS n_before FROM keyed GROUP BY doc_id
)
SELECT t.doc_id,
       t.n_before AS n_lines_before,
       CAST(t.n_before - coalesce(r.n_after, 0) AS BIGINT) AS n_lines_removed,
       CAST(length(coalesce(r.clean_text, '')) AS INTEGER) AS clean_chars,
       sha256(coalesce(r.clean_text, '')) AS clean_sha
FROM totals t LEFT JOIN rebuilt r ON t.doc_id = r.doc_id
ORDER BY t.doc_id
"""


def weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Length-weighted doc sample (Efraimidis–Spirakis A-ES, rand()-free:
    sampling.weighted_sample_fixed_n): top-50 by u^(1/n_chars) with u a
    sha256-derived uniform — longer documents proportionally likelier,
    rerun- and partitioning-stable. The oracle replays the exact ES-key
    math; 12dp key rounding + id tie-break make the boundary
    engine-deterministic."""
    from vector_search_optimization_spark.operators import sampling as SAMP

    d = load_table(spark, sf_dir, "documents")
    return SAMP.weighted_sample_fixed_n(d, "doc_id", "n_chars", 50).select(
        "doc_id", "n_chars", "es_key"
    )


_WEIGHTED_SQL = """
SELECT doc_id, n_chars,
       round(pow(CAST(concat('0x', substr(sha256(CAST(doc_id AS VARCHAR)), 1, 13)) AS BIGINT)
                 / 4503599627370496.0,
                 1.0 / n_chars), 12) AS es_key
FROM documents
WHERE n_chars IS NOT NULL AND n_chars > 0
ORDER BY es_key DESC, doc_id ASC
LIMIT 50
"""


# ---------------------------------------------------------------------------
# TF-IDF keyword extraction (operators.retrieval.tfidf_keywords)
# ---------------------------------------------------------------------------

def tfidf_keywords(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc top-3 keywords by tf·idf — the inverse of keyword search
    (index enrichment). Two combinable agg shuffles + broadcast df table
    + one WindowGroupLimit ranking shuffle; ties rank on the rounded
    score then the word so ordering is reproducible cross-engine."""
    from vector_search_optimization_spark.operators import retrieval as RT

    d = load_table(spark, sf_dir, "documents")
    return (
        RT.tfidf_keywords(d, n_keywords=3)
        .select("doc_id", "rk", "word", "tf", "score")
        .orderBy("doc_id", "rk")
    )


_TFIDF_SQL = r"""
WITH toks AS (
  SELECT doc_id,
         unnest(list_filter(string_split_regex(text, '\s+'),
                            s -> s <> '')) AS word
  FROM documents WHERE text IS NOT NULL
), tf AS (
  SELECT doc_id, word, count(*) AS tf FROM toks GROUP BY doc_id, word
), dfq AS (
  SELECT word, count(*) AS dfreq FROM tf GROUP BY word
), n AS (
  SELECT CAST(count(*) AS DOUBLE) AS n_docs FROM documents WHERE text IS NOT NULL
), s AS (
  SELECT doc_id, word, tf,
         round(tf * ln(n_docs / dfreq), 6) AS score
  FROM tf JOIN dfq USING (word) CROSS JOIN n
), r AS (
  SELECT doc_id, word, tf, score,
         CAST(row_number() OVER (PARTITION BY doc_id
                                 ORDER BY score DESC, word) AS INTEGER) AS rk
  FROM s
)
SELECT doc_id, rk, word, tf, score FROM r WHERE rk <= 3 ORDER BY doc_id, rk
"""


# ---------------------------------------------------------------------------
# salted two-level aggregation (operators.skew) — the skew-proof agg
# plan, value-checked against the plain single-level formulation
# ---------------------------------------------------------------------------

def skew_salted_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-event-type stats through the salted two-level agg: a hot key
    spreads over 16 salt reducers in level 1; level 2 combines ≤16 tiny
    partials per key. The oracle is the PLAIN single-level GROUP BY —
    the value check proves salting is semantics-free."""
    from vector_search_optimization_spark.operators import skew as SK

    ev = load_table(spark, sf_dir, "events")
    return (
        SK.salted_agg(ev, "event_type", salt_key="event_id",
                      value_col="value")
        .select(
            "event_type",
            "n",
            F.round("sum_value", 2).alias("sum_value"),
            F.round("min_value", 6).alias("min_value"),
            F.round("max_value", 6).alias("max_value"),
        )
        .orderBy("event_type")
    )


_SKEW_SQL = """
SELECT event_type, count(*) AS n,
       round(sum(value), 2) AS sum_value,
       round(min(value), 6) AS min_value,
       round(max(value), 6) AS max_value
FROM events GROUP BY event_type ORDER BY event_type
"""


def skew_salted_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brand-level lineitem rollup through the salted shuffle join: the
    part side replicates over 16 salt values (explode), lineitem salts
    deterministically on l_orderkey, and the (key, salt) equi-join
    spreads any hot partkey over 16 reducers — the no-broadcast skew
    fix for when neither side fits a broadcast. The oracle is the PLAIN
    join + GROUP BY — the value check proves salting is semantics-free
    (same guarantee pattern as skew_salted_agg)."""
    from vector_search_optimization_spark.operators import skew as SK

    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part").select(
        F.col("p_partkey").alias("l_partkey"), "p_brand"
    )
    return (
        SK.salted_shuffle_join(li, part, key="l_partkey", salt_key="l_orderkey")
        .groupBy("p_brand")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_price"),
        )
        .orderBy("p_brand")
    )


_SKEW_JOIN_SQL = """
SELECT p_brand, count(*) AS n,
       round(sum(l_quantity), 2) AS sum_qty,
       round(sum(l_extendedprice), 2) AS sum_price
FROM lineitem JOIN part ON l_partkey = p_partkey
GROUP BY p_brand ORDER BY p_brand
"""


_LSH_TUNE_CONFIGS = [(64, 0.3), (64, 0.5), (64, 0.7), (64, 0.9), (128, 0.8)]


def lsh_banding_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Banding-choice audit for the MinHash-LSH dial (dedup.tune_lsh_bands):
    per (num_hashes, threshold) config, the S-curve-optimal
    (num_bands, rows_per_band) and the collision probability the chosen
    banding gives AT the threshold. The DuckDB oracle independently
    re-runs the whole optimization — every divisor banding, the same
    1000-step numeric integration of weighted FP area below t plus FN
    area above t, argmin with the same (err, bands) tie order — so the
    driver gate value-checks the optimizer itself, not inlined results.
    (Config-level driver compute: no corpus input, like the reference's
    hyperparameter dials; the chosen banding feeds
    minhash_lsh_candidates at scale. Argmin gaps to the runner-up are
    >= 5e-3 for these configs, far above cross-engine float noise.)"""
    from vector_search_optimization_spark.operators import dedup as DD

    rows = []
    for nh, t in _LSH_TUNE_CONFIGS:
        b, r = DD.tune_lsh_bands(nh, t)
        rows.append(
            (nh, t, b, r, round(DD.lsh_collision_probability(t, b, r), 6))
        )
    return spark.createDataFrame(
        rows,
        "num_hashes int, threshold double, num_bands int,"
        " rows_per_band int, p_at_threshold double",
    ).orderBy("num_hashes", "threshold")


_LSH_TUNE_SQL = f"""
WITH configs(num_hashes, threshold) AS (
  VALUES {", ".join(f"({nh}, CAST({t} AS DOUBLE))" for nh, t in _LSH_TUNE_CONFIGS)}
), bandings AS (
  SELECT c.num_hashes, c.threshold,
         CAST(b AS INTEGER) AS num_bands,
         CAST(c.num_hashes // b AS INTEGER) AS rows_per_band
  FROM configs c, generate_series(1, 128) t(b)
  WHERE b <= c.num_hashes AND c.num_hashes % b = 0
), errs AS (
  SELECT num_hashes, threshold, num_bands, rows_per_band,
         sum(CASE WHEN s < threshold THEN p ELSE 1.0 - p END) / 1000 / 2
           AS err
  FROM (
    SELECT bb.*, (i + 0.5) / 1000 AS s,
           1.0 - pow(1.0 - pow((i + 0.5) / 1000, bb.rows_per_band),
                     bb.num_bands) AS p
    FROM bandings bb, generate_series(0, 999) g(i)
  )
  GROUP BY num_hashes, threshold, num_bands, rows_per_band
), ranked AS (
  SELECT *, row_number() OVER (
           PARTITION BY num_hashes, threshold
           ORDER BY err, num_bands) AS rk
  FROM errs
)
SELECT num_hashes, threshold, num_bands, rows_per_band,
       round(1.0 - pow(1.0 - pow(threshold, rows_per_band), num_bands), 6)
         AS p_at_threshold
FROM ranked WHERE rk = 1
ORDER BY num_hashes, threshold
"""


# ---------------------------------------------------------------------------
# end-to-end curation pipeline: PII scrub → token gate → unigram-LM
# surprisal gate (≤ corpus median) → canonical exact-dedup → per-lang audit
# ---------------------------------------------------------------------------

def curation_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The flagship curation composition, every stage a registered
    operator: redact_pii (map-only) → whitespace token gate (scan
    filter) → unigram-LM scoring (broadcast vocab) gated at the exact
    corpus median of the ROUNDED surprisal (cross-engine-stable
    boundary) → exact dedup on the canonical text (min doc_id survives)
    → per-lang audit."""
    from vector_search_optimization_spark.operators import lm_quality as LM
    from vector_search_optimization_spark.operators.curation import curate_columns

    d = load_table(spark, sf_dir, "documents")
    # the CANONICAL scrub+gate projection (operators.curation) — shared
    # with the streaming ingest path and the scale probe, so the gate
    # tokenizer matches the scoring stage and the oracle's list_filter
    # by construction. Three consumers (vocab train, scoring, the
    # join-back) re-run the stateless projection; at lake scale this
    # stage is a MATERIALIZED curated table (write once, read by every
    # downstream), which is also why no session cache is held here.
    gated = curate_columns(d, keep_cols=())
    vocab = LM.train_unigram_lm(gated, "clean")
    scored = LM.unigram_surprisal(gated, vocab, text_col="clean").select(
        "doc_id", "n_tokens", F.round("avg_surprisal", 4).alias("s")
    )
    med = scored.agg(F.percentile(F.col("s"), F.lit(0.5)).alias("m"))
    kept = (
        # gated carries its own n_tokens (same tokenizer) — drop it so
        # the joined frame has exactly one n_tokens column (scored's)
        gated.select("doc_id", "lang", "clean")
        .join(scored, "doc_id")
        .join(F.broadcast(med))
        .where(F.col("s") <= F.col("m"))
    )
    canon = kept.withColumn(
        "_c", F.trim(F.regexp_replace(F.lower(F.col("clean")), r"\s+", " "))
    )
    first = canon.groupBy("_c").agg(F.min("doc_id").alias("doc_id"))
    survivors = canon.join(first, ["_c", "doc_id"], "left_semi")
    return (
        survivors.groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").alias("sum_tokens"),
            F.min("doc_id").alias("min_doc"),
            F.max("doc_id").alias("max_doc"),
        )
        .orderBy("lang")
    )


_CURATION_SQL = r"""
WITH clean AS (
  SELECT doc_id, lang,
         regexp_replace(regexp_replace(regexp_replace(regexp_replace(text,
           'https?://[^\s]+', '<URL>', 'g'),
           '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
           '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b', '<IP>', 'g'),
           '\+\d{1,2}-\d{3}-\d{3,4}\b', '<PHONE>', 'g') AS clean
  FROM documents
), gated AS (
  SELECT * FROM clean
  WHERE len(list_filter(string_split_regex(clean, '\s+'), s -> s <> '')) >= 10
), toks AS (
  SELECT doc_id,
         unnest(list_filter(string_split_regex(clean, '\s+'),
                            s -> s <> '')) AS word
  FROM gated
), vocab AS (
  SELECT word, count(*) AS cnt FROM toks GROUP BY word
), tot AS (
  SELECT CAST(sum(cnt) AS DOUBLE) AS n_total,
         CAST(count(*) AS DOUBLE) AS v_size
  FROM vocab
), sc AS (
  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
         round(avg(-ln((cnt + 1.0) / (n_total + v_size))), 4) AS s
  FROM toks JOIN vocab USING (word) CROSS JOIN tot
  GROUP BY doc_id
), med AS (
  SELECT quantile_cont(s, 0.5) AS m FROM sc
), kept AS (
  SELECT g.doc_id, g.lang, g.clean, sc.n_tokens
  FROM gated g JOIN sc USING (doc_id) CROSS JOIN med
  WHERE sc.s <= med.m
), canon AS (
  SELECT *, trim(regexp_replace(lower(clean), '\s+', ' ', 'g')) AS c FROM kept
), surv AS (
  SELECT * FROM canon
  QUALIFY row_number() OVER (PARTITION BY c ORDER BY doc_id) = 1
)
SELECT lang, count(*) AS n_docs,
       CAST(sum(n_tokens) AS BIGINT) AS sum_tokens,
       min(doc_id) AS min_doc, max(doc_id) AS max_doc
FROM surv GROUP BY lang ORDER BY lang
"""


# ---------------------------------------------------------------------------
# M11 spectral embedding (operators.reduction.spectral_embedding_numpy —
# the deterministic Laplacian-eigenmaps fallback for the reference's UMAP
# stage, nuevo-kmeans-pre.ipynb:689 c31)
# ---------------------------------------------------------------------------

_M11_SAMPLE = 400


def m11_spectral_embedding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M11 — the 2-D manifold embedding runs driver-side on a bounded
    ordered sample (the reference's own UMAP envelope, like
    silhouette's s×d stage); its coordinates re-enter the plan as a
    broadcast literal table and the per-label spread audit is
    DISTRIBUTED (broadcast join + one agg shuffle). The oracle
    recomputes the same deterministic eigh embedding from the same
    parquet and independently re-derives the per-label stats."""
    from vector_search_optimization_spark.operators.reduction import (
        spectral_embedding_numpy,
    )

    e = load_table(spark, sf_dir, "embeddings")
    sample = (
        e.select("vec_id", "embedding").orderBy("vec_id").limit(_M11_SAMPLE).collect()
    )
    ids = [int(r[0]) for r in sample]
    X = np.asarray([r[1] for r in sample], dtype=np.float64)
    emb = np.round(spectral_embedding_numpy(X), 6)
    coords = spark.createDataFrame(
        [(i, float(x), float(y)) for i, (x, y) in zip(ids, emb)],
        schema="vec_id long, sx double, sy double",
    )
    return (
        e.select("vec_id", "label")
        .join(F.broadcast(coords), "vec_id")
        .groupBy("label")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.avg("sx"), 4).alias("mean_x"),
            F.round(F.stddev_samp("sx"), 4).alias("std_x"),
            F.round(F.avg("sy"), 4).alias("mean_y"),
            F.round(F.stddev_samp("sy"), 4).alias("std_y"),
        )
        .orderBy("label")
    )


def _m11_sql() -> str:
    """Generated oracle for m11: recompute the deterministic spectral
    coords from the oracle-sf parquet (same eigh, same rounding), inline
    them as literals, and let DuckDB independently join to labels and
    re-derive the per-label stats."""
    import duckdb

    from vector_search_optimization_spark.operators.reduction import (
        spectral_embedding_numpy,
    )

    pdf = duckdb.sql(
        "SELECT vec_id, embedding FROM "
        f"'{_oracle_sf_dir()}/embeddings.parquet' ORDER BY vec_id LIMIT {_M11_SAMPLE}"
    ).df()
    ids = pdf["vec_id"].tolist()
    X = np.asarray(pdf["embedding"].tolist(), dtype=np.float64)
    emb = np.round(spectral_embedding_numpy(X), 6)
    values = ", ".join(
        # float() first: numpy>=2 repr of np.float64 is 'np.float64(x)',
        # which is not SQL
        f"({int(i)}, {float(x)!r}, {float(y)!r})" for i, (x, y) in zip(ids, emb)
    )
    return f"""
WITH coords(vec_id, sx, sy) AS (VALUES {values})
SELECT label, count(*) AS n,
       round(avg(sx), 4) AS mean_x, round(stddev_samp(sx), 4) AS std_x,
       round(avg(sy), 4) AS mean_y, round(stddev_samp(sy), 4) AS std_y
FROM coords JOIN embeddings USING (vec_id)
GROUP BY label ORDER BY label
"""


# ---------------------------------------------------------------------------
# P8 null-tolerant vector access + A16 dict-accumulated counts — the two
# remaining SURVEY rows that had no value-oracled query of their own
# ---------------------------------------------------------------------------

def p8_null_tolerant(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P8 — the reference's get_all_embeddings drops documents whose
    content_vector is missing (update-etiquetas.ipynb:171 c9). The
    synthetic table has no nulls, so nulls are planted deterministically
    (every 7th vec_id) on BOTH sides; the query then does the
    null-tolerant pass: count total/null/kept and aggregate only over
    present vectors. Pure projection + one agg — map-only before the
    final combine."""
    e = load_table(spark, sf_dir, "embeddings")
    v = F.when(F.col("vec_id") % 7 == 0, F.lit(None)).otherwise(
        F.col("embedding")
    )
    withnull = e.select("vec_id", v.alias("vec"))
    return withnull.agg(
        F.count(F.lit(1)).alias("n_total"),
        F.sum(F.col("vec").isNull().cast("long")).alias("n_null"),
        F.sum(F.col("vec").isNotNull().cast("long")).alias("n_kept"),
        F.round(
            F.avg(F.when(F.col("vec").isNotNull(), V.l2_norm("vec"))), 4
        ).alias("avg_norm_kept"),
    )


_P8_SQL = """
WITH withnull AS (
  SELECT vec_id,
         CASE WHEN vec_id % 7 = 0 THEN NULL ELSE embedding END AS vec
  FROM embeddings
)
SELECT count(*) AS n_total,
       CAST(sum(CASE WHEN vec IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_null,
       CAST(sum(CASE WHEN vec IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
       round(avg(CASE WHEN vec IS NOT NULL THEN
         sqrt(list_sum(list_transform(vec,
              x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) END), 4)
         AS avg_norm_kept
FROM withnull
"""


def a16_dict_accum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A16 — dict-accumulated counts (cluster_count[label] += 1,
    update-etiquetas.ipynb:414 c11), distributed: two combinable
    shuffles, the dict itself serialized canonically (sources sorted)
    so the value hash checks the full accumulated mapping."""
    d = load_table(spark, sf_dir, "documents")
    per = d.groupBy("lang", "source").agg(F.count(F.lit(1)).alias("cnt"))
    return (
        per.groupBy("lang")
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("source", "cnt"))),
                    lambda x: F.concat_ws(
                        ":", x["source"], x["cnt"].cast("string")
                    ),
                ),
                ",",
            ).alias("source_counts"),
            F.sum("cnt").alias("n_docs"),
        )
        .orderBy("lang")
    )


_A16_SQL = """
WITH per AS (
  SELECT lang, source, count(*) AS cnt FROM documents GROUP BY lang, source
)
SELECT lang,
       string_agg(source || ':' || CAST(cnt AS VARCHAR), ',' ORDER BY source)
         AS source_counts,
       CAST(sum(cnt) AS BIGINT) AS n_docs
FROM per GROUP BY lang ORDER BY lang
"""


# ---------------------------------------------------------------------------
# semi-structured JSON property extraction over events.props
# ---------------------------------------------------------------------------

def evt_json_props(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Typed extraction from a semi-structured JSON column: from_json
    with an explicit schema (the Spark-native path — Jackson parse once,
    typed struct after) + per-type aggregation. Pure projection then one
    combinable shuffle; at 100 TB the JSON parse is the scan stage's
    CPU, never a shuffle."""
    ev = load_table(spark, sf_dir, "events")
    parsed = ev.select(
        "event_type",
        F.from_json(F.col("props"), "k int").getField("k").alias("k"),
    )
    return (
        parsed.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("k").isNull().cast("long")).alias("n_null_k"),
            F.sum("k").alias("sum_k"),
            F.min("k").alias("min_k"),
            F.max("k").alias("max_k"),
        )
        .select(
            "event_type",
            "n",
            "n_null_k",
            "sum_k",
            # avg over non-null k derives unrounded from the exact
            # integer sum (decimal-tie rule); NULL when no k present
            F.when(
                F.col("n") > F.col("n_null_k"),
                F.col("sum_k").cast("double")
                / (F.col("n") - F.col("n_null_k")),
            ).alias("avg_k"),
            "min_k",
            "max_k",
        )
        .orderBy("event_type")
    )


# The json_type gate keeps the oracle as strict as Spark's from_json:
# quoted numbers, floats, and out-of-int32-range values all parse to NULL
# in Spark's typed "k int" extraction, while a bare DuckDB CAST would
# coerce them — a latent divergence if the testdata regenerates with such
# props values (ADVICE r3).
_EVT_JSON_SQL = r"""
WITH parsed AS (
  SELECT event_type,
         CASE WHEN json_type(json_extract(props, '$.k'))
                   IN ('BIGINT', 'UBIGINT')
               AND CAST(json_extract(props, '$.k') AS BIGINT)
                   BETWEEN -2147483648 AND 2147483647
              THEN CAST(json_extract(props, '$.k') AS INTEGER) END AS k
  FROM events
)
SELECT event_type, count(*) AS n,
       CAST(sum(CASE WHEN k IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_null_k,
       CAST(sum(k) AS BIGINT) AS sum_k,
       CASE WHEN count(k) > 0
            THEN CAST(sum(k) AS DOUBLE) / count(k) END AS avg_k,
       min(k) AS min_k, max(k) AS max_k
FROM parsed GROUP BY event_type ORDER BY event_type
"""


# ---------------------------------------------------------------------------
# data-quality constraint report (operators.validation)
# ---------------------------------------------------------------------------

def dq_constraints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deequ-style constraint report over documents — six rules compiled
    into one conditional-aggregate pass over one scan (unique() adds the
    two-phase count-distinct rewrite, so this plan is two agg pairs /
    two exchanges; rule sets without unique() stay at exactly one, as
    the plan test pins). The 300-char range rule is chosen to FAIL on
    real data so the violation counters are value-checked, not just the
    all-zero path."""
    from vector_search_optimization_spark.operators import validation as DQ

    d = load_table(spark, sf_dir, "documents")
    rules = [
        DQ.non_null("doc_id"),
        DQ.unique("doc_id"),
        DQ.non_null("text"),
        DQ.accepted_values("lang", ["en", "es", "de", "fr", "zh"]),
        DQ.in_range("n_chars", 0, 300),
        DQ.satisfies("n_chars = length(text)", "n_chars_consistent"),
    ]
    return DQ.check_constraints(d, rules).orderBy("rule")


_DQ_SQL = """
WITH m AS (
  SELECT
    CAST(sum(CASE WHEN doc_id IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS v_nn_id,
    CAST(sum(CASE WHEN doc_id IS NOT NULL THEN 1 ELSE 0 END)
         - count(DISTINCT doc_id) AS BIGINT) AS v_uniq,
    CAST(sum(CASE WHEN text IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS v_nn_text,
    CAST(sum(CASE WHEN lang IS NOT NULL
                   AND lang NOT IN ('en','es','de','fr','zh')
             THEN 1 ELSE 0 END) AS BIGINT) AS v_lang,
    CAST(sum(CASE WHEN n_chars IS NOT NULL
                   AND (n_chars < 0 OR n_chars > 300)
             THEN 1 ELSE 0 END) AS BIGINT) AS v_range,
    CAST(sum(CASE WHEN NOT (n_chars = length(text)) THEN 1 ELSE 0 END)
         AS BIGINT) AS v_cons
  FROM documents
)
SELECT rule, violations, violations = 0 AS passed FROM (
  SELECT 'non_null(doc_id)' AS rule, v_nn_id AS violations FROM m
  UNION ALL SELECT 'unique(doc_id)', v_uniq FROM m
  UNION ALL SELECT 'non_null(text)', v_nn_text FROM m
  UNION ALL SELECT 'accepted_values(lang)', v_lang FROM m
  UNION ALL SELECT 'in_range(n_chars, 0, 300)', v_range FROM m
  UNION ALL SELECT 'n_chars_consistent', v_cons FROM m
) ORDER BY rule
"""


# ---------------------------------------------------------------------------
# S3b ORC sink/scan roundtrip (sources.writers.write_orc)
# ---------------------------------------------------------------------------

def s3_orc_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORC sink → ORC scan roundtrip on part, verified by per-brand
    count / price sum / lexicographic first name against the parquet
    original — Spark's second built-in columnar format, same
    pushdown/pruning levers as parquet."""
    from vector_search_optimization_spark.sources import writers

    p = load_table(spark, sf_dir, "part")
    path = _roundtrip_path(sf_dir, "orc_part")
    writers.write_orc(p, path)
    back = spark.read.orc(path)
    return (
        back.groupBy("p_brand")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("p_retailprice"), 2).alias("sum_price"),
            F.min("p_name").alias("first_name"),
        )
        .orderBy("p_brand")
    )


_S3_ORC_SQL = """
SELECT p_brand, count(*) AS n,
       round(sum(p_retailprice), 2) AS sum_price,
       min(p_name) AS first_name
FROM part GROUP BY p_brand ORDER BY p_brand
"""


# ---------------------------------------------------------------------------
# Corpus heavy hitters (operators.heavy_hitters — sketch-then-verify)
# ---------------------------------------------------------------------------

_HH_PHI = 0.034


def corpus_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact corpus-vocabulary heavy hitters (tokens with > phi of all
    token occurrences) WITHOUT shuffling the token stream: map-side
    per-batch candidate generation (pigeonhole-complete, <= 1/phi keys
    per batch) + broadcast-semi exact verification of the bounded
    candidate set (operators/heavy_hitters.py). The building block for
    corpus-scale stopword mining / hot-token audits where a plain
    groupBy would shuffle ~the corpus itself. Output is the exact
    hitter set — partition-layout independent — so it value-oracles
    against the plain groupBy formulation."""
    from vector_search_optimization_spark.operators import heavy_hitters as HH

    d = load_table(spark, sf_dir, "documents")
    toks = d.select(
        F.explode(
            F.filter(
                F.split(F.lower(F.trim(F.col("text"))), r"\s+"),
                lambda w: w != "",
            )
        ).alias("token")
    )
    return HH.heavy_hitters(toks, "token", _HH_PHI)


# The oracle is the formulation the operator exists to avoid at scale —
# a plain exact groupBy over every token occurrence — which is exactly
# what makes it the right completeness check for the sketch.
_HH_SQL = f"""
WITH raw AS (
  SELECT unnest(string_split_regex(lower(trim(text)), '\\s+')) AS token
  FROM documents
), toks AS (
  SELECT token FROM raw WHERE token <> ''
), tot AS (SELECT count(*) AS total FROM toks)
SELECT token, CAST(count(*) AS BIGINT) AS n,
       CAST(total AS BIGINT) AS total,
       count(*) / CAST(total AS DOUBLE) AS share
FROM toks, tot
GROUP BY token, total
HAVING count(*) > {_HH_PHI} * total
ORDER BY n DESC, token
"""


# ---------------------------------------------------------------------------
# Closed-form linear probe (operators.regression — normal equations)
# ---------------------------------------------------------------------------

_PROBE_FEATS = ["n_chars_txt", "n_tokens", "n_distinct"]


def _probe_features(d: DataFrame) -> DataFrame:
    """Integer text features + integer deflate-size target — the inputs
    the exact-Gram contract needs (operators/regression.py)."""
    words = F.filter(
        F.split(F.lower(F.trim(F.col("text"))), r"\s+"), lambda w: w != ""
    )
    return d.select(
        "doc_id",
        F.length("text").alias("n_chars_txt"),
        TX.whitespace_token_count("text").alias("n_tokens"),
        F.size(F.array_distinct(words)).alias("n_distinct"),
        TX.compressed_size_expr("text").cast("bigint").alias("y_deflate"),
    )


def quality_linear_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Linear quality probe trained at corpus scale in CLOSED FORM:
    least-squares weights for deflate-size ~ (chars, tokens, distinct
    words) via normal equations — XᵀX/Xᵀy as ONE combinable
    exact-integer aggregation (decimal(38,0) sums, no float order
    noise), 4×4 numpy solve on the driver, weights inlined as literals
    for pure map-side scoring. The 100 TB story: training a feature
    probe costs one partial-agg scan, not an iterative fit. Exports the
    per-doc prediction and residual (rounded 4dp — irrational values,
    tie-free) over bit-identical cross-engine feature integers."""
    from vector_search_optimization_spark.operators import regression as REG

    feats = _probe_features(load_table(spark, sf_dir, "documents"))
    w = REG.fit_linear_probe(feats, _PROBE_FEATS, "y_deflate")
    return (
        REG.score_linear_probe(feats, _PROBE_FEATS, w)
        .select(
            "doc_id",
            *_PROBE_FEATS,
            "y_deflate",
            F.round("pred", 4).alias("pred_deflate"),
            F.round(F.col("y_deflate") - F.col("pred"), 4).alias("resid"),
        )
        .orderBy("doc_id")
    )


def _linear_probe_sql() -> str:
    """Oracle: recompute the features with the proven DuckDB twins, the
    deflate target with the same stdlib zlib, the Gram in exact Python
    ints, and the weights with the same numpy solve — then score in SQL
    with the weights as full-precision literals in the same
    left-associated IEEE order the Spark expression uses."""
    import duckdb
    import numpy as np

    con = duckdb.connect()
    feats = con.execute(
        f"""
SELECT doc_id, text,
       CAST(length(text) AS BIGINT) AS n_chars_txt,
       CAST(CASE WHEN trim(text) = '' THEN 0
            ELSE len(string_split_regex(trim(text), '\\s+')) END AS BIGINT)
         AS n_tokens,
       CAST(len(list_distinct(list_filter(
            string_split_regex(lower(trim(text)), '\\s+'),
            w -> w <> ''))) AS BIGINT) AS n_distinct
FROM '{_oracle_sf_dir()}/documents.parquet' ORDER BY doc_id
"""
    ).df()
    ys = [TX.compressed_size_py(t) for t in feats["text"]]
    X = [
        (1, int(a), int(b), int(c))
        for a, b, c in zip(
            feats["n_chars_txt"], feats["n_tokens"], feats["n_distinct"]
        )
    ]
    d = 4
    A = [[sum(r[i] * r[j] for r in X) for j in range(d)] for i in range(d)]
    b = [sum(r[i] * y for r, y in zip(X, ys)) for i in range(d)]
    w = np.linalg.solve(
        np.array(A, dtype="float64"), np.array(b, dtype="float64")
    )
    # scientific notation → DuckDB types the literal DOUBLE (a plain
    # decimal literal becomes DECIMAL(18,x) and overflows in products);
    # 17 significant digits round-trips the IEEE double exactly
    w0, w1, w2, w3 = (f"{v:.17e}" for v in w)
    pred = f"{w0} + {w1} * n_chars_txt + {w2} * n_tokens + {w3} * n_distinct"
    vals = ", ".join(
        f"({int(i)}, {y})" for i, y in zip(feats["doc_id"], ys)
    )
    return f"""
WITH f AS (
  SELECT d.doc_id,
         CAST(length(d.text) AS INTEGER) AS n_chars_txt,
         CAST(CASE WHEN trim(d.text) = '' THEN 0
              ELSE len(string_split_regex(trim(d.text), '\\s+')) END
              AS INTEGER) AS n_tokens,
         CAST(len(list_distinct(list_filter(
              string_split_regex(lower(trim(d.text)), '\\s+'),
              w -> w <> ''))) AS INTEGER) AS n_distinct,
         CAST(v.y AS BIGINT) AS y_deflate
  FROM documents d JOIN (VALUES {vals}) AS v(doc_id, y)
    ON d.doc_id = v.doc_id
)
SELECT doc_id, n_chars_txt, n_tokens, n_distinct, y_deflate,
       round({pred}, 4) AS pred_deflate,
       round(y_deflate - ({pred}), 4) AS resid
FROM f ORDER BY doc_id
"""


# ---------------------------------------------------------------------------
# Exact-span duplication coverage (winnow-anchored ExactSubstr shape)
# ---------------------------------------------------------------------------

_SPAN_N, _SPAN_W = 20, 8


def dup_span_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-document EXACT-substring duplication coverage — the
    per-document statistic behind Lee et al. '21 ("Deduplicating
    Training Data...") ExactSubstr dedup, re-expressed for Spark where a
    corpus-wide suffix array is a non-starter:

    1. winnow-select char-20-gram anchor positions per doc (map-side
       Arrow kernel, functions/text.py:winnow_positions_np — 1/w of the
       grams; any shared span >= n + w - 1 = 27 chars contains a shared
       selected gram on both sides, so long duplicated spans cannot
       hide);
    2. one combinable groupBy on the ANCHOR TEXT itself (not its hash —
       the match predicate is exact string equality, collision-free)
       counting distinct docs per anchor; anchors seen in >= 2 docs are
       cross-doc duplicated;
    3. join matched anchors back (equi-join, co-partitioned with the
       groupBy) and merge each doc's matched [pos, pos+len) intervals
       with ONE lag-window pass (integer gaps-and-islands — no pair of
       documents is ever materialized, unlike pairwise dedup: cost is
       O(selected anchors), not O(dup pairs²));
    4. per-doc coverage: duplicated-span chars / doc chars, derived
       unrounded from exact integers.

    Skew note (100 TB): a boilerplate anchor shared by millions of docs
    is a hot groupBy key — the count-distinct partial-aggregates
    map-side, and the join-back replicates only that anchor's own rows
    (no cross product), so hot anchors cost bandwidth, not a reducer
    blowup. Pipeline: operators/dedup.py:dup_span_coverage_frame."""
    d = load_table(spark, sf_dir, "documents")
    cov = dedup.dup_span_coverage_frame(d, n=_SPAN_N, w=_SPAN_W)
    return cov.orderBy("doc_id")


def _dup_span_sql() -> str:
    poly_gram = _POLY_SQL.format(
        s=f"substring(t, j, {_SPAN_N})", base=TX.POLY_BASE
    )
    poly_whole = _POLY_SQL.format(s="t", base=TX.POLY_BASE)
    w1 = _SPAN_W - 1
    return f"""
WITH g AS (
  SELECT doc_id, lower(trim(text)) AS t FROM documents
), h AS (
  SELECT doc_id, t,
         CASE WHEN length(t) >= {_SPAN_N} THEN
             list_transform(range(1, length(t) - {_SPAN_N - 2}),
                            j -> {poly_gram})
         ELSE [{poly_whole}] END AS hs
  FROM g
), sel0 AS (
  SELECT doc_id, t,
         list_distinct(list_transform(
             range(1, greatest(len(hs) - {w1}, 1) + 1),
             i -> i - 1 + list_position(hs[i:i + {w1}],
                                        list_min(hs[i:i + {w1}])))) AS poss
  FROM h
), sel AS (
  SELECT doc_id, t, unnest(poss) AS pos FROM sel0
), selg AS (
  SELECT doc_id, pos, substring(t, pos, {_SPAN_N}) AS gram,
         length(substring(t, pos, {_SPAN_N})) AS glen
  FROM sel
), shared AS (
  SELECT gram FROM selg GROUP BY gram HAVING count(DISTINCT doc_id) >= 2
), mt AS (
  SELECT s.doc_id, s.pos, s.pos + s.glen AS endp
  FROM selg s JOIN shared sh ON s.gram = sh.gram
), cov AS (
  SELECT doc_id, pos, endp,
         max(endp) OVER (PARTITION BY doc_id ORDER BY pos, endp
                         ROWS BETWEEN UNBOUNDED PRECEDING
                         AND 1 PRECEDING) AS prev_end
  FROM mt
), percov AS (
  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_matched,
         CAST(sum(greatest(0, endp - greatest(pos, coalesce(prev_end, pos))))
              AS BIGINT) AS covered_chars
  FROM cov GROUP BY doc_id
), nsel AS (
  SELECT doc_id, CAST(len(poss) AS BIGINT) AS n_selected,
         CAST(length(t) AS INTEGER) AS len_t
  FROM sel0
)
SELECT n.doc_id, n.n_selected,
       coalesce(p.n_matched, 0) AS n_matched,
       coalesce(p.covered_chars, 0) AS covered_chars,
       n.len_t,
       CASE WHEN n.len_t > 0
            THEN coalesce(p.covered_chars, 0) / CAST(n.len_t AS DOUBLE)
            ELSE 0.0 END AS dup_span_fraction
FROM nsel n LEFT JOIN percov p ON n.doc_id = p.doc_id
ORDER BY n.doc_id
"""


# ---------------------------------------------------------------------------
# PageRank centrality (G2-adjacent; fixed-iteration power method)
# ---------------------------------------------------------------------------


def g3_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted PageRank over the G1 event-type co-occurrence graph —
    the centrality companion to g2_communities (TextRank / link-quality
    weighting shape). Edge construction is the distributed G1 self-join;
    graph.pagerank runs 8 fixed power-method rounds — on graphs past
    its driver bounds as per-round equi-join + combinable groupBy
    (shuffle ≤ |edges|+|nodes|/round, exercised by
    tools/probe_graph_cdc_ks.py at 1-3M nodes), and on small graphs
    like this one (≤ tens of event types even at 100 TB) as vectorized
    numpy bincount rounds over one bounded collect (the CC/g2
    small-side driver-finish discipline). Dangling mass is not
    redistributed (documented simple variant; oracle computes the same
    recurrence). Ranks round at 6dp — irrational-valued, tie-free."""
    from vector_search_optimization_spark.operators import graph as GR

    e = load_table(spark, sf_dir, "events")
    verts = e.select(F.col("event_type").alias("id")).distinct()
    edges = SIM.cooccurrence_edges(e, "user_id", "event_type")
    pr = GR.pagerank(edges, verts)
    return pr.select(
        F.col("id").alias("event_type"),
        F.round("rank", 6).alias("pagerank"),
    ).orderBy("event_type")


def _g3_pagerank_sql() -> str:
    """Unrolled fixed-iteration PageRank: one CTE pair (contribution +
    rank) per round — no recursion-with-aggregate, and every float
    literal is the 17-significant-digit scientific form of the exact
    Python double the Spark side uses, so both engines run the same IEEE
    recurrence (summation-order last-ulp noise absorbed by the 6dp
    round)."""
    graph = """WITH pairs AS (SELECT DISTINCT user_id, event_type FROM events),
e0 AS (
  SELECT a.event_type AS src, b.event_type AS dst,
         CAST(count(*) AS DOUBLE) AS w
  FROM pairs a JOIN pairs b
    ON a.user_id = b.user_id AND a.event_type < b.event_type
  GROUP BY 1, 2
),
nodes AS (SELECT DISTINCT event_type AS id FROM events)"""
    return _pagerank_cte_sql(
        graph,
        """
SELECT id AS event_type, round(rank, 6) AS pagerank
FROM r8 ORDER BY event_type""",
        0.85,
        8,
    )


def _pagerank_cte_sql(
    graph_prefix: str, select_suffix: str, damping: float, iterations: int
) -> str:
    """Shared unrolled-PageRank SQL builder: ``graph_prefix`` must open
    the WITH chain and define ``e0(src, dst, w)`` (undirected, one row
    per unordered pair) and ``nodes(id)``; ``select_suffix`` reads the
    final ``r{iterations}(id, rank)``."""
    d_lit = f"{damping:.17e}"
    base_lit = f"{(1.0 - damping):.17e}"
    parts = [
        graph_prefix
        + """,
sym AS (SELECT src, dst, w FROM e0 UNION ALL SELECT dst, src, w FROM e0),
wdeg AS (SELECT src, sum(w) AS wd FROM sym GROUP BY src),
prop AS (
  SELECT s.src, s.dst, s.w / wdeg.wd AS p
  FROM sym s JOIN wdeg ON wdeg.src = s.src
),
nn AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM nodes),
r0 AS (SELECT id, 1e0 / (SELECT n FROM nn) AS rank FROM nodes)"""
    ]
    for i in range(1, iterations + 1):
        parts.append(
            f""",
c{i} AS (
  SELECT prop.dst AS id, sum(r.rank * prop.p) AS s
  FROM prop JOIN r{i - 1} r ON r.id = prop.src GROUP BY prop.dst
),
r{i} AS (
  SELECT n.id,
         {base_lit} / (SELECT n FROM nn) + {d_lit} * coalesce(c.s, CAST(0 AS DOUBLE)) AS rank
  FROM nodes n LEFT JOIN c{i} c ON c.id = n.id
)"""
        )
    parts.append(select_suffix)
    return "".join(parts)


def textrank_keywords(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TextRank corpus keywords (Mihalcea & Tarau '04): PageRank over
    the word co-occurrence graph — the graph-based companion to
    tfidf_keywords. Candidates are non-stopword tokens of length >= 3;
    an edge joins tokens co-occurring within 3 positions in a document,
    weighted by corpus-wide co-occurrence count. The positional join is
    the SCALABLE formulation: three shifted projections equi-joined on
    (doc_id, pos) — each token meets at most its 3 successors, so
    fan-out is window-bounded, never per-doc quadratic (a doc-keyed
    self-join would be). graph.pagerank runs 8 rounds (driver fast
    path under 10k vocab, distributed loop above). Top 20 by ROUNDED
    rank with token tie-break — the rank-on-rounded-scores rule, so
    the cut is engine-deterministic."""
    from vector_search_optimization_spark.functions.text import _STOPWORDS
    from vector_search_optimization_spark.operators import graph as GR

    d = load_table(spark, sf_dir, "documents")
    # NOT spread/persisted (r11 A/B-probed both ways): the four cand
    # consumers are INDEPENDENT single-task branch stages that already
    # overlap within one job, so a persist serializes them on the cache
    # materialization and measured ~1s SLOWER (3.1 -> 4.0 warm)
    toks = d.select(
        "doc_id",
        F.posexplode(F.split(F.lower(F.trim("text")), r"\s+")).alias(
            "pos", "tok"
        ),
    )
    cand = toks.where(
        (F.length("tok") >= 3)
        & ~F.col("tok").isin(*sorted(_STOPWORDS["en"]))
    )
    # r12 probe, REVERTED: collapsing the three shifted joins into one
    # explode-side join (1 shuffle pair instead of 3) measured
    # consistently ~0.3s SLOWER warm (2.25-2.41 -> 2.56-3.03 across 3
    # interleaved A/B rounds) — the 7 single-task branch evaluations
    # fully overlap inside one job on an idle box while the exploded
    # right side triples the shuffle rows (the r11 branch-overlap
    # lesson, third confirmation).
    shifted = [
        cand.select(
            "doc_id", (F.col("pos") - k).alias("pos"),
            F.col("tok").alias("tok_b"),
        )
        for k in (1, 2, 3)
    ]
    pairs = None
    for s in shifted:
        e = (
            cand.join(s, ["doc_id", "pos"])
            .where(F.col("tok") != F.col("tok_b"))
            .select(
                F.least("tok", "tok_b").alias("src"),
                F.greatest("tok", "tok_b").alias("dst"),
            )
        )
        pairs = e if pairs is None else pairs.unionByName(e)
    edges = pairs.groupBy("src", "dst").agg(
        F.count(F.lit(1)).cast("double").alias("weight")
    )
    verts = cand.select(F.col("tok").alias("id")).distinct()
    pr = GR.pagerank(edges, verts)
    return (
        pr.select(
            F.col("id").alias("token"), F.round("rank", 6).alias("textrank")
        )
        .orderBy(F.desc("textrank"), "token")
        .limit(20)
    )


def _textrank_sql() -> str:
    from vector_search_optimization_spark.functions.text import _STOPWORDS

    stop = ", ".join(f"'{w}'" for w in sorted(_STOPWORDS["en"]))
    graph = rf"""WITH toks AS (
  SELECT doc_id, unnest(w) AS tok, generate_subscripts(w, 1) AS pos
  FROM (SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS w
        FROM documents)
),
cand AS (
  SELECT doc_id, pos, tok FROM toks
  WHERE length(tok) >= 3 AND tok NOT IN ({stop})
),
e0 AS (
  SELECT least(a.tok, b.tok) AS src, greatest(a.tok, b.tok) AS dst,
         CAST(count(*) AS DOUBLE) AS w
  FROM cand a JOIN cand b
    ON a.doc_id = b.doc_id AND b.pos - a.pos IN (1, 2, 3)
  WHERE a.tok <> b.tok
  GROUP BY 1, 2
),
nodes AS (SELECT DISTINCT tok AS id FROM cand)"""
    return _pagerank_cte_sql(
        graph,
        """
SELECT id AS token, round(rank, 6) AS textrank
FROM r8 ORDER BY textrank DESC, token LIMIT 20""",
        0.85,
        8,
    )


# ---------------------------------------------------------------------------
# Quality-aware dedup survivor selection (keep-best, not keep-min-id)
# ---------------------------------------------------------------------------


def dedup_keep_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup canonicalization, production variant: the SAME verified
    pair graph as dedup_canonical_groups (minhash-LSH candidates →
    exact 5-gram jaccard >= 0.5), but each duplicate group keeps its
    highest-QUALITY member (quality = trimmed char length — the
    keep-the-longest-copy rule; ties break on min doc_id), reporting
    what a dedup pass would retain vs discard. All exports are exact
    integers. The per-group election window runs over group MEMBERS
    only — the corpus never enters the shuffle."""
    d = load_table(spark, sf_dir, "documents")
    sigs = dedup.minhash_signatures_kernel(d)
    cands = dedup.minhash_lsh_candidates(sigs, num_hashes=64)
    verified = dedup.ngram_jaccard_pairs(d, cands)
    quality = d.select(
        "doc_id", F.length(F.trim(F.col("text"))).cast("long").alias("q")
    )
    return dedup.keep_best_duplicate_groups(verified, quality).orderBy(
        F.desc("group_size"), "group_id"
    )


def _keep_best_sql() -> str:
    head = (_minhash_sigs_sql() + _VERIFIED_PAIRS_CTES).replace(
        "WITH toks", "WITH RECURSIVE toks", 1
    )
    return (
        head
        + r""", cedges AS (
  SELECT id_a AS a, id_b AS b FROM vpairs
  UNION ALL
  SELECT id_b AS a, id_a AS b FROM vpairs
), reach(a, b) AS (
  SELECT a, b FROM cedges
  UNION
  SELECT r.a, e.b FROM reach r JOIN cedges e ON r.b = e.a
), lbls AS (
  SELECT a AS id, least(a, min(b)) AS comp FROM reach GROUP BY a
), member AS (
  SELECT l.comp, l.id, CAST(length(trim(d.text)) AS BIGINT) AS q
  FROM lbls l JOIN documents d ON d.doc_id = l.id
), ranked AS (
  SELECT comp, id, q,
         row_number() OVER (PARTITION BY comp ORDER BY q DESC, id) AS rk
  FROM member
)
SELECT CAST(comp AS BIGINT) AS group_id,
       CAST(count(*) AS BIGINT) AS group_size,
       CAST(max(CASE WHEN rk = 1 THEN id END) AS BIGINT) AS kept_doc_id,
       CAST(max(CASE WHEN rk = 1 THEN q END) AS BIGINT) AS kept_quality,
       CAST(sum(CASE WHEN rk > 1 THEN q ELSE 0 END) AS BIGINT)
         AS discarded_quality
FROM ranked GROUP BY comp HAVING count(*) >= 2
ORDER BY group_size DESC, group_id"""
    )


# ---------------------------------------------------------------------------
# Snapshot diff (CDC between two table snapshots)
# ---------------------------------------------------------------------------


def snapshot_diff_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Change detection between two simulated snapshots of the orders
    table (the nightly-ingest CDC step that precedes a keyed upsert):
    old = keys % 3 != 0, new = keys % 5 != 0 with prices bumped +1.00
    on keys % 7 == 0 — so every class (added/removed/changed/unchanged)
    is populated deterministically. upsert.snapshot_diff reduces each
    side map-side to (key, sha256 fingerprint) over canonicalized
    columns (prices as exact integer cents via round(x*100) — the
    2-decimal doubles sit ~1e-9 from integers, never near a rounding
    tie; dates via the proven date_format/strftime string form), then
    ONE co-partitioned full-outer join classifies. Exports per-class
    count + exact key sum."""
    o = load_table(spark, sf_dir, "orders")
    base = o.select(
        "o_orderkey",
        F.col("o_orderstatus").alias("status"),
        F.round(F.col("o_totalprice") * 100).cast("long").alias(
            "price_cents"
        ),
        F.date_format("o_orderdate", "yyyy-MM-dd HH:mm:ss").alias(
            "odate"
        ),
        F.col("o_orderpriority").alias("priority"),
    )
    old = base.where(F.col("o_orderkey") % 3 != 0)
    new = base.where(F.col("o_orderkey") % 5 != 0).withColumn(
        "price_cents",
        F.when(
            F.col("o_orderkey") % 7 == 0, F.col("price_cents") + 100
        ).otherwise(F.col("price_cents")),
    )
    diff = upsert.snapshot_diff(
        old, new, ["o_orderkey"], ["status", "price_cents", "odate", "priority"]
    )
    return (
        diff.groupBy("change_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("o_orderkey").alias("key_sum"),
        )
        .orderBy("change_type")
    )


_SNAPSHOT_DIFF_SQL = """
WITH base AS (
  SELECT o_orderkey,
         o_orderstatus AS status,
         CAST(round(o_totalprice * 100) AS BIGINT) AS price_cents,
         strftime(o_orderdate, '%Y-%m-%d %H:%M:%S') AS odate,
         o_orderpriority AS priority
  FROM orders
), old AS (
  SELECT o_orderkey,
         sha256(concat_ws('|', status, CAST(price_cents AS VARCHAR),
                          odate, priority)) AS fp
  FROM base WHERE o_orderkey % 3 <> 0
), new AS (
  SELECT o_orderkey,
         sha256(concat_ws('|', status,
             CAST(CASE WHEN o_orderkey % 7 = 0 THEN price_cents + 100
                  ELSE price_cents END AS VARCHAR),
             odate, priority)) AS fp
  FROM base WHERE o_orderkey % 5 <> 0
), j AS (
  SELECT coalesce(o.o_orderkey, n.o_orderkey) AS k,
         CASE WHEN o.fp IS NULL THEN 'added'
              WHEN n.fp IS NULL THEN 'removed'
              WHEN o.fp = n.fp THEN 'unchanged'
              ELSE 'changed' END AS change_type
  FROM old o FULL OUTER JOIN new n ON o.o_orderkey = n.o_orderkey
)
SELECT change_type, CAST(count(*) AS BIGINT) AS n,
       CAST(sum(k) AS BIGINT) AS key_sum
FROM j GROUP BY change_type ORDER BY change_type
"""


# ---------------------------------------------------------------------------
# Exact two-sample KS drift (integer-numerator, tie-free)
# ---------------------------------------------------------------------------


def evt_ks_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact two-sample Kolmogorov–Smirnov drift per event_type: the
    early cohort (events at or before the global median epoch —
    F.percentile == DuckDB quantile_cont, CLAUDE.md's proven pair)
    against the late cohort, D computed by drift.ks_two_sample as an
    INTEGER max |k_a·n_b − k_b·n_a| over the distinct-value grid with
    ks_stat derived by one shared IEEE division (evt_gap_fill
    derived-ratio rule — no rounded floats in the hash). One combinable
    (type, value) groupBy + one cardinality-bounded window; raw events
    shuffle once."""
    from vector_search_optimization_spark.operators import drift as DR

    e = load_table(spark, sf_dir, "events").where(F.col("value").isNotNull())
    sec = F.unix_timestamp(F.col("ts"))
    med = e.agg(F.percentile(sec, F.lit(0.5)).alias("med"))
    tagged = e.join(F.broadcast(med)).select(
        "event_type", "value", (sec <= F.col("med")).alias("is_early")
    )
    return DR.ks_two_sample(
        tagged, "event_type", "value", "is_early",
        a_name="n_early", b_name="n_late",
    ).orderBy("event_type")


_KS_DRIFT_SQL = """
WITH e AS (
  SELECT event_type, value, floor(epoch(ts)) AS sec
  FROM events WHERE value IS NOT NULL
), med AS (SELECT quantile_cont(sec, 0.5) AS med FROM e),
tagged AS (
  SELECT event_type, value, sec <= (SELECT med FROM med) AS is_early FROM e
), per_v AS (
  SELECT event_type, value,
         CAST(sum(CASE WHEN is_early THEN 1 ELSE 0 END) AS BIGINT) AS ca,
         CAST(sum(CASE WHEN NOT is_early THEN 1 ELSE 0 END) AS BIGINT) AS cb
  FROM tagged GROUP BY event_type, value
), cum AS (
  SELECT event_type,
         CAST(sum(ca) OVER w AS BIGINT) AS ka,
         CAST(sum(cb) OVER w AS BIGINT) AS kb
  FROM per_v
  WINDOW w AS (PARTITION BY event_type ORDER BY value
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
), tot AS (
  SELECT event_type, CAST(sum(ca) AS BIGINT) AS n_early,
         CAST(sum(cb) AS BIGINT) AS n_late
  FROM per_v GROUP BY event_type
)
SELECT t.event_type, t.n_early, t.n_late,
       CAST(max(abs(c.ka * t.n_late - c.kb * t.n_early)) AS BIGINT) AS d_num,
       CAST(max(abs(c.ka * t.n_late - c.kb * t.n_early)) AS DOUBLE)
         / CAST(t.n_early * t.n_late AS DOUBLE) AS ks_stat
FROM cum c JOIN tot t USING (event_type)
WHERE t.n_early > 0 AND t.n_late > 0
GROUP BY t.event_type, t.n_early, t.n_late
ORDER BY t.event_type
"""


# ---------------------------------------------------------------------------
# Bounded-hop shortest paths (G-family: BFS distance)
# ---------------------------------------------------------------------------

_BFS_ROUNDS = 6


def g4_shortest_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hop distance from a deterministic source (the lexicographically
    first event_type) over the G1 co-occurrence graph — bounded-depth
    BFS as fixed-round min-distance propagation (the label-propagation
    sibling of pagerank's power rounds): dist_{t+1}(v) = min(dist_t(v),
    1 + min_{u~v} dist_t(u)), 6 rounds (≥ any co-occurrence graph's
    observed diameter; unreached nodes export -1). Each round is one
    equi-join of the (nodes-sized) distance vector onto the symmetrized
    edge list + one combinable min-agg — the same |edges|+|nodes|
    shuffle bound as pagerank, fixed plan depth — and small graphs take
    graph.bfs_distances' driver fast path (frontier walk over one
    bounded collect; path equality pytest-pinned). Oracle:
    depth-bounded recursive CTE + min per node (the bound makes the
    recursion terminate under cycles on both sides)."""
    from vector_search_optimization_spark.operators import graph as GR

    e = load_table(spark, sf_dir, "events")
    edges = SIM.cooccurrence_edges(e, "user_id", "event_type")
    nodes = e.select(F.col("event_type").alias("id")).distinct()
    src = nodes.agg(F.min("id")).first()[0]  # bounded driver scalar
    return (
        GR.bfs_distances(edges, nodes, src, max_hops=_BFS_ROUNDS)
        .select(F.col("id").alias("event_type"), "hop_dist")
        .orderBy("event_type")
    )


_G4_BFS_SQL = f"""
WITH RECURSIVE pairs AS (SELECT DISTINCT user_id, event_type FROM events),
e0 AS (
  SELECT a.event_type AS src, b.event_type AS dst
  FROM pairs a JOIN pairs b
    ON a.user_id = b.user_id AND a.event_type < b.event_type
  GROUP BY 1, 2
),
sym AS (SELECT src, dst FROM e0 UNION ALL SELECT dst, src FROM e0),
nodes AS (SELECT DISTINCT event_type AS id FROM events),
walk(id, d) AS (
  SELECT (SELECT min(id) FROM nodes), 0
  UNION
  SELECT sym.dst, w.d + 1
  FROM walk w JOIN sym ON sym.src = w.id
  WHERE w.d < {_BFS_ROUNDS}
),
best AS (SELECT id, min(d) AS d FROM walk GROUP BY id)
SELECT n.id AS event_type,
       CAST(coalesce(best.d, -1) AS INTEGER) AS hop_dist
FROM nodes n LEFT JOIN best ON best.id = n.id
ORDER BY event_type
"""


def g5_triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """G5 — per-node triangle counts over the strong co-occurrence graph:
    G1 edges kept when ``2*weight >= max(weight)`` (a relative threshold,
    so the sparsification is scale-free across sf — an absolute cutoff
    would keep everything at sf0.1 and nothing at sf0.001). The max is a
    1-row agg broadcast back (whitelisted nested-loop, the scalar-subquery
    pattern). Counting runs graph.triangle_count — degree-ordered wedge
    enumeration + one equi-join closure, O(m^1.5) intermediate at any
    scale. Oracle: DuckDB closes wedges in plain id order (orientation
    only changes WHERE a triangle is found, never whether)."""
    from vector_search_optimization_spark.operators import graph as GR

    e = load_table(spark, sf_dir, "events")
    edges = SIM.cooccurrence_edges(e, "user_id", "event_type")
    maxw = edges.agg(F.max("weight").alias("max_w"))
    kept = (
        edges.crossJoin(F.broadcast(maxw))
        .where(2 * F.col("weight") >= F.col("max_w"))
        .select("src", "dst")
    )
    return (
        GR.triangle_count(kept)
        .select(F.col("node").alias("event_type"), "n_triangles")
        .orderBy("event_type")
    )


_G5_TRIANGLE_SQL = """
WITH pairs AS (SELECT DISTINCT user_id, event_type FROM events),
e0 AS (
  SELECT a.event_type AS src, b.event_type AS dst, count(*) AS weight
  FROM pairs a JOIN pairs b
    ON a.user_id = b.user_id AND a.event_type < b.event_type
  GROUP BY 1, 2
),
kept AS (
  SELECT src, dst FROM e0 WHERE 2 * weight >= (SELECT max(weight) FROM e0)
),
tri AS (
  SELECT e1.src AS a, e1.dst AS b, e2.dst AS c
  FROM kept e1
  JOIN kept e2 ON e1.src = e2.src AND e1.dst < e2.dst
  JOIN kept e3 ON e3.src = e1.dst AND e3.dst = e2.dst
),
corners AS (
  SELECT a AS node FROM tri
  UNION ALL SELECT b FROM tri
  UNION ALL SELECT c FROM tri
)
SELECT node AS event_type, count(*) AS n_triangles
FROM corners GROUP BY 1 ORDER BY 1
"""


def evt_retention_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily retention cohorts — the canonical product-analytics query:
    users grouped by the epoch-day of their FIRST event, counted
    distinctly at each day-offset since (daily because the events table
    spans ~30 days; weekly collapses to one cohort). Two user_id-keyed
    shuffles (the first-event agg, the join back — same key, AQE reuses
    the partitioning) + the cohort-cell agg. Day math is integer indices
    from floor(epoch/86400) (Spark unix_timestamp == DuckDB
    floor(epoch(ts)) — the project's cross-engine timestamp identity),
    so no date-type or timezone semantics cross engines."""
    e = load_table(spark, sf_dir, "events")
    day = TS.epoch_day("ts")
    ev = e.select("user_id", day.alias("day_idx"))
    first = ev.groupBy("user_id").agg(F.min("day_idx").alias("cohort_day"))
    return (
        ev.join(first, "user_id")
        .select(
            "cohort_day",
            (F.col("day_idx") - F.col("cohort_day")).alias("days_since"),
            "user_id",
        )
        .groupBy("cohort_day", "days_since")
        .agg(
            F.countDistinct("user_id").alias("n_users"),
            F.count(F.lit(1)).alias("n_events"),
        )
        .orderBy("cohort_day", "days_since")
    )


_EVT_RETENTION_SQL = """
WITH ev AS (
  SELECT user_id,
         CAST(floor(floor(epoch(ts)) / 86400.0) AS BIGINT) AS day_idx
  FROM events
),
first AS (
  SELECT user_id, min(day_idx) AS cohort_day FROM ev GROUP BY 1
)
SELECT cohort_day,
       day_idx - cohort_day AS days_since,
       count(DISTINCT ev.user_id) AS n_users,
       count(*) AS n_events
FROM ev JOIN first ON ev.user_id = first.user_id
GROUP BY 1, 2
ORDER BY 1, 2
"""


def evt_markov_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user event-type transition matrix (first-order Markov
    estimate) — the journey-analysis primitive behind next-event
    prediction and funnel-leak diagnosis: P(next = to | current = from)
    from each user's time-ordered event sequence.

    ONE user-keyed window shuffle (lead over (ts, event_id) — event_id
    breaks same-timestamp ties so sequences are engine-deterministic)
    + one combinable pair count; row probabilities derive from the
    exact integer counts via a per-from window over the |types|²
    matrix frame (tiny — no second corpus pass, no 1-row broadcast).
    At 100 TB this is the canonical bucketed-by-user_id layout win:
    pre-bucketed events make the window shuffle-free."""
    e = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    pairs = (
        e.select(
            F.col("event_type").alias("from_type"),
            F.lead("event_type").over(w).alias("to_type"),
        )
        .where(F.col("to_type").isNotNull())
        .groupBy("from_type", "to_type")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    w_from = Window.partitionBy("from_type")
    return (
        pairs.withColumn("row_total", F.sum("n").over(w_from))
        .select(
            "from_type",
            "to_type",
            "n",
            (F.col("n") / F.col("row_total")).alias("prob"),
        )
        .orderBy("from_type", "to_type")
    )


_EVT_MARKOV_SQL = """
WITH seq AS (
  SELECT event_type AS from_type,
         lead(event_type) OVER (PARTITION BY user_id
                                ORDER BY ts, event_id) AS to_type
  FROM events
), pairs AS (
  SELECT from_type, to_type, count(*) AS n
  FROM seq WHERE to_type IS NOT NULL
  GROUP BY 1, 2
)
SELECT from_type, to_type, n,
       n / (sum(n) OVER (PARTITION BY from_type)) AS prob
FROM pairs ORDER BY from_type, to_type
"""


def evt_cusum_changepoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUSUM mean-shift change-point detection per event type — the
    classic offline change-point statistic (Page '54 / Pettitt shape)
    rounding out the drift family (PSI distribution drift, KS two-sample
    drift, and now WHEN did the level shift): the day t maximizing
    |Σ_{d≤t}(S_d − mean)| over the daily value series.

    Everything is EXACT integer arithmetic: with P_t the prefix sum of
    daily cent totals and T the series total over n days,
    CUSUM_t = P_t − t·T/n, so the ranking statistic is
    |n·P_t − t·T| — an integer (the ×n clearing of the rational mean;
    a float CUSUM here is RATIONAL, not irrational, so rounding it
    could land exactly on a .5 ulp boundary — the decimal-tie rule's
    bad case — while the cleared integer cannot tie ambiguously).
    Peak day ranks on (stat DESC, day ASC) — fully deterministic.
    Plan: one combinable (type, day) agg over events, then windows over
    the tiny per-type day series (~30 rows/type). At lake scale n·P_t
    needs int128/decimal once daily cent totals approach 2^63/n —
    document-level relaxation, ANSI errors loudly rather than wrapping."""
    e = load_table(spark, sf_dir, "events")
    day = TS.epoch_day("ts")
    daily = e.groupBy(
        "event_type", day.alias("day_idx")
    ).agg(F.sum(F.round(F.col("value") * 100).cast("long")).alias("s_c"))
    w_ord = Window.partitionBy("event_type").orderBy("day_idx")
    w_all = Window.partitionBy("event_type")
    cum = daily.select(
        "event_type",
        "day_idx",
        F.sum("s_c").over(w_ord).alias("p"),
        F.row_number().over(w_ord).alias("t"),
        F.sum("s_c").over(w_all).alias("total_c"),
        F.count(F.lit(1)).over(w_all).alias("n_days"),
    ).withColumn(
        "stat_n",
        F.abs(F.col("n_days") * F.col("p") - F.col("t") * F.col("total_c")),
    )
    w_rank = Window.partitionBy("event_type").orderBy(
        F.desc("stat_n"), F.asc("day_idx")
    )
    return (
        cum.withColumn("rn", F.row_number().over(w_rank))
        .where(F.col("rn") == 1)
        .select(
            "event_type",
            "n_days",
            "total_c",
            F.col("day_idx").alias("peak_day"),
            F.col("t").alias("peak_t"),
            "stat_n",
            # the float CUSUM at the peak, DERIVED from the exact
            # integers by one shared division (readability export)
            (F.col("stat_n") / F.col("n_days") / F.lit(100.0)).alias(
                "peak_cusum_value"
            ),
        )
        .orderBy("event_type")
    )


_EVT_CUSUM_SQL = """
WITH daily AS (
  SELECT event_type,
         CAST(floor(floor(epoch(ts)) / 86400.0) AS BIGINT) AS day_idx,
         CAST(sum(CAST(round(value*100) AS BIGINT)) AS BIGINT) AS s_c
  FROM events GROUP BY 1, 2
), cum AS (
  SELECT event_type, day_idx,
         CAST(sum(s_c) OVER (PARTITION BY event_type ORDER BY day_idx)
              AS BIGINT) AS p,
         CAST(row_number() OVER (PARTITION BY event_type ORDER BY day_idx)
              AS BIGINT) AS t,
         CAST(sum(s_c) OVER (PARTITION BY event_type) AS BIGINT) AS total_c,
         CAST(count(*) OVER (PARTITION BY event_type) AS BIGINT) AS n_days
  FROM daily
), st AS (
  SELECT event_type, day_idx, p, t, total_c, n_days,
         abs(n_days * p - t * total_c) AS stat_n,
         row_number() OVER (PARTITION BY event_type
                            ORDER BY abs(n_days * p - t * total_c) DESC,
                                     day_idx ASC) AS rn
  FROM cum
)
SELECT event_type, n_days, total_c, day_idx AS peak_day, t AS peak_t,
       CAST(stat_n AS BIGINT) AS stat_n,
       CAST(stat_n AS BIGINT) / n_days / 100.0 AS peak_cusum_value
FROM st WHERE rn = 1 ORDER BY event_type
"""


def evt_attribution_linear(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Linear multi-touch attribution — every view in the 24 h before a
    purchase by the same user shares that purchase's credit equally
    (the marketing-analytics counterpart of evt_funnel's ordered
    conversion and evt_asof_join's last-touch): reported as when the
    CREDITED views happen (hour of day), i.e. which touch hours drive
    conversions.

    Credit is carried in exact integer parts-per-million via INTEGER
    division (1000000 div k): a float 1e6/k is RATIONAL and its
    HALF_UP rounding can land exactly on a .5 boundary (k=128 →
    7812.5 — the decimal-tie failure mode), while truncating division
    is tie-free and engine-identical. The view↔purchase pairing is the
    banded range join (explode views to adjacent 24 h buckets, probe
    the purchase bucket as an equi-join — never an inequality
    crossJoin); per-purchase fan-in k comes from one combinable agg,
    and the hour shares derive from exact integers via a window over
    the ≤24-row result."""
    e = load_table(spark, sf_dir, "events")
    sec = F.unix_timestamp(F.col("ts"))
    w = 86400
    v = e.where(F.col("event_type") == "view").select(
        F.col("event_id").alias("v_id"), "user_id", sec.alias("v_sec")
    )
    vb = v.withColumn(
        "bucket",
        F.explode(
            F.array(
                F.floor(F.col("v_sec") / w), F.floor(F.col("v_sec") / w) + 1
            )
        ),
    )
    p = e.where(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("p_id"),
        "user_id",
        sec.alias("p_sec"),
        F.floor(sec / w).alias("bucket"),
    )
    pairs = (
        vb.join(p, ["user_id", "bucket"])
        .where(
            (F.col("v_sec") < F.col("p_sec"))
            & (F.col("p_sec") - F.col("v_sec") <= w)
        )
        .select("v_id", "v_sec", "p_id")
    )
    k = pairs.groupBy("p_id").agg(F.count(F.lit(1)).alias("k"))
    cr = pairs.join(k, "p_id").withColumn(
        "credit", F.expr("1000000 div k")
    )
    agg = cr.groupBy(
        F.expr("(v_sec div 3600) % 24").cast("long").alias("view_hour")
    ).agg(
        F.count(F.lit(1)).alias("n_credited_views"),
        F.countDistinct("p_id").alias("purchases_touched"),
        F.sum("credit").alias("credit_ppm"),
    )
    return (
        agg.withColumn(
            "credit_share",
            F.col("credit_ppm") / F.sum("credit_ppm").over(Window.partitionBy()),
        )
        .orderBy("view_hour")
    )


_EVT_ATTRIBUTION_SQL = """
WITH v AS (
  SELECT event_id AS v_id, user_id,
         CAST(floor(epoch(ts)) AS BIGINT) AS v_sec
  FROM events WHERE event_type = 'view'
), p AS (
  SELECT event_id AS p_id, user_id,
         CAST(floor(epoch(ts)) AS BIGINT) AS p_sec
  FROM events WHERE event_type = 'purchase'
), pairs AS (
  SELECT v_id, v_sec, p_id
  FROM v JOIN p USING (user_id)
  WHERE v_sec < p_sec AND p_sec - v_sec <= 86400
), k AS (
  SELECT p_id, count(*) AS k FROM pairs GROUP BY 1
), cr AS (
  SELECT v_id, v_sec, pairs.p_id, 1000000 // k.k AS credit
  FROM pairs JOIN k ON pairs.p_id = k.p_id
), agg AS (
  SELECT CAST((v_sec // 3600) % 24 AS BIGINT) AS view_hour,
         count(*) AS n_credited_views,
         count(DISTINCT p_id) AS purchases_touched,
         CAST(sum(credit) AS BIGINT) AS credit_ppm
  FROM cr GROUP BY 1
)
SELECT view_hour, n_credited_views, purchases_touched, credit_ppm,
       credit_ppm / CAST(sum(credit_ppm) OVER () AS BIGINT) AS credit_share
FROM agg ORDER BY view_hour
"""


def evt_user_gini(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-type Gini concentration of user activity — how top-heavy each
    event type's usage is (the corpus-diversity dual: swap users for
    crawl sources and this is the "is this source 90% one domain"
    audit). Runs through operators.inequality.group_gini, the engine's
    grouped-aggregate pandas UDF (Series → scalar UDAF) — the integer
    Gini numerator comes out of the UDAF exactly, the float G derives
    by one shared division. Input to the UDAF is the per-(type, user)
    count table (one combinable shuffle over events), not raw events."""
    from vector_search_optimization_spark.operators import inequality as INEQ

    e = load_table(spark, sf_dir, "events")
    per_user = e.groupBy("event_type", "user_id").agg(
        F.count(F.lit(1)).alias("cnt")
    )
    out = INEQ.group_gini(per_user, "event_type", "cnt")
    return out.select(
        "event_type",
        F.col("n_contributors").alias("n_users"),
        F.col("total").alias("total_events"),
        "gini_num",
        "gini",
    ).orderBy("event_type")


_EVT_GINI_SQL = """
WITH per_user AS (
  SELECT event_type, user_id, count(*) AS cnt
  FROM events GROUP BY 1, 2
), ranked AS (
  SELECT event_type, cnt,
         row_number() OVER (PARTITION BY event_type
                            ORDER BY cnt, user_id) AS i
  FROM per_user
)
SELECT event_type,
       count(*) AS n_users,
       CAST(sum(cnt) AS BIGINT) AS total_events,
       CAST(2 * sum(i * cnt) - (count(*) + 1) * sum(cnt) AS BIGINT)
         AS gini_num,
       CAST(2 * sum(i * cnt) - (count(*) + 1) * sum(cnt) AS BIGINT)
         / (count(*) * CAST(sum(cnt) AS BIGINT)) AS gini
FROM ranked GROUP BY event_type ORDER BY event_type
"""


def evt_bitmap_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact mergeable distinct-count rollup via bitmap aggregates — the
    pre-aggregation pattern every lake warehouse uses for DAU/WAU
    dashboards (ClickHouse groupBitmap / Iceberg theta, here with
    Spark's exact bitmap_construct_agg/bitmap_or_agg): build per
    (week, day, type, bucket) user bitmaps ONCE (the persisted daily
    pre-agg table — at 100 TB this is the only pass over raw events,
    everything below reads bitmaps), then OR-merge upward for weekly
    actives, per-type actives, and a view∩purchase overlap via
    inclusion-exclusion — distinct counts that stay EXACT under
    re-aggregation, which approx sketches only approximate and plain
    counts cannot do at all (sum of daily distincts ≠ weekly distinct).
    bitmap_bucket_number shards the id space so each bitmap is ≤32768
    bits regardless of user-id range; bucket counts are additive.
    Conditional or_aggs (CASE WHEN type…) compute all four weekly
    metrics in ONE pass over the pre-agg — aggregates skip NULLs, so no
    per-type branch re-scans it. The oracle recomputes every distinct
    exactly — bitmaps are exact, so this is a full value oracle, unlike
    the sketch-audit row's tolerance booleans. stickiness
    (avg DAU / WAU) derives from exact integers."""
    e = load_table(spark, sf_dir, "events")
    day = TS.epoch_day("ts")
    ev = e.select(
        F.floor(day / F.lit(7.0)).cast("long").alias("week_idx"),
        day.alias("day_idx"),
        "user_id",
        "event_type",
    )
    daily = (
        ev.groupBy(
            "week_idx",
            "day_idx",
            "event_type",
            F.expr("bitmap_bucket_number(user_id)").alias("bucket"),
        )
        .agg(
            F.expr("bitmap_construct_agg(bitmap_bit_position(user_id))").alias(
                "bm"
            ),
            F.count(F.lit(1)).alias("n_events"),
        )
        .persist()
    )
    dau = (
        daily.groupBy("week_idx", "day_idx", "bucket")
        .agg(F.expr("bitmap_count(bitmap_or_agg(bm))").alias("c"))
        .groupBy("week_idx", "day_idx")
        .agg(F.sum("c").alias("dau"))
        .groupBy("week_idx")
        .agg(F.sum("dau").alias("sum_dau"), F.count(F.lit(1)).alias("n_days"))
    )
    wk = (
        daily.groupBy("week_idx", "bucket")
        .agg(
            F.expr("bitmap_count(bitmap_or_agg(bm))").alias("c_all"),
            F.expr(
                "coalesce(bitmap_count(bitmap_or_agg("
                "CASE WHEN event_type = 'view' THEN bm END)), 0)"
            ).alias("c_view"),
            F.expr(
                "coalesce(bitmap_count(bitmap_or_agg("
                "CASE WHEN event_type = 'purchase' THEN bm END)), 0)"
            ).alias("c_purch"),
            F.expr(
                "coalesce(bitmap_count(bitmap_or_agg("
                "CASE WHEN event_type IN ('view', 'purchase') THEN bm END)), 0)"
            ).alias("c_vp"),
            F.sum("n_events").alias("n_events"),
        )
        .groupBy("week_idx")
        .agg(
            F.sum("c_all").alias("wau"),
            F.sum("c_view").alias("view_users"),
            F.sum("c_purch").alias("purchase_users"),
            F.sum("c_vp").alias("vp_union"),
            F.sum("n_events").alias("n_events"),
        )
    )
    return (
        wk.join(dau, "week_idx")
        .select(
            "week_idx",
            "n_days",
            "n_events",
            "sum_dau",
            "wau",
            "view_users",
            "purchase_users",
            (
                F.col("view_users")
                + F.col("purchase_users")
                - F.col("vp_union")
            ).alias("view_purchase_overlap"),
            (
                F.col("sum_dau") / (F.col("n_days") * F.col("wau"))
            ).alias("stickiness"),
        )
        .orderBy("week_idx")
    )


_BITMAP_ROLLUP_SQL = """
WITH ev AS (
  SELECT CAST(floor(floor(epoch(ts)) / 86400.0) AS BIGINT) AS day_idx,
         CAST(floor(floor(floor(epoch(ts)) / 86400.0) / 7.0) AS BIGINT)
           AS week_idx,
         user_id, event_type
  FROM events
), dau AS (
  SELECT week_idx, day_idx, count(DISTINCT user_id) AS dau
  FROM ev GROUP BY 1, 2
), dwk AS (
  SELECT week_idx, CAST(sum(dau) AS BIGINT) AS sum_dau, count(*) AS n_days
  FROM dau GROUP BY 1
), wk AS (
  SELECT week_idx,
         count(*) AS n_events,
         count(DISTINCT user_id) AS wau,
         count(DISTINCT CASE WHEN event_type = 'view'
                             THEN user_id END) AS view_users,
         count(DISTINCT CASE WHEN event_type = 'purchase'
                             THEN user_id END) AS purchase_users,
         count(DISTINCT CASE WHEN event_type IN ('view', 'purchase')
                             THEN user_id END) AS vp_union
  FROM ev GROUP BY 1
)
SELECT w.week_idx, d.n_days, w.n_events, d.sum_dau, w.wau,
       w.view_users, w.purchase_users,
       w.view_users + w.purchase_users - w.vp_union AS view_purchase_overlap,
       d.sum_dau / (d.n_days * w.wau) AS stickiness
FROM wk w JOIN dwk d USING (week_idx) ORDER BY week_idx
"""


def scd2_orders_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Type-2 SCD history folded from four simulated snapshot versions of
    orders (the accumulation step after snapshot_diff's single-transition
    CDC): presence churns on ``(key + 3v) % 11``, the status attribute
    flips on ``(key + v) % 13``, price bumps on ``(key + v) % 17`` — so
    runs break by change, delete+re-add gap, and late arrival, all
    deterministically. upsert.scd2_intervals does the fold in ONE
    key-partitioned shuffle (fingerprint lag + run numbering + interval
    agg, no join). Exports interval-cell counts + exact key/price sums;
    valid_to is NULL while current, so both engines order by
    coalesce(valid_to, -1) (Spark defaults NULLS FIRST, DuckDB NULLS
    LAST — never rely on engine NULL order)."""
    o = load_table(spark, sf_dir, "orders")
    v = F.col("version")
    k = F.col("o_orderkey")
    snaps = (
        o.select(
            "o_orderkey",
            F.col("o_orderstatus").alias("status"),
            F.round(F.col("o_totalprice") * 100).cast("long").alias(
                "price_cents"
            ),
            F.explode(F.array(*[F.lit(i) for i in range(1, 5)])).alias(
                "version"
            ),
        )
        .where((k + 3 * v) % 11 != 0)
        .withColumn(
            "status",
            F.when((k + v) % 13 == 0, F.lit("REVISED")).otherwise(
                F.col("status")
            ),
        )
        .withColumn(
            "price_cents",
            F.when((k + v) % 17 == 0, F.col("price_cents") + 100 * v)
            .otherwise(F.col("price_cents")),
        )
    )
    hist = upsert.scd2_intervals(
        snaps,
        ["o_orderkey"],
        ["status", "price_cents"],
        latest_version=4,
    )
    return (
        hist.groupBy("valid_from", "valid_to", "is_current")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("o_orderkey").alias("key_sum"),
            F.sum("price_cents").alias("price_sum"),
        )
        .orderBy("valid_from", F.coalesce("valid_to", F.lit(-1)), "is_current")
    )


_SCD2_SQL = """
WITH snaps AS (
  SELECT o_orderkey,
         CASE WHEN (o_orderkey + v) % 13 = 0 THEN 'REVISED'
              ELSE o_orderstatus END AS status,
         CASE WHEN (o_orderkey + v) % 17 = 0
              THEN CAST(round(o_totalprice * 100) AS BIGINT) + 100 * v
              ELSE CAST(round(o_totalprice * 100) AS BIGINT)
         END AS price_cents,
         v AS version
  FROM orders, unnest([1, 2, 3, 4]) AS t(v)
  WHERE (o_orderkey + 3 * v) % 11 <> 0
),
flagged AS (
  SELECT *,
    CASE WHEN lag(version) OVER w IS NULL THEN 1
         WHEN lag(status) OVER w IS DISTINCT FROM status THEN 1
         WHEN lag(price_cents) OVER w IS DISTINCT FROM price_cents THEN 1
         WHEN lag(version) OVER w <> version - 1 THEN 1
         ELSE 0 END AS chg
  FROM snaps WINDOW w AS (PARTITION BY o_orderkey ORDER BY version)
),
runs AS (
  SELECT *, sum(chg) OVER (
    PARTITION BY o_orderkey ORDER BY version ROWS UNBOUNDED PRECEDING
  ) AS run
  FROM flagged
),
hist AS (
  SELECT o_orderkey, any_value(price_cents) AS price_cents,
         min(version) AS valid_from, max(version) AS last_v
  FROM runs GROUP BY o_orderkey, run
)
SELECT valid_from,
       CASE WHEN last_v < 4 THEN last_v + 1 END AS valid_to,
       last_v = 4 AS is_current,
       count(*) AS n,
       CAST(sum(o_orderkey) AS BIGINT) AS key_sum,
       CAST(sum(price_cents) AS BIGINT) AS price_sum
FROM hist
GROUP BY 1, 2, 3
ORDER BY valid_from, coalesce(valid_to, -1), is_current
"""


# ---------------------------------------------------------------------------
# Time-weighted average (trapezoid-free step-hold TWA)
# ---------------------------------------------------------------------------


def evt_time_weighted_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-weighted average per event_type (the IoT/ops metric that a
    plain mean gets wrong under irregular sampling): hold each value
    until the next observation, weight it by the hold duration, divide
    by the observed span. ONE type-keyed shuffle: a lead window gives
    each row its hold seconds, one combinable agg does the rest. The
    weighted sum is tie-free at 4dp (2-decimal values × integer
    seconds → 2-decimal products); the TWA derives unrounded from the
    rounded numerator and the exact integer span."""
    e = load_table(spark, sf_dir, "events").where(F.col("value").isNotNull())
    sec = F.unix_timestamp(F.col("ts"))
    w = Window.partitionBy("event_type").orderBy(sec, "event_id")
    held = e.select(
        "event_type",
        "value",
        (F.lead(sec).over(w) - sec).alias("hold_s"),
        sec.alias("sec"),
    )
    return (
        held.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            (F.max("sec") - F.min("sec")).alias("span_s"),
            F.round(
                F.sum(F.col("value") * F.col("hold_s")), 4
            ).alias("weighted_sum"),
        )
        .where(F.col("span_s") > 0)
        .select(
            "event_type",
            "n",
            "span_s",
            "weighted_sum",
            (
                F.col("weighted_sum") / F.col("span_s").cast("double")
            ).alias("twa"),
        )
        .orderBy("event_type")
    )


_EVT_TWA_SQL = """
WITH held AS (
  SELECT event_type, value,
         lead(floor(epoch(ts))) OVER w - floor(epoch(ts)) AS hold_s,
         floor(epoch(ts)) AS sec
  FROM events WHERE value IS NOT NULL
  WINDOW w AS (PARTITION BY event_type ORDER BY floor(epoch(ts)), event_id)
)
SELECT event_type, count(*) AS n,
       CAST(max(sec) - min(sec) AS BIGINT) AS span_s,
       round(sum(value * hold_s), 4) AS weighted_sum,
       round(sum(value * hold_s), 4) / CAST(max(sec) - min(sec) AS DOUBLE)
         AS twa
FROM held GROUP BY event_type
HAVING max(sec) - min(sec) > 0
ORDER BY event_type
"""


# ---------------------------------------------------------------------------
# Deterministic Poisson-bootstrap A/B confidence interval
# ---------------------------------------------------------------------------


def evt_ab_bootstrap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A/B mean-difference with a Poisson-bootstrap CI (Chamandy et al.
    '12 — the one-pass massive-data uncertainty technique), fully
    deterministic: every resample weight is an inverse-CDF Poisson(1)
    draw from sha256(event_id | replicate) (operators/bootstrap.py), so
    the CI is a pure function of the data and the DuckDB oracle
    recomputes the identical 64 replicates. Cohorts split on user_id
    parity. Point estimates derive tie-free (exact counts + rounded
    sums, means divided unrounded); the CI quantiles round at 6dp
    (weighted-ratio values — measure-zero tie risk). The two 1-row
    frames join via a whitelisted 1×1 broadcast."""
    from vector_search_optimization_spark.operators import bootstrap as BS

    e = load_table(spark, sf_dir, "events").where(F.col("value").isNotNull())
    # spread BEFORE the ×64 replicate fan-out: the per-row cost is 64
    # sha256+conv evaluations and the single-row-group scan would run
    # them all in ONE task (measured 6.9 s warm at sf0.1; guide §2.5).
    # The exchange moves only (event_id, bool, double) — metadata, not
    # payload — and both consumers (CI replicates + point estimates)
    # reuse the one exchange (ReusedExchange).
    tagged = spread_scan(
        e.select(
            "event_id",
            (F.col("user_id") % 2 == 0).alias("is_a"),
            F.col("value").cast("double").alias("v"),
        ),
        "event_id",
    )
    ci = BS.poisson_bootstrap_mean_diff(tagged, "event_id", "is_a", "v")
    pt = tagged.agg(
        F.sum(F.when(F.col("is_a"), 1).otherwise(0))
        .cast("long")
        .alias("n_a"),
        F.round(F.sum(F.when(F.col("is_a"), F.col("v"))), 2).alias("sum_a"),
        F.sum(F.when(~F.col("is_a"), 1).otherwise(0))
        .cast("long")
        .alias("n_b"),
        F.round(F.sum(F.when(~F.col("is_a"), F.col("v"))), 2).alias(
            "sum_b"
        ),
    )
    return pt.crossJoin(F.broadcast(ci)).select(
        "n_a",
        "sum_a",
        (F.col("sum_a") / F.col("n_a")).alias("mean_a"),
        "n_b",
        "sum_b",
        (F.col("sum_b") / F.col("n_b")).alias("mean_b"),
        (
            F.col("sum_a") / F.col("n_a") - F.col("sum_b") / F.col("n_b")
        ).alias("mean_diff"),
        "n_boot",
        "ci_lo",
        "ci_hi",
    )


def _ab_bootstrap_sql() -> str:
    from vector_search_optimization_spark.operators.bootstrap import (
        poisson1_weight_sql,
    )

    wcase = poisson1_weight_sql("u")
    return f"""
WITH e AS (
  SELECT event_id AS k, user_id % 2 = 0 AS g, CAST(value AS DOUBLE) AS v
  FROM events WHERE value IS NOT NULL
), rep AS (
  SELECT e.k, e.g, e.v, t.b,
         CAST(concat('0x', substr(sha256(concat_ws('|',
             CAST(e.k AS VARCHAR), CAST(t.b AS VARCHAR))), 1, 13))
           AS BIGINT) / 4503599627370496e0 AS u
  FROM e, range(0, 64) t(b)
), wtd AS (
  SELECT b, g, v, CAST({wcase} AS DOUBLE) AS w FROM rep
), agg AS (
  SELECT b, g, sum(w * v) AS ws, sum(w) AS ww FROM wtd GROUP BY b, g
), per_b AS (
  SELECT b,
         max(CASE WHEN g THEN ws END) / max(CASE WHEN g THEN ww END)
       - max(CASE WHEN NOT g THEN ws END) / max(CASE WHEN NOT g THEN ww END)
           AS d
  FROM agg GROUP BY b
), ci AS (
  SELECT CAST(count(*) AS BIGINT) AS n_boot,
         round(quantile_cont(d, 0.025), 6) AS ci_lo,
         round(quantile_cont(d, 0.975), 6) AS ci_hi
  FROM per_b
), pt AS (
  SELECT CAST(sum(CASE WHEN g THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
         round(sum(CASE WHEN g THEN v END), 2) AS sum_a,
         CAST(sum(CASE WHEN NOT g THEN 1 ELSE 0 END) AS BIGINT) AS n_b,
         round(sum(CASE WHEN NOT g THEN v END), 2) AS sum_b
  FROM e
)
SELECT pt.n_a, pt.sum_a, pt.sum_a / pt.n_a AS mean_a,
       pt.n_b, pt.sum_b, pt.sum_b / pt.n_b AS mean_b,
       pt.sum_a / pt.n_a - pt.sum_b / pt.n_b AS mean_diff,
       ci.n_boot, ci.ci_lo, ci.ci_hi
FROM pt, ci
"""


# ---------------------------------------------------------------------------
# Z-order (Morton) layout audit
# ---------------------------------------------------------------------------


def zorder_events_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order locality audit (the Delta/Iceberg OPTIMIZE ZORDER
    technique on plain parquet — operators/layout.py): quantize events
    to (user_id mod 1024, floor(value) mod 1024), interleave into a
    20-bit Morton key (pure unrolled bit math — whole-stage codegen'd,
    exact DuckDB twin), and report per z-range bucket (key >> 12, 256
    buckets) the row count and BOTH dimensions' min/max — demonstrating
    the property zone-map pruning relies on: every bucket covers a
    narrow range of EVERY interleaved column simultaneously (a
    single-column sort gives this for one column only). All-integer
    exports."""
    from vector_search_optimization_spark.operators import layout as LO

    e = load_table(spark, sf_dir, "events").where(F.col("value").isNotNull())
    q = e.select(
        (F.col("user_id") % 1024).alias("uq"),
        (F.floor("value").cast("long") % 1024).alias("vq"),
    )
    z = LO.z_value(["uq", "vq"])
    return (
        q.select("uq", "vq", F.shiftright(z, 12).alias("z_bucket"))
        .groupBy("z_bucket")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.min("uq").alias("u_min"),
            F.max("uq").alias("u_max"),
            F.min("vq").alias("v_min"),
            F.max("vq").alias("v_max"),
        )
        .orderBy("z_bucket")
    )


def _zorder_sql() -> str:
    from vector_search_optimization_spark.operators.layout import z_value_sql

    zexpr = z_value_sql(["uq", "vq"])
    return f"""
WITH q AS (
  SELECT user_id % 1024 AS uq,
         CAST(floor(value) AS BIGINT) % 1024 AS vq
  FROM events WHERE value IS NOT NULL
)
SELECT {zexpr} >> 12 AS z_bucket,
       count(*) AS n,
       min(uq) AS u_min, max(uq) AS u_max,
       min(vq) AS v_min, max(vq) AS v_max
FROM q GROUP BY 1 ORDER BY z_bucket
"""


# ---------------------------------------------------------------------------
# Fuzzy string join (blocked levenshtein — entity-resolution shape)
# ---------------------------------------------------------------------------


def fuzzy_name_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fuzzy self-join over part names (the record-linkage /
    entity-resolution shape): near-matching name pairs within edit
    distance 3. The scale design is collapse-then-block-then-verify:
    (1) reduce to DISTINCT names + occurrence counts FIRST (one
    combinable agg — the quadratic step must never see row
    multiplicity; this corpus has 2,000 parts but 64 names), (2) block
    on the first name token (equi-join — candidates only within a
    block), (3) cheap length-difference prefilter (|len diff| > 3 can't
    be within distance 3), (4) exact levenshtein verify (JVM codegen'd
    in Spark, native in DuckDB — a cross-engine-stable integer).
    Widening the blocking key (first token + length band) is the dial
    when blocks grow hot at corpus scale."""
    p = load_table(spark, sf_dir, "part")
    names = p.groupBy("p_name").agg(F.count(F.lit(1)).alias("n"))
    a = names.select(
        F.col("p_name").alias("name_a"),
        F.col("n").alias("n_a"),
        F.split(F.col("p_name"), " ").getItem(0).alias("blk"),
    )
    b = names.select(
        F.col("p_name").alias("name_b"),
        F.col("n").alias("n_b"),
        F.split(F.col("p_name"), " ").getItem(0).alias("blk"),
    )
    return (
        a.join(b, "blk")
        .where(F.col("name_a") < F.col("name_b"))
        .where(
            F.abs(F.length("name_a") - F.length("name_b")) <= 3
        )
        .select(
            "name_a",
            "name_b",
            F.levenshtein("name_a", "name_b").alias("edit_dist"),
            "n_a",
            "n_b",
        )
        .where(F.col("edit_dist") <= 3)
        .orderBy("name_a", "name_b")
    )


_FUZZY_NAMES_SQL = """
WITH names AS (
  SELECT p_name, CAST(count(*) AS BIGINT) AS n FROM part GROUP BY p_name
), blocked AS (
  SELECT a.p_name AS name_a, b.p_name AS name_b,
         a.n AS n_a, b.n AS n_b
  FROM (SELECT p_name, n, string_split(p_name, ' ')[1] AS blk FROM names) a
  JOIN (SELECT p_name, n, string_split(p_name, ' ')[1] AS blk FROM names) b
    ON a.blk = b.blk AND a.p_name < b.p_name
  WHERE abs(length(a.p_name) - length(b.p_name)) <= 3
)
SELECT name_a, name_b,
       CAST(levenshtein(name_a, name_b) AS INTEGER) AS edit_dist,
       n_a, n_b
FROM blocked
WHERE levenshtein(name_a, name_b) <= 3
ORDER BY name_a, name_b
"""


def entity_resolution_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End of the entity-resolution story: fuzzy_name_pairs finds the
    match PAIRS; this query folds them into canonical ENTITIES —
    connected components over the match graph (graph.connected_components,
    the same partition-local union-find contraction that canonicalizes
    near-duplicate docs), labeled by the lexicographically-min member.
    Singleton names (no fuzzy match) stay their own entity via the nodes
    frame. Exports per-entity size, total row occurrences, and the
    ','-joined sorted member list (the canonical dict-serialization
    pattern, cross-engine-stable for ASCII names). Oracle: transitive
    closure by recursive CTE + min-reachable label — tiny on the
    collapsed name graph, which is the point: the quadratic/iterative
    work happens on DISTINCT names (64 at sf0.01), never on rows."""
    from vector_search_optimization_spark.operators import graph as GR

    p = load_table(spark, sf_dir, "part")
    names = p.groupBy("p_name").agg(F.count(F.lit(1)).alias("n"))
    pairs = fuzzy_name_pairs(spark, sf_dir)
    edges = pairs.select(F.col("name_a").alias("src"), F.col("name_b").alias("dst"))
    comp = GR.connected_components(
        edges, nodes=names.select(F.col("p_name").alias("pid"))
    )
    return (
        comp.join(names, comp.pid == names.p_name)
        .groupBy(F.col("component").alias("canonical_name"))
        .agg(
            F.count(F.lit(1)).alias("n_names"),
            F.sum("n").alias("n_rows"),
            F.array_join(F.array_sort(F.collect_list("p_name")), ",").alias(
                "members"
            ),
        )
        .orderBy("canonical_name")
    )


_ENTITY_CLUSTERS_SQL = """
WITH RECURSIVE names AS (
  SELECT p_name, CAST(count(*) AS BIGINT) AS n FROM part GROUP BY p_name
), blocked AS (
  SELECT a.p_name AS name_a, b.p_name AS name_b
  FROM (SELECT p_name, string_split(p_name, ' ')[1] AS blk FROM names) a
  JOIN (SELECT p_name, string_split(p_name, ' ')[1] AS blk FROM names) b
    ON a.blk = b.blk AND a.p_name < b.p_name
  WHERE abs(length(a.p_name) - length(b.p_name)) <= 3
    AND levenshtein(a.p_name, b.p_name) <= 3
), sym AS (
  SELECT name_a AS s, name_b AS d FROM blocked
  UNION SELECT name_b, name_a FROM blocked
), walk(a, b) AS (
  SELECT s, d FROM sym
  UNION
  SELECT w.a, s.d FROM walk w JOIN sym s ON w.b = s.s
), lbl AS (
  SELECT n.p_name,
         least(n.p_name, coalesce(min(w.b), n.p_name)) AS component
  FROM names n LEFT JOIN walk w ON w.a = n.p_name
  GROUP BY n.p_name
)
SELECT l.component AS canonical_name,
       count(*) AS n_names,
       CAST(sum(n.n) AS BIGINT) AS n_rows,
       string_agg(l.p_name, ',' ORDER BY l.p_name) AS members
FROM lbl l JOIN names n ON n.p_name = l.p_name
GROUP BY l.component
ORDER BY canonical_name
"""


# ---------------------------------------------------------------------------
# Winsorization (percentile clipping) per group
# ---------------------------------------------------------------------------


def evt_winsorized_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-type winsorized statistics (the outlier-robust preprocessing
    staple: clip values into the group's [p01, p99] before aggregating
    — M6/M7's detection turned into a transform): ONE exact-percentile
    aggregate per type (F.percentile ≡ DuckDB quantile_cont, the
    proven pair) broadcast-joined back onto the fact rows, map-side
    clip, then one combinable agg. Exports exact clip counts and the
    tie-free rounded sums of raw vs clipped values with means derived
    unrounded (decimal-tie rule); the percentile bounds round at 6dp
    (interpolated — irrational-adjacent, measure-zero tie risk)."""
    e = load_table(spark, sf_dir, "events").where(F.col("value").isNotNull())
    bounds = e.groupBy("event_type").agg(
        F.percentile("value", F.lit(0.01)).alias("p01"),
        F.percentile("value", F.lit(0.99)).alias("p99"),
    )
    j = e.join(F.broadcast(bounds), "event_type")
    clipped = F.least(F.greatest(F.col("value"), F.col("p01")), F.col("p99"))
    return (
        j.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.min("p01"), 6).alias("p01"),
            F.round(F.min("p99"), 6).alias("p99"),
            F.sum(
                F.when(F.col("value") < F.col("p01"), 1).otherwise(0)
            ).alias("n_clipped_low"),
            F.sum(
                F.when(F.col("value") > F.col("p99"), 1).otherwise(0)
            ).alias("n_clipped_high"),
            F.round(F.sum("value"), 2).alias("sum_raw"),
            F.round(F.sum(clipped), 4).alias("sum_winsorized"),
        )
        .select(
            "event_type", "n", "p01", "p99",
            "n_clipped_low", "n_clipped_high",
            "sum_raw", "sum_winsorized",
            (F.col("sum_winsorized") / F.col("n")).alias("mean_winsorized"),
        )
        .orderBy("event_type")
    )


_WINSOR_SQL = """
WITH e AS (SELECT event_type, value FROM events WHERE value IS NOT NULL),
b AS (
  SELECT event_type,
         quantile_cont(value, 0.01) AS p01,
         quantile_cont(value, 0.99) AS p99
  FROM e GROUP BY event_type
)
SELECT e.event_type,
       count(*) AS n,
       round(min(b.p01), 6) AS p01,
       round(min(b.p99), 6) AS p99,
       CAST(sum(CASE WHEN e.value < b.p01 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_clipped_low,
       CAST(sum(CASE WHEN e.value > b.p99 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_clipped_high,
       round(sum(e.value), 2) AS sum_raw,
       round(sum(least(greatest(e.value, b.p01), b.p99)), 4)
         AS sum_winsorized,
       round(sum(least(greatest(e.value, b.p01), b.p99)), 4) / count(*)
         AS mean_winsorized
FROM e JOIN b ON b.event_type = e.event_type
GROUP BY e.event_type
ORDER BY e.event_type
"""


# ---------------------------------------------------------------------------
# Association rules over order baskets (A-priori level 2)
# ---------------------------------------------------------------------------


def basket_brand_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise association rules over order baskets (the market-basket
    staple; baskets = the distinct part BRANDS in each order — 25
    brands keep the pair space C(25,2)-bounded and the counts dense):
    directional (antecedent → consequent) support / confidence / lift
    with n_ab >= 20. Plan: broadcast the part dim onto lineitem, ONE
    distinct (order, brand) pass (persisted — it feeds the totals and
    the pair self-join), self-join on
    the order key (fan-out bounded by brands-per-order², not order
    size), then two tiny broadcast-joined total frames. N rides as a
    1-row broadcast (r12: was a driver count — one whole extra job;
    guide §5). All ratio exports are DERIVED from exact
    integer counts by single IEEE divisions (decimal-tie rule) —
    ordering is on the string keys, never the floats."""
    li = load_table(spark, sf_dir, "lineitem")
    pt = load_table(spark, sf_dir, "part")
    bk = (
        li.select("l_orderkey", "l_partkey")
        .join(
            F.broadcast(pt.select("p_partkey", "p_brand")),
            li["l_partkey"] == pt["p_partkey"],
        )
        .select(F.col("l_orderkey").alias("o"), F.col("p_brand").alias("b"))
        .distinct()
        .persist()
    )
    # basket total as a 1-row broadcast instead of a driver count (r12:
    # guide §5 "the driver should do almost no data work" — the eager
    # count was a whole extra job; the crossJoin below is 1-row)
    nb = bk.agg(F.countDistinct("o").alias("__nn"))
    tot = bk.groupBy(F.col("b")).agg(F.count(F.lit(1)).alias("n_item"))
    a = bk.select(F.col("o"), F.col("b").alias("antecedent"))
    c = bk.select(F.col("o"), F.col("b").alias("consequent"))
    pairs = (
        a.join(c, "o")
        .where(F.col("antecedent") != F.col("consequent"))
        .groupBy("antecedent", "consequent")
        .agg(F.count(F.lit(1)).alias("n_ab"))
        .where(F.col("n_ab") >= 20)
    )
    ta = tot.select(
        F.col("b").alias("antecedent"), F.col("n_item").alias("n_antecedent")
    )
    tc = tot.select(
        F.col("b").alias("consequent"), F.col("n_item").alias("n_consequent")
    )
    return (
        pairs.join(F.broadcast(ta), "antecedent")
        .join(F.broadcast(tc), "consequent")
        .join(F.broadcast(nb))
        .select(
            "antecedent",
            "consequent",
            "n_ab",
            "n_antecedent",
            "n_consequent",
            (
                F.col("n_ab").cast("double") / F.col("__nn").cast("double")
            ).alias("support"),
            (
                F.col("n_ab").cast("double")
                / F.col("n_antecedent").cast("double")
            ).alias("confidence"),
            (
                (F.col("n_ab") * F.col("__nn")).cast("double")
                / (F.col("n_antecedent") * F.col("n_consequent")).cast(
                    "double"
                )
            ).alias("lift"),
        )
        .orderBy("antecedent", "consequent")
    )


_BASKET_RULES_SQL = """
WITH bk AS (
  SELECT DISTINCT l.l_orderkey AS o, p.p_brand AS b
  FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
), n AS (SELECT count(DISTINCT o) AS nn FROM bk),
tot AS (SELECT b, CAST(count(*) AS BIGINT) AS n_item FROM bk GROUP BY b),
pairs AS (
  SELECT a.b AS antecedent, c.b AS consequent,
         CAST(count(*) AS BIGINT) AS n_ab
  FROM bk a JOIN bk c ON a.o = c.o AND a.b <> c.b
  GROUP BY 1, 2
)
SELECT p.antecedent, p.consequent, p.n_ab,
       ta.n_item AS n_antecedent, tc.n_item AS n_consequent,
       CAST(p.n_ab AS DOUBLE) / CAST((SELECT nn FROM n) AS DOUBLE)
         AS support,
       CAST(p.n_ab AS DOUBLE) / CAST(ta.n_item AS DOUBLE) AS confidence,
       CAST(p.n_ab * (SELECT nn FROM n) AS DOUBLE)
         / CAST(ta.n_item * tc.n_item AS DOUBLE) AS lift
FROM pairs p
JOIN tot ta ON ta.b = p.antecedent
JOIN tot tc ON tc.b = p.consequent
WHERE p.n_ab >= 20
ORDER BY p.antecedent, p.consequent
"""


# ---------------------------------------------------------------------------
# NTILE equi-depth bucketing
# ---------------------------------------------------------------------------


def a17_ntile_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-depth quartiles of customer balance per market segment
    (NTILE — the A-family's missing bucketing shape: a10's histogram is
    equi-WIDTH; this is the rank-based equi-DEPTH cut). Order is pinned
    (acctbal, custkey) so the quartile boundary is engine-deterministic
    at duplicate balances. Exports the per-(segment, quartile) count +
    tie-free rounded balance sum with the mean derived unrounded."""
    c = load_table(spark, sf_dir, "customer")
    w = Window.partitionBy("c_mktsegment").orderBy("c_acctbal", "c_custkey")
    return (
        c.select(
            "c_mktsegment",
            "c_acctbal",
            F.ntile(4).over(w).alias("quartile"),
        )
        .groupBy("c_mktsegment", "quartile")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("c_acctbal"), 2).alias("sum_acctbal"),
        )
        .select(
            "c_mktsegment",
            "quartile",
            "n",
            "sum_acctbal",
            (F.col("sum_acctbal") / F.col("n")).alias("avg_acctbal"),
        )
        .orderBy("c_mktsegment", "quartile")
    )


_A17_NTILE_SQL = """
WITH q AS (
  SELECT c_mktsegment, c_acctbal,
         ntile(4) OVER (PARTITION BY c_mktsegment
                        ORDER BY c_acctbal, c_custkey) AS quartile
  FROM customer
)
SELECT c_mktsegment, quartile, count(*) AS n,
       round(sum(c_acctbal), 2) AS sum_acctbal,
       round(sum(c_acctbal), 2) / count(*) AS avg_acctbal
FROM q GROUP BY c_mktsegment, quartile
ORDER BY c_mktsegment, quartile
"""


# ---------------------------------------------------------------------------
# Anti join (TPC-H Q22 shape)
# ---------------------------------------------------------------------------


def j11_anti_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Customers with NO urgent-priority order, summarized per nation
    (the TPC-H Q22 / dormant-accounts shape; the registry's internal
    left_anti uses — dedup keep-sets, boilerplate line removal — get
    their own exercised surface here; the priority restriction keeps
    the result non-trivial — every synthetic customer has SOME order).
    Plan: the filter pushes into the orders scan, the anti-join hashes
    on the key; per-nation summary is one combinable agg. Balance
    exports as the tie-free rounded SUM + count with the mean DERIVED
    unrounded (decimal-tie rule)."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    inactive = c.join(
        o.where(F.col("o_orderpriority") == "1-URGENT").select(
            F.col("o_custkey").alias("c_custkey")
        ),
        "c_custkey",
        "left_anti",
    )
    return (
        inactive.groupBy("c_nationkey")
        .agg(
            F.count(F.lit(1)).alias("n_inactive"),
            F.round(F.sum("c_acctbal"), 2).alias("sum_acctbal"),
        )
        .select(
            "c_nationkey",
            "n_inactive",
            "sum_acctbal",
            (F.col("sum_acctbal") / F.col("n_inactive")).alias(
                "avg_acctbal"
            ),
        )
        .orderBy("c_nationkey")
    )


_J11_ANTI_SQL = """
SELECT c_nationkey,
       count(*) AS n_inactive,
       round(sum(c_acctbal), 2) AS sum_acctbal,
       round(sum(c_acctbal), 2) / count(*) AS avg_acctbal
FROM customer c
WHERE NOT EXISTS (SELECT 1 FROM orders o
                  WHERE o.o_custkey = c.c_custkey
                    AND o.o_orderpriority = '1-URGENT')
GROUP BY c_nationkey
ORDER BY c_nationkey
"""


# ---------------------------------------------------------------------------
# Hashing-trick featurizer (HashingTF shape, oracle-computable hash)
# ---------------------------------------------------------------------------


def text_hashing_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hashed bag-of-words over documents (the no-vocabulary, no-fit
    featurizer — MLlib HashingTF's shape with the engine's shared
    poly-hash so every bucket is recomputable in SQL): 64 buckets,
    canonical sorted bucket:count CSV per doc. Map-only (one Arrow
    pass, zero shuffle — plan-pinned)."""
    from vector_search_optimization_spark.operators import features as FE

    d = load_table(spark, sf_dir, "documents")
    return FE.hashing_trick_features(d).orderBy("doc_id")


def _hashing_features_sql() -> str:
    poly = _POLY_SQL.format(s="tok", base=TX.POLY_BASE)
    return rf"""
WITH toks AS (
  SELECT doc_id,
         unnest(list_filter(string_split_regex(lower(trim(text)), '\s+'),
                            t -> t <> '')) AS tok
  FROM documents
), b AS (
  SELECT doc_id, ({poly}) % 64 AS bucket FROM toks
), per_b AS (
  SELECT doc_id, bucket, count(*) AS c FROM b GROUP BY doc_id, bucket
)
SELECT doc_id,
       CAST(count(*) AS BIGINT) AS n_buckets,
       CAST(sum(c) AS BIGINT) AS n_tokens,
       string_agg(CAST(bucket AS VARCHAR) || ':' || CAST(c AS VARCHAR),
                  ',' ORDER BY bucket) AS features
FROM per_b GROUP BY doc_id ORDER BY doc_id
"""


# ---------------------------------------------------------------------------
# RANGE-frame trailing window (time-based, not row-based)
# ---------------------------------------------------------------------------


def evt_trailing_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-event trailing-hour activity (the rate-limiter / velocity-
    feature staple): for every event, how many events and how much
    value the SAME user produced in the preceding 3600 seconds —
    a RANGE frame over event-time seconds (W-family shape the
    row-based windows don't cover: peers at the same timestamp all see
    the full peer group, and gaps wider than the horizon contribute
    nothing). ONE user-keyed shuffle; within each partition the frame
    is a sliding two-pointer over the sorted events — no self-join, no
    spine. The trailing sum exports as the tie-free rounded SUM
    (decimal-mean rule); n_1h is exact."""
    e = load_table(spark, sf_dir, "events")
    sec = F.unix_timestamp(F.col("ts"))
    w = (
        Window.partitionBy("user_id")
        .orderBy(sec)
        .rangeBetween(-3600, Window.currentRow)
    )
    return e.select(
        "event_id",
        "user_id",
        F.count(F.lit(1)).over(w).alias("n_1h"),
        F.round(F.sum("value").over(w), 2).alias("sum_value_1h"),
    ).orderBy("event_id")


_EVT_TRAILING_SQL = """
SELECT event_id, user_id,
       count(*) OVER w AS n_1h,
       round(sum(value) OVER w, 2) AS sum_value_1h
FROM (SELECT event_id, user_id, value, floor(epoch(ts)) AS sec FROM events)
WINDOW w AS (PARTITION BY user_id ORDER BY sec
             RANGE BETWEEN 3600 PRECEDING AND CURRENT ROW)
ORDER BY event_id
"""


# ---------------------------------------------------------------------------
# One-pass table profiling + CUBE report
# ---------------------------------------------------------------------------


def table_profile_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deequ-style column profiling (the discovery step before
    dq_constraints can be written): null count, EXACT distinct count,
    min and max for six orders columns in ONE aggregation pass — Spark
    plans the multi-column distinct aggregates as a single Expand +
    partial/final aggregate, so the scan happens once and the shuffle
    carries tiny partial states (×columns row expansion map-side, the
    documented cost of exactness). At 100 TB the distinct counters swap
    to approx_count_distinct (HLL partials, no Expand) — the profile
    shape and this query's contract are unchanged; exact is kept here
    because the oracle hash needs exact values. Numeric min/max compute
    numerically and export as strings so one stacked schema fits every
    column (prices canonicalized to integer cents first; timestamps via
    the proven date_format string form, whose fixed layout makes string
    min/max chronological)."""
    o = load_table(spark, sf_dir, "orders")
    # spread BEFORE the 7-way Expand + 25-aggregate partial pass: on the
    # unsplittable single-row-group scan that whole map stage ran as ONE
    # task (3.8 s warm at sf0.1; guide §2.5). Partial aggregation states
    # (counts, distinct partials, min/max) merge associatively, so the
    # result is unchanged.
    base = spread_scan(
        o.select(
            "o_orderkey",
            "o_custkey",
            "o_orderstatus",
            F.round(F.col("o_totalprice") * 100).cast("long").alias(
                "price_cents"
            ),
            F.date_format("o_orderdate", "yyyy-MM-dd HH:mm:ss").alias(
                "odate"
            ),
            "o_orderpriority",
        ),
        "o_orderkey",
    )
    cols = base.columns
    aggs = [F.count(F.lit(1)).alias("n_rows")]
    for c in cols:
        aggs += [
            F.sum(F.when(F.col(c).isNull(), 1).otherwise(0))
            .cast("long")
            .alias(f"{c}__nn"),
            F.count_distinct(F.col(c)).alias(f"{c}__nd"),
            F.min(c).cast("string").alias(f"{c}__min"),
            F.max(c).cast("string").alias(f"{c}__max"),
        ]
    wide = base.agg(*aggs)
    stack_args = ", ".join(
        f"'{c}', {c}__nn, {c}__nd, {c}__min, {c}__max" for c in cols
    )
    return wide.select(
        "n_rows",
        F.expr(
            f"stack({len(cols)}, {stack_args}) AS "
            "(column_name, n_null, n_distinct, min_value, max_value)"
        ),
    ).select(
        "column_name", "n_rows", "n_null", "n_distinct",
        "min_value", "max_value",
    ).orderBy("column_name")


def _table_profile_sql() -> str:
    cols = [
        "o_orderkey",
        "o_custkey",
        "o_orderstatus",
        "price_cents",
        "odate",
        "o_orderpriority",
    ]
    selects = [
        f"""SELECT '{c}' AS column_name,
       (SELECT count(*) FROM base) AS n_rows,
       CAST(sum(CASE WHEN {c} IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_null,
       CAST(count(DISTINCT {c}) AS BIGINT) AS n_distinct,
       CAST(min({c}) AS VARCHAR) AS min_value,
       CAST(max({c}) AS VARCHAR) AS max_value
FROM base"""
        for c in cols
    ]
    return (
        """WITH base AS (
  SELECT o_orderkey, o_custkey, o_orderstatus,
         CAST(round(o_totalprice * 100) AS BIGINT) AS price_cents,
         strftime(o_orderdate, '%Y-%m-%d %H:%M:%S') AS odate,
         o_orderpriority
  FROM orders
)
"""
        + "\nUNION ALL\n".join(selects)
        + "\nORDER BY column_name"
    )


def evt_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE report (the grouping-sets shape evt_rollup's ROLLUP doesn't
    cover): per-(event_type, hour-of-day) cells plus BOTH marginals and
    the grand total in ONE Expand + aggregate pass — four report levels,
    one shuffle of combinable partials. grouping_level uses the pinned
    Spark↔DuckDB bit mapping (GROUPING(event_type)*2 +
    GROUPING(hod)). The carried metric is the tie-free rounded SUM
    (decimal-mean rule)."""
    e = load_table(spark, sf_dir, "events")
    cells = e.select("event_type", F.hour("ts").alias("hod"), "value")
    return (
        cells.cube("event_type", "hod")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("value"), 2).alias("sum_value"),
            F.grouping_id().alias("grouping_level"),
        )
        .select("event_type", "hod", "n", "sum_value", "grouping_level")
    )


_EVT_CUBE_SQL = """
WITH cells AS (
  SELECT event_type, CAST(date_part('hour', ts) AS INTEGER) AS hod, value
  FROM events
)
SELECT event_type, hod,
       count(*) AS n, round(sum(value), 2) AS sum_value,
       CAST(GROUPING(event_type) * 2 + GROUPING(hod) AS BIGINT)
         AS grouping_level
FROM cells
GROUP BY CUBE(event_type, hod)
"""


def evt_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit (non-hierarchical) GROUPING SETS — the general Expand
    form that CUBE (evt_cube) and ROLLUP (evt_rollup) are special cases
    of: four hand-picked report levels — per-type, per-hour,
    per-(type, day-of-week), and the grand total — in ONE Expand +
    aggregate pass. The set list is deliberately NOT a lattice: (hod)
    appears without (event_type, hod), which neither CUBE nor ROLLUP
    can express. grouping_level uses the pinned bit mapping
    (GROUPING(a)*4 + GROUPING(b)*2 + GROUPING(c) == Spark
    grouping_id()); day-of-week is the epoch-day mod 7 integer (no
    date-locale semantics cross engines); the metric is the tie-free
    rounded SUM + count."""
    load_table(spark, sf_dir, "events").createOrReplaceTempView("gs_events")
    return spark.sql("""
        WITH cells AS (
          SELECT event_type, hour(ts) AS hod,
                 (unix_timestamp(ts) div 86400) % 7 AS dow_idx, value
          FROM gs_events
        )
        SELECT event_type, hod, dow_idx,
               count(*) AS n, round(sum(value), 2) AS sum_value,
               grouping_id() AS grouping_level
        FROM cells
        GROUP BY GROUPING SETS ((event_type), (hod), (event_type, dow_idx), ())
    """)


_EVT_GROUPING_SETS_SQL = """
WITH cells AS (
  SELECT event_type, CAST(date_part('hour', ts) AS INTEGER) AS hod,
         (CAST(floor(epoch(ts)) AS BIGINT) // 86400) % 7 AS dow_idx, value
  FROM events
)
SELECT event_type, hod, dow_idx,
       count(*) AS n, round(sum(value), 2) AS sum_value,
       CAST(GROUPING(event_type) * 4 + GROUPING(hod) * 2
            + GROUPING(dow_idx) AS BIGINT) AS grouping_level
FROM cells
GROUP BY GROUPING SETS ((event_type), (hod), (event_type, dow_idx), ())
"""


def a19_percent_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """percent_rank + cume_dist — the two relative-position window
    functions the suite didn't yet exercise (W-family completeness next
    to rank/dense_rank/ntile/row_number): per-segment customer balance
    percentiles. Both are exact integer ratios ((rank−1)/(n−1) and
    rows≤current/n) over the UNIQUE (cents, custkey) order, so the
    doubles export unrounded and bit-identical — no rounding, no ties.
    One segment-keyed window shuffle."""
    c = load_table(spark, sf_dir, "customer")
    base = c.select(
        "c_mktsegment",
        "c_custkey",
        F.round(F.col("c_acctbal") * 100).cast("long").alias("bal_c"),
    )
    w = Window.partitionBy("c_mktsegment").orderBy("bal_c", "c_custkey")
    return base.select(
        "c_mktsegment",
        "c_custkey",
        "bal_c",
        F.percent_rank().over(w).alias("pct_rank"),
        F.cume_dist().over(w).alias("cume_dist"),
    ).orderBy("c_mktsegment", "c_custkey")


_A19_PERCENT_RANK_SQL = """
WITH base AS (
  SELECT c_mktsegment, c_custkey,
         CAST(round(c_acctbal*100) AS BIGINT) AS bal_c
  FROM customer
)
SELECT c_mktsegment, c_custkey, bal_c,
       percent_rank() OVER w AS pct_rank,
       cume_dist() OVER w AS cume_dist
FROM base
WINDOW w AS (PARTITION BY c_mktsegment ORDER BY bal_c, c_custkey)
ORDER BY c_mktsegment, c_custkey
"""


# ---------------------------------------------------------------------------
# r7 additions: trend/audit/curation analytics
# ---------------------------------------------------------------------------


def evt_mann_kendall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mann-Kendall monotonic-trend test per event type — the standard
    nonparametric "is this metric drifting" statistic (Mann '45,
    Kendall '75): S = Σ_{i<j} sign(v_j − v_i) over the daily value
    series. Chosen over Theil-Sen for the export because S is an EXACT
    INTEGER — a pairwise-slope median is a rational with real
    cross-engine rounding-tie risk (the decimal-mean rule), while sign
    comparisons on identically rounded daily sums are bit-portable.
    (evt_theil_sen_slope now DOES export that median, tie-proofed as an
    exact rational numerator/denominator pair.)

    Plan: ONE combinable (type, day) aggregate over events (the only
    pass over the fact table — persisted), then a
    per-type self-join on the daily series. Pair volume is |days|² per
    type — bounded by the CALENDAR, not by event count, so at 100 TB
    the join input is ~(types × years × 365) rows regardless of event
    volume. kendall_tau derives unrounded from the two exact integers.
    Daily sums round 2dp pre-comparison (tie-free for decimal data) so
    both engines compare identical doubles."""
    e = load_table(spark, sf_dir, "events").where(F.col("value").isNotNull())
    day = TS.epoch_day("ts")
    daily = (
        e.groupBy(F.col("event_type"), day.alias("day_idx"))
        .agg(F.round(F.sum("value"), 2).alias("v"))
        .persist()
    )
    a = daily.select(
        "event_type", F.col("day_idx").alias("d1"), F.col("v").alias("v1")
    )
    b = daily.select(
        "event_type", F.col("day_idx").alias("d2"), F.col("v").alias("v2")
    )
    pr = (
        a.join(b, "event_type")
        .where(F.col("d1") < F.col("d2"))
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_pairs"),
            F.sum(F.signum(F.col("v2") - F.col("v1")))
            .cast("long")
            .alias("s_stat"),
        )
    )
    nd = daily.groupBy("event_type").agg(F.count(F.lit(1)).alias("n_days"))
    return (
        nd.join(pr, "event_type", "left")
        .select(
            "event_type",
            "n_days",
            F.coalesce(F.col("n_pairs"), F.lit(0).cast("long")).alias(
                "n_pairs"
            ),
            F.coalesce(F.col("s_stat"), F.lit(0).cast("long")).alias(
                "s_stat"
            ),
            F.when(
                F.col("n_pairs") > 0,
                F.col("s_stat").cast("double") / F.col("n_pairs"),
            ).alias("kendall_tau"),
        )
        .orderBy("event_type")
    )


_MANN_KENDALL_SQL = """
WITH daily AS (
  SELECT event_type,
         CAST(floor(floor(epoch(ts)) / 86400.0) AS BIGINT) AS day_idx,
         round(sum(value), 2) AS v
  FROM events WHERE value IS NOT NULL
  GROUP BY 1, 2
), pr AS (
  SELECT a.event_type,
         CAST(count(*) AS BIGINT) AS n_pairs,
         CAST(sum(sign(b.v - a.v)) AS BIGINT) AS s_stat
  FROM daily a JOIN daily b
    ON a.event_type = b.event_type AND a.day_idx < b.day_idx
  GROUP BY 1
), nd AS (
  SELECT event_type, CAST(count(*) AS BIGINT) AS n_days
  FROM daily GROUP BY 1
)
SELECT nd.event_type, nd.n_days,
       coalesce(pr.n_pairs, 0) AS n_pairs,
       coalesce(pr.s_stat, 0) AS s_stat,
       CASE WHEN pr.n_pairs > 0
            THEN CAST(pr.s_stat AS DOUBLE) / pr.n_pairs END AS kendall_tau
FROM nd LEFT JOIN pr USING (event_type)
ORDER BY nd.event_type
"""


def orders_benford_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford first-digit conformance audit over order totals — the
    classic forensic-accounting / synthetic-data smell test: natural
    multi-scale amounts follow P(d) = log10(1 + 1/d); a uniform or
    manufactured price column does not, and the per-digit chi-square
    contributions localize WHERE it breaks. First digits come from the
    exact integer cents via the integer's string form (integer→string
    is engine-portable; floor(log10(x)) can flip at powers of ten on a
    last-ulp libm difference), and the nine expected probabilities are
    repr-exact shared literals (operators/validation.py:BENFORD_P) so
    both engines run bit-identical IEEE arithmetic — every float export
    here is therefore unrounded. Plan: one map-side projection + one
    9-key combinable aggregate + a literal 9-row universe join — a
    single fact-table pass at any scale."""
    o = load_table(spark, sf_dir, "orders")
    cents = F.round(F.col("o_totalprice") * 100).cast("long")
    obs = (
        o.select(DQV.first_significant_digit(cents).alias("digit"))
        .groupBy("digit")
        .agg(F.count(F.lit(1)).alias("n_obs"))
    )
    universe = spark.range(1, 10).select(F.col("id").cast("int").alias("digit"))
    tot = o.agg(F.count(F.lit(1)).alias("n_total"))
    exp_p = DQV.benford_expected(F.col("digit"))
    delta = F.col("n_obs") - F.col("n_total") * exp_p
    return (
        universe.join(obs, "digit", "left")
        .select(
            "digit", F.coalesce(F.col("n_obs"), F.lit(0).cast("long")).alias("n_obs")
        )
        .join(F.broadcast(tot))
        .select(
            "digit",
            "n_obs",
            "n_total",
            (F.col("n_obs").cast("double") / F.col("n_total")).alias("obs_p"),
            exp_p.alias("exp_p"),
            ((delta * delta) / (F.col("n_total") * exp_p)).alias("chi2_term"),
        )
        .orderBy("digit")
    )


_BENFORD_SQL = f"""
WITH obs AS (
  SELECT CAST(substr(CAST(CAST(round(o_totalprice * 100) AS BIGINT) AS VARCHAR), 1, 1) AS INTEGER) AS digit,
         CAST(count(*) AS BIGINT) AS n_obs
  FROM orders GROUP BY 1
), u AS (
  SELECT CAST(range AS INTEGER) AS digit FROM range(1, 10)
), tot AS (
  SELECT CAST(count(*) AS BIGINT) AS n_total FROM orders
)
SELECT u.digit, coalesce(obs.n_obs, 0) AS n_obs, tot.n_total,
       CAST(coalesce(obs.n_obs, 0) AS DOUBLE) / tot.n_total AS obs_p,
       {DQV.benford_expected_sql('u.digit')} AS exp_p,
       ((coalesce(obs.n_obs, 0) - tot.n_total * {DQV.benford_expected_sql('u.digit')})
        * (coalesce(obs.n_obs, 0) - tot.n_total * {DQV.benford_expected_sql('u.digit')}))
       / (tot.n_total * {DQV.benford_expected_sql('u.digit')}) AS chi2_term
FROM u LEFT JOIN obs USING (digit) CROSS JOIN tot
ORDER BY u.digit
"""


def vocab_growth_heaps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary-growth (Heaps'-law) audit: corpus docs are cut into 10
    equal doc-id deciles and, per decile, the audit reports document /
    token volume plus how many NEW word types first appear there —
    the curation signal for "is this source still contributing novel
    vocabulary or just repeating itself" (the empirical V(n) ∝ n^β
    curve; β ≈ ln V / ln N is exported per decile). All counts are
    exact integers; the β estimate is a ratio of logs of those integers
    (irrational — 6dp rounding is tie-free).

    Plan: token explode (map-side) → TWO combinable shuffles (per-token
    min doc_id; per-bucket token totals) + a 1-row bounds broadcast;
    the cumulative pass is a window over exactly 10 rows. First
    occurrence as min(doc_id) is a combinable aggregate — no global
    sort, no sequential scan, so the "growth curve" computes at any
    corpus size."""
    d = load_table(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id",
        F.explode(
            F.filter(
                F.split(F.lower(F.trim(F.col("text"))), r"\s+"),
                lambda t: t != "",
            )
        ).alias("w"),
    )
    bounds = d.agg(
        F.min("doc_id").alias("mn"), F.max("doc_id").alias("mx")
    )

    def bucket_of(idc: F.Column) -> F.Column:
        return F.least(
            F.lit(9).cast("long"),
            F.floor(
                (idc - F.col("mn")) * F.lit(10.0)
                / (F.col("mx") - F.col("mn") + F.lit(1))
            ).cast("long"),
        )

    docs_b = (
        d.join(F.broadcast(bounds))
        .groupBy(bucket_of(F.col("doc_id")).alias("bucket"))
        .agg(F.count(F.lit(1)).alias("n_docs"))
    )
    toks_b = (
        toks.join(F.broadcast(bounds))
        .groupBy(bucket_of(F.col("doc_id")).alias("bucket"))
        .agg(F.count(F.lit(1)).alias("n_tokens"))
    )
    first = toks.groupBy("w").agg(F.min("doc_id").alias("fd"))
    new_b = (
        first.join(F.broadcast(bounds))
        .groupBy(bucket_of(F.col("fd")).alias("bucket"))
        .agg(F.count(F.lit(1)).alias("new_types"))
    )
    universe = spark.range(0, 10).select(F.col("id").alias("bucket"))
    base = (
        universe.join(docs_b, "bucket", "left")
        .join(toks_b, "bucket", "left")
        .join(new_b, "bucket", "left")
        .select(
            "bucket",
            F.coalesce(F.col("n_docs"), F.lit(0).cast("long")).alias("n_docs"),
            F.coalesce(F.col("n_tokens"), F.lit(0).cast("long")).alias(
                "n_tokens"
            ),
            F.coalesce(F.col("new_types"), F.lit(0).cast("long")).alias(
                "new_types"
            ),
        )
    )
    w = Window.orderBy("bucket").rowsBetween(Window.unboundedPreceding, 0)
    cum_tok = F.sum("n_tokens").over(w)
    cum_typ = F.sum("new_types").over(w)
    return base.select(
        "bucket",
        "n_docs",
        "n_tokens",
        "new_types",
        cum_tok.alias("cum_tokens"),
        cum_typ.alias("cum_types"),
        F.round(
            F.when(
                (cum_tok > 1) & (cum_typ > 0),
                F.log(cum_typ.cast("double")) / F.log(cum_tok.cast("double")),
            ),
            6,
        ).alias("heaps_beta"),
    ).orderBy("bucket")


_VOCAB_GROWTH_SQL = r"""
WITH tok AS (
  SELECT doc_id,
         unnest(list_filter(string_split_regex(lower(trim(text)), '\s+'),
                            t -> t <> '')) AS w
  FROM documents
), b AS (
  SELECT min(doc_id) AS mn, max(doc_id) AS mx FROM documents
), docs_b AS (
  SELECT least(9, CAST(floor((doc_id - b.mn) * 10.0 / (b.mx - b.mn + 1)) AS BIGINT)) AS bucket,
         CAST(count(*) AS BIGINT) AS n_docs
  FROM documents CROSS JOIN b GROUP BY 1
), toks_b AS (
  SELECT least(9, CAST(floor((doc_id - b.mn) * 10.0 / (b.mx - b.mn + 1)) AS BIGINT)) AS bucket,
         CAST(count(*) AS BIGINT) AS n_tokens
  FROM tok CROSS JOIN b GROUP BY 1
), first AS (
  SELECT w, min(doc_id) AS fd FROM tok GROUP BY w
), new_b AS (
  SELECT least(9, CAST(floor((fd - b.mn) * 10.0 / (b.mx - b.mn + 1)) AS BIGINT)) AS bucket,
         CAST(count(*) AS BIGINT) AS new_types
  FROM first CROSS JOIN b GROUP BY 1
), u AS (
  SELECT CAST(range AS BIGINT) AS bucket FROM range(0, 10)
), base AS (
  SELECT u.bucket,
         coalesce(docs_b.n_docs, 0) AS n_docs,
         coalesce(toks_b.n_tokens, 0) AS n_tokens,
         coalesce(new_b.new_types, 0) AS new_types
  FROM u LEFT JOIN docs_b USING (bucket)
         LEFT JOIN toks_b USING (bucket)
         LEFT JOIN new_b USING (bucket)
), cum AS (
  SELECT bucket, n_docs, n_tokens, new_types,
         CAST(sum(n_tokens) OVER w AS BIGINT) AS cum_tokens,
         CAST(sum(new_types) OVER w AS BIGINT) AS cum_types
  FROM base
  WINDOW w AS (ORDER BY bucket ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
)
SELECT bucket, n_docs, n_tokens, new_types, cum_tokens, cum_types,
       round(CASE WHEN cum_tokens > 1 AND cum_types > 0
                  THEN ln(CAST(cum_types AS DOUBLE)) / ln(CAST(cum_tokens AS DOUBLE))
             END, 6) AS heaps_beta
FROM cum ORDER BY bucket
"""


def doc_bigram_lm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interpolated BIGRAM language-model scoring — the KenLM-shaped
    curation signal one order above lm_quality_scores' unigram:
    p(w2|w1) = 0.75·c(w1,w2)/c(w1) + 0.25·(c(w2)+1)/(N+V)
    (Jelinek-Mercer interpolation onto the add-one unigram floor).
    Word-salad and shuffled/templated text score high even when its
    unigram distribution looks natural — exactly the spam class the
    unigram filter misses. Train = two combinable groupBys (unigram +
    bigram counts); score = equi-joins on the pair/word keys + one
    combinable per-doc agg (operators/lm_quality.py:train_bigram_lm,
    bigram_surprisal). The corpus is tokenized ONCE into a persisted
    (doc_id, toks) frame that feeds all three consumers — unigram
    train, bigram train, and scoring (was 3 full tokenization passes;
    VERDICT r7 item 3). At 100 TB the model truncates to top-K bigrams
    (``model_top_k``) and ships as a broadcast, the tail collapsing
    into the unigram backoff — the same contract as the unigram
    scorer's vocab_top_k. Docs with <2 tokens export n_bigrams=0 and a
    NULL score (the word-entropy NULL convention)."""
    from vector_search_optimization_spark.operators import lm_quality as LM

    d = load_table(spark, sf_dir, "documents")
    # spread before the persisted tokenization: the cache FILL otherwise
    # runs on the unsplittable scan's one task (guide §2.5), and all
    # three consumers then read a 1-partition cache
    toks = (
        spread_scan(d.select("doc_id", "text"), "doc_id")
        .select("doc_id", LM.tokenize("text").alias("toks"))
        .persist()
    )
    vocab = LM.train_unigram_lm(toks, tokens_col="toks")
    bi = LM.train_bigram_lm(toks, tokens_col="toks")
    sc = LM.bigram_surprisal(toks, bi, vocab, tokens_col="toks")
    return (
        d.select("doc_id")
        .join(sc, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce(F.col("n_bigrams"), F.lit(0).cast("long")).alias(
                "n_bigrams"
            ),
            F.round(F.col("avg_bigram_nll"), 4).alias("avg_bigram_nll"),
        )
        .orderBy("doc_id")
    )


_BIGRAM_LM_SQL = r"""
WITH tok AS (
  SELECT doc_id, list_filter(string_split_regex(text, '\s+'), s -> s <> '') AS t
  FROM documents
), utok AS (
  SELECT unnest(t) AS word FROM tok
), uni AS (
  SELECT word, CAST(count(*) AS BIGINT) AS cnt FROM utok GROUP BY word
), tot AS (
  SELECT CAST(sum(cnt) AS DOUBLE) AS n_total,
         CAST(count(*) AS DOUBLE) AS v_size
  FROM uni
), bg AS (
  SELECT doc_id, p[1] AS w1, p[2] AS w2
  FROM (SELECT doc_id, unnest(list_zip(t[1:len(t) - 1], t[2:len(t)])) AS p
        FROM tok WHERE len(t) >= 2)
), bic AS (
  SELECT w1, w2, CAST(count(*) AS BIGINT) AS c2 FROM bg GROUP BY w1, w2
), scored AS (
  SELECT bg.doc_id,
         -ln(0.75 * (CASE WHEN u1.cnt IS NOT NULL
                          THEN CAST(coalesce(bic.c2, 0) AS DOUBLE) / CAST(u1.cnt AS DOUBLE)
                          ELSE 0.0 END)
             + 0.25 * (CAST(coalesce(u2.cnt, 0) + 1 AS DOUBLE) / (tot.n_total + tot.v_size))) AS nll
  FROM bg LEFT JOIN bic USING (w1, w2)
          LEFT JOIN uni u1 ON u1.word = bg.w1
          LEFT JOIN uni u2 ON u2.word = bg.w2
          CROSS JOIN tot
), per_doc AS (
  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
         round(avg(nll), 4) AS avg_bigram_nll
  FROM scored GROUP BY doc_id
)
SELECT d.doc_id,
       coalesce(p.n_bigrams, 0) AS n_bigrams,
       p.avg_bigram_nll
FROM documents d LEFT JOIN per_doc p USING (doc_id)
ORDER BY d.doc_id
"""


def split_leakage_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-split contamination audit: the train/val/test assignment
    (the SAME multiplicative-hash split as split_assign, 98/1/1) joined
    onto the EXACT-threshold near-dup pair set (PPJoin word-3-shingle
    Jaccard >= 0.5, dedup.jaccard_similarity_join — no false
    negatives, so a zero here is a guarantee, not a sample estimate).
    A near-dup pair straddling train and a holdout split is eval
    leakage — the decontamination number that must be 0 before a
    benchmark score means anything (same failure class as
    decontaminate_overlap, but within-corpus between splits). Exports
    the full 6-cell split-pair matrix (literal universe, zero-filled)
    plus the overall cross-split fraction derived from exact counts.
    Scale story = the PPJoin contract (prefix-filtered equi-join, no
    all-pairs) + a pure-projection split hash: adds two map-side
    projections and one 6-key aggregate to the dedup plan."""
    d = load_table(spark, sf_dir, "documents")
    pairs = dedup.jaccard_similarity_join(d)

    def split_of(idc: F.Column) -> F.Column:
        h = F.pmod(idc * F.lit(_SPLIT_A) + F.lit(_SPLIT_B), F.lit(1000))
        return (
            F.when(h < 980, "train").when(h < 990, "val").otherwise("test")
        )

    def rank_of(s: F.Column) -> F.Column:
        return F.when(s == "train", 0).when(s == "val", 1).otherwise(2)

    sa, sb = split_of(F.col("id_a")), split_of(F.col("id_b"))
    sp = pairs.select(
        F.when(rank_of(sa) <= rank_of(sb), sa).otherwise(sb).alias(
            "split_lo"
        ),
        F.when(rank_of(sa) <= rank_of(sb), sb).otherwise(sa).alias(
            "split_hi"
        ),
    )
    # persisted (r12): `filled` feeds BOTH the totals aggregate and the
    # final select — without this ≤6-row cache the whole verify join
    # (cand ⋈ sets ⋈ sets + jaccard filter) re-executes for the totals
    # branch (guide §5 caching rule: reused AND expensive upstream)
    counts = (
        sp.groupBy("split_lo", "split_hi")
        .agg(F.count(F.lit(1)).alias("n_pairs"))
        .persist()
    )
    universe = spark.createDataFrame(
        [
            ("train", "train"),
            ("train", "val"),
            ("train", "test"),
            ("val", "val"),
            ("val", "test"),
            ("test", "test"),
        ],
        "split_lo string, split_hi string",
    )
    filled = universe.join(counts, ["split_lo", "split_hi"], "left").select(
        "split_lo",
        "split_hi",
        F.coalesce(F.col("n_pairs"), F.lit(0).cast("long")).alias("n_pairs"),
        (F.col("split_lo") != F.col("split_hi")).alias("is_cross"),
    )
    tot = filled.agg(
        F.sum("n_pairs").alias("total_pairs"),
        F.sum(F.when(F.col("is_cross"), F.col("n_pairs")).otherwise(0)).alias(
            "cross_pairs"
        ),
    )
    return (
        filled.join(F.broadcast(tot))
        .select(
            "split_lo",
            "split_hi",
            "n_pairs",
            "is_cross",
            "total_pairs",
            "cross_pairs",
            F.when(
                F.col("total_pairs") > 0,
                F.col("cross_pairs").cast("double") / F.col("total_pairs"),
            ).alias("cross_fraction"),
        )
        .orderBy("split_lo", "split_hi")
    )


_SPLIT_LEAKAGE_SQL = (
    _MINHASH_SHINGLE_SQL.format(n=3, nm1=2)
    + _JACCARD_HS_JP
    + f""", vp AS (
  SELECT id_a, id_b FROM jp WHERE round(i / (t - i), 6) >= 0.5
), labeled AS (
  SELECT CASE WHEN (id_a * {_SPLIT_A} + {_SPLIT_B}) % 1000 < 980 THEN 'train'
              WHEN (id_a * {_SPLIT_A} + {_SPLIT_B}) % 1000 < 990 THEN 'val'
              ELSE 'test' END AS sa,
         CASE WHEN (id_b * {_SPLIT_A} + {_SPLIT_B}) % 1000 < 980 THEN 'train'
              WHEN (id_b * {_SPLIT_A} + {_SPLIT_B}) % 1000 < 990 THEN 'val'
              ELSE 'test' END AS sb
  FROM vp
), ranked AS (
  SELECT sa, sb,
         CASE sa WHEN 'train' THEN 0 WHEN 'val' THEN 1 ELSE 2 END AS ra,
         CASE sb WHEN 'train' THEN 0 WHEN 'val' THEN 1 ELSE 2 END AS rb
  FROM labeled
), sp AS (
  SELECT CASE WHEN ra <= rb THEN sa ELSE sb END AS split_lo,
         CASE WHEN ra <= rb THEN sb ELSE sa END AS split_hi
  FROM ranked
), cnt AS (
  SELECT split_lo, split_hi, CAST(count(*) AS BIGINT) AS n_pairs
  FROM sp GROUP BY 1, 2
), u AS (
  SELECT * FROM (VALUES ('train', 'train'), ('train', 'val'),
                        ('train', 'test'), ('val', 'val'),
                        ('val', 'test'), ('test', 'test')) t(split_lo, split_hi)
), filled AS (
  SELECT u.split_lo, u.split_hi,
         coalesce(cnt.n_pairs, 0) AS n_pairs,
         u.split_lo <> u.split_hi AS is_cross
  FROM u LEFT JOIN cnt USING (split_lo, split_hi)
), tot AS (
  SELECT CAST(sum(n_pairs) AS BIGINT) AS total_pairs,
         CAST(sum(CASE WHEN is_cross THEN n_pairs ELSE 0 END) AS BIGINT)
           AS cross_pairs
  FROM filled
)
SELECT f.split_lo, f.split_hi, f.n_pairs, f.is_cross,
       tot.total_pairs, tot.cross_pairs,
       CASE WHEN tot.total_pairs > 0
            THEN CAST(tot.cross_pairs AS DOUBLE) / tot.total_pairs
       END AS cross_fraction
FROM filled f CROSS JOIN tot
ORDER BY f.split_lo, f.split_hi
"""
)


def evt_value_auc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact ROC-AUC of the event `value` as a classifier for
    purchase-vs-other — the Mann-Whitney rank statistic every
    quality-score / spam-score / probe evaluation needs, computed
    WITHOUT sorting rows: AUC is piecewise-constant in the score, so it
    is a function of the (score → class counts) grid alone
    (operators/ranking_stats.exact_auc_by_grid). One combinable groupBy
    over events builds the grid (≤ |price lattice| cells — the 2dp
    money column bounds it independent of row count); the cumulative
    pass runs over grid CELLS. Ties get the standard half-credit
    exactly, because tied rows share a cell — no engine tie-break
    anywhere. auc_num2 is the DOUBLED numerator in exact integers
    (ANSI-loud on overflow; DECIMAL(38) is the documented widening at
    pair-products beyond BIGINT); auc derives unrounded from the three
    exact integers."""
    e = load_table(spark, sf_dir, "events").where(F.col("value").isNotNull())
    return RKS.exact_auc_by_grid(
        e,
        F.round(F.col("value") * 100).cast("long"),
        F.col("event_type") == "purchase",
    )


_EVT_AUC_SQL = """
WITH grid AS (
  SELECT CAST(round(value * 100) AS BIGINT) AS cents,
         CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
              AS BIGINT) AS n_pos,
         CAST(sum(CASE WHEN event_type = 'purchase' THEN 0 ELSE 1 END)
              AS BIGINT) AS n_neg
  FROM events WHERE value IS NOT NULL GROUP BY 1
), contrib AS (
  SELECT n_pos, n_neg,
         n_pos * (2 * coalesce(sum(n_neg) OVER (
             ORDER BY cents ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
           ), 0) + n_neg) AS num2
  FROM grid
)
SELECT CAST(sum(n_pos) AS BIGINT) AS n_pos,
       CAST(sum(n_neg) AS BIGINT) AS n_neg,
       CAST(count(*) AS BIGINT) AS n_grid,
       CAST(sum(num2) AS BIGINT) AS auc_num2,
       CAST(sum(num2) AS DOUBLE)
         / (2.0 * CAST(sum(n_pos) AS BIGINT) * CAST(sum(n_neg) AS BIGINT))
         AS auc
FROM contrib
"""


def customer_pareto_lorenz(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Revenue-concentration (Lorenz/Pareto) audit: the exact share of
    total order revenue held by the top 1/5/10/20/50% of purchasing
    customers — the "how head-heavy is this corpus/market" statistic
    (the 80/20 check; complements evt_user_gini's scalar index with the
    actual curve points). Grid-based like the AUC: per-customer revenue
    in exact integer cents → ONE combinable groupBy onto the distinct-
    revenue grid → cumulative pass over grid cells ordered desc. A
    cutoff landing inside a tie-cell takes (k − count_above) members at
    the cell's exact value — exact, since cell members are identical-
    valued. k = ceil(q%·n) in pure integer math; share derives
    unrounded from exact integer cents
    (operators/ranking_stats.lorenz_points_by_grid)."""
    o = load_table(spark, sf_dir, "orders").where(
        F.col("o_totalprice").isNotNull()
    )
    per_cust = o.groupBy("o_custkey").agg(
        F.sum(F.round(F.col("o_totalprice") * 100).cast("long"))
        .cast("long")
        .alias("rev_cents")
    )
    return RKS.lorenz_points_by_grid(per_cust, "rev_cents", [1, 5, 10, 20, 50])


_PARETO_SQL = """
WITH per_cust AS (
  SELECT o_custkey,
         CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
           AS rev_cents
  FROM orders WHERE o_totalprice IS NOT NULL GROUP BY 1
), grid AS (
  SELECT rev_cents AS cents, CAST(count(*) AS BIGINT) AS n_ent
  FROM per_cust GROUP BY 1
), cum AS (
  SELECT cents, n_ent,
         coalesce(sum(n_ent) OVER (
             ORDER BY cents DESC
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
           AS cnt_above,
         coalesce(sum(n_ent * cents) OVER (
             ORDER BY cents DESC
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
           AS cents_above
  FROM grid
), tot AS (
  SELECT CAST(count(*) AS BIGINT) AS n_entities,
         CAST(sum(rev_cents) AS BIGINT) AS total_cents
  FROM per_cust
), quant AS (
  SELECT CAST(top_pct AS INT) AS top_pct
  FROM (VALUES (1), (5), (10), (20), (50)) t(top_pct)
), joined AS (
  SELECT q.top_pct, tot.n_entities, tot.total_cents,
         CAST(floor((q.top_pct * tot.n_entities + 99) / 100.0) AS BIGINT)
           AS k_entities
  FROM quant q CROSS JOIN tot
)
SELECT j.top_pct, j.k_entities,
       CAST(c.cents_above + (j.k_entities - c.cnt_above) * c.cents
            AS BIGINT) AS top_cents,
       j.n_entities, j.total_cents,
       CAST(c.cents_above + (j.k_entities - c.cnt_above) * c.cents
            AS DOUBLE) / j.total_cents AS share
FROM joined j JOIN cum c
  ON c.cnt_above < j.k_entities
 AND c.cnt_above + c.n_ent >= j.k_entities
ORDER BY j.top_pct
"""


def corpus_zipf_slope(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf rank-frequency fit over the corpus vocabulary: OLS of
    ln(freq) on ln(rank) across the top-500 word types (the full
    vocabulary when smaller; k_used exports the fitted count) — the standard
    "is this natural language or template spray" corpus statistic
    (natural text slopes ≈ −1; boilerplate and generated spam deviate).
    Plan: one combinable token-count shuffle (vocab-bounded output), a
    rank window over the VOCAB (row_number on (freq desc, token asc) —
    deterministic tie-break on both engines), and a 500-row closed-form
    OLS aggregate. Corpus size only changes the map-side token pass.
    n_tokens/vocab_size export exact; slope/intercept/r2 are sums of
    logs (irrational) — 6dp rounding is tie-free per the repo rule."""
    d = load_table(spark, sf_dir, "documents")
    toks = d.select(
        F.explode(
            F.filter(
                F.split(F.lower(F.trim(F.col("text"))), r"\s+"),
                lambda t: t != "",
            )
        ).alias("w")
    )
    freq = toks.groupBy("w").agg(F.count(F.lit(1)).alias("freq"))
    wr = Window.orderBy(F.col("freq").desc(), F.col("w").asc())
    top = freq.withColumn("rank", F.row_number().over(wr)).where(
        F.col("rank") <= 500
    )
    pts = top.select(
        F.log(F.col("rank").cast("double")).alias("x"),
        F.log(F.col("freq").cast("double")).alias("y"),
    )
    stats = pts.agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("y") * F.col("y")).alias("syy"),
    )
    tot = freq.agg(
        F.sum("freq").cast("long").alias("n_tokens"),
        F.count(F.lit(1)).cast("long").alias("vocab_size"),
    )
    num = F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")
    den_x = F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    den_y = F.col("n") * F.col("syy") - F.col("sy") * F.col("sy")
    slope = num / den_x
    return (
        stats.join(F.broadcast(tot))
        .select(
            F.col("n_tokens"),
            F.col("vocab_size"),
            F.col("n").cast("int").alias("k_used"),
            F.round(slope, 6).alias("zipf_slope"),
            F.round((F.col("sy") - slope * F.col("sx")) / F.col("n"), 6).alias(
                "intercept"
            ),
            F.round(num * num / (den_x * den_y), 6).alias("r2"),
        )
    )


_ZIPF_SQL = r"""
WITH tok AS (
  SELECT unnest(list_filter(string_split_regex(lower(trim(text)), '\s+'),
                            t -> t <> '')) AS w
  FROM documents
), freq AS (
  SELECT w, CAST(count(*) AS BIGINT) AS freq FROM tok GROUP BY w
), top AS (
  SELECT w, freq,
         row_number() OVER (ORDER BY freq DESC, w ASC) AS rank
  FROM freq QUALIFY rank <= 500
), pts AS (
  SELECT ln(CAST(rank AS DOUBLE)) AS x, ln(CAST(freq AS DOUBLE)) AS y
  FROM top
), stats AS (
  SELECT CAST(count(*) AS DOUBLE) AS n,
         sum(x) AS sx, sum(y) AS sy, sum(x * y) AS sxy,
         sum(x * x) AS sxx, sum(y * y) AS syy
  FROM pts
), tot AS (
  SELECT CAST(sum(freq) AS BIGINT) AS n_tokens,
         CAST(count(*) AS BIGINT) AS vocab_size
  FROM freq
)
SELECT tot.n_tokens, tot.vocab_size, CAST(n AS INT) AS k_used,
       round((n * sxy - sx * sy) / (n * sxx - sx * sx), 6) AS zipf_slope,
       round((sy - (n * sxy - sx * sy) / (n * sxx - sx * sx) * sx) / n, 6)
         AS intercept,
       round((n * sxy - sx * sy) * (n * sxy - sx * sy)
             / ((n * sxx - sx * sx) * (n * syy - sy * sy)), 6) AS r2
FROM stats CROSS JOIN tot
"""


def evt_lag_correlation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lagged cross-correlation between event-type daily revenue series:
    Pearson r of (type-a day d, type-b day d+lag) for every ordered
    type pair at lags 0–3 — the "does signups lead purchases" metric-
    dependency scan. The fact table is touched ONCE (the same
    calendar-bounded daily aggregate as evt_mann_kendall, persisted);
    pairs align via an equi-join on the shifted day key, so volume is
    |types|²·|days| — calendar-bounded, independent of event count.
    Moments accumulate as exact BIGINTs over daily cents (ANSI-loud;
    ~sf10 is the documented widening point) and are exported as gate
    anchors; r itself mixes products and sqrt (FMA-contraction differs
    across engines), so it exports at 6dp — tie-free for an irrational.
    Alignment is INNER on both days present (a hole in either series
    drops that pair-day)."""
    daily = TS.daily_cents(load_table(spark, sf_dir, "events")).persist()
    lags = spark.range(0, 4).select(F.col("id").cast("long").alias("lag"))
    a = daily.select(
        F.col("event_type").alias("t1"),
        F.col("d"),
        F.col("cents").alias("x"),
    )
    b = daily.select(
        F.col("event_type").alias("t2"),
        F.col("d").alias("d2"),
        F.col("cents").alias("y"),
    )
    al = a.join(F.broadcast(lags))
    pairs = al.join(
        b,
        (F.col("d2") == F.col("d") + F.col("lag"))
        & (F.col("t1") < F.col("t2")),
    )
    mom = pairs.groupBy("t1", "t2", "lag").agg(
        F.count(F.lit(1)).cast("long").alias("n_days"),
        F.sum("x").cast("long").alias("sx"),
        F.sum("y").cast("long").alias("sy"),
        F.sum(F.col("x") * F.col("y")).cast("long").alias("sxy"),
        F.sum(F.col("x") * F.col("x")).cast("long").alias("sxx"),
        F.sum(F.col("y") * F.col("y")).cast("long").alias("syy"),
    )
    n = F.col("n_days").cast("double")
    num = n * F.col("sxy") - F.col("sx").cast("double") * F.col("sy")
    den = F.sqrt(
        (n * F.col("sxx") - F.col("sx").cast("double") * F.col("sx"))
        * (n * F.col("syy") - F.col("sy").cast("double") * F.col("sy"))
    )
    return mom.select(
        "t1",
        "t2",
        "lag",
        "n_days",
        "sx",
        "sy",
        "sxy",
        F.when(den > 0, F.round(num / den, 6)).alias("pearson_r"),
    ).orderBy("t1", "t2", "lag")


_LAG_CORR_SQL = f"""
WITH {_DAILY_CENTS_CTE}, lags AS (
  SELECT CAST(lag AS BIGINT) AS lag FROM (VALUES (0), (1), (2), (3)) t(lag)
), mom AS (
  SELECT a.event_type AS t1, b.event_type AS t2, lags.lag,
         CAST(count(*) AS BIGINT) AS n_days,
         CAST(sum(a.cents) AS BIGINT) AS sx,
         CAST(sum(b.cents) AS BIGINT) AS sy,
         CAST(sum(a.cents * b.cents) AS BIGINT) AS sxy,
         CAST(sum(a.cents * a.cents) AS BIGINT) AS sxx,
         CAST(sum(b.cents * b.cents) AS BIGINT) AS syy
  FROM daily a CROSS JOIN lags
  JOIN daily b
    ON b.d = a.d + lags.lag AND a.event_type < b.event_type
  GROUP BY 1, 2, 3
)
SELECT t1, t2, lag, n_days, sx, sy, sxy,
       CASE WHEN sqrt((CAST(n_days AS DOUBLE) * sxx
                       - CAST(sx AS DOUBLE) * sx)
                      * (CAST(n_days AS DOUBLE) * syy
                         - CAST(sy AS DOUBLE) * sy)) > 0
            THEN round((CAST(n_days AS DOUBLE) * sxy
                        - CAST(sx AS DOUBLE) * sy)
                       / sqrt((CAST(n_days AS DOUBLE) * sxx
                               - CAST(sx AS DOUBLE) * sx)
                              * (CAST(n_days AS DOUBLE) * syy
                                 - CAST(sy AS DOUBLE) * sy)), 6)
       END AS pearson_r
FROM mom
ORDER BY t1, t2, lag
"""


def evt_type_trend_ols(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-event-type OLS trend of daily revenue vs day index — the
    parametric complement to evt_mann_kendall (that one answers "is
    there a monotone drift", this one answers "at what cents/day, and
    how much variance does a line explain"). x is the day offset from
    the GLOBAL first day (one scalar broadcast) so x ≤ series length
    and every BIGINT moment stays far from overflow; y is the exact
    daily cents. slope = num/den of two exact BIGINTs — ONE division,
    so it exports UNROUNDED bit-identical (the derived-ratio rule);
    r2's variance term n·Σy²−(Σy)² exceeds BIGINT at scale, so it
    derives in double and exports at 6dp. One combinable fact-table
    pass + a per-type 6-sum aggregate over calendar-bounded rows."""
    daily = TS.daily_cents(load_table(spark, sf_dir, "events"))
    d0 = daily.agg(F.min("d").alias("d0"))
    xy = daily.join(F.broadcast(d0)).select(
        "event_type",
        (F.col("d") - F.col("d0")).alias("x"),
        F.col("cents").alias("y"),
    )
    mom = xy.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n_days"),
        F.sum("x").cast("long").alias("sx"),
        F.sum("y").cast("long").alias("sy"),
        F.sum(F.col("x") * F.col("y")).cast("long").alias("sxy"),
        F.sum(F.col("x") * F.col("x")).cast("long").alias("sxx"),
        F.sum(F.col("y") * F.col("y")).cast("long").alias("syy"),
    )
    num_i = F.col("n_days") * F.col("sxy") - F.col("sx") * F.col("sy")
    den_i = F.col("n_days") * F.col("sxx") - F.col("sx") * F.col("sx")
    den_y = (
        F.col("n_days").cast("double") * F.col("syy")
        - F.col("sy").cast("double") * F.col("sy")
    )
    return mom.select(
        "event_type",
        "n_days",
        "sx",
        "sy",
        "sxy",
        "sxx",
        "syy",
        num_i.alias("slope_num"),
        den_i.alias("slope_den"),
        F.when(
            den_i != 0, num_i.cast("double") / den_i.cast("double")
        ).alias("slope_cents_per_day"),
        F.when(
            (den_i != 0) & (den_y > 0),
            F.round(
                num_i.cast("double")
                * num_i.cast("double")
                / (den_i.cast("double") * den_y),
                6,
            ),
        ).alias("r2"),
    ).orderBy("event_type")


_TREND_OLS_SQL = f"""
WITH {_DAILY_CENTS_CTE}, d0 AS (
  SELECT min(d) AS d0 FROM daily
), mom AS (
  SELECT event_type,
         CAST(count(*) AS BIGINT) AS n_days,
         CAST(sum(d - d0.d0) AS BIGINT) AS sx,
         CAST(sum(cents) AS BIGINT) AS sy,
         CAST(sum((d - d0.d0) * cents) AS BIGINT) AS sxy,
         CAST(sum((d - d0.d0) * (d - d0.d0)) AS BIGINT) AS sxx,
         CAST(sum(cents * cents) AS BIGINT) AS syy
  FROM daily CROSS JOIN d0 GROUP BY 1
)
SELECT event_type, n_days, sx, sy, sxy, sxx, syy,
       CAST(n_days * sxy - sx * sy AS BIGINT) AS slope_num,
       CAST(n_days * sxx - sx * sx AS BIGINT) AS slope_den,
       CASE WHEN n_days * sxx - sx * sx <> 0
            THEN CAST(n_days * sxy - sx * sy AS DOUBLE)
                 / CAST(n_days * sxx - sx * sx AS DOUBLE)
       END AS slope_cents_per_day,
       CASE WHEN n_days * sxx - sx * sx <> 0
             AND CAST(n_days AS DOUBLE) * syy
                 - CAST(sy AS DOUBLE) * sy > 0
            THEN round(CAST(n_days * sxy - sx * sy AS DOUBLE)
                       * CAST(n_days * sxy - sx * sy AS DOUBLE)
                       / (CAST(n_days * sxx - sx * sx AS DOUBLE)
                          * (CAST(n_days AS DOUBLE) * syy
                             - CAST(sy AS DOUBLE) * sy)), 6)
       END AS r2
FROM mom
ORDER BY event_type
"""


def evt_dow_seasonality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Day-of-week seasonal index per event type — the multiplicative
    seasonality profile (dow daily mean ÷ overall daily mean) every
    volume-anomaly monitor needs as its denominator. Weekday comes from
    pure integer math on the epoch-day index ((d+4) mod 7, Monday=0 —
    1970-01-01 was a Thursday), identical on both engines; the index is
    ONE division of two exact BIGINT cross-products
    (dow_cents·n_days_total) / (n_days_dow·total_cents) — the
    derived-ratio rule, so it exports UNROUNDED bit-identical. One
    combinable fact pass onto the calendar-bounded daily grid; the
    dow/total aggregates are |types|×7 and |types| rows."""
    daily = TS.daily_cents(load_table(spark, sf_dir, "events"))
    dowed = daily.select(
        "event_type", F.pmod(F.col("d") + 4, F.lit(7)).alias("dow"), "cents"
    )
    per_dow = dowed.groupBy("event_type", "dow").agg(
        F.count(F.lit(1)).cast("long").alias("n_days_dow"),
        F.sum("cents").cast("long").alias("dow_cents"),
    )
    per_type = dowed.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n_days_total"),
        F.sum("cents").cast("long").alias("total_cents"),
    )
    return (
        per_dow.join(F.broadcast(per_type), "event_type")
        .select(
            "event_type",
            "dow",
            "n_days_dow",
            "dow_cents",
            "n_days_total",
            "total_cents",
            (
                (F.col("dow_cents") * F.col("n_days_total")).cast("double")
                / (F.col("n_days_dow") * F.col("total_cents")).cast("double")
            ).alias("seasonal_index"),
        )
        .orderBy("event_type", "dow")
    )


_DOW_SEASONALITY_SQL = f"""
WITH {_DAILY_CENTS_CTE}, dowed AS (
  SELECT event_type, (d + 4) % 7 AS dow, cents FROM daily
), per_dow AS (
  SELECT event_type, dow,
         CAST(count(*) AS BIGINT) AS n_days_dow,
         CAST(sum(cents) AS BIGINT) AS dow_cents
  FROM dowed GROUP BY 1, 2
), per_type AS (
  SELECT event_type,
         CAST(count(*) AS BIGINT) AS n_days_total,
         CAST(sum(cents) AS BIGINT) AS total_cents
  FROM dowed GROUP BY 1
)
SELECT d.event_type, d.dow, d.n_days_dow, d.dow_cents,
       t.n_days_total, t.total_cents,
       CAST(d.dow_cents * t.n_days_total AS DOUBLE)
         / CAST(d.n_days_dow * t.total_cents AS DOUBLE) AS seasonal_index
FROM per_dow d JOIN per_type t USING (event_type)
ORDER BY d.event_type, d.dow
"""


def doc_lang_source_chi2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chi-square independence audit of the lang × source contingency
    table — "does this source skew toward a language" (corpus-mixture
    drift localized to cells, plus the aggregate test statistic). The
    full |langs|×|sources| universe is zero-filled (missing cells still
    carry expected mass); row/column totals and N are exact integers,
    so expected = rt·ct/N is ONE division of exact ints → exported
    UNROUNDED bit-identical, and each cell's chi2 term (obs−exp)²/exp
    uses only correctly-rounded * and / on identical operands (no pow,
    no FMA pattern) → also unrounded. Only the GRAND total (a ~100-term
    double sum whose order differs across engines) rounds, at 6dp.
    One fact pass + bounded-dimension broadcasts."""
    d = load_table(spark, sf_dir, "documents")
    obs = d.groupBy("lang", "source").agg(
        F.count(F.lit(1)).cast("long").alias("n_obs")
    )
    rt = d.groupBy("lang").agg(F.count(F.lit(1)).cast("long").alias("rt"))
    ct = d.groupBy("source").agg(F.count(F.lit(1)).cast("long").alias("ct"))
    tot = d.agg(F.count(F.lit(1)).cast("long").alias("n_total"))
    uni = rt.crossJoin(F.broadcast(ct))
    cells = (
        uni.join(obs, ["lang", "source"], "left")
        .join(F.broadcast(tot))
        .select(
            "lang",
            "source",
            F.coalesce(F.col("n_obs"), F.lit(0).cast("long")).alias("n_obs"),
            "rt",
            "ct",
            "n_total",
            (
                (F.col("rt") * F.col("ct")).cast("double") / F.col("n_total")
            ).alias("expected"),
        )
        .withColumn(
            "chi2_term",
            (F.col("n_obs") - F.col("expected"))
            * (F.col("n_obs") - F.col("expected"))
            / F.col("expected"),
        )
    )
    dims = rt.agg(F.count(F.lit(1)).cast("long").alias("n_langs")).crossJoin(
        ct.agg(F.count(F.lit(1)).cast("long").alias("n_sources"))
    )
    total = cells.agg(F.round(F.sum("chi2_term"), 6).alias("chi2_total"))
    return (
        cells.join(F.broadcast(total))
        .join(F.broadcast(dims))
        .select(
            "lang",
            "source",
            "n_obs",
            "expected",
            "chi2_term",
            "chi2_total",
            ((F.col("n_langs") - 1) * (F.col("n_sources") - 1)).alias("dof"),
        )
        .orderBy("lang", "source")
    )


_LANG_SOURCE_CHI2_SQL = """
WITH obs AS (
  SELECT lang, source, CAST(count(*) AS BIGINT) AS n_obs
  FROM documents GROUP BY 1, 2
), rt AS (
  SELECT lang, CAST(count(*) AS BIGINT) AS rt FROM documents GROUP BY 1
), ct AS (
  SELECT source, CAST(count(*) AS BIGINT) AS ct FROM documents GROUP BY 1
), tot AS (
  SELECT CAST(count(*) AS BIGINT) AS n_total FROM documents
), cells AS (
  SELECT rt.lang, ct.source,
         coalesce(obs.n_obs, 0) AS n_obs,
         rt.rt, ct.ct, tot.n_total,
         CAST(rt.rt * ct.ct AS DOUBLE) / tot.n_total AS expected
  FROM rt CROSS JOIN ct CROSS JOIN tot
  LEFT JOIN obs ON obs.lang = rt.lang AND obs.source = ct.source
), terms AS (
  SELECT lang, source, n_obs, expected,
         (n_obs - expected) * (n_obs - expected) / expected AS chi2_term
  FROM cells
), agg AS (
  SELECT round(sum(chi2_term), 6) AS chi2_total FROM terms
), dims AS (
  SELECT (SELECT CAST(count(*) AS BIGINT) FROM rt) AS n_langs,
         (SELECT CAST(count(*) AS BIGINT) FROM ct) AS n_sources
)
SELECT t.lang, t.source, t.n_obs, t.expected, t.chi2_term,
       agg.chi2_total,
       CAST((dims.n_langs - 1) * (dims.n_sources - 1) AS BIGINT) AS dof
FROM terms t CROSS JOIN agg CROSS JOIN dims
ORDER BY t.lang, t.source
"""


def label_centroid_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label embedding-centroid drift: cosine of each label's
    centroid to the GLOBAL centroid plus the centroid norm — the
    "which clusters sit off-axis from the corpus mean" embedding-space
    audit (cheap proxy for per-source representation drift). Centroids
    via the Summarizer vector mean (operators/vector_agg — one
    combinable pass, |labels| output rows); the cosine runs on the
    driver-scale centroid frame with zip_with math in double. Exports
    round 6dp (per-position means are order-dependent double sums)."""
    e = load_table(spark, sf_dir, "embeddings")
    cents = VA.group_vector_mean(e, "label", "embedding")
    gtot = VA.group_vector_mean(
        e.withColumn("g", F.lit(1)), "g", "embedding"
    ).select(F.col("centroid").alias("gc"))
    return (
        cents.join(F.broadcast(gtot))
        .select(
            "label",
            F.round(V.l2_norm("centroid"), 6).alias("centroid_norm"),
            F.round(V.cosine_similarity("centroid", "gc"), 6).alias(
                "cos_to_global"
            ),
        )
        .orderBy("label")
    )


_LABEL_CENTROID_SQL = """
WITH cent AS (
  SELECT label, list(m ORDER BY pos) AS centroid FROM (
    SELECT label, pos, avg(val) AS m FROM (
      SELECT label, CAST(unnest(embedding) AS DOUBLE) AS val,
             generate_subscripts(embedding, 1) AS pos
      FROM embeddings
    ) GROUP BY label, pos
  ) GROUP BY label
), gcent AS (
  SELECT list(m ORDER BY pos) AS gc FROM (
    SELECT pos, avg(val) AS m FROM (
      SELECT CAST(unnest(embedding) AS DOUBLE) AS val,
             generate_subscripts(embedding, 1) AS pos
      FROM embeddings
    ) GROUP BY pos
  )
)
SELECT c.label,
       round(sqrt(list_reduce(list_transform(c.centroid, x -> x * x),
                              (a, b) -> a + b)), 6) AS centroid_norm,
       round(list_reduce(list_transform(list_zip(c.centroid, g.gc),
                                        p -> p[1] * p[2]),
                         (a, b) -> a + b)
             / (sqrt(list_reduce(list_transform(c.centroid, x -> x * x),
                                 (a, b) -> a + b))
                * sqrt(list_reduce(list_transform(g.gc, x -> x * x),
                                   (a, b) -> a + b))), 6) AS cos_to_global
FROM cent c CROSS JOIN gcent g
ORDER BY c.label
"""


def evt_ewma_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Normalized exponentially-weighted moving average of daily
    revenue at the series end, per event type (α = 0.9/day decay):
    EWMA = Σ xᵢ·α^(d_last−dᵢ) / Σ α^(d_last−dᵢ) — the time-decayed
    "current level" every freshness-weighted dashboard metric uses.
    The fact table collapses to the calendar-bounded daily grid in one
    combinable pass; the decay weighting is a |days|-row aggregate per
    type (operators/timeseries.ewma_from_daily — the SAME combine the
    streaming grid maintenance rewrites per micro-batch through
    streaming.grid_monitor.start_daily_cents_monitor). pow() is not
    correctly-rounded IEEE (engines may differ in the last ulp) and
    the weighted sums are order-dependent, so the EWMA exports at 6dp
    (irrational — tie-free); the day counts and the exact cents of
    the last day export as integer anchors."""
    daily = TS.daily_cents(load_table(spark, sf_dir, "events"))
    return TS.ewma_from_daily(daily)


_EWMA_SQL = f"""
WITH {_DAILY_CENTS_CTE}, last AS (
  SELECT event_type, max(d) AS d_last FROM daily GROUP BY 1
), wgt AS (
  SELECT daily.event_type, cents, d, d_last,
         pow(0.9, CAST(d_last - d AS DOUBLE)) AS w
  FROM daily JOIN last USING (event_type)
)
SELECT event_type,
       CAST(count(*) AS BIGINT) AS n_days,
       CAST(max(CASE WHEN d = d_last THEN cents END) AS BIGINT)
         AS last_day_cents,
       round(sum(cents * w) / sum(w), 6) AS ewma_cents
FROM wgt GROUP BY event_type
ORDER BY event_type
"""


def nation_revenue_hhi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Herfindahl-Hirschman revenue-concentration index per nation —
    "is this market one whale or many small customers", the
    antitrust-style complement to the Lorenz curve (scalar per market
    instead of curve points). HHI = Σᵢ (sᵢ/S)² = (Σ sᵢ²)/S² over each
    nation's customer revenue shares: the squared-cents sum accumulates
    in DECIMAL(38,0) — cents² × customers exceeds BIGINT at TPC-H price
    magnitudes (a BIGINT draft failed LOUDLY at sf0.1, as the ANSI
    discipline promises) — and HHI derives from the exact decimal via
    a deterministic cast-multiply-divide sequence, so it still exports
    UNROUNDED (identical exact integers → identical IEEE ops). Plan:
    one orders pass (customer-keyed combinable agg) + a broadcast
    customer→nation dimension join + a |nations|-row aggregate.
    1/hhi is the effective customer count, exported as its own ratio."""
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    per_cust = o.groupBy("o_custkey").agg(
        F.sum(F.round(F.col("o_totalprice") * 100).cast("long"))
        .cast("long")
        .alias("cents")
    )
    tagged = per_cust.join(
        F.broadcast(c.select("c_custkey", "c_nationkey")),
        per_cust["o_custkey"] == c["c_custkey"],
    ).join(F.broadcast(n.select("n_nationkey", "n_name")),
           F.col("c_nationkey") == F.col("n_nationkey"))
    return (
        tagged.groupBy("n_name")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_customers"),
            F.sum("cents").cast("long").alias("total_cents"),
            F.sum(
                F.col("cents").cast("decimal(38,0)") * F.col("cents")
            ).alias("_ssq"),
        )
        .select(
            "n_name",
            "n_customers",
            "total_cents",
            (
                F.col("_ssq").cast("double")
                / (
                    F.col("total_cents").cast("double")
                    * F.col("total_cents").cast("double")
                )
            ).alias("hhi"),
        )
        .withColumn("effective_customers", F.lit(1.0) / F.col("hhi"))
        .orderBy("n_name")
    )


_NATION_HHI_SQL = """
WITH per_cust AS (
  SELECT o_custkey,
         CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
           AS cents
  FROM orders GROUP BY 1
), tagged AS (
  SELECT n.n_name, p.cents
  FROM per_cust p
  JOIN customer c ON p.o_custkey = c.c_custkey
  JOIN nation n ON c.c_nationkey = n.n_nationkey
)
SELECT n_name,
       CAST(count(*) AS BIGINT) AS n_customers,
       CAST(sum(cents) AS BIGINT) AS total_cents,
       CAST(sum(CAST(cents AS HUGEINT) * cents) AS DOUBLE)
         / (CAST(sum(cents) AS DOUBLE) * CAST(sum(cents) AS DOUBLE)) AS hhi,
       1.0 / (CAST(sum(CAST(cents AS HUGEINT) * cents) AS DOUBLE)
              / (CAST(sum(cents) AS DOUBLE) * CAST(sum(cents) AS DOUBLE)))
         AS effective_customers
FROM tagged GROUP BY n_name
ORDER BY n_name
"""


def evt_type_affinity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """User-level event-type affinity (lift): for every ordered type
    pair, lift = P(user does both) / (P(a)·P(b)) — the cross-sell /
    behavioral-correlation matrix, computed on exact user counts. The
    fact table collapses to the distinct (user, type) incidence in one
    combinable pass (NULL user_ids excluded on BOTH sides — Spark's
    groupBy would keep a NULL group while DuckDB's count(DISTINCT)
    drops it, a regenerated-testdata parity trap); the pair join runs
    on the per-user TYPE SETS
    (array self-pairing over ≤|types| elements per user — fan-out
    C(types,2) per user, never user²). lift = (n_both·n_users) /
    (n_a·n_b): both products are exact ANSI-loud BIGINTs → ONE division
    → exported UNROUNDED. The |types|² pair frame is the only
    non-fact-bounded object."""
    e = load_table(spark, sf_dir, "events").where(
        F.col("user_id").isNotNull() & F.col("event_type").isNotNull()
    )
    per_user = e.groupBy("user_id").agg(
        F.array_sort(F.collect_set("event_type")).alias("types")
    )
    n_users = per_user.agg(
        F.count(F.lit(1)).cast("long").alias("n_users")
    )
    singles = (
        per_user.select(F.explode("types").alias("t"))
        .groupBy("t")
        .agg(F.count(F.lit(1)).cast("long").alias("n_t"))
    )
    pairs = (
        per_user.select(
            F.explode(
                F.filter(
                    F.flatten(
                        F.transform(
                            F.col("types"),
                            lambda a: F.transform(
                                F.col("types"),
                                lambda b: F.struct(
                                    a.alias("t1"), b.alias("t2")
                                ),
                            ),
                        )
                    ),
                    lambda p: p["t1"] < p["t2"],
                )
            ).alias("p")
        )
        .groupBy(F.col("p.t1").alias("t1"), F.col("p.t2").alias("t2"))
        .agg(F.count(F.lit(1)).cast("long").alias("n_both"))
    )
    a = singles.select(F.col("t").alias("t1"), F.col("n_t").alias("n_a"))
    b = singles.select(F.col("t").alias("t2"), F.col("n_t").alias("n_b"))
    return (
        pairs.join(F.broadcast(a), "t1")
        .join(F.broadcast(b), "t2")
        .join(F.broadcast(n_users))
        .select(
            "t1",
            "t2",
            "n_both",
            "n_a",
            "n_b",
            "n_users",
            (
                (F.col("n_both") * F.col("n_users")).cast("double")
                / (F.col("n_a") * F.col("n_b")).cast("double")
            ).alias("lift"),
        )
        .orderBy("t1", "t2")
    )


_EVT_AFFINITY_SQL = """
WITH inc AS (
  SELECT DISTINCT user_id, event_type FROM events
  WHERE user_id IS NOT NULL AND event_type IS NOT NULL
), nu AS (
  SELECT CAST(count(DISTINCT user_id) AS BIGINT) AS n_users FROM inc
), singles AS (
  SELECT event_type AS t, CAST(count(*) AS BIGINT) AS n_t
  FROM inc GROUP BY 1
), pairs AS (
  SELECT a.event_type AS t1, b.event_type AS t2,
         CAST(count(*) AS BIGINT) AS n_both
  FROM inc a JOIN inc b
    ON a.user_id = b.user_id AND a.event_type < b.event_type
  GROUP BY 1, 2
)
SELECT p.t1, p.t2, p.n_both,
       sa.n_t AS n_a, sb.n_t AS n_b, nu.n_users,
       CAST(p.n_both * nu.n_users AS DOUBLE)
         / CAST(sa.n_t * sb.n_t AS DOUBLE) AS lift
FROM pairs p
JOIN singles sa ON sa.t = p.t1
JOIN singles sb ON sb.t = p.t2
CROSS JOIN nu
ORDER BY p.t1, p.t2
"""


def parts_skyline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skyline (Pareto-front) query over parts: minimize price, maximize
    size — every part not dominated by a (cheaper-or-equal,
    bigger-or-equal, strictly better in one) alternative. The classic
    multi-criteria operator; implemented in the DISTRIBUTABLE two-phase
    form: (1) a per-price-band local skyline (band-partitioned window —
    parallel; the union of local skylines provably contains the global
    skyline, since same-band dominators eliminate locally), then (2)
    the full dominance windows over the pruned union. Dominance checks
    are RANGE-frame windows on exact integer cents: dominated iff some
    STRICTLY cheaper part has size ≥ mine, or a same-price part has
    size > mine; equal (price, size) pairs co-survive
    (operators/ranking_stats.two_phase_skyline — the same survivors
    combine the streaming front maintenance folds,
    streaming/skyline_maintenance.py). Exports are all exact
    integers."""
    p = load_table(spark, sf_dir, "part")
    base = p.select(
        "p_partkey",
        "p_brand",
        F.round(F.col("p_retailprice") * 100).cast("long").alias("price_cents"),
        F.col("p_size").cast("long").alias("size"),
    )
    return RKS.two_phase_skyline(base).orderBy(
        "price_cents", "size", "p_partkey"
    )


_SKYLINE_SQL = """
WITH base AS (
  SELECT p_partkey, p_brand,
         CAST(round(p_retailprice * 100) AS BIGINT) AS price_cents,
         CAST(p_size AS BIGINT) AS size
  FROM part
), marked AS (
  SELECT *,
         max(size) OVER (ORDER BY price_cents
                         RANGE BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
           AS mx_cheaper,
         max(size) OVER (PARTITION BY price_cents) AS mx_same
  FROM base
)
SELECT p_partkey, p_brand, price_cents, size
FROM marked
WHERE (mx_cheaper IS NULL OR mx_cheaper < size) AND mx_same <= size
ORDER BY price_cents, size, p_partkey
"""


def customer_order_survival(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kaplan-Meier reorder-survival curve: P(customer has not reordered
    by week t after an order) — the churn/repurchase-cadence curve,
    with proper CENSORING: each consecutive order pair contributes an
    observed gap, and every customer's time from LAST order to the
    corpus end contributes a censored spell (they may yet reorder).
    S(t) = Π_{weeks ≤ t} (1 − d_w/n_w) over the week grid, where n_w =
    spells still at risk entering week w. Plan: one customer-keyed lag
    window (the standard per-entity shuffle) + a 1-row max-date
    broadcast + combinable week-grid counts; the KM product runs over
    the CALENDAR-bounded grid as exp(Σ ln) — order-dependent double
    sums, so survival exports at 6dp while d/c/at-risk counts are exact
    integer anchors."""
    o = load_table(spark, sf_dir, "orders").where(
        F.col("o_orderdate").isNotNull()
    )
    wcust = Window.partitionBy("o_custkey").orderBy(
        "o_orderdate", "o_orderkey"
    )
    day = TS.epoch_day("o_orderdate")
    nxt = F.lead(day).over(wcust)
    spells = o.select(
        day.alias("d"),
        nxt.alias("d_next"),
    )
    mx = o.agg(F.max(day).alias("d_max"))
    ev = spells.join(F.broadcast(mx)).select(
        F.when(
            F.col("d_next").isNotNull(),
            ((F.col("d_next") - F.col("d")) / F.lit(7)).cast("long"),
        )
        .otherwise(((F.col("d_max") - F.col("d")) / F.lit(7)).cast("long"))
        .alias("week"),
        F.col("d_next").isNotNull().alias("observed"),
    )
    per_week = ev.groupBy("week").agg(
        F.sum(F.when(F.col("observed"), 1).otherwise(0))
        .cast("long")
        .alias("d_events"),
        F.sum(F.when(F.col("observed"), 0).otherwise(1))
        .cast("long")
        .alias("c_censored"),
    )
    tot = ev.agg(F.count(F.lit(1)).cast("long").alias("n_spells"))
    w_prev = Window.orderBy("week").rowsBetween(Window.unboundedPreceding, -1)
    w_cum = Window.orderBy("week").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    grid = (
        per_week.join(F.broadcast(tot))
        .withColumn(
            "n_at_risk",
            F.col("n_spells")
            - F.coalesce(
                F.sum(F.col("d_events") + F.col("c_censored")).over(w_prev),
                F.lit(0).cast("long"),
            ),
        )
        .withColumn(
            "_hit_zero",
            F.max(
                F.when(F.col("d_events") >= F.col("n_at_risk"), 1).otherwise(0)
            ).over(w_cum),
        )
        .withColumn(
            "survival",
            F.when(F.col("_hit_zero") == 1, F.lit(0.0)).otherwise(
                F.round(
                    F.exp(
                        F.sum(
                            F.when(
                                F.col("d_events") < F.col("n_at_risk"),
                                F.log(
                                    1.0
                                    - F.col("d_events").cast("double")
                                    / F.col("n_at_risk")
                                ),
                            ).otherwise(F.lit(0.0))
                        ).over(w_cum)
                    ),
                    6,
                )
            ),
        )
    )
    return grid.select(
        "week", "n_at_risk", "d_events", "c_censored", "survival"
    ).orderBy("week")


_KM_SURVIVAL_SQL = """
WITH spells AS (
  SELECT CAST(floor(epoch(o_orderdate) / 86400.0) AS BIGINT) AS d,
         lead(CAST(floor(epoch(o_orderdate) / 86400.0) AS BIGINT)) OVER (
           PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
         ) AS d_next
  FROM orders WHERE o_orderdate IS NOT NULL
), mx AS (
  SELECT max(CAST(floor(epoch(o_orderdate) / 86400.0) AS BIGINT)) AS d_max
  FROM orders WHERE o_orderdate IS NOT NULL
), ev AS (
  SELECT CASE WHEN d_next IS NOT NULL
              THEN CAST(floor((d_next - d) / 7.0) AS BIGINT)
              ELSE CAST(floor((mx.d_max - d) / 7.0) AS BIGINT) END AS week,
         d_next IS NOT NULL AS observed
  FROM spells CROSS JOIN mx
), per_week AS (
  SELECT week,
         CAST(sum(CASE WHEN observed THEN 1 ELSE 0 END) AS BIGINT)
           AS d_events,
         CAST(sum(CASE WHEN observed THEN 0 ELSE 1 END) AS BIGINT)
           AS c_censored
  FROM ev GROUP BY 1
), tot AS (
  SELECT CAST(count(*) AS BIGINT) AS n_spells FROM ev
), grid AS (
  SELECT week, d_events, c_censored,
         CAST(tot.n_spells
              - coalesce(sum(d_events + c_censored) OVER (
                  ORDER BY week ROWS BETWEEN UNBOUNDED PRECEDING
                                AND 1 PRECEDING), 0) AS BIGINT) AS n_at_risk
  FROM per_week CROSS JOIN tot
)
SELECT week, n_at_risk, d_events, c_censored,
       CASE WHEN max(CASE WHEN d_events >= n_at_risk THEN 1 ELSE 0 END)
                 OVER (ORDER BY week ROWS BETWEEN UNBOUNDED PRECEDING
                                    AND CURRENT ROW) = 1
            THEN 0.0
            ELSE round(exp(sum(CASE WHEN d_events < n_at_risk
                               THEN ln(1.0 - CAST(d_events AS DOUBLE)
                                             / n_at_risk)
                               ELSE 0.0 END) OVER (
                   ORDER BY week ROWS BETWEEN UNBOUNDED PRECEDING
                                 AND CURRENT ROW)), 6)
       END AS survival
FROM grid
ORDER BY week
"""


def evt_rolling_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling 7-observation median of daily revenue per event type —
    the robust moving level (medians shrug off the spike days that
    wreck a moving mean). EXACT across engines: the window collects the
    ≤7 trailing daily cents, sorts, and takes the middle (odd n) or the
    midpoint (even n) — (a+b)/2 on exact integers is one add and one
    power-of-two division, bit-identical to DuckDB's quantile_cont
    interpolation at 0.5, so rolling_median exports UNROUNDED. Plan:
    the calendar-bounded daily grid (one combinable fact pass) + a
    type-partitioned 7-ROW window — bounded collect width, ordinary
    parallel window shuffle on event_type."""
    daily = TS.daily_cents(load_table(spark, sf_dir, "events"))
    w = (
        Window.partitionBy("event_type")
        .orderBy("d")
        .rowsBetween(-6, Window.currentRow)
    )
    arr = F.array_sort(F.collect_list("cents").over(w))
    n = F.size(arr)
    mid = (
        F.when(
            n % 2 == 1,
            F.element_at(arr, (n / 2 + 1).cast("int")).cast("double"),
        ).otherwise(
            (
                F.element_at(arr, (n / 2).cast("int"))
                + F.element_at(arr, (n / 2 + 1).cast("int"))
            ).cast("double")
            / F.lit(2.0)
        )
    )
    return (
        daily.select(
            "event_type",
            "d",
            "cents",
            n.cast("long").alias("window_n"),
            mid.alias("rolling_median"),
        )
        .orderBy("event_type", "d")
    )


_ROLLING_MEDIAN_SQL = f"""
WITH {_DAILY_CENTS_CTE}
SELECT event_type, d, cents,
       CAST(count(*) OVER w AS BIGINT) AS window_n,
       median(cents) OVER w AS rolling_median
FROM daily
WINDOW w AS (PARTITION BY event_type ORDER BY d
             ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)
ORDER BY event_type, d
"""


def orders_backlog_timeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Open-order backlog over time — the classic sweep-line /
    interval-stacking operator: each order contributes +1 at its order
    week and −1 at the week its LAST lineitem ships; the running sum is
    the number of orders in flight. Never-shipped orders (no lineitems)
    open and never close — the curve's tail floor. Plan: one lineitem
    pass (order-keyed combinable max), one orders pass, a UNION of
    ±1 deltas collapsed to the calendar-bounded week grid, and one
    cumulative window over weeks. All exports exact integers."""
    o = load_table(spark, sf_dir, "orders").where(
        F.col("o_orderdate").isNotNull()
    )
    li = load_table(spark, sf_dir, "lineitem").where(
        F.col("l_shipdate").isNotNull()
    )
    week = lambda c: (TS.epoch_day(c) / F.lit(7)).cast("long")  # noqa: E731
    opens = o.select(week(F.col("o_orderdate")).alias("wk")).withColumn(
        "delta", F.lit(1).cast("long")
    )
    closes = (
        li.groupBy("l_orderkey")
        .agg(F.max(week(F.col("l_shipdate"))).alias("wk"))
        .select("wk")
        .withColumn("delta", F.lit(-1).cast("long"))
    )
    deltas = (
        opens.unionByName(closes)
        .groupBy("wk")
        .agg(
            F.sum("delta").cast("long").alias("net_change"),
            F.sum(F.when(F.col("delta") > 0, 1).otherwise(0))
            .cast("long")
            .alias("opened"),
            F.sum(F.when(F.col("delta") < 0, 1).otherwise(0))
            .cast("long")
            .alias("closed"),
        )
    )
    w_cum = Window.orderBy("wk").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    return (
        deltas.withColumn(
            "open_orders", F.sum("net_change").over(w_cum).cast("long")
        )
        .select("wk", "opened", "closed", "net_change", "open_orders")
        .orderBy("wk")
    )


_BACKLOG_SQL = """
WITH opens AS (
  SELECT CAST(floor(floor(epoch(o_orderdate) / 86400.0) / 7.0) AS BIGINT)
           AS wk,
         CAST(1 AS BIGINT) AS delta
  FROM orders WHERE o_orderdate IS NOT NULL
), closes AS (
  SELECT CAST(max(floor(floor(epoch(l_shipdate) / 86400.0) / 7.0)) AS BIGINT)
           AS wk,
         CAST(-1 AS BIGINT) AS delta
  FROM lineitem WHERE l_shipdate IS NOT NULL GROUP BY l_orderkey
), deltas AS (
  SELECT wk,
         CAST(sum(delta) AS BIGINT) AS net_change,
         CAST(sum(CASE WHEN delta > 0 THEN 1 ELSE 0 END) AS BIGINT)
           AS opened,
         CAST(sum(CASE WHEN delta < 0 THEN 1 ELSE 0 END) AS BIGINT)
           AS closed
  FROM (SELECT * FROM opens UNION ALL SELECT * FROM closes)
  GROUP BY wk
)
SELECT wk, opened, closed, net_change,
       CAST(sum(net_change) OVER (ORDER BY wk
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
         AS open_orders
FROM deltas
ORDER BY wk
"""


def session_entry_exit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Entry-page analytics over the 30-min-gap sessions (the same
    sessionization as evt_sessions): per ENTRY event type — sessions
    started there, bounce rate (single-event sessions), how often the
    session also ENDS on the entry type, and the average session depth.
    Entry/exit are rank-1 rows under the deterministic (ts, event_id)
    order on BOTH engines. All counts exact integers; bounce_rate and
    avg_session_events derive UNROUNDED as single divisions of exact
    integers. Plan: ONE user-keyed window shuffle (sessionize + both
    rank directions in the same window family) + one combinable
    session-level agg + one |types|-row agg."""
    e = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    sec = F.unix_timestamp(F.col("ts"))
    gap = sec - F.lag(sec).over(w)
    tagged = e.withColumn(
        "new_sess", F.when(gap.isNull() | (gap > 1800), 1).otherwise(0)
    ).withColumn(
        "sess_id",
        F.sum("new_sess").over(w.rowsBetween(Window.unboundedPreceding, 0)),
    )
    ws = Window.partitionBy("user_id", "sess_id")
    rn = F.row_number().over(ws.orderBy("ts", "event_id"))
    rn_d = F.row_number().over(
        ws.orderBy(F.col("ts").desc(), F.col("event_id").desc())
    )
    sess = (
        tagged.withColumn("rn", rn)
        .withColumn("rn_d", rn_d)
        .groupBy("user_id", "sess_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_events"),
            F.max(F.when(F.col("rn") == 1, F.col("event_type"))).alias(
                "entry_type"
            ),
            F.max(F.when(F.col("rn_d") == 1, F.col("event_type"))).alias(
                "exit_type"
            ),
        )
    )
    return (
        sess.groupBy("entry_type")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_sessions"),
            F.sum(F.when(F.col("n_events") == 1, 1).otherwise(0))
            .cast("long")
            .alias("n_bounces"),
            F.sum("n_events").cast("long").alias("n_events_total"),
            F.sum(
                F.when(F.col("exit_type") == F.col("entry_type"), 1).otherwise(
                    0
                )
            )
            .cast("long")
            .alias("n_exit_same"),
        )
        .select(
            "entry_type",
            "n_sessions",
            "n_bounces",
            "n_events_total",
            "n_exit_same",
            (
                F.col("n_bounces").cast("double") / F.col("n_sessions")
            ).alias("bounce_rate"),
            (
                F.col("n_events_total").cast("double") / F.col("n_sessions")
            ).alias("avg_session_events"),
        )
        .orderBy("entry_type")
    )


_SESSION_ENTRY_SQL = """
WITH gaps AS (
  SELECT user_id, event_id, ts, event_type,
         CASE WHEN lag(ts) OVER w IS NULL
               OR floor(epoch(ts)) - floor(epoch(lag(ts) OVER w)) > 1800
              THEN 1 ELSE 0 END AS new_sess
  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
), tagged AS (
  SELECT user_id, event_id, ts, event_type,
         sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sess_id
  FROM gaps
), ranked AS (
  SELECT user_id, sess_id, event_type,
         row_number() OVER (PARTITION BY user_id, sess_id
                            ORDER BY ts, event_id) AS rn,
         row_number() OVER (PARTITION BY user_id, sess_id
                            ORDER BY ts DESC, event_id DESC) AS rn_d
  FROM tagged
), sess AS (
  SELECT user_id, sess_id,
         CAST(count(*) AS BIGINT) AS n_events,
         max(CASE WHEN rn = 1 THEN event_type END) AS entry_type,
         max(CASE WHEN rn_d = 1 THEN event_type END) AS exit_type
  FROM ranked GROUP BY 1, 2
)
SELECT entry_type,
       CAST(count(*) AS BIGINT) AS n_sessions,
       CAST(sum(CASE WHEN n_events = 1 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_bounces,
       CAST(sum(n_events) AS BIGINT) AS n_events_total,
       CAST(sum(CASE WHEN exit_type = entry_type THEN 1 ELSE 0 END)
            AS BIGINT) AS n_exit_same,
       CAST(sum(CASE WHEN n_events = 1 THEN 1 ELSE 0 END) AS DOUBLE)
         / count(*) AS bounce_rate,
       CAST(sum(n_events) AS DOUBLE) / count(*) AS avg_session_events
FROM sess GROUP BY entry_type
ORDER BY entry_type
"""


def evt_theil_sen_slope(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theil-Sen robust trend slope per event type — the median of all
    pairwise slopes (y_j−y_i)/(d_j−d_i) over the daily series, the
    estimator Mann-Kendall deliberately left un-exported because a
    rounded rational median carries real cross-engine tie risk. Made
    safe here by exporting the median AS AN EXACT RATIONAL: each pair
    slope is an integer pair (num, den>0); both engines order by the
    identical double num/den (same exact-int inputs → same doubles)
    with (num, den) tie-breaks, pick the middle element(s) by
    row_number, and an even count averages two rationals EXACTLY:
    (n₁d₂+n₂d₁)/(2d₁d₂) — all BIGINT (ANSI-loud), magnitudes tiny
    (cents × days). slope_cents_per_day derives UNROUNDED from the two
    exported integers. Pair volume is |days|²/2 per type — calendar-
    bounded, independent of event count (the Mann-Kendall join shape);
    the fact table is touched once (persisted daily aggregate)."""
    daily = TS.daily_cents(load_table(spark, sf_dir, "events")).persist()
    a = daily.select(
        "event_type", F.col("d").alias("d1"), F.col("cents").alias("y1")
    )
    b = daily.select(
        "event_type", F.col("d").alias("d2"), F.col("cents").alias("y2")
    )
    pairs = (
        a.join(b, "event_type")
        .where(F.col("d1") < F.col("d2"))
        .select(
            "event_type",
            (F.col("y2") - F.col("y1")).alias("num"),
            (F.col("d2") - F.col("d1")).alias("den"),
        )
    )
    wv = Window.partitionBy("event_type").orderBy(
        (F.col("num").cast("double") / F.col("den")).asc(),
        F.col("num").asc(),
        F.col("den").asc(),
    )
    ranked = pairs.withColumn("rn", F.row_number().over(wv)).join(
        pairs.groupBy("event_type").agg(
            F.count(F.lit(1)).cast("long").alias("n_pairs")
        ),
        "event_type",
    )
    lo = (F.col("n_pairs") + 1) / 2  # 1-indexed middle (floor via cast)
    hi = (F.col("n_pairs") + 2) / 2
    mid = ranked.where(
        (F.col("rn") == lo.cast("long")) | (F.col("rn") == hi.cast("long"))
    )
    med = mid.groupBy("event_type", "n_pairs").agg(
        F.min(F.struct("rn", "num", "den")).alias("m1"),
        F.max(F.struct("rn", "num", "den")).alias("m2"),
    )
    med_num = F.when(
        F.col("m1.rn") == F.col("m2.rn"), F.col("m1.num")
    ).otherwise(
        F.col("m1.num") * F.col("m2.den") + F.col("m2.num") * F.col("m1.den")
    )
    med_den = F.when(
        F.col("m1.rn") == F.col("m2.rn"), F.col("m1.den")
    ).otherwise(F.lit(2) * F.col("m1.den") * F.col("m2.den"))
    return med.select(
        "event_type",
        "n_pairs",
        med_num.cast("long").alias("med_num"),
        med_den.cast("long").alias("med_den"),
        (med_num.cast("double") / med_den.cast("double")).alias(
            "theil_sen_slope"
        ),
    ).orderBy("event_type")


_THEIL_SEN_SQL = f"""
WITH {_DAILY_CENTS_CTE}, pairs AS (
  SELECT a.event_type,
         b.cents - a.cents AS num,
         b.d - a.d AS den
  FROM daily a JOIN daily b
    ON a.event_type = b.event_type AND a.d < b.d
), ranked AS (
  SELECT event_type, num, den,
         row_number() OVER (PARTITION BY event_type
             ORDER BY CAST(num AS DOUBLE) / den ASC, num ASC, den ASC)
           AS rn,
         CAST(count(*) OVER (PARTITION BY event_type) AS BIGINT) AS n_pairs
  FROM pairs
), mid AS (
  SELECT * FROM ranked
  WHERE rn = CAST(floor((n_pairs + 1) / 2.0) AS BIGINT)
     OR rn = CAST(floor((n_pairs + 2) / 2.0) AS BIGINT)
), med AS (
  SELECT event_type, n_pairs,
         min(struct_pack(rn := rn, num := num, den := den)) AS m1,
         max(struct_pack(rn := rn, num := num, den := den)) AS m2
  FROM mid GROUP BY 1, 2
)
SELECT event_type, n_pairs,
       CAST(CASE WHEN m1['rn'] = m2['rn'] THEN m1['num']
                 ELSE m1['num'] * m2['den'] + m2['num'] * m1['den'] END
            AS BIGINT) AS med_num,
       CAST(CASE WHEN m1['rn'] = m2['rn'] THEN m1['den']
                 ELSE 2 * m1['den'] * m2['den'] END AS BIGINT) AS med_den,
       CAST(CASE WHEN m1['rn'] = m2['rn'] THEN m1['num']
                 ELSE m1['num'] * m2['den'] + m2['num'] * m1['den'] END
            AS DOUBLE)
         / CAST(CASE WHEN m1['rn'] = m2['rn'] THEN m1['den']
                     ELSE 2 * m1['den'] * m2['den'] END AS DOUBLE)
         AS theil_sen_slope
FROM med
ORDER BY event_type
"""


def lineitem_weighted_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """QUANTITY-WEIGHTED median and quartiles of line price per return
    flag — "the price at which half the UNITS move", which a row-median
    (a14_percentiles) gets wrong whenever cheap lines carry big
    quantities. Exact by the grid trick: prices collapse to the integer-
    cents lattice with summed integer weights, the cumulative pass runs
    over grid cells, and the weighted quantile is the SMALLEST cents
    value whose cumulative weight reaches ⌈q·W⌉ (type-1 / lower
    quantile — a deterministic pure-integer definition, no
    interpolation, no tie hazard). Every export is an exact integer.
    One combinable fact pass; windows over lattice cells only."""
    li = load_table(spark, sf_dir, "lineitem").where(
        F.col("l_extendedprice").isNotNull() & F.col("l_quantity").isNotNull()
    )
    grid = li.groupBy(
        "l_returnflag",
        F.round(F.col("l_extendedprice") * 100)
        .cast("long")
        .alias("cents"),
    ).agg(
        F.sum(F.round(F.col("l_quantity")).cast("long"))
        .cast("long")
        .alias("wt"),
        F.count(F.lit(1)).cast("long").alias("n_rows"),
    )
    w_cum = (
        Window.partitionBy("l_returnflag")
        .orderBy("cents")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    tot = grid.groupBy("l_returnflag").agg(
        F.sum("wt").cast("long").alias("total_wt"),
        F.sum("n_rows").cast("long").alias("n_lines"),
    )
    cum = grid.withColumn("cum_wt", F.sum("wt").over(w_cum).cast("long")).join(
        F.broadcast(tot), "l_returnflag"
    )

    def q_cents(num: int, den: int) -> F.Column:
        # smallest cents with cum_wt*den >= num*total_wt  (⌈q·W⌉ rank)
        return F.min(
            F.when(
                F.col("cum_wt") * den >= F.col("total_wt") * num,
                F.col("cents"),
            )
        )

    return (
        cum.groupBy("l_returnflag", "total_wt", "n_lines")
        .agg(
            q_cents(1, 4).alias("wq25_cents"),
            q_cents(1, 2).alias("wmedian_cents"),
            q_cents(3, 4).alias("wq75_cents"),
        )
        .select(
            "l_returnflag",
            "n_lines",
            "total_wt",
            "wq25_cents",
            "wmedian_cents",
            "wq75_cents",
        )
        .orderBy("l_returnflag")
    )


_WEIGHTED_MEDIAN_SQL = """
WITH grid AS (
  SELECT l_returnflag,
         CAST(round(l_extendedprice * 100) AS BIGINT) AS cents,
         CAST(sum(CAST(round(l_quantity) AS BIGINT)) AS BIGINT) AS wt,
         CAST(count(*) AS BIGINT) AS n_rows
  FROM lineitem
  WHERE l_extendedprice IS NOT NULL AND l_quantity IS NOT NULL
  GROUP BY 1, 2
), tot AS (
  SELECT l_returnflag,
         CAST(sum(wt) AS BIGINT) AS total_wt,
         CAST(sum(n_rows) AS BIGINT) AS n_lines
  FROM grid GROUP BY 1
), cum AS (
  SELECT g.l_returnflag, g.cents,
         CAST(sum(g.wt) OVER (PARTITION BY g.l_returnflag ORDER BY g.cents
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
           AS cum_wt,
         t.total_wt, t.n_lines
  FROM grid g JOIN tot t USING (l_returnflag)
)
SELECT l_returnflag, n_lines, total_wt,
       CAST(min(CASE WHEN cum_wt * 4 >= total_wt * 1 THEN cents END)
            AS BIGINT) AS wq25_cents,
       CAST(min(CASE WHEN cum_wt * 2 >= total_wt * 1 THEN cents END)
            AS BIGINT) AS wmedian_cents,
       CAST(min(CASE WHEN cum_wt * 4 >= total_wt * 3 THEN cents END)
            AS BIGINT) AS wq75_cents
FROM cum GROUP BY 1, 2, 3
ORDER BY l_returnflag
"""


def evt_proportion_ztest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-proportion z-test of purchase RATE between the user-parity
    A/B cohorts — the categorical counterpart to evt_ab_bootstrap's
    value-mean CI (rates need the pooled-variance z, not a bootstrap
    over values). All inputs are exact integer counts from one
    combinable fact pass; the rates and their difference derive
    UNROUNDED (single/compound divisions of exact ints, identical IEEE
    sequence), and only the z statistic itself (sqrt of a pooled
    product) rounds at 6dp. Cohort = user_id parity — the same
    deterministic split evt_ab_bootstrap uses, so the two tests read
    the same experiment."""
    e = load_table(spark, sf_dir, "events").where(F.col("user_id").isNotNull())
    g = e.groupBy((F.col("user_id") % 2 == 0).alias("is_a")).agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(F.when(F.col("event_type") == "purchase", 1).otherwise(0))
        .cast("long")
        .alias("k"),
    )
    a = g.where(F.col("is_a")).select(
        F.col("n").alias("n_a"), F.col("k").alias("k_a")
    )
    b = g.where(~F.col("is_a")).select(
        F.col("n").alias("n_b"), F.col("k").alias("k_b")
    )
    j = a.join(F.broadcast(b))
    p_a = F.col("k_a").cast("double") / F.col("n_a")
    p_b = F.col("k_b").cast("double") / F.col("n_b")
    pool = (F.col("k_a") + F.col("k_b")).cast("double") / (
        F.col("n_a") + F.col("n_b")
    )
    se = F.sqrt(
        pool
        * (1.0 - pool)
        * (1.0 / F.col("n_a") + 1.0 / F.col("n_b"))
    )
    return j.select(
        "n_a",
        "k_a",
        "n_b",
        "k_b",
        p_a.alias("rate_a"),
        p_b.alias("rate_b"),
        (p_a - p_b).alias("rate_diff"),
        F.when(se > 0, F.round((p_a - p_b) / se, 6)).alias("z_stat"),
    )


_PROP_ZTEST_SQL = """
WITH g AS (
  SELECT (user_id % 2 = 0) AS is_a,
         CAST(count(*) AS BIGINT) AS n,
         CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
              AS BIGINT) AS k
  FROM events WHERE user_id IS NOT NULL GROUP BY 1
), a AS (
  SELECT n AS n_a, k AS k_a FROM g WHERE is_a
), b AS (
  SELECT n AS n_b, k AS k_b FROM g WHERE NOT is_a
)
SELECT n_a, k_a, n_b, k_b,
       CAST(k_a AS DOUBLE) / n_a AS rate_a,
       CAST(k_b AS DOUBLE) / n_b AS rate_b,
       CAST(k_a AS DOUBLE) / n_a - CAST(k_b AS DOUBLE) / n_b AS rate_diff,
       CASE WHEN sqrt((CAST(k_a + k_b AS DOUBLE) / (n_a + n_b))
                      * (1.0 - CAST(k_a + k_b AS DOUBLE) / (n_a + n_b))
                      * (1.0 / n_a + 1.0 / n_b)) > 0
            THEN round((CAST(k_a AS DOUBLE) / n_a
                        - CAST(k_b AS DOUBLE) / n_b)
                       / sqrt((CAST(k_a + k_b AS DOUBLE) / (n_a + n_b))
                              * (1.0 - CAST(k_a + k_b AS DOUBLE)
                                       / (n_a + n_b))
                              * (1.0 / n_a + 1.0 / n_b)), 6)
       END AS z_stat
FROM a CROSS JOIN b
"""


def evt_isotonic_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Isotonic (monotone non-decreasing) regression of the daily
    revenue series per event type — PAVA, the calibration/monotone-
    trend primitive (MLlib ships it as IsotonicRegression; reference
    analytics scope: trend extraction over the notebooks' per-day
    aggregates). The engine side runs the exact-integer PAVA kernel
    (operators/timeseries.py:isotonic_blocks — applyInPandas over the
    calendar-bounded daily grid, cross-multiplied integer compares, no
    floats in the merge), exporting one row per fitted block with
    exact-integer (start, end, days, cents) and the UNROUNDED derived
    block mean. The oracle recovers the identical fit from the minimax
    characterization fit_i = max_{j<=i} min_{k>=i} mean(y_j..y_k) in
    O(days²) window passes — distinct block-mean rationals (num <= 4e8
    cents, den <= days) differ by >= 1/den² >> double ulp at this
    magnitude, so the double-valued minimax orders and groups them
    exactly, and equal rationals produce bit-identical correctly-
    rounded doubles. Pair volume is |days|²/2 per type (the Mann-
    Kendall / Theil-Sen calendar-bounded join shape); the fact table
    is touched once."""
    daily = TS.daily_cents(load_table(spark, sf_dir, "events"))
    return TS.isotonic_blocks(daily).orderBy("event_type", "block_start_day")


_ISOTONIC_SQL = f"""
WITH {_DAILY_CENTS_CTE}, seq AS (
  SELECT event_type, d, cents,
         row_number() OVER (PARTITION BY event_type ORDER BY d) AS rn,
         CAST(sum(cents) OVER (PARTITION BY event_type ORDER BY d)
              AS BIGINT) AS s
  FROM daily
), grid AS (
  SELECT a.event_type, a.rn AS j, b.rn AS k,
         CAST(b.s - a.s + a.cents AS DOUBLE) / (b.rn - a.rn + 1) AS a_val
  FROM seq a JOIN seq b
    ON a.event_type = b.event_type AND a.rn <= b.rn
), rmin AS (
  SELECT event_type, j, k AS i,
         min(a_val) OVER (PARTITION BY event_type, j ORDER BY k
                          ROWS BETWEEN CURRENT ROW
                          AND UNBOUNDED FOLLOWING) AS b_val
  FROM grid
), fit AS (
  SELECT event_type, i AS rn, max(b_val) AS fit_val
  FROM rmin GROUP BY 1, 2
), runs AS (
  SELECT s.event_type, s.d, s.rn, s.cents, f.fit_val,
         CASE WHEN lag(f.fit_val) OVER (PARTITION BY s.event_type
                                        ORDER BY s.rn) = f.fit_val
              THEN 0 ELSE 1 END AS brk
  FROM seq s JOIN fit f
    ON s.event_type = f.event_type AND s.rn = f.rn
), blocks AS (
  SELECT event_type, d, cents, rn,
         CAST(sum(brk) OVER (PARTITION BY event_type ORDER BY rn)
              AS BIGINT) AS blk
  FROM runs
)
SELECT event_type,
       CAST(min(d) AS BIGINT) AS block_start_day,
       CAST(max(d) AS BIGINT) AS block_end_day,
       CAST(count(*) AS BIGINT) AS block_days,
       CAST(sum(cents) AS BIGINT) AS block_cents,
       CAST(sum(cents) AS DOUBLE) / count(*) AS iso_fit_cents
FROM blocks
GROUP BY event_type, blk
ORDER BY event_type, block_start_day
"""


def copurchase_item_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Item-item collaborative-filtering neighbors — the recsys staple:
    cosine similarity between brands over the binary customer×brand
    interaction matrix, cos(a,b) = |U_a ∩ U_b| / sqrt(|U_a|·|U_b|), and
    the top-3 neighbors per brand. Complements basket_brand_rules
    (order-level directional association rules) with customer-level
    symmetric similarity + per-item ranking.

    Plan: lineitem→orders equi-join (AQE handles the fact-fact side),
    broadcast part dim, ONE distinct (custkey, brand) pass persisted
    (feeds the degree frame and the pair self-join), self-join on the
    customer key (fan-out bounded by brands-per-customer² <= 25², never
    item-catalog²), combinable pair groupBy, broadcast degree joins.
    At catalog scale the self-join fan-out is capped by pruning
    heavy users (|items_u| > cap contributes cap² pairs max) — the
    standard co-occurrence contract (SIM.cooccurrence_edges).

    Determinism: cosine = exact-int common / sqrt(exact-int product) —
    sqrt and ÷ are IEEE correctly-rounded, so both engines derive
    BIT-IDENTICAL doubles from identical integers; the rank window
    orders on that exact double with a brand-asc tie-break, so no
    rounding is needed anywhere (the rank-on-rounded rule exists for
    ln/exp-derived scores; ÷ and sqrt are exempt by construction)."""
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    pt = load_table(spark, sf_dir, "part")
    cb = (
        li.select("l_orderkey", "l_partkey")
        .join(
            o.select("o_orderkey", "o_custkey"),
            li["l_orderkey"] == o["o_orderkey"],
        )
        .join(
            F.broadcast(pt.select("p_partkey", "p_brand")),
            li["l_partkey"] == pt["p_partkey"],
        )
        .select(F.col("o_custkey").alias("u"), F.col("p_brand").alias("b"))
        .distinct()
        .persist()
    )
    deg = cb.groupBy("b").agg(F.count(F.lit(1)).cast("long").alias("n_users"))
    a = cb.select("u", F.col("b").alias("brand"))
    c = cb.select("u", F.col("b").alias("neighbor"))
    pairs = (
        a.join(c, "u")
        .where(F.col("brand") != F.col("neighbor"))
        .groupBy("brand", "neighbor")
        .agg(F.count(F.lit(1)).cast("long").alias("common"))
        .where(F.col("common") >= 2)
    )
    da = deg.select(F.col("b").alias("brand"), F.col("n_users").alias("n_brand"))
    db = deg.select(
        F.col("b").alias("neighbor"), F.col("n_users").alias("n_neighbor")
    )
    cos = (
        pairs.join(F.broadcast(da), "brand")
        .join(F.broadcast(db), "neighbor")
        .withColumn(
            "cosine",
            F.col("common").cast("double")
            / F.sqrt((F.col("n_brand") * F.col("n_neighbor")).cast("double")),
        )
    )
    w = Window.partitionBy("brand").orderBy(
        F.col("cosine").desc(), F.col("neighbor").asc()
    )
    return (
        cos.withColumn("rnk", F.row_number().over(w))
        .where(F.col("rnk") <= 3)
        .select(
            "brand",
            "rnk",
            "neighbor",
            "common",
            "n_brand",
            "n_neighbor",
            "cosine",
        )
        .orderBy("brand", "rnk")
    )


_COPURCHASE_SQL = """
WITH cb AS (
  SELECT DISTINCT o.o_custkey AS u, p.p_brand AS b
  FROM lineitem l
  JOIN orders o ON l.l_orderkey = o.o_orderkey
  JOIN part p ON l.l_partkey = p.p_partkey
), deg AS (
  SELECT b, CAST(count(*) AS BIGINT) AS n_users FROM cb GROUP BY b
), pairs AS (
  SELECT a.b AS brand, c.b AS neighbor, CAST(count(*) AS BIGINT) AS common
  FROM cb a JOIN cb c ON a.u = c.u AND a.b <> c.b
  GROUP BY 1, 2 HAVING count(*) >= 2
), cos AS (
  SELECT p.brand, p.neighbor, p.common,
         da.n_users AS n_brand, db.n_users AS n_neighbor,
         CAST(p.common AS DOUBLE)
           / sqrt(CAST(da.n_users * db.n_users AS DOUBLE)) AS cosine
  FROM pairs p
  JOIN deg da ON da.b = p.brand
  JOIN deg db ON db.b = p.neighbor
), ranked AS (
  SELECT *, row_number() OVER (PARTITION BY brand
                               ORDER BY cosine DESC, neighbor ASC) AS rnk
  FROM cos
)
SELECT brand, CAST(rnk AS INTEGER) AS rnk, neighbor, common,
       n_brand, n_neighbor, cosine
FROM ranked WHERE rnk <= 3
ORDER BY brand, rnk
"""


def evt_runs_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wald-Wolfowitz runs test for randomness of the daily revenue
    series per event type — are above-median and below-median days
    randomly interleaved, or do they clump (momentum) / alternate
    (mean-reversion)? Classic nonparametric companion to Mann-Kendall
    (monotone trend) and the runs/CUSUM family.

    Days equal to the median are excluded (standard practice); the
    median is F.percentile == quantile_cont (documented cross-engine-
    stable interpolation on exact-integer cents). runs = 1 + #(sign
    changes) via one lag window; E[R] = 1 + 2·n1·n2/n and
    Var[R] = 2n1n2(2n1n2−n) / (n²(n−1)) are single IEEE divisions of
    exact integers (magnitudes << 2^53), and z = (R − E)/sqrt(V) chains
    only correctly-rounded ops (÷, sqrt, +/−) on them — both engines
    derive BIT-IDENTICAL doubles, so every float exports UNROUNDED.
    The whole statistic is the SHARED combine operators/timeseries.py:
    runs_test_from_daily (streaming.grid_monitor.start_daily_cents_monitor
    replays it per micro-batch over the maintained grid). Plan: one
    daily groupBy, one percentile agg joined back broadcast, one lag
    window, one combinable final agg — all calendar-bounded."""
    daily = TS.daily_cents(load_table(spark, sf_dir, "events"))
    return TS.runs_test_from_daily(daily)


_RUNS_TEST_SQL = f"""
WITH {_DAILY_CENTS_CTE}, med AS (
  SELECT event_type, quantile_cont(cents, 0.5) AS med
  FROM daily GROUP BY 1
), sgn AS (
  SELECT d.event_type, d.d,
         CASE WHEN CAST(d.cents AS DOUBLE) > m.med THEN 1 ELSE 0 END AS sign
  FROM daily d JOIN med m ON d.event_type = m.event_type
  WHERE CAST(d.cents AS DOUBLE) <> m.med
), lagged AS (
  SELECT event_type, sign,
         lag(sign) OVER (PARTITION BY event_type ORDER BY d) AS prev
  FROM sgn
), runs AS (
  SELECT event_type,
         CAST(sum(CASE WHEN prev IS NULL OR sign <> prev
                       THEN 1 ELSE 0 END) AS BIGINT) AS n_runs,
         CAST(sum(sign) AS BIGINT) AS n_above,
         CAST(sum(1 - sign) AS BIGINT) AS n_below
  FROM lagged GROUP BY 1
)
SELECT event_type, n_runs, n_above, n_below,
       1.0 + CAST(2 * n_above * n_below AS DOUBLE)
           / CAST(n_above + n_below AS DOUBLE) AS expected_runs,
       CASE WHEN CAST(2 * n_above * n_below
                      * (2 * n_above * n_below - (n_above + n_below))
                      AS DOUBLE)
                 / CAST((n_above + n_below) * (n_above + n_below)
                        * (n_above + n_below - 1) AS DOUBLE) > 0
            THEN (CAST(n_runs AS DOUBLE)
                  - (1.0 + CAST(2 * n_above * n_below AS DOUBLE)
                         / CAST(n_above + n_below AS DOUBLE)))
                 / sqrt(CAST(2 * n_above * n_below
                             * (2 * n_above * n_below
                                - (n_above + n_below)) AS DOUBLE)
                        / CAST((n_above + n_below) * (n_above + n_below)
                               * (n_above + n_below - 1) AS DOUBLE))
       END AS z_stat
FROM runs
ORDER BY event_type
"""


_TWO_PI = 6.283185307179586


def evt_spectral_dft(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-frequency periodogram of the daily revenue series per
    event type — normalized DFT power at candidate periods 2..14 days,
    the signal-processing seasonality detector complementing
    evt_dow_seasonality's fixed weekly buckets (here the weekly cycle
    must EMERGE as a power peak at period 7 rather than being baked
    into the grouping):

        power(p) = [Σ ŷ·cos(2π(d mod p)/p)]² + [Σ ŷ·sin(...)]²
        norm_power(p) = power(p) / Σ ŷ²,   ŷ = cents − mean

    The phase uses the INTEGER (d mod p) — exact in both engines and
    bounding the trig argument to [0, 2π), so cross-engine cos/sin
    last-ulp noise stays ~1e-16 per term and the 6dp round absorbs it
    (sums are order-dependent anyway; irrational values, tie-free).
    Plan: one daily groupBy, a broadcast mean join, a 13-literal
    explode (map-side ×13 fan-out of the calendar-bounded grid), one
    combinable (type, period) agg."""
    daily = TS.daily_cents(load_table(spark, sf_dir, "events"))
    stats = daily.groupBy("event_type").agg(
        F.sum("cents").cast("double").alias("s"),
        F.count(F.lit(1)).cast("double").alias("n"),
    )
    periods = F.explode(
        F.array(*[F.lit(p) for p in range(2, 15)])
    ).alias("period")
    dem = (
        daily.join(F.broadcast(stats), "event_type")
        .select(
            "event_type",
            "d",
            (F.col("cents").cast("double") - F.col("s") / F.col("n")).alias(
                "y"
            ),
        )
        .select("event_type", "d", "y", periods)
    )
    theta = (
        F.lit(_TWO_PI) * (F.col("d") % F.col("period")).cast("double")
    ) / F.col("period").cast("double")
    agg = (
        dem.withColumn("theta", theta)
        .groupBy("event_type", "period")
        .agg(
            F.sum(F.col("y") * F.cos("theta")).alias("sc"),
            F.sum(F.col("y") * F.sin("theta")).alias("ss"),
            F.sum(F.col("y") * F.col("y")).alias("ssq"),
            F.count(F.lit(1)).cast("long").alias("n_days"),
        )
    )
    return (
        agg.select(
            "event_type",
            "period",
            "n_days",
            F.when(
                F.col("ssq") > 0,
                F.round(
                    (
                        F.col("sc") * F.col("sc")
                        + F.col("ss") * F.col("ss")
                    )
                    / F.col("ssq"),
                    6,
                ),
            ).alias("norm_power"),
        )
        .orderBy("event_type", "period")
    )


_SPECTRAL_SQL = f"""
WITH {_DAILY_CENTS_CTE}, stats AS (
  SELECT event_type, CAST(sum(cents) AS DOUBLE) AS s,
         CAST(count(*) AS DOUBLE) AS n
  FROM daily GROUP BY 1
), dem AS (
  SELECT d.event_type, d.d,
         CAST(d.cents AS DOUBLE) - st.s / st.n AS y,
         p.period
  FROM daily d
  JOIN stats st ON d.event_type = st.event_type
  CROSS JOIN (SELECT unnest(range(2, 15)) AS period) p
), ph AS (
  SELECT event_type, period, y,
         ({_TWO_PI!r} * CAST(d % period AS DOUBLE))
           / CAST(period AS DOUBLE) AS theta
  FROM dem
), agg AS (
  SELECT event_type, period,
         sum(y * cos(theta)) AS sc,
         sum(y * sin(theta)) AS ss,
         sum(y * y) AS ssq,
         CAST(count(*) AS BIGINT) AS n_days
  FROM ph GROUP BY 1, 2
)
SELECT event_type, CAST(period AS INTEGER) AS period, n_days,
       CASE WHEN ssq > 0
            THEN round((sc * sc + ss * ss) / ssq, 6) END AS norm_power
FROM agg
ORDER BY event_type, period
"""


def evt_spearman_corr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spearman rank correlation between every pair of event types'
    daily revenue series (aligned on SHARED days) — the robust
    companion to evt_lag_correlation's Pearson: monotone co-movement
    without the linearity assumption. Average-tie ranks are kept as
    EXACT INTEGERS by the ×2 trick (2·avg_rank = 2·rank + ties − 1),
    and the Pearson-on-ranks formula runs on exact integer sums:
    ρ = (nΣxy − ΣxΣy) / (sqrt(nΣx² − (Σx)²)·sqrt(nΣy² − (Σy)²)) —
    the two factors stay < 2^53 separately (their PRODUCT would not,
    hence sqrt-then-multiply), so both engines derive bit-identical
    doubles and ρ exports UNROUNDED.

    Plan: one daily combinable agg over the fact table, a per-day
    equi-join between type pairs (|types|²·days rows — calendar- and
    cardinality-bounded), two rank windows over the pair-aligned
    series, one combinable final agg per pair."""
    daily = TS.daily_cents(load_table(spark, sf_dir, "events"))
    a = daily.select(
        F.col("event_type").alias("type_a"), "d", F.col("cents").alias("ca")
    )
    b = daily.select(
        F.col("event_type").alias("type_b"), "d", F.col("cents").alias("cb")
    )
    j = a.join(b, "d").where(F.col("type_a") < F.col("type_b"))

    def rank2(val: str) -> F.Column:
        # 2 × average-tie rank, an exact integer
        wr = Window.partitionBy("type_a", "type_b").orderBy(val)
        wt = Window.partitionBy("type_a", "type_b", val)
        return (
            F.lit(2) * F.rank().over(wr) + F.count(F.lit(1)).over(wt) - 2
        ).cast("long")

    rk = j.select(
        "type_a", "type_b", rank2("ca").alias("x"), rank2("cb").alias("y")
    )
    agg = rk.groupBy("type_a", "type_b").agg(
        F.count(F.lit(1)).cast("long").alias("n_days"),
        F.sum(F.col("x") * F.col("y")).cast("long").alias("sxy"),
        F.sum("x").cast("long").alias("sx"),
        F.sum("y").cast("long").alias("sy"),
        F.sum(F.col("x") * F.col("x")).cast("long").alias("sxx"),
        F.sum(F.col("y") * F.col("y")).cast("long").alias("syy"),
    )
    n = F.col("n_days")
    num = (n * F.col("sxy") - F.col("sx") * F.col("sy")).cast("double")
    dx = (n * F.col("sxx") - F.col("sx") * F.col("sx")).cast("double")
    dy = (n * F.col("syy") - F.col("sy") * F.col("sy")).cast("double")
    return (
        agg.select(
            "type_a",
            "type_b",
            "n_days",
            F.when(
                (dx > 0) & (dy > 0), num / (F.sqrt(dx) * F.sqrt(dy))
            ).alias("spearman_rho"),
        )
        .orderBy("type_a", "type_b")
    )


_SPEARMAN_SQL = f"""
WITH {_DAILY_CENTS_CTE}, j AS (
  SELECT a.event_type AS type_a, b.event_type AS type_b, a.d,
         a.cents AS ca, b.cents AS cb
  FROM daily a JOIN daily b
    ON a.d = b.d AND a.event_type < b.event_type
), rk AS (
  SELECT type_a, type_b,
         CAST(2 * rank() OVER (PARTITION BY type_a, type_b ORDER BY ca)
              + count(*) OVER (PARTITION BY type_a, type_b, ca) - 2
              AS BIGINT) AS x,
         CAST(2 * rank() OVER (PARTITION BY type_a, type_b ORDER BY cb)
              + count(*) OVER (PARTITION BY type_a, type_b, cb) - 2
              AS BIGINT) AS y
  FROM j
), agg AS (
  SELECT type_a, type_b,
         CAST(count(*) AS BIGINT) AS n_days,
         CAST(sum(x * y) AS BIGINT) AS sxy,
         CAST(sum(x) AS BIGINT) AS sx,
         CAST(sum(y) AS BIGINT) AS sy,
         CAST(sum(x * x) AS BIGINT) AS sxx,
         CAST(sum(y * y) AS BIGINT) AS syy
  FROM rk GROUP BY 1, 2
)
SELECT type_a, type_b, n_days,
       CASE WHEN CAST(n_days * sxx - sx * sx AS DOUBLE) > 0
             AND CAST(n_days * syy - sy * sy AS DOUBLE) > 0
            THEN CAST(n_days * sxy - sx * sy AS DOUBLE)
                 / (sqrt(CAST(n_days * sxx - sx * sx AS DOUBLE))
                    * sqrt(CAST(n_days * syy - sy * sy AS DOUBLE)))
       END AS spearman_rho
FROM agg
ORDER BY type_a, type_b
"""


def evt_kendalls_w(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kendall's W — concordance of the event-type revenue RANKING
    across ISO-style weeks: do the same types win every week (W→1) or
    does the leaderboard reshuffle (W→0)? The panel-agreement statistic
    (k types ranked by m weekly "judges").

    Ranks are row_number over (week, cents DESC, type) — deterministic
    integer ranks on exact integer cents (documented tie-break by type
    name; the exact-integer alternative to average-tie ranks here,
    since W's tie correction would reintroduce rationals). The spread
    statistic is kept integer by clearing the rational mean:
    S4 = Σ_t (2·R_t − m(k+1))² = 4S, and W = 3·S4 / (m²·k(k²−1))
    derives UNROUNDED from exact integers. Plan: one (type, week)
    combinable agg, one rank window over week cells, one type agg, one
    tiny final broadcast of (m, k)."""
    e = load_table(spark, sf_dir, "events").where(F.col("value").isNotNull())
    week = F.floor(TS.epoch_day("ts") / F.lit(7))
    weekly = e.groupBy(F.col("event_type"), week.alias("w")).agg(
        F.round(F.sum("value") * 100).cast("long").alias("cents")
    )
    wr = Window.partitionBy("w").orderBy(
        F.col("cents").desc(), F.col("event_type")
    )
    ranked = weekly.withColumn("r", F.row_number().over(wr).cast("long"))
    sums = ranked.groupBy("event_type").agg(
        F.sum("r").cast("long").alias("rank_sum"),
        F.count(F.lit(1)).cast("long").alias("m_weeks"),
    )
    dims = ranked.agg(
        F.count_distinct("w").cast("long").alias("m_all"),
        F.count_distinct("event_type").cast("long").alias("k_types"),
    )
    # only types present EVERY week enter the concordance panel (a
    # type absent some week has no rank there; both engines apply the
    # same completeness filter)
    full = (
        sums.crossJoin(F.broadcast(dims))
        .where(F.col("m_weeks") == F.col("m_all"))
        .persist()
    )
    kf = full.groupBy("m_all").agg(
        F.count(F.lit(1)).cast("long").alias("k_full")
    )
    joined = full.join(F.broadcast(kf), "m_all")
    dev = (
        F.lit(2) * F.col("rank_sum")
        - F.col("m_all") * (F.col("k_full") + 1)
    )
    s4 = joined.groupBy("m_all", "k_full").agg(
        F.sum(dev * dev).cast("long").alias("s4")
    )
    return (
        joined.select("event_type", "rank_sum", "m_all", "k_full")
        .join(F.broadcast(s4), ["m_all", "k_full"])
        .select(
            "event_type",
            "rank_sum",
            F.col("m_all").alias("m_weeks"),
            F.col("k_full").alias("k_types"),
            "s4",
            F.when(
                F.col("k_full") > 1,
                (F.lit(3) * F.col("s4")).cast("double")
                / (
                    F.col("m_all")
                    * F.col("m_all")
                    * F.col("k_full")
                    * (F.col("k_full") * F.col("k_full") - 1)
                ).cast("double"),
            ).alias("kendalls_w"),
        )
        .orderBy("event_type")
    )


_KENDALLS_W_SQL = """
WITH weekly AS (
  SELECT event_type,
         CAST(floor(floor(epoch(ts)) / 604800.0) AS BIGINT) AS w,
         CAST(round(sum(value) * 100) AS BIGINT) AS cents
  FROM events WHERE value IS NOT NULL GROUP BY 1, 2
), ranked AS (
  SELECT event_type, w,
         CAST(row_number() OVER (PARTITION BY w
                                 ORDER BY cents DESC, event_type)
              AS BIGINT) AS r
  FROM weekly
), sums AS (
  SELECT event_type, CAST(sum(r) AS BIGINT) AS rank_sum,
         CAST(count(*) AS BIGINT) AS m_weeks
  FROM ranked GROUP BY 1
), dims AS (
  SELECT CAST(count(DISTINCT w) AS BIGINT) AS m_all FROM ranked
), full_t AS (
  SELECT s.event_type, s.rank_sum, d.m_all
  FROM sums s CROSS JOIN dims d
  WHERE s.m_weeks = d.m_all
), kf AS (
  SELECT m_all, CAST(count(*) AS BIGINT) AS k_full
  FROM full_t GROUP BY 1
), s4_t AS (
  SELECT f.m_all, k.k_full,
         CAST(sum((2 * f.rank_sum - f.m_all * (k.k_full + 1))
                  * (2 * f.rank_sum - f.m_all * (k.k_full + 1)))
              AS BIGINT) AS s4
  FROM full_t f JOIN kf k ON f.m_all = k.m_all
  GROUP BY 1, 2
)
SELECT f.event_type, f.rank_sum,
       f.m_all AS m_weeks, k.k_full AS k_types, s.s4,
       CASE WHEN k.k_full > 1
            THEN CAST(3 * s.s4 AS DOUBLE)
                 / CAST(f.m_all * f.m_all * k.k_full
                        * (k.k_full * k.k_full - 1) AS DOUBLE)
       END AS kendalls_w
FROM full_t f
JOIN kf k ON f.m_all = k.m_all
JOIN s4_t s ON s.m_all = f.m_all AND s.k_full = k.k_full
ORDER BY f.event_type
"""


_CONF_ALPHA = 0.1


def conformal_interval_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Split-conformal prediction audit on the deflate-size linear
    probe — the distribution-free ML-ops coverage check: fit the probe
    on a TRAIN split, take the ⌈(n_cal+1)·(1−α)⌉-th smallest absolute
    residual on a CALIBRATION split as the interval half-width τ, and
    audit the guaranteed ≥(1−α) coverage on the held-out TEST split.
    Splits are the engine's multiplicative-hash assignment (50/25/25 —
    the split_assign constants), so the whole audit is a pure function
    of the data.

    Determinism: nonconformity scores are |y − pred| ROUNDED 4dp (the
    probe's residual export convention — pred is bit-identical
    cross-engine via literal weights in left-associated IEEE order);
    τ is an EXACT order statistic ranked on (score, doc_id); k comes
    from the same IEEE 0.9·(n+1) product on both sides; coverage
    derives unrounded from two exact integers. Plan: one Gram agg on
    the train split (the probe's one-scan closed-form fit), map-side
    scoring, one rank window over the calibration split, one broadcast
    of the 1-row τ frame into a combinable test-split agg. Bounded
    driver state: the 3-row split counts and the 4×4 Gram."""
    import math

    from vector_search_optimization_spark.operators import regression as REG

    feats = _probe_features(load_table(spark, sf_dir, "documents"))
    h = F.pmod(
        F.col("doc_id") * F.lit(_SPLIT_A) + F.lit(_SPLIT_B), F.lit(1000)
    )
    split = (
        F.when(h < 500, "train").when(h < 750, "cal").otherwise("test")
    )
    feats = feats.withColumn("split", split).persist()
    w = REG.fit_linear_probe(
        feats.where(F.col("split") == "train"), _PROBE_FEATS, "y_deflate"
    )
    scored = REG.score_linear_probe(feats, _PROBE_FEATS, w).withColumn(
        "score", F.round(F.abs(F.col("y_deflate") - F.col("pred")), 4)
    )
    counts = {
        r["split"]: r["n"]
        for r in scored.groupBy("split")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()  # bounded: 3 rows
    }
    n_cal = counts.get("cal", 0)
    k = math.ceil((1.0 - _CONF_ALPHA) * (n_cal + 1))
    wcal = Window.orderBy("score", "doc_id")
    tau_df = (
        scored.where(F.col("split") == "cal")
        .withColumn("rk", F.row_number().over(wcal))
        .where(F.col("rk") == k)
        .select(F.col("score").alias("tau"))
    )
    return (
        scored.where(F.col("split") == "test")
        .crossJoin(F.broadcast(tau_df))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_test"),
            F.sum(
                F.when(F.col("score") <= F.col("tau"), 1).otherwise(0)
            )
            .cast("long")
            .alias("n_covered"),
            F.first("tau").alias("tau"),
        )
        .select(
            F.lit(counts.get("train", 0)).cast("long").alias("n_train"),
            F.lit(n_cal).cast("long").alias("n_cal"),
            F.lit(k).cast("long").alias("k_rank"),
            "tau",
            "n_test",
            "n_covered",
            (F.col("n_covered").cast("double") / F.col("n_test")).alias(
                "coverage"
            ),
        )
    )


def _conformal_sql() -> str:
    """Oracle: recompute features/targets with the proven DuckDB twins
    + stdlib zlib (the _linear_probe_sql pattern), fit the TRAIN-split
    weights with the same exact-int Gram + numpy solve, then run the
    whole conformal pipeline in SQL with the weights as literals."""
    import duckdb
    import numpy as np

    con = duckdb.connect()
    feats = con.execute(
        f"""
SELECT doc_id, text,
       CAST(length(text) AS BIGINT) AS n_chars_txt,
       CAST(CASE WHEN trim(text) = '' THEN 0
            ELSE len(string_split_regex(trim(text), '\\s+')) END AS BIGINT)
         AS n_tokens,
       CAST(len(list_distinct(list_filter(
            string_split_regex(lower(trim(text)), '\\s+'),
            w -> w <> ''))) AS BIGINT) AS n_distinct
FROM '{_oracle_sf_dir()}/documents.parquet' ORDER BY doc_id
"""
    ).df()
    ys = [TX.compressed_size_py(t) for t in feats["text"]]
    train_rows = [
        ((1, int(a), int(b), int(c)), y)
        for i, a, b, c, y in zip(
            feats["doc_id"],
            feats["n_chars_txt"],
            feats["n_tokens"],
            feats["n_distinct"],
            ys,
        )
        if (int(i) * _SPLIT_A + _SPLIT_B) % 1000 < 500
    ]
    d = 4
    A = [
        [sum(r[i] * r[j] for r, _ in train_rows) for j in range(d)]
        for i in range(d)
    ]
    b = [sum(r[i] * y for r, y in train_rows) for i in range(d)]
    w = np.linalg.solve(
        np.array(A, dtype="float64"), np.array(b, dtype="float64")
    )
    w0, w1, w2, w3 = (f"{v:.17e}" for v in w)
    pred = f"{w0} + {w1} * n_chars_txt + {w2} * n_tokens + {w3} * n_distinct"
    vals = ", ".join(
        f"({int(i)}, {y})" for i, y in zip(feats["doc_id"], ys)
    )
    one_minus_alpha = 1.0 - _CONF_ALPHA
    return f"""
WITH f AS (
  SELECT d.doc_id,
         CAST(length(d.text) AS INTEGER) AS n_chars_txt,
         CAST(CASE WHEN trim(d.text) = '' THEN 0
              ELSE len(string_split_regex(trim(d.text), '\\s+')) END
              AS INTEGER) AS n_tokens,
         CAST(len(list_distinct(list_filter(
              string_split_regex(lower(trim(d.text)), '\\s+'),
              w -> w <> ''))) AS INTEGER) AS n_distinct,
         CAST(v.y AS BIGINT) AS y_deflate,
         CASE WHEN (d.doc_id * {_SPLIT_A} + {_SPLIT_B}) % 1000 < 500
              THEN 'train'
              WHEN (d.doc_id * {_SPLIT_A} + {_SPLIT_B}) % 1000 < 750
              THEN 'cal' ELSE 'test' END AS split
  FROM documents d JOIN (VALUES {vals}) AS v(doc_id, y)
    ON d.doc_id = v.doc_id
), sc AS (
  SELECT doc_id, split,
         round(abs(y_deflate - ({pred})), 4) AS score
  FROM f
), kv AS (
  SELECT CAST(count(*) AS BIGINT) AS n_cal,
         CAST(ceil({one_minus_alpha!r} * (count(*) + 1)) AS BIGINT)
           AS k_rank
  FROM sc WHERE split = 'cal'
), ranked AS (
  SELECT score, row_number() OVER (ORDER BY score, doc_id) AS rk
  FROM sc WHERE split = 'cal'
), tau AS (
  SELECT r.score AS tau FROM ranked r JOIN kv ON r.rk = kv.k_rank
), tst AS (
  SELECT CAST(count(*) AS BIGINT) AS n_test,
         CAST(sum(CASE WHEN score <= (SELECT tau FROM tau)
                       THEN 1 ELSE 0 END) AS BIGINT) AS n_covered
  FROM sc WHERE split = 'test'
)
SELECT (SELECT CAST(count(*) AS BIGINT) FROM sc WHERE split = 'train')
         AS n_train,
       kv.n_cal, kv.k_rank, tau.tau, tst.n_test, tst.n_covered,
       CAST(tst.n_covered AS DOUBLE) / tst.n_test AS coverage
FROM kv, tau, tst
"""


def source_diversity_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-diversity profile per document source — the corpus-
    composition dashboard row: how many languages does each source
    contribute, how concentrated is it (Simpson index / effective
    language count), how spread (Shannon entropy). One (source, lang)
    combinable agg + one source agg.

    Tie-proofing: Simpson Σ(cᵢ/n)² is RATIONAL — exported as the exact
    integer Σcᵢ² with n, the index and the effective-language count
    deriving UNROUNDED by single IEEE divisions (n²/Σcᵢ² likewise);
    Shannon entropy is irrational (ln of rationals) and rounds 6dp."""
    d = load_table(spark, sf_dir, "documents")
    cl = d.groupBy("source", "lang").agg(
        F.count(F.lit(1)).cast("long").alias("c")
    )
    n = F.sum("c")
    sumsq = F.sum(F.col("c") * F.col("c"))
    # window-free entropy: H = ln(n) − Σ c·ln(c)/n (identical algebra
    # both sides, one agg — no per-source share window needed)
    return (
        cl.groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_langs"),
            n.cast("long").alias("n_docs"),
            sumsq.cast("long").alias("sum_sq"),
            F.sum(F.col("c").cast("double") * F.log(F.col("c").cast("double")))
            .alias("_clnc"),
        )
        .select(
            "source",
            "n_docs",
            "n_langs",
            "sum_sq",
            (
                F.col("sum_sq").cast("double")
                / (F.col("n_docs") * F.col("n_docs")).cast("double")
            ).alias("simpson_index"),
            (
                (F.col("n_docs") * F.col("n_docs")).cast("double")
                / F.col("sum_sq").cast("double")
            ).alias("effective_langs"),
            F.round(
                F.log(F.col("n_docs").cast("double"))
                - F.col("_clnc") / F.col("n_docs").cast("double"),
                6,
            ).alias("shannon_entropy"),
        )
        .orderBy("source")
    )


_SOURCE_DIVERSITY_SQL = """
WITH cl AS (
  SELECT source, lang, CAST(count(*) AS BIGINT) AS c
  FROM documents GROUP BY 1, 2
), agg AS (
  SELECT source,
         CAST(count(*) AS BIGINT) AS n_langs,
         CAST(sum(c) AS BIGINT) AS n_docs,
         CAST(sum(c * c) AS BIGINT) AS sum_sq,
         sum(CAST(c AS DOUBLE) * ln(CAST(c AS DOUBLE))) AS clnc
  FROM cl GROUP BY 1
)
SELECT source, n_docs, n_langs, sum_sq,
       CAST(sum_sq AS DOUBLE) / CAST(n_docs * n_docs AS DOUBLE)
         AS simpson_index,
       CAST(n_docs * n_docs AS DOUBLE) / CAST(sum_sq AS DOUBLE)
         AS effective_langs,
       round(ln(CAST(n_docs AS DOUBLE))
             - clnc / CAST(n_docs AS DOUBLE), 6) AS shannon_entropy
FROM agg
ORDER BY source
"""


def g6_clustering_coeff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """G6 — per-node local clustering coefficient over the same strong
    co-occurrence graph as g5_triangle_count: C(v) = 2·T(v) / (d(v)·
    (d(v)−1)), the closed-wedge fraction that separates hub-and-spoke
    structure (low C) from dense cliques (high C). Degrees and wedge
    counts are EXACT integers; the coefficient derives unrounded from
    them (single IEEE division — the derived-ratio pattern); nodes of
    degree < 2 export NULL (no wedge to close). Triangle counting
    reuses graph.triangle_count (degree-ordered wedges, O(m^1.5));
    degrees are one combinable agg over the symmetrized edge set —
    everything downstream of the same |types|²-bounded kept-edge frame
    as G5."""
    from vector_search_optimization_spark.operators import graph as GR

    e = load_table(spark, sf_dir, "events")
    edges = SIM.cooccurrence_edges(e, "user_id", "event_type")
    maxw = edges.agg(F.max("weight").alias("max_w"))
    kept = (
        edges.crossJoin(F.broadcast(maxw))
        .where(2 * F.col("weight") >= F.col("max_w"))
        .select("src", "dst")
    )
    sym = kept.unionByName(
        kept.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    ).distinct()
    deg = sym.groupBy("src").agg(F.count(F.lit(1)).cast("long").alias("degree"))
    tri = GR.triangle_count(kept).select(
        F.col("node").alias("src"), F.col("n_triangles").cast("long").alias("n_triangles")
    )
    d = F.col("degree")
    return (
        deg.join(tri, "src", "left")
        .select(
            F.col("src").alias("event_type"),
            "degree",
            (d * (d - 1) / 2).cast("long").alias("n_wedges"),
            F.coalesce(F.col("n_triangles"), F.lit(0).cast("long")).alias(
                "n_triangles"
            ),
            F.when(
                d >= 2,
                (
                    F.lit(2)
                    * F.coalesce(F.col("n_triangles"), F.lit(0))
                ).cast("double")
                / (d * (d - 1)).cast("double"),
            ).alias("clustering_coeff"),
        )
        .orderBy("event_type")
    )


_G6_CLUSTERING_SQL = """
WITH pairs AS (SELECT DISTINCT user_id, event_type FROM events),
e0 AS (
  SELECT a.event_type AS src, b.event_type AS dst, count(*) AS weight
  FROM pairs a JOIN pairs b
    ON a.user_id = b.user_id AND a.event_type < b.event_type
  GROUP BY 1, 2
),
kept AS (
  SELECT src, dst FROM e0 WHERE 2 * weight >= (SELECT max(weight) FROM e0)
),
sym AS (
  SELECT src, dst FROM kept
  UNION
  SELECT dst AS src, src AS dst FROM kept
),
deg AS (
  SELECT src, CAST(count(*) AS BIGINT) AS degree FROM sym GROUP BY 1
),
tri AS (
  SELECT e1.src AS a, e1.dst AS b, e2.dst AS c
  FROM kept e1
  JOIN kept e2 ON e1.src = e2.src AND e1.dst < e2.dst
  JOIN kept e3 ON e3.src = e1.dst AND e3.dst = e2.dst
),
corners AS (
  SELECT a AS node FROM tri
  UNION ALL SELECT b FROM tri
  UNION ALL SELECT c FROM tri
),
tcnt AS (
  SELECT node, CAST(count(*) AS BIGINT) AS n_triangles
  FROM corners GROUP BY 1
)
SELECT d.src AS event_type, d.degree,
       CAST(d.degree * (d.degree - 1) / 2 AS BIGINT) AS n_wedges,
       coalesce(t.n_triangles, 0) AS n_triangles,
       CASE WHEN d.degree >= 2
            THEN CAST(2 * coalesce(t.n_triangles, 0) AS DOUBLE)
                 / CAST(d.degree * (d.degree - 1) AS DOUBLE)
       END AS clustering_coeff
FROM deg d LEFT JOIN tcnt t ON t.node = d.src
ORDER BY event_type
"""


def emb_eigen_spectrum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Covariance eigen-spectrum per embedding label — the LINEAR
    effective-dimension measure next to emb_intrinsic_dim's nonlinear
    two-NN MLE: per label, eigendecompose the centered covariance and
    export trace, top-1/top-5 eigenvalue shares, and the participation
    ratio (Σλ)²/Σλ² (effective rank). Together they answer "how many
    PCA dims / PQ subspaces / Matryoshka prefix dims does this cluster
    actually need" (operators/reduction.py, ann.py).

    Engine side: per-label applyInPandas numpy kernel — covariance is
    (X−μ)ᵀ(X−μ)/n (dim² floats out, never n²), eigvalsh is one
    deterministic LAPACK call per label. Oracle: the generator
    recomputes per label from the raw parquet with the SAME centered
    formula on an independently fetched row set and emits the results
    as a literal frame (the m1 center-literal oracle class); row-order
    float-sum noise between the two paths is ~1e-12 relative and the
    6dp round absorbs it. Scale: one shuffle on label; per-label cost
    n·dim² map work + a dim² eigensolve — dim-bounded, never n²."""
    emb = load_table(spark, sf_dir, "embeddings")

    def _spec(pdf) -> "pd.DataFrame":
        import pandas as pd

        X = np.stack(pdf["embedding"].to_numpy()).astype("float64")
        lab = int(pdf["label"].iloc[0])
        n, dim = X.shape
        mu = X.mean(axis=0)
        xc = X - mu
        cov = xc.T @ xc / n
        lam = np.linalg.eigvalsh(cov)[::-1]
        lam = np.clip(lam, 0.0, None)
        tr = float(lam.sum())
        sumsq = float((lam**2).sum())
        return pd.DataFrame(
            {
                "label": [lab],
                "n": [n],
                "dim": [dim],
                "trace_var": [round(tr, 6)],
                "top1_share": [
                    round(float(lam[0]) / tr, 6) if tr > 0 else None
                ],
                "top5_share": [
                    round(float(lam[:5].sum()) / tr, 6) if tr > 0 else None
                ],
                "effective_rank": [
                    round(tr * tr / sumsq, 6) if sumsq > 0 else None
                ],
            }
        )

    schema = (
        "label int, n long, dim long, trace_var double, "
        "top1_share double, top5_share double, effective_rank double"
    )
    return (
        emb.select("label", "embedding")
        .groupBy("label")
        .applyInPandas(_spec, schema=schema)
        .orderBy("label")
    )


def _emb_eigen_sql() -> str:
    """Literal-frame oracle (the m1 center-literal class): recompute
    the per-label spectrum with the SAME centered-covariance formula
    from an independently fetched row set."""
    import duckdb

    con = duckdb.connect()
    df = con.execute(
        f"SELECT label, embedding FROM "
        f"'{_oracle_sf_dir()}/embeddings.parquet' ORDER BY vec_id"
    ).df()
    rows = []
    for lab in sorted(df["label"].unique()):
        X = np.stack(
            df.loc[df["label"] == lab, "embedding"].to_numpy()
        ).astype("float64")
        n, dim = X.shape
        mu = X.mean(axis=0)
        xc = X - mu
        cov = xc.T @ xc / n
        lam = np.clip(np.linalg.eigvalsh(cov)[::-1], 0.0, None)
        tr = float(lam.sum())
        sumsq = float((lam**2).sum())
        t1 = round(float(lam[0]) / tr, 6) if tr > 0 else "NULL"
        t5 = round(float(lam[:5].sum()) / tr, 6) if tr > 0 else "NULL"
        er = round(tr * tr / sumsq, 6) if sumsq > 0 else "NULL"
        rows.append(
            f"({int(lab)}, {n}, {dim}, {round(tr, 6)!r}, {t1}, {t5}, {er})"
        )
    vals = ", ".join(rows)
    return f"""
SELECT CAST(v.label AS INTEGER) AS label,
       CAST(v.n AS BIGINT) AS n,
       CAST(v.dim AS BIGINT) AS dim,
       CAST(v.trace_var AS DOUBLE) AS trace_var,
       CAST(v.top1_share AS DOUBLE) AS top1_share,
       CAST(v.top5_share AS DOUBLE) AS top5_share,
       CAST(v.effective_rank AS DOUBLE) AS effective_rank
FROM (VALUES {vals})
  AS v(label, n, dim, trace_var, top1_share, top5_share, effective_rank)
ORDER BY label
"""


_QQ_QUANTS = (0.1, 0.25, 0.5, 0.75, 0.9)


def source_quantile_divergence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q-Q divergence of the document-length distribution per source vs
    the corpus — the quantile-grid drift audit (does a source ship
    systematically shorter/longer docs than the blend, and WHERE in
    the distribution): per source and q ∈ {.1,.25,.5,.75,.9}, the
    source quantile, the global quantile, and their gap/ratio.

    Quantiles are F.percentile == quantile_cont (the proven
    cross-engine interpolation identity on exact integer n_chars), so
    both engines derive identical doubles and every export is
    UNROUNDED except the ratio (single division of identical doubles —
    also exact, exported unrounded). Plan: one per-source percentile
    agg, one global agg broadcast onto the |sources|×5 frame."""
    d = load_table(spark, sf_dir, "documents")
    qs = list(_QQ_QUANTS)
    per_src = d.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        *[
            F.percentile(F.col("n_chars"), F.lit(q)).alias(f"q{i}")
            for i, q in enumerate(qs)
        ],
    )
    glob = d.agg(
        *[
            F.percentile(F.col("n_chars"), F.lit(q)).alias(f"g{i}")
            for i, q in enumerate(qs)
        ]
    )
    joined = per_src.crossJoin(F.broadcast(glob))
    rows = joined.select(
        "source",
        "n_docs",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(q).alias("q"),
                        F.col(f"q{i}").alias("src_val"),
                        F.col(f"g{i}").alias("global_val"),
                    )
                    for i, q in enumerate(qs)
                ]
            )
        ).alias("p"),
    )
    return rows.select(
        "source",
        "n_docs",
        F.col("p.q").alias("q"),
        F.col("p.src_val").alias("src_val"),
        F.col("p.global_val").alias("global_val"),
        (F.col("p.src_val") - F.col("p.global_val")).alias("gap"),
        F.when(
            F.col("p.global_val") > 0,
            F.col("p.src_val") / F.col("p.global_val"),
        ).alias("ratio"),
    ).orderBy("source", "q")


_QQ_SQL = f"""
WITH per_src AS (
  SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
         {', '.join(f'quantile_cont(n_chars, {q!r}) AS q{i}' for i, q in enumerate(_QQ_QUANTS))}
  FROM documents GROUP BY 1
), gq AS (
  SELECT {', '.join(f'quantile_cont(n_chars, {q!r}) AS g{i}' for i, q in enumerate(_QQ_QUANTS))}
  FROM documents
), rows_t AS (
  {' UNION ALL '.join(
    f"SELECT source, n_docs, CAST({q!r} AS DOUBLE) AS q, "
    f"CAST(q{i} AS DOUBLE) AS src_val, CAST(g{i} AS DOUBLE) AS global_val "
    f"FROM per_src CROSS JOIN gq"
    for i, q in enumerate(_QQ_QUANTS)
  )}
)
SELECT source, n_docs, q, src_val, global_val,
       src_val - global_val AS gap,
       CASE WHEN global_val > 0 THEN src_val / global_val END AS ratio
FROM rows_t
ORDER BY source, q
"""


def text_word_burstiness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Church-Gale word burstiness over the corpus — the curation
    signal that separates topical/stuffed words from evenly-spread
    function words: for the top-100 words by collection frequency,
    burstiness = cf/df (occurrences per containing document) and the
    Poisson baseline df_expected = N·(1−e^(−cf/N)); df far below the
    baseline marks template/keyword-stuffing vocabulary.

    cf and df are exact integers (one tokenize pass → per-(doc, word)
    counts → vocab-bounded word agg); burstiness derives UNROUNDED
    (single division of exact ints); the exp-bearing baseline and the
    ratio round 6dp (irrational). Top-100 ranks on (cf DESC, word) —
    exact-integer ordering, engine-deterministic. Plan: one token
    shuffle, one vocab-bounded agg, one 1-row doc-count broadcast, a
    TakeOrdered top-k (no global sort)."""
    d = load_table(spark, sf_dir, "documents")
    words = d.select(
        "doc_id",
        F.explode(
            F.filter(F.split(F.col("text"), r"\s+"), lambda s: s != "")
        ).alias("word"),
    )
    dw = words.groupBy("doc_id", "word").agg(
        F.count(F.lit(1)).cast("long").alias("k")
    )
    wstats = dw.groupBy("word").agg(
        F.sum("k").cast("long").alias("cf"),
        F.count(F.lit(1)).cast("long").alias("df"),
    )
    ndocs = d.agg(F.count(F.lit(1)).cast("long").alias("n_docs"))
    top = (
        wstats.crossJoin(F.broadcast(ndocs))
        .orderBy(F.col("cf").desc(), F.col("word"))
        .limit(100)
    )
    expected = F.col("n_docs").cast("double") * (
        F.lit(1.0)
        - F.exp(
            -(F.col("cf").cast("double") / F.col("n_docs").cast("double"))
        )
    )
    return top.select(
        "word",
        "cf",
        "df",
        "n_docs",
        (F.col("cf").cast("double") / F.col("df").cast("double")).alias(
            "burstiness"
        ),
        F.round(expected, 6).alias("df_expected"),
        F.round(F.col("df").cast("double") / expected, 6).alias(
            "df_to_expected"
        ),
    ).orderBy(F.col("cf").desc(), F.col("word"))


_BURSTINESS_SQL = r"""
WITH words AS (
  SELECT doc_id, unnest(list_filter(string_split_regex(text, '\s+'),
                                    s -> s <> '')) AS word
  FROM documents
), dw AS (
  SELECT doc_id, word, CAST(count(*) AS BIGINT) AS k
  FROM words GROUP BY 1, 2
), wstats AS (
  SELECT word, CAST(sum(k) AS BIGINT) AS cf,
         CAST(count(*) AS BIGINT) AS df
  FROM dw GROUP BY 1
), nd AS (
  SELECT CAST(count(*) AS BIGINT) AS n_docs FROM documents
), top AS (
  SELECT w.*, nd.n_docs FROM wstats w CROSS JOIN nd
  ORDER BY w.cf DESC, w.word LIMIT 100
)
SELECT word, cf, df, n_docs,
       CAST(cf AS DOUBLE) / CAST(df AS DOUBLE) AS burstiness,
       round(CAST(n_docs AS DOUBLE)
             * (1.0 - exp(-(CAST(cf AS DOUBLE) / CAST(n_docs AS DOUBLE)))),
             6) AS df_expected,
       round(CAST(df AS DOUBLE)
             / (CAST(n_docs AS DOUBLE)
                * (1.0 - exp(-(CAST(cf AS DOUBLE)
                               / CAST(n_docs AS DOUBLE))))), 6)
         AS df_to_expected
FROM top
ORDER BY cf DESC, word
"""


def evt_poisson_dispersion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Poisson overdispersion audit of daily event COUNTS per type —
    the count-data companion to the value-based drift family: under a
    Poisson arrival model the index of dispersion var/mean ≈ 1; the
    chi-square form Σ(x−x̄)²/x̄ ~ χ²(n−1) flags bursty (clumped) or
    regularized (throttled) arrivals. Counts are EXACT INTEGERS, so
    everything clears to integers: with S = Σx, Q = Σx², the statistic
    is (n·Q − S²)/S and the dispersion index is (n·Q − S²)/((n−1)·S) —
    both EXPORTED AS exact integer numerator/denominator pairs with
    the doubles derived unrounded by single IEEE divisions (the
    Theil-Sen rational-export discipline; magnitudes: daily counts
    ≤ ~1e6, n ≤ calendar days, all << 2^63). One combinable (type,
    day) count agg + one per-type agg — calendar-bounded."""
    daily = TS.daily_counts(load_table(spark, sf_dir, "events"))
    agg = daily.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n_days"),
        F.sum("x").cast("long").alias("s"),
        F.sum(F.col("x") * F.col("x")).cast("long").alias("q"),
    )
    n, s, q = F.col("n_days"), F.col("s"), F.col("q")
    num = n * q - s * s
    return (
        agg.select(
            "event_type",
            "n_days",
            s.alias("n_events"),
            num.cast("long").alias("disp_num"),
            ((n - 1) * s).cast("long").alias("disp_den"),
            F.when(
                (s > 0) & (n > 1),
                num.cast("double") / ((n - 1) * s).cast("double"),
            ).alias("dispersion_index"),
            F.when(
                s > 0, num.cast("double") / s.cast("double")
            ).alias("chi2_stat"),
        )
        .orderBy("event_type")
    )


_POISSON_DISPERSION_SQL = """
WITH daily AS (
  SELECT event_type,
         CAST(floor(floor(epoch(ts)) / 86400.0) AS BIGINT) AS d,
         CAST(count(*) AS BIGINT) AS x
  FROM events GROUP BY 1, 2
), agg AS (
  SELECT event_type,
         CAST(count(*) AS BIGINT) AS n_days,
         CAST(sum(x) AS BIGINT) AS s,
         CAST(sum(x * x) AS BIGINT) AS q
  FROM daily GROUP BY 1
)
SELECT event_type, n_days, s AS n_events,
       CAST(n_days * q - s * s AS BIGINT) AS disp_num,
       CAST((n_days - 1) * s AS BIGINT) AS disp_den,
       CASE WHEN s > 0 AND n_days > 1
            THEN CAST(n_days * q - s * s AS DOUBLE)
                 / CAST((n_days - 1) * s AS DOUBLE)
       END AS dispersion_index,
       CASE WHEN s > 0
            THEN CAST(n_days * q - s * s AS DOUBLE) / CAST(s AS DOUBLE)
       END AS chi2_stat
FROM agg
ORDER BY event_type
"""


# per-label pair-join cap for the embedding audits (VERDICT r9 item 4,
# mechanized): the r9 `hubness_label_exponent` probe measured the
# quadratic regime engaging between 800-1600 rows/label (exponent
# 0.9 -> 2.1), so labels larger than this are audited over a
# deterministic hash-ranked sample of exactly this many rows
_EMB_PAIR_LABEL_CAP = 1024


def _emb_label_capped(emb: DataFrame) -> DataFrame:
    """Deterministic ≤_EMB_PAIR_LABEL_CAP rows per label for the
    pairwise embedding audits (hubness / intrinsic-dim): rank members
    by a portable universal hash of vec_id (constants < 2^31 per the
    ANSI overflow rule; vec_id tie-break) and keep the first CAP. The
    SAME expression runs in the DuckDB oracles, so the audits stay
    value-oracled at ANY scale — below the cap (every gated sf: max
    label is 218 rows at sf0.1) the sample IS the full label and
    nothing changes; above it the per-label join cost is capped at
    CAP² instead of L² (the r9-probe-measured quadratic blowup).
    The hash composes two affine maps with DIFFERENT prime moduli —
    a single affine map mod p is monotone over runs of ~p/a
    consecutive ids, which would turn the sample into a biased id
    prefix when vec_ids are assigned sequentially; the second round's
    step (1000003·69069 ≫ p₂) wraps every increment. The largest
    intermediate is (2^31-2)·1000003 ≈ 2.2e15 — still ~4200× under
    the 2^63 ANSI LONG ceiling.

    The closing repartition matters: the cap window leaves the frame
    hash-partitioned by LABEL alone, which also satisfies the
    downstream 1-NN window's (label, i) clustering — so without it
    the whole CAP² pair fan-out runs on |labels| tasks (measured 38s
    vs 9s at 5×1600 in the r10 probe). Re-spreading by (label,
    vec_id) keeps every row's pair group intact while restoring full
    parallelism; the explicit partition count stops AQE from
    coalescing the tiny pre-fan-out frame back to one task."""
    h1 = (
        (F.col("vec_id") % F.lit(2147483647)) * F.lit(1000003) + F.lit(12345)
    ) % F.lit(2147483647)
    h = (h1 * F.lit(69069) + F.lit(1)) % F.lit(2147483629)
    w = Window.partitionBy("label").orderBy(h.asc(), F.col("vec_id").asc())
    n_parts = max(32, emb.sparkSession.sparkContext.defaultParallelism)
    return (
        emb.select("label", "vec_id", "embedding")
        .withColumn("_crn", F.row_number().over(w))
        .where(F.col("_crn") <= _EMB_PAIR_LABEL_CAP)
        .drop("_crn")
        .repartition(n_parts, "label", "vec_id")
    )


# the oracle-side mirror of _emb_label_capped — prepend as a CTE.  The
# cap literal is interpolated from _EMB_PAIR_LABEL_CAP so the two sides
# cannot drift (ADVICE r10 item 1).
_EMB_LABEL_CAPPED_CTE = f"""
capped AS (
  SELECT label, vec_id, embedding FROM (
    SELECT label, vec_id, embedding,
           row_number() OVER (
             PARTITION BY label
             ORDER BY (((CAST(vec_id AS BIGINT) % 2147483647)
                        * 1000003 + 12345)
                       % 2147483647 * 69069 + 1) % 2147483629,
                      vec_id) AS crn
    FROM embeddings)
  WHERE crn <= {_EMB_PAIR_LABEL_CAP}
)"""


def emb_intrinsic_dim(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-NN intrinsic-dimension estimate per label cluster (Facco et
    al. '17 — the MLE from nearest-neighbour distance ratios): with
    μ_i = d₂(i)/d₁(i), d̂ = n / Σ ln μ_i. Tells whether a 64-dim
    embedding cluster actually lives on a much lower-dimensional
    manifold — the measurement behind PQ/Matryoshka truncation choices
    (ann.py) and the UMAP/PCA target dims (reduction.py).

    Works entirely on SQUARED distances (ln μ = ½ ln(r₂/r₁), so
    d̂ = 2n/Σln(r₂/r₁)) — the fold-order-identical zip_with/list_reduce
    expression both engines share (functions/vector.sq_euclidean ==
    the oracle's list_reduce, the j9/m8 identity), no sqrt anywhere.
    1st/2nd NN pick by (r, j) tie-break; duplicate points (r₁ = 0)
    are excluded from the MLE. The Σ ln is order-dependent → d̂ rounds
    6dp (irrational).

    Plan: per-LABEL self-join over the _emb_label_capped sample (≤
    _EMB_PAIR_LABEL_CAP deterministic hash-ranked rows per label —
    the r10 mechanization of the subsample contract: join cost is
    min(L, CAP)², never corpus², and the identical cap expression
    runs in the oracle so the audit stays value-checked at any
    scale)."""
    emb = _emb_label_capped(load_table(spark, sf_dir, "embeddings"))
    a = emb.select(
        "label", F.col("vec_id").alias("i"), F.col("embedding").alias("va")
    )
    b = emb.select(
        "label", F.col("vec_id").alias("j"), F.col("embedding").alias("vb")
    )
    d = (
        a.join(b, "label")
        .where(F.col("i") != F.col("j"))
        .select("label", "i", "j", V.sq_euclidean("va", "vb").alias("r"))
    )
    wnn = Window.partitionBy("label", "i").orderBy("r", "j")
    nn2 = (
        d.withColumn("rn", F.row_number().over(wnn))
        .where(F.col("rn") <= 2)
        .groupBy("label", "i")
        .agg(
            F.min(F.when(F.col("rn") == 1, F.col("r"))).alias("r1"),
            F.min(F.when(F.col("rn") == 2, F.col("r"))).alias("r2"),
        )
    )
    per_label = nn2.groupBy("label").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(
            F.when(F.col("r1") > 0, F.log(F.col("r2") / F.col("r1")))
        ).alias("sum_ln"),
        F.sum(F.when(F.col("r1") > 0, 1).otherwise(0))
        .cast("long")
        .alias("n_used"),
    )
    return (
        per_label.select(
            "label",
            "n",
            "n_used",
            F.when(
                (F.col("n_used") > 0) & (F.col("sum_ln") > 0),
                F.round(
                    F.lit(2.0) * F.col("n_used") / F.col("sum_ln"), 6
                ),
            ).alias("intrinsic_dim"),
        )
        .orderBy("label")
    )


_INTRINSIC_DIM_SQL = f"""
WITH {_EMB_LABEL_CAPPED_CTE},
d AS (
  SELECT a.label, a.vec_id AS i, b.vec_id AS j,
         list_reduce(list_transform(list_zip(a.embedding, b.embedding),
              p -> (CAST(p[1] AS DOUBLE) - CAST(p[2] AS DOUBLE))
                   * (CAST(p[1] AS DOUBLE) - CAST(p[2] AS DOUBLE))),
              (x, y) -> x + y) AS r
  FROM capped a JOIN capped b
    ON a.label = b.label AND a.vec_id <> b.vec_id
), ranked AS (
  SELECT label, i, j, r,
         row_number() OVER (PARTITION BY label, i ORDER BY r, j) AS rn
  FROM d
), nn2 AS (
  SELECT label, i,
         min(CASE WHEN rn = 1 THEN r END) AS r1,
         min(CASE WHEN rn = 2 THEN r END) AS r2
  FROM ranked WHERE rn <= 2 GROUP BY 1, 2
), per_label AS (
  SELECT label,
         CAST(count(*) AS BIGINT) AS n,
         sum(CASE WHEN r1 > 0 THEN ln(r2 / r1) END) AS sum_ln,
         CAST(sum(CASE WHEN r1 > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_used
  FROM nn2 GROUP BY 1
)
SELECT label, n, n_used,
       CASE WHEN n_used > 0 AND sum_ln > 0
            THEN round(2.0 * n_used / sum_ln, 6) END AS intrinsic_dim
FROM per_label
ORDER BY label
"""


_HURST_SCALES = (4, 8, 16)


def evt_hurst_rs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rescaled-range (R/S) analysis of the daily revenue series per
    event type — the Hurst long-memory estimator: split the series
    into full blocks of w days (w ∈ {4, 8, 16}), per block compute
    R = range of the cumulative mean-deviations (0 included, the
    classical convention) and S = population std, average R/S per
    scale, and fit ln(R/S) ~ ln(w) by OLS; slope > 0.5 = persistent
    trend, < 0.5 = mean reversion.

    Determinism: blocks index the series by row_number (series order,
    not calendar gaps — documented); block sums/sumsq are exact
    integers; deviations and their RUNNING cumulative sum evaluate in
    ascending-day frame order in both engines (identical float
    sequence), R and S chain correctly-rounded ops → identical
    doubles. Per-scale averaging and ln() reintroduce order/libm noise,
    so avg_rs and the slope round at 6dp (irrational, tie-free).
    Plan: one daily combinable agg, a 3-literal scale fan-out of the
    calendar-bounded grid, two windows over (type, scale, block)
    cells, two combinable rollups."""
    daily = TS.daily_cents(load_table(spark, sf_dir, "events"))
    wt = Window.partitionBy("event_type").orderBy("d")
    seq = daily.withColumn("t", F.row_number().over(wt).cast("long"))
    scales = F.explode(
        F.array(*[F.lit(w) for w in _HURST_SCALES])
    ).alias("w")
    blk = seq.select(
        "event_type", "t", "cents", scales
    ).withColumn("blk", ((F.col("t") - 1) / F.col("w")).cast("long"))
    keys = ["event_type", "w", "blk"]
    stats = blk.groupBy(*keys).agg(
        F.count(F.lit(1)).alias("n_in_blk"),
        F.sum("cents").cast("long").alias("s"),
        F.sum(F.col("cents") * F.col("cents")).cast("long").alias("q"),
    )
    full = blk.join(
        stats.where(F.col("n_in_blk") == F.col("w")).select(*keys, "s", "q"),
        keys,
    )
    wrun = Window.partitionBy(*keys).orderBy("t").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    dev = F.col("cents").cast("double") - F.col("s").cast("double") / F.col(
        "w"
    ).cast("double")
    z = F.sum(dev).over(wrun)
    per_blk = (
        full.withColumn("z", z)
        .groupBy(*keys, "s", "q")
        .agg(
            (
                F.greatest(F.max("z"), F.lit(0.0))
                - F.least(F.min("z"), F.lit(0.0))
            ).alias("r"),
        )
        .withColumn(
            "sd",
            F.sqrt(
                (
                    F.col("q").cast("double")
                    - F.col("s").cast("double")
                    * F.col("s").cast("double")
                    / F.col("w").cast("double")
                )
                / F.col("w").cast("double")
            ),
        )
        .where(F.col("sd") > 0)
    )
    per_scale = per_blk.groupBy("event_type", "w").agg(
        F.count(F.lit(1)).cast("long").alias("n_blocks"),
        F.avg(F.col("r") / F.col("sd")).alias("avg_rs"),
    )
    x = F.log(F.col("w").cast("double"))
    yv = F.log(F.col("avg_rs"))
    ols = per_scale.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n_scales"),
        F.sum(x).alias("sx"),
        F.sum(yv).alias("sy"),
        F.sum(x * yv).alias("sxy"),
        F.sum(x * x).alias("sxx"),
    )
    slope = (
        F.col("n_scales") * F.col("sxy") - F.col("sx") * F.col("sy")
    ) / (
        F.col("n_scales") * F.col("sxx") - F.col("sx") * F.col("sx")
    )
    hurst = ols.select(
        "event_type",
        "n_scales",
        F.when(F.col("n_scales") >= 2, F.round(slope, 6)).alias(
            "hurst_exponent"
        ),
    )
    return (
        per_scale.select(
            "event_type",
            "w",
            "n_blocks",
            F.round("avg_rs", 6).alias("avg_rs"),
        )
        .join(hurst, "event_type")
        .select(
            "event_type", "w", "n_blocks", "avg_rs",
            "n_scales", "hurst_exponent",
        )
        .orderBy("event_type", "w")
    )


_HURST_SQL = f"""
WITH {_DAILY_CENTS_CTE}, seq AS (
  SELECT event_type, cents,
         CAST(row_number() OVER (PARTITION BY event_type ORDER BY d)
              AS BIGINT) AS t,
         d
  FROM daily
), blk AS (
  SELECT s.event_type, s.t, s.cents, s.d, w.w,
         CAST(floor((s.t - 1) / w.w) AS BIGINT) AS blk
  FROM seq s CROSS JOIN (SELECT unnest({list(_HURST_SCALES)}) AS w) w
), stats AS (
  SELECT event_type, w, blk,
         count(*) AS n_in_blk,
         CAST(sum(cents) AS BIGINT) AS s,
         CAST(sum(cents * cents) AS BIGINT) AS q
  FROM blk GROUP BY 1, 2, 3
), full_b AS (
  SELECT b.*, st.s, st.q
  FROM blk b JOIN stats st
    ON b.event_type = st.event_type AND b.w = st.w AND b.blk = st.blk
  WHERE st.n_in_blk = st.w
), zc AS (
  SELECT *,
         sum(CAST(cents AS DOUBLE) - CAST(s AS DOUBLE) / CAST(w AS DOUBLE))
           OVER (PARTITION BY event_type, w, blk ORDER BY t
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS z
  FROM full_b
), per_blk AS (
  SELECT event_type, w, blk, s, q,
         greatest(max(z), 0.0) - least(min(z), 0.0) AS r,
         sqrt((CAST(q AS DOUBLE)
               - CAST(s AS DOUBLE) * CAST(s AS DOUBLE) / CAST(w AS DOUBLE))
              / CAST(w AS DOUBLE)) AS sd
  FROM zc GROUP BY 1, 2, 3, 4, 5
), per_scale AS (
  SELECT event_type, w,
         CAST(count(*) AS BIGINT) AS n_blocks,
         avg(r / sd) AS avg_rs
  FROM per_blk WHERE sd > 0 GROUP BY 1, 2
), ols AS (
  SELECT event_type,
         CAST(count(*) AS BIGINT) AS n_scales,
         sum(ln(CAST(w AS DOUBLE))) AS sx,
         sum(ln(avg_rs)) AS sy,
         sum(ln(CAST(w AS DOUBLE)) * ln(avg_rs)) AS sxy,
         sum(ln(CAST(w AS DOUBLE)) * ln(CAST(w AS DOUBLE))) AS sxx
  FROM per_scale GROUP BY 1
)
SELECT p.event_type, CAST(p.w AS INTEGER) AS w, p.n_blocks,
       round(p.avg_rs, 6) AS avg_rs,
       o.n_scales,
       CASE WHEN o.n_scales >= 2
            THEN round((o.n_scales * o.sxy - o.sx * o.sy)
                       / (o.n_scales * o.sxx - o.sx * o.sx), 6)
       END AS hurst_exponent
FROM per_scale p JOIN ols o ON p.event_type = o.event_type
ORDER BY p.event_type, p.w
"""


def orders_interpurchase_regularity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inter-purchase regularity segmentation — per market segment, how
    many customers order like CLOCKWORK (CV of order gaps < 1/2),
    REGULARLY (CV < 1), or SPORADICALLY (CV >= 1)? The behavioral
    companion to RFM: recency/frequency say how much, the gap CV says
    how *predictably*.

    Every classification is an EXACT INTEGER inequality — with gap sum
    S and gap square-sum Q over n gaps, CV² = (nQ − S²)/S², so
    "CV < 1/2" is 4(nQ − S²) < S² and "CV < 1" is nQ − S² < S², all in
    BIGINT (gaps are epoch-day differences; magnitudes << 2^63) — no
    float anywhere, cross-engine parity is structural. Customers need
    >= 3 orders (two gaps). Plan: one customer-keyed window (lag over
    order days), one per-customer combinable agg, a broadcast dim join
    onto the segment, one segment agg."""
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    day = TS.epoch_day("o_orderdate")
    wcu = Window.partitionBy("o_custkey").orderBy("day", "o_orderkey")
    gaps = (
        o.select("o_custkey", "o_orderkey", day.alias("day"))
        .withColumn("prev", F.lag("day").over(wcu))
        .where(F.col("prev").isNotNull())
        .select(
            "o_custkey", (F.col("day") - F.col("prev")).alias("g")
        )
    )
    per_cust = gaps.groupBy("o_custkey").agg(
        F.count(F.lit(1)).cast("long").alias("n_gaps"),
        F.sum("g").cast("long").alias("s"),
        F.sum(F.col("g") * F.col("g")).cast("long").alias("q"),
    ).where((F.col("n_gaps") >= 2) & (F.col("s") > 0))
    varn = F.col("n_gaps") * F.col("q") - F.col("s") * F.col("s")
    cls = per_cust.select(
        "o_custkey",
        F.when(F.lit(4) * varn < F.col("s") * F.col("s"), "clockwork")
        .when(varn < F.col("s") * F.col("s"), "regular")
        .otherwise("sporadic")
        .alias("regularity"),
    )
    seg = cls.join(
        F.broadcast(
            c.select(F.col("c_custkey").alias("o_custkey"), "c_mktsegment")
        ),
        "o_custkey",
    )
    return (
        seg.groupBy("c_mktsegment", "regularity")
        .agg(F.count(F.lit(1)).cast("long").alias("n_customers"))
        .orderBy("c_mktsegment", "regularity")
    )


_INTERPURCHASE_SQL = """
WITH days_t AS (
  SELECT o_custkey, o_orderkey,
         CAST(floor(floor(epoch(o_orderdate)) / 86400.0) AS BIGINT) AS day
  FROM orders
), gaps AS (
  SELECT o_custkey,
         day - lag(day) OVER (PARTITION BY o_custkey
                              ORDER BY day, o_orderkey) AS g
  FROM days_t
), per_cust AS (
  SELECT o_custkey,
         CAST(count(*) AS BIGINT) AS n_gaps,
         CAST(sum(g) AS BIGINT) AS s,
         CAST(sum(g * g) AS BIGINT) AS q
  FROM gaps WHERE g IS NOT NULL GROUP BY 1
), cls AS (
  SELECT o_custkey,
         CASE WHEN 4 * (n_gaps * q - s * s) < s * s THEN 'clockwork'
              WHEN n_gaps * q - s * s < s * s THEN 'regular'
              ELSE 'sporadic' END AS regularity
  FROM per_cust WHERE n_gaps >= 2 AND s > 0
)
SELECT c.c_mktsegment, cls.regularity,
       CAST(count(*) AS BIGINT) AS n_customers
FROM cls JOIN customer c ON c.c_custkey = cls.o_custkey
GROUP BY 1, 2
ORDER BY 1, 2
"""


_KCORE_K = 2
_KCORE_ROUNDS = 8


def g8_kcore_peel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """G8 — k-core peel over the strong co-occurrence graph (k=2,
    FIXED 8 rounds — the pagerank/markov fixed-iteration contract, so
    both engines run the identical recurrence even on a graph that
    needs fewer or more rounds): each round deletes every node whose
    degree among survivors is < k; a node's peel_round records when it
    fell, survivors after round 8 are the (converged-or-not) core.
    k-core separates dense template/boilerplate clusters (high core)
    from star-and-chain families (peeled early) — the graph-shape
    audit for dedup-pair graphs and interaction graphs alike.

    The peel is PURE INTEGER set logic — no float anywhere, so
    cross-engine parity is structural. Node/edge counts here are
    |event types|-bounded, so the peel runs on the driver after a
    bounded collect (the g2/g3/markov small-side discipline); on a
    corpus-scale pair graph the same recurrence runs distributed as
    8 rounds of (degree agg + anti-join) — shuffle ≤ |edges| per
    round, the documented large-graph path."""
    e = load_table(spark, sf_dir, "events")
    edges = SIM.cooccurrence_edges(e, "user_id", "event_type")
    maxw = edges.agg(F.max("weight").alias("max_w"))
    kept = (
        edges.crossJoin(F.broadcast(maxw))
        .where(2 * F.col("weight") >= F.col("max_w"))
        .select("src", "dst")
    )
    rows = kept.collect()  # bounded: |types|² candidate cells
    adj: dict[str, set[str]] = {}
    for r in rows:
        adj.setdefault(r.src, set()).add(r.dst)
        adj.setdefault(r.dst, set()).add(r.src)
    alive = set(adj)
    peel: dict[str, int] = {}
    for rnd in range(1, _KCORE_ROUNDS + 1):
        dead = {
            v
            for v in alive
            if len(adj[v] & alive) < _KCORE_K
        }
        for v in dead:
            peel[v] = rnd
        alive -= dead
    out_rows = [
        (
            v,
            len(adj[v] & alive) if v in alive else len(adj[v]),
            peel.get(v),
            v in alive,
        )
        for v in sorted(adj)
    ]
    return spark.createDataFrame(
        out_rows,
        "event_type string, degree long, peel_round int, in_core boolean",
    ).orderBy("event_type")


def _g8_kcore_sql() -> str:
    """Unrolled fixed-round peel: per round, degrees among survivors →
    the round's removals → the next survivor set. `degree` exports the
    ORIGINAL degree for peeled nodes and the within-core degree for
    survivors (matching the engine's export)."""
    # MATERIALIZED: each round references the previous one multiple
    # times — DuckDB inlines plain CTEs, which compounds exponentially
    # over 8 unrolled rounds (measured: "Too many open files" from
    # thousands of inlined parquet leaf scans)
    ctes = [
        "a0 AS MATERIALIZED (SELECT DISTINCT src AS node FROM sym)",
    ]
    for r in range(1, _KCORE_ROUNDS + 1):
        p = r - 1
        ctes.append(
            f"e{p} AS MATERIALIZED (\n"
            f"  SELECT s.src, s.dst FROM sym s\n"
            f"  JOIN a{p} x ON s.src = x.node\n"
            f"  JOIN a{p} y ON s.dst = y.node\n)"
        )
        ctes.append(
            f"d{p} AS MATERIALIZED (\n"
            f"  SELECT x.node, CAST(coalesce(g.c, 0) AS BIGINT) AS deg\n"
            f"  FROM a{p} x LEFT JOIN (SELECT src AS node, count(*) AS c\n"
            f"                         FROM e{p} GROUP BY 1) g\n"
            f"    ON g.node = x.node\n)"
        )
        ctes.append(
            f"rm{r} AS MATERIALIZED "
            f"(SELECT node, {r} AS rnd FROM d{p} WHERE deg < {_KCORE_K})"
        )
        ctes.append(
            f"a{r} AS MATERIALIZED (SELECT node FROM a{p}\n"
            f"         WHERE node NOT IN (SELECT node FROM rm{r}))"
        )
    chain = ",\n".join(ctes)
    removed_union = "\nUNION ALL ".join(
        f"SELECT node, rnd FROM rm{r}" for r in range(1, _KCORE_ROUNDS + 1)
    )
    return f"""
WITH pairs AS (SELECT DISTINCT user_id, event_type FROM events),
e00 AS MATERIALIZED (
  SELECT a.event_type AS src, b.event_type AS dst, count(*) AS weight
  FROM pairs a JOIN pairs b
    ON a.user_id = b.user_id AND a.event_type < b.event_type
  GROUP BY 1, 2
),
kept AS MATERIALIZED (
  SELECT src, dst FROM e00 WHERE 2 * weight >= (SELECT max(weight) FROM e00)
),
sym AS MATERIALIZED (
  SELECT src, dst FROM kept
  UNION
  SELECT dst AS src, src AS dst FROM kept
),
{chain},
removed AS ({removed_union}),
orig AS (SELECT src AS node, CAST(count(*) AS BIGINT) AS deg
         FROM sym GROUP BY 1),
core_deg AS (
  SELECT x.node, CAST(coalesce(g.c, 0) AS BIGINT) AS deg
  FROM a{_KCORE_ROUNDS} x
  LEFT JOIN (SELECT s.src AS node, count(*) AS c FROM sym s
             JOIN a{_KCORE_ROUNDS} p ON s.src = p.node
             JOIN a{_KCORE_ROUNDS} q ON s.dst = q.node
             GROUP BY 1) g ON g.node = x.node
)
SELECT o.node AS event_type,
       CASE WHEN r.node IS NOT NULL THEN o.deg ELSE c.deg END AS degree,
       CAST(r.rnd AS INTEGER) AS peel_round,
       r.node IS NULL AS in_core
FROM orig o
LEFT JOIN removed r ON r.node = o.node
LEFT JOIN core_deg c ON c.node = o.node
ORDER BY event_type
"""


_MARKOV_ITERS = 12


def evt_markov_stationary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stationary distribution + entropy rate of the first-order session
    Markov chain — the long-run companion to evt_markov_transitions:
    where does user attention settle (π = πP, fixed 12 power-iteration
    rounds from uniform — the g3_pagerank fixed-iteration contract, so
    both engines compute the identical recurrence whether or not the
    chain has mixed), and how predictable is the next step
    (row entropy H_i = −Σ_j p_ij·ln p_ij and the contribution π_i·H_i
    whose sum is the chain's entropy rate).

    The chain is restricted to states observed as a transition SOURCE
    (rows of P sum to 1 by construction, so mass is conserved). The
    transition probabilities are single exact-int divisions; iteration
    sums are order-dependent floats whose last-ulp noise the 6dp round
    absorbs (the pagerank precedent). Plan: ONE user-keyed window
    shuffle builds the pair counts; the |states|² matrix is
    driver-bounded by event-type cardinality, so iteration runs as
    numpy matmul rounds after a bounded collect (the g2/g3 small-side
    driver-finish discipline — for larger state spaces the same
    recurrence runs as per-round equi-join + combinable groupBy)."""
    e = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    pairs = (
        e.select(
            F.col("event_type").alias("from_type"),
            F.lead("event_type").over(w).alias("to_type"),
        )
        .where(F.col("to_type").isNotNull())
        .groupBy("from_type", "to_type")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
    )
    rows = pairs.collect()  # bounded: |event types|² cells
    states = sorted({r.from_type for r in rows})
    idx = {s: i for i, s in enumerate(states)}
    m_sz = len(states)
    P = np.zeros((m_sz, m_sz))
    n_out = np.zeros(m_sz, dtype=np.int64)
    for r in rows:
        if r.to_type in idx:  # drop edges into never-source states
            P[idx[r.from_type], idx[r.to_type]] += r.n
        n_out[idx[r.from_type]] += r.n
    row_tot = P.sum(axis=1, keepdims=True)
    P = P / row_tot
    pi = np.full(m_sz, 1.0 / m_sz)
    for _ in range(_MARKOV_ITERS):
        pi = pi @ P
    with np.errstate(divide="ignore", invalid="ignore"):
        h_rows = -np.nansum(np.where(P > 0, P * np.log(P), 0.0), axis=1)
    out_rows = [
        (
            s,
            int(n_out[i]),
            round(float(pi[i]), 6),
            round(float(h_rows[i]), 6),
            round(float(pi[i] * h_rows[i]), 6),
        )
        for i, s in enumerate(states)
    ]
    return spark.createDataFrame(
        out_rows,
        "state string, n_out long, pi_stationary double, "
        "row_entropy_nats double, entropy_contrib double",
    ).orderBy("state")


def _markov_stationary_sql() -> str:
    """Unrolled fixed-iteration power method (the g3_pagerank SQL
    pattern): one CTE per round; round 0 is uniform over source
    states. Edges into never-source states are dropped BEFORE row
    normalization so both engines normalize the same matrix."""
    rounds = []
    for k in range(1, _MARKOV_ITERS + 1):
        rounds.append(
            f"r{k} AS (\n"
            f"  SELECT p.to_type AS state, sum(r{k - 1}.pi * p.prob) AS pi\n"
            f"  FROM p JOIN r{k - 1} ON p.from_type = r{k - 1}.state\n"
            f"  GROUP BY 1\n)"
        )
    chain = ",\n".join(rounds)
    return f"""
WITH pairs0 AS (
  SELECT from_type, to_type, CAST(count(*) AS BIGINT) AS n
  FROM (SELECT event_type AS from_type,
               lead(event_type) OVER (PARTITION BY user_id
                                      ORDER BY ts, event_id) AS to_type
        FROM events)
  WHERE to_type IS NOT NULL GROUP BY 1, 2
), srcs AS (
  SELECT DISTINCT from_type AS state FROM pairs0
), n_out_t AS (
  SELECT from_type, CAST(sum(n) AS BIGINT) AS n_out
  FROM pairs0 GROUP BY 1
), kept AS (
  SELECT p.* FROM pairs0 p JOIN srcs s ON p.to_type = s.state
), rowtot AS (
  SELECT from_type, CAST(sum(n) AS BIGINT) AS tot FROM kept GROUP BY 1
), p AS (
  SELECT k.from_type, k.to_type,
         CAST(k.n AS DOUBLE) / CAST(rt.tot AS DOUBLE) AS prob
  FROM kept k JOIN rowtot rt ON k.from_type = rt.from_type
), r0 AS (
  SELECT state, 1.0 / (SELECT count(*) FROM srcs) AS pi FROM srcs
),
{chain},
hrow AS (
  SELECT from_type AS state,
         -sum(prob * ln(prob)) AS h FROM p GROUP BY 1
)
SELECT s.state, coalesce(n.n_out, 0) AS n_out,
       round(coalesce(r.pi, 0.0), 6) AS pi_stationary,
       round(coalesce(h.h, 0.0), 6) AS row_entropy_nats,
       round(coalesce(r.pi, 0.0) * coalesce(h.h, 0.0), 6)
         AS entropy_contrib
FROM srcs s
LEFT JOIN r{_MARKOV_ITERS} r ON r.state = s.state
LEFT JOIN n_out_t n ON n.from_type = s.state
LEFT JOIN hrow h ON h.state = s.state
ORDER BY s.state
"""


# Abramowitz & Stegun 7.1.26 erf approximation constants (|err| <= 1.5e-7)
# and sqrt(2) — shared repr-exact literals so both engines run the same
# IEEE polynomial (the Benford BENFORD_P pattern).
_ERF_P = 0.3275911
_ERF_A = (0.254829592, -0.284496736, 1.421413741, -1.453152027, 1.061405429)
_SQRT2 = 1.4142135623730951


def evt_bh_fdr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benjamini-Hochberg false-discovery-rate control over a FAMILY of
    Mann-Kendall trend tests — the multiple-testing operator every
    metrics platform needs once it runs one test per segment: 40 cells
    (event_type × user-id bucket) each get the tie-corrected MK z and a
    two-sided normal p-value, then the BH step-up at α=0.05 marks which
    trends survive and exports the adjusted p (step-up running minimum).

    Determinism contract: z chains correctly-rounded ops on exact
    integers (S, tie-corrected variance numerator) → bit-identical,
    exported unrounded. p = erfc(|z|/√2) uses the A&S 7.1.26 polynomial
    with shared repr-exact literals; exp() is not correctly-rounded, so
    p is ROUNDED AT 6dp ON BOTH SIDES and the entire BH pass (rank,
    threshold compare, adjusted-p running min) runs on that identical
    rounded value — the rank-on-rounded-scores rule. p_adj derives from
    the rounded p by exact-int multiplies and correctly-rounded ÷/min,
    so it exports unrounded.

    Plan: one (cell, day) combinable agg over the fact table, the
    calendar-bounded MK pair self-join per cell, a tie-count agg, and
    two single-partition windows over the 40-row hypothesis frame
    (m is segment-cardinality — driver-scale by construction)."""
    e = load_table(spark, sf_dir, "events").where(
        F.col("value").isNotNull() & F.col("user_id").isNotNull()
    )
    day = TS.epoch_day("ts")
    bucket = (F.abs(F.col("user_id")) % F.lit(8)).cast("int")
    daily = (
        e.groupBy(F.col("event_type"), bucket.alias("bucket"), day.alias("d"))
        .agg(F.round(F.sum("value") * 100).cast("long").alias("cents"))
        .persist()
    )
    keys = ["event_type", "bucket"]
    a = daily.select(*keys, F.col("d").alias("d1"), F.col("cents").alias("y1"))
    b = daily.select(*keys, F.col("d").alias("d2"), F.col("cents").alias("y2"))
    s = (
        a.join(b, keys)
        .where(F.col("d1") < F.col("d2"))
        .groupBy(*keys)
        .agg(
            F.sum(F.signum((F.col("y2") - F.col("y1")).cast("double")))
            .cast("long")
            .alias("s_stat")
        )
    )
    nd = daily.groupBy(*keys).agg(F.count(F.lit(1)).cast("long").alias("n_days"))
    ties = (
        daily.groupBy(*keys, "cents")
        .agg(F.count(F.lit(1)).cast("long").alias("t"))
        .groupBy(*keys)
        .agg(
            F.sum(
                F.col("t") * (F.col("t") - 1) * (F.lit(2) * F.col("t") + 5)
            )
            .cast("long")
            .alias("tie_term")
        )
    )
    n = F.col("n_days")
    var_num = (
        n * (n - 1) * (F.lit(2) * n + 5) - F.col("tie_term")
    ).alias("var_num")
    base = (
        nd.join(s, keys)
        .join(ties, keys)
        .select(*keys, "n_days", "s_stat", var_num)
        .where((F.col("n_days") >= 8) & (F.col("var_num") > 0))
    )
    sd = F.sqrt(F.col("var_num").cast("double") / F.lit(18.0))
    z = (
        F.when(F.col("s_stat") > 0, (F.col("s_stat") - 1).cast("double") / sd)
        .when(F.col("s_stat") < 0, (F.col("s_stat") + 1).cast("double") / sd)
        .otherwise(F.lit(0.0))
    )
    x = F.abs(z) / F.lit(_SQRT2)
    t = F.lit(1.0) / (F.lit(1.0) + F.lit(_ERF_P) * x)
    a1, a2, a3, a4, a5 = (F.lit(c) for c in _ERF_A)
    poly = t * (a1 + t * (a2 + t * (a3 + t * (a4 + t * a5))))
    p_raw = poly * F.exp(-(x * x))
    scored = base.select(
        *keys,
        "n_days",
        "s_stat",
        z.alias("z_stat"),
        F.round(p_raw, 6).alias("p_value"),
    )
    wr = Window.orderBy("p_value", "event_type", "bucket")
    wall = Window.partitionBy()
    wtail = Window.orderBy("rnk").rowsBetween(0, Window.unboundedFollowing)
    ranked = (
        scored.withColumn("rnk", F.row_number().over(wr))
        .withColumn("m", F.count(F.lit(1)).over(wall))
        .withColumn(
            "bh_threshold",
            F.col("rnk").cast("double") * F.lit(0.05) / F.col("m"),
        )
        .withColumn(
            "kmax",
            F.max(
                F.when(
                    F.col("p_value") <= F.col("bh_threshold"), F.col("rnk")
                )
            ).over(wall),
        )
        .withColumn(
            "p_adj",
            F.least(
                F.lit(1.0),
                F.min(
                    F.col("m") * F.col("p_value") / F.col("rnk")
                ).over(wtail),
            ),
        )
    )
    return ranked.select(
        "event_type",
        "bucket",
        "n_days",
        "s_stat",
        "z_stat",
        "p_value",
        "rnk",
        "bh_threshold",
        F.coalesce(F.col("rnk") <= F.col("kmax"), F.lit(False)).alias(
            "rejected"
        ),
        "p_adj",
    ).orderBy("rnk")


_BH_FDR_SQL = f"""
WITH daily AS (
  SELECT event_type,
         CAST(abs(user_id) % 8 AS INTEGER) AS bucket,
         CAST(floor(floor(epoch(ts)) / 86400.0) AS BIGINT) AS d,
         CAST(round(sum(value) * 100) AS BIGINT) AS cents
  FROM events WHERE value IS NOT NULL AND user_id IS NOT NULL
  GROUP BY 1, 2, 3
), s AS (
  SELECT a.event_type, a.bucket,
         CAST(sum(sign(CAST(b.cents - a.cents AS DOUBLE))) AS BIGINT)
           AS s_stat
  FROM daily a JOIN daily b
    ON a.event_type = b.event_type AND a.bucket = b.bucket AND a.d < b.d
  GROUP BY 1, 2
), nd AS (
  SELECT event_type, bucket, CAST(count(*) AS BIGINT) AS n_days
  FROM daily GROUP BY 1, 2
), ties AS (
  SELECT event_type, bucket,
         CAST(sum(t * (t - 1) * (2 * t + 5)) AS BIGINT) AS tie_term
  FROM (SELECT event_type, bucket, cents,
               CAST(count(*) AS BIGINT) AS t
        FROM daily GROUP BY 1, 2, 3)
  GROUP BY 1, 2
), base AS (
  SELECT nd.event_type, nd.bucket, nd.n_days, s.s_stat,
         nd.n_days * (nd.n_days - 1) * (2 * nd.n_days + 5) - ties.tie_term
           AS var_num
  FROM nd
  JOIN s ON s.event_type = nd.event_type AND s.bucket = nd.bucket
  JOIN ties ON ties.event_type = nd.event_type AND ties.bucket = nd.bucket
  WHERE nd.n_days >= 8
    AND nd.n_days * (nd.n_days - 1) * (2 * nd.n_days + 5) - ties.tie_term > 0
), zsc AS (
  SELECT event_type, bucket, n_days, s_stat,
         CASE WHEN s_stat > 0
              THEN CAST(s_stat - 1 AS DOUBLE)
                   / sqrt(CAST(var_num AS DOUBLE) / 18.0)
              WHEN s_stat < 0
              THEN CAST(s_stat + 1 AS DOUBLE)
                   / sqrt(CAST(var_num AS DOUBLE) / 18.0)
              ELSE 0.0 END AS z_stat
  FROM base
), pv AS (
  SELECT *,
         round((1.0 / (1.0 + {_ERF_P!r} * (abs(z_stat) / {_SQRT2!r})))
               * ({_ERF_A[0]!r}
                  + (1.0 / (1.0 + {_ERF_P!r} * (abs(z_stat) / {_SQRT2!r})))
                    * ({_ERF_A[1]!r}
                       + (1.0 / (1.0 + {_ERF_P!r} * (abs(z_stat) / {_SQRT2!r})))
                         * ({_ERF_A[2]!r}
                            + (1.0 / (1.0 + {_ERF_P!r}
                                      * (abs(z_stat) / {_SQRT2!r})))
                              * ({_ERF_A[3]!r}
                                 + (1.0 / (1.0 + {_ERF_P!r}
                                           * (abs(z_stat) / {_SQRT2!r})))
                                   * {_ERF_A[4]!r}))))
               * exp(-((abs(z_stat) / {_SQRT2!r})
                       * (abs(z_stat) / {_SQRT2!r}))), 6) AS p_value
  FROM zsc
), ranked AS (
  SELECT *,
         CAST(row_number() OVER (ORDER BY p_value, event_type, bucket)
              AS INTEGER) AS rnk,
         CAST(count(*) OVER () AS BIGINT) AS m
  FROM pv
), thr AS (
  SELECT *,
         CAST(rnk AS DOUBLE) * 0.05 / m AS bh_threshold,
         max(CASE WHEN p_value <= CAST(rnk AS DOUBLE) * 0.05 / m
                  THEN rnk END) OVER () AS kmax,
         least(1.0, min(m * p_value / rnk)
                      OVER (ORDER BY rnk
                            ROWS BETWEEN CURRENT ROW
                            AND UNBOUNDED FOLLOWING)) AS p_adj
  FROM ranked
)
SELECT event_type, bucket, n_days, s_stat, z_stat, p_value, rnk,
       bh_threshold,
       coalesce(rnk <= kmax, FALSE) AS rejected,
       p_adj
FROM thr
ORDER BY rnk
"""


def evt_kruskal_dunn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kruskal-Wallis one-way rank test across event types' daily
    revenue, with per-type Dunn z-scores — the distribution-free
    companion to evt_proportion_ztest / doc_lang_source_chi2: does at
    least one event type's daily-revenue DISTRIBUTION sit above or
    below the others (H ~ chi2(k-1)), and which types drive it (Dunn's
    mean-rank z vs the grand mean)?

    Ranks pool ALL (type, day) daily cents into one ordering; average
    tie ranks stay EXACT INTEGERS via the x2 trick (2*avg_rank =
    2*rank + ties - 1, the evt_spearman_corr discipline), and the tie
    correction C = 1 - sum(t^3-t)/(N^3-N) accumulates per-row as
    t^2-1 (each tie-run of size t contributes t*(t^2-1) = t^3-t) —
    all exact BIGINTs. The per-type H term 3*R2^2/(n*N*(N+1)) is a
    single division of exact integers (bit-identical both engines);
    the cross-type sum is k doubles of O(N) magnitude whose last-ulp
    order noise the 6dp round absorbs (the markov/pagerank
    precedent). Dunn z folds the 2n denominator into the radical:
    z = (R2 - n*(N+1)) / sqrt(C*(N+1)*(N-n)*n/3).

    Plan: ONE combinable (type, day) agg over the fact table, then
    every window runs on the pooled daily frame — |types| x |days|
    rows, calendar-bounded at any corpus scale (the evt_spearman_corr
    contract), so the unpartitioned rank window is bounded by design."""
    daily = TS.daily_cents(load_table(spark, sf_dir, "events"))
    wr = Window.orderBy("cents")
    wt = Window.partitionBy("cents")
    wall_daily = Window.partitionBy()
    ranked = daily.select(
        "event_type",
        (
            F.lit(2) * F.rank().over(wr) + F.count(F.lit(1)).over(wt) - 1
        ).cast("long").alias("rank2"),
        (F.count(F.lit(1)).over(wt) * F.count(F.lit(1)).over(wt) - 1)
        .cast("long")
        .alias("tie_row"),
        F.count(F.lit(1)).over(wall_daily).cast("long").alias("n_total"),
    )
    per_type = ranked.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n_days"),
        F.sum("rank2").cast("long").alias("r2_sum"),
        F.sum("tie_row").cast("long").alias("tie_part"),
        F.max("n_total").alias("n_total"),
    )
    wall = Window.partitionBy()
    n, r2, bign = F.col("n_days"), F.col("r2_sum"), F.col("n_total")
    tie_term = F.sum("tie_part").over(wall)
    c_tie = F.lit(1.0) - tie_term.cast("double") / (
        bign * bign * bign - bign
    ).cast("double")
    h_term = (F.lit(3) * r2 * r2).cast("double") / (
        n * bign * (bign + 1)
    ).cast("double")
    h_stat = (
        F.sum(h_term).over(wall) - F.lit(3.0) * (bign + 1).cast("double")
    ) / c_tie
    z_dunn = (r2 - n * (bign + 1)).cast("double") / F.sqrt(
        c_tie * ((bign + 1) * (bign - n) * n).cast("double") / F.lit(3.0)
    )
    return (
        per_type.select(
            "event_type",
            "n_days",
            "r2_sum",
            "n_total",
            (r2.cast("double") / (2 * n).cast("double")).alias("mean_rank"),
            c_tie.alias("tie_c"),
            F.round(z_dunn, 6).alias("z_dunn"),
            F.round(h_stat, 6).alias("h_stat"),
        )
        .orderBy("event_type")
    )


_KRUSKAL_SQL = f"""
WITH {_DAILY_CENTS_CTE}, ranked AS (
  SELECT event_type,
         CAST(2 * rank() OVER (ORDER BY cents)
              + count(*) OVER (PARTITION BY cents) - 1 AS BIGINT) AS rank2,
         CAST(count(*) OVER (PARTITION BY cents)
              * count(*) OVER (PARTITION BY cents) - 1 AS BIGINT) AS tie_row,
         CAST(count(*) OVER () AS BIGINT) AS n_total
  FROM daily
), per_type AS (
  SELECT event_type,
         CAST(count(*) AS BIGINT) AS n_days,
         CAST(sum(rank2) AS BIGINT) AS r2_sum,
         CAST(sum(tie_row) AS BIGINT) AS tie_part,
         max(n_total) AS n_total
  FROM ranked GROUP BY 1
)
SELECT event_type, n_days, r2_sum, n_total,
       CAST(r2_sum AS DOUBLE) / CAST(2 * n_days AS DOUBLE) AS mean_rank,
       1.0 - CAST(sum(tie_part) OVER () AS DOUBLE)
             / CAST(n_total * n_total * n_total - n_total AS DOUBLE)
         AS tie_c,
       round(CAST(r2_sum - n_days * (n_total + 1) AS DOUBLE)
             / sqrt((1.0 - CAST(sum(tie_part) OVER () AS DOUBLE)
                           / CAST(n_total * n_total * n_total - n_total
                                  AS DOUBLE))
                    * CAST((n_total + 1) * (n_total - n_days) * n_days
                           AS DOUBLE) / 3.0), 6) AS z_dunn,
       round((sum(CAST(3 * r2_sum * r2_sum AS DOUBLE)
                  / CAST(n_days * n_total * (n_total + 1) AS DOUBLE))
              OVER ()
              - 3.0 * CAST(n_total + 1 AS DOUBLE))
             / (1.0 - CAST(sum(tie_part) OVER () AS DOUBLE)
                      / CAST(n_total * n_total * n_total - n_total
                             AS DOUBLE)), 6) AS h_stat
FROM per_type
ORDER BY event_type
"""


def evt_ljung_box(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Autocorrelation function (lags 1..7) + cumulative Ljung-Box Q
    per event type's daily revenue — the serial-dependence audit the
    single-lag evt_lag_correlation can't give: is the series white
    noise (Q ~ chi2(h)) or does revenue persist/cycle across the week?

    The series is DENSIFIED onto each type's own daily span (missing
    days = 0 cents, the evt_gap_fill spine pattern) so lags align on
    calendar days, not observation indices. Mean-centering stays EXACT
    by clearing the rational mean: with S = sum(x), n grid days, the
    lag-l numerator scaled by n^2 is sum((n*x_t - S)(n*x_{t+l} - S))
    — exact integers accumulated in DECIMAL(38,0) (Spark) / HUGEINT
    (DuckDB), factors pre-cast so no per-term product overflows (the
    nation_revenue_hhi discipline; n*x ~ 5e10 at a 10-year calendar).
    acf_l = num_l/den is a single division of two casts of the same
    exact integers -> bit-identical; the Ljung-Box prefix sum
    n(n+2)*sum(acf_l^2/(n-l)) runs in lag order on both engines and
    exports 6dp-rounded.

    Plan: ONE combinable daily agg, a calendar-bounded spine, one
    broadcast-size per-type stats join, and the lag pairs come from a
    7-way explode + (type, day+lag) equi-join on the tiny grid —
    |types| x |days| x 7 rows at ANY corpus scale."""
    daily = TS.daily_cents(load_table(spark, sf_dir, "events")).persist()
    grid = TS.gap_filled(daily)
    stats = grid.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("x").cast("long").alias("s"),
    )
    g = grid.join(F.broadcast(stats), "event_type").select(
        "event_type",
        "d",
        "n",
        (F.col("n") * F.col("x") - F.col("s"))
        .cast("decimal(18,0)")
        .alias("c"),
    )
    den = g.groupBy("event_type").agg(
        F.sum(F.col("c") * F.col("c")).alias("den"),
        F.max("n").alias("n"),
    )
    a = g.select(
        "event_type",
        "d",
        F.col("c").alias("ca"),
        F.explode(F.sequence(F.lit(1), F.lit(7))).alias("lag"),
    )
    b = g.select(
        "event_type", F.col("d").alias("db"), F.col("c").alias("cb")
    )
    num = (
        a.join(
            b,
            (a.event_type == b.event_type)
            & (b.db == a.d + a.lag),
        )
        .groupBy(a.event_type.alias("event_type"), "lag")
        .agg(F.sum(F.col("ca") * F.col("cb")).alias("num"))
    )
    j = num.join(F.broadcast(den), "event_type")
    acf = F.col("num").cast("double") / F.col("den").cast("double")
    lb_term = (
        F.col("n").cast("double")
        * (F.col("n") + 2).cast("double")
        * acf
        * acf
        / (F.col("n") - F.col("lag")).cast("double")
    )
    wq = (
        Window.partitionBy("event_type")
        .orderBy("lag")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        j.where((F.col("den") > 0) & (F.col("n") > 8))
        .select(
            "event_type",
            F.col("lag").cast("int").alias("lag"),
            F.col("n").alias("n_days"),
            F.round(acf, 6).alias("acf"),
            F.round(F.sum(lb_term).over(wq), 6).alias("q_ljung_box"),
        )
        .orderBy("event_type", "lag")
    )


_LJUNG_BOX_SQL = f"""
WITH {_DAILY_CENTS_CTE}, {_GAP_FILLED_CTE}, stats AS (
  SELECT event_type, CAST(count(*) AS BIGINT) AS n,
         CAST(sum(x) AS BIGINT) AS s
  FROM grid GROUP BY 1
), g AS (
  SELECT grid.event_type, grid.d, stats.n,
         CAST(stats.n * grid.x - stats.s AS HUGEINT) AS c
  FROM grid JOIN stats ON grid.event_type = stats.event_type
), den AS (
  SELECT event_type, sum(c * c) AS den, max(n) AS n
  FROM g GROUP BY 1
), lags AS (SELECT unnest(generate_series(1, 7)) AS lag
), num AS (
  SELECT a.event_type, l.lag, sum(a.c * b.c) AS num
  FROM g a JOIN lags l ON TRUE
  JOIN g b ON b.event_type = a.event_type AND b.d = a.d + l.lag
  GROUP BY 1, 2
)
SELECT num.event_type, CAST(num.lag AS INTEGER) AS lag,
       den.n AS n_days,
       round(CAST(num.num AS DOUBLE) / CAST(den.den AS DOUBLE), 6) AS acf,
       round(sum(CAST(den.n AS DOUBLE) * CAST(den.n + 2 AS DOUBLE)
                 * (CAST(num.num AS DOUBLE) / CAST(den.den AS DOUBLE))
                 * (CAST(num.num AS DOUBLE) / CAST(den.den AS DOUBLE))
                 / CAST(den.n - num.lag AS DOUBLE))
             OVER (PARTITION BY num.event_type ORDER BY num.lag
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
             6) AS q_ljung_box
FROM num JOIN den ON num.event_type = den.event_type
WHERE den.den > 0 AND den.n > 8
ORDER BY num.event_type, num.lag
"""


_HITS_ITERS = 8


def g7_hits(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HITS hubs & authorities on the directed session-transition graph
    (event_type -> next event_type, weighted by transition count) — the
    directed-centrality companion to g3_pagerank/evt_markov_stationary:
    a HUB routes attention onward (high out-weight to good
    authorities), an AUTHORITY receives it. Fixed 8 power-iteration
    rounds from uniform with L1 normalization after every half-step
    (a_k from h_{k-1}, then h_k from a_k — the Gauss-Seidel HITS
    order), so both engines compute the identical recurrence whether
    or not it has converged; last-ulp sum-order noise is absorbed by
    the 6dp export round (the markov/pagerank precedent).

    Plan: ONE user-keyed window shuffle builds the weighted edge list;
    the |types|^2 matrix is driver-bounded by event-type cardinality,
    so iteration runs as numpy rounds after a bounded collect (the
    g2/g3/markov small-side driver-finish discipline — for larger
    graphs the same recurrence is per-round equi-join + combinable
    groupBy, and the oracle below IS that formulation)."""
    e = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    pairs = (
        e.select(
            F.col("event_type").alias("from_type"),
            F.lead("event_type").over(w).alias("to_type"),
        )
        .where(F.col("to_type").isNotNull())
        .groupBy("from_type", "to_type")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
    )
    rows = pairs.collect()  # bounded: |event types|^2 cells
    nodes = sorted({r.from_type for r in rows} | {r.to_type for r in rows})
    idx = {s: i for i, s in enumerate(nodes)}
    m_sz = len(nodes)
    W = np.zeros((m_sz, m_sz))
    for r in rows:
        W[idx[r.from_type], idx[r.to_type]] = r.n
    h = np.full(m_sz, 1.0 / m_sz)
    a = np.zeros(m_sz)
    for _ in range(_HITS_ITERS):
        a = W.T @ h
        a = a / a.sum()
        h = W @ a
        h = h / h.sum()
    n_out = W.sum(axis=1).astype(np.int64)
    n_in = W.sum(axis=0).astype(np.int64)
    out_rows = [
        (
            s,
            int(n_out[i]),
            int(n_in[i]),
            round(float(h[i]), 6),
            round(float(a[i]), 6),
        )
        for i, s in enumerate(nodes)
    ]
    return spark.createDataFrame(
        out_rows,
        "state string, n_out long, n_in long, "
        "hub_score double, auth_score double",
    ).orderBy("state")


def _g7_hits_sql() -> str:
    """Unrolled HITS rounds; every CTE is MATERIALIZED because each
    round's frame is referenced twice (score + L1-total) — the
    g8_kcore_peel inlining rule."""
    rounds = []
    for k in range(1, _HITS_ITERS + 1):
        rounds.append(
            f"a{k}r AS MATERIALIZED (\n"
            f"  SELECT e.to_type AS state, sum(e.n * h{k - 1}.score) AS s\n"
            f"  FROM edges e JOIN h{k - 1} ON e.from_type = h{k - 1}.state\n"
            f"  GROUP BY 1\n), "
            f"a{k} AS MATERIALIZED (\n"
            f"  SELECT state, s / (SELECT sum(s) FROM a{k}r) AS score\n"
            f"  FROM a{k}r\n), "
            f"h{k}r AS MATERIALIZED (\n"
            f"  SELECT e.from_type AS state, sum(e.n * a{k}.score) AS s\n"
            f"  FROM edges e JOIN a{k} ON e.to_type = a{k}.state\n"
            f"  GROUP BY 1\n), "
            f"h{k} AS MATERIALIZED (\n"
            f"  SELECT state, s / (SELECT sum(s) FROM h{k}r) AS score\n"
            f"  FROM h{k}r\n)"
        )
    chain = ",\n".join(rounds)
    return f"""
WITH edges AS MATERIALIZED (
  SELECT from_type, to_type, CAST(count(*) AS BIGINT) AS n
  FROM (SELECT event_type AS from_type,
               lead(event_type) OVER (PARTITION BY user_id
                                      ORDER BY ts, event_id) AS to_type
        FROM events)
  WHERE to_type IS NOT NULL GROUP BY 1, 2
), nodes AS MATERIALIZED (
  SELECT from_type AS state FROM edges
  UNION SELECT to_type FROM edges
), h0 AS MATERIALIZED (
  SELECT state, 1.0 / (SELECT count(*) FROM nodes) AS score FROM nodes
),
{chain}
SELECT n.state,
       coalesce(o.n_out, 0) AS n_out,
       coalesce(i.n_in, 0) AS n_in,
       round(coalesce(h.score, 0.0), 6) AS hub_score,
       round(coalesce(a.score, 0.0), 6) AS auth_score
FROM nodes n
LEFT JOIN h{_HITS_ITERS} h ON h.state = n.state
LEFT JOIN a{_HITS_ITERS} a ON a.state = n.state
LEFT JOIN (SELECT from_type, CAST(sum(n) AS BIGINT) AS n_out
           FROM edges GROUP BY 1) o ON o.from_type = n.state
LEFT JOIN (SELECT to_type, CAST(sum(n) AS BIGINT) AS n_in
           FROM edges GROUP BY 1) i ON i.to_type = n.state
ORDER BY n.state
"""


def evt_holt_linear(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Holt linear-trend (double exponential) smoothing of each event
    type's daily revenue — the trend-aware upgrade of evt_ewma_daily:
    level and trend recursions l_t = a*x_t + (1-a)(l+b),
    b_t = g*(l_t - l) + (1-g)*b with shared repr-exact a=0.5, g=0.25,
    plus the in-sample one-step RMSE and the 7-day-ahead forecast.

    Determinism contract: the recursion is a SEQUENTIAL fold over the
    dense per-type daily series, so both engines execute the same IEEE
    ops in the same order — Spark folds with F.aggregate over the
    array_sort'ed series (init l=x1, b=x2-x1), DuckDB unrolls the
    identical expressions through a day-indexed recursive CTE — and
    every export is bit-identical before its 6dp round (no float
    sum-order anywhere).

    Plan: ONE combinable daily agg + the calendar-bounded gap-fill
    spine; the fold runs on |types| arrays of |days| elements
    (calendar-bounded at any corpus scale — the interpreted
    higher-order path is fine far below the 1000-dim Arrow-twin
    threshold). The 100 TB shape: daily grid is types x days
    regardless of fact rows. The densify + fold live in the SHARED
    combine operators/timeseries.holt_from_daily, which
    streaming.grid_monitor.start_daily_cents_monitor replays per
    micro-batch over its maintained grid (the ewma_from_daily
    one-combine-two-paths pattern)."""
    daily = TS.daily_cents(load_table(spark, sf_dir, "events")).persist()
    return TS.holt_from_daily(daily)


_HOLT_SQL = f"""
WITH RECURSIVE {_DAILY_CENTS_CTE}, {_GAP_FILLED_CTE}, idx AS (
  SELECT event_type, CAST(x AS DOUBLE) AS x,
         CAST(row_number() OVER (PARTITION BY event_type ORDER BY d)
              AS BIGINT) AS i,
         CAST(count(*) OVER (PARTITION BY event_type) AS BIGINT) AS n
  FROM grid
), rec AS (
  SELECT a.event_type, CAST(2 AS BIGINT) AS i, a.n,
         0.5 * b.x + 0.5 * (a.x + (b.x - a.x)) AS l,
         0.25 * ((0.5 * b.x + 0.5 * (a.x + (b.x - a.x))) - a.x)
           + 0.75 * (b.x - a.x) AS b,
         0.0 + (b.x - (a.x + (b.x - a.x))) * (b.x - (a.x + (b.x - a.x)))
           AS sse
  FROM idx a JOIN idx b
    ON a.event_type = b.event_type AND a.i = 1 AND b.i = 2
  UNION ALL
  SELECT r.event_type, r.i + 1, r.n,
         0.5 * g.x + 0.5 * (r.l + r.b),
         0.25 * ((0.5 * g.x + 0.5 * (r.l + r.b)) - r.l) + 0.75 * r.b,
         r.sse + (g.x - (r.l + r.b)) * (g.x - (r.l + r.b))
  FROM rec r JOIN idx g
    ON g.event_type = r.event_type AND g.i = r.i + 1
)
SELECT event_type, n AS n_days,
       round(l, 6) AS level_cents,
       round(b, 6) AS trend_cents,
       round(l + 7.0 * b, 6) AS forecast_7d_cents,
       round(sqrt(sse / CAST(n - 1 AS DOUBLE)), 6) AS rmse_cents
FROM rec
WHERE i = n
ORDER BY event_type
"""


_HUBNESS_K = 5


def emb_hubness_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-occurrence hubness audit per embedding label (Radovanovic et
    al. '10) — THE vector-search pathology metric: in high intrinsic
    dimension a few points ("hubs") appear in almost everyone's k-NN
    list while "antihubs" appear in nobody's, which silently skews
    ANN recall and k-NN label propagation. Per label: the k-occurrence
    distribution N_k(j) = |{i : j in kNN_k(i)}| at k=5, its skewness
    (the S_k hubness score), the max occupancy, antihub count
    (N_k = 0) and hub count (N_k > 2k).

    N_k counts are EXACT INTEGERS (kNN picks tie-break on (r, j), the
    j7/m8/emb_intrinsic_dim identity; distances share the
    fold-order-identical zip_with/list_reduce expression), so the
    moment sums S1..S3 are exact BIGINTs and skewness
    m3/(m2*sqrt(m2)) derives through one fixed expression tree ->
    bit-identical before its 6dp round; mean occupancy is a single
    exact-int division, exported unrounded.

    Plan: per-LABEL self-join over the _emb_label_capped sample (<=
    _EMB_PAIR_LABEL_CAP deterministic hash-ranked rows per label —
    the r10 mechanization of the subsample contract: join cost is
    min(L, CAP)^2, never corpus^2, and the identical cap expression
    runs in the oracle so the audit stays value-checked at any
    scale; N_k and the antihub census then read over the SAMPLE
    members, a consistent audit population)."""
    emb = _emb_label_capped(load_table(spark, sf_dir, "embeddings"))
    a = emb.select(
        "label", F.col("vec_id").alias("i"), F.col("embedding").alias("va")
    )
    b = emb.select(
        "label", F.col("vec_id").alias("j"), F.col("embedding").alias("vb")
    )
    d = (
        a.join(b, "label")
        .where(F.col("i") != F.col("j"))
        .select("label", "i", "j", V.sq_euclidean("va", "vb").alias("r"))
    )
    wnn = Window.partitionBy("label", "i").orderBy("r", "j")
    knn = (
        d.withColumn("rn", F.row_number().over(wnn))
        .where(F.col("rn") <= _HUBNESS_K)
        .select("label", "j")
    )
    occ = knn.groupBy("label", "j").agg(
        F.count(F.lit(1)).cast("long").alias("c")
    )
    members = emb.select("label", F.col("vec_id").alias("j"))
    cnt = members.join(occ, ["label", "j"], "left").select(
        "label", F.coalesce("c", F.lit(0)).cast("long").alias("c")
    )
    per_label = cnt.groupBy("label").agg(
        F.count(F.lit(1)).cast("long").alias("n_points"),
        F.sum("c").cast("long").alias("s1"),
        F.sum(F.col("c") * F.col("c")).cast("long").alias("s2"),
        F.sum(F.col("c") * F.col("c") * F.col("c")).cast("long").alias("s3"),
        F.max("c").cast("long").alias("max_k_occ"),
        F.sum(F.when(F.col("c") == 0, 1).otherwise(0))
        .cast("long")
        .alias("n_antihubs"),
        F.sum(F.when(F.col("c") > 2 * _HUBNESS_K, 1).otherwise(0))
        .cast("long")
        .alias("n_hubs"),
    )
    n = F.col("n_points").cast("double")
    mu = F.col("s1").cast("double") / n
    m2 = F.col("s2").cast("double") / n - mu * mu
    m3 = (
        F.col("s3").cast("double") / n
        - F.lit(3.0) * mu * (F.col("s2").cast("double") / n)
        + F.lit(2.0) * mu * mu * mu
    )
    return (
        per_label.select(
            "label",
            "n_points",
            "max_k_occ",
            "n_antihubs",
            "n_hubs",
            mu.alias("mean_k_occ"),
            F.when(m2 > 0, F.round(m3 / (m2 * F.sqrt(m2)), 6)).alias(
                "hubness_skew"
            ),
        )
        .orderBy("label")
    )


_HUBNESS_SQL = f"""
WITH {_EMB_LABEL_CAPPED_CTE},
d AS (
  SELECT a.label, a.vec_id AS i, b.vec_id AS j,
         list_reduce(list_transform(list_zip(a.embedding, b.embedding),
              p -> (CAST(p[1] AS DOUBLE) - CAST(p[2] AS DOUBLE))
                   * (CAST(p[1] AS DOUBLE) - CAST(p[2] AS DOUBLE))),
              (x, y) -> x + y) AS r
  FROM capped a JOIN capped b
    ON a.label = b.label AND a.vec_id <> b.vec_id
), knn AS (
  SELECT label, j FROM (
    SELECT label, i, j,
           row_number() OVER (PARTITION BY label, i ORDER BY r, j) AS rn
    FROM d
  ) WHERE rn <= 5
), occ AS (
  SELECT label, j, CAST(count(*) AS BIGINT) AS c
  FROM knn GROUP BY 1, 2
), cnt AS (
  SELECT m.label, CAST(coalesce(o.c, 0) AS BIGINT) AS c
  FROM (SELECT label, vec_id AS j FROM capped) m
  LEFT JOIN occ o ON m.label = o.label AND m.j = o.j
), per_label AS (
  SELECT label,
         CAST(count(*) AS BIGINT) AS n_points,
         CAST(sum(c) AS BIGINT) AS s1,
         CAST(sum(c * c) AS BIGINT) AS s2,
         CAST(sum(c * c * c) AS BIGINT) AS s3,
         CAST(max(c) AS BIGINT) AS max_k_occ,
         CAST(sum(CASE WHEN c = 0 THEN 1 ELSE 0 END) AS BIGINT)
           AS n_antihubs,
         CAST(sum(CASE WHEN c > 10 THEN 1 ELSE 0 END) AS BIGINT) AS n_hubs
  FROM cnt GROUP BY 1
)
SELECT label, n_points, max_k_occ, n_antihubs, n_hubs,
       CAST(s1 AS DOUBLE) / CAST(n_points AS DOUBLE) AS mean_k_occ,
       CASE WHEN CAST(s2 AS DOUBLE) / CAST(n_points AS DOUBLE)
                 - (CAST(s1 AS DOUBLE) / CAST(n_points AS DOUBLE))
                   * (CAST(s1 AS DOUBLE) / CAST(n_points AS DOUBLE)) > 0
            THEN round(
              (CAST(s3 AS DOUBLE) / CAST(n_points AS DOUBLE)
               - 3.0 * (CAST(s1 AS DOUBLE) / CAST(n_points AS DOUBLE))
                     * (CAST(s2 AS DOUBLE) / CAST(n_points AS DOUBLE))
               + 2.0 * (CAST(s1 AS DOUBLE) / CAST(n_points AS DOUBLE))
                     * (CAST(s1 AS DOUBLE) / CAST(n_points AS DOUBLE))
                     * (CAST(s1 AS DOUBLE) / CAST(n_points AS DOUBLE)))
              / ((CAST(s2 AS DOUBLE) / CAST(n_points AS DOUBLE)
                  - (CAST(s1 AS DOUBLE) / CAST(n_points AS DOUBLE))
                    * (CAST(s1 AS DOUBLE) / CAST(n_points AS DOUBLE)))
                 * sqrt(CAST(s2 AS DOUBLE) / CAST(n_points AS DOUBLE)
                        - (CAST(s1 AS DOUBLE) / CAST(n_points AS DOUBLE))
                          * (CAST(s1 AS DOUBLE) / CAST(n_points AS DOUBLE)))),
              6) END AS hubness_skew
FROM per_label
ORDER BY label
"""


# ---------------------------------------------------------------------------
# r8 third-session additions
# ---------------------------------------------------------------------------


def evt_welch_ttest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Welch two-sample t-test (unequal variances) on event VALUE between
    every pair of event types — the parametric companion to
    evt_kruskal_dunn (rank-based) and evt_proportion_ztest (rates):
    t = (m₁−m₂)/√(v₁/n₁+v₂/n₂) with the Welch–Satterthwaite df.
    Values are 2-dec decimals → EXACT cent integers: per type the agg
    keeps n, S=Σc (BIGINT) and Q=Σc² (DECIMAL(38,0) — the squared-cents
    HUGEINT rule), so vᵢ = (nᵢQᵢ−Sᵢ²)/(nᵢ(nᵢ−1)) is a single IEEE
    division of exact integers and every downstream double (means, t,
    df) is bit-identical across engines; t/df round 6dp (sqrt-derived,
    tie measure-zero). Plan: ONE combinable shuffle to |types| rows,
    then a |types|²/2 broadcast pair join — the pair frame never leaves
    the driver-scale regime regardless of fact size."""
    e = load_table(spark, sf_dir, "events")
    c = F.round(F.col("value") * 100).cast("long")
    per = e.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(c).cast("long").alias("s"),
        F.sum((c * c).cast("decimal(38,0)")).cast("decimal(38,0)").alias("q"),
    )
    a = per.select(
        F.col("event_type").alias("t1"),
        F.col("n").alias("n1"),
        F.col("s").alias("s1"),
        F.col("q").alias("q1"),
    )
    b = per.select(
        F.col("event_type").alias("t2"),
        F.col("n").alias("n2"),
        F.col("s").alias("s2"),
        F.col("q").alias("q2"),
    )
    pr = a.join(F.broadcast(b), F.col("t1") < F.col("t2"))
    n1, n2 = F.col("n1"), F.col("n2")
    m1 = F.col("s1").cast("double") / n1.cast("double")
    m2 = F.col("s2").cast("double") / n2.cast("double")
    num1 = F.col("q1") * n1 - F.col("s1").cast("decimal(38,0)") * F.col("s1")
    num2 = F.col("q2") * n2 - F.col("s2").cast("decimal(38,0)") * F.col("s2")
    a1 = num1.cast("double") / (n1 * (n1 - 1)).cast("double") / n1.cast("double")
    a2 = num2.cast("double") / (n2 * (n2 - 1)).cast("double") / n2.cast("double")
    se2 = a1 + a2
    ok = (n1 > 1) & (n2 > 1) & (se2 > 0)
    t = (m1 - m2) / F.sqrt(se2)
    df = (se2 * se2) / (
        a1 * a1 / (n1 - 1).cast("double") + a2 * a2 / (n2 - 1).cast("double")
    )
    return pr.select(
        "t1",
        "t2",
        "n1",
        "n2",
        F.col("s1").alias("s1_cents"),
        F.col("s2").alias("s2_cents"),
        (m1 - m2).alias("mean_diff_cents"),
        F.when(ok, F.round(t, 6)).alias("welch_t"),
        F.when(ok, F.round(df, 6)).alias("welch_df"),
    ).orderBy("t1", "t2")


_WELCH_SQL = """
WITH per AS (
  SELECT event_type,
         CAST(count(*) AS BIGINT) AS n,
         CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS s,
         sum(CAST(round(value * 100) AS HUGEINT)
             * CAST(round(value * 100) AS HUGEINT)) AS q
  FROM events GROUP BY 1
), pr AS (
  SELECT a.event_type AS t1, b.event_type AS t2,
         a.n AS n1, b.n AS n2, a.s AS s1, b.s AS s2, a.q AS q1, b.q AS q2
  FROM per a JOIN per b ON a.event_type < b.event_type
), st AS (
  SELECT t1, t2, n1, n2, s1, s2,
         CAST(s1 AS DOUBLE) / CAST(n1 AS DOUBLE) AS m1,
         CAST(s2 AS DOUBLE) / CAST(n2 AS DOUBLE) AS m2,
         CAST(q1 * n1 - CAST(s1 AS HUGEINT) * s1 AS DOUBLE)
           / CAST(n1 * (n1 - 1) AS DOUBLE) / CAST(n1 AS DOUBLE) AS a1,
         CAST(q2 * n2 - CAST(s2 AS HUGEINT) * s2 AS DOUBLE)
           / CAST(n2 * (n2 - 1) AS DOUBLE) / CAST(n2 AS DOUBLE) AS a2
  FROM pr
)
SELECT t1, t2, n1, n2, s1 AS s1_cents, s2 AS s2_cents,
       m1 - m2 AS mean_diff_cents,
       CASE WHEN n1 > 1 AND n2 > 1 AND a1 + a2 > 0
            THEN round((m1 - m2) / sqrt(a1 + a2), 6) END AS welch_t,
       CASE WHEN n1 > 1 AND n2 > 1 AND a1 + a2 > 0
            THEN round((a1 + a2) * (a1 + a2)
                 / (a1 * a1 / CAST(n1 - 1 AS DOUBLE)
                    + a2 * a2 / CAST(n2 - 1 AS DOUBLE)), 6) END AS welch_df
FROM st
ORDER BY t1, t2
"""


def evt_quadratic_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-type QUADRATIC trend fit over the dense daily count grid —
    the curvature companion to evt_type_trend_ols (linear) and
    evt_holt_linear (adaptive): y = a + b·t + c·t² solved in closed
    form via Cramer's rule on the normal-equation sums Σtᵏ (k=0..4)
    and Σy, Σty, Σt²y. Day counts and the day index t are EXACT
    integers, so all seven sums are exact BIGINTs and the 3×3
    determinants clear in DECIMAL(38,0)/HUGEINT (terms ~ n·St2·St4;
    at decade-long calendars center t first — documented, not needed
    at test spans); each coefficient is then ONE division of two
    exact integers cast to double → bit-identical across engines,
    exported UNROUNDED. Plan: one (type, day) count shuffle, a
    calendar-bounded per-type grid explode, one combinable sums agg —
    fact-size-independent after the first shuffle."""
    daily = TS.daily_counts(load_table(spark, sf_dir, "events"))
    origin = F.min("d").over(Window.partitionBy("event_type"))
    dense = TS.gap_filled(daily).select(
        "event_type", (F.col("d") - origin).alias("t"), "x"
    )
    t, x = F.col("t"), F.col("x")
    s = dense.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(t).cast("long").alias("st"),
        F.sum(t * t).cast("long").alias("st2"),
        F.sum(t * t * t).cast("long").alias("st3"),
        F.sum(t * t * t * t).cast("long").alias("st4"),
        F.sum(x).cast("long").alias("sy"),
        F.sum(t * x).cast("long").alias("sty"),
        F.sum(t * t * x).cast("long").alias("st2y"),
    )

    def dec(name: str) -> F.Column:
        return F.col(name).cast("decimal(38,0)")

    n, st, st2, st3, st4 = dec("n"), dec("st"), dec("st2"), dec("st3"), dec("st4")
    sy, sty, st2y = dec("sy"), dec("sty"), dec("st2y")
    det = (
        n * (st2 * st4 - st3 * st3)
        - st * (st * st4 - st3 * st2)
        + st2 * (st * st3 - st2 * st2)
    )
    deta = (
        sy * (st2 * st4 - st3 * st3)
        - st * (sty * st4 - st3 * st2y)
        + st2 * (sty * st3 - st2 * st2y)
    )
    detb = (
        n * (sty * st4 - st3 * st2y)
        - sy * (st * st4 - st3 * st2)
        + st2 * (st * st2y - sty * st2)
    )
    detc = (
        n * (st2 * st2y - sty * st3)
        - st * (st * st2y - sty * st2)
        + sy * (st * st3 - st2 * st2)
    )
    ok = (F.col("n") >= 3) & (det != 0)
    return s.select(
        "event_type",
        F.col("n").alias("n_days"),
        F.col("sy").alias("n_events"),
        F.when(ok, deta.cast("double") / det.cast("double")).alias("coef_a"),
        F.when(ok, detb.cast("double") / det.cast("double")).alias("coef_b"),
        F.when(ok, detc.cast("double") / det.cast("double")).alias("coef_c"),
    ).orderBy("event_type")


_QUAD_TREND_SQL = """
WITH daily AS (
  SELECT event_type,
         CAST(floor(floor(epoch(ts)) / 86400.0) AS BIGINT) AS d,
         CAST(count(*) AS BIGINT) AS x
  FROM events GROUP BY 1, 2
), span AS (
  SELECT event_type, min(d) AS mn, max(d) AS mx FROM daily GROUP BY 1
), spine AS (
  SELECT event_type, mn,
         CAST(unnest(generate_series(mn, mx)) AS BIGINT) AS d
  FROM span
), dense AS (
  SELECT s.event_type, s.d - s.mn AS t, coalesce(a.x, 0) AS x
  FROM spine s LEFT JOIN daily a
    ON s.event_type = a.event_type AND s.d = a.d
), sums AS (
  SELECT event_type,
         CAST(count(*) AS BIGINT) AS n,
         CAST(sum(t) AS BIGINT) AS st,
         CAST(sum(t * t) AS BIGINT) AS st2,
         CAST(sum(t * t * t) AS BIGINT) AS st3,
         CAST(sum(t * t * t * t) AS BIGINT) AS st4,
         CAST(sum(x) AS BIGINT) AS sy,
         CAST(sum(t * x) AS BIGINT) AS sty,
         CAST(sum(t * t * x) AS BIGINT) AS st2y
  FROM dense GROUP BY 1
), dets AS (
  SELECT event_type, n, sy,
         CAST(n AS HUGEINT) * (CAST(st2 AS HUGEINT) * st4 - CAST(st3 AS HUGEINT) * st3)
         - CAST(st AS HUGEINT) * (CAST(st AS HUGEINT) * st4 - CAST(st3 AS HUGEINT) * st2)
         + CAST(st2 AS HUGEINT) * (CAST(st AS HUGEINT) * st3 - CAST(st2 AS HUGEINT) * st2)
           AS det,
         CAST(sy AS HUGEINT) * (CAST(st2 AS HUGEINT) * st4 - CAST(st3 AS HUGEINT) * st3)
         - CAST(st AS HUGEINT) * (CAST(sty AS HUGEINT) * st4 - CAST(st3 AS HUGEINT) * st2y)
         + CAST(st2 AS HUGEINT) * (CAST(sty AS HUGEINT) * st3 - CAST(st2 AS HUGEINT) * st2y)
           AS deta,
         CAST(n AS HUGEINT) * (CAST(sty AS HUGEINT) * st4 - CAST(st3 AS HUGEINT) * st2y)
         - CAST(sy AS HUGEINT) * (CAST(st AS HUGEINT) * st4 - CAST(st3 AS HUGEINT) * st2)
         + CAST(st2 AS HUGEINT) * (CAST(st AS HUGEINT) * st2y - CAST(sty AS HUGEINT) * st2)
           AS detb,
         CAST(n AS HUGEINT) * (CAST(st2 AS HUGEINT) * st2y - CAST(sty AS HUGEINT) * st3)
         - CAST(st AS HUGEINT) * (CAST(st AS HUGEINT) * st2y - CAST(sty AS HUGEINT) * st2)
         + CAST(sy AS HUGEINT) * (CAST(st AS HUGEINT) * st3 - CAST(st2 AS HUGEINT) * st2)
           AS detc
  FROM sums
)
SELECT event_type, n AS n_days, sy AS n_events,
       CASE WHEN n >= 3 AND det <> 0
            THEN CAST(deta AS DOUBLE) / CAST(det AS DOUBLE) END AS coef_a,
       CASE WHEN n >= 3 AND det <> 0
            THEN CAST(detb AS DOUBLE) / CAST(det AS DOUBLE) END AS coef_b,
       CASE WHEN n >= 3 AND det <> 0
            THEN CAST(detc AS DOUBLE) / CAST(det AS DOUBLE) END AS coef_c
FROM dets
ORDER BY event_type
"""


def vocab_chao1_richness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chao1 species-richness + Good-Turing unseen-mass estimate per
    source — the curation question behind vocab_growth_heaps asked the
    other way round: not "how fast is vocabulary growing" but "how much
    vocabulary have we NOT yet seen from this source". Chao1 (bias-
    corrected) = V + F₁(F₁−1)/(2(F₂+1)) from the singleton/doubleton
    counts; the Good-Turing unseen probability mass is F₁/N. All five
    inputs are EXACT integers from two combinable shuffles (per
    (source, word) counts → per-source frequency-of-frequency agg), so
    both estimates export UNROUNDED as single exact-integer IEEE
    divisions — bit-identical across engines, no rounding anywhere."""
    d = load_table(spark, sf_dir, "documents")
    toks = d.select(
        "source",
        F.explode(
            F.filter(
                F.split(F.lower(F.trim(F.col("text"))), r"\s+"),
                lambda tk: tk != "",
            )
        ).alias("w"),
    )
    freq = toks.groupBy("source", "w").agg(
        F.count(F.lit(1)).cast("long").alias("c")
    )
    agg = freq.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_types"),
        F.sum("c").cast("long").alias("n_tokens"),
        F.sum(F.when(F.col("c") == 1, 1).otherwise(0)).cast("long").alias("f1"),
        F.sum(F.when(F.col("c") == 2, 1).otherwise(0)).cast("long").alias("f2"),
    )
    v, f1, f2, nt = (
        F.col("n_types"),
        F.col("f1"),
        F.col("f2"),
        F.col("n_tokens"),
    )
    return agg.select(
        "source",
        "n_tokens",
        "n_types",
        "f1",
        "f2",
        (
            v.cast("double")
            + (f1 * (f1 - 1)).cast("double") / (2 * (f2 + 1)).cast("double")
        ).alias("chao1"),
        F.when(nt > 0, f1.cast("double") / nt.cast("double")).alias(
            "gt_unseen_mass"
        ),
    ).orderBy("source")


_CHAO1_SQL = r"""
WITH tok AS (
  SELECT source,
         unnest(list_filter(string_split_regex(lower(trim(text)), '\s+'),
                            t -> t <> '')) AS w
  FROM documents
), freq AS (
  SELECT source, w, CAST(count(*) AS BIGINT) AS c FROM tok GROUP BY 1, 2
), agg AS (
  SELECT source,
         CAST(count(*) AS BIGINT) AS n_types,
         CAST(sum(c) AS BIGINT) AS n_tokens,
         CAST(sum(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT) AS f1,
         CAST(sum(CASE WHEN c = 2 THEN 1 ELSE 0 END) AS BIGINT) AS f2
  FROM freq GROUP BY 1
)
SELECT source, n_tokens, n_types, f1, f2,
       CAST(n_types AS DOUBLE)
       + CAST(f1 * (f1 - 1) AS DOUBLE) / CAST(2 * (f2 + 1) AS DOUBLE) AS chao1,
       CASE WHEN n_tokens > 0
            THEN CAST(f1 AS DOUBLE) / CAST(n_tokens AS DOUBLE)
       END AS gt_unseen_mass
FROM agg
ORDER BY source
"""


def doc_source_mi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mutual information between document SOURCE and LANGUAGE with
    per-cell pointwise MI — the effect-size companion to
    doc_lang_source_chi2 (which only answers "is there dependence",
    not "which cells carry it"): MI = Σ p(s,l)·ln(N·c_sl/(c_s·c_l))
    in nats; the per-cell PMI flags which source is over/under-
    indexed on which language — the signal a mixture rebalancer acts
    on. Counts are exact integers; PMI's log argument is ONE exact-
    integer ratio whose products are accumulated in DECIMAL(38,0) /
    HUGEINT (the squared-sums rule — plain BIGINT would ANSI-error
    once corpus counts near ~3e9, since c_sl·N ≤ N²) and cast to
    double only at the ln; PMI and the 25-cell MI sum round 6dp
    (ln-derived,
    irrational, tie measure-zero). Plan: three combinable count
    shuffles (cell, two margins) + two 1-row broadcasts — margin
    joins are broadcast-equi on the tiny dimension frames."""
    d = load_table(spark, sf_dir, "documents")
    cell = d.groupBy("source", "lang").agg(
        F.count(F.lit(1)).cast("long").alias("c_sl")
    )
    ms = d.groupBy("source").agg(F.count(F.lit(1)).cast("long").alias("c_s"))
    ml = d.groupBy("lang").agg(F.count(F.lit(1)).cast("long").alias("c_l"))
    tot = d.agg(F.count(F.lit(1)).cast("long").alias("n_total"))
    j = (
        cell.join(F.broadcast(ms), "source")
        .join(F.broadcast(ml), "lang")
        .crossJoin(F.broadcast(tot))
    )
    pmi = F.log(
        (F.col("c_sl").cast("decimal(38,0)") * F.col("n_total")).cast("double")
        / (F.col("c_s").cast("decimal(38,0)") * F.col("c_l")).cast("double")
    )
    term = (F.col("c_sl").cast("double") / F.col("n_total").cast("double")) * pmi
    cells = j.select(
        "source",
        "lang",
        "c_sl",
        "c_s",
        "c_l",
        pmi.alias("pmi_raw"),
        term.alias("term"),
    )
    mi = cells.agg(F.sum("term").alias("mi_raw"))
    return (
        cells.crossJoin(F.broadcast(mi))
        .select(
            "source",
            "lang",
            "c_sl",
            "c_s",
            "c_l",
            F.round(F.col("pmi_raw"), 6).alias("pmi_nats"),
            F.round(F.col("mi_raw"), 6).alias("mi_nats"),
        )
        .orderBy("source", "lang")
    )


_SOURCE_MI_SQL = """
WITH cell AS (
  SELECT source, lang, CAST(count(*) AS BIGINT) AS c_sl
  FROM documents GROUP BY 1, 2
), ms AS (
  SELECT source, CAST(count(*) AS BIGINT) AS c_s FROM documents GROUP BY 1
), ml AS (
  SELECT lang, CAST(count(*) AS BIGINT) AS c_l FROM documents GROUP BY 1
), tot AS (
  SELECT CAST(count(*) AS BIGINT) AS n_total FROM documents
), j AS (
  SELECT cell.source, cell.lang, c_sl, c_s, c_l,
         ln(CAST(CAST(c_sl AS HUGEINT) * n_total AS DOUBLE)
            / CAST(CAST(c_s AS HUGEINT) * c_l AS DOUBLE)) AS pmi_raw,
         (CAST(c_sl AS DOUBLE) / CAST(n_total AS DOUBLE))
           * ln(CAST(CAST(c_sl AS HUGEINT) * n_total AS DOUBLE)
                / CAST(CAST(c_s AS HUGEINT) * c_l AS DOUBLE)) AS term
  FROM cell JOIN ms USING (source) JOIN ml USING (lang) CROSS JOIN tot
), mi AS (SELECT sum(term) AS mi_raw FROM j)
SELECT source, lang, c_sl, c_s, c_l,
       round(pmi_raw, 6) AS pmi_nats,
       round(mi_raw, 6) AS mi_nats
FROM j CROSS JOIN mi
ORDER BY source, lang
"""


def nation_theil_decomposition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theil-T inequality decomposition of customer revenue BY NATION —
    the decomposable alternative to evt_user_gini / customer_pareto_
    lorenz: T_total = Σ_g w_g·T_within(g) + T_between, where per nation
    T_within = Σ_c (y_c/Y_g)·ln(y_c·n_g/Y_g) and the between term is
    w_g·ln(w_g/(n_g/n)) — "how much revenue concentration lives INSIDE
    nations vs BETWEEN them". Customer revenues are exact cent BIGINTs;
    every log argument is one exact-integer ratio (cross-magnitude
    products cleared through DECIMAL(38,0)/HUGEINT); revenue shares
    export as single exact divisions (unrounded), the ln-sums round 6dp
    (irrational). Plan: per-customer cent agg → broadcast customer-dim
    join → per-nation agg → 1-row totals broadcast; the per-customer
    term sum is one combinable shuffle."""
    o = load_table(spark, sf_dir, "orders")
    cu = load_table(spark, sf_dir, "customer")
    na = load_table(spark, sf_dir, "nation")
    cents = F.round(F.col("o_totalprice") * 100).cast("long")
    y = (
        o.groupBy("o_custkey")
        .agg(F.sum(cents).cast("long").alias("y"))
        .where(F.col("y") > 0)
    )
    yc = y.join(
        cu.select(F.col("c_custkey").alias("o_custkey"), "c_nationkey"),
        "o_custkey",
    )
    g = yc.groupBy("c_nationkey").agg(
        F.count(F.lit(1)).cast("long").alias("n_cust"),
        F.sum("y").cast("long").alias("yg"),
    )
    tot = g.agg(
        F.sum("n_cust").cast("long").alias("n_all"),
        F.sum("yg").cast("long").alias("y_all"),
    )
    w = (
        yc.join(F.broadcast(g), "c_nationkey")
        .select(
            "c_nationkey",
            (
                (F.col("y").cast("double") / F.col("yg").cast("double"))
                * F.log(
                    (F.col("y").cast("decimal(38,0)") * F.col("n_cust")).cast(
                        "double"
                    )
                    / F.col("yg").cast("double")
                )
            ).alias("term"),
        )
        .groupBy("c_nationkey")
        .agg(F.sum("term").alias("t_within_raw"))
    )
    share = F.col("yg").cast("double") / F.col("y_all").cast("double")
    between = share * F.log(
        (F.col("yg").cast("decimal(38,0)") * F.col("n_all")).cast("double")
        / (F.col("y_all").cast("decimal(38,0)") * F.col("n_cust")).cast(
            "double"
        )
    )
    return (
        g.join(w, "c_nationkey")
        .crossJoin(F.broadcast(tot))
        .join(
            F.broadcast(
                na.select(F.col("n_nationkey").alias("c_nationkey"), "n_name")
            ),
            "c_nationkey",
        )
        .select(
            F.col("c_nationkey").alias("nationkey"),
            "n_name",
            "n_cust",
            F.col("yg").alias("rev_cents"),
            share.alias("rev_share"),
            F.round(F.col("t_within_raw"), 6).alias("theil_within"),
            F.round(between, 6).alias("theil_between_term"),
        )
        .orderBy("nationkey")
    )


_THEIL_SQL = """
WITH y AS (
  SELECT o_custkey,
         CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS y
  FROM orders GROUP BY 1 HAVING sum(CAST(round(o_totalprice * 100) AS BIGINT)) > 0
), yc AS (
  SELECT y.o_custkey, y.y, c.c_nationkey
  FROM y JOIN customer c ON y.o_custkey = c.c_custkey
), g AS (
  SELECT c_nationkey,
         CAST(count(*) AS BIGINT) AS n_cust,
         CAST(sum(y) AS BIGINT) AS yg
  FROM yc GROUP BY 1
), tot AS (
  SELECT CAST(sum(n_cust) AS BIGINT) AS n_all,
         CAST(sum(yg) AS BIGINT) AS y_all
  FROM g
), w AS (
  SELECT yc.c_nationkey,
         sum((CAST(yc.y AS DOUBLE) / CAST(g.yg AS DOUBLE))
             * ln(CAST(CAST(yc.y AS HUGEINT) * g.n_cust AS DOUBLE)
                  / CAST(g.yg AS DOUBLE))) AS t_within_raw
  FROM yc JOIN g ON yc.c_nationkey = g.c_nationkey
  GROUP BY 1
)
SELECT g.c_nationkey AS nationkey, na.n_name, g.n_cust,
       g.yg AS rev_cents,
       CAST(g.yg AS DOUBLE) / CAST(tot.y_all AS DOUBLE) AS rev_share,
       round(w.t_within_raw, 6) AS theil_within,
       round((CAST(g.yg AS DOUBLE) / CAST(tot.y_all AS DOUBLE))
             * ln(CAST(CAST(g.yg AS HUGEINT) * tot.n_all AS DOUBLE)
                  / CAST(CAST(tot.y_all AS HUGEINT) * g.n_cust AS DOUBLE)),
             6) AS theil_between_term
FROM g JOIN w ON g.c_nationkey = w.c_nationkey
CROSS JOIN tot
JOIN nation na ON g.c_nationkey = na.n_nationkey
ORDER BY nationkey
"""


def g9_assortativity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree assortativity + average-neighbor-degree (knn) profile over
    the PART co-order graph (parts appearing together in ≥ 2 distinct
    orders — the brand-level graph is complete at every scale, so the
    part level is where degree structure lives) — do high-degree parts
    connect to other hubs (assortative, r > 0) or to the periphery
    (disassortative, r < 0)? Newman's r is the Pearson correlation of
    endpoint degrees over the DIRECTED symmetrized edge list; degrees/
    counts are exact integers, the moment sums clear in DECIMAL(38,0)/
    HUGEINT, knn̄(k) exports as one exact-integer division (unrounded)
    and r rounds 6dp (sqrt-derived). Plan: pair fan-out bounded by
    lineitems-per-order² (TPC-H ≈ 7 → ≤ 49 pairs/order, never
    catalog²), two degree joins (AQE-broadcast), one combinable
    per-degree agg + a 1-row global-moments broadcast."""
    li = load_table(spark, sf_dir, "lineitem")
    cb = (
        li.select(
            F.col("l_orderkey").alias("u"), F.col("l_partkey").alias("b")
        )
        .distinct()
    )
    a = cb.select("u", F.col("b").alias("src"))
    c = cb.select("u", F.col("b").alias("dst"))
    und = (
        a.join(c, "u")
        .where(F.col("src") < F.col("dst"))
        .groupBy("src", "dst")
        .agg(F.count(F.lit(1)).cast("long").alias("common"))
        .where(F.col("common") >= 2)
        .select("src", "dst")
    )
    sym = und.unionByName(
        und.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    ).persist()
    deg = sym.groupBy("src").agg(
        F.count(F.lit(1)).cast("long").alias("degree")
    )
    # persist the degree-attached edge list: it feeds BOTH the global
    # moment aggregate and the per-degree knn profile — without the
    # persist the co-order pair fan-out + two degree joins run twice
    edj = (
        sym.join(deg, "src")
        .join(
            deg.select(F.col("src").alias("dst"), F.col("degree").alias("deg_dst")),
            "dst",
        )
        .select("src", "degree", "deg_dst")
        .persist()
    )
    ed = edj.select(F.col("degree").alias("x"), F.col("deg_dst").alias("yv"))
    gl = ed.agg(
        F.count(F.lit(1)).cast("long").alias("m"),
        F.sum("x").cast("long").alias("sx"),
        F.sum("yv").cast("long").alias("sy"),
        F.sum((F.col("x") * F.col("yv")).cast("decimal(38,0)"))
        .cast("decimal(38,0)")
        .alias("sxy"),
        F.sum((F.col("x") * F.col("x")).cast("decimal(38,0)"))
        .cast("decimal(38,0)")
        .alias("sx2"),
        F.sum((F.col("yv") * F.col("yv")).cast("decimal(38,0)"))
        .cast("decimal(38,0)")
        .alias("sy2"),
    )
    m = F.col("m").cast("decimal(38,0)")
    covn = m * F.col("sxy") - F.col("sx").cast("decimal(38,0)") * F.col("sy")
    vxn = m * F.col("sx2") - F.col("sx").cast("decimal(38,0)") * F.col("sx")
    vyn = m * F.col("sy2") - F.col("sy").cast("decimal(38,0)") * F.col("sy")
    glr = gl.select(
        F.col("m").alias("n_directed_edges"),
        F.when(
            (vxn > 0) & (vyn > 0),
            F.round(
                covn.cast("double")
                / F.sqrt(vxn.cast("double") * vyn.cast("double")),
                6,
            ),
        ).alias("assortativity_r"),
    )
    knn = (
        edj.groupBy(F.col("degree").alias("k"))
        .agg(
            F.countDistinct("src").cast("long").alias("n_nodes"),
            F.count(F.lit(1)).cast("long").alias("n_edges"),
            F.sum("deg_dst").cast("long").alias("sum_nbr_deg"),
        )
    )
    return (
        knn.crossJoin(F.broadcast(glr))
        .select(
            "k",
            "n_nodes",
            "n_edges",
            "sum_nbr_deg",
            (
                F.col("sum_nbr_deg").cast("double")
                / F.col("n_edges").cast("double")
            ).alias("knn_avg"),
            "n_directed_edges",
            "assortativity_r",
        )
        .orderBy("k")
    )


_ASSORT_SQL = """
WITH cb AS (
  SELECT DISTINCT l_orderkey AS u, l_partkey AS b FROM lineitem
), und AS (
  SELECT a.b AS src, c.b AS dst
  FROM cb a JOIN cb c ON a.u = c.u AND a.b < c.b
  GROUP BY 1, 2 HAVING count(*) >= 2
), sym AS (
  SELECT src, dst FROM und UNION ALL SELECT dst AS src, src AS dst FROM und
), deg AS (
  SELECT src, CAST(count(*) AS BIGINT) AS degree FROM sym GROUP BY 1
), ed AS (
  SELECT d1.degree AS x, d2.degree AS yv
  FROM sym JOIN deg d1 ON sym.src = d1.src JOIN deg d2 ON sym.dst = d2.src
), gl AS (
  SELECT CAST(count(*) AS BIGINT) AS m,
         CAST(sum(x) AS BIGINT) AS sx,
         CAST(sum(yv) AS BIGINT) AS sy,
         sum(CAST(x AS HUGEINT) * yv) AS sxy,
         sum(CAST(x AS HUGEINT) * x) AS sx2,
         sum(CAST(yv AS HUGEINT) * yv) AS sy2
  FROM ed
), glr AS (
  SELECT m AS n_directed_edges,
         CASE WHEN m * sx2 - CAST(sx AS HUGEINT) * sx > 0
               AND m * sy2 - CAST(sy AS HUGEINT) * sy > 0
              THEN round(CAST(m * sxy - CAST(sx AS HUGEINT) * sy AS DOUBLE)
                   / sqrt(CAST(m * sx2 - CAST(sx AS HUGEINT) * sx AS DOUBLE)
                          * CAST(m * sy2 - CAST(sy AS HUGEINT) * sy AS DOUBLE)),
                   6)
         END AS assortativity_r
  FROM gl
), knn AS (
  SELECT d1.degree AS k,
         CAST(count(DISTINCT sym.src) AS BIGINT) AS n_nodes,
         CAST(count(*) AS BIGINT) AS n_edges,
         CAST(sum(d2.degree) AS BIGINT) AS sum_nbr_deg
  FROM sym JOIN deg d1 ON sym.src = d1.src JOIN deg d2 ON sym.dst = d2.src
  GROUP BY 1
)
SELECT k, n_nodes, n_edges, sum_nbr_deg,
       CAST(sum_nbr_deg AS DOUBLE) / CAST(n_edges AS DOUBLE) AS knn_avg,
       n_directed_edges, assortativity_r
FROM knn CROSS JOIN glr
ORDER BY k
"""


def evt_seasonal_decompose(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classical additive seasonal decomposition of daily revenue per
    event type — trend (centered 7-day moving average), day-of-week
    seasonal component, and residual energy, the STL-shaped audit
    behind evt_dow_seasonality (which only reports raw dow means, not
    the detrended component). Everything stays EXACT RATIONAL: daily
    cents x are exact ints, the MA-7 trend is T/7 with T = Σ±3 x
    (exact int, full windows only), the detrended value is
    p/7 = (7x−T)/7, the dow seasonal mean is Σp/(7·cnt) and the
    per-dow residual sum-of-squares is Σ(cnt·p − Σp)²/(7·cnt)² — every
    export is ONE division of exact DECIMAL(38,0)/HUGEINT integers →
    bit-identical doubles, zero rounding anywhere (the Theil-Sen
    rational-export discipline). Plan: one combinable daily agg, a
    calendar-bounded spine, a 7-row window (dense grid ⇒ rows-frame
    is calendar-correct), two tiny per-(type,dow) aggs. The
    decomposition itself is the SHARED timeseries.seasonal_from_daily
    combine (also driven continuously by
    streaming.grid_monitor.start_daily_cents_monitor)."""
    daily = TS.daily_cents(load_table(spark, sf_dir, "events"))
    return TS.seasonal_from_daily(daily)


_SEASONAL_SQL = f"""
WITH {_DAILY_CENTS_CTE}, {_GAP_FILLED_CTE}, tr AS (
  SELECT event_type, d, x,
         CAST(sum(x) OVER (PARTITION BY event_type ORDER BY d
              ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING) AS BIGINT) AS tnum,
         count(*) OVER (PARTITION BY event_type ORDER BY d
              ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING) AS wn
  FROM grid
), p AS (
  SELECT event_type, d % 7 AS dow,
         CAST(7 * x - tnum AS BIGINT) AS p
  FROM tr WHERE wn = 7
), sg AS (
  SELECT event_type, dow,
         CAST(count(*) AS BIGINT) AS cnt,
         CAST(sum(p) AS BIGINT) AS sp
  FROM p GROUP BY 1, 2
), r AS (
  SELECT p.event_type, p.dow,
         sum((CAST(sg.cnt AS HUGEINT) * p.p - sg.sp)
             * (CAST(sg.cnt AS HUGEINT) * p.p - sg.sp)) AS rss_num
  FROM p JOIN sg ON p.event_type = sg.event_type AND p.dow = sg.dow
  GROUP BY 1, 2
)
SELECT sg.event_type, sg.dow, sg.cnt AS n_days,
       sg.sp AS detrended_sum_num,
       CAST(sg.sp AS DOUBLE) / CAST(7 * sg.cnt AS DOUBLE) AS seasonal_cents,
       CAST(r.rss_num AS DOUBLE)
         / CAST(CAST(7 * sg.cnt AS HUGEINT) * (7 * sg.cnt) AS DOUBLE)
         AS resid_ss
FROM sg JOIN r ON sg.event_type = r.event_type AND sg.dow = r.dow
ORDER BY sg.event_type, sg.dow
"""


def evt_cms_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min sketch point-query audit over per-user event counts —
    the mergeable fixed-size frequency sketch (d=4 universal-hash rows
    × w=256 buckets) whose one-sided error the audit measures against
    exact counts for the top-20 users: estimate = min over rows of the
    hashed bucket count, ALWAYS ≥ exact, overestimate bounded by
    collision mass. All arithmetic is integer (universal hashes
    ((a·(k mod 2^20') + b) mod (2^31−1)) mod 256 with constants < 2^31
    — the ANSI hash-constant rule), so every export is an exact BIGINT;
    no floats anywhere. Plan: the sketch build is ONE combinable
    4×256-cell agg (map-side 4-way explode, the distributed-sketch
    merge shape — cells are a fixed 1 KB regardless of corpus size);
    the audit joins the exploded top-20 probe frame to the broadcast
    cell frame — at 100 TB the build stays a single shuffle of bounded
    partial sketches. The sketch build is also the streaming monitor:
    operators/sketches.cms_cells over the stream, exported as-is by
    streaming/grid_monitor.start_grid_rewrite_monitor."""
    from vector_search_optimization_spark.operators import sketches as SK

    e = load_table(spark, sf_dir, "events")
    cells = SK.cms_cells(e, "user_id")
    exact = e.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("long").alias("exact_count")
    )
    # distributed top-k (TakeOrderedAndProject), then rank the 20-row
    # result — never a global row_number over the full |users| frame
    wtop = Window.orderBy(F.col("exact_count").desc(), F.col("user_id").asc())
    top = (
        exact.orderBy(F.col("exact_count").desc(), F.col("user_id").asc())
        .limit(20)
        .withColumn("rnk", F.row_number().over(wtop))
    )
    est = SK.cms_point_estimates(cells, top, "user_id")
    return est.select(
        "rnk",
        "user_id",
        "exact_count",
        "cms_estimate",
        (F.col("cms_estimate") - F.col("exact_count")).alias("overestimate"),
    ).orderBy("rnk")


def _cms_sql() -> str:
    from vector_search_optimization_spark.operators import sketches as SK

    hashes = ", ".join(f"({i}, {a}, {b})" for i, a, b in SK.CMS_HASHES)
    return f"""
WITH h(i, a, b) AS (VALUES {hashes}),
cells AS (
  SELECT h.i,
         ((h.a * (e.user_id % {SK.CMS_KMOD}) + h.b) % {SK.CMS_P}) % {SK.CMS_W}
           AS bucket,
         CAST(count(*) AS BIGINT) AS cell
  FROM events e CROSS JOIN h
  GROUP BY 1, 2
), exact AS (
  SELECT user_id, CAST(count(*) AS BIGINT) AS exact_count
  FROM events GROUP BY 1
), top AS (
  SELECT user_id, exact_count,
         row_number() OVER (ORDER BY exact_count DESC, user_id ASC) AS rnk
  FROM exact QUALIFY rnk <= 20
), probes AS (
  SELECT t.user_id, t.exact_count, t.rnk, h.i,
         ((h.a * (t.user_id % {SK.CMS_KMOD}) + h.b) % {SK.CMS_P}) % {SK.CMS_W}
           AS bucket
  FROM top t CROSS JOIN h
)
SELECT p.rnk, p.user_id, p.exact_count,
       CAST(min(c.cell) AS BIGINT) AS cms_estimate,
       CAST(min(c.cell) - p.exact_count AS BIGINT) AS overestimate
FROM probes p JOIN cells c ON p.i = c.i AND p.bucket = c.bucket
GROUP BY p.rnk, p.user_id, p.exact_count
ORDER BY rnk
"""


def doc_readability(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flesch reading-ease per source over the corpus aggregate — the
    classic readability screen for curation (alongside the Gopher-style
    lm_quality_scores): 206.835 − 1.015·(words/sentences) −
    84.6·(syllables/words), with a deterministic engine-portable
    syllable heuristic (count of [aeiouy]+ vowel groups in the
    lowercased text — the standard regex approximation) and sentences
    as non-empty [.!?]+ splits. Word/sentence/vowel-group counts are
    EXACT integers summed per source; the score is arithmetic over two
    single exact-integer divisions → bit-identical doubles, exported
    UNROUNDED. Plan: one map-side per-doc count pass (regexp + split,
    whole-stage codegen), one combinable per-source agg — no joins, no
    window."""
    d = load_table(spark, sf_dir, "documents")
    words = F.size(
        F.filter(
            F.split(F.lower(F.trim(F.col("text"))), r"\s+"),
            lambda tk: tk != "",
        )
    ).cast("long")
    sents = F.size(
        F.filter(
            F.split(F.col("text"), r"[.!?]+"),
            lambda s: F.trim(s) != "",
        )
    ).cast("long")
    syls = F.size(
        F.regexp_extract_all(F.lower(F.col("text")), F.lit("[aeiouy]+"), 0)
    ).cast("long")
    per = d.select(
        "source",
        words.alias("w"),
        sents.alias("s"),
        syls.alias("y"),
    )
    agg = per.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("w").cast("long").alias("n_words"),
        F.sum("s").cast("long").alias("n_sents"),
        F.sum("y").cast("long").alias("n_syllables"),
    )
    wps = F.col("n_words").cast("double") / F.col("n_sents").cast("double")
    spw = F.col("n_syllables").cast("double") / F.col("n_words").cast("double")
    ok = (F.col("n_sents") > 0) & (F.col("n_words") > 0)
    return agg.select(
        "source",
        "n_docs",
        "n_words",
        "n_sents",
        "n_syllables",
        F.when(ok, wps).alias("words_per_sentence"),
        F.when(ok, spw).alias("syllables_per_word"),
        F.when(
            ok, F.lit(206.835) - F.lit(1.015) * wps - F.lit(84.6) * spw
        ).alias("flesch_reading_ease"),
    ).orderBy("source")


_READABILITY_SQL = r"""
WITH per AS (
  SELECT source,
         CAST(len(list_filter(string_split_regex(lower(trim(text)), '\s+'),
                              t -> t <> '')) AS BIGINT) AS w,
         CAST(len(list_filter(string_split_regex(text, '[.!?]+'),
                              s -> trim(s) <> '')) AS BIGINT) AS s,
         CAST(len(regexp_extract_all(lower(text), '[aeiouy]+'))
              AS BIGINT) AS y
  FROM documents
), agg AS (
  SELECT source,
         CAST(count(*) AS BIGINT) AS n_docs,
         CAST(sum(w) AS BIGINT) AS n_words,
         CAST(sum(s) AS BIGINT) AS n_sents,
         CAST(sum(y) AS BIGINT) AS n_syllables
  FROM per GROUP BY 1
)
SELECT source, n_docs, n_words, n_sents, n_syllables,
       CASE WHEN n_sents > 0 AND n_words > 0
            THEN CAST(n_words AS DOUBLE) / CAST(n_sents AS DOUBLE)
       END AS words_per_sentence,
       CASE WHEN n_sents > 0 AND n_words > 0
            THEN CAST(n_syllables AS DOUBLE) / CAST(n_words AS DOUBLE)
       END AS syllables_per_word,
       CASE WHEN n_sents > 0 AND n_words > 0
            THEN 206.835
                 - 1.015 * (CAST(n_words AS DOUBLE) / CAST(n_sents AS DOUBLE))
                 - 84.6 * (CAST(n_syllables AS DOUBLE)
                           / CAST(n_words AS DOUBLE))
       END AS flesch_reading_ease
FROM agg
ORDER BY source
"""


def evt_pacf_durbin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Partial autocorrelation (lags 1..3) per event type's daily
    revenue via the Durbin-Levinson recursion — the AR-order
    identification companion to evt_ljung_box (which reports raw ACF):
    φ11 = ρ1, φ22 = (ρ2−ρ1²)/(1−ρ1²), φ33 from the level-2
    coefficients. Reuses the Ljung-Box exact-centering identity —
    scaled residuals c = n·x − S are exact DECIMAL(18,0) integers, so
    every ρk = Σc·c₊ₖ / Σc² is a single division of exact integers →
    bit-identical doubles, and the recursion is pure double arithmetic
    on identical inputs (identical expression trees both engines);
    exports round 6dp (irrational). Plan: identical to evt_ljung_box
    with a 3-way lag explode — |types|×|days|×3 rows at any scale."""
    daily = TS.daily_cents(load_table(spark, sf_dir, "events"))
    grid = TS.gap_filled(daily)
    stats = grid.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("x").cast("long").alias("s"),
    )
    g = grid.join(F.broadcast(stats), "event_type").select(
        "event_type",
        "d",
        "n",
        (F.col("n") * F.col("x") - F.col("s"))
        .cast("decimal(18,0)")
        .alias("c"),
    )
    den = g.groupBy("event_type").agg(
        F.sum(F.col("c") * F.col("c")).alias("den"),
        F.max("n").alias("n"),
    )
    a = g.select(
        "event_type",
        "d",
        F.col("c").alias("ca"),
        F.explode(F.sequence(F.lit(1), F.lit(3))).alias("lag"),
    )
    b = g.select("event_type", F.col("d").alias("db"), F.col("c").alias("cb"))
    num = (
        a.join(
            b,
            (a.event_type == b.event_type) & (b.db == a.d + a.lag),
        )
        .groupBy(a.event_type.alias("event_type"), "lag")
        .agg(F.sum(F.col("ca") * F.col("cb")).alias("num"))
    )
    piv = num.groupBy("event_type").agg(
        F.min(F.when(F.col("lag") == 1, F.col("num"))).alias("n1"),
        F.min(F.when(F.col("lag") == 2, F.col("num"))).alias("n2"),
        F.min(F.when(F.col("lag") == 3, F.col("num"))).alias("n3"),
    )
    j = piv.join(F.broadcast(den), "event_type")
    r1 = F.col("n1").cast("double") / F.col("den").cast("double")
    r2 = F.col("n2").cast("double") / F.col("den").cast("double")
    r3 = F.col("n3").cast("double") / F.col("den").cast("double")
    phi22 = (r2 - r1 * r1) / (F.lit(1.0) - r1 * r1)
    phi21 = r1 - phi22 * r1
    phi33 = (r3 - phi21 * r2 - phi22 * r1) / (
        F.lit(1.0) - phi21 * r1 - phi22 * r2
    )
    ok = F.col("den") > 0
    return j.select(
        "event_type",
        F.col("n").alias("n_days"),
        F.when(ok, F.round(r1, 6)).alias("acf1"),
        F.when(ok, F.round(r2, 6)).alias("acf2"),
        F.when(ok, F.round(r3, 6)).alias("acf3"),
        F.when(ok, F.round(r1, 6)).alias("pacf1"),
        F.when(ok & (F.lit(1.0) - r1 * r1 != 0), F.round(phi22, 6)).alias(
            "pacf2"
        ),
        F.when(
            ok
            & (F.lit(1.0) - r1 * r1 != 0)
            & (F.lit(1.0) - phi21 * r1 - phi22 * r2 != 0),
            F.round(phi33, 6),
        ).alias("pacf3"),
    ).orderBy("event_type")


_PACF_SQL = f"""
WITH {_DAILY_CENTS_CTE}, {_GAP_FILLED_CTE}, stats AS (
  SELECT event_type, CAST(count(*) AS BIGINT) AS n,
         CAST(sum(x) AS BIGINT) AS s
  FROM grid GROUP BY 1
), g AS (
  SELECT grid.event_type, grid.d, stats.n,
         CAST(stats.n * grid.x - stats.s AS HUGEINT) AS c
  FROM grid JOIN stats ON grid.event_type = stats.event_type
), den AS (
  SELECT event_type, sum(c * c) AS den, max(n) AS n
  FROM g GROUP BY 1
), lags AS (SELECT unnest(generate_series(1, 3)) AS lag
), num AS (
  SELECT a.event_type, l.lag, sum(a.c * b.c) AS num
  FROM g a JOIN lags l ON TRUE
  JOIN g b ON b.event_type = a.event_type AND b.d = a.d + l.lag
  GROUP BY 1, 2
), piv AS (
  SELECT event_type,
         min(CASE WHEN lag = 1 THEN num END) AS n1,
         min(CASE WHEN lag = 2 THEN num END) AS n2,
         min(CASE WHEN lag = 3 THEN num END) AS n3
  FROM num GROUP BY 1
), st AS (
  SELECT p.event_type, d.n, d.den,
         CAST(p.n1 AS DOUBLE) / CAST(d.den AS DOUBLE) AS r1,
         CAST(p.n2 AS DOUBLE) / CAST(d.den AS DOUBLE) AS r2,
         CAST(p.n3 AS DOUBLE) / CAST(d.den AS DOUBLE) AS r3
  FROM piv p JOIN den d ON p.event_type = d.event_type
), dl AS (
  SELECT event_type, n, den, r1, r2, r3,
         (r2 - r1 * r1) / (1.0 - r1 * r1) AS phi22,
         r1 - ((r2 - r1 * r1) / (1.0 - r1 * r1)) * r1 AS phi21
  FROM st
)
SELECT event_type, n AS n_days,
       CASE WHEN den > 0 THEN round(r1, 6) END AS acf1,
       CASE WHEN den > 0 THEN round(r2, 6) END AS acf2,
       CASE WHEN den > 0 THEN round(r3, 6) END AS acf3,
       CASE WHEN den > 0 THEN round(r1, 6) END AS pacf1,
       CASE WHEN den > 0 AND 1.0 - r1 * r1 <> 0
            THEN round(phi22, 6) END AS pacf2,
       CASE WHEN den > 0 AND 1.0 - r1 * r1 <> 0
             AND 1.0 - phi21 * r1 - phi22 * r2 <> 0
            THEN round((r3 - phi21 * r2 - phi22 * r1)
                 / (1.0 - phi21 * r1 - phi22 * r2), 6) END AS pacf3
FROM dl
ORDER BY event_type
"""


def evt_gumbel_maxima(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Extreme-value audit of WEEKLY block maxima of daily revenue per
    event type — Gumbel (EV-I) fit by method of moments, the classic
    capacity-planning question ("what daily revenue spike should we
    provision for per month / per year?") that mean-based monitors
    (EWMA/Holt) can't answer: β̂ = √(6v)/π, μ̂ = m − γβ̂ (γ Euler-
    Mascheroni), and return levels RL_T = μ̂ − β̂·ln(−ln(1−1/T)) for
    T = 4 (≈ monthly) and T = 52 (≈ yearly) weeks. Daily cents and the
    per-block maxima are EXACT integers on the dense calendar spine
    (zero-filled — an empty week's max is genuinely 0); the moment
    inputs S, Q clear in BIGINT/DECIMAL(38,0), so m and v are single
    exact-integer divisions and the fit chains correctly-rounded double
    ops on bit-identical inputs; β̂/μ̂/RL round 6dp (sqrt/ln-derived).
    Plan: one combinable daily agg → calendar-bounded spine → one
    per-(type, week) max agg → one per-type moments agg."""
    daily = TS.daily_cents(load_table(spark, sf_dir, "events"))
    grid = TS.gap_filled(daily).select(
        "event_type", F.floor(F.col("d") / 7).cast("long").alias("wk"), "x"
    )
    blocks = grid.groupBy("event_type", "wk").agg(
        F.max("x").cast("long").alias("mx")
    )
    agg = blocks.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n_blocks"),
        F.sum("mx").cast("long").alias("s"),
        F.sum((F.col("mx") * F.col("mx")).cast("decimal(38,0)"))
        .cast("decimal(38,0)")
        .alias("q"),
        F.max("mx").cast("long").alias("max_cents"),
    )
    n, s = F.col("n_blocks"), F.col("s")
    m = s.cast("double") / n.cast("double")
    num = F.col("q") * n - s.cast("decimal(38,0)") * s
    v = num.cast("double") / (n * (n - 1)).cast("double")
    pi = F.lit(3.141592653589793)
    gamma = F.lit(0.5772156649015329)
    beta = F.sqrt(F.lit(6.0) * v) / pi
    mu = m - gamma * beta
    rl4 = mu - beta * F.log(-F.log(F.lit(0.75)))
    rl52 = mu - beta * F.log(-F.log(F.lit(1.0) - F.lit(1.0) / F.lit(52.0)))
    ok = (n > 1) & (num > 0)
    return agg.select(
        "event_type",
        "n_blocks",
        F.col("s").alias("sum_max_cents"),
        "max_cents",
        F.when(ok, F.round(beta, 6)).alias("gumbel_beta"),
        F.when(ok, F.round(mu, 6)).alias("gumbel_mu"),
        F.when(ok, F.round(rl4, 6)).alias("return_level_4wk"),
        F.when(ok, F.round(rl52, 6)).alias("return_level_52wk"),
    ).orderBy("event_type")


_GUMBEL_SQL = f"""
WITH {_DAILY_CENTS_CTE}, {_GAP_FILLED_CTE}, blocks AS (
  SELECT event_type, CAST(floor(d / 7) AS BIGINT) AS wk,
         CAST(max(x) AS BIGINT) AS mx
  FROM grid GROUP BY 1, 2
), agg AS (
  SELECT event_type,
         CAST(count(*) AS BIGINT) AS n_blocks,
         CAST(sum(mx) AS BIGINT) AS s,
         sum(CAST(mx AS HUGEINT) * mx) AS q,
         CAST(max(mx) AS BIGINT) AS max_cents
  FROM blocks GROUP BY 1
), st AS (
  SELECT event_type, n_blocks, s, max_cents,
         q * n_blocks - CAST(s AS HUGEINT) * s AS num,
         CAST(s AS DOUBLE) / CAST(n_blocks AS DOUBLE) AS m,
         CAST(q * n_blocks - CAST(s AS HUGEINT) * s AS DOUBLE)
           / CAST(n_blocks * (n_blocks - 1) AS DOUBLE) AS v
  FROM agg
), fit AS (
  SELECT event_type, n_blocks, s, max_cents, num,
         m, sqrt(6.0 * v) / 3.141592653589793 AS beta
  FROM st
)
SELECT event_type, n_blocks, s AS sum_max_cents, max_cents,
       CASE WHEN n_blocks > 1 AND num > 0
            THEN round(beta, 6) END AS gumbel_beta,
       CASE WHEN n_blocks > 1 AND num > 0
            THEN round(m - 0.5772156649015329 * beta, 6) END AS gumbel_mu,
       CASE WHEN n_blocks > 1 AND num > 0
            THEN round((m - 0.5772156649015329 * beta)
                 - beta * ln(-ln(0.75)), 6) END AS return_level_4wk,
       CASE WHEN n_blocks > 1 AND num > 0
            THEN round((m - 0.5772156649015329 * beta)
                 - beta * ln(-ln(1.0 - 1.0 / 52.0)), 6)
       END AS return_level_52wk
FROM fit
ORDER BY event_type
"""


_G10_DRIVER_EDGE_LIMIT = 2_000_000


def g10_closeness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bounded-radius closeness/harmonic centrality from the top-5
    highest-degree landmarks of the part co-order graph (the g9 edge
    derivation) — the landmark-BFS pattern that makes centrality
    tractable at scale: exact all-pairs closeness is O(n·m), landmark
    profiles are O(|landmarks|·m) with the same ranking power. Four
    fixed frontier rounds (radius 4 ≥ the co-order graph's observed
    effective diameter); per landmark the export carries the per-ring
    counts c₁..c₄ (exact ints), harmonic centrality as the EXACT
    rational (12c₁+6c₂+4c₃+3c₄)/12 (one integer division → bit-
    identical) and bounded closeness (n_reached/sum_dist, same). Plan:
    each round is one frontier-edge equi-join + distinct + anti-join
    against the visited set — |frontier|·d̄ work, never n²; the
    landmark pick is a distributed TakeOrdered of the degree frame.
    Oracle: unrolled EXCEPT-chained rounds with every frame
    MATERIALIZED (the g8_kcore_peel CTE-inlining rule)."""
    li = load_table(spark, sf_dir, "lineitem")
    cb = li.select(
        F.col("l_orderkey").alias("u"), F.col("l_partkey").alias("b")
    ).distinct()
    a = cb.select("u", F.col("b").alias("src"))
    c = cb.select("u", F.col("b").alias("dst"))
    und = (
        a.join(c, "u")
        .where(F.col("src") < F.col("dst"))
        .groupBy("src", "dst")
        .agg(F.count(F.lit(1)).cast("long").alias("common"))
        .where(F.col("common") >= 2)
        .select("src", "dst")
    )
    sym = und.unionByName(
        und.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    ).persist()
    deg = sym.groupBy("src").agg(
        F.count(F.lit(1)).cast("long").alias("degree")
    )
    lm = (
        deg.orderBy(F.col("degree").desc(), F.col("src").asc())
        .limit(5)
        .select(F.col("src").alias("l"), F.col("degree").alias("l_degree"))
    )
    # small-graph driver fast path (the g3_pagerank / g4 bfs_distances
    # discipline): within the bounded-collect contract the 4-round walk
    # runs in plain python — identical counts, no per-round stage
    # floors. The distributed frontier loop below is the scale path
    # (pytest-pinned equal by forcing the limit to 0).
    if sym.count() <= _G10_DRIVER_EDGE_LIMIT:
        adj: dict = {}
        for r in sym.collect():
            adj.setdefault(r["src"], []).append(r["dst"])
        rows = []
        for lr in lm.collect():
            l, ldeg = lr["l"], lr["l_degree"]
            dist = {l: 0}
            frontier = [l]
            ck = [0, 0, 0, 0]
            for hop in range(1, 5):
                nxt = []
                for u in frontier:
                    for v in adj.get(u, ()):
                        if v not in dist:
                            dist[v] = hop
                            nxt.append(v)
                ck[hop - 1] = len(nxt)
                frontier = nxt
            k1, k2, k3, k4 = ck
            reach = k1 + k2 + k3 + k4
            sd = k1 + 2 * k2 + 3 * k3 + 4 * k4
            hn = 12 * k1 + 6 * k2 + 4 * k3 + 3 * k4
            rows.append(
                (
                    int(l),
                    int(ldeg),
                    k1,
                    k2,
                    k3,
                    k4,
                    reach,
                    sd,
                    hn,
                    hn / 12.0,
                    (float(reach) / float(sd)) if sd > 0 else None,
                )
            )
        return spark.createDataFrame(
            rows,
            "landmark long, l_degree long, c1 long, c2 long, c3 long, "
            "c4 long, n_reached long, sum_dist long, harmonic_num long, "
            "harmonic double, closeness4 double",
        ).orderBy("landmark")
    visited = lm.select("l", F.col("l").alias("node"))
    frontier = visited
    rings = []
    for k in range(1, 5):
        # persist each frontier: the iterative lineage otherwise
        # re-executes every prior round per downstream consumer (the
        # g3_pagerank round-persist discipline)
        nxt = (
            frontier.join(sym, frontier["node"] == sym["src"])
            .select("l", F.col("dst").alias("node"))
            .distinct()
            .join(visited, ["l", "node"], "left_anti")
            .persist()
        )
        rings.append(nxt.select("l", F.lit(k).alias("dist")))
        visited = visited.unionByName(nxt)
        frontier = nxt
    counts = (
        rings[0]
        .unionByName(rings[1])
        .unionByName(rings[2])
        .unionByName(rings[3])
        .groupBy("l")
        .agg(
            F.sum(F.when(F.col("dist") == 1, 1).otherwise(0))
            .cast("long")
            .alias("c1"),
            F.sum(F.when(F.col("dist") == 2, 1).otherwise(0))
            .cast("long")
            .alias("c2"),
            F.sum(F.when(F.col("dist") == 3, 1).otherwise(0))
            .cast("long")
            .alias("c3"),
            F.sum(F.when(F.col("dist") == 4, 1).otherwise(0))
            .cast("long")
            .alias("c4"),
        )
    )
    counts = counts.withColumnRenamed("l", "lc")
    c1, c2, c3, c4 = F.col("c1"), F.col("c2"), F.col("c3"), F.col("c4")
    reached = c1 + c2 + c3 + c4
    sumd = c1 + 2 * c2 + 3 * c3 + 4 * c4
    harm_num = 12 * c1 + 6 * c2 + 4 * c3 + 3 * c4
    return (
        lm.join(counts, F.col("l") == F.col("lc"), "left")
        .select(
            F.col("l").alias("landmark"),
            "l_degree",
            F.coalesce(c1, F.lit(0)).alias("c1"),
            F.coalesce(c2, F.lit(0)).alias("c2"),
            F.coalesce(c3, F.lit(0)).alias("c3"),
            F.coalesce(c4, F.lit(0)).alias("c4"),
        )
        .select(
            "landmark",
            "l_degree",
            "c1",
            "c2",
            "c3",
            "c4",
            reached.cast("long").alias("n_reached"),
            sumd.cast("long").alias("sum_dist"),
            harm_num.cast("long").alias("harmonic_num"),
            (harm_num.cast("double") / F.lit(12.0)).alias("harmonic"),
            F.when(
                sumd > 0, reached.cast("double") / sumd.cast("double")
            ).alias("closeness4"),
        )
        .orderBy("landmark")
    )


_G10_CLOSENESS_SQL = """
WITH cb AS MATERIALIZED (
  SELECT DISTINCT l_orderkey AS u, l_partkey AS b FROM lineitem
), und AS MATERIALIZED (
  SELECT a.b AS src, c.b AS dst
  FROM cb a JOIN cb c ON a.u = c.u AND a.b < c.b
  GROUP BY 1, 2 HAVING count(*) >= 2
), sym AS MATERIALIZED (
  SELECT src, dst FROM und UNION ALL SELECT dst AS src, src AS dst FROM und
), deg AS MATERIALIZED (
  SELECT src, CAST(count(*) AS BIGINT) AS degree FROM sym GROUP BY 1
), lm AS MATERIALIZED (
  SELECT src AS l, degree AS l_degree FROM deg
  ORDER BY degree DESC, src ASC LIMIT 5
), v0 AS MATERIALIZED (
  SELECT l, l AS node FROM lm
), f1 AS MATERIALIZED (
  SELECT DISTINCT v0.l, s.dst AS node
  FROM v0 JOIN sym s ON s.src = v0.node
  EXCEPT SELECT l, node FROM v0
), v1 AS MATERIALIZED (
  SELECT l, node FROM v0 UNION ALL SELECT l, node FROM f1
), f2 AS MATERIALIZED (
  SELECT DISTINCT f1.l, s.dst AS node
  FROM f1 JOIN sym s ON s.src = f1.node
  EXCEPT SELECT l, node FROM v1
), v2 AS MATERIALIZED (
  SELECT l, node FROM v1 UNION ALL SELECT l, node FROM f2
), f3 AS MATERIALIZED (
  SELECT DISTINCT f2.l, s.dst AS node
  FROM f2 JOIN sym s ON s.src = f2.node
  EXCEPT SELECT l, node FROM v2
), v3 AS MATERIALIZED (
  SELECT l, node FROM v2 UNION ALL SELECT l, node FROM f3
), f4 AS MATERIALIZED (
  SELECT DISTINCT f3.l, s.dst AS node
  FROM f3 JOIN sym s ON s.src = f3.node
  EXCEPT SELECT l, node FROM v3
), rings AS (
  SELECT l, 1 AS dist FROM f1
  UNION ALL SELECT l, 2 FROM f2
  UNION ALL SELECT l, 3 FROM f3
  UNION ALL SELECT l, 4 FROM f4
), counts AS (
  SELECT l,
         CAST(sum(CASE WHEN dist = 1 THEN 1 ELSE 0 END) AS BIGINT) AS c1,
         CAST(sum(CASE WHEN dist = 2 THEN 1 ELSE 0 END) AS BIGINT) AS c2,
         CAST(sum(CASE WHEN dist = 3 THEN 1 ELSE 0 END) AS BIGINT) AS c3,
         CAST(sum(CASE WHEN dist = 4 THEN 1 ELSE 0 END) AS BIGINT) AS c4
  FROM rings GROUP BY 1
)
SELECT lm.l AS landmark, lm.l_degree,
       coalesce(c1, 0) AS c1, coalesce(c2, 0) AS c2,
       coalesce(c3, 0) AS c3, coalesce(c4, 0) AS c4,
       CAST(coalesce(c1, 0) + coalesce(c2, 0) + coalesce(c3, 0)
            + coalesce(c4, 0) AS BIGINT) AS n_reached,
       CAST(coalesce(c1, 0) + 2 * coalesce(c2, 0) + 3 * coalesce(c3, 0)
            + 4 * coalesce(c4, 0) AS BIGINT) AS sum_dist,
       CAST(12 * coalesce(c1, 0) + 6 * coalesce(c2, 0)
            + 4 * coalesce(c3, 0) + 3 * coalesce(c4, 0) AS BIGINT)
         AS harmonic_num,
       CAST(12 * coalesce(c1, 0) + 6 * coalesce(c2, 0)
            + 4 * coalesce(c3, 0) + 3 * coalesce(c4, 0) AS DOUBLE) / 12.0
         AS harmonic,
       CASE WHEN coalesce(c1, 0) + 2 * coalesce(c2, 0) + 3 * coalesce(c3, 0)
                 + 4 * coalesce(c4, 0) > 0
            THEN CAST(coalesce(c1, 0) + coalesce(c2, 0) + coalesce(c3, 0)
                      + coalesce(c4, 0) AS DOUBLE)
                 / CAST(coalesce(c1, 0) + 2 * coalesce(c2, 0)
                        + 3 * coalesce(c3, 0) + 4 * coalesce(c4, 0) AS DOUBLE)
       END AS closeness4
FROM lm LEFT JOIN counts ON lm.l = counts.l
ORDER BY landmark
"""


def doc_js_divergence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Jensen-Shannon divergence between each source's token
    distribution and the corpus — the SYMMETRIC, bounded (≤ ln 2)
    companion to source_token_kl (KL explodes on missing words; JSD is
    what mixture rebalancers actually minimize). Uses the absent-word
    identity to stay vocab-local: for words the source lacks, the
    mixture term collapses to q·ln2, so JSD = ½[Σ_{p>0} p·ln(2pNc′/…)
    + Σ_{p>0} q·ln(2qNs′/…) + (1−Σ_{p>0}q)·ln2] needs ONLY the
    source's own vocabulary joined to corpus counts — never a
    |vocab|×|sources| expansion. Count ratios inside every ln are
    exact-integer (cleared in DECIMAL(38,0)/HUGEINT); the shared
    corpus mass Σq exports as one exact division (unrounded); the ln
    sums round 6dp (irrational). Plan: two combinable token shuffles
    (per-source-word, per-word) + an equi-join on the word key + 1-row
    corpus-total broadcast."""
    d = load_table(spark, sf_dir, "documents")
    toks = d.select(
        "source",
        F.explode(
            F.filter(
                F.split(F.lower(F.trim(F.col("text"))), r"\s+"),
                lambda tk: tk != "",
            )
        ).alias("w"),
    )
    # ONE persisted tokenization feeds both count frames (the
    # doc_bigram_lm single-pass lesson); everything downstream derives
    # from sw so the corpus margin is a re-agg, not a re-tokenize
    sw = (
        toks.groupBy("source", "w")
        .agg(F.count(F.lit(1)).cast("long").alias("cp"))
        .persist()
    )
    ns = sw.groupBy("source").agg(F.sum("cp").cast("long").alias("ns"))
    cw = sw.groupBy("w").agg(F.sum("cp").cast("long").alias("cq"))
    nc = cw.agg(F.sum("cq").cast("long").alias("nc"))
    j = (
        sw.join(cw, "w")
        .join(F.broadcast(ns), "source")
        .crossJoin(F.broadcast(nc))
    )
    pn = F.col("cp").cast("decimal(38,0)") * F.col("nc")
    qn = F.col("cq").cast("decimal(38,0)") * F.col("ns")
    mix = (pn + qn).cast("double")
    t1 = (F.col("cp").cast("double") / F.col("ns").cast("double")) * F.log(
        (F.lit(2) * pn).cast("double") / mix
    )
    t2 = (F.col("cq").cast("double") / F.col("nc").cast("double")) * F.log(
        (F.lit(2) * qn).cast("double") / mix
    )
    agg = j.groupBy("source", "ns", "nc").agg(
        F.sum(t1).alias("s1"),
        F.sum(t2).alias("s2"),
        F.sum("cq").cast("long").alias("sq"),
    )
    ln2 = F.lit(0.6931471805599453)
    shared = F.col("sq").cast("double") / F.col("nc").cast("double")
    jsd = F.lit(0.5) * (
        F.col("s1") + F.col("s2") + (F.lit(1.0) - shared) * ln2
    )
    return agg.select(
        "source",
        F.col("ns").alias("n_tokens"),
        shared.alias("shared_corpus_mass"),
        F.round(jsd, 6).alias("jsd_nats"),
        F.round(jsd / ln2, 6).alias("jsd_normalized"),
    ).orderBy("source")


_JSD_SQL = r"""
WITH tok AS (
  SELECT source,
         unnest(list_filter(string_split_regex(lower(trim(text)), '\s+'),
                            t -> t <> '')) AS w
  FROM documents
), sw AS (
  SELECT source, w, CAST(count(*) AS BIGINT) AS cp FROM tok GROUP BY 1, 2
), ns AS (
  SELECT source, CAST(sum(cp) AS BIGINT) AS ns FROM sw GROUP BY 1
), cw AS (
  SELECT w, CAST(count(*) AS BIGINT) AS cq FROM tok GROUP BY 1
), nc AS (
  SELECT CAST(sum(cq) AS BIGINT) AS nc FROM cw
), agg AS (
  SELECT sw.source, ns.ns, nc.nc,
         sum((CAST(sw.cp AS DOUBLE) / CAST(ns.ns AS DOUBLE))
             * ln(CAST(2 * (CAST(sw.cp AS HUGEINT) * nc.nc) AS DOUBLE)
                  / CAST(CAST(sw.cp AS HUGEINT) * nc.nc
                         + CAST(cw.cq AS HUGEINT) * ns.ns AS DOUBLE))) AS s1,
         sum((CAST(cw.cq AS DOUBLE) / CAST(nc.nc AS DOUBLE))
             * ln(CAST(2 * (CAST(cw.cq AS HUGEINT) * ns.ns) AS DOUBLE)
                  / CAST(CAST(sw.cp AS HUGEINT) * nc.nc
                         + CAST(cw.cq AS HUGEINT) * ns.ns AS DOUBLE))) AS s2,
         CAST(sum(cw.cq) AS BIGINT) AS sq
  FROM sw JOIN cw USING (w) JOIN ns USING (source) CROSS JOIN nc
  GROUP BY 1, 2, 3
)
SELECT source, ns AS n_tokens,
       CAST(sq AS DOUBLE) / CAST(nc AS DOUBLE) AS shared_corpus_mass,
       round(0.5 * (s1 + s2
             + (1.0 - CAST(sq AS DOUBLE) / CAST(nc AS DOUBLE))
               * 0.6931471805599453), 6) AS jsd_nats,
       round(0.5 * (s1 + s2
             + (1.0 - CAST(sq AS DOUBLE) / CAST(nc AS DOUBLE))
               * 0.6931471805599453) / 0.6931471805599453, 6)
         AS jsd_normalized
FROM agg
ORDER BY source
"""


def lineitem_discount_qty_corr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Discount–quantity correlation and OLS slope per return flag —
    the "does discounting move volume" merchandising read, and the
    minimal template for fact-level two-column regression at scale:
    ONE combinable moments agg (n, Σx, Σy, Σxy, Σx², Σy² — discounts
    as exact percent integers, quantities integral by construction),
    then r = cov/√(vₓ·v_y) (6dp, sqrt-derived) and slope/intercept
    from the same exact DECIMAL(38,0)/HUGEINT moments — slope is ONE
    exact-integer division (unrounded), intercept chains
    correctly-rounded doubles on bit-identical inputs (unrounded)."""
    li = load_table(spark, sf_dir, "lineitem")
    x = F.round(F.col("l_discount") * 100).cast("long")
    y = F.round(F.col("l_quantity")).cast("long")
    agg = li.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(x).cast("long").alias("sx"),
        F.sum(y).cast("long").alias("sy"),
        F.sum((x * y).cast("decimal(38,0)")).cast("decimal(38,0)").alias("sxy"),
        F.sum((x * x).cast("decimal(38,0)")).cast("decimal(38,0)").alias("sx2"),
        F.sum((y * y).cast("decimal(38,0)")).cast("decimal(38,0)").alias("sy2"),
    )
    n = F.col("n").cast("decimal(38,0)")
    covn = n * F.col("sxy") - F.col("sx").cast("decimal(38,0)") * F.col("sy")
    vxn = n * F.col("sx2") - F.col("sx").cast("decimal(38,0)") * F.col("sx")
    vyn = n * F.col("sy2") - F.col("sy").cast("decimal(38,0)") * F.col("sy")
    ok = (vxn > 0) & (vyn > 0)
    slope = covn.cast("double") / vxn.cast("double")
    mean_y = F.col("sy").cast("double") / F.col("n").cast("double")
    mean_x = F.col("sx").cast("double") / F.col("n").cast("double")
    return agg.select(
        "l_returnflag",
        "n",
        F.col("sx").alias("sum_disc_pct"),
        F.col("sy").alias("sum_qty"),
        mean_x.alias("mean_disc_pct"),
        mean_y.alias("mean_qty"),
        F.when(
            ok,
            F.round(
                covn.cast("double")
                / F.sqrt(vxn.cast("double") * vyn.cast("double")),
                6,
            ),
        ).alias("pearson_r"),
        F.when(ok, slope).alias("ols_slope"),
        F.when(ok, mean_y - slope * mean_x).alias("ols_intercept"),
    ).orderBy("l_returnflag")


_DISC_QTY_SQL = """
WITH agg AS (
  SELECT l_returnflag,
         CAST(count(*) AS BIGINT) AS n,
         CAST(sum(CAST(round(l_discount * 100) AS BIGINT)) AS BIGINT) AS sx,
         CAST(sum(CAST(round(l_quantity) AS BIGINT)) AS BIGINT) AS sy,
         sum(CAST(round(l_discount * 100) AS HUGEINT)
             * CAST(round(l_quantity) AS HUGEINT)) AS sxy,
         sum(CAST(round(l_discount * 100) AS HUGEINT)
             * CAST(round(l_discount * 100) AS HUGEINT)) AS sx2,
         sum(CAST(round(l_quantity) AS HUGEINT)
             * CAST(round(l_quantity) AS HUGEINT)) AS sy2
  FROM lineitem GROUP BY 1
), st AS (
  SELECT l_returnflag, n, sx, sy,
         n * sxy - CAST(sx AS HUGEINT) * sy AS covn,
         n * sx2 - CAST(sx AS HUGEINT) * sx AS vxn,
         n * sy2 - CAST(sy AS HUGEINT) * sy AS vyn
  FROM agg
)
SELECT l_returnflag, n, sx AS sum_disc_pct, sy AS sum_qty,
       CAST(sx AS DOUBLE) / CAST(n AS DOUBLE) AS mean_disc_pct,
       CAST(sy AS DOUBLE) / CAST(n AS DOUBLE) AS mean_qty,
       CASE WHEN vxn > 0 AND vyn > 0
            THEN round(CAST(covn AS DOUBLE)
                 / sqrt(CAST(vxn AS DOUBLE) * CAST(vyn AS DOUBLE)), 6)
       END AS pearson_r,
       CASE WHEN vxn > 0 AND vyn > 0
            THEN CAST(covn AS DOUBLE) / CAST(vxn AS DOUBLE)
       END AS ols_slope,
       CASE WHEN vxn > 0 AND vyn > 0
            THEN CAST(sy AS DOUBLE) / CAST(n AS DOUBLE)
                 - (CAST(covn AS DOUBLE) / CAST(vxn AS DOUBLE))
                   * (CAST(sx AS DOUBLE) / CAST(n AS DOUBLE))
       END AS ols_intercept
FROM st
ORDER BY l_returnflag
"""


def evt_histogram_quantile_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-grid histogram quantile sketch vs exact order statistics —
    the accuracy audit behind "can a 64-bucket mergeable histogram
    replace an exact sort at 100 TB": event cents are bucketed on a
    64-cell equi-width grid (integer bucket math from a 1-row global
    min/max broadcast), the sketch answers quantiles {.25,.5,.75,.9,
    .99} by first-covering-bucket midpoint, and the export reports the
    EXACT type-1 quantile beside it with the signed cent error. Every
    export is an exact integer: bucket index/midpoint/rank use
    floor(·) of the SAME correctly-rounded division on both engines
    (operands « 2^53, so the doubles are exact and the floors agree
    bit-for-bit), and the exact quantile is min{c: cum(c) ≥ ⌈q·n⌉}
    over the bounded value-domain frame.
    Plan: one combinable per-cents agg (domain-bounded: 2-dec values),
    one 64-row histogram agg, two windows over bounded frames, a
    5-row literal quantile explode joined by range — the same
    sketch-vs-exact dual the evt_sketch_audit family establishes."""
    e = load_table(spark, sf_dir, "events").where(F.col("value").isNotNull())
    c = F.round(F.col("value") * 100).cast("long")
    vals = e.groupBy(c.alias("c")).agg(
        F.count(F.lit(1)).cast("long").alias("cnt")
    )
    mm = vals.agg(
        F.min("c").alias("mn"),
        F.max("c").alias("mx"),
        F.sum("cnt").cast("long").alias("n"),
    )
    v = vals.crossJoin(F.broadcast(mm))
    span = F.col("mx") - F.col("mn") + 1
    hist = v.groupBy(
        F.floor((F.col("c") - F.col("mn")) * 64 / span).cast("long").alias("b")
    ).agg(F.sum("cnt").cast("long").alias("bcnt"))
    wb = Window.orderBy("b")
    histc = hist.select(
        "b", F.sum("bcnt").over(wb).cast("long").alias("bcum")
    )
    wv = Window.orderBy("c")
    valsc = v.select(
        "c", "mn", "mx", "n", F.sum("cnt").over(wv).cast("long").alias("vcum")
    )
    qs = spark.range(1).select(
        F.explode(
            F.array(
                F.lit(25), F.lit(50), F.lit(75), F.lit(90), F.lit(99)
            )
        ).alias("qpct")
    )
    tgt = qs.crossJoin(F.broadcast(mm)).select(
        "qpct",
        "mn",
        "mx",
        "n",
        # ceil(q*n/100) in exact integer arithmetic
        (-F.floor(-(F.col("qpct") * F.col("n")) / 100)).cast("long").alias(
            "r"
        ),
    )
    exact = (
        tgt.join(valsc.select("c", "vcum"), F.col("vcum") >= F.col("r"))
        .groupBy("qpct", "mn", "mx", "n", "r")
        .agg(F.min("c").cast("long").alias("exact_cents"))
    )
    approx = (
        tgt.join(F.broadcast(histc), F.col("bcum") >= F.col("r"))
        .groupBy("qpct")
        .agg(F.min("b").cast("long").alias("b"))
    )
    out = (
        exact.join(approx, "qpct")
        .select(
            "qpct",
            F.col("r").alias("target_rank"),
            "exact_cents",
            (
                F.col("mn")
                + F.floor(
                    (2 * F.col("b") + 1) * (F.col("mx") - F.col("mn") + 1) / 128
                )
            )
            .cast("long")
            .alias("approx_cents"),
        )
        .select(
            "qpct",
            "target_rank",
            "exact_cents",
            "approx_cents",
            (F.col("approx_cents") - F.col("exact_cents")).alias("err_cents"),
        )
        .orderBy("qpct")
    )
    return out


_HIST_QUANTILE_SQL = """
WITH vals AS (
  SELECT CAST(round(value * 100) AS BIGINT) AS c,
         CAST(count(*) AS BIGINT) AS cnt
  FROM events WHERE value IS NOT NULL GROUP BY 1
), mm AS (
  SELECT min(c) AS mn, max(c) AS mx, CAST(sum(cnt) AS BIGINT) AS n FROM vals
), hist AS (
  SELECT CAST(floor((v.c - mm.mn) * 64 / (mm.mx - mm.mn + 1)) AS BIGINT)
           AS b,
         CAST(sum(cnt) AS BIGINT) AS bcnt
  FROM vals v CROSS JOIN mm GROUP BY 1
), histc AS (
  SELECT b, CAST(sum(bcnt) OVER (ORDER BY b) AS BIGINT) AS bcum FROM hist
), valsc AS (
  SELECT c, CAST(sum(cnt) OVER (ORDER BY c) AS BIGINT) AS vcum FROM vals
), qs AS (
  SELECT unnest([25, 50, 75, 90, 99]) AS qpct
), tgt AS (
  SELECT q.qpct, mm.mn, mm.mx, mm.n,
         CAST(-floor(-(q.qpct * mm.n) / 100) AS BIGINT) AS r
  FROM qs q CROSS JOIN mm
), exact AS (
  SELECT t.qpct, t.mn, t.mx, t.n, t.r,
         CAST(min(v.c) AS BIGINT) AS exact_cents
  FROM tgt t JOIN valsc v ON v.vcum >= t.r
  GROUP BY 1, 2, 3, 4, 5
), approx AS (
  SELECT t.qpct, CAST(min(h.b) AS BIGINT) AS b
  FROM tgt t JOIN histc h ON h.bcum >= t.r
  GROUP BY 1
)
SELECT e.qpct, e.r AS target_rank, e.exact_cents,
       CAST(e.mn + floor((2 * a.b + 1) * (e.mx - e.mn + 1) / 128) AS BIGINT)
         AS approx_cents,
       CAST(e.mn + floor((2 * a.b + 1) * (e.mx - e.mn + 1) / 128) AS BIGINT)
         - e.exact_cents AS err_cents
FROM exact e JOIN approx a ON e.qpct = a.qpct
ORDER BY e.qpct
"""


def evt_holt_winters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Holt-Winters ADDITIVE seasonal smoothing (period 7) of daily
    revenue per event type — the seasonal extension of evt_holt_linear
    for series where the dow cycle (evt_seasonal_decompose shows it
    exists) would otherwise leak into the trend: level l' = α(x−s_dow)
    + (1−α)(l+b), trend b' = β(l'−l) + (1−β)b, seasonal s'_dow =
    γ(x−l') + (1−γ)s_dow with repr-exact dyadic α=0.5, β=γ=0.25 and a
    deterministic zero-seasonal init from the first grid day. The
    seven seasonal slots are SCALAR state fields updated by dow CASE
    (no array indexing — both engines run the identical expression
    trees), so the sequential fold (F.aggregate over the array_sort'ed
    dense series ≡ DuckDB day-indexed recursive CTE) is bit-identical
    before the 6dp rounds; the 7-day-ahead forecast lands on the last
    day's own dow (d+7 ≡ d mod 7). Plan: the holt_from_daily contract
    — one combinable daily agg, |types|×|days| fold work, grid size
    independent of fact rows."""
    daily = TS.daily_cents(load_table(spark, sf_dir, "events"))
    grid = TS.gap_filled(daily).withColumn("x", F.col("x").cast("double"))
    ser = grid.groupBy("event_type").agg(
        F.max("d").alias("hi"),
        F.transform(
            F.array_sort(F.collect_list(F.struct("d", "x"))),
            lambda s: F.struct((s.d % 7).alias("dow"), s.x.alias("x")),
        ).alias("xs")
    )
    xs = F.col("xs")

    def sdow(acc, dow):
        c = F.when(dow == 0, acc.s0)
        for k in range(1, 7):
            c = c.when(dow == k, acc["s%d" % k])
        return c.otherwise(F.lit(0.0))

    def fold_step(acc, el):
        sprev = sdow(acc, el.dow)
        lnew = F.lit(0.5) * (el.x - sprev) + F.lit(0.5) * (acc.l + acc.b)
        fitted = acc.l + acc.b + sprev
        fields = [
            lnew.alias("l"),
            (F.lit(0.25) * (lnew - acc.l) + F.lit(0.75) * acc.b).alias("b"),
        ]
        for k in range(7):
            fields.append(
                F.when(
                    el.dow == k,
                    F.lit(0.25) * (el.x - lnew)
                    + F.lit(0.75) * acc["s%d" % k],
                )
                .otherwise(acc["s%d" % k])
                .alias("s%d" % k)
            )
        fields.append(
            (acc.sse + (el.x - fitted) * (el.x - fitted)).alias("sse")
        )
        return F.struct(*fields)

    init = F.struct(
        xs[0].x.alias("l"),
        F.lit(0.0).alias("b"),
        *[F.lit(0.0).alias("s%d" % k) for k in range(7)],
        F.lit(0.0).alias("sse"),
    )
    acc = F.aggregate(F.slice(xs, F.lit(2), F.size(xs) - 1), init, fold_step)
    base = ser.where(F.size(xs) >= 2).select(
        "event_type",
        F.size(xs).cast("long").alias("n_days"),
        (F.col("hi") % 7).cast("long").alias("dow_last"),
        acc.alias("a"),
    )
    fcast = F.col("a.l") + F.lit(7.0) * F.col("a.b") + sdow(
        F.col("a"), F.col("dow_last")
    )
    return base.select(
        "event_type",
        "n_days",
        "dow_last",
        F.round(F.col("a.l"), 6).alias("level_cents"),
        F.round(F.col("a.b"), 6).alias("trend_cents"),
        *[
            F.round(F.col("a.s%d" % k), 6).alias("seasonal_%d" % k)
            for k in range(7)
        ],
        F.round(fcast, 6).alias("forecast_7d_cents"),
        F.round(
            F.sqrt(F.col("a.sse") / (F.col("n_days") - 1).cast("double")), 6
        ).alias("rmse_cents"),
    ).orderBy("event_type")


def _holt_winters_sql() -> str:
    case_prev = (
        "CASE g.dow WHEN 0 THEN r.s0 WHEN 1 THEN r.s1 WHEN 2 THEN r.s2 "
        "WHEN 3 THEN r.s3 WHEN 4 THEN r.s4 WHEN 5 THEN r.s5 "
        "WHEN 6 THEN r.s6 ELSE 0.0 END"
    )
    lnew = f"0.5 * (g.x - {case_prev}) + 0.5 * (r.l + r.b)"
    s_updates = ",\n         ".join(
        f"CASE WHEN g.dow = {k} THEN 0.25 * (g.x - ({lnew})) + 0.75 * r.s{k} "
        f"ELSE r.s{k} END"
        for k in range(7)
    )
    case_last = (
        "CASE dow_last WHEN 0 THEN s0 WHEN 1 THEN s1 WHEN 2 THEN s2 "
        "WHEN 3 THEN s3 WHEN 4 THEN s4 WHEN 5 THEN s5 WHEN 6 THEN s6 "
        "ELSE 0.0 END"
    )
    return f"""
WITH RECURSIVE {_DAILY_CENTS_CTE}, bounds AS (
  SELECT event_type, min(d) AS lo, max(d) AS hi FROM daily GROUP BY 1
), spine AS (
  SELECT event_type, hi,
         CAST(unnest(generate_series(lo, hi)) AS BIGINT) AS d
  FROM bounds
), grid AS (
  SELECT s.event_type, s.hi, s.d,
         CAST(coalesce(a.cents, 0) AS DOUBLE) AS x
  FROM spine s LEFT JOIN daily a
    ON s.event_type = a.event_type AND s.d = a.d
), idx AS (
  SELECT event_type, hi, x, CAST(d % 7 AS BIGINT) AS dow,
         CAST(row_number() OVER (PARTITION BY event_type ORDER BY d)
              AS BIGINT) AS i,
         CAST(count(*) OVER (PARTITION BY event_type) AS BIGINT) AS n
  FROM grid
), rec AS (
  SELECT event_type, hi, CAST(1 AS BIGINT) AS i, n,
         x AS l, CAST(0.0 AS DOUBLE) AS b,
         CAST(0.0 AS DOUBLE) AS s0, CAST(0.0 AS DOUBLE) AS s1,
         CAST(0.0 AS DOUBLE) AS s2, CAST(0.0 AS DOUBLE) AS s3,
         CAST(0.0 AS DOUBLE) AS s4, CAST(0.0 AS DOUBLE) AS s5,
         CAST(0.0 AS DOUBLE) AS s6,
         CAST(0.0 AS DOUBLE) AS sse
  FROM idx WHERE i = 1
  UNION ALL
  SELECT r.event_type, r.hi, r.i + 1, r.n,
         {lnew},
         0.25 * (({lnew}) - r.l) + 0.75 * r.b,
         {s_updates},
         r.sse + (g.x - (r.l + r.b + {case_prev}))
               * (g.x - (r.l + r.b + {case_prev}))
  FROM rec r JOIN idx g
    ON g.event_type = r.event_type AND g.i = r.i + 1
)
, fin AS (
  SELECT event_type, n, CAST(hi % 7 AS BIGINT) AS dow_last,
         l, b, s0, s1, s2, s3, s4, s5, s6, sse
  FROM rec WHERE i = n AND n >= 2
)
SELECT event_type, n AS n_days, dow_last,
       round(l, 6) AS level_cents,
       round(b, 6) AS trend_cents,
       round(s0, 6) AS seasonal_0, round(s1, 6) AS seasonal_1,
       round(s2, 6) AS seasonal_2, round(s3, 6) AS seasonal_3,
       round(s4, 6) AS seasonal_4, round(s5, 6) AS seasonal_5,
       round(s6, 6) AS seasonal_6,
       round(l + 7.0 * b + {case_last}, 6) AS forecast_7d_cents,
       round(sqrt(sse / CAST(n - 1 AS DOUBLE)), 6) AS rmse_cents
FROM fin
ORDER BY event_type
"""


def orders_ship_delay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-to-ship latency SLA profile per order priority — the
    operational "are URGENT orders actually shipped faster" quantile
    read, and the template for latency-SLA reporting over a fact-fact
    join: delay = ship day − order day in EXACT integer days, per
    priority n/min/max/sum exact plus p50/p90 on the proven
    F.percentile == quantile_cont identity (exact interpolating
    quantiles of integers → dyadic-rational doubles, exported
    UNROUNDED). Plan: one orderkey equi-join (AQE handles the
    fact-fact side), one combinable agg; the percentile agg is bounded
    by |priorities| groups."""
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    sday = TS.epoch_day("l_shipdate")
    oday = TS.epoch_day("o_orderdate")
    j = li.select("l_orderkey", sday.alias("sd")).join(
        o.select(
            "o_orderkey", "o_orderpriority", oday.alias("od")
        ),
        li["l_orderkey"] == o["o_orderkey"],
    )
    d = (F.col("sd") - F.col("od")).alias("delay")
    return (
        j.select("o_orderpriority", d)
        .groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.min("delay").cast("long").alias("min_days"),
            F.max("delay").cast("long").alias("max_days"),
            F.sum("delay").cast("long").alias("sum_days"),
            F.percentile(F.col("delay"), F.lit(0.5)).alias("p50_days"),
            F.percentile(F.col("delay"), F.lit(0.9)).alias("p90_days"),
        )
        .orderBy("o_orderpriority")
    )


_SHIP_DELAY_SQL = """
WITH j AS (
  SELECT o.o_orderpriority,
         CAST(floor(floor(epoch(l.l_shipdate)) / 86400.0) AS BIGINT)
         - CAST(floor(floor(epoch(o.o_orderdate)) / 86400.0) AS BIGINT)
           AS delay
  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
)
SELECT o_orderpriority,
       CAST(count(*) AS BIGINT) AS n,
       CAST(min(delay) AS BIGINT) AS min_days,
       CAST(max(delay) AS BIGINT) AS max_days,
       CAST(sum(delay) AS BIGINT) AS sum_days,
       quantile_cont(delay, 0.5) AS p50_days,
       quantile_cont(delay, 0.9) AS p90_days
FROM j
GROUP BY 1
ORDER BY o_orderpriority
"""


def g11_component_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Connected-component size profile of the part co-order graph —
    the percolation read ("is the catalog one giant co-purchase blob
    or an archipelago?") that complements g9's degree mixing and g10's
    centrality: component labels via the distributed two-pass
    union-find + pointer jumping (operators/graph.connected_components
    — the same corpus-scale building block DBSCAN and near-dup
    canonicalization use), then a size histogram (size → how many
    components) and the giant-component share as ONE exact-integer
    division (unrounded). Isolated parts (no kept edge) are outside
    the graph by construction — documented. Oracle: DuckDB recursive
    min-reachable-label closure (set-semantics UNION walk — the
    entity_resolution_clusters pattern; component-bounded pair volume).
    Plan: the bounded co-order pair derivation, union-find contraction
    (≤ one edge per node before any iteration), two tiny aggs + a
    1-row totals broadcast."""
    from vector_search_optimization_spark.operators import graph as GR

    li = load_table(spark, sf_dir, "lineitem")
    cb = li.select(
        F.col("l_orderkey").alias("u"), F.col("l_partkey").alias("b")
    ).distinct()
    a = cb.select("u", F.col("b").alias("src"))
    c = cb.select("u", F.col("b").alias("dst"))
    und = (
        a.join(c, "u")
        .where(F.col("src") < F.col("dst"))
        .groupBy("src", "dst")
        .agg(F.count(F.lit(1)).cast("long").alias("common"))
        .where(F.col("common") >= 2)
        .select("src", "dst")
    )
    cc = GR.connected_components(und)
    sizes = cc.groupBy("component").agg(
        F.count(F.lit(1)).cast("long").alias("size")
    )
    prof = sizes.groupBy("size").agg(
        F.count(F.lit(1)).cast("long").alias("n_components")
    )
    tot = sizes.agg(
        F.sum("size").cast("long").alias("n_nodes_graph"),
        F.count(F.lit(1)).cast("long").alias("n_components_graph"),
        F.max("size").cast("long").alias("giant_size"),
    )
    return (
        prof.crossJoin(F.broadcast(tot))
        .select(
            "size",
            "n_components",
            (F.col("size") * F.col("n_components")).alias("n_nodes_at_size"),
            "n_nodes_graph",
            "n_components_graph",
            "giant_size",
            (
                F.col("giant_size").cast("double")
                / F.col("n_nodes_graph").cast("double")
            ).alias("giant_share"),
        )
        .orderBy("size")
    )


_G11_COMPONENTS_SQL = """
WITH RECURSIVE cb AS (
  SELECT DISTINCT l_orderkey AS u, l_partkey AS b FROM lineitem
), und AS (
  SELECT a.b AS src, c.b AS dst
  FROM cb a JOIN cb c ON a.u = c.u AND a.b < c.b
  GROUP BY 1, 2 HAVING count(*) >= 2
), sym AS (
  SELECT src AS s, dst AS d FROM und
  UNION SELECT dst, src FROM und
), nodes AS (
  SELECT DISTINCT s AS pid FROM sym
), walk(a, b) AS (
  SELECT s, d FROM sym
  UNION
  SELECT w.a, s.d FROM walk w JOIN sym s ON w.b = s.s
), lbl AS (
  SELECT n.pid,
         least(n.pid, coalesce(min(w.b), n.pid)) AS component
  FROM nodes n LEFT JOIN walk w ON w.a = n.pid
  GROUP BY n.pid
), sizes AS (
  SELECT component, CAST(count(*) AS BIGINT) AS size FROM lbl GROUP BY 1
), prof AS (
  SELECT size, CAST(count(*) AS BIGINT) AS n_components
  FROM sizes GROUP BY 1
), tot AS (
  SELECT CAST(sum(size) AS BIGINT) AS n_nodes_graph,
         CAST(count(*) AS BIGINT) AS n_components_graph,
         CAST(max(size) AS BIGINT) AS giant_size
  FROM sizes
)
SELECT size, n_components,
       CAST(size * n_components AS BIGINT) AS n_nodes_at_size,
       n_nodes_graph, n_components_graph, giant_size,
       CAST(giant_size AS DOUBLE) / CAST(n_nodes_graph AS DOUBLE)
         AS giant_share
FROM prof CROSS JOIN tot
ORDER BY size
"""


def evt_user_entropy_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user behavioral entropy, exported as a bounded HISTOGRAM —
    the scale-correct shape for user-level profiling (the per-user
    frame is |users|-sized and never leaves the cluster; only the
    ≤ ⌈ln|types|·10⌉ bucket rows come back): H(user) = ln n −
    (Σc·ln c)/n over the user's event-type mix, bucketed at 0.1-nat
    steps on the 6dp-ROUNDED entropy (floor of a raw order-dependent
    float would be edge-unstable; floor-after-round inherits the
    standard 6dp cross-engine agreement). Counts are exact integers;
    per-bucket user/event totals are exact. Plan: one (user, type)
    count shuffle → one per-user agg → one ≤20-row bucket agg — all
    combinable."""
    e = load_table(spark, sf_dir, "events")
    ut = e.groupBy("user_id", "event_type").agg(
        F.count(F.lit(1)).cast("long").alias("c")
    )
    per = ut.groupBy("user_id").agg(
        F.sum("c").cast("long").alias("n"),
        F.sum(F.col("c").cast("double") * F.log(F.col("c").cast("double")))
        .alias("clnc"),
    )
    h = F.log(F.col("n").cast("double")) - F.col("clnc") / F.col(
        "n"
    ).cast("double")
    per2 = per.select(
        "n", F.floor(F.round(h, 6) * 10).cast("long").alias("bucket")
    )
    return (
        per2.groupBy("bucket")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_users"),
            F.sum("n").cast("long").alias("n_events"),
        )
        .orderBy("bucket")
    )


_USER_ENTROPY_SQL = """
WITH ut AS (
  SELECT user_id, event_type, CAST(count(*) AS BIGINT) AS c
  FROM events GROUP BY 1, 2
), per AS (
  SELECT user_id,
         CAST(sum(c) AS BIGINT) AS n,
         sum(CAST(c AS DOUBLE) * ln(CAST(c AS DOUBLE))) AS clnc
  FROM ut GROUP BY 1
), per2 AS (
  SELECT n,
         CAST(floor(round(ln(CAST(n AS DOUBLE)) - clnc / CAST(n AS DOUBLE),
                          6) * 10) AS BIGINT) AS bucket
  FROM per
)
SELECT bucket,
       CAST(count(*) AS BIGINT) AS n_users,
       CAST(sum(n) AS BIGINT) AS n_events
FROM per2
GROUP BY 1
ORDER BY bucket
"""


def evt_circadian_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Circular (hour-of-day) activity statistics per event type — the
    circadian read behind load shaping and anomaly windows: peak hour
    (exact argmax with hour-asc tie-break), the mean activity angle in
    hours, and the resultant length R = |Σc_h·e^{iθ_h}|/n ∈ [0,1]
    (1 = perfectly concentrated hour, 0 = uniform). Hour counts are
    exact integers; the cos/sin weights are irrational constants
    (θ_h = h·2π/24 as a repr-exact shared literal), so the 24-term
    sums absorb engine summation order in the 6dp round; atan2/sqrt
    chain on near-identical doubles. Plan: one combinable (type, hour)
    count shuffle → a 24-row-per-type frame for the window and the
    moment agg — fact-size-independent downstream."""
    e = load_table(spark, sf_dir, "events")
    hour = (
        F.floor(F.unix_timestamp(F.col("ts")) / F.lit(3600.0)) % 24
    ).cast("long")
    hc = e.groupBy(F.col("event_type"), hour.alias("h")).agg(
        F.count(F.lit(1)).cast("long").alias("c")
    )
    tau24 = F.lit(0.2617993877991494)  # 2*pi/24
    theta = F.col("h").cast("double") * tau24
    mom = hc.groupBy("event_type").agg(
        F.sum("c").cast("long").alias("n"),
        F.sum(F.col("c").cast("double") * F.cos(theta)).alias("sc"),
        F.sum(F.col("c").cast("double") * F.sin(theta)).alias("ss"),
    )
    wpk = Window.partitionBy("event_type").orderBy(
        F.col("c").desc(), F.col("h").asc()
    )
    peak = (
        hc.withColumn("rn", F.row_number().over(wpk))
        .where(F.col("rn") == 1)
        .select(
            "event_type",
            F.col("h").alias("peak_hour"),
            F.col("c").alias("peak_count"),
        )
    )
    r = F.sqrt(F.col("sc") * F.col("sc") + F.col("ss") * F.col("ss")) / F.col(
        "n"
    ).cast("double")
    ang = F.atan2(F.col("ss"), F.col("sc")) / tau24
    mean_hour = F.when(ang < 0, ang + 24.0).otherwise(ang)
    return (
        mom.join(peak, "event_type")
        .select(
            "event_type",
            "n",
            "peak_hour",
            "peak_count",
            F.round(r, 6).alias("resultant_r"),
            F.round(mean_hour, 6).alias("mean_hour"),
        )
        .orderBy("event_type")
    )


_CIRCADIAN_SQL = """
WITH hc AS (
  SELECT event_type,
         CAST(CAST(floor(floor(epoch(ts)) / 3600.0) AS BIGINT) % 24
              AS BIGINT) AS h,
         CAST(count(*) AS BIGINT) AS c
  FROM events GROUP BY 1, 2
), mom AS (
  SELECT event_type,
         CAST(sum(c) AS BIGINT) AS n,
         sum(CAST(c AS DOUBLE) * cos(CAST(h AS DOUBLE)
             * 0.2617993877991494)) AS sc,
         sum(CAST(c AS DOUBLE) * sin(CAST(h AS DOUBLE)
             * 0.2617993877991494)) AS ss
  FROM hc GROUP BY 1
), peak AS (
  SELECT event_type, h AS peak_hour, c AS peak_count
  FROM (SELECT event_type, h, c,
               row_number() OVER (PARTITION BY event_type
                                  ORDER BY c DESC, h ASC) AS rn
        FROM hc)
  WHERE rn = 1
)
SELECT m.event_type, m.n, p.peak_hour, p.peak_count,
       round(sqrt(m.sc * m.sc + m.ss * m.ss) / CAST(m.n AS DOUBLE), 6)
         AS resultant_r,
       round(CASE WHEN atan2(m.ss, m.sc) / 0.2617993877991494 < 0
                  THEN atan2(m.ss, m.sc) / 0.2617993877991494 + 24.0
                  ELSE atan2(m.ss, m.sc) / 0.2617993877991494 END, 6)
         AS mean_hour
FROM mom m JOIN peak p ON m.event_type = p.event_type
ORDER BY m.event_type
"""


def _jl_signs() -> list[list[int]]:
    """Deterministic ±1 Achlioptas projection, 16 rows × 64 cols, from
    the repo's universal-hash recipe (constants < 2^31, ANSI-safe).
    Data-independent — the same literals are embedded in the oracle."""
    rows = []
    a, b, p = 1103515245, 12345, 2147483647
    for k in range(16):
        row = []
        for j in range(64):
            h = (a * (k * 64 + j) + b) % p
            row.append(1 if h % 2 == 0 else -1)
        rows.append(row)
    return rows


def emb_jl_projection_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Johnson-Lindenstrauss distance-preservation audit of the ±1
    random projection 64→16 — the measurement behind the RP blocking
    step (ann.random_projection_buckets) and every
    reduced-dimension prefilter: over all CONSECUTIVE vec_id pairs
    (deterministic, a linear pass — no sampling), the distortion ratio
    |R(u−v)|²/(k·|u−v|²) (unbiased for ±1 entries at k = 16 rows)
    should concentrate near 1. Per label the export carries exact pair
    counts, the count within the JL band [0.5, 2], and 6dp
    mean/min/max ratios. Vector folds use the fold-order-identical
    zip_with/list_reduce identity (the j9/m8 discipline); the ±1 sign
    matrix is a data-independent literal on both sides. Plan: a
    map-side projection pass (16 fused fold expressions), one
    (vec_id+1) equi-self-join, one combinable per-label agg."""
    signs = _jl_signs()
    emb = load_table(spark, sf_dir, "embeddings")

    base = emb.select(
        "vec_id", "label", F.col("embedding").alias("v"),
        F.array(*[V.dot("embedding", row) for row in signs]).alias("y"),
    )
    a = base.select(
        F.col("vec_id").alias("i"), "label",
        F.col("v").alias("va"), F.col("y").alias("ya"),
    )
    b = base.select(
        (F.col("vec_id") - 1).alias("i"),
        F.col("v").alias("vb"), F.col("y").alias("yb"),
    )
    pairs = a.join(b, "i")
    exact = V.sq_euclidean("va", "vb")
    proj = V.sq_euclidean("ya", "yb")
    # E[|R(u-v)|²] = k·|u-v|² for ±1 entries (k = 16 rows), so the
    # unbiased distortion ratio is proj/(16·exact)
    ratio = (proj / F.lit(16.0)) / exact
    pr = pairs.where(exact > 0).select("label", ratio.alias("r"))
    return (
        pr.groupBy("label")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_pairs"),
            F.sum(F.when((F.col("r") >= 0.5) & (F.col("r") <= 2.0), 1).otherwise(0))
            .cast("long")
            .alias("n_in_band"),
            F.round(F.avg("r"), 6).alias("mean_ratio"),
            F.round(F.min("r"), 6).alias("min_ratio"),
            F.round(F.max("r"), 6).alias("max_ratio"),
        )
        .orderBy("label")
    )


def _jl_sql() -> str:
    signs = _jl_signs()
    proj_cols = ",\n         ".join(
        "list_reduce(list_transform(list_zip(embedding, "
        + "[" + ", ".join(f"{s}.0" for s in row) + "]"
        + "), p -> CAST(p[1] AS DOUBLE) * p[2]), (x, y) -> x + y)"
        + f" AS y{k}"
        for k, row in enumerate(signs)
    )
    proj_sq = " + ".join(f"(a.y{k} - b.y{k}) * (a.y{k} - b.y{k})" for k in range(16))
    return f"""
WITH base AS (
  SELECT vec_id, label, embedding,
         {proj_cols}
  FROM embeddings
), pairs AS (
  SELECT a.label,
         list_reduce(list_transform(list_zip(a.embedding, b.embedding),
              p -> (CAST(p[1] AS DOUBLE) - CAST(p[2] AS DOUBLE))
                   * (CAST(p[1] AS DOUBLE) - CAST(p[2] AS DOUBLE))),
              (x, y) -> x + y) AS exact_sq,
         {proj_sq} AS proj_sq
  FROM base a JOIN base b ON b.vec_id = a.vec_id + 1
), pr AS (
  SELECT label, (proj_sq / 16.0) / exact_sq AS r
  FROM pairs WHERE exact_sq > 0
)
SELECT label,
       CAST(count(*) AS BIGINT) AS n_pairs,
       CAST(sum(CASE WHEN r >= 0.5 AND r <= 2.0 THEN 1 ELSE 0 END)
            AS BIGINT) AS n_in_band,
       round(avg(r), 6) AS mean_ratio,
       round(min(r), 6) AS min_ratio,
       round(max(r), 6) AS max_ratio
FROM pr
GROUP BY 1
ORDER BY label
"""


def orders_basket_negbin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Negative-binomial method-of-moments fit to BASKET SIZE (lineitems
    per order) per order priority — the overdispersed count model the
    Poisson dispersion audit motivates: r̂ = m²/(v−m), p̂ = m/v from
    the exact basket-size moments. Basket sizes are exact integers
    (one combinable per-order count, one per-priority moments agg with
    Q = Σk² in DECIMAL(38,0)/HUGEINT); m and v are single
    exact-integer divisions, so r̂/p̂ chain bit-identical doubles —
    exported UNROUNDED with a v > m guard (underdispersed groups
    export NULL, the model doesn't apply). Plan: two combinable
    shuffles; the moments frame is |priorities| rows at any scale."""
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    basket = li.groupBy("l_orderkey").agg(
        F.count(F.lit(1)).cast("long").alias("k")
    )
    j = basket.join(
        o.select("o_orderkey", "o_orderpriority"),
        basket["l_orderkey"] == o["o_orderkey"],
    )
    agg = j.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("k").cast("long").alias("s"),
        F.sum((F.col("k") * F.col("k")).cast("decimal(38,0)"))
        .cast("decimal(38,0)")
        .alias("q"),
    )
    n, s = F.col("n"), F.col("s")
    m = s.cast("double") / n.cast("double")
    num = F.col("q") * n - s.cast("decimal(38,0)") * s
    v = num.cast("double") / (n * (n - 1)).cast("double")
    ok = (n > 1) & (v > m)
    return agg.select(
        "o_orderpriority",
        "n",
        F.col("s").alias("n_lineitems"),
        m.alias("mean_basket"),
        v.alias("var_basket"),
        F.when(ok, (m * m) / (v - m)).alias("nb_r"),
        F.when(ok, m / v).alias("nb_p"),
    ).orderBy("o_orderpriority")


_NEGBIN_SQL = """
WITH basket AS (
  SELECT l_orderkey, CAST(count(*) AS BIGINT) AS k
  FROM lineitem GROUP BY 1
), j AS (
  SELECT o.o_orderpriority, b.k
  FROM basket b JOIN orders o ON b.l_orderkey = o.o_orderkey
), agg AS (
  SELECT o_orderpriority,
         CAST(count(*) AS BIGINT) AS n,
         CAST(sum(k) AS BIGINT) AS s,
         sum(CAST(k AS HUGEINT) * k) AS q
  FROM j GROUP BY 1
), st AS (
  SELECT o_orderpriority, n, s,
         CAST(s AS DOUBLE) / CAST(n AS DOUBLE) AS m,
         CAST(q * n - CAST(s AS HUGEINT) * s AS DOUBLE)
           / CAST(n * (n - 1) AS DOUBLE) AS v
  FROM agg
)
SELECT o_orderpriority, n, s AS n_lineitems,
       m AS mean_basket, v AS var_basket,
       CASE WHEN n > 1 AND v > m THEN (m * m) / (v - m) END AS nb_r,
       CASE WHEN n > 1 AND v > m THEN m / v END AS nb_p
FROM st
ORDER BY o_orderpriority
"""


def part_return_wilson(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Return-rate Wilson score intervals per brand — the
    small-sample-safe CI the plain ±z√(p(1−p)/n) interval gets wrong
    at extreme rates, and the ranking-by-lower-bound pattern
    (sort-by-wilson-lo) that powers 'worst offenders' dashboards:
    per brand the exact return counts feed p̂ = r/n and the z=1.96
    Wilson bounds. r and n are exact integers from one combinable agg
    over the broadcast-dim join; p̂ is a single exact division
    (unrounded); the bounds round 6dp (sqrt-derived). Output is
    ordered by wilson_lo DESC (worst-first ranking on the ROUNDED
    bound with a brand tie-break — the rank-on-rounded rule)."""
    li = load_table(spark, sf_dir, "lineitem")
    pt = load_table(spark, sf_dir, "part")
    j = li.select("l_partkey", "l_returnflag").join(
        F.broadcast(pt.select("p_partkey", "p_brand")),
        li["l_partkey"] == pt["p_partkey"],
    )
    agg = j.groupBy("p_brand").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(F.when(F.col("l_returnflag") == "R", 1).otherwise(0))
        .cast("long")
        .alias("r"),
    )
    z = F.lit(1.96)
    n = F.col("n").cast("double")
    p = F.col("r").cast("double") / n
    denom = F.lit(1.0) + z * z / n
    center = p + z * z / (F.lit(2.0) * n)
    rad = z * F.sqrt(
        p * (F.lit(1.0) - p) / n + z * z / (F.lit(4.0) * n * n)
    )
    lo = F.round((center - rad) / denom, 6)
    hi = F.round((center + rad) / denom, 6)
    return (
        agg.select(
            "p_brand",
            F.col("n").alias("n_lineitems"),
            F.col("r").alias("n_returned"),
            p.alias("return_rate"),
            lo.alias("wilson_lo"),
            hi.alias("wilson_hi"),
        )
        .orderBy(F.col("wilson_lo").desc(), F.col("p_brand").asc())
    )


_WILSON_SQL = """
WITH agg AS (
  SELECT p.p_brand,
         CAST(count(*) AS BIGINT) AS n,
         CAST(sum(CASE WHEN l.l_returnflag = 'R' THEN 1 ELSE 0 END)
              AS BIGINT) AS r
  FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
  GROUP BY 1
), st AS (
  SELECT p_brand, n, r,
         CAST(r AS DOUBLE) / CAST(n AS DOUBLE) AS p,
         CAST(n AS DOUBLE) AS nd
  FROM agg
)
SELECT p_brand, n AS n_lineitems, r AS n_returned,
       p AS return_rate,
       round((p + 1.96 * 1.96 / (2.0 * nd)
              - 1.96 * sqrt(p * (1.0 - p) / nd
                            + 1.96 * 1.96 / (4.0 * nd * nd)))
             / (1.0 + 1.96 * 1.96 / nd), 6) AS wilson_lo,
       round((p + 1.96 * 1.96 / (2.0 * nd)
              + 1.96 * sqrt(p * (1.0 - p) / nd
                            + 1.96 * 1.96 / (4.0 * nd * nd)))
             / (1.0 + 1.96 * 1.96 / nd), 6) AS wilson_hi
FROM st
ORDER BY wilson_lo DESC, p_brand ASC
"""


_LOO_KNN_BROADCAST_LIMIT = 100_000
# beyond the broadcast limit the audit runs per IVF cell; cells target
# this many rows so the per-cell GEMM stays ~target² doubles (~33 MB)
_LOO_KNN_CELL_TARGET = 2048


def _loo_nn_pred(
    q_ids: np.ndarray,
    q_mat: np.ndarray,
    r_ids: np.ndarray,
    r_labs: np.ndarray,
    r_mat: np.ndarray,
    r_bn: np.ndarray | None = None,
) -> np.ndarray:
    """Shared LOO 1-NN numpy kernel: per query row, the label of its
    nearest reference vector that is not itself. GEMM expanded form
    |a|²+|b|²−2abᵀ with the exact-Σ(a−b)² near-tie re-rank (the
    expanded form differs from the pair join's exact form in low-order
    bits); r_ids must be sorted ascending so argmin's first hit is the
    j-asc tie-break. Callers must guarantee every query row has at
    least one non-self reference row."""
    if r_bn is None:
        r_bn = (r_mat * r_mat).sum(axis=1)
    an = (q_mat * q_mat).sum(axis=1)
    d2 = an[:, None] + r_bn[None, :] - 2.0 * (q_mat @ r_mat.T)
    d2[q_ids[:, None] == r_ids[None, :]] = np.inf
    pick = d2.argmin(axis=1)
    dmin = d2[np.arange(len(pick)), pick]
    eps = 1e-6 * (1.0 + np.abs(dmin))
    multi = np.where((d2 <= (dmin + eps)[:, None]).sum(axis=1) > 1)[0]
    for r in multi:
        cand = np.where(d2[r] <= dmin[r] + eps[r])[0]
        ex = ((q_mat[r][None, :] - r_mat[cand]) ** 2).sum(axis=1)
        pick[r] = cand[int(np.argmin(ex))]
    return r_labs[pick]


def _loo_knn_pair_join(emb: DataFrame) -> DataFrame:
    """Declarative LOO 1-NN twin — the corpus² pair join the oracle
    mirrors. KEPT AS THE PYTEST ORACLE ONLY (test_loo_knn_* pin the
    kernel and cell routes equal to it): the r9 `loo_gemm_vs_pairjoin`
    probe measured the GEMM kernel 46-84× faster, so no production
    route dispatches here (VERDICT r9 item 3)."""
    a = emb.select(
        F.col("vec_id").alias("i"),
        F.col("label").alias("true_label"),
        F.col("embedding").alias("va"),
    )
    b = emb.select(
        F.col("vec_id").alias("j"),
        F.col("label").alias("pred_label"),
        F.col("embedding").alias("vb"),
    )
    d = (
        a.crossJoin(b)
        .where(F.col("i") != F.col("j"))
        .select(
            "i",
            "true_label",
            "pred_label",
            V.sq_euclidean("va", "vb").alias("r"),
            "j",
        )
    )
    wnn = Window.partitionBy("i").orderBy("r", "j")
    return (
        d.withColumn("rn", F.row_number().over(wnn))
        .where(F.col("rn") == 1)
        .select("i", "true_label", "pred_label")
    )


def _loo_knn_ivf_cells(spark: SparkSession, emb: DataFrame, n_rows: int) -> DataFrame:
    """At-scale LOO 1-NN route (VERDICT r9 item 3, mechanized): assign
    every vector to an IVF cell (sample-trained seeded quantizer,
    broadcast argmin — no shuffle) and run the GEMM kernel WITHIN each
    cell via applyInPandas. One shuffle on cell id; cells target
    _LOO_KNN_CELL_TARGET rows so the per-cell distance block is ~33 MB
    — corpus²/K work, never corpus². The audit contract: the per-cell
    neighbor is the corpus neighbor whenever the quantizer separates
    the label structure (exactly the planted-fixture pin); singleton
    cells cannot be left out (LOO needs a non-self reference), so with
    num_cells == 1 the route degenerates to one exact global cell."""
    import pandas as pd

    num_cells = max(1, -(-n_rows // _LOO_KNN_CELL_TARGET))
    sel = emb.select("vec_id", "label", "embedding")
    if num_cells == 1:
        assigned = sel.withColumn("cell", F.lit(0))
    else:
        cents = ann.train_ivf_centroids(sel, num_cells=num_cells)
        assigned = ann.assign_ivf_cells(sel, cents)
        # surface the singleton-drop volume (ADVICE r10 item 4): a
        # pathological quantizer split would otherwise silently shrink
        # the accuracy denominator.  One cheap cell-size rollup on the
        # already-computed assignment; beyond-limit route only.
        n_dropped = (
            assigned.groupBy("cell")
            .count()
            .where(F.col("count") < 2)
            .agg(F.coalesce(F.sum("count"), F.lit(0)).alias("d"))
            .collect()[0]["d"]
        )
        if n_dropped:
            print(
                f"emb_loo_knn_accuracy: {n_dropped}/{n_rows} rows in "
                f"singleton IVF cells dropped from the LOO denominator"
            )

    def _cell(pdf: pd.DataFrame) -> pd.DataFrame:
        if len(pdf) < 2:
            # a 1-row cell has no non-self LOO reference; re-anchor it
            # to the global audit is a join away — at audit semantics
            # (aggregate accuracy) dropping the stragglers is the
            # documented contract, and the pinned fixtures have none
            return pd.DataFrame(
                {"vec_id": [], "label": [], "pred_label": []}
            ).astype({"vec_id": "int64", "label": "int32", "pred_label": "int64"})
        order = np.argsort(pdf["vec_id"].to_numpy(), kind="stable")
        ids = pdf["vec_id"].to_numpy()[order].astype(np.int64)
        labs = pdf["label"].to_numpy()[order].astype(np.int64)
        mat = np.array(list(pdf["embedding"]), dtype=np.float64)[order]
        pred = _loo_nn_pred(ids, mat, ids, labs, mat)
        return pd.DataFrame(
            {"vec_id": ids, "label": labs.astype("int32"), "pred_label": pred}
        )

    return (
        assigned.groupBy("cell")
        .applyInPandas(_cell, schema="vec_id long, label int, pred_label long")
        .select(
            F.col("vec_id").alias("i"),
            F.col("label").alias("true_label"),
            F.col("pred_label").cast("int").alias("pred_label"),
        )
    )


def emb_loo_knn_accuracy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leave-one-out 1-NN classification accuracy per label — the
    embedding-space quality read behind j7's centroid classifier and
    the ANN recall audits: for every vector, its nearest OTHER vector's
    label is the prediction; per true label the export carries exact
    n/correct counts and the derived accuracy (one exact-integer
    division, unrounded), plus the most-confused predicted label
    (argmax of the confusion row, count-desc/label-asc tie-break).
    Squared distances in the kernel path via float64 GEMM (|a|²+|b|²
    −2ab̄ᵀ — the j7/m8 mapInPandas BLAS discipline; the interpreted
    zip_with fold over corpus²×dim is the measured 60s-at-sf0.1
    anti-pattern), (r, j) deterministic NN tie-break. The expanded
    form differs from the pair-join/oracle Σ(a−b)² in low-order bits,
    so candidates within a relative epsilon of the GEMM argmin are
    re-ranked on the exact Σ(a−b)² (j-asc tie) — kernel, pair join,
    and oracle rank near-ties on the same value. Plan: broadcast
    the ≤ _LOO_KNN_BROADCAST_LIMIT reference matrix and stream the
    corpus through one Arrow pass (no pair materialization); ABOVE the
    limit the audit routes through ann.train_ivf_centroids +
    assign_ivf_cells and runs the same kernel per cell (VERDICT r9
    item 3 — the measured 46-84× kernel-vs-pair-join gap makes the
    cell route the only sane at-scale fallback; the crossJoin twin
    survives only as the pytest oracle, _loo_knn_pair_join) —
    accuracy is a per-cell combinable aggregate."""
    emb = load_table(spark, sf_dir, "embeddings")
    n_rows = emb.count()
    if n_rows <= _LOO_KNN_BROADCAST_LIMIT:
        import pandas as pd  # noqa: F401

        ref = emb.select("vec_id", "label", "embedding").collect()
        ids = np.array([r["vec_id"] for r in ref], dtype=np.int64)
        labs = np.array([r["label"] for r in ref], dtype=np.int64)
        mat = np.array([r["embedding"] for r in ref], dtype=np.float64)
        order = np.argsort(ids)  # j-asc tie-break = first argmin hit
        ids, labs, mat = ids[order], labs[order], mat[order]
        bnorm = (mat * mat).sum(axis=1)
        bc = spark.sparkContext.broadcast((ids, labs, mat, bnorm))

        def _nn_batches(it):
            r_ids, r_labs, r_mat, r_bn = bc.value
            for pdf in it:
                a = np.array(list(pdf["embedding"]), dtype=np.float64)
                pred = _loo_nn_pred(
                    pdf["vec_id"].to_numpy().astype(np.int64),
                    a,
                    r_ids,
                    r_labs,
                    r_mat,
                    r_bn,
                )
                yield pdf.assign(pred_label=pred)[
                    ["vec_id", "label", "pred_label"]
                ]

        nn = emb.select("vec_id", "label", "embedding").mapInPandas(
            _nn_batches,
            schema="vec_id long, label int, pred_label long",
        ).select(
            F.col("vec_id").alias("i"),
            F.col("label").alias("true_label"),
            F.col("pred_label").cast("int").alias("pred_label"),
        )
    else:
        nn = _loo_knn_ivf_cells(spark, emb, n_rows)
    per = nn.groupBy("true_label").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(
            F.when(F.col("pred_label") == F.col("true_label"), 1).otherwise(0)
        )
        .cast("long")
        .alias("n_correct"),
    )
    conf = nn.groupBy("true_label", "pred_label").agg(
        F.count(F.lit(1)).cast("long").alias("c")
    )
    wconf = Window.partitionBy("true_label").orderBy(
        F.col("c").desc(), F.col("pred_label").asc()
    )
    top_pred = (
        conf.withColumn("rn", F.row_number().over(wconf))
        .where(F.col("rn") == 1)
        .select(
            "true_label",
            F.col("pred_label").alias("top_predicted"),
            F.col("c").alias("top_predicted_n"),
        )
    )
    return (
        per.join(top_pred, "true_label")
        .select(
            F.col("true_label").alias("label"),
            "n",
            "n_correct",
            (
                F.col("n_correct").cast("double") / F.col("n").cast("double")
            ).alias("accuracy"),
            "top_predicted",
            "top_predicted_n",
        )
        .orderBy("label")
    )


_LOO_KNN_SQL = """
WITH d AS (
  SELECT a.vec_id AS i, a.label AS true_label, b.label AS pred_label,
         list_reduce(list_transform(list_zip(a.embedding, b.embedding),
              p -> (CAST(p[1] AS DOUBLE) - CAST(p[2] AS DOUBLE))
                   * (CAST(p[1] AS DOUBLE) - CAST(p[2] AS DOUBLE))),
              (x, y) -> x + y) AS r,
         b.vec_id AS j
  FROM embeddings a JOIN embeddings b ON a.vec_id <> b.vec_id
), nn AS (
  SELECT i, true_label, pred_label
  FROM (SELECT i, true_label, pred_label,
               row_number() OVER (PARTITION BY i ORDER BY r, j) AS rn
        FROM d)
  WHERE rn = 1
), per AS (
  SELECT true_label,
         CAST(count(*) AS BIGINT) AS n,
         CAST(sum(CASE WHEN pred_label = true_label THEN 1 ELSE 0 END)
              AS BIGINT) AS n_correct
  FROM nn GROUP BY 1
), conf AS (
  SELECT true_label, pred_label, CAST(count(*) AS BIGINT) AS c
  FROM nn GROUP BY 1, 2
), top_pred AS (
  SELECT true_label, pred_label AS top_predicted, c AS top_predicted_n
  FROM (SELECT true_label, pred_label, c,
               row_number() OVER (PARTITION BY true_label
                                  ORDER BY c DESC, pred_label ASC) AS rn
        FROM conf)
  WHERE rn = 1
)
SELECT per.true_label AS label, per.n, per.n_correct,
       CAST(per.n_correct AS DOUBLE) / CAST(per.n AS DOUBLE) AS accuracy,
       tp.top_predicted, tp.top_predicted_n
FROM per JOIN top_pred tp ON per.true_label = tp.true_label
ORDER BY label
"""


def evt_dau_mau_stickiness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DAU/MAU stickiness timeline — the canonical product-engagement
    ratio, computed EXACTLY: per day, the distinct active users that
    day (DAU) and over the trailing 28 days (MAU), stickiness =
    DAU/MAU as one exact-integer division (unrounded). The trailing
    window avoids a range join entirely: each (user, day) activity row
    fans out to the 28 future days it keeps the user "monthly-active"
    for (a fixed 28× map-side explode), so MAU is a plain combinable
    distinct-count per day — the same rewrite that makes the query
    shuffle-friendly at 100 TB (distinct aggs partial-combine;
    exact distincts can swap to the bitmap/HLL path documented in
    evt_bitmap_rollup at extreme user cardinality). Days before the
    first full 28-day window are flagged partial (exact semantics,
    documented) via the 1-row global-min-day broadcast."""
    e = load_table(spark, sf_dir, "events")
    day = TS.epoch_day("ts")
    ud = e.select(F.col("user_id").alias("u"), day.alias("d")).distinct()
    dau = ud.groupBy("d").agg(F.countDistinct("u").cast("long").alias("dau"))
    span = ud.agg(F.min("d").alias("mn"), F.max("d").alias("mx"))
    fan = ud.select(
        "u", "d", F.explode(F.sequence(F.lit(0), F.lit(27))).alias("k")
    ).select("u", (F.col("d") + F.col("k")).alias("d"))
    mau = (
        fan.groupBy("d")
        .agg(F.countDistinct("u").cast("long").alias("mau"))
    )
    out = (
        dau.join(mau, "d")
        .crossJoin(F.broadcast(span))
        .where(F.col("d") <= F.col("mx"))
        .select(
            "d",
            "dau",
            "mau",
            (F.col("d") >= F.col("mn") + 27).alias("full_window"),
            (F.col("dau").cast("double") / F.col("mau").cast("double")).alias(
                "stickiness"
            ),
        )
        .orderBy("d")
    )
    return out


_DAU_MAU_SQL = """
WITH ud AS (
  SELECT DISTINCT user_id AS u,
         CAST(floor(floor(epoch(ts)) / 86400.0) AS BIGINT) AS d
  FROM events
), dau AS (
  SELECT d, CAST(count(DISTINCT u) AS BIGINT) AS dau FROM ud GROUP BY 1
), span AS (
  SELECT min(d) AS mn, max(d) AS mx FROM ud
), fan AS (
  SELECT u, d + CAST(k.range AS BIGINT) AS d
  FROM ud CROSS JOIN range(0, 28) k
), mau AS (
  SELECT d, CAST(count(DISTINCT u) AS BIGINT) AS mau FROM fan GROUP BY 1
)
SELECT dau.d, dau.dau, mau.mau,
       dau.d >= span.mn + 27 AS full_window,
       CAST(dau.dau AS DOUBLE) / CAST(mau.mau AS DOUBLE) AS stickiness
FROM dau JOIN mau ON dau.d = mau.d
CROSS JOIN span
WHERE dau.d <= span.mx
ORDER BY dau.d
"""


def evt_power_sample_size(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample power analysis per event-type pair — the experiment-
    design companion to evt_welch_ttest: given the OBSERVED mean gap δ
    and pooled variance, the per-arm n required to detect that gap at
    α = 0.05 (two-sided, z_α/2 = 1.959964) with 80% power
    (z_β = 0.841621): n = (z_α/2 + z_β)²·(v₁+v₂)/δ². Moments are the
    exact cent integers of the Welch query (Q in DECIMAL/HUGEINT), so
    v and δ chain bit-identical doubles; n_required exports as
    ⌈·⌉ of that identical double (ceil ties measure-zero on the
    irrational-valued ratio) plus the raw value at 6dp. One combinable
    moments shuffle + the |types|²/2 broadcast pair join."""
    e = load_table(spark, sf_dir, "events")
    c = F.round(F.col("value") * 100).cast("long")
    per = e.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(c).cast("long").alias("s"),
        F.sum((c * c).cast("decimal(38,0)")).cast("decimal(38,0)").alias("q"),
    )
    a = per.select(
        F.col("event_type").alias("t1"),
        F.col("n").alias("n1"),
        F.col("s").alias("s1"),
        F.col("q").alias("q1"),
    )
    b = per.select(
        F.col("event_type").alias("t2"),
        F.col("n").alias("n2"),
        F.col("s").alias("s2"),
        F.col("q").alias("q2"),
    )
    pr = a.join(F.broadcast(b), F.col("t1") < F.col("t2"))
    n1, n2 = F.col("n1"), F.col("n2")
    m1 = F.col("s1").cast("double") / n1.cast("double")
    m2 = F.col("s2").cast("double") / n2.cast("double")
    v1 = (
        (F.col("q1") * n1 - F.col("s1").cast("decimal(38,0)") * F.col("s1"))
        .cast("double")
        / (n1 * (n1 - 1)).cast("double")
    )
    v2 = (
        (F.col("q2") * n2 - F.col("s2").cast("decimal(38,0)") * F.col("s2"))
        .cast("double")
        / (n2 * (n2 - 1)).cast("double")
    )
    delta = m1 - m2
    zsum = F.lit(1.959964) + F.lit(0.841621)
    nreq = zsum * zsum * (v1 + v2) / (delta * delta)
    ok = (n1 > 1) & (n2 > 1) & (delta != 0)
    return pr.select(
        "t1",
        "t2",
        delta.alias("observed_diff_cents"),
        F.when(ok, F.round(nreq, 6)).alias("n_required_raw"),
        F.when(ok, F.ceil(nreq).cast("long")).alias("n_required"),
        F.when(
            ok, (n1 + n2).cast("double") / (F.lit(2.0) * nreq)
        ).alias("power_headroom"),
    ).orderBy("t1", "t2")


_POWER_SQL = """
WITH per AS (
  SELECT event_type,
         CAST(count(*) AS BIGINT) AS n,
         CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS s,
         sum(CAST(round(value * 100) AS HUGEINT)
             * CAST(round(value * 100) AS HUGEINT)) AS q
  FROM events GROUP BY 1
), pr AS (
  SELECT a.event_type AS t1, b.event_type AS t2,
         a.n AS n1, b.n AS n2, a.s AS s1, b.s AS s2, a.q AS q1, b.q AS q2
  FROM per a JOIN per b ON a.event_type < b.event_type
), st AS (
  SELECT t1, t2, n1, n2,
         CAST(s1 AS DOUBLE) / CAST(n1 AS DOUBLE)
         - CAST(s2 AS DOUBLE) / CAST(n2 AS DOUBLE) AS delta,
         CAST(q1 * n1 - CAST(s1 AS HUGEINT) * s1 AS DOUBLE)
           / CAST(n1 * (n1 - 1) AS DOUBLE) AS v1,
         CAST(q2 * n2 - CAST(s2 AS HUGEINT) * s2 AS DOUBLE)
           / CAST(n2 * (n2 - 1) AS DOUBLE) AS v2
  FROM pr
)
SELECT t1, t2, delta AS observed_diff_cents,
       CASE WHEN n1 > 1 AND n2 > 1 AND delta <> 0
            THEN round((1.959964 + 0.841621) * (1.959964 + 0.841621)
                 * (v1 + v2) / (delta * delta), 6) END AS n_required_raw,
       CASE WHEN n1 > 1 AND n2 > 1 AND delta <> 0
            THEN CAST(ceil((1.959964 + 0.841621) * (1.959964 + 0.841621)
                 * (v1 + v2) / (delta * delta)) AS BIGINT)
       END AS n_required,
       CASE WHEN n1 > 1 AND n2 > 1 AND delta <> 0
            THEN CAST(n1 + n2 AS DOUBLE)
                 / (2.0 * ((1.959964 + 0.841621) * (1.959964 + 0.841621)
                    * (v1 + v2) / (delta * delta)))
       END AS power_headroom
FROM st
ORDER BY t1, t2
"""


def source_neyman_allocation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Neyman-optimal stratified sampling plan across sources — the
    sampling-design operator behind mixture_sample_apply: for a
    10,000-doc budget, the variance-minimizing allocation samples
    stratum h in proportion to N_h·σ_h (length std as the cost proxy).
    Per-source N and the n_chars moments are exact integers (Q in
    DECIMAL/HUGEINT); σ_h is sqrt of an exact-ratio double; the
    allocation weight w_h = N_hσ_h/ΣN_kσ_k divides two doubles whose
    20-term denominator sum is order-dependent → weights and
    allocations round 6dp; the integer allocation is ⌊budget·w_h⌋ on
    the ROUNDED weight (floor-after-round, the entropy-bucket rule).
    One combinable moments shuffle + a 1-row total broadcast."""
    d = load_table(spark, sf_dir, "documents")
    x = F.col("n_chars")
    per = d.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("nh"),
        F.sum(x).cast("long").alias("s"),
        F.sum((x * x).cast("decimal(38,0)")).cast("decimal(38,0)").alias("q"),
    )
    nh = F.col("nh")
    var = (
        (F.col("q") * nh - F.col("s").cast("decimal(38,0)") * F.col("s"))
        .cast("double")
        / (nh * (nh - 1)).cast("double")
    )
    wsd = per.select(
        "source",
        "nh",
        F.when(nh > 1, nh.cast("double") * F.sqrt(var)).otherwise(
            F.lit(0.0)
        ).alias("nsig"),
    )
    tot = wsd.agg(F.sum("nsig").alias("tot_nsig"))
    w = F.round(F.col("nsig") / F.col("tot_nsig"), 6)
    return (
        wsd.crossJoin(F.broadcast(tot))
        .select(
            "source",
            F.col("nh").alias("n_docs"),
            w.alias("neyman_weight"),
            F.floor(F.lit(10000) * w).cast("long").alias("allocation"),
        )
        .orderBy("source")
    )


_NEYMAN_SQL = """
WITH per AS (
  SELECT source,
         CAST(count(*) AS BIGINT) AS nh,
         CAST(sum(n_chars) AS BIGINT) AS s,
         sum(CAST(n_chars AS HUGEINT) * n_chars) AS q
  FROM documents GROUP BY 1
), wsd AS (
  SELECT source, nh,
         CASE WHEN nh > 1
              THEN CAST(nh AS DOUBLE)
                   * sqrt(CAST(q * nh - CAST(s AS HUGEINT) * s AS DOUBLE)
                          / CAST(nh * (nh - 1) AS DOUBLE))
              ELSE 0.0 END AS nsig
  FROM per
), tot AS (
  SELECT sum(nsig) AS tot_nsig FROM wsd
)
SELECT source, nh AS n_docs,
       round(nsig / tot_nsig, 6) AS neyman_weight,
       CAST(floor(10000 * round(nsig / tot_nsig, 6)) AS BIGINT)
         AS allocation
FROM wsd CROSS JOIN tot
ORDER BY source
"""


def g12_densification(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Graph densification over time (Leskovec et al.'s E(t) ∝ N(t)^a
    law) on the user/event-type co-occurrence graph — does the
    interaction graph densify (a > 1) or grow sparsely (a ≈ 1) as the
    system accumulates users? Cumulative node/edge counts per WEEKLY
    snapshot (86400·7 s buckets, exported as the `m` bucket index)
    need NO re-scan per snapshot: each node (user) and edge (distinct
    user-type pair... node = user, edge = co-occurrence pair keyed by
    (type_a, type_b, user)) carries its FIRST week (a combinable min
    agg), and the weekly timeline is a cumulative sum over ≤ |weeks|
    rows. Counts exact; the densification exponent ln E/ln N rounds
    6dp (log-ratio of exact ints, the Heaps-β discipline). Plan: two
    combinable first-week aggs + two tiny cumulative windows."""
    e = load_table(spark, sf_dir, "events")
    wk = F.floor(
        F.unix_timestamp(F.col("ts")) / F.lit(86400.0 * 7.0)
    ).cast("long")
    # node = user: first week seen
    un = e.groupBy("user_id").agg(F.min(wk).alias("m"))
    nodes_m = un.groupBy("m").agg(F.count(F.lit(1)).cast("long").alias("dn"))
    # edge = (user, unordered type pair) co-occurrence: first week both
    # types were seen for the user is when the edge materializes
    ut = e.groupBy("user_id", "event_type").agg(F.min(wk).alias("fm"))
    a = ut.select("user_id", F.col("event_type").alias("ta"), F.col("fm").alias("fa"))
    b = ut.select("user_id", F.col("event_type").alias("tb"), F.col("fm").alias("fb"))
    ed = (
        a.join(b, "user_id")
        .where(F.col("ta") < F.col("tb"))
        .select(F.greatest(F.col("fa"), F.col("fb")).alias("m"))
    )
    edges_m = ed.groupBy("m").agg(F.count(F.lit(1)).cast("long").alias("de"))
    wcum = Window.orderBy("m")
    tl = (
        nodes_m.join(edges_m, "m", "outer")
        .select(
            "m",
            F.coalesce("dn", F.lit(0)).alias("dn"),
            F.coalesce("de", F.lit(0)).alias("de"),
        )
        .select(
            "m",
            F.sum("dn").over(wcum).cast("long").alias("n_nodes"),
            F.sum("de").over(wcum).cast("long").alias("n_edges"),
        )
    )
    return tl.select(
        "m",
        "n_nodes",
        "n_edges",
        F.when(
            (F.col("n_nodes") > 1) & (F.col("n_edges") > 0),
            F.round(
                F.log(F.col("n_edges").cast("double"))
                / F.log(F.col("n_nodes").cast("double")),
                6,
            ),
        ).alias("densification_exp"),
    ).orderBy("m")


_DENSIFICATION_SQL = """
WITH un AS (
  SELECT user_id,
         min(CAST(floor(floor(epoch(ts)) / 604800.0) AS BIGINT)) AS m
  FROM events GROUP BY 1
), nodes_m AS (
  SELECT m, CAST(count(*) AS BIGINT) AS dn FROM un GROUP BY 1
), ut AS (
  SELECT user_id, event_type,
         min(CAST(floor(floor(epoch(ts)) / 604800.0) AS BIGINT)) AS fm
  FROM events GROUP BY 1, 2
), ed AS (
  SELECT greatest(a.fm, b.fm) AS m
  FROM ut a JOIN ut b
    ON a.user_id = b.user_id AND a.event_type < b.event_type
), edges_m AS (
  SELECT m, CAST(count(*) AS BIGINT) AS de FROM ed GROUP BY 1
), tl AS (
  SELECT coalesce(n.m, e.m) AS m,
         coalesce(n.dn, 0) AS dn, coalesce(e.de, 0) AS de
  FROM nodes_m n FULL OUTER JOIN edges_m e ON n.m = e.m
), cum AS (
  SELECT m,
         CAST(sum(dn) OVER (ORDER BY m) AS BIGINT) AS n_nodes,
         CAST(sum(de) OVER (ORDER BY m) AS BIGINT) AS n_edges
  FROM tl
)
SELECT m, n_nodes, n_edges,
       CASE WHEN n_nodes > 1 AND n_edges > 0
            THEN round(ln(CAST(n_edges AS DOUBLE))
                 / ln(CAST(n_nodes AS DOUBLE)), 6)
       END AS densification_exp
FROM cum
ORDER BY m
"""


def evt_exponential_gof(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exponential goodness-of-fit for inter-arrival gaps per event
    type — the distributional follow-up to evt_poisson_dispersion and
    the cadence family: fit λ̂ = n/Σgap (one exact-integer ratio) and
    measure the Kolmogorov-Smirnov distance between the empirical gap
    CDF and Exp(λ̂), handling ties correctly (D evaluated at both the
    below- and at-value steps of each DISTINCT gap). Gaps are exact
    integer seconds (lag over the per-type time order with event_id
    tie-break); the empirical steps are exact-count ratios; F(g) =
    1−e^{−λ̂g} chains bit-identical doubles, so D and the scaled
    D·√n round 6dp (exp-derived). Plan: one per-type lag window
    (sessionize shape), one distinct-gap count agg, a cumulative
    window over the gap-domain-bounded frame, one max agg."""
    e = load_table(spark, sf_dir, "events")
    ts = F.unix_timestamp(F.col("ts")).cast("long")
    w = Window.partitionBy("event_type").orderBy(
        F.col("t"), F.col("event_id")
    )
    gaps = (
        e.select("event_type", ts.alias("t"), "event_id")
        .withColumn("gap", F.col("t") - F.lag("t").over(w))
        .where(F.col("gap").isNotNull())
        .select("event_type", "gap")
    )
    gc = gaps.groupBy("event_type", "gap").agg(
        F.count(F.lit(1)).cast("long").alias("c")
    )
    tot = gaps.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("gap").cast("long").alias("sgap"),
    )
    wcum = Window.partitionBy("event_type").orderBy("gap")
    cum = gc.select(
        "event_type",
        "gap",
        F.sum("c").over(wcum).cast("long").alias("cum_at"),
        (F.sum("c").over(wcum) - F.col("c")).cast("long").alias("cum_below"),
    )
    j = cum.join(F.broadcast(tot), "event_type")
    lam = F.col("n").cast("double") / F.col("sgap").cast("double")
    fg = F.lit(1.0) - F.exp(-lam * F.col("gap").cast("double"))
    d_at = F.abs(F.col("cum_at").cast("double") / F.col("n").cast("double") - fg)
    d_below = F.abs(
        F.col("cum_below").cast("double") / F.col("n").cast("double") - fg
    )
    per = j.select(
        "event_type",
        "n",
        "sgap",
        F.greatest(d_at, d_below).alias("d"),
    ).groupBy("event_type", "n", "sgap").agg(F.max("d").alias("ks_d_raw"))
    return per.select(
        "event_type",
        F.col("n").alias("n_gaps"),
        F.col("sgap").alias("sum_gap_s"),
        (F.col("n").cast("double") / F.col("sgap").cast("double")).alias(
            "lambda_per_s"
        ),
        F.round(F.col("ks_d_raw"), 6).alias("ks_d"),
        F.round(
            F.col("ks_d_raw") * F.sqrt(F.col("n").cast("double")), 6
        ).alias("ks_d_scaled"),
    ).orderBy("event_type")


_EXP_GOF_SQL = """
WITH ordered AS (
  SELECT event_type,
         CAST(floor(epoch(ts)) AS BIGINT) AS t,
         event_id
  FROM events
), gaps AS (
  SELECT event_type,
         t - lag(t) OVER (PARTITION BY event_type
                          ORDER BY t, event_id) AS gap
  FROM ordered
  QUALIFY gap IS NOT NULL
), gc AS (
  SELECT event_type, gap, CAST(count(*) AS BIGINT) AS c
  FROM gaps GROUP BY 1, 2
), tot AS (
  SELECT event_type, CAST(count(*) AS BIGINT) AS n,
         CAST(sum(gap) AS BIGINT) AS sgap
  FROM gaps GROUP BY 1
), cum AS (
  SELECT event_type, gap, c,
         CAST(sum(c) OVER (PARTITION BY event_type ORDER BY gap)
              AS BIGINT) AS cum_at,
         CAST(sum(c) OVER (PARTITION BY event_type ORDER BY gap) - c
              AS BIGINT) AS cum_below
  FROM gc
), per AS (
  SELECT cum.event_type, tot.n, tot.sgap,
         max(greatest(
           abs(CAST(cum_at AS DOUBLE) / CAST(tot.n AS DOUBLE)
               - (1.0 - exp(-(CAST(tot.n AS DOUBLE)
                              / CAST(tot.sgap AS DOUBLE))
                            * CAST(gap AS DOUBLE)))),
           abs(CAST(cum_below AS DOUBLE) / CAST(tot.n AS DOUBLE)
               - (1.0 - exp(-(CAST(tot.n AS DOUBLE)
                              / CAST(tot.sgap AS DOUBLE))
                            * CAST(gap AS DOUBLE))))
         )) AS ks_d_raw
  FROM cum JOIN tot ON cum.event_type = tot.event_type
  GROUP BY 1, 2, 3
)
SELECT event_type, n AS n_gaps, sgap AS sum_gap_s,
       CAST(n AS DOUBLE) / CAST(sgap AS DOUBLE) AS lambda_per_s,
       round(ks_d_raw, 6) AS ks_d,
       round(ks_d_raw * sqrt(CAST(n AS DOUBLE)), 6) AS ks_d_scaled
FROM per
ORDER BY event_type
"""


def evt_binseg_changepoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Single optimal changepoint per type by binary segmentation — the
    split-point finder CUSUM (threshold-crossing detector) doesn't
    give: over the dense daily revenue grid, choose the split t
    maximizing the between-segment sum-of-squares gain G_t = S_t²/t +
    (S−S_t)²/(n−t) − S²/n. Prefix sums are exact cent BIGINTs; each
    G_t term is ONE division of exact DECIMAL/HUGEINT integers →
    bit-identical doubles; the argmax ranks on the 6dp-ROUNDED gain
    with a day-asc tie-break (the rank-on-rounded rule), and the
    before/after means derive UNROUNDED from the same exact sums.
    Plan: one combinable daily agg → spine → one cumulative window +
    one rank window, both on the calendar-bounded |types|×|days|
    frame."""
    daily = TS.daily_cents(load_table(spark, sf_dir, "events"))
    grid = TS.gap_filled(daily)
    wo = Window.partitionBy("event_type").orderBy("d")
    pre = grid.select(
        "event_type",
        "d",
        F.row_number().over(wo).cast("long").alias("t"),
        F.sum("x")
        .over(wo.rowsBetween(Window.unboundedPreceding, 0))
        .cast("long")
        .alias("st"),
        F.count(F.lit(1))
        .over(
            Window.partitionBy("event_type").orderBy("d").rowsBetween(
                Window.unboundedPreceding, Window.unboundedFollowing
            )
        )
        .cast("long")
        .alias("n"),
        F.sum("x")
        .over(
            Window.partitionBy("event_type").orderBy("d").rowsBetween(
                Window.unboundedPreceding, Window.unboundedFollowing
            )
        )
        .cast("long")
        .alias("s"),
    ).where(F.col("t") < F.col("n"))
    st, s, t, n = F.col("st"), F.col("s"), F.col("t"), F.col("n")
    term1 = (st.cast("decimal(38,0)") * st).cast("double") / t.cast("double")
    rem = s - st
    term2 = (rem.cast("decimal(38,0)") * rem).cast("double") / (
        n - t
    ).cast("double")
    term3 = (s.cast("decimal(38,0)") * s).cast("double") / n.cast("double")
    g = pre.select(
        "event_type",
        "d",
        "t",
        "n",
        "st",
        "s",
        F.round(term1 + term2 - term3, 6).alias("gain"),
    )
    wr = Window.partitionBy("event_type").orderBy(
        F.col("gain").desc(), F.col("d").asc()
    )
    return (
        g.withColumn("rn", F.row_number().over(wr))
        .where(F.col("rn") == 1)
        .select(
            "event_type",
            F.col("n").alias("n_days"),
            F.col("d").alias("split_day"),
            F.col("t").alias("split_index"),
            F.col("gain").alias("gain_cents2"),
            (F.col("st").cast("double") / F.col("t").cast("double")).alias(
                "mean_before_cents"
            ),
            (
                (F.col("s") - F.col("st")).cast("double")
                / (F.col("n") - F.col("t")).cast("double")
            ).alias("mean_after_cents"),
        )
        .orderBy("event_type")
    )


_BINSEG_SQL = f"""
WITH {_DAILY_CENTS_CTE}, {_GAP_FILLED_CTE}, pre AS (
  SELECT event_type, d,
         CAST(row_number() OVER (PARTITION BY event_type ORDER BY d)
              AS BIGINT) AS t,
         CAST(sum(x) OVER (PARTITION BY event_type ORDER BY d)
              AS BIGINT) AS st,
         CAST(count(*) OVER (PARTITION BY event_type) AS BIGINT) AS n,
         CAST(sum(x) OVER (PARTITION BY event_type) AS BIGINT) AS s
  FROM grid
  QUALIFY t < n
), g AS (
  SELECT event_type, d, t, n, st, s,
         round(CAST(CAST(st AS HUGEINT) * st AS DOUBLE) / CAST(t AS DOUBLE)
               + CAST(CAST(s - st AS HUGEINT) * (s - st) AS DOUBLE)
                 / CAST(n - t AS DOUBLE)
               - CAST(CAST(s AS HUGEINT) * s AS DOUBLE) / CAST(n AS DOUBLE),
               6) AS gain
  FROM pre
)
SELECT event_type, n AS n_days, d AS split_day, t AS split_index,
       gain AS gain_cents2,
       CAST(st AS DOUBLE) / CAST(t AS DOUBLE) AS mean_before_cents,
       CAST(s - st AS DOUBLE) / CAST(n - t AS DOUBLE) AS mean_after_cents
FROM (SELECT *, row_number() OVER (PARTITION BY event_type
                                   ORDER BY gain DESC, d ASC) AS rn
      FROM g)
WHERE rn = 1
ORDER BY event_type
"""


def evt_spc_individuals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shewhart individuals/moving-range control chart per event type —
    the SPC monitoring read (center line, ±2.66·MR̄ control limits,
    out-of-control day count) on daily revenue: center = S/n and MR̄ =
    ΣMR/(n−1) are single exact-integer divisions (daily cents and |lag
    diffs| exact), the limits chain bit-identical doubles (2.66 = the
    d₂-derived individuals-chart constant, repr-exact literal both sides),
    and violations are exact counts of comparisons on those identical
    doubles. Plan: one combinable daily agg, then the SHARED combine
    operators/timeseries.spc_from_daily (also the streaming twin's snapshot
    read through streaming.grid_monitor.start_daily_cents_monitor; the
    extraction is pure code motion, executedPlan verified identical): spine
    → one lag window + one moments agg on the calendar-bounded grid."""
    daily = TS.daily_cents(load_table(spark, sf_dir, "events"))
    return TS.spc_from_daily(daily)


_SPC_SQL = f"""
WITH {_DAILY_CENTS_CTE}, {_GAP_FILLED_CTE}, mr AS (
  SELECT event_type, x,
         CAST(abs(x - lag(x) OVER (PARTITION BY event_type ORDER BY d))
              AS BIGINT) AS mr
  FROM grid
), agg AS (
  SELECT event_type,
         CAST(count(*) AS BIGINT) AS n,
         CAST(sum(x) AS BIGINT) AS s,
         CAST(sum(mr) AS BIGINT) AS smr
  FROM mr GROUP BY 1
), lim AS (
  SELECT event_type, n, s, smr,
         CAST(s AS DOUBLE) / CAST(n AS DOUBLE) AS center_cents,
         CAST(smr AS DOUBLE) / CAST(n - 1 AS DOUBLE) AS mrbar_cents,
         CAST(s AS DOUBLE) / CAST(n AS DOUBLE)
           + 2.66 * (CAST(smr AS DOUBLE) / CAST(n - 1 AS DOUBLE))
           AS ucl_cents,
         CAST(s AS DOUBLE) / CAST(n AS DOUBLE)
           - 2.66 * (CAST(smr AS DOUBLE) / CAST(n - 1 AS DOUBLE))
           AS lcl_cents
  FROM agg WHERE n > 1
), viol AS (
  SELECT g.event_type,
         CAST(sum(CASE WHEN CAST(g.x AS DOUBLE) > l.ucl_cents
                         OR CAST(g.x AS DOUBLE) < l.lcl_cents
                       THEN 1 ELSE 0 END) AS BIGINT) AS n_violations
  FROM grid g JOIN lim l ON g.event_type = l.event_type
  GROUP BY 1
)
SELECT lim.event_type, lim.n AS n_days, center_cents, mrbar_cents,
       ucl_cents, lcl_cents, viol.n_violations
FROM lim JOIN viol ON lim.event_type = viol.event_type
ORDER BY lim.event_type
"""


def evt_arrival_burstiness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Goh-Barabási burstiness B = (σ−μ)/(σ+μ) and memory coefficient
    M (lag-1 correlation of consecutive inter-arrival gaps) per event
    type — the two-number characterization of arrival-process
    character (B→1 bursty, B→−1 clockwork; M>0 long/short gaps
    cluster) that complements evt_exponential_gof's distribution test.
    Gaps are exact integer seconds; both moment sets (per-gap n/S/Q
    and consecutive-pair 5-moment) accumulate exactly with Q-class
    sums in DECIMAL(38,0)/HUGEINT, so μ, σ², and the correlation
    numerator/denominators are single exact-derivation doubles; B and
    M round 6dp (sqrt-derived). Plan: one per-type lag window
    (sessionize shape) applied twice on the same partition order, two
    combinable moment aggs."""
    e = load_table(spark, sf_dir, "events")
    ts = F.unix_timestamp(F.col("ts")).cast("long")
    w = Window.partitionBy("event_type").orderBy(
        F.col("t"), F.col("event_id")
    )
    gaps = (
        e.select("event_type", ts.alias("t"), "event_id")
        .withColumn("gap", F.col("t") - F.lag("t").over(w))
        .withColumn("nxt", F.lead("gap").over(w))
        .where(F.col("gap").isNotNull())
        .select("event_type", "gap", "nxt")
    )
    g = F.col("gap")
    mom = gaps.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(g).cast("long").alias("s"),
        F.sum((g * g).cast("decimal(38,0)")).cast("decimal(38,0)").alias("q"),
        F.sum(F.when(F.col("nxt").isNotNull(), 1).otherwise(0))
        .cast("long")
        .alias("np"),
        F.sum(F.when(F.col("nxt").isNotNull(), g)).cast("long").alias("sx"),
        F.sum(F.when(F.col("nxt").isNotNull(), F.col("nxt")))
        .cast("long")
        .alias("sy"),
        F.sum(
            F.when(F.col("nxt").isNotNull(), (g * F.col("nxt")).cast("decimal(38,0)"))
        )
        .cast("decimal(38,0)")
        .alias("sxy"),
        F.sum(F.when(F.col("nxt").isNotNull(), (g * g).cast("decimal(38,0)")))
        .cast("decimal(38,0)")
        .alias("sx2"),
        F.sum(
            F.when(
                F.col("nxt").isNotNull(),
                (F.col("nxt") * F.col("nxt")).cast("decimal(38,0)"),
            )
        )
        .cast("decimal(38,0)")
        .alias("sy2"),
    )
    n, s = F.col("n"), F.col("s")
    mu = s.cast("double") / n.cast("double")
    num = F.col("q") * n - s.cast("decimal(38,0)") * s
    sig = F.sqrt(num.cast("double") / (n * (n - 1)).cast("double"))
    b = (sig - mu) / (sig + mu)
    npc = F.col("np").cast("decimal(38,0)")
    covn = npc * F.col("sxy") - F.col("sx").cast("decimal(38,0)") * F.col("sy")
    vxn = npc * F.col("sx2") - F.col("sx").cast("decimal(38,0)") * F.col("sx")
    vyn = npc * F.col("sy2") - F.col("sy").cast("decimal(38,0)") * F.col("sy")
    okb = (n > 1) & (s > 0)
    okm = (F.col("np") > 1) & (vxn > 0) & (vyn > 0)
    return mom.select(
        "event_type",
        F.col("n").alias("n_gaps"),
        F.col("s").alias("sum_gap_s"),
        F.when(okb, F.round(b, 6)).alias("burstiness_b"),
        F.when(
            okm,
            F.round(
                covn.cast("double")
                / F.sqrt(vxn.cast("double") * vyn.cast("double")),
                6,
            ),
        ).alias("memory_m"),
    ).orderBy("event_type")


_ARRIVAL_BURSTINESS_SQL = """
WITH ordered AS (
  SELECT event_type, CAST(floor(epoch(ts)) AS BIGINT) AS t, event_id
  FROM events
), g0 AS (
  SELECT event_type, t, event_id,
         t - lag(t) OVER (PARTITION BY event_type
                          ORDER BY t, event_id) AS gap
  FROM ordered
), gaps AS (
  SELECT event_type, gap,
         lead(gap) OVER (PARTITION BY event_type
                         ORDER BY t, event_id) AS nxt
  FROM g0
  QUALIFY gap IS NOT NULL
), mom AS (
  SELECT event_type,
         CAST(count(*) AS BIGINT) AS n,
         CAST(sum(gap) AS BIGINT) AS s,
         sum(CAST(gap AS HUGEINT) * gap) AS q,
         CAST(sum(CASE WHEN nxt IS NOT NULL THEN 1 ELSE 0 END)
              AS BIGINT) AS np,
         CAST(sum(CASE WHEN nxt IS NOT NULL THEN gap END) AS BIGINT) AS sx,
         CAST(sum(CASE WHEN nxt IS NOT NULL THEN nxt END) AS BIGINT) AS sy,
         sum(CASE WHEN nxt IS NOT NULL
                  THEN CAST(gap AS HUGEINT) * nxt END) AS sxy,
         sum(CASE WHEN nxt IS NOT NULL
                  THEN CAST(gap AS HUGEINT) * gap END) AS sx2,
         sum(CASE WHEN nxt IS NOT NULL
                  THEN CAST(nxt AS HUGEINT) * nxt END) AS sy2
  FROM gaps GROUP BY 1
), st AS (
  SELECT event_type, n, s, np,
         CAST(s AS DOUBLE) / CAST(n AS DOUBLE) AS mu,
         sqrt(CAST(q * n - CAST(s AS HUGEINT) * s AS DOUBLE)
              / CAST(n * (n - 1) AS DOUBLE)) AS sig,
         np * sxy - CAST(sx AS HUGEINT) * sy AS covn,
         np * sx2 - CAST(sx AS HUGEINT) * sx AS vxn,
         np * sy2 - CAST(sy AS HUGEINT) * sy AS vyn
  FROM mom
)
SELECT event_type, n AS n_gaps, s AS sum_gap_s,
       CASE WHEN n > 1 AND s > 0
            THEN round((sig - mu) / (sig + mu), 6) END AS burstiness_b,
       CASE WHEN np > 1 AND vxn > 0 AND vyn > 0
            THEN round(CAST(covn AS DOUBLE)
                 / sqrt(CAST(vxn AS DOUBLE) * CAST(vyn AS DOUBLE)), 6)
       END AS memory_m
FROM st
ORDER BY event_type
"""


def evt_funnel_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Strict-order funnel with TIME-TO-CONVERT — the latency-aware
    sibling of evt_funnel (which counts at-or-after reachability and
    conversion vs step 1 only): a user reaches step k only with an
    event of that type STRICTLY AFTER their step-(k-1) arrival
    (first-touch semantics: earliest view, then earliest click after
    it, then earliest purchase after that). Per step the export
    carries exact user counts, conversion vs the previous step AND vs
    all active users (single exact-integer divisions, unrounded), and
    the median / p90 seconds from the previous step among converters
    (F.percentile == DuckDB quantile_cont on exact integer gaps —
    interpolated midpoints are dyadic rationals, float-exact on both
    engines, exported unrounded). Plan: each step is one equi-join on
    user_id + a combinable min agg — shuffles keyed on the user id,
    no window over the fact table, no range join; the 3-row step
    frame and the 1-row denominator broadcast."""
    e = load_table(spark, sf_dir, "events")
    sec = F.unix_timestamp(F.col("ts")).cast("long")
    ev = e.select("user_id", "event_type", sec.alias("t"))
    u1 = (
        ev.where(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("t").alias("t1"))
    )
    u2 = (
        ev.where(F.col("event_type") == "click")
        .join(u1, "user_id")
        .where(F.col("t") > F.col("t1"))
        .groupBy("user_id")
        .agg(F.min("t").alias("t2"), F.min("t1").alias("t1"))
    )
    u3 = (
        ev.where(F.col("event_type") == "purchase")
        .join(u2.select("user_id", "t2"), "user_id")
        .where(F.col("t") > F.col("t2"))
        .groupBy("user_id")
        .agg(F.min("t").alias("t3"), F.min("t2").alias("t2"))
    )
    n0 = ev.agg(F.countDistinct("user_id").cast("long").alias("n_all"))
    r1 = u1.agg(
        F.lit(1).cast("long").alias("step"),
        F.lit("view").alias("step_name"),
        F.count(F.lit(1)).cast("long").alias("n_users"),
        F.lit(None).cast("double").alias("median_gap_s"),
        F.lit(None).cast("double").alias("p90_gap_s"),
    )
    gap2 = (F.col("t2") - F.col("t1")).cast("double")
    r2 = u2.agg(
        F.lit(2).cast("long").alias("step"),
        F.lit("click").alias("step_name"),
        F.count(F.lit(1)).cast("long").alias("n_users"),
        F.percentile(gap2, F.lit(0.5)).alias("median_gap_s"),
        F.percentile(gap2, F.lit(0.9)).alias("p90_gap_s"),
    )
    gap3 = (F.col("t3") - F.col("t2")).cast("double")
    r3 = u3.agg(
        F.lit(3).cast("long").alias("step"),
        F.lit("purchase").alias("step_name"),
        F.count(F.lit(1)).cast("long").alias("n_users"),
        F.percentile(gap3, F.lit(0.5)).alias("median_gap_s"),
        F.percentile(gap3, F.lit(0.9)).alias("p90_gap_s"),
    )
    steps = r1.unionByName(r2).unionByName(r3).crossJoin(F.broadcast(n0))
    wprev = Window.orderBy("step")
    prev = F.lag("n_users").over(wprev)
    return steps.select(
        "step",
        "step_name",
        "n_users",
        "n_all",
        F.when(
            prev > 0, F.col("n_users").cast("double") / prev.cast("double")
        ).alias("conv_vs_prev"),
        F.when(
            F.col("n_all") > 0,
            F.col("n_users").cast("double") / F.col("n_all").cast("double"),
        ).alias("conv_vs_all"),
        "median_gap_s",
        "p90_gap_s",
    ).orderBy("step")


_FUNNEL_CONVERSION_SQL = """
WITH ev AS (
  SELECT user_id, event_type, CAST(floor(epoch(ts)) AS BIGINT) AS t
  FROM events
), u1 AS (
  SELECT user_id, min(t) AS t1 FROM ev WHERE event_type = 'view' GROUP BY 1
), u2 AS (
  SELECT ev.user_id, min(ev.t) AS t2, min(u1.t1) AS t1
  FROM ev JOIN u1 ON ev.user_id = u1.user_id
  WHERE ev.event_type = 'click' AND ev.t > u1.t1
  GROUP BY 1
), u3 AS (
  SELECT ev.user_id, min(ev.t) AS t3, min(u2.t2) AS t2
  FROM ev JOIN u2 ON ev.user_id = u2.user_id
  WHERE ev.event_type = 'purchase' AND ev.t > u2.t2
  GROUP BY 1
), n0 AS (
  SELECT CAST(count(DISTINCT user_id) AS BIGINT) AS n_all FROM ev
), steps AS (
  SELECT CAST(1 AS BIGINT) AS step, 'view' AS step_name,
         CAST(count(*) AS BIGINT) AS n_users,
         CAST(NULL AS DOUBLE) AS median_gap_s,
         CAST(NULL AS DOUBLE) AS p90_gap_s
  FROM u1
  UNION ALL
  SELECT 2, 'click', CAST(count(*) AS BIGINT),
         quantile_cont(CAST(t2 - t1 AS DOUBLE), 0.5),
         quantile_cont(CAST(t2 - t1 AS DOUBLE), 0.9)
  FROM u2
  UNION ALL
  SELECT 3, 'purchase', CAST(count(*) AS BIGINT),
         quantile_cont(CAST(t3 - t2 AS DOUBLE), 0.5),
         quantile_cont(CAST(t3 - t2 AS DOUBLE), 0.9)
  FROM u3
)
SELECT step, step_name, n_users, n_all,
       CASE WHEN lag(n_users) OVER (ORDER BY step) > 0
            THEN CAST(n_users AS DOUBLE)
                 / CAST(lag(n_users) OVER (ORDER BY step) AS DOUBLE)
       END AS conv_vs_prev,
       CASE WHEN n_all > 0
            THEN CAST(n_users AS DOUBLE) / CAST(n_all AS DOUBLE)
       END AS conv_vs_all,
       median_gap_s, p90_gap_s
FROM steps CROSS JOIN n0
ORDER BY step
"""


def evt_dau_drawdown(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Peak-decline-recovery (drawdown) analytics on the per-type
    daily-active-users series — the engagement-health read neither
    evt_dau_mau_stickiness (level) nor evt_binseg_changepoint (mean
    shift) gives: how far below its historical peak did DAU fall, and
    how long did it stay underwater? Per type: the all-time peak, the
    max drawdown depth vs the running peak (exact ints; trough = the
    FIRST day attaining it), the depth as a fraction of the running
    peak at the trough (one exact-integer division, unrounded), and
    the longest consecutive-day underwater spell (dense-grid islands
    via the d − row_number() trick, missing days = 0 DAU). The core
    runs on the SHARED combine operators/timeseries.drawdown_from_daily
    (one definition, two execution paths —
    streaming/drawdown_maintenance.py is the twin). Plan: one (type,
    day) distinct-count shuffle, a calendar-bounded grid explode, two
    per-type windows over ≤|days| rows, one combinable final agg —
    fact-size-independent after the first shuffle."""
    e = load_table(spark, sf_dir, "events")
    day = TS.epoch_day("ts")
    daily = e.groupBy(F.col("event_type"), day.alias("d")).agg(
        F.countDistinct("user_id").cast("long").alias("dau")
    )
    return TS.drawdown_from_daily(daily).withColumnRenamed("peak", "peak_dau")


_DAU_DRAWDOWN_SQL = """
WITH daily AS (
  SELECT event_type,
         CAST(floor(floor(epoch(ts)) / 86400.0) AS BIGINT) AS d,
         CAST(count(DISTINCT user_id) AS BIGINT) AS dau
  FROM events GROUP BY 1, 2
), span AS (
  SELECT event_type, min(d) AS mn, max(d) AS mx FROM daily GROUP BY 1
), spine AS (
  SELECT event_type, CAST(unnest(generate_series(mn, mx)) AS BIGINT) AS d
  FROM span
), dense AS (
  SELECT s.event_type, s.d, coalesce(a.dau, 0) AS dau
  FROM spine s LEFT JOIN daily a
    ON s.event_type = a.event_type AND s.d = a.d
), dd AS (
  SELECT event_type, d, dau,
         max(dau) OVER (PARTITION BY event_type ORDER BY d
                        ROWS UNBOUNDED PRECEDING) - dau AS dd
  FROM dense
), agg AS (
  SELECT event_type, CAST(count(*) AS BIGINT) AS n_days,
         CAST(max(dau) AS BIGINT) AS peak_dau,
         CAST(max(dd) AS BIGINT) AS max_drawdown
  FROM dd GROUP BY 1
), trough AS (
  SELECT dd.event_type, min(dd.d) AS trough_day,
         arg_min(dd.dau, dd.d) + agg.max_drawdown AS peak_at_trough
  FROM dd JOIN agg ON dd.event_type = agg.event_type
  WHERE dd.dd = agg.max_drawdown
  GROUP BY dd.event_type, agg.max_drawdown
), under AS (
  SELECT event_type,
         d - row_number() OVER (PARTITION BY event_type ORDER BY d) AS grp
  FROM dd WHERE dd > 0
), spell AS (
  SELECT event_type, CAST(max(len) AS BIGINT)
           AS longest_underwater_days
  FROM (SELECT event_type, grp, count(*) AS len
        FROM under GROUP BY 1, 2)
  GROUP BY 1
)
SELECT agg.event_type, agg.n_days, agg.peak_dau, agg.max_drawdown,
       CAST(trough.trough_day AS BIGINT) AS trough_day,
       CASE WHEN trough.peak_at_trough > 0
            THEN CAST(agg.max_drawdown AS DOUBLE)
                 / CAST(trough.peak_at_trough AS DOUBLE)
       END AS max_drawdown_pct,
       coalesce(spell.longest_underwater_days, 0)
         AS longest_underwater_days
FROM agg
JOIN trough ON agg.event_type = trough.event_type
LEFT JOIN spell ON agg.event_type = spell.event_type
ORDER BY agg.event_type
"""


def evt_turning_points(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Turning-point randomness test on the dense per-type daily count
    series — the i.i.d. audit that complements evt_runs_test (signs)
    and evt_arrival_burstiness (gaps): count interior days that are a
    strict local peak or trough; under i.i.d. the expectation is
    2(n−2)/3 with variance (16n−29)/90 (Kendall & Stuart), so the
    standardized z flags serial structure. Counts and the turning-
    point tally are EXACT integers (strict inequalities on exact ints;
    plateau days count as neither — documented, deterministic);
    expected exports as ONE exact-integer division (unrounded), z
    rounds 6dp (sqrt-derived irrational). Plan: one (type, day) count
    shuffle (operators/timeseries.daily_counts), then the SHARED combine
    operators/timeseries.turning_points_from_daily: a calendar-bounded
    grid explode, one lag/lead window over ≤|days| rows per type, one
    combinable agg. The same two functions are the streaming monitor —
    ``daily_counts`` over the stream, the combine as the snapshot of
    streaming/grid_monitor.start_grid_rewrite_monitor (stream ≡ batch
    pinned in tests/test_streaming_turning.py)."""
    return TS.turning_points_from_daily(
        TS.daily_counts(load_table(spark, sf_dir, "events"))
    )


_TURNING_POINTS_SQL = """
WITH daily AS (
  SELECT event_type,
         CAST(floor(floor(epoch(ts)) / 86400.0) AS BIGINT) AS d,
         CAST(count(*) AS BIGINT) AS x
  FROM events GROUP BY 1, 2
), span AS (
  SELECT event_type, min(d) AS mn, max(d) AS mx FROM daily GROUP BY 1
), spine AS (
  SELECT event_type, CAST(unnest(generate_series(mn, mx)) AS BIGINT) AS d
  FROM span
), dense AS (
  SELECT s.event_type, s.d, coalesce(a.x, 0) AS x
  FROM spine s LEFT JOIN daily a
    ON s.event_type = a.event_type AND s.d = a.d
), lagged AS (
  SELECT event_type, x,
         lag(x)  OVER (PARTITION BY event_type ORDER BY d) AS p,
         lead(x) OVER (PARTITION BY event_type ORDER BY d) AS q
  FROM dense
), s AS (
  SELECT event_type, CAST(count(*) AS BIGINT) AS n_days,
         CAST(sum(CASE WHEN (p < x AND x > q) OR (p > x AND x < q)
                       THEN 1 ELSE 0 END) AS BIGINT) AS n_turning
  FROM lagged GROUP BY 1
)
SELECT event_type, n_days, n_turning,
       CASE WHEN n_days >= 3
            THEN 2.0 * (CAST(n_days AS DOUBLE) - 2.0) / 3.0
       END AS expected_turning,
       CASE WHEN n_days >= 3
                 AND (16.0 * CAST(n_days AS DOUBLE) - 29.0) / 90.0 > 0
            THEN round((CAST(n_turning AS DOUBLE)
                        - 2.0 * (CAST(n_days AS DOUBLE) - 2.0) / 3.0)
                 / sqrt((16.0 * CAST(n_days AS DOUBLE) - 29.0) / 90.0), 6)
       END AS z_score
FROM s
ORDER BY event_type
"""


def evt_records_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Record-breaking count test per event type — the extreme-value
    randomness audit behind evt_gumbel_maxima: in an i.i.d. sequence
    of n values the number of upper records (value strictly above
    every prior value; the first observation counts) has mean H_n and
    variance H_n − H_n⁽²⁾ (harmonic numbers), independent of the
    distribution — trending series blow past it, and the lower-record
    count breaks symmetrically. Values are exact cents ordered by
    (second, event_id); record flags are strict comparisons on exact
    ints (ties never set records — deterministic); H_n / H_n⁽²⁾ are
    combinable SUMS of 1/rn over the rows that already exist (rn =
    row_number over the same per-type fact order the record window
    uses — no O(n) array materialization, so no Spark max-array-length
    ceiling and no k·k LONG overflow at 100 TB row counts; rn casts to
    double BEFORE squaring). The double sums accumulate in partition
    order on Spark vs scan order on DuckDB — order-dependent low bits
    absorbed by the 6dp round (harmonic sums irrational for n>1,
    rounding ties measure-zero — the stylometry cross-sum discipline).
    Plan: one per-type window over the fact order (running max/min +
    row_number share the one sort), one combinable agg."""
    e = load_table(spark, sf_dir, "events").where(F.col("value").isNotNull())
    cents = F.round(F.col("value") * 100).cast("long")
    sec = F.unix_timestamp(F.col("ts")).cast("long")
    w = (
        Window.partitionBy("event_type")
        .orderBy("t", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    wo = Window.partitionBy("event_type").orderBy("t", "event_id")
    rn_d = F.row_number().over(wo).cast("double")
    flagged = e.select(
        "event_type", sec.alias("t"), "event_id", cents.alias("c")
    ).select(
        "event_type",
        F.when(
            F.max("c").over(w).isNull() | (F.col("c") > F.max("c").over(w)), 1
        )
        .otherwise(0)
        .alias("up"),
        F.when(
            F.min("c").over(w).isNull() | (F.col("c") < F.min("c").over(w)), 1
        )
        .otherwise(0)
        .alias("dn"),
        (F.lit(1.0) / rn_d).alias("inv_rn"),
        (F.lit(1.0) / (rn_d * rn_d)).alias("inv_rn2"),
    )
    s = flagged.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("up").cast("long").alias("n_upper_records"),
        F.sum("dn").cast("long").alias("n_lower_records"),
        F.sum("inv_rn").alias("_hn"),
        F.sum("inv_rn2").alias("_hn2"),
    )
    base = s.select(
        "event_type",
        "n",
        "n_upper_records",
        "n_lower_records",
        "_hn",
        (F.col("_hn") - F.col("_hn2")).alias("_v"),
    )
    return base.select(
        "event_type",
        "n",
        "n_upper_records",
        "n_lower_records",
        F.round(F.col("_hn"), 6).alias("expected_records"),
        F.when(
            F.col("_v") > 0,
            F.round(
                (F.col("n_upper_records").cast("double") - F.col("_hn"))
                / F.sqrt(F.col("_v")),
                6,
            ),
        ).alias("z_upper"),
        F.when(
            F.col("_v") > 0,
            F.round(
                (F.col("n_lower_records").cast("double") - F.col("_hn"))
                / F.sqrt(F.col("_v")),
                6,
            ),
        ).alias("z_lower"),
    ).orderBy("event_type")


_RECORDS_TEST_SQL = """
WITH vals AS (
  SELECT event_type, CAST(floor(epoch(ts)) AS BIGINT) AS t, event_id,
         CAST(round(value * 100) AS BIGINT) AS c
  FROM events WHERE value IS NOT NULL
), flagged AS (
  SELECT event_type,
         CASE WHEN max(c) OVER w IS NULL OR c > max(c) OVER w
              THEN 1 ELSE 0 END AS up,
         CASE WHEN min(c) OVER w IS NULL OR c < min(c) OVER w
              THEN 1 ELSE 0 END AS dn,
         1.0 / CAST(row_number() OVER wo AS DOUBLE) AS inv_rn,
         1.0 / (CAST(row_number() OVER wo AS DOUBLE)
                * CAST(row_number() OVER wo AS DOUBLE)) AS inv_rn2
  FROM vals
  WINDOW w AS (PARTITION BY event_type ORDER BY t, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
         wo AS (PARTITION BY event_type ORDER BY t, event_id)
), s AS (
  SELECT event_type, CAST(count(*) AS BIGINT) AS n,
         CAST(sum(up) AS BIGINT) AS n_upper_records,
         CAST(sum(dn) AS BIGINT) AS n_lower_records,
         sum(inv_rn) AS hn, sum(inv_rn2) AS hn2
  FROM flagged GROUP BY 1
)
SELECT s.event_type, s.n, s.n_upper_records, s.n_lower_records,
       round(s.hn, 6) AS expected_records,
       CASE WHEN s.hn - s.hn2 > 0
            THEN round((CAST(s.n_upper_records AS DOUBLE) - s.hn)
                 / sqrt(s.hn - s.hn2), 6) END AS z_upper,
       CASE WHEN s.hn - s.hn2 > 0
            THEN round((CAST(s.n_lower_records AS DOUBLE) - s.hn)
                 / sqrt(s.hn - s.hn2), 6) END AS z_lower
FROM s
ORDER BY s.event_type
"""


def evt_granger_lag1(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lag-1 Granger-causality screen between every ordered event-type
    pair on the dense daily revenue grid — the CROSS-series companion
    to evt_lag_correlation (which only measures association, not
    incremental predictivity): does x's yesterday improve the forecast
    of y's today beyond y's own yesterday? Unrestricted OLS y_t = a +
    b·y_{t−1} + c·x_{t−1} vs restricted y_t = a + b·y_{t−1}; F =
    (RSS_r − RSS_u)·(n−3)/RSS_u with 1 numerator df. Moments are
    exact (cents products accumulated in DECIMAL(38,0)/HUGEINT per
    the squared-sums rule); the Cramer solves and RSS chain in
    DOUBLES through the IDENTICAL expression tree on both engines
    (the Welch bit-identical-doubles discipline — exact-integer 3×3
    determinants would overflow DECIMAL(38) once daily cents reach
    ~1e9, unlike evt_quadratic_trend's small count sums), so F and
    the betas agree bitwise before their 6dp rounds. Plan: one
    (type, day) cents shuffle, a calendar-bounded grid, one lag
    window per type, a |types|²-bounded day equi-join, one combinable
    moments agg — fact-size-independent after the first shuffle."""
    daily = TS.daily_cents(load_table(spark, sf_dir, "events"))
    span = daily.agg(F.min("d").alias("mn"), F.max("d").alias("mx"))
    types = daily.select("event_type").distinct()
    grid = types.crossJoin(F.broadcast(span)).select(
        "event_type", F.explode(F.sequence("mn", "mx")).alias("d")
    )
    dense = grid.join(daily, ["event_type", "d"], "left").select(
        "event_type",
        "d",
        F.coalesce("cents", F.lit(0).cast("long")).alias("x"),
    )
    w = Window.partitionBy("event_type").orderBy("d")
    ydf = (
        dense.select(
            F.col("event_type").alias("y_type"),
            "d",
            F.col("x").alias("y"),
            F.lag("x").over(w).alias("yl"),
        )
        .where(F.col("yl").isNotNull())
    )
    xdf = dense.select(
        F.col("event_type").alias("x_type"),
        (F.col("d") + 1).alias("d"),
        F.col("x").alias("xl"),
    )
    rows = ydf.join(xdf, "d").where(F.col("y_type") != F.col("x_type"))

    def dsum(c: F.Column) -> F.Column:
        return F.sum(c.cast("decimal(38,0)"))

    mom = rows.groupBy("y_type", "x_type").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("y").cast("long").alias("sy"),
        F.sum("yl").cast("long").alias("syl"),
        F.sum("xl").cast("long").alias("sxl"),
        dsum(F.col("y") * F.col("y")).alias("syy"),
        dsum(F.col("y") * F.col("yl")).alias("syyl"),
        dsum(F.col("y") * F.col("xl")).alias("syxl"),
        dsum(F.col("yl") * F.col("yl")).alias("syl2"),
        dsum(F.col("xl") * F.col("yl")).alias("sxlyl"),
        dsum(F.col("xl") * F.col("xl")).alias("sxl2"),
    )
    d_ = mom
    for c in (
        "n",
        "sy",
        "syl",
        "sxl",
        "syy",
        "syyl",
        "syxl",
        "syl2",
        "sxlyl",
        "sxl2",
    ):
        d_ = d_.withColumn("d" + c, F.col(c).cast("double"))
    dn, dsy, dsyl, dsxl = (
        F.col("dn"),
        F.col("dsy"),
        F.col("dsyl"),
        F.col("dsxl"),
    )
    dsyy, dsyyl, dsyxl = F.col("dsyy"), F.col("dsyyl"), F.col("dsyxl")
    dsyl2, dsxlyl, dsxl2 = F.col("dsyl2"), F.col("dsxlyl"), F.col("dsxl2")
    solved = (
        d_.withColumn(
            "det",
            dn * (dsyl2 * dsxl2 - dsxlyl * dsxlyl)
            - dsyl * (dsyl * dsxl2 - dsxlyl * dsxl)
            + dsxl * (dsyl * dsxlyl - dsyl2 * dsxl),
        )
        .withColumn(
            "deta",
            dsy * (dsyl2 * dsxl2 - dsxlyl * dsxlyl)
            - dsyl * (dsyyl * dsxl2 - dsxlyl * dsyxl)
            + dsxl * (dsyyl * dsxlyl - dsyl2 * dsyxl),
        )
        .withColumn(
            "detb",
            dn * (dsyyl * dsxl2 - dsxlyl * dsyxl)
            - dsy * (dsyl * dsxl2 - dsxlyl * dsxl)
            + dsxl * (dsyl * dsyxl - dsyyl * dsxl),
        )
        .withColumn(
            "detc",
            dn * (dsyl2 * dsyxl - dsyyl * dsxlyl)
            - dsyl * (dsyl * dsyxl - dsyyl * dsxl)
            + dsy * (dsyl * dsxlyl - dsyl2 * dsxl),
        )
        .withColumn("det2", dn * dsyl2 - dsyl * dsyl)
        # ANSI: double division by zero is an ERROR — gate every Cramer
        # division on its determinant (export CASEs alone don't help;
        # the intermediate would already have thrown)
        .withColumn(
            "a", F.when(F.col("det") != 0, F.col("deta") / F.col("det"))
        )
        .withColumn(
            "b", F.when(F.col("det") != 0, F.col("detb") / F.col("det"))
        )
        .withColumn(
            "c", F.when(F.col("det") != 0, F.col("detc") / F.col("det"))
        )
        .withColumn(
            "ar",
            F.when(
                F.col("det2") != 0,
                (dsy * dsyl2 - dsyl * dsyyl) / F.col("det2"),
            ),
        )
        .withColumn(
            "br",
            F.when(
                F.col("det2") != 0,
                (dn * dsyyl - dsyl * dsy) / F.col("det2"),
            ),
        )
        .withColumn(
            "rss_u",
            dsyy
            - F.col("a") * dsy
            - F.col("b") * dsyyl
            - F.col("c") * dsyxl,
        )
        .withColumn(
            "rss_r", dsyy - F.col("ar") * dsy - F.col("br") * dsyyl
        )
    )
    ok = (
        (F.col("n") >= 4)
        & (F.col("det") != 0)
        & (F.col("det2") != 0)
        & (F.col("rss_u") > 0)
    )
    return solved.select(
        "y_type",
        "x_type",
        F.col("n").alias("n_obs"),
        F.when(ok, F.round(F.col("c"), 6)).alias("beta_xlag"),
        F.when(
            ok,
            F.round(
                (F.col("rss_r") - F.col("rss_u"))
                * (dn - F.lit(3.0))
                / F.col("rss_u"),
                6,
            ),
        ).alias("f_stat"),
        F.when(
            ok & (F.col("rss_r") > 0),
            F.round(
                (F.col("rss_r") - F.col("rss_u")) / F.col("rss_r"), 6
            ),
        ).alias("rss_gain_share"),
    ).orderBy("y_type", "x_type")


_GRANGER_SQL = f"""
WITH {_DAILY_CENTS_CTE}, span AS (
  SELECT min(d) AS mn, max(d) AS mx FROM daily
), grid AS (
  SELECT t.event_type, CAST(unnest(generate_series(mn, mx)) AS BIGINT) AS d
  FROM (SELECT DISTINCT event_type FROM daily) t CROSS JOIN span
), dense AS (
  SELECT g.event_type, g.d, coalesce(a.cents, 0) AS x
  FROM grid g LEFT JOIN daily a
    ON g.event_type = a.event_type AND g.d = a.d
), ydf AS (
  SELECT event_type AS y_type, d, x AS y,
         lag(x) OVER (PARTITION BY event_type ORDER BY d) AS yl
  FROM dense
  QUALIFY yl IS NOT NULL
), xdf AS (
  SELECT event_type AS x_type, d + 1 AS d, x AS xl FROM dense
), rows_ AS (
  SELECT y_type, x_type, y, yl, xl
  FROM ydf JOIN xdf USING (d)
  WHERE y_type <> x_type
), mom AS (
  SELECT y_type, x_type,
         CAST(count(*) AS BIGINT) AS n,
         CAST(sum(y) AS BIGINT) AS sy,
         CAST(sum(yl) AS BIGINT) AS syl,
         CAST(sum(xl) AS BIGINT) AS sxl,
         sum(CAST(y AS HUGEINT) * y) AS syy,
         sum(CAST(y AS HUGEINT) * yl) AS syyl,
         sum(CAST(y AS HUGEINT) * xl) AS syxl,
         sum(CAST(yl AS HUGEINT) * yl) AS syl2,
         sum(CAST(xl AS HUGEINT) * yl) AS sxlyl,
         sum(CAST(xl AS HUGEINT) * xl) AS sxl2
  FROM rows_ GROUP BY 1, 2
), dbl AS (
  SELECT y_type, x_type, n,
         CAST(n AS DOUBLE) AS dn, CAST(sy AS DOUBLE) AS dsy,
         CAST(syl AS DOUBLE) AS dsyl, CAST(sxl AS DOUBLE) AS dsxl,
         CAST(syy AS DOUBLE) AS dsyy, CAST(syyl AS DOUBLE) AS dsyyl,
         CAST(syxl AS DOUBLE) AS dsyxl, CAST(syl2 AS DOUBLE) AS dsyl2,
         CAST(sxlyl AS DOUBLE) AS dsxlyl, CAST(sxl2 AS DOUBLE) AS dsxl2
  FROM mom
), dets AS (
  SELECT *,
         dn * (dsyl2 * dsxl2 - dsxlyl * dsxlyl)
         - dsyl * (dsyl * dsxl2 - dsxlyl * dsxl)
         + dsxl * (dsyl * dsxlyl - dsyl2 * dsxl) AS det,
         dsy * (dsyl2 * dsxl2 - dsxlyl * dsxlyl)
         - dsyl * (dsyyl * dsxl2 - dsxlyl * dsyxl)
         + dsxl * (dsyyl * dsxlyl - dsyl2 * dsyxl) AS deta,
         dn * (dsyyl * dsxl2 - dsxlyl * dsyxl)
         - dsy * (dsyl * dsxl2 - dsxlyl * dsxl)
         + dsxl * (dsyl * dsyxl - dsyyl * dsxl) AS detb,
         dn * (dsyl2 * dsyxl - dsyyl * dsxlyl)
         - dsyl * (dsyl * dsyxl - dsyyl * dsxl)
         + dsy * (dsyl * dsxlyl - dsyl2 * dsxl) AS detc,
         dn * dsyl2 - dsyl * dsyl AS det2
  FROM dbl
), coefs AS (
  SELECT *,
         deta / det AS a, detb / det AS b, detc / det AS c,
         (dsy * dsyl2 - dsyl * dsyyl) / det2 AS ar,
         (dn * dsyyl - dsyl * dsy) / det2 AS br
  FROM dets
), rss AS (
  SELECT *,
         dsyy - a * dsy - b * dsyyl - c * dsyxl AS rss_u,
         dsyy - ar * dsy - br * dsyyl AS rss_r
  FROM coefs
)
SELECT y_type, x_type, n AS n_obs,
       CASE WHEN n >= 4 AND det <> 0 AND det2 <> 0 AND rss_u > 0
            THEN round(c, 6) END AS beta_xlag,
       CASE WHEN n >= 4 AND det <> 0 AND det2 <> 0 AND rss_u > 0
            THEN round((rss_r - rss_u) * (dn - 3.0) / rss_u, 6)
       END AS f_stat,
       CASE WHEN n >= 4 AND det <> 0 AND det2 <> 0 AND rss_u > 0
                 AND rss_r > 0
            THEN round((rss_r - rss_u) / rss_r, 6)
       END AS rss_gain_share
FROM rss
ORDER BY y_type, x_type
"""


def source_stylometry_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Burrows' Delta between every source pair — the stylometric
    distance authorship attribution runs on: over the corpus's K=30
    most frequent marker words (count-desc / word-asc tie-break),
    each source's relative frequency is standardized across sources
    (z_{s,w} = (f−μ_w)/σ_w, sample ddof=1) and Delta(a,b) is the mean
    |z_a − z_b|. Counts are exact integers and f is one exact-int
    division; μ/σ/z chain doubles through the same written expression
    (σ via explicit Σf/Σf² — builtin stddev implementations differ
    numerically across engines), but Σf/Σf² are double sums over ~20
    sources whose accumulation order differs between Spark partial
    aggregation and DuckDB scan order — the order-dependent low bits
    are absorbed by the rounds (the kruskal cross-sum discipline:
    Delta is a sqrt-derived irrational mean → 6dp, measure-zero
    ties), NOT bit-identical by construction. Zero-variance markers
    are excluded on the 12dp-rounded variance (deterministic at any
    realistic precision drift). Plan: ONE tokenization pass feeding a persisted
    (source, word) count frame; markers via TakeOrdered-30 on the
    word margin; everything downstream is |sources|×30 ≤ 600 rows —
    the pair join is 190×30, driver-free and constant at any corpus
    size."""
    d = load_table(spark, sf_dir, "documents")
    # spread before tokenize+explode: the persisted count frame's FILL
    # otherwise runs on the unsplittable scan's one task (guide §2.5)
    toks = spread_scan(d.select("source", "text"), "source", "text").select(
        "source",
        F.explode(
            F.filter(
                F.split(F.lower(F.trim(F.col("text"))), r"\s+"),
                lambda tk: tk != "",
            )
        ).alias("w"),
    )
    sw = (
        toks.groupBy("source", "w")
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
        .persist()
    )
    ns = sw.groupBy("source").agg(F.sum("c").cast("long").alias("ns"))
    top = (
        sw.groupBy("w")
        .agg(F.sum("c").cast("long").alias("cw"))
        .orderBy(F.col("cw").desc(), F.col("w").asc())
        .limit(30)
        .select("w")
    )
    grid = (
        ns.crossJoin(F.broadcast(top))
        .join(sw, ["source", "w"], "left")
        .select(
            "source",
            "w",
            (
                F.coalesce("c", F.lit(0).cast("long")).cast("double")
                / F.col("ns").cast("double")
            ).alias("f"),
        )
    )
    stats = grid.groupBy("w").agg(
        F.count(F.lit(1)).cast("long").alias("k"),
        F.sum("f").alias("sf"),
        F.sum(F.col("f") * F.col("f")).alias("sf2"),
    )
    mu = F.col("sf") / F.col("k").cast("double")
    varw = (F.col("sf2") - F.col("k").cast("double") * mu * mu) / (
        F.col("k") - 1
    ).cast("double")
    zs = (
        grid.join(
            F.broadcast(
                stats.select(
                    "w",
                    mu.alias("mu"),
                    F.round(varw, 12).alias("var_r"),
                    varw.alias("var"),
                )
            ),
            "w",
        )
        .where(F.col("var_r") > 0)
        .select(
            "source",
            "w",
            ((F.col("f") - F.col("mu")) / F.sqrt(F.col("var"))).alias("z"),
        )
    )
    a = zs.select(
        F.col("source").alias("src_a"), "w", F.col("z").alias("za")
    )
    b = zs.select(
        F.col("source").alias("src_b"), "w", F.col("z").alias("zb")
    )
    pairs = (
        a.join(b, "w")
        .where(F.col("src_a") < F.col("src_b"))
        .groupBy("src_a", "src_b")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_markers"),
            F.sum(F.abs(F.col("za") - F.col("zb"))).alias("sd"),
        )
    )
    return pairs.select(
        "src_a",
        "src_b",
        "n_markers",
        F.round(
            F.col("sd") / F.col("n_markers").cast("double"), 6
        ).alias("delta_burrows"),
    ).orderBy("src_a", "src_b")


_STYLOMETRY_SQL = r"""
WITH tok AS (
  SELECT source,
         unnest(list_filter(string_split_regex(lower(trim(text)), '\s+'),
                            t -> t <> '')) AS w
  FROM documents
), sw AS (
  SELECT source, w, CAST(count(*) AS BIGINT) AS c FROM tok GROUP BY 1, 2
), ns AS (
  SELECT source, CAST(sum(c) AS BIGINT) AS ns FROM sw GROUP BY 1
), top AS (
  SELECT w FROM (SELECT w, CAST(sum(c) AS BIGINT) AS cw FROM sw GROUP BY 1)
  ORDER BY cw DESC, w ASC LIMIT 30
), grid AS (
  SELECT ns.source, top.w,
         CAST(coalesce(sw.c, 0) AS DOUBLE) / CAST(ns.ns AS DOUBLE) AS f
  FROM ns CROSS JOIN top
  LEFT JOIN sw ON sw.source = ns.source AND sw.w = top.w
), stats AS (
  SELECT w, CAST(count(*) AS BIGINT) AS k,
         sum(f) AS sf, sum(f * f) AS sf2
  FROM grid GROUP BY 1
), mv AS (
  SELECT w,
         sf / CAST(k AS DOUBLE) AS mu,
         (sf2 - CAST(k AS DOUBLE) * (sf / CAST(k AS DOUBLE))
                * (sf / CAST(k AS DOUBLE)))
           / CAST(k - 1 AS DOUBLE) AS var,
         round((sf2 - CAST(k AS DOUBLE) * (sf / CAST(k AS DOUBLE))
                * (sf / CAST(k AS DOUBLE)))
           / CAST(k - 1 AS DOUBLE), 12) AS var_r
  FROM stats
), zs AS (
  SELECT g.source, g.w, (g.f - mv.mu) / sqrt(mv.var) AS z
  FROM grid g JOIN mv ON g.w = mv.w
  WHERE mv.var_r > 0
)
SELECT a.source AS src_a, b.source AS src_b,
       CAST(count(*) AS BIGINT) AS n_markers,
       round(sum(abs(a.z - b.z)) / CAST(count(*) AS DOUBLE), 6)
         AS delta_burrows
FROM zs a JOIN zs b ON a.w = b.w AND a.source < b.source
GROUP BY 1, 2
ORDER BY 1, 2
"""


def orders_cohort_ltv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort lifetime-value curves — the REVENUE companion to
    evt_retention_cohorts (which counts activity, not value): group
    customers by the calendar month of their FIRST order, then track
    each cohort's cumulative revenue per months-since-cohort k; LTV
    per customer = cum cents / cohort size. Month indices are exact
    ints (year·12 + month−1, UTC calendar), revenue is exact cents,
    the cumulative window runs over the ≤|cohorts|×|months| curve
    frame, and ltv is ONE exact-integer division (unrounded). Plan:
    per-customer first-month combinable min agg, an equi-join back on
    custkey, one (cohort, k) cents shuffle, a tiny cumulative window
    — the curve frame is calendar²-bounded regardless of fact rows."""
    o = load_table(spark, sf_dir, "orders")
    ym = (F.year("o_orderdate") * 12 + F.month("o_orderdate") - 1).cast(
        "long"
    )
    om = o.select(
        "o_custkey",
        ym.alias("m"),
        F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
    )
    first = om.groupBy("o_custkey").agg(F.min("m").alias("m0"))
    sized = first.groupBy("m0").agg(
        F.countDistinct("o_custkey").cast("long").alias("n_customers")
    )
    curve = (
        om.join(first, "o_custkey")
        .groupBy(F.col("m0").alias("cohort_month"), (F.col("m") - F.col("m0")).alias("k"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_orders"),
            F.sum("cents").cast("long").alias("rev_cents"),
        )
    )
    wcum = (
        Window.partitionBy("cohort_month")
        .orderBy("k")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        curve.join(
            F.broadcast(sized.select(F.col("m0").alias("cohort_month"), "n_customers")),
            "cohort_month",
        )
        .select(
            "cohort_month",
            "k",
            "n_customers",
            "n_orders",
            "rev_cents",
            F.sum("rev_cents").over(wcum).cast("long").alias("cum_rev_cents"),
        )
        .select(
            "cohort_month",
            "k",
            "n_customers",
            "n_orders",
            "rev_cents",
            "cum_rev_cents",
            (
                F.col("cum_rev_cents").cast("double")
                / F.col("n_customers").cast("double")
            ).alias("ltv_cents_per_customer"),
        )
        .orderBy("cohort_month", "k")
    )


_COHORT_LTV_SQL = """
WITH om AS (
  SELECT o_custkey,
         CAST(year(o_orderdate) * 12 + month(o_orderdate) - 1 AS BIGINT)
           AS m,
         CAST(round(o_totalprice * 100) AS BIGINT) AS cents
  FROM orders
), first_m AS (
  SELECT o_custkey, min(m) AS m0 FROM om GROUP BY 1
), sized AS (
  SELECT m0 AS cohort_month,
         CAST(count(DISTINCT o_custkey) AS BIGINT) AS n_customers
  FROM first_m GROUP BY 1
), curve AS (
  SELECT f.m0 AS cohort_month, om.m - f.m0 AS k,
         CAST(count(*) AS BIGINT) AS n_orders,
         CAST(sum(om.cents) AS BIGINT) AS rev_cents
  FROM om JOIN first_m f ON om.o_custkey = f.o_custkey
  GROUP BY 1, 2
)
SELECT c.cohort_month, c.k, s.n_customers, c.n_orders, c.rev_cents,
       CAST(sum(c.rev_cents) OVER (PARTITION BY c.cohort_month ORDER BY c.k
            ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_rev_cents,
       CAST(sum(c.rev_cents) OVER (PARTITION BY c.cohort_month ORDER BY c.k
            ROWS UNBOUNDED PRECEDING) AS DOUBLE)
         / CAST(s.n_customers AS DOUBLE) AS ltv_cents_per_customer
FROM curve c JOIN sized s ON c.cohort_month = s.cohort_month
ORDER BY c.cohort_month, c.k
"""


def evt_peak_over_threshold(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Peak-over-threshold EVT per event type — the exceedance-based
    sibling of evt_gumbel_maxima's block maxima (POT uses every tail
    point, not one per block): threshold u = the EXACT type-1 90th-
    percentile order statistic of daily revenue (k = ⌈9n/10⌉ via pure
    integer math (9n+9) div 10 — no float ceil edge), exceedances
    y = c − u are exact ints, and the GPD fits by method of moments
    ξ = ½(1 − m²/s²), σ = ½m(1 + m²/s²) from exact S/Q sums (Q in
    DECIMAL(38,0)/HUGEINT per the squared-sums rule); the 90-day
    return level u + σ/ξ·((λT)^ξ − 1) chains bit-identical doubles.
    u and the exceedance counts export exact; ξ/σ/return level round
    6dp (pow-derived). Plan: one (type, day) cents shuffle, a rank
    window on the ≤|types|×|days| dense grid, one combinable moments
    agg — fact-size-independent after the first shuffle."""
    daily = TS.daily_cents(load_table(spark, sf_dir, "events"))
    dense = TS.gap_filled(daily).withColumnRenamed("x", "c")
    wrank = Window.partitionBy("event_type").orderBy("c", "d")
    nd = dense.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n_days")
    )
    ranked = dense.withColumn("rn", F.row_number().over(wrank)).join(
        F.broadcast(nd), "event_type"
    )
    thresh = ranked.where(
        F.col("rn") == F.expr("(9 * n_days + 9) div 10")
    ).select("event_type", F.col("c").alias("u"), "n_days")
    exc = (
        dense.join(F.broadcast(thresh), "event_type")
        .where(F.col("c") > F.col("u"))
        .select(
            "event_type", "u", "n_days", (F.col("c") - F.col("u")).alias("y")
        )
    )
    mom = exc.groupBy("event_type", "u", "n_days").agg(
        F.count(F.lit(1)).cast("long").alias("k"),
        F.sum("y").cast("long").alias("s"),
        F.sum(F.col("y").cast("decimal(38,0)") * F.col("y")).alias("q"),
    )
    kd = F.col("k").cast("double")
    m_ = F.col("s").cast("double") / kd
    s2 = (
        F.col("q").cast("double") - kd * m_ * m_
    ) / (F.col("k") - 1).cast("double")
    solved = (
        mom.withColumn("m", m_)
        .withColumn("s2", F.when(F.col("k") > 1, s2))
        .withColumn(
            "xi",
            F.when(
                F.col("s2") > 0,
                F.lit(0.5)
                * (F.lit(1.0) - F.col("m") * F.col("m") / F.col("s2")),
            ),
        )
        .withColumn(
            "sigma",
            F.when(
                F.col("s2") > 0,
                F.lit(0.5)
                * F.col("m")
                * (F.lit(1.0) + F.col("m") * F.col("m") / F.col("s2")),
            ),
        )
    )
    lam = F.col("k").cast("double") / F.col("n_days").cast("double")
    rl = F.col("u").cast("double") + F.col("sigma") / F.col("xi") * (
        F.pow(lam * F.lit(90.0), F.col("xi")) - F.lit(1.0)
    )
    return solved.select(
        "event_type",
        "n_days",
        F.col("u").alias("threshold_cents"),
        F.col("k").alias("n_exceed"),
        F.when(F.col("s2") > 0, F.round(F.col("xi"), 6)).alias("gpd_xi"),
        F.when(F.col("s2") > 0, F.round(F.col("sigma"), 6)).alias(
            "gpd_sigma"
        ),
        F.when(
            (F.col("s2") > 0) & (F.col("xi") != 0), F.round(rl, 6)
        ).alias("return_level_90d"),
    ).orderBy("event_type")


_POT_SQL = f"""
WITH {_DAILY_CENTS_CTE}, span AS (
  SELECT event_type, min(d) AS mn, max(d) AS mx FROM daily GROUP BY 1
), spine AS (
  SELECT event_type, CAST(unnest(generate_series(mn, mx)) AS BIGINT) AS d
  FROM span
), dense AS (
  SELECT s.event_type, s.d, coalesce(a.cents, 0) AS c
  FROM spine s LEFT JOIN daily a
    ON s.event_type = a.event_type AND s.d = a.d
), nd AS (
  SELECT event_type, CAST(count(*) AS BIGINT) AS n_days
  FROM dense GROUP BY 1
), ranked AS (
  SELECT dense.event_type, c, nd.n_days,
         row_number() OVER (PARTITION BY dense.event_type
                            ORDER BY c, d) AS rn
  FROM dense JOIN nd ON dense.event_type = nd.event_type
), thresh AS (
  SELECT event_type, c AS u, n_days
  FROM ranked WHERE rn = (9 * n_days + 9) // 10
), mom AS (
  SELECT dense.event_type, t.u, t.n_days,
         CAST(count(*) AS BIGINT) AS k,
         CAST(sum(c - u) AS BIGINT) AS s,
         sum(CAST(c - u AS HUGEINT) * (c - u)) AS q
  FROM dense JOIN thresh t ON dense.event_type = t.event_type
  WHERE c > u
  GROUP BY 1, 2, 3
), solved AS (
  SELECT *,
         CAST(s AS DOUBLE) / CAST(k AS DOUBLE) AS m,
         CASE WHEN k > 1 THEN
           (CAST(q AS DOUBLE)
            - CAST(k AS DOUBLE) * (CAST(s AS DOUBLE) / CAST(k AS DOUBLE))
              * (CAST(s AS DOUBLE) / CAST(k AS DOUBLE)))
           / CAST(k - 1 AS DOUBLE) END AS s2
  FROM mom
), fits AS (
  SELECT *,
         CASE WHEN s2 > 0 THEN 0.5 * (1.0 - m * m / s2) END AS xi,
         CASE WHEN s2 > 0 THEN 0.5 * m * (1.0 + m * m / s2) END AS sigma
  FROM solved
)
SELECT event_type, n_days, u AS threshold_cents, k AS n_exceed,
       CASE WHEN s2 > 0 THEN round(xi, 6) END AS gpd_xi,
       CASE WHEN s2 > 0 THEN round(sigma, 6) END AS gpd_sigma,
       CASE WHEN s2 > 0 AND xi <> 0
            THEN round(CAST(u AS DOUBLE) + sigma / xi
                 * (pow(CAST(k AS DOUBLE) / CAST(n_days AS DOUBLE) * 90.0,
                        xi) - 1.0), 6)
       END AS return_level_90d
FROM fits
ORDER BY event_type
"""


def customer_segment_migration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spend-quartile migration matrix between the first and second
    half of the order calendar — the TEMPORAL companion to
    customer_rfm_segments (a static snapshot) and scd2_orders_history
    (row versioning): which value segment did each customer move to?
    Halves split at the integer midpoint day; per half, customers
    bucket 1-4 by total spend against that half's own quartile cuts
    (F.percentile == quantile_cont, the rfm_segments cut discipline —
    cuts chain identical doubles, comparisons of exact cents against
    them are engine-stable), segment 0 = inactive in that half. The
    matrix exports exact customer counts and each row's share of its
    origin segment (one exact-int division, unrounded). Plan: two
    per-customer cents shuffles (one per half) + a full-outer equi-
    join on custkey + one ≤25-row count agg; the quartile cuts are
    1-row broadcasts."""
    o = load_table(spark, sf_dir, "orders")
    day = TS.epoch_day("o_orderdate")
    od = o.select(
        "o_custkey",
        day.alias("d"),
        F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
    )
    span = od.agg(F.min("d").alias("mn"), F.max("d").alias("mx"))
    tagged = od.crossJoin(F.broadcast(span)).select(
        "o_custkey",
        "cents",
        (F.col("d") <= (F.col("mn") + F.col("mx")) / F.lit(2)).alias(
            "first_half"
        ),
    )

    def half(flag: bool, seg_name: str):
        spend = (
            tagged.where(F.col("first_half") == flag)
            .groupBy("o_custkey")
            .agg(F.sum("cents").cast("long").alias("sp"))
        )
        qs = F.array(F.lit(0.25), F.lit(0.5), F.lit(0.75))
        cuts = spend.agg(F.percentile("sp", qs).alias("c"))
        return spend.crossJoin(F.broadcast(cuts)).select(
            "o_custkey",
            (
                F.lit(1)
                + (F.col("sp") > F.col("c")[0]).cast("int")
                + (F.col("sp") > F.col("c")[1]).cast("int")
                + (F.col("sp") > F.col("c")[2]).cast("int")
            )
            .cast("long")
            .alias(seg_name),
        )

    a = half(True, "seg_from")
    b = half(False, "seg_to")
    mat = (
        a.join(b, "o_custkey", "outer")
        .select(
            F.coalesce("seg_from", F.lit(0).cast("long")).alias("seg_from"),
            F.coalesce("seg_to", F.lit(0).cast("long")).alias("seg_to"),
        )
        .groupBy("seg_from", "seg_to")
        .agg(F.count(F.lit(1)).cast("long").alias("n_customers"))
    )
    worigin = Window.partitionBy("seg_from")
    return mat.select(
        "seg_from",
        "seg_to",
        "n_customers",
        (
            F.col("n_customers").cast("double")
            / F.sum("n_customers").over(worigin).cast("double")
        ).alias("origin_share"),
    ).orderBy("seg_from", "seg_to")


_SEGMENT_MIGRATION_SQL = """
WITH od AS (
  SELECT o_custkey,
         CAST(floor(floor(epoch(o_orderdate)) / 86400.0) AS BIGINT) AS d,
         CAST(round(o_totalprice * 100) AS BIGINT) AS cents
  FROM orders
), span AS (
  SELECT min(d) AS mn, max(d) AS mx FROM od
), tagged AS (
  SELECT o_custkey, cents,
         d <= (mn + mx) / 2 AS first_half
  FROM od CROSS JOIN span
), sp_a AS (
  SELECT o_custkey, CAST(sum(cents) AS BIGINT) AS sp
  FROM tagged WHERE first_half GROUP BY 1
), cut_a AS (
  SELECT quantile_cont(sp, 0.25) AS c1, quantile_cont(sp, 0.5) AS c2,
         quantile_cont(sp, 0.75) AS c3
  FROM sp_a
), seg_a AS (
  SELECT o_custkey,
         CAST(1 + CAST(sp > c1 AS INTEGER) + CAST(sp > c2 AS INTEGER)
              + CAST(sp > c3 AS INTEGER) AS BIGINT) AS seg_from
  FROM sp_a CROSS JOIN cut_a
), sp_b AS (
  SELECT o_custkey, CAST(sum(cents) AS BIGINT) AS sp
  FROM tagged WHERE NOT first_half GROUP BY 1
), cut_b AS (
  SELECT quantile_cont(sp, 0.25) AS c1, quantile_cont(sp, 0.5) AS c2,
         quantile_cont(sp, 0.75) AS c3
  FROM sp_b
), seg_b AS (
  SELECT o_custkey,
         CAST(1 + CAST(sp > c1 AS INTEGER) + CAST(sp > c2 AS INTEGER)
              + CAST(sp > c3 AS INTEGER) AS BIGINT) AS seg_to
  FROM sp_b CROSS JOIN cut_b
), mat AS (
  SELECT coalesce(seg_from, 0) AS seg_from,
         coalesce(seg_to, 0) AS seg_to,
         CAST(count(*) AS BIGINT) AS n_customers
  FROM seg_a FULL OUTER JOIN seg_b USING (o_custkey)
  GROUP BY 1, 2
)
SELECT seg_from, seg_to, n_customers,
       CAST(n_customers AS DOUBLE)
         / CAST(sum(n_customers) OVER (PARTITION BY seg_from) AS DOUBLE)
         AS origin_share
FROM mat
ORDER BY seg_from, seg_to
"""


def doc_source_vocab_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise vocabulary Jaccard between sources — the SET-theoretic
    corpus comparison next to source_token_kl / doc_js_divergence
    (frequency-weighted) and source_stylometry_delta (standardized
    top-K): what fraction of two sources' combined vocabularies is
    shared, ignoring counts? Distinct (source, word) from the shared
    whitespace tokenization; the intersection comes from a self-join
    on the word key (candidate volume Σ_w df_w² with df ≤ |sources| —
    bounded per word, never corpus²); |A|, |B|, |A∩B| exact ints;
    jaccard and containment = ONE exact-integer division each,
    unrounded. Plan: one tokenization pass → distinct shuffle, one
    per-source count agg, one word-key equi-join + pair count agg —
    all combinable."""
    d = load_table(spark, sf_dir, "documents")
    toks = d.select(
        "source",
        F.explode(
            F.filter(
                F.split(F.lower(F.trim(F.col("text"))), r"\s+"),
                lambda tk: tk != "",
            )
        ).alias("w"),
    )
    sw = toks.distinct().persist()
    sizes = sw.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("vocab")
    )
    a = sw.select(F.col("source").alias("src_a"), "w")
    b = sw.select(F.col("source").alias("src_b"), "w")
    inter = (
        a.join(b, "w")
        .where(F.col("src_a") < F.col("src_b"))
        .groupBy("src_a", "src_b")
        .agg(F.count(F.lit(1)).cast("long").alias("n_shared"))
    )
    return (
        inter.join(
            F.broadcast(
                sizes.select(
                    F.col("source").alias("src_a"),
                    F.col("vocab").alias("vocab_a"),
                )
            ),
            "src_a",
        )
        .join(
            F.broadcast(
                sizes.select(
                    F.col("source").alias("src_b"),
                    F.col("vocab").alias("vocab_b"),
                )
            ),
            "src_b",
        )
        .select(
            "src_a",
            "src_b",
            "vocab_a",
            "vocab_b",
            "n_shared",
            (
                F.col("n_shared").cast("double")
                / (
                    F.col("vocab_a") + F.col("vocab_b") - F.col("n_shared")
                ).cast("double")
            ).alias("jaccard"),
            (
                F.col("n_shared").cast("double")
                / F.least("vocab_a", "vocab_b").cast("double")
            ).alias("containment"),
        )
        .orderBy("src_a", "src_b")
    )


_VOCAB_JACCARD_SQL = r"""
WITH tok AS (
  SELECT DISTINCT source,
         unnest(list_filter(string_split_regex(lower(trim(text)), '\s+'),
                            t -> t <> '')) AS w
  FROM documents
), sizes AS (
  SELECT source, CAST(count(*) AS BIGINT) AS vocab FROM tok GROUP BY 1
), inter AS (
  SELECT a.source AS src_a, b.source AS src_b,
         CAST(count(*) AS BIGINT) AS n_shared
  FROM tok a JOIN tok b ON a.w = b.w AND a.source < b.source
  GROUP BY 1, 2
)
SELECT i.src_a, i.src_b,
       sa.vocab AS vocab_a, sb.vocab AS vocab_b, i.n_shared,
       CAST(i.n_shared AS DOUBLE)
         / CAST(sa.vocab + sb.vocab - i.n_shared AS DOUBLE) AS jaccard,
       CAST(i.n_shared AS DOUBLE)
         / CAST(least(sa.vocab, sb.vocab) AS DOUBLE) AS containment
FROM inter i
JOIN sizes sa ON i.src_a = sa.source
JOIN sizes sb ON i.src_b = sb.source
ORDER BY i.src_a, i.src_b
"""


def doc_yule_k(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Yule's K, Simpson's D and Herdan's C per source — the
    frequency-SPECTRUM lexical-diversity constants next to
    vocab_chao1_richness (unseen mass) and corpus_zipf_slope (rank
    law): K = 10⁴·(Σc_w² − N)/N² is the classic repeat-rate
    characteristic (scale-invariant for Poisson-mixture text), D the
    unbiased repeat probability, C = lnV/lnN the vocabulary growth
    exponent. Σc_w² accumulates in DECIMAL(38,0)/HUGEINT (the
    squared-sums rule); K and D export as ONE division of two exact
    integers each (bit-identical, UNROUNDED); C rounds 6dp (log
    ratio). Plan: one tokenization pass → (source, word) count
    shuffle → one combinable moments agg — nothing downstream exceeds
    |sources| rows."""
    d = load_table(spark, sf_dir, "documents")
    toks = d.select(
        "source",
        F.explode(
            F.filter(
                F.split(F.lower(F.trim(F.col("text"))), r"\s+"),
                lambda tk: tk != "",
            )
        ).alias("w"),
    )
    sw = toks.groupBy("source", "w").agg(
        F.count(F.lit(1)).cast("long").alias("c")
    )
    mom = sw.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("vocab"),
        F.sum("c").cast("long").alias("n_tokens"),
        F.sum(F.col("c").cast("decimal(38,0)") * F.col("c")).alias("s2"),
    )
    n = F.col("n_tokens")
    num = (F.col("s2") - n).cast("decimal(38,0)")
    ok = n > 1
    return mom.select(
        "source",
        "n_tokens",
        "vocab",
        F.when(
            ok,
            (num * F.lit(10000)).cast("double")
            / (n.cast("decimal(38,0)") * n).cast("double"),
        ).alias("yule_k"),
        F.when(
            ok,
            num.cast("double")
            / (n.cast("decimal(38,0)") * (n - 1)).cast("double"),
        ).alias("simpson_d"),
        F.when(
            (F.col("vocab") > 1) & (n > 1),
            F.round(
                F.log(F.col("vocab").cast("double"))
                / F.log(n.cast("double")),
                6,
            ),
        ).alias("herdan_c"),
    ).orderBy("source")


_YULE_K_SQL = r"""
WITH tok AS (
  SELECT source,
         unnest(list_filter(string_split_regex(lower(trim(text)), '\s+'),
                            t -> t <> '')) AS w
  FROM documents
), sw AS (
  SELECT source, w, CAST(count(*) AS BIGINT) AS c FROM tok GROUP BY 1, 2
), mom AS (
  SELECT source, CAST(count(*) AS BIGINT) AS vocab,
         CAST(sum(c) AS BIGINT) AS n_tokens,
         sum(CAST(c AS HUGEINT) * c) AS s2
  FROM sw GROUP BY 1
)
SELECT source, n_tokens, vocab,
       CASE WHEN n_tokens > 1
            THEN CAST((s2 - n_tokens) * 10000 AS DOUBLE)
                 / CAST(CAST(n_tokens AS HUGEINT) * n_tokens AS DOUBLE)
       END AS yule_k,
       CASE WHEN n_tokens > 1
            THEN CAST(s2 - n_tokens AS DOUBLE)
                 / CAST(CAST(n_tokens AS HUGEINT) * (n_tokens - 1)
                        AS DOUBLE)
       END AS simpson_d,
       CASE WHEN vocab > 1 AND n_tokens > 1
            THEN round(ln(CAST(vocab AS DOUBLE))
                 / ln(CAST(n_tokens AS DOUBLE)), 6)
       END AS herdan_c
FROM mom
ORDER BY source
"""


def lineitem_abc_xyz(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ABC-XYZ inventory classification of parts — the operations-
    research matrix behind every stocking policy, absent from the
    customer-centric Pareto/Lorenz/regularity family: ABC ranks parts
    by revenue (A while cumulative ≤ 80%, B while ≤ 95%, C rest —
    the thresholds compare in PURE INTEGER math: cum·5 ≤ total·4 and
    cum·20 ≤ total·19, no float boundary anywhere) and XYZ buckets
    demand variability by the coefficient of variation of MONTHLY
    quantity (X ≤ 0.5, Y ≤ 1.0, Z above, compared on the 6dp-ROUNDED
    cv — rank-on-rounded). The monthly CV needs NO month-grid
    materialization: with M calendar months in span, mean = S/M and
    var = (M·Q − S²)/(M²(M−1) scaling folded in the cv expression)
    derive from the observed-month sums alone (missing months = 0
    contribute nothing to S or Q). Exports per (abc, xyz) cell:
    exact part counts, revenue cents, revenue share (one exact-int
    division, unrounded). Plan: one (part, month) quantity shuffle,
    one per-part combinable agg, one revenue-rank window over
    |parts| rows, a 1-row total broadcast, final ≤9-row agg."""
    li = load_table(spark, sf_dir, "lineitem")
    ym = (
        F.year("l_shipdate") * 12 + F.month("l_shipdate") - 1
    ).cast("long")
    pm = li.groupBy(F.col("l_partkey").alias("p"), ym.alias("m")).agg(
        F.round(F.sum("l_quantity")).cast("long").alias("q"),
        F.round(F.sum(F.col("l_extendedprice") * 100))
        .cast("long")
        .alias("rev"),
    )
    span = pm.agg(
        (F.max("m") - F.min("m") + 1).cast("long").alias("mm")
    )
    per_part = (
        pm.groupBy("p")
        .agg(
            F.sum("rev").cast("long").alias("rev"),
            F.sum("q").cast("long").alias("s"),
            F.sum(F.col("q").cast("decimal(38,0)") * F.col("q")).alias(
                "qq"
            ),
        )
        .crossJoin(F.broadcast(span))
    )
    # cv = sd/mean over the FULL M-month calendar: mean = S/M and
    # var = (M*Q - S^2)/(M*(M-1)), so cv = sd*M/S collapses to ONE
    # fixed tree sqrt((M*Q - S^2)*M/(M-1))/S on exact-integer inputs
    md = F.col("mm").cast("double")
    sd_num = (
        F.col("mm").cast("decimal(38,0)") * F.col("qq")
        - F.col("s").cast("decimal(38,0)") * F.col("s")
    ).cast("double")
    cv = F.when(
        (F.col("s") > 0) & (F.col("mm") > 1),
        F.sqrt(sd_num * md / (md - F.lit(1.0)))
        / F.col("s").cast("double"),
    )
    wrank = Window.orderBy(F.col("rev").desc(), F.col("p").asc()).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    tot = per_part.agg(F.sum("rev").cast("long").alias("total_rev"))
    classed = (
        per_part.withColumn("cum", F.sum("rev").over(wrank).cast("long"))
        .crossJoin(F.broadcast(tot))
        .select(
            "p",
            "rev",
            F.when(
                F.col("cum") * 5 <= F.col("total_rev") * 4, F.lit("A")
            )
            .when(
                F.col("cum") * 20 <= F.col("total_rev") * 19, F.lit("B")
            )
            .otherwise(F.lit("C"))
            .alias("abc"),
            F.when(F.round(cv, 6) <= 0.5, F.lit("X"))
            .when(F.round(cv, 6) <= 1.0, F.lit("Y"))
            .when(cv.isNotNull(), F.lit("Z"))
            .otherwise(F.lit("Z"))
            .alias("xyz"),
            "total_rev",
        )
    )
    return (
        classed.groupBy("abc", "xyz", "total_rev")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_parts"),
            F.sum("rev").cast("long").alias("rev_cents"),
        )
        .select(
            "abc",
            "xyz",
            "n_parts",
            "rev_cents",
            (
                F.col("rev_cents").cast("double")
                / F.col("total_rev").cast("double")
            ).alias("rev_share"),
        )
        .orderBy("abc", "xyz")
    )


_ABC_XYZ_SQL = """
WITH pm AS (
  SELECT l_partkey AS p,
         CAST(year(l_shipdate) * 12 + month(l_shipdate) - 1 AS BIGINT)
           AS m,
         CAST(round(sum(l_quantity)) AS BIGINT) AS q,
         CAST(round(sum(l_extendedprice * 100)) AS BIGINT) AS rev
  FROM lineitem GROUP BY 1, 2
), span AS (
  SELECT CAST(max(m) - min(m) + 1 AS BIGINT) AS mm FROM pm
), per_part AS (
  SELECT p, CAST(sum(rev) AS BIGINT) AS rev,
         CAST(sum(q) AS BIGINT) AS s,
         sum(CAST(q AS HUGEINT) * q) AS qq,
         span.mm
  FROM pm CROSS JOIN span
  GROUP BY 1, 5
), tot AS (
  SELECT CAST(sum(rev) AS BIGINT) AS total_rev FROM per_part
), classed AS (
  SELECT p, rev, total_rev,
         CASE WHEN sum(rev) OVER (ORDER BY rev DESC, p ASC
                                  ROWS UNBOUNDED PRECEDING) * 5
                   <= total_rev * 4 THEN 'A'
              WHEN sum(rev) OVER (ORDER BY rev DESC, p ASC
                                  ROWS UNBOUNDED PRECEDING) * 20
                   <= total_rev * 19 THEN 'B'
              ELSE 'C' END AS abc,
         CASE WHEN s > 0 AND mm > 1
                   AND round(sqrt(CAST(CAST(mm AS HUGEINT) * qq
                                       - CAST(s AS HUGEINT) * s AS DOUBLE)
                                  * CAST(mm AS DOUBLE)
                                  / (CAST(mm AS DOUBLE) - 1.0))
                             / CAST(s AS DOUBLE), 6) <= 0.5 THEN 'X'
              WHEN s > 0 AND mm > 1
                   AND round(sqrt(CAST(CAST(mm AS HUGEINT) * qq
                                       - CAST(s AS HUGEINT) * s AS DOUBLE)
                                  * CAST(mm AS DOUBLE)
                                  / (CAST(mm AS DOUBLE) - 1.0))
                             / CAST(s AS DOUBLE), 6) <= 1.0 THEN 'Y'
              ELSE 'Z' END AS xyz
  FROM per_part CROSS JOIN tot
)
SELECT abc, xyz, CAST(count(*) AS BIGINT) AS n_parts,
       CAST(sum(rev) AS BIGINT) AS rev_cents,
       CAST(sum(rev) AS DOUBLE) / CAST(total_rev AS DOUBLE) AS rev_share
FROM classed
GROUP BY abc, xyz, total_rev
ORDER BY abc, xyz
"""


def evt_session_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 session journeys — the PATH-level read the pairwise
    family (evt_markov_transitions, session_entry_exit) can't give:
    the full ordered event-type sequence of each 30-min-gap session
    (the evt_sessions rule), ranked by frequency. Path strings build
    deterministically from the (second, event_id) order via the
    canonical serialization identity (Spark array_join over
    array_sort'ed structs == DuckDB string_agg ORDER BY — the
    CLAUDE.md cross-engine pair); counts and distinct-user counts are
    exact ints; the session share is ONE exact-integer division
    (unrounded); rank breaks ties (count desc, path asc) on exact
    ints. Plan: one lag window + one cumulative-flag window over the
    per-user event order (the evt_sessions partition), one
    per-session path agg, one path count agg, a 1-row total
    broadcast, TakeOrdered-20 — no shuffle after the path counts."""
    e = load_table(spark, sf_dir, "events")
    sec = F.unix_timestamp(F.col("ts")).cast("long")
    w = Window.partitionBy("user_id").orderBy("t", "event_id")
    flagged = (
        e.select("user_id", "event_type", sec.alias("t"), "event_id")
        .withColumn("gap", F.col("t") - F.lag("t").over(w))
        .withColumn(
            "new_sess",
            F.when(F.col("gap").isNull() | (F.col("gap") > 1800), 1)
            .otherwise(0),
        )
        .withColumn(
            "sess",
            F.sum("new_sess").over(
                w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
            ),
        )
    )
    paths = flagged.groupBy("user_id", "sess").agg(
        F.array_join(
            F.transform(
                F.array_sort(
                    F.collect_list(F.struct("t", "event_id", "event_type"))
                ),
                lambda s: s.event_type,
            ),
            ">",
        ).alias("path")
    )
    counts = paths.groupBy("path").agg(
        F.count(F.lit(1)).cast("long").alias("n_sessions"),
        F.countDistinct("user_id").cast("long").alias("n_users"),
    )
    tot = paths.agg(F.count(F.lit(1)).cast("long").alias("total_sessions"))
    wrank = Window.orderBy(F.col("n_sessions").desc(), F.col("path").asc())
    return (
        counts.withColumn("rank", F.row_number().over(wrank).cast("long"))
        .where(F.col("rank") <= 20)
        .crossJoin(F.broadcast(tot))
        .select(
            "rank",
            "path",
            "n_sessions",
            "n_users",
            (
                F.col("n_sessions").cast("double")
                / F.col("total_sessions").cast("double")
            ).alias("session_share"),
        )
        .orderBy("rank")
    )


_SESSION_PATHS_SQL = """
WITH flagged AS (
  SELECT user_id, event_type,
         CAST(floor(epoch(ts)) AS BIGINT) AS t, event_id,
         CASE WHEN lag(ts) OVER w IS NULL
                   OR floor(epoch(ts)) - floor(epoch(lag(ts) OVER w))
                      > 1800
              THEN 1 ELSE 0 END AS new_sess
  FROM events
  WINDOW w AS (PARTITION BY user_id
               ORDER BY floor(epoch(ts)), event_id)
), sessed AS (
  SELECT user_id, event_type, t, event_id,
         sum(new_sess) OVER (PARTITION BY user_id ORDER BY t, event_id
                             ROWS UNBOUNDED PRECEDING) AS sess
  FROM flagged
), paths AS (
  SELECT user_id, sess,
         string_agg(event_type, '>' ORDER BY t, event_id) AS path
  FROM sessed GROUP BY 1, 2
), counts AS (
  SELECT path, CAST(count(*) AS BIGINT) AS n_sessions,
         CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
  FROM paths GROUP BY 1
), tot AS (
  SELECT CAST(count(*) AS BIGINT) AS total_sessions FROM paths
), ranked AS (
  SELECT CAST(row_number() OVER (ORDER BY n_sessions DESC, path ASC)
              AS BIGINT) AS rank,
         path, n_sessions, n_users
  FROM counts
)
SELECT rank, path, n_sessions, n_users,
       CAST(n_sessions AS DOUBLE) / CAST(total_sessions AS DOUBLE)
         AS session_share
FROM ranked CROSS JOIN tot
WHERE rank <= 20
ORDER BY rank
"""


def evt_icc_day_effect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-way random-effects variance decomposition per event type —
    how much of the event-value variance is a DAY effect? The
    variance-components companion to evt_kruskal_dunn (rank test) and
    evt_dow_seasonality (fixed dow means): groups = calendar days,
    ICC(1) = (MSB − MSW)/(MSB + (k̄−1)·MSW) with the unbalanced-design
    group size k̄ = (N − Σnᵢ²/N)/(g−1) (Searle). Per-day n/S and the
    global Q = Σc² are exact integers (Q in DECIMAL(38,0)/HUGEINT);
    SSB = Σ Sᵢ²/nᵢ − S²/N necessarily sums doubles across days
    (order-dependent), so the F ratio and ICC export at 6dp (the
    kruskal cross-type-sum discipline) while every count exports
    exact. Plan: one (type, day) moments shuffle, one combinable
    per-type agg over ≤|types|×|days| rows — fact-size-independent
    after the first shuffle."""
    e = load_table(spark, sf_dir, "events").where(F.col("value").isNotNull())
    day = TS.epoch_day("ts")
    cents = F.round(F.col("value") * 100).cast("long")
    per_day = e.groupBy(F.col("event_type"), day.alias("d")).agg(
        F.count(F.lit(1)).cast("long").alias("ni"),
        F.sum(cents).cast("long").alias("si"),
        F.sum(cents.cast("decimal(38,0)") * cents).alias("qi"),
    )
    agg = per_day.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("g"),
        F.sum("ni").cast("long").alias("n"),
        F.sum("si").cast("long").alias("s"),
        F.sum("qi").alias("q"),
        F.sum(
            F.col("si").cast("double")
            * F.col("si").cast("double")
            / F.col("ni").cast("double")
        ).alias("sgm"),
        F.sum(F.col("ni").cast("decimal(38,0)") * F.col("ni")).alias("nn"),
    )
    nd = F.col("n").cast("double")
    gd = F.col("g").cast("double")
    qd = F.col("q").cast("double")
    sd = F.col("s").cast("double")
    ssb = F.col("sgm") - sd * sd / nd
    ssw = qd - F.col("sgm")
    msb = ssb / (gd - F.lit(1.0))
    msw = ssw / (nd - gd)
    kbar = (nd - F.col("nn").cast("double") / nd) / (gd - F.lit(1.0))
    icc = (msb - msw) / (msb + (kbar - F.lit(1.0)) * msw)
    ok = (F.col("g") > 1) & (F.col("n") > F.col("g"))
    return agg.select(
        "event_type",
        F.col("n").alias("n_events"),
        F.col("g").alias("n_days"),
        F.when(ok & (msw > 0), F.round(msb / msw, 6)).alias("f_ratio"),
        F.when(
            ok & (msb + (kbar - F.lit(1.0)) * msw > 0), F.round(icc, 6)
        ).alias("icc_day"),
    ).orderBy("event_type")


_ICC_SQL = """
WITH per_day AS (
  SELECT event_type,
         CAST(floor(floor(epoch(ts)) / 86400.0) AS BIGINT) AS d,
         CAST(count(*) AS BIGINT) AS ni,
         CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS si,
         sum(CAST(CAST(round(value * 100) AS BIGINT) AS HUGEINT)
             * CAST(round(value * 100) AS BIGINT)) AS qi
  FROM events WHERE value IS NOT NULL GROUP BY 1, 2
), agg AS (
  SELECT event_type,
         CAST(count(*) AS BIGINT) AS g,
         CAST(sum(ni) AS BIGINT) AS n,
         CAST(sum(si) AS BIGINT) AS s,
         sum(qi) AS q,
         sum(CAST(si AS DOUBLE) * CAST(si AS DOUBLE)
             / CAST(ni AS DOUBLE)) AS sgm,
         sum(CAST(ni AS HUGEINT) * ni) AS nn
  FROM per_day GROUP BY 1
), stats AS (
  SELECT event_type, n, g,
         (sgm - CAST(s AS DOUBLE) * CAST(s AS DOUBLE) / CAST(n AS DOUBLE))
           / (CAST(g AS DOUBLE) - 1.0) AS msb,
         (CAST(q AS DOUBLE) - sgm) / (CAST(n AS DOUBLE) - CAST(g AS DOUBLE))
           AS msw,
         (CAST(n AS DOUBLE) - CAST(nn AS DOUBLE) / CAST(n AS DOUBLE))
           / (CAST(g AS DOUBLE) - 1.0) AS kbar
  FROM agg
)
SELECT event_type, n AS n_events, g AS n_days,
       CASE WHEN g > 1 AND n > g AND msw > 0
            THEN round(msb / msw, 6) END AS f_ratio,
       CASE WHEN g > 1 AND n > g AND msb + (kbar - 1.0) * msw > 0
            THEN round((msb - msw) / (msb + (kbar - 1.0) * msw), 6)
       END AS icc_day
FROM stats
ORDER BY event_type
"""


# ---------------------------------------------------------------------------
# r10 additions
# ---------------------------------------------------------------------------


def evt_type_emd(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise exact 1-D earth mover's distance (Wasserstein-1)
    between every event-type pair's VALUE distribution — the
    drift-audit family's metric that, unlike PSI/KL (evt_psi_drift,
    source_token_kl), needs no binning or smoothing, is finite on
    disjoint supports, and respects the value metric (how many
    dollars must move, not just how different the histograms look).

    Exactness: on cent-valued support, EMD·n_a·n_b·100 is an exact
    integer — Σ_grid |cum_a·n_b − cum_b·n_a|·gap accumulated in
    DECIMAL(38,0)/HUGEINT (the squared-cents rule; cum·n ~1e20 at
    production counts), then ONE cast-to-double division → identical
    on both engines, exported unrounded.

    Plan (operators/distribution.py): counts per (type, cents) is one
    combinable agg; the support grid is DOMAIN-bounded (≤ ~56k cent
    points), so the grid lead() window, the 5-row broadcast
    type×grid densification, the per-type cumulative windows, and the
    |pairs|×|grid| self-join are all constant-size at any corpus
    size. The (type, cents) count frame (DIST.cents_counts) is also a
    pure additive fold — the same function over the stream, run by
    streaming/grid_monitor.start_grid_rewrite_monitor, maintains it
    continuously and this same combine reads any snapshot."""
    counts = DIST.cents_counts(load_table(spark, sf_dir, "events"))
    return (
        DIST.emd_pairs_from_counts(counts)
        .select(
            F.col("grp_a").alias("type_a"),
            F.col("grp_b").alias("type_b"),
            "n_a",
            "n_b",
            F.col("emd").alias("emd_dollars"),
        )
        .orderBy("type_a", "type_b")
    )


_TYPE_EMD_SQL = """
WITH counts AS (
  SELECT event_type, CAST(round(value * 100) AS BIGINT) AS cents,
         CAST(count(*) AS BIGINT) AS n
  FROM events WHERE value IS NOT NULL GROUP BY 1, 2
), grid AS (
  SELECT gx, gap FROM (
    SELECT cents AS gx, lead(cents) OVER (ORDER BY cents) - cents AS gap
    FROM (SELECT DISTINCT cents FROM counts))
  WHERE gap IS NOT NULL
), dense AS (
  SELECT g.event_type, grid.gx, grid.gap,
         CAST(coalesce(c.n, 0) AS BIGINT) AS c
  FROM grid CROSS JOIN (SELECT DISTINCT event_type FROM counts) g
  LEFT JOIN counts c ON c.event_type = g.event_type AND c.cents = grid.gx
), cum AS (
  SELECT event_type, gx, gap,
         CAST(sum(c) OVER (PARTITION BY event_type ORDER BY gx
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
           AS cum
  FROM dense
), totals AS (
  SELECT event_type, CAST(sum(n) AS BIGINT) AS nt FROM counts GROUP BY 1
)
SELECT a.event_type AS type_a, b.event_type AS type_b,
       ta.nt AS n_a, tb.nt AS n_b,
       CAST(sum(abs(CAST(a.cum AS HUGEINT) * tb.nt
                    - CAST(b.cum AS HUGEINT) * ta.nt) * a.gap) AS DOUBLE)
         / (CAST(ta.nt AS DOUBLE) * CAST(tb.nt AS DOUBLE) * 100.0)
         AS emd_dollars
FROM cum a
JOIN cum b ON a.gx = b.gx AND a.event_type < b.event_type
JOIN totals ta ON ta.event_type = a.event_type
JOIN totals tb ON tb.event_type = b.event_type
GROUP BY 1, 2, 3, 4
ORDER BY type_a, type_b
"""


def evt_friedman_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Friedman rank test — the BLOCKED companion to evt_kruskal_dunn:
    does the daily revenue RANKING of event types stay the same day
    after day (day = block, type = treatment)? Within each complete
    day (all types present) types get ×2 average-tie ranks on exact
    daily cents (2·avg = 2·rank_min + ties − 1 — the spearman ±shift
    variant is NOT reusable here, see the inline note);
    χ²_F = 12/(nk(k+1))·ΣR_j² − 3n(k+1), computed from exact BIGINTs
    as 3·Σ(2R_j)²/(nk(k+1)) − 3n(k+1): integer products first, ONE
    division, ONE subtraction — bit-identical on both engines, so
    χ² and the per-type mean ranks export UNROUNDED (no tie
    correction: ties on exact daily cent sums are near-measure-zero,
    documented). Plan: one (type, day) combinable agg, one per-day
    rank window, two tiny rollups; k and the cross-type moment attach
    via 1-row broadcasts (whitelisted)."""
    daily = TS.daily_cents(load_table(spark, sf_dir, "events"))
    k1 = (
        daily.select("event_type")
        .distinct()
        .agg(F.count(F.lit(1)).cast("long").alias("k"))
    )
    complete = (
        daily.groupBy("d")
        .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
        .join(F.broadcast(k1), F.col("cnt") == F.col("k"))
        .select("d", "k")
    )
    # ×2 average-tie rank: 2·avg = 2·rank_min + ties − 1 (NOT the
    # spearman idiom's −2 — that uniform −1 shift cancels in rho but
    # would bias the Friedman moments)
    x2 = (
        F.lit(2) * F.rank().over(Window.partitionBy("d").orderBy("cents"))
        + F.count(F.lit(1)).over(Window.partitionBy("d", "cents"))
        - F.lit(1)
    ).cast("long")
    pt = (
        daily.join(complete, "d")
        .withColumn("x2", x2)
        .groupBy("event_type", "k")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_days"),
            F.sum("x2").cast("long").alias("r2"),
        )
    )
    stats = pt.groupBy("k").agg(
        F.sum(F.col("r2") * F.col("r2")).cast("long").alias("s4"),
        F.max("n_days").cast("long").alias("n"),
    )
    chi2 = (F.lit(3) * F.col("s4")).cast("double") / (
        F.col("k") * F.col("n") * (F.col("k") + 1)
    ).cast("double") - (F.lit(3) * F.col("n") * (F.col("k") + 1)).cast(
        "double"
    )
    return (
        pt.join(F.broadcast(stats), "k")
        .select(
            "event_type",
            "n_days",
            (F.col("r2").cast("double") / (F.lit(2) * F.col("n_days")).cast("double")).alias(
                "mean_rank"
            ),
            chi2.alias("chi2_f"),
        )
        .orderBy("event_type")
    )


_FRIEDMAN_SQL = f"""
WITH {_DAILY_CENTS_CTE}, k1 AS (
  SELECT CAST(count(DISTINCT event_type) AS BIGINT) AS k FROM daily
), complete AS (
  SELECT d, k FROM (
    SELECT d, CAST(count(*) AS BIGINT) AS cnt FROM daily GROUP BY 1) c
  JOIN k1 ON c.cnt = k1.k
), rk AS (
  SELECT daily.event_type, complete.k,
         CAST(2 * rank() OVER (PARTITION BY daily.d ORDER BY cents)
              + count(*) OVER (PARTITION BY daily.d, cents) - 1
              AS BIGINT) AS x2
  FROM daily JOIN complete ON daily.d = complete.d
), pt AS (
  SELECT event_type, k,
         CAST(count(*) AS BIGINT) AS n_days,
         CAST(sum(x2) AS BIGINT) AS r2
  FROM rk GROUP BY 1, 2
), stats AS (
  SELECT k, CAST(sum(r2 * r2) AS BIGINT) AS s4,
         CAST(max(n_days) AS BIGINT) AS n
  FROM pt GROUP BY 1
)
SELECT pt.event_type, pt.n_days,
       CAST(pt.r2 AS DOUBLE) / CAST(2 * pt.n_days AS DOUBLE) AS mean_rank,
       CAST(3 * stats.s4 AS DOUBLE)
         / CAST(stats.k * stats.n * (stats.k + 1) AS DOUBLE)
         - CAST(3 * stats.n * (stats.k + 1) AS DOUBLE) AS chi2_f
FROM pt JOIN stats ON pt.k = stats.k
ORDER BY pt.event_type
"""


def evt_sax_motifs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SAX-style symbolic motif mining on the daily revenue series per
    event type (Lin et al. '03, rank-discretized): each day's exact
    cent total maps to a quartile symbol a-d via ntile(4) over the
    per-type value order ((cents, d) total order — deterministic and
    identical in both engines' standard first-buckets-get-extras
    ntile), then every 3 consecutive days (series order) form a motif
    word; the export is each type's top-3 motifs (count desc / motif
    asc — the canonical tie-break). Everything is exact integers and
    string ops — no rounding anywhere. Plan: one (type, day)
    combinable agg, then the SHARED timeseries.sax_motifs_from_daily
    combine (one ntile window + one lead window, both per-type and
    calendar-bounded, one motif agg, one WindowGroupLimit rank window)
    — the same combine that reads the daily grid
    streaming.grid_monitor.start_daily_cents_monitor maintains (grid
    state, NOT motif counts: late data shifts the quartile cuts, see
    the combine's note)."""
    daily = TS.daily_cents(load_table(spark, sf_dir, "events"))
    return TS.sax_motifs_from_daily(daily).orderBy("event_type", "rnk")


_SAX_MOTIFS_SQL = f"""
WITH {_DAILY_CENTS_CTE}, sym AS (
  SELECT event_type, d,
         chr(CAST(96 + ntile(4) OVER (PARTITION BY event_type
                                      ORDER BY cents, d) AS INT)) AS s
  FROM daily
), words AS (
  SELECT event_type,
         s || lead(s, 1) OVER w || lead(s, 2) OVER w AS motif
  FROM sym
  WINDOW w AS (PARTITION BY event_type ORDER BY d)
), counts AS (
  SELECT event_type, motif, CAST(count(*) AS BIGINT) AS n_windows
  FROM words WHERE motif IS NOT NULL GROUP BY 1, 2
)
SELECT event_type, rnk, motif, n_windows FROM (
  SELECT event_type, motif, n_windows,
         CAST(row_number() OVER (PARTITION BY event_type
              ORDER BY n_windows DESC, motif ASC) AS INT) AS rnk
  FROM counts)
WHERE rnk <= 3
ORDER BY event_type, rnk
"""


_MATTR_WINDOW = 25


def doc_mattr_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MATTR — moving-average type-token ratio per source (Covington &
    McFall '10), the window-stabilized lexical-diversity metric that,
    unlike raw TTR, doesn't shrink with document length (and unlike
    Yule's K / Chao1 / Heaps, measures LOCAL vocabulary churn): slide
    a W=25-word window over each ≥W-word document and average the
    windows' distinct-word fractions.

    The naive per-window distinct count is O(n·W); this computes the
    SAME exact number in one pass via the first-occurrence identity:
    Σ_windows distinct = Σ_positions (# windows in which position p is
    its word's first occurrence) = Σ_p max(0, min(p, m) − max(1,
    p−W+1, prev_p+1) + 1), where prev_p is the previous position of
    the same word (one lag window) and m = n−W+1. All exact integers;
    MATTR = Σdistinct / (W·Σm) is ONE division of exact BIGINTs —
    engine-identical, exported unrounded. Plan: one tokenization pass
    (posexplode / generate_subscripts — the established per-position
    idiom), one (doc, word) lag window, two combinable rollups."""
    d = load_table(spark, sf_dir, "documents")
    w = F.lit(_MATTR_WINDOW)
    arr = F.filter(
        F.split(F.lower(F.trim(F.col("text"))), r"\s+"),
        lambda tk: tk != "",
    )
    toks = (
        d.select("doc_id", "source", arr.alias("arr"))
        .withColumn("nw", F.size("arr").cast("long"))
        .where(F.col("nw") >= w)
        .select(
            "doc_id",
            "source",
            "nw",
            F.posexplode("arr").alias("p0", "w"),
        )
        .select(
            "doc_id",
            "source",
            "nw",
            (F.col("p0") + 1).cast("long").alias("p"),
            "w",
        )
    )
    wlag = Window.partitionBy("doc_id", "w").orderBy("p")
    m = F.col("nw") - w + 1
    lo = F.greatest(
        F.lit(1).cast("long"),
        F.col("p") - w + 1,
        F.coalesce(F.lag("p").over(wlag), F.lit(0).cast("long")) + 1,
    )
    hi = F.least(F.col("p"), m)
    cnt = F.greatest(F.lit(0).cast("long"), hi - lo + 1)
    per_doc = (
        toks.withColumn("c", cnt)
        .groupBy("doc_id", "source", "nw")
        .agg(F.sum("c").cast("long").alias("sd"))
    )
    return (
        per_doc.groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum(F.col("nw") - w + 1).cast("long").alias("n_windows"),
            F.sum("sd").cast("long").alias("sum_distinct"),
        )
        .select(
            "source",
            "n_docs",
            "n_windows",
            "sum_distinct",
            (
                F.col("sum_distinct").cast("double")
                / (w * F.col("n_windows")).cast("double")
            ).alias("mattr"),
        )
        .orderBy("source")
    )


# window literal interpolated from _MATTR_WINDOW (ADVICE r10 item 1)
_MATTR_SQL = rf"""
WITH docs AS (
  SELECT doc_id, source,
         list_filter(string_split_regex(lower(trim(text)), '\s+'),
                     t -> t <> '') AS arr
  FROM documents
), toks AS (
  SELECT doc_id, source, CAST(len(arr) AS BIGINT) AS nw,
         CAST(generate_subscripts(arr, 1) AS BIGINT) AS p,
         unnest(arr) AS w
  FROM docs WHERE len(arr) >= {_MATTR_WINDOW}
), flagged AS (
  SELECT doc_id, source, nw, p,
         CAST(coalesce(lag(p) OVER (PARTITION BY doc_id, w ORDER BY p), 0)
              AS BIGINT) AS prev
  FROM toks
), contrib AS (
  SELECT doc_id, source, nw,
         greatest(CAST(0 AS BIGINT),
                  least(p, nw - {_MATTR_WINDOW} + 1)
                  - greatest(CAST(1 AS BIGINT), p - {_MATTR_WINDOW} + 1, prev + 1)
                  + 1) AS c
  FROM flagged
), per_doc AS (
  SELECT doc_id, source, nw, CAST(sum(c) AS BIGINT) AS sd
  FROM contrib GROUP BY 1, 2, 3
)
SELECT source,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(nw - {_MATTR_WINDOW} + 1) AS BIGINT) AS n_windows,
       CAST(sum(sd) AS BIGINT) AS sum_distinct,
       CAST(sum(sd) AS DOUBLE)
         / CAST({_MATTR_WINDOW} * sum(nw - {_MATTR_WINDOW} + 1) AS DOUBLE) AS mattr
FROM per_doc GROUP BY 1
ORDER BY source
"""


def orders_priority_trend_ca(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cochran-Armitage trend test: is the share of high-urgency
    orders (1-URGENT / 2-HIGH) drifting across order months? The
    categorical TREND companion to doc_lang_source_chi2 (independence)
    and evt_proportion_ztest (two-group rates): months get integer
    scores s=1..m, T = Σ sᵢrᵢ is compared to its null expectation
    R·S₁/N with variance p(1−p)(S₂ − S₁²/N). All accumulators (N, R,
    S₁, S₂, T) are exact BIGINTs over the per-month rollup (S₂ ≤
    N·s_max² with s calendar-bounded — no overflow below ~1e14 rows;
    S₁² is formed in DOUBLES, not integers, exactly because it would
    overflow at scale); z then chains the IDENTICAL expression tree
    through doubles on both engines (the welch discipline) and rounds
    6dp (sqrt-irrational). Plan: one month rollup (combinable), the
    month index via a global min over the ≤hundreds-row month frame,
    one 1-row reduce."""
    o = load_table(spark, sf_dir, "orders")
    ym = (F.year("o_orderdate") * 12 + F.month("o_orderdate")).cast("long")
    urgent = (
        F.col("o_orderpriority").isin("1-URGENT", "2-HIGH").cast("long")
    )
    monthly = o.groupBy(ym.alias("ym")).agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(urgent).cast("long").alias("r"),
    )
    s = (
        F.col("ym") - F.min("ym").over(Window.partitionBy()) + 1
    ).cast("long")
    scored = monthly.select(s.alias("s"), "n", "r")
    agg = scored.agg(
        F.count(F.lit(1)).cast("long").alias("n_months"),
        F.sum("n").cast("long").alias("nn"),
        F.sum("r").cast("long").alias("rr"),
        F.sum(F.col("s") * F.col("n")).cast("long").alias("s1"),
        F.sum(F.col("s") * F.col("s") * F.col("n")).cast("long").alias("s2"),
        F.sum(F.col("s") * F.col("r")).cast("long").alias("t"),
    )
    p = F.col("rr").cast("double") / F.col("nn").cast("double")
    s1d = F.col("s1").cast("double")
    var = (
        p
        * (F.lit(1.0) - p)
        * (F.col("s2").cast("double") - s1d * s1d / F.col("nn").cast("double"))
    )
    num = F.col("t").cast("double") - p * s1d
    return agg.select(
        "n_months",
        F.col("nn").alias("n_orders"),
        F.col("rr").alias("n_urgent"),
        F.when(var > 0, F.round(num / F.sqrt(var), 6)).alias("z_ca"),
    )


_CA_TREND_SQL = """
WITH monthly AS (
  SELECT CAST(year(o_orderdate) * 12 + month(o_orderdate) AS BIGINT) AS ym,
         CAST(count(*) AS BIGINT) AS n,
         CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                       THEN 1 ELSE 0 END) AS BIGINT) AS r
  FROM orders GROUP BY 1
), scored AS (
  SELECT CAST(ym - min(ym) OVER () + 1 AS BIGINT) AS s, n, r FROM monthly
), agg AS (
  SELECT CAST(count(*) AS BIGINT) AS n_months,
         CAST(sum(n) AS BIGINT) AS nn,
         CAST(sum(r) AS BIGINT) AS rr,
         CAST(sum(s * n) AS BIGINT) AS s1,
         CAST(sum(s * s * n) AS BIGINT) AS s2,
         CAST(sum(s * r) AS BIGINT) AS t
  FROM scored
)
SELECT n_months, nn AS n_orders, rr AS n_urgent,
       CASE WHEN (CAST(rr AS DOUBLE) / CAST(nn AS DOUBLE))
                 * (1.0 - CAST(rr AS DOUBLE) / CAST(nn AS DOUBLE))
                 * (CAST(s2 AS DOUBLE)
                    - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE)
                      / CAST(nn AS DOUBLE)) > 0
            THEN round(
              (CAST(t AS DOUBLE)
               - (CAST(rr AS DOUBLE) / CAST(nn AS DOUBLE))
                 * CAST(s1 AS DOUBLE))
              / sqrt((CAST(rr AS DOUBLE) / CAST(nn AS DOUBLE))
                     * (1.0 - CAST(rr AS DOUBLE) / CAST(nn AS DOUBLE))
                     * (CAST(s2 AS DOUBLE)
                        - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE)
                          / CAST(nn AS DOUBLE))), 6)
       END AS z_ca
FROM agg
"""


def evt_hill_tail_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hill tail-index estimator per event type — the order-statistics
    heavy-tail reader next to evt_peak_over_threshold's GPD moments
    fit (Hill regresses only on the top-k log-spacings and needs no
    variance, so the two disagree exactly when the tail isn't Pareto
    — a useful cross-check pair): γ̂ = (1/k)Σᵢ₌₁..k ln(x₍ᵢ₎/x₍ₖ₊₁₎) on
    the k = max(10, n div 20) largest positive values, α̂ = 1/γ̂.
    Determinism: x₍ᵢ₎ picked by row_number over the exact (cents,
    event_id) order (ties never straddle ambiguously), the threshold
    is the single rn = n−k row — all pure integer math; the ln-ratio
    sum is order-dependent doubles → γ̂ rounds 6dp (log-irrational,
    ties measure-zero) and α̂ derives 1/γ̂ FROM THE ROUNDED value
    (identical inputs → identical division). Plan: one per-type rank
    window over the facts, a k-bounded (5%) exceedance frame, one
    combinable agg — the spirit of the POT plan one level rawer."""
    e = load_table(spark, sf_dir, "events").where(F.col("value").isNotNull())
    vals = e.select(
        "event_type",
        F.round(F.col("value") * 100).cast("long").alias("c"),
        "event_id",
    ).where(F.col("c") >= 1)
    nd = vals.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n")
    )
    wrank = Window.partitionBy("event_type").orderBy("c", "event_id")
    ranked = vals.withColumn("rn", F.row_number().over(wrank)).join(
        F.broadcast(nd), "event_type"
    )
    k = F.greatest(F.lit(10).cast("long"), F.expr("n div 20"))
    tail = ranked.withColumn("k", k).where(
        (F.col("rn") >= F.col("n") - F.col("k")) & (F.col("n") > F.col("k"))
    )
    thr = tail.where(F.col("rn") == F.col("n") - F.col("k")).select(
        "event_type", F.col("c").alias("thr")
    )
    return (
        tail.where(F.col("rn") > F.col("n") - F.col("k"))
        .join(F.broadcast(thr), "event_type")
        .groupBy("event_type", "n", "k", "thr")
        .agg(
            F.sum(
                F.log(F.col("c").cast("double") / F.col("thr").cast("double"))
            ).alias("sl")
        )
        .select(
            "event_type",
            "n",
            "k",
            F.col("thr").alias("xk1_cents"),
            F.round(F.col("sl") / F.col("k").cast("double"), 6).alias(
                "hill_gamma"
            ),
            F.when(
                F.round(F.col("sl") / F.col("k").cast("double"), 6) > 0,
                F.lit(1.0)
                / F.round(F.col("sl") / F.col("k").cast("double"), 6),
            ).alias("tail_alpha"),
        )
        .orderBy("event_type")
    )


_HILL_SQL = """
WITH vals AS (
  SELECT event_type, CAST(round(value * 100) AS BIGINT) AS c, event_id
  FROM events WHERE value IS NOT NULL AND CAST(round(value * 100) AS BIGINT) >= 1
), nd AS (
  SELECT event_type, CAST(count(*) AS BIGINT) AS n FROM vals GROUP BY 1
), ranked AS (
  SELECT v.event_type, v.c, nd.n,
         greatest(CAST(10 AS BIGINT), nd.n // 20) AS k,
         row_number() OVER (PARTITION BY v.event_type
                            ORDER BY v.c, v.event_id) AS rn
  FROM vals v JOIN nd ON v.event_type = nd.event_type
), thr AS (
  SELECT event_type, c AS thr FROM ranked WHERE rn = n - k AND n > k
), agg AS (
  SELECT r.event_type, r.n, r.k, t.thr,
         sum(ln(CAST(r.c AS DOUBLE) / CAST(t.thr AS DOUBLE))) AS sl
  FROM ranked r JOIN thr t ON r.event_type = t.event_type
  WHERE r.rn > r.n - r.k
  GROUP BY 1, 2, 3, 4
)
SELECT event_type, n, k, thr AS xk1_cents,
       round(sl / CAST(k AS DOUBLE), 6) AS hill_gamma,
       CASE WHEN round(sl / CAST(k AS DOUBLE), 6) > 0
            THEN 1.0 / round(sl / CAST(k AS DOUBLE), 6) END AS tail_alpha
FROM agg
ORDER BY event_type
"""


_HAAR_SCALES = (2, 4, 8)


def evt_haar_energy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Haar wavelet detail-energy decomposition of the daily revenue
    series per event type — the TIME-frequency companion to
    evt_spectral_dft (which localizes in frequency only): at dyadic
    widths w ∈ {2,4,8}, each complete block's unnormalized detail is
    (first-half sum − second-half sum) of exact daily cents, and the
    scale's energy is Σ d² — EXACT integers end to end (d² accumulated
    in DECIMAL(38,0)/HUGEINT per the squared-cents rule). Energy and
    its per-type share export as cast-double exact values (one
    division — identical both engines, UNROUNDED). Blocks index the
    series by row_number (series order, the hurst convention);
    incomplete trailing blocks are dropped exactly. Plan: one (type,
    day) shuffle, a 3-literal scale fan-out of the calendar-bounded
    grid, two combinable rollups, one 3-row-partition share window."""
    daily = TS.daily_cents(load_table(spark, sf_dir, "events"))
    wt = Window.partitionBy("event_type").orderBy("d")
    seq = daily.withColumn("t", (F.row_number().over(wt) - 1).cast("long"))
    fan = seq.select(
        "event_type",
        "t",
        "cents",
        F.explode(
            F.array(*[F.lit(w).cast("long") for w in _HAAR_SCALES])
        ).alias("w"),
    )
    blk = fan.select(
        "event_type",
        "w",
        (F.col("t") / F.col("w")).cast("long").alias("b"),
        (
            F.lit(1)
            - F.lit(2) * ((F.col("t") / (F.col("w") / 2)).cast("long") % 2)
        ).alias("sgn"),
        "cents",
    )
    details = (
        blk.groupBy("event_type", "w", "b")
        .agg(
            F.count(F.lit(1)).cast("long").alias("m"),
            F.sum(F.col("sgn") * F.col("cents")).cast("long").alias("dd"),
        )
        .where(F.col("m") == F.col("w"))
    )
    per_scale = details.groupBy("event_type", "w").agg(
        F.count(F.lit(1)).cast("long").alias("n_blocks"),
        F.sum(F.col("dd").cast("decimal(38,0)") * F.col("dd")).alias("en"),
    )
    wtot = Window.partitionBy("event_type")
    return (
        per_scale.withColumn("tot", F.sum("en").over(wtot))
        .select(
            "event_type",
            F.col("w").alias("scale"),
            "n_blocks",
            F.col("en").cast("double").alias("energy"),
            F.when(
                F.col("tot") > 0,
                F.col("en").cast("double") / F.col("tot").cast("double"),
            ).alias("energy_share"),
        )
        .orderBy("event_type", "scale")
    )


_HAAR_SQL = f"""
WITH {_DAILY_CENTS_CTE}, seq AS (
  SELECT event_type, cents,
         CAST(row_number() OVER (PARTITION BY event_type ORDER BY d) - 1
              AS BIGINT) AS t
  FROM daily
), fan AS (
  SELECT event_type, t, cents, CAST(w AS BIGINT) AS w
  FROM seq CROSS JOIN (VALUES (2), (4), (8)) s(w)
), blk AS (
  SELECT event_type, w, t // w AS b,
         1 - 2 * ((t // (w // 2)) % 2) AS sgn, cents
  FROM fan
), details AS (
  SELECT event_type, w, b,
         CAST(count(*) AS BIGINT) AS m,
         CAST(sum(sgn * cents) AS BIGINT) AS dd
  FROM blk GROUP BY 1, 2, 3
), complete AS (
  SELECT * FROM details WHERE m = w
), per_scale AS (
  SELECT event_type, w,
         CAST(count(*) AS BIGINT) AS n_blocks,
         sum(CAST(dd AS HUGEINT) * dd) AS en
  FROM complete GROUP BY 1, 2
)
SELECT event_type, w AS scale, n_blocks,
       CAST(en AS DOUBLE) AS energy,
       CASE WHEN sum(en) OVER (PARTITION BY event_type) > 0
            THEN CAST(en AS DOUBLE)
                 / CAST(sum(en) OVER (PARTITION BY event_type) AS DOUBLE)
       END AS energy_share
FROM per_scale
ORDER BY event_type, scale
"""


def doc_length_ks_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample Kolmogorov-Smirnov drift per source: the sup-norm
    distance between each source's document-length (n_chars)
    distribution and the REST of the corpus — completing the drift
    triptych (PSI = binned density ratio, EMD = CDF integral, KS =
    CDF sup) with the one that powers distribution-shift alarms.
    EXACT: on the shared integer support, D·n_s·n_rest =
    max|cum_s·n_rest − cum_rest·n_s| is an exact integer (products in
    DECIMAL(38,0)/HUGEINT — cum·n reaches ~1e20 at production
    counts); D is ONE cast-double division (UNROUNDED, identical both
    engines) and the attained length is the argmax with the smallest-
    length tie-break (rank on exact integers). Plan: one (source,
    n_chars) combinable agg; the support grid is LENGTH-domain-bounded,
    so the |sources|-row broadcast densification, per-source
    cumulative windows, and the argmax rank window are all constant-
    size at any corpus volume (the operators/distribution.py
    posture)."""
    d = load_table(spark, sf_dir, "documents")
    counts = d.groupBy("source", F.col("n_chars").alias("x")).agg(
        F.count(F.lit(1)).cast("long").alias("c")
    )
    grid = counts.select("x").distinct()
    sources = counts.select("source").distinct()
    dense = (
        grid.crossJoin(F.broadcast(sources))
        .join(counts, ["source", "x"], "left")
        .select(
            "source", "x", F.coalesce("c", F.lit(0)).cast("long").alias("c")
        )
    )
    wcum = (
        Window.partitionBy("source")
        .orderBy("x")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum_s = dense.select(
        "source", "x", F.sum("c").over(wcum).alias("cs")
    )
    gtot = counts.groupBy("x").agg(F.sum("c").cast("long").alias("gc"))
    wg = Window.orderBy("x").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    cum_g = gtot.select("x", F.sum("gc").over(wg).alias("cg"))
    ns = counts.groupBy("source").agg(F.sum("c").cast("long").alias("n_s"))
    nt = counts.agg(F.sum("c").cast("long").alias("n_tot"))
    v = F.abs(
        F.col("cs").cast("decimal(38,0)") * (F.col("n_tot") - F.col("n_s"))
        - (F.col("cg") - F.col("cs")).cast("decimal(38,0)") * F.col("n_s")
    )
    scored = (
        cum_s.join(cum_g, "x")
        .join(F.broadcast(ns), "source")
        .crossJoin(F.broadcast(nt))
        .select("source", "x", "n_s", "n_tot", v.alias("v"))
    )
    wmax = Window.partitionBy("source").orderBy(
        F.col("v").desc(), F.col("x").asc()
    )
    return (
        scored.withColumn("rn", F.row_number().over(wmax))
        .where(F.col("rn") == 1)
        .select(
            "source",
            F.col("n_s").alias("n_docs"),
            # when()-gate: a single-source corpus makes the divisor
            # n_s*(n_tot-n_s) zero, an ERROR under ANSI (the Cramer/var
            # gate discipline; ADVICE r10 item 3) — KS vs an empty rest
            # is undefined, export NULL
            F.when(
                F.col("n_tot") > F.col("n_s"),
                F.col("v").cast("double")
                / (
                    F.col("n_s").cast("double")
                    * (F.col("n_tot") - F.col("n_s")).cast("double")
                ),
            ).alias("d_ks"),
            F.col("x").alias("at_n_chars"),
        )
        .orderBy("source")
    )


_LENGTH_KS_SQL = """
WITH counts AS (
  SELECT source, n_chars AS x, CAST(count(*) AS BIGINT) AS c
  FROM documents GROUP BY 1, 2
), dense AS (
  SELECT s.source, g.x, CAST(coalesce(c.c, 0) AS BIGINT) AS c
  FROM (SELECT DISTINCT x FROM counts) g
  CROSS JOIN (SELECT DISTINCT source FROM counts) s
  LEFT JOIN counts c ON c.source = s.source AND c.x = g.x
), cum_s AS (
  SELECT source, x,
         CAST(sum(c) OVER (PARTITION BY source ORDER BY x
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
           AS cs
  FROM dense
), cum_g AS (
  SELECT x,
         CAST(sum(gc) OVER (ORDER BY x
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
           AS cg
  FROM (SELECT x, CAST(sum(c) AS BIGINT) AS gc FROM counts GROUP BY 1)
), ns AS (
  SELECT source, CAST(sum(c) AS BIGINT) AS n_s FROM counts GROUP BY 1
), nt AS (
  SELECT CAST(sum(c) AS BIGINT) AS n_tot FROM counts
), scored AS (
  SELECT cum_s.source, cum_s.x, ns.n_s, nt.n_tot,
         abs(CAST(cum_s.cs AS HUGEINT) * (nt.n_tot - ns.n_s)
             - CAST(cum_g.cg - cum_s.cs AS HUGEINT) * ns.n_s) AS v
  FROM cum_s
  JOIN cum_g ON cum_s.x = cum_g.x
  JOIN ns ON ns.source = cum_s.source
  CROSS JOIN nt
)
SELECT source, n_s AS n_docs,
       CASE WHEN n_tot > n_s THEN
         CAST(v AS DOUBLE)
           / (CAST(n_s AS DOUBLE) * CAST(n_tot - n_s AS DOUBLE))
       END AS d_ks,
       x AS at_n_chars
FROM (SELECT source, x, n_s, n_tot, v,
             row_number() OVER (PARTITION BY source
                                ORDER BY v DESC, x ASC) AS rn
      FROM scored)
WHERE rn = 1
ORDER BY source
"""


def evt_rqa_determinism(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recurrence quantification analysis (Webber & Zbilut) of the
    daily revenue series per event type — the NONLINEAR structure
    reader next to the linear family (ACF/PACF/DFT/Haar): a day pair
    (i < j) recurs when |c_i − c_j| ≤ ε, RR is the recurrent fraction,
    DET the fraction of recurrent points lying on diagonal lines of
    length ≥ 2 (deterministic dynamics revisit whole TRAJECTORIES, so
    their recurrence plots are line-dominated; noise scatters isolated
    points), and L_max the longest diagonal line.

    Exactness end to end: ε = (IQR div 5) cents from exact type-1
    order statistics (the POT integer-position idiom, k₂₅ = (n+3) div
    4, k₇₅ = (3n+3) div 4; floored at 1 cent), recurrence is an exact
    integer comparison, diagonal lines are t_i − row_number islands
    per (type, offset), RR/DET single exact-int divisions UNROUNDED,
    L_max exact. Plan: one (type, day) combinable agg, one rank
    window for the quantile positions, ONE calendar²-bounded ordered
    self-join (pairs ≤ |days|²/2 per type — fact-size-independent
    after the first shuffle; the same bound class as the theil-sen
    pair grid), one islands window, two tiny rollups."""
    daily = TS.daily_cents(
        load_table(spark, sf_dir, "events")
    ).withColumnRenamed("cents", "c")
    wt = Window.partitionBy("event_type").orderBy("d")
    seq = daily.withColumn("t", F.row_number().over(wt).cast("long"))
    nd = seq.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n")
    )
    wrank = Window.partitionBy("event_type").orderBy("c", "t")
    ranked = seq.withColumn("rq", F.row_number().over(wrank)).join(
        F.broadcast(nd), "event_type"
    )
    eps = (
        ranked.groupBy("event_type", "n")
        .agg(
            F.max(
                F.when(F.col("rq") == F.expr("(n + 3) div 4"), F.col("c"))
            ).alias("q25"),
            F.max(
                F.when(F.col("rq") == F.expr("(3 * n + 3) div 4"), F.col("c"))
            ).alias("q75"),
        )
        .select(
            "event_type",
            "n",
            F.greatest(
                F.lit(1).cast("long"),
                F.expr("(q75 - q25) div 5"),
            ).alias("eps"),
        )
    )
    a = seq.select("event_type", F.col("t").alias("ti"), F.col("c").alias("ca"))
    b = seq.select("event_type", F.col("t").alias("tj"), F.col("c").alias("cb"))
    rec = (
        a.join(b, "event_type")
        .where(F.col("ti") < F.col("tj"))
        .join(F.broadcast(eps), "event_type")
        .where(F.abs(F.col("ca") - F.col("cb")) <= F.col("eps"))
        .select(
            "event_type",
            "n",
            "eps",
            (F.col("tj") - F.col("ti")).alias("off"),
            "ti",
        )
    )
    wisl = Window.partitionBy("event_type", "off").orderBy("ti")
    runs = (
        rec.withColumn(
            "grp", F.col("ti") - F.row_number().over(wisl).cast("long")
        )
        .groupBy("event_type", "n", "eps", "off", "grp")
        .agg(F.count(F.lit(1)).cast("long").alias("run_len"))
    )
    per_type = runs.groupBy("event_type", "n", "eps").agg(
        F.sum("run_len").cast("long").alias("n_rec"),
        F.sum(F.when(F.col("run_len") >= 2, F.col("run_len")).otherwise(0))
        .cast("long")
        .alias("n_det"),
        F.max("run_len").cast("long").alias("l_max"),
    )
    return (
        per_type.select(
            "event_type",
            F.col("n").alias("n_days"),
            F.col("eps").alias("eps_cents"),
            "n_rec",
            (
                F.lit(2.0)
                * F.col("n_rec").cast("double")
                / (F.col("n") * (F.col("n") - 1)).cast("double")
            ).alias("rr"),
            F.when(
                F.col("n_rec") > 0,
                F.col("n_det").cast("double") / F.col("n_rec").cast("double"),
            ).alias("det"),
            "l_max",
        )
        .orderBy("event_type")
    )


_RQA_SQL = """
WITH daily AS (
  SELECT event_type,
         CAST(floor(floor(epoch(ts)) / 86400.0) AS BIGINT) AS d,
         CAST(round(sum(value) * 100) AS BIGINT) AS c
  FROM events WHERE value IS NOT NULL GROUP BY 1, 2
), seq AS (
  SELECT event_type, c,
         CAST(row_number() OVER (PARTITION BY event_type ORDER BY d)
              AS BIGINT) AS t
  FROM daily
), nd AS (
  SELECT event_type, CAST(count(*) AS BIGINT) AS n FROM seq GROUP BY 1
), ranked AS (
  SELECT seq.event_type, seq.c, nd.n,
         row_number() OVER (PARTITION BY seq.event_type
                            ORDER BY seq.c, seq.t) AS rq
  FROM seq JOIN nd ON seq.event_type = nd.event_type
), eps AS (
  SELECT event_type, n,
         greatest(CAST(1 AS BIGINT),
                  (max(CASE WHEN rq = (3 * n + 3) // 4 THEN c END)
                   - max(CASE WHEN rq = (n + 3) // 4 THEN c END)) // 5)
           AS eps
  FROM ranked GROUP BY 1, 2
), rec AS (
  SELECT a.event_type, e.n, e.eps, b.t - a.t AS off, a.t AS ti
  FROM seq a
  JOIN seq b ON a.event_type = b.event_type AND a.t < b.t
  JOIN eps e ON e.event_type = a.event_type
  WHERE abs(a.c - b.c) <= e.eps
), runs AS (
  SELECT event_type, n, eps, off,
         ti - row_number() OVER (PARTITION BY event_type, off
                                 ORDER BY ti) AS grp
  FROM rec
), run_lens AS (
  SELECT event_type, n, eps, off, grp,
         CAST(count(*) AS BIGINT) AS run_len
  FROM runs GROUP BY 1, 2, 3, 4, 5
), per_type AS (
  SELECT event_type, n, eps,
         CAST(sum(run_len) AS BIGINT) AS n_rec,
         CAST(sum(CASE WHEN run_len >= 2 THEN run_len ELSE 0 END)
              AS BIGINT) AS n_det,
         CAST(max(run_len) AS BIGINT) AS l_max
  FROM run_lens GROUP BY 1, 2, 3
)
SELECT event_type, n AS n_days, eps AS eps_cents, n_rec,
       2.0 * CAST(n_rec AS DOUBLE) / CAST(n * (n - 1) AS DOUBLE) AS rr,
       CASE WHEN n_rec > 0
            THEN CAST(n_det AS DOUBLE) / CAST(n_rec AS DOUBLE) END AS det,
       l_max
FROM per_type
ORDER BY event_type
"""


def evt_permutation_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Permutation entropy (Bandt & Pompe '02) of the daily revenue
    series per event type at order m=3 — the complexity companion to
    evt_rqa_determinism (RQA reads recurrence STRUCTURE, permutation
    entropy reads how evenly the 3! ordinal patterns of consecutive
    triples are used: ~0 for monotone/periodic dynamics, ln 6 for
    white noise). Patterns come from exact integer comparisons of
    (c_t, c_{t+1}, c_{t+2}) with the standard earlier-index-wins tie
    rule (ties on exact daily cents are near-measure-zero, rule
    documented): the pattern id is the rank word of the triple.
    Counts are exact; each ln's argument is ONE exact-int ratio
    (cast-double division, identical both engines); the ≤6-term
    entropy sum is order-dependent doubles → 6dp (the circadian
    discipline), normalized form divides by the ln(6) LITERAL after
    rounding the numerator. Plan: one (type, day) combinable agg, two
    lead windows over the calendar-bounded series, one ≤|types|×6
    rollup."""
    daily = TS.daily_cents(
        load_table(spark, sf_dir, "events")
    ).withColumnRenamed("cents", "c")
    wd = Window.partitionBy("event_type").orderBy("d")
    tri = daily.select(
        "event_type",
        F.col("c").alias("c1"),
        F.lead("c", 1).over(wd).alias("c2"),
        F.lead("c", 2).over(wd).alias("c3"),
    ).where(F.col("c3").isNotNull())
    # rank of each position inside the triple (earlier index wins ties):
    # r1 counts strictly-smaller peers + earlier ties, etc.
    r1 = (
        F.lit(0)
        + F.when(F.col("c2") < F.col("c1"), 1).otherwise(0)
        + F.when(F.col("c3") < F.col("c1"), 1).otherwise(0)
    )
    r2 = (
        F.when(F.col("c1") <= F.col("c2"), 1).otherwise(0)
        + F.when(F.col("c3") < F.col("c2"), 1).otherwise(0)
    )
    r3 = (
        F.when(F.col("c1") <= F.col("c3"), 1).otherwise(0)
        + F.when(F.col("c2") <= F.col("c3"), 1).otherwise(0)
    )
    pat = F.concat(
        r1.cast("string"), r2.cast("string"), r3.cast("string")
    ).alias("pattern")
    counts = tri.select("event_type", pat).groupBy(
        "event_type", "pattern"
    ).agg(F.count(F.lit(1)).cast("long").alias("np"))
    wtot = Window.partitionBy("event_type")
    scored = counts.withColumn("nt", F.sum("np").over(wtot))
    ent_term = -(
        F.col("np").cast("double") / F.col("nt").cast("double")
    ) * F.log(F.col("np").cast("double") / F.col("nt").cast("double"))
    per_type = (
        scored.withColumn("h", ent_term)
        .groupBy("event_type", "nt")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_patterns"),
            F.round(F.sum("h"), 6).alias("perm_entropy"),
        )
    )
    return (
        per_type.select(
            "event_type",
            F.col("nt").alias("n_windows"),
            "n_patterns",
            "perm_entropy",
            (F.col("perm_entropy") / F.log(F.lit(6.0))).alias(
                "perm_entropy_norm"
            ),
        )
        .orderBy("event_type")
    )


_PERM_ENTROPY_SQL = """
WITH daily AS (
  SELECT event_type,
         CAST(floor(floor(epoch(ts)) / 86400.0) AS BIGINT) AS d,
         CAST(round(sum(value) * 100) AS BIGINT) AS c
  FROM events WHERE value IS NOT NULL GROUP BY 1, 2
), tri AS (
  SELECT event_type, c AS c1,
         lead(c, 1) OVER w AS c2,
         lead(c, 2) OVER w AS c3
  FROM daily
  WINDOW w AS (PARTITION BY event_type ORDER BY d)
), pats AS (
  SELECT event_type,
         CAST(CASE WHEN c2 < c1 THEN 1 ELSE 0 END
              + CASE WHEN c3 < c1 THEN 1 ELSE 0 END AS VARCHAR)
         || CAST(CASE WHEN c1 <= c2 THEN 1 ELSE 0 END
                 + CASE WHEN c3 < c2 THEN 1 ELSE 0 END AS VARCHAR)
         || CAST(CASE WHEN c1 <= c3 THEN 1 ELSE 0 END
                 + CASE WHEN c2 <= c3 THEN 1 ELSE 0 END AS VARCHAR)
           AS pattern
  FROM tri WHERE c3 IS NOT NULL
), counts AS (
  SELECT event_type, pattern, CAST(count(*) AS BIGINT) AS np
  FROM pats GROUP BY 1, 2
), scored AS (
  SELECT event_type, np,
         CAST(sum(np) OVER (PARTITION BY event_type) AS BIGINT) AS nt
  FROM counts
), per_type AS (
  SELECT event_type, nt,
         CAST(count(*) AS BIGINT) AS n_patterns,
         round(sum(-(CAST(np AS DOUBLE) / CAST(nt AS DOUBLE))
                   * ln(CAST(np AS DOUBLE) / CAST(nt AS DOUBLE))), 6)
           AS perm_entropy
  FROM scored GROUP BY 1, 2
)
SELECT event_type, nt AS n_windows, n_patterns, perm_entropy,
       perm_entropy / ln(6.0) AS perm_entropy_norm
FROM per_type
ORDER BY event_type
"""


def evt_tail_dependence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Empirical upper-tail dependence λ_U between every pair of event
    types' daily revenue series — the BIVARIATE extreme-value read next
    to the univariate EVT family (gumbel maxima / POT / hill): when one
    series has an extreme day, how often does the other? Correlation
    (evt_lag_correlation) measures co-movement in the bulk; λ_U
    measures co-movement in the TAIL, which is what risk aggregation
    actually cares about (two metrics can be uncorrelated yet spike
    together).

    Exact end to end: daily cents are exact ints, each side's 0.8
    threshold is the exact type-1 order statistic over the SHARED days
    (rank position ceil(0.8n) = (8n+9) div 10, the POT integer idiom;
    (cents, day) tie-break), exceedance is a strict integer compare,
    and λ̂_U = 2·n_joint/(n_exc1+n_exc2) (the symmetrized conditional
    estimator) is ONE exact-integer division, unrounded.  when()-gated
    for the no-exceedance corner (n=0 shared days ⇒ pair absent by the
    inner join).  Plan: one (type, day) combinable agg, then the
    SHARED combine operators/timeseries.tail_dependence_from_daily
    (also the streaming twin's snapshot read through
    streaming.grid_monitor.start_daily_cents_monitor): a day-keyed pair
    join (|types|^2/2 x days -- calendar^2-bounded, fact-size-independent
    after the first shuffle), two rank windows on the pair frame, one
    broadcast threshold attach, one combinable reduce."""
    daily = TS.daily_cents(load_table(spark, sf_dir, "events"))
    return TS.tail_dependence_from_daily(daily)


_TAIL_DEP_SQL = """
WITH daily AS (
  SELECT event_type,
         CAST(floor(epoch(ts) / 86400.0) AS BIGINT) AS d,
         CAST(round(sum(value) * 100) AS BIGINT) AS c
  FROM events WHERE value IS NOT NULL GROUP BY 1, 2
), pr AS (
  SELECT a.event_type AS t1, b.event_type AS t2, a.d,
         a.c AS c1, b.c AS c2
  FROM daily a JOIN daily b ON a.d = b.d AND a.event_type < b.event_type
), ranked AS (
  SELECT t1, t2, c1, c2,
         row_number() OVER (PARTITION BY t1, t2 ORDER BY c1, d) AS r1,
         row_number() OVER (PARTITION BY t1, t2 ORDER BY c2, d) AS r2,
         CAST(count(*) OVER (PARTITION BY t1, t2) AS BIGINT) AS n
  FROM pr
), thr AS (
  SELECT t1, t2, n,
         max(CASE WHEN r1 = (8 * n + 9) // 10 THEN c1 END) AS thr1,
         max(CASE WHEN r2 = (8 * n + 9) // 10 THEN c2 END) AS thr2
  FROM ranked GROUP BY 1, 2, 3
), agg AS (
  SELECT r.t1, r.t2, t.n, t.thr1, t.thr2,
         CAST(sum(CASE WHEN r.c1 > t.thr1 THEN 1 ELSE 0 END) AS BIGINT)
           AS n_exc1,
         CAST(sum(CASE WHEN r.c2 > t.thr2 THEN 1 ELSE 0 END) AS BIGINT)
           AS n_exc2,
         CAST(sum(CASE WHEN r.c1 > t.thr1 AND r.c2 > t.thr2
                  THEN 1 ELSE 0 END) AS BIGINT) AS n_joint
  FROM ranked r JOIN thr t ON r.t1 = t.t1 AND r.t2 = t.t2
  GROUP BY 1, 2, 3, 4, 5
)
SELECT t1, t2, n AS n_days, thr1 AS thr1_cents, thr2 AS thr2_cents,
       n_exc1, n_exc2, n_joint,
       CASE WHEN n_exc1 + n_exc2 > 0 THEN
         2.0 * CAST(n_joint AS DOUBLE) / CAST(n_exc1 + n_exc2 AS DOUBLE)
       END AS lambda_u
FROM agg
ORDER BY t1, t2
"""


def part_price_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Laspeyres / Paasche / Fisher monthly price indices over the
    lineitem fact — the economics read absent from the stats family:
    how did effective unit prices (discounted revenue per unit) move
    vs the FIRST shipping month, holding the basket fixed at base
    quantities (Laspeyres), current quantities (Paasche), and their
    geometric mean (Fisher)?  Per (part, month) the unit value
    p = Σcents/Σqty is a single exact-int division (cents BIGINT, qty
    integral); index sums over the matched basket are order-dependent
    doubles of identical per-term IEEE products, so the three indices
    round 6dp (the granger/welch engine-identical-expression
    discipline).  Base month = global min month, matched basket =
    parts present in BOTH base and current month (the standard
    matched-sample index).  Plan: one (part, month) combinable agg,
    one broadcast of the |parts|-row base basket, one month rollup —
    the index frame is calendar-bounded at any fact volume."""
    li = load_table(spark, sf_dir, "lineitem")
    m = (F.year("l_shipdate") * 12 + F.month("l_shipdate") - 1).cast("long")
    cents = F.round(
        F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100
    ).cast("long")
    qty = F.round(F.col("l_quantity")).cast("long")
    # persist: pm feeds THREE consumers (base-month scalar, base basket
    # broadcast, current side) — without the persist the fact-table agg
    # re-runs per consumer
    pm = li.groupBy(F.col("l_partkey").alias("pk"), m.alias("m")).agg(
        F.sum(cents).cast("long").alias("cents"),
        F.sum(qty).cast("long").alias("qty"),
    ).persist()
    m0 = pm.agg(F.min("m").alias("m0"))
    base = (
        pm.join(F.broadcast(m0), pm["m"] == m0["m0"])
        .select(
            "pk",
            (F.col("cents").cast("double") / F.col("qty").cast("double"))
            .alias("p0"),
            F.col("qty").alias("q0"),
        )
    )
    cur = pm.select(
        "pk",
        "m",
        (F.col("cents").cast("double") / F.col("qty").cast("double"))
        .alias("pt"),
        F.col("qty").alias("qt"),
    )
    j = cur.join(F.broadcast(base), "pk")
    agg = j.groupBy("m").agg(
        F.count(F.lit(1)).cast("long").alias("n_parts_matched"),
        F.sum(F.col("pt") * F.col("q0").cast("double")).alias("l_num"),
        F.sum(F.col("p0") * F.col("q0").cast("double")).alias("l_den"),
        F.sum(F.col("pt") * F.col("qt").cast("double")).alias("p_num"),
        F.sum(F.col("p0") * F.col("qt").cast("double")).alias("p_den"),
    )
    lasp = F.col("l_num") / F.col("l_den")
    paas = F.col("p_num") / F.col("p_den")
    return agg.select(
        F.col("m").alias("month_idx"),
        "n_parts_matched",
        F.round(lasp, 6).alias("laspeyres"),
        F.round(paas, 6).alias("paasche"),
        F.round(F.sqrt(lasp * paas), 6).alias("fisher"),
    ).orderBy("month_idx")


_PRICE_INDEX_SQL = """
WITH pm AS (
  SELECT l_partkey AS pk,
         CAST(year(l_shipdate) * 12 + month(l_shipdate) - 1 AS BIGINT) AS m,
         CAST(sum(CAST(round(l_extendedprice * (1 - l_discount) * 100)
                       AS BIGINT)) AS BIGINT) AS cents,
         CAST(sum(CAST(round(l_quantity) AS BIGINT)) AS BIGINT) AS qty
  FROM lineitem GROUP BY 1, 2
), m0 AS (
  SELECT min(m) AS m0 FROM pm
), base AS (
  SELECT pk, CAST(cents AS DOUBLE) / CAST(qty AS DOUBLE) AS p0,
         qty AS q0
  FROM pm, m0 WHERE pm.m = m0.m0
), agg AS (
  SELECT c.m, CAST(count(*) AS BIGINT) AS n_parts_matched,
         sum((CAST(c.cents AS DOUBLE) / CAST(c.qty AS DOUBLE))
             * CAST(b.q0 AS DOUBLE)) AS l_num,
         sum(b.p0 * CAST(b.q0 AS DOUBLE)) AS l_den,
         sum((CAST(c.cents AS DOUBLE) / CAST(c.qty AS DOUBLE))
             * CAST(c.qty AS DOUBLE)) AS p_num,
         sum(b.p0 * CAST(c.qty AS DOUBLE)) AS p_den
  FROM pm c JOIN base b ON c.pk = b.pk
  GROUP BY 1
)
SELECT m AS month_idx, n_parts_matched,
       round(l_num / l_den, 6) AS laspeyres,
       round(p_num / p_den, 6) AS paasche,
       round(sqrt((l_num / l_den) * (p_num / p_den)), 6) AS fisher
FROM agg
ORDER BY month_idx
"""


def orders_chain_ladder(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chain-ladder development factors over the cohort revenue
    triangle — the actuarial RESERVING read on the same cohort × age
    frame orders_cohort_ltv exports as curves: the volume-weighted
    age-to-age factor f_k = Σ_c cum_{c,k+1} / Σ_c cum_{c,k} over
    cohorts OBSERVED at both ages (max observable age M − c ≥ k+1,
    M = last calendar month — the run-off-triangle eligibility rule),
    plus the age-to-ultimate completion factor Π_{j≥k} f_j.

    Exactness: the triangle is DENSIFIED on the cohort × age grid
    (calendar²-bounded) with the monotone cumulative carried across
    orderless months by a running max — so factors are ratios of
    exact cent sums, ONE division each, exported unrounded; the
    completion factor chains ln/exp over the ≤|ages| factor frame
    (identical expression both engines) and rounds 6dp.  Plan: one
    first-month agg + join-back (the cohort_ltv shuffle), one grid
    densification against a broadcast cohort list, one cumulative
    window, one per-age combinable reduce — every frame after the
    first shuffle is calendar²-bounded."""
    o = load_table(spark, sf_dir, "orders")
    ym = (F.year("o_orderdate") * 12 + F.month("o_orderdate") - 1).cast(
        "long"
    )
    om = o.select(
        "o_custkey",
        ym.alias("m"),
        F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
    )
    first = om.groupBy("o_custkey").agg(F.min("m").alias("m0"))
    cells = (
        om.join(first, "o_custkey")
        .groupBy(F.col("m0").alias("cohort"), (F.col("m") - F.col("m0")).alias("k"))
        .agg(F.sum("cents").cast("long").alias("rev"))
    )
    mmax = om.agg(F.max("m").alias("mm"))
    cohorts = cells.select("cohort").distinct().crossJoin(F.broadcast(mmax))
    grid = cohorts.select(
        "cohort",
        F.explode(F.sequence(F.lit(0), F.col("mm") - F.col("cohort"))).alias(
            "k"
        ),
        (F.col("mm") - F.col("cohort")).alias("max_age"),
    )
    dense = grid.join(cells, ["cohort", "k"], "left").select(
        "cohort",
        "k",
        "max_age",
        F.coalesce("rev", F.lit(0)).cast("long").alias("rev"),
    )
    wcum = (
        Window.partitionBy("cohort")
        .orderBy("k")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    # persist: cum feeds BOTH sides of the age/age+1 self-join — without
    # it the whole densify+window chain runs twice
    cum = dense.select(
        "cohort", "k", "max_age", F.sum("rev").over(wcum).alias("cum")
    ).persist()
    nxt = cum.select(
        "cohort", (F.col("k") - 1).alias("k"), F.col("cum").alias("cum_next")
    )
    fac = (
        cum.join(nxt, ["cohort", "k"])
        .where(F.col("max_age") >= F.col("k") + 1)
        .groupBy("k")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_cohorts"),
            F.sum("cum").cast("long").alias("den_cents"),
            F.sum("cum_next").cast("long").alias("num_cents"),
        )
        .select(
            "k",
            "n_cohorts",
            "den_cents",
            "num_cents",
            (
                F.col("num_cents").cast("double")
                / F.col("den_cents").cast("double")
            ).alias("factor"),
        )
    )
    wtail = (
        Window.orderBy(F.col("k").desc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        fac.withColumn(
            "to_ultimate",
            F.round(F.exp(F.sum(F.log("factor")).over(wtail)), 6),
        )
        .orderBy("k")
    )


_CHAIN_LADDER_SQL = """
WITH om AS (
  SELECT o_custkey,
         CAST(year(o_orderdate) * 12 + month(o_orderdate) - 1 AS BIGINT)
           AS m,
         CAST(round(o_totalprice * 100) AS BIGINT) AS cents
  FROM orders
), fm AS (
  SELECT o_custkey, min(m) AS m0 FROM om GROUP BY 1
), cells AS (
  SELECT fm.m0 AS cohort, om.m - fm.m0 AS k,
         CAST(sum(om.cents) AS BIGINT) AS rev
  FROM om JOIN fm ON om.o_custkey = fm.o_custkey
  GROUP BY 1, 2
), mm AS (
  SELECT max(m) AS mm FROM om
), grid AS (
  SELECT c.cohort, CAST(gs.k AS BIGINT) AS k, mm.mm - c.cohort AS max_age
  FROM (SELECT DISTINCT cohort FROM cells) c, mm,
       LATERAL (SELECT unnest(generate_series(0, mm.mm - c.cohort)) AS k)
         gs
), dense AS (
  SELECT g.cohort, g.k, g.max_age,
         CAST(coalesce(cells.rev, 0) AS BIGINT) AS rev
  FROM grid g LEFT JOIN cells
    ON cells.cohort = g.cohort AND cells.k = g.k
), cum AS (
  SELECT cohort, k, max_age,
         CAST(sum(rev) OVER (PARTITION BY cohort ORDER BY k
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
           AS cum
  FROM dense
), fac AS (
  SELECT a.k, CAST(count(*) AS BIGINT) AS n_cohorts,
         CAST(sum(a.cum) AS BIGINT) AS den_cents,
         CAST(sum(b.cum) AS BIGINT) AS num_cents
  FROM cum a JOIN cum b ON a.cohort = b.cohort AND b.k = a.k + 1
  WHERE a.max_age >= a.k + 1
  GROUP BY 1
)
SELECT k, n_cohorts, den_cents, num_cents,
       CAST(num_cents AS DOUBLE) / CAST(den_cents AS DOUBLE) AS factor,
       round(exp(sum(ln(CAST(num_cents AS DOUBLE)
                        / CAST(den_cents AS DOUBLE)))
                 OVER (ORDER BY k DESC
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
             6) AS to_ultimate
FROM fac
ORDER BY k
"""


def doc_shingle_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Asymmetric shingle-containment near-duplicate pairs — the
    subset detector the Jaccard family misses: a short document QUOTED
    INSIDE a long one has tiny Jaccard (union is dominated by the long
    doc) but containment |S(A)∩S(B)| / |S(A)| ≈ 1 for the smaller
    shingle set A.  The curation use is exactly that case: embedded
    quotes, boilerplate-wrapped reposts, chunk-of-other-doc leakage
    (the split_leakage_audit sibling at doc granularity).

    Word 3-shingles, DISTINCT per doc; candidates from the
    shared-shingle inverted index (volume Σ_sh df² — the PPJoin
    diversity contract, documented in operators/dedup.py: on
    low-diversity corpora raise shingle_n, never drop high-df
    shingles); containment = ONE exact-integer division (exact at
    any size < 2^53, so both engines rank the identical double —
    no rounding needed), A = the smaller shingle set (doc-id
    tie-break).  Top-20 by (containment desc, doc_a, doc_b).  Plan:
    one tokenization pass, one distinct-shingle shuffle, one
    inverted-index self-join + pair-count agg, one broadcast size
    attach, one WindowGroupLimit top-k."""
    d = load_table(spark, sf_dir, "documents")
    # spread before tokenize+shingle-explode: that per-doc expression work
    # would otherwise run in the unsplittable scan's ONE task (guide §2.5)
    toks = spread_scan(d.select("doc_id", "text"), "doc_id").select(
        "doc_id",
        F.filter(
            F.split(F.lower(F.trim(F.col("text"))), r"\s+"),
            lambda t: t != "",
        ).alias("arr"),
    ).where(F.size("arr") >= 3)
    sh = (
        toks.select(
            "doc_id",
            F.explode(
                F.transform(
                    F.sequence(F.lit(1), F.size("arr") - 2),
                    lambda i: F.concat_ws(
                        " ",
                        F.element_at(F.col("arr"), i),
                        F.element_at(F.col("arr"), i + 1),
                        F.element_at(F.col("arr"), i + 2),
                    ),
                )
            ).alias("s"),
        )
        .distinct()
    )
    sizes = sh.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("long").alias("sz")
    )
    p1 = sh.select(F.col("doc_id").alias("d1"), "s")
    p2 = sh.select(F.col("doc_id").alias("d2"), "s")
    inter = (
        p1.join(p2, "s")
        .where(F.col("d1") < F.col("d2"))
        .groupBy("d1", "d2")
        .agg(F.count(F.lit(1)).cast("long").alias("inter"))
    )
    wd = (
        inter.join(
            F.broadcast(sizes.select(F.col("doc_id").alias("d1"),
                                     F.col("sz").alias("sz1"))),
            "d1",
        )
        .join(
            F.broadcast(sizes.select(F.col("doc_id").alias("d2"),
                                     F.col("sz").alias("sz2"))),
            "d2",
        )
    )
    small_first = F.col("sz1") <= F.col("sz2")
    scored = wd.select(
        F.when(small_first, F.col("d1")).otherwise(F.col("d2")).alias(
            "doc_a"
        ),
        F.when(small_first, F.col("d2")).otherwise(F.col("d1")).alias(
            "doc_b"
        ),
        F.when(small_first, F.col("sz1")).otherwise(F.col("sz2")).alias(
            "size_a"
        ),
        F.when(small_first, F.col("sz2")).otherwise(F.col("sz1")).alias(
            "size_b"
        ),
        F.col("inter").alias("n_shared"),
        (F.col("inter").cast("double")
         / F.when(small_first, F.col("sz1"))
         .otherwise(F.col("sz2")).cast("double")).alias("containment"),
    )
    wtop = Window.orderBy(
        F.col("containment").desc(), F.col("doc_a").asc(), F.col("doc_b").asc()
    )
    return (
        scored.withColumn("rn", F.row_number().over(wtop))
        .where(F.col("rn") <= 20)
        .drop("rn")
        .orderBy(F.col("containment").desc(), "doc_a", "doc_b")
    )


_DOC_CONTAINMENT_SQL = r"""
WITH toks AS (
  SELECT doc_id,
         list_filter(string_split_regex(lower(trim(text)), '\s+'),
                     t -> t <> '') AS arr
  FROM documents
), pos AS (
  SELECT doc_id, arr, CAST(generate_subscripts(arr, 1) AS BIGINT) AS p
  FROM toks WHERE len(arr) >= 3
), sh AS (
  SELECT DISTINCT doc_id,
         arr[p] || ' ' || arr[p + 1] || ' ' || arr[p + 2] AS s
  FROM pos WHERE p <= len(arr) - 2
), sizes AS (
  SELECT doc_id, CAST(count(*) AS BIGINT) AS sz FROM sh GROUP BY 1
), inter AS (
  SELECT a.doc_id AS d1, b.doc_id AS d2,
         CAST(count(*) AS BIGINT) AS inter
  FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
  GROUP BY 1, 2
), scored AS (
  SELECT CASE WHEN s1.sz <= s2.sz THEN d1 ELSE d2 END AS doc_a,
         CASE WHEN s1.sz <= s2.sz THEN d2 ELSE d1 END AS doc_b,
         CASE WHEN s1.sz <= s2.sz THEN s1.sz ELSE s2.sz END AS size_a,
         CASE WHEN s1.sz <= s2.sz THEN s2.sz ELSE s1.sz END AS size_b,
         inter AS n_shared,
         CAST(inter AS DOUBLE)
           / CAST(least(s1.sz, s2.sz) AS DOUBLE) AS containment
  FROM inter
  JOIN sizes s1 ON s1.doc_id = d1
  JOIN sizes s2 ON s2.doc_id = d2
)
SELECT doc_a, doc_b, size_a, size_b, n_shared, containment
FROM (SELECT *, row_number() OVER (ORDER BY containment DESC,
                                   doc_a ASC, doc_b ASC) AS rn
      FROM scored)
WHERE rn <= 20
ORDER BY containment DESC, doc_a, doc_b
"""


def lineitem_weibull_delay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weibull fit of the order→ship delay per order priority via
    median-rank regression — the PARAMETRIC survival companion to
    customer_order_survival (Kaplan-Meier, nonparametric) and
    orders_ship_delay (quantile SLA): plot ln(−ln(1−F_i)) against
    ln(t_i) with Bernard's median-rank positions F_i = (i−0.3)/(n+0.4)
    and read shape k off the OLS slope and scale λ = exp(x̄ − ȳ/k).
    Shape < 1 ⇒ delays front-loaded (infant-mortality shipping),
    > 1 ⇒ wear-out-style queue buildup.

    Positive-lifetime subset (delay ≥ 1 day — the synthetic corpus
    also ships before ordering; those rows are not lifetimes).  Ranks
    are exact (row_number, (delay, orderkey, linenumber) total order;
    tied delays may permute within a block but x is constant there,
    so every OLS moment is assignment-invariant).  Moments are
    order-dependent double sums of engine-identical terms → shape /
    scale / r² round 6dp (the weibull quantities are ln-irrational;
    the granger/welch discipline).  when()-gated for n < 2 or zero
    x-variance.  Plan: one orderkey equi-join, one rank window per
    priority (range-partitioned sort at scale), one combinable
    moment agg over |priorities| groups."""
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    sday = TS.epoch_day("l_shipdate")
    oday = TS.epoch_day("o_orderdate")
    j = (
        li.select(
            "l_orderkey", "l_linenumber", sday.alias("sd")
        )
        .join(
            o.select(
                "o_orderkey",
                "o_orderpriority",
                oday.alias("od"),
            ),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .select(
            "o_orderpriority",
            "l_orderkey",
            "l_linenumber",
            (F.col("sd") - F.col("od")).alias("delay"),
        )
        .where(F.col("delay") >= 1)
    )
    wr = Window.partitionBy("o_orderpriority").orderBy(
        "delay", "l_orderkey", "l_linenumber"
    )
    wn = Window.partitionBy("o_orderpriority")
    ranked = j.select(
        "o_orderpriority",
        "delay",
        F.row_number().over(wr).cast("long").alias("i"),
        F.count(F.lit(1)).over(wn).cast("long").alias("n"),
    )
    x = F.log(F.col("delay").cast("double"))
    fr = (F.col("i").cast("double") - 0.3) / (F.col("n").cast("double") + 0.4)
    yv = F.log(-F.log(1.0 - fr))
    mom = ranked.select("o_orderpriority", "n", x.alias("x"), yv.alias("y")).groupBy(
        "o_orderpriority", "n"
    ).agg(
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).alias("sx2"),
        F.sum(F.col("y") * F.col("y")).alias("sy2"),
    )
    nd = F.col("n").cast("double")
    vxn = nd * F.col("sx2") - F.col("sx") * F.col("sx")
    vyn = nd * F.col("sy2") - F.col("sy") * F.col("sy")
    cvn = nd * F.col("sxy") - F.col("sx") * F.col("sy")
    shape = cvn / vxn
    scale = F.exp(F.col("sx") / nd - (F.col("sy") / nd) / shape)
    ok = (F.col("n") > 1) & (vxn > 0) & (vyn > 0)
    return mom.select(
        "o_orderpriority",
        "n",
        F.when(ok, F.round(shape, 6)).alias("weibull_shape"),
        F.when(ok, F.round(scale, 6)).alias("weibull_scale_days"),
        F.when(ok, F.round(cvn * cvn / (vxn * vyn), 6)).alias("r_squared"),
    ).orderBy("o_orderpriority")


_WEIBULL_DELAY_SQL = """
WITH j AS (
  SELECT o_orderpriority, l_orderkey, l_linenumber,
         CAST(floor(epoch(l_shipdate) / 86400.0) AS BIGINT)
           - CAST(floor(epoch(o_orderdate) / 86400.0) AS BIGINT) AS delay
  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
), pos AS (
  SELECT o_orderpriority, delay,
         CAST(row_number() OVER (PARTITION BY o_orderpriority
              ORDER BY delay, l_orderkey, l_linenumber) AS BIGINT) AS i,
         CAST(count(*) OVER (PARTITION BY o_orderpriority) AS BIGINT) AS n
  FROM j WHERE delay >= 1
), xy AS (
  SELECT o_orderpriority, n,
         ln(CAST(delay AS DOUBLE)) AS x,
         ln(-ln(1.0 - (CAST(i AS DOUBLE) - 0.3)
                      / (CAST(n AS DOUBLE) + 0.4))) AS y
  FROM pos
), mom AS (
  SELECT o_orderpriority, n,
         sum(x) AS sx, sum(y) AS sy, sum(x * y) AS sxy,
         sum(x * x) AS sx2, sum(y * y) AS sy2
  FROM xy GROUP BY 1, 2
)
SELECT o_orderpriority, n,
       CASE WHEN n > 1 AND CAST(n AS DOUBLE) * sx2 - sx * sx > 0
                 AND CAST(n AS DOUBLE) * sy2 - sy * sy > 0 THEN
         round((CAST(n AS DOUBLE) * sxy - sx * sy)
               / (CAST(n AS DOUBLE) * sx2 - sx * sx), 6)
       END AS weibull_shape,
       CASE WHEN n > 1 AND CAST(n AS DOUBLE) * sx2 - sx * sx > 0
                 AND CAST(n AS DOUBLE) * sy2 - sy * sy > 0 THEN
         round(exp(sx / CAST(n AS DOUBLE)
                   - (sy / CAST(n AS DOUBLE))
                     / ((CAST(n AS DOUBLE) * sxy - sx * sy)
                        / (CAST(n AS DOUBLE) * sx2 - sx * sx))), 6)
       END AS weibull_scale_days,
       CASE WHEN n > 1 AND CAST(n AS DOUBLE) * sx2 - sx * sx > 0
                 AND CAST(n AS DOUBLE) * sy2 - sy * sy > 0 THEN
         round((CAST(n AS DOUBLE) * sxy - sx * sy)
               * (CAST(n AS DOUBLE) * sxy - sx * sy)
               / ((CAST(n AS DOUBLE) * sx2 - sx * sx)
                  * (CAST(n AS DOUBLE) * sy2 - sy * sy)), 6)
       END AS r_squared
FROM mom
ORDER BY o_orderpriority
"""


def g13_adamic_adar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Adamic-Adar link prediction on the part co-order graph — the
    PREDICTION task next to the descriptive graph family (g3-g12):
    which non-adjacent part pairs are most likely to be co-ordered
    next, scoring candidate pairs by their common neighbors weighted
    inversely by hub-ness, AA(u,v) = Σ_{w ∈ Γ(u)∩Γ(v)} 1/ln(deg w)?
    Same edge construction as g9_assortativity (parts co-ordered in
    ≥ 2 distinct orders; the brand graph is complete at every scale,
    the part graph is where structure lives).

    A wedge hub w has deg(w) ≥ 2 by construction, so ln(deg w) > 0 —
    no division guard needed.  The score is an order-dependent sum of
    ln-reciprocals → ROUNDED 6dp on both sides and ranked ON the
    rounded value ((u, v) tie-break, the rank-on-rounded rule);
    existing edges are removed by an anti-join before scoring.
    Top-20.  Plan: pair fan-out bounded by lineitems-per-order²
    (≤ 49/order), wedge fan-out Σ_w deg(w)² (the g6 wedge-join bound),
    one broadcast degree attach, one anti-join, one WindowGroupLimit
    top-k."""
    li = load_table(spark, sf_dir, "lineitem")
    cb = li.select(
        F.col("l_orderkey").alias("u"), F.col("l_partkey").alias("b")
    ).distinct()
    a = cb.select("u", F.col("b").alias("src"))
    c = cb.select("u", F.col("b").alias("dst"))
    und = (
        a.join(c, "u")
        .where(F.col("src") < F.col("dst"))
        .groupBy("src", "dst")
        .agg(F.count(F.lit(1)).cast("long").alias("common"))
        .where(F.col("common") >= 2)
        .select("src", "dst")
    )
    # persist: und feeds sym (twice via the union) AND the final
    # anti-join; sym feeds the degree agg and both wedge sides — without
    # the persists the co-order pair fan-out re-runs per consumer
    und = und.persist()
    sym = und.unionByName(
        und.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    ).persist()
    deg = sym.groupBy("src").agg(
        F.count(F.lit(1)).cast("long").alias("degree")
    )
    # attach the hub degree BEFORE the wedge self-join: joining it after
    # processes |wedges| = Σ deg(w)² rows, attaching first touches only
    # |sym| rows (guide §3.3 — join on the small frame, then fan out)
    h1 = sym.join(
        deg, "src"
    ).select(F.col("src").alias("w"), F.col("dst").alias("u2"), "degree")
    h2 = sym.select(F.col("src").alias("w"), F.col("dst").alias("v2"))
    wedges = h1.join(h2, "w").where(F.col("u2") < F.col("v2"))
    cand = (
        wedges.groupBy(F.col("u2").alias("u"), F.col("v2").alias("v"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_common"),
            F.sum(1.0 / F.log(F.col("degree").cast("double"))).alias("aa"),
        )
        .join(
            und.select(F.col("src").alias("u"), F.col("dst").alias("v")),
            ["u", "v"],
            "left_anti",
        )
        .select(
            "u", "v", "n_common", F.round(F.col("aa"), 6).alias("aa_score")
        )
    )
    wtop = Window.orderBy(
        F.col("aa_score").desc(), F.col("u").asc(), F.col("v").asc()
    )
    return (
        cand.withColumn("rn", F.row_number().over(wtop))
        .where(F.col("rn") <= 20)
        .drop("rn")
        .orderBy(F.col("aa_score").desc(), "u", "v")
    )


_ADAMIC_ADAR_SQL = """
WITH cb AS (
  SELECT DISTINCT l_orderkey AS u, l_partkey AS b FROM lineitem
), und AS (
  SELECT a.b AS src, c.b AS dst
  FROM cb a JOIN cb c ON a.u = c.u AND a.b < c.b
  GROUP BY 1, 2 HAVING count(*) >= 2
), sym AS (
  SELECT src, dst FROM und
  UNION ALL
  SELECT dst AS src, src AS dst FROM und
), deg AS (
  SELECT src, CAST(count(*) AS BIGINT) AS degree FROM sym GROUP BY 1
), cand AS (
  SELECT h1.dst AS u, h2.dst AS v,
         CAST(count(*) AS BIGINT) AS n_common,
         round(sum(1.0 / ln(CAST(d.degree AS DOUBLE))), 6) AS aa_score
  FROM sym h1
  JOIN sym h2 ON h1.src = h2.src AND h1.dst < h2.dst
  JOIN deg d ON d.src = h1.src
  GROUP BY 1, 2
), nonedge AS (
  SELECT c.* FROM cand c
  LEFT JOIN und e ON e.src = c.u AND e.dst = c.v
  WHERE e.src IS NULL
)
SELECT u, v, n_common, aa_score
FROM (SELECT *, row_number() OVER (ORDER BY aa_score DESC,
                                   u ASC, v ASC) AS rn
      FROM nonedge)
WHERE rn <= 20
ORDER BY aa_score DESC, u, v
"""


# ---------------------------------------------------------------------------
# registry / driver contract
# ---------------------------------------------------------------------------

# The external correctness gate audits a prefix of the registry's order
# each round and records it as CORRECTNESS_r<N>.json beside this module.
# The order is computed (_audit_order) so the gate sees first what it has
# not yet seen on its current form.  _QUERIES keeps the topic grouping.
_QUERIES: dict[str, tuple[Callable[[SparkSession, str], DataFrame], str | None]] = {
    # r11 additions:
    "evt_tail_dependence": (evt_tail_dependence, _TAIL_DEP_SQL),
    "part_price_index": (part_price_index, _PRICE_INDEX_SQL),
    "orders_chain_ladder": (orders_chain_ladder, _CHAIN_LADDER_SQL),
    "doc_shingle_containment": (
        doc_shingle_containment,
        _DOC_CONTAINMENT_SQL,
    ),
    "lineitem_weibull_delay": (lineitem_weibull_delay, _WEIBULL_DELAY_SQL),
    "g13_adamic_adar": (g13_adamic_adar, _ADAMIC_ADAR_SQL),
    # r10 additions:
    "evt_permutation_entropy": (evt_permutation_entropy, _PERM_ENTROPY_SQL),
    "evt_rqa_determinism": (evt_rqa_determinism, _RQA_SQL),
    "evt_hill_tail_index": (evt_hill_tail_index, _HILL_SQL),
    "evt_haar_energy": (evt_haar_energy, _HAAR_SQL),
    "doc_length_ks_drift": (doc_length_ks_drift, _LENGTH_KS_SQL),
    "evt_type_emd": (evt_type_emd, _TYPE_EMD_SQL),
    "evt_friedman_test": (evt_friedman_test, _FRIEDMAN_SQL),
    "evt_sax_motifs": (evt_sax_motifs, _SAX_MOTIFS_SQL),
    "doc_mattr_diversity": (doc_mattr_diversity, _MATTR_SQL),
    "orders_priority_trend_ca": (orders_priority_trend_ca, _CA_TREND_SQL),
    # r9 additions:
    "evt_icc_day_effect": (evt_icc_day_effect, _ICC_SQL),
    "evt_session_paths": (evt_session_paths, _SESSION_PATHS_SQL),
    "doc_yule_k": (doc_yule_k, _YULE_K_SQL),
    "lineitem_abc_xyz": (lineitem_abc_xyz, _ABC_XYZ_SQL),
    "evt_peak_over_threshold": (evt_peak_over_threshold, _POT_SQL),
    "customer_segment_migration": (
        customer_segment_migration,
        _SEGMENT_MIGRATION_SQL,
    ),
    "doc_source_vocab_jaccard": (
        doc_source_vocab_jaccard,
        _VOCAB_JACCARD_SQL,
    ),
    "evt_granger_lag1": (evt_granger_lag1, _GRANGER_SQL),
    "source_stylometry_delta": (source_stylometry_delta, _STYLOMETRY_SQL),
    "orders_cohort_ltv": (orders_cohort_ltv, _COHORT_LTV_SQL),
    "evt_funnel_conversion": (evt_funnel_conversion, _FUNNEL_CONVERSION_SQL),
    "evt_dau_drawdown": (evt_dau_drawdown, _DAU_DRAWDOWN_SQL),
    "evt_turning_points": (evt_turning_points, _TURNING_POINTS_SQL),
    "evt_records_test": (evt_records_test, _RECORDS_TEST_SQL),
    # r8 third-session additions:
    "evt_welch_ttest": (evt_welch_ttest, _WELCH_SQL),
    "evt_quadratic_trend": (evt_quadratic_trend, _QUAD_TREND_SQL),
    "vocab_chao1_richness": (vocab_chao1_richness, _CHAO1_SQL),
    "doc_source_mi": (doc_source_mi, _SOURCE_MI_SQL),
    "nation_theil_decomposition": (nation_theil_decomposition, _THEIL_SQL),
    "g9_assortativity": (g9_assortativity, _ASSORT_SQL),
    "evt_seasonal_decompose": (evt_seasonal_decompose, _SEASONAL_SQL),
    "evt_cms_audit": (evt_cms_audit, _cms_sql()),
    "doc_readability": (doc_readability, _READABILITY_SQL),
    "evt_pacf_durbin": (evt_pacf_durbin, _PACF_SQL),
    "evt_gumbel_maxima": (evt_gumbel_maxima, _GUMBEL_SQL),
    "g10_closeness": (g10_closeness, _G10_CLOSENESS_SQL),
    "doc_js_divergence": (doc_js_divergence, _JSD_SQL),
    "lineitem_discount_qty_corr": (lineitem_discount_qty_corr, _DISC_QTY_SQL),
    "evt_histogram_quantile_audit": (
        evt_histogram_quantile_audit,
        _HIST_QUANTILE_SQL,
    ),
    "evt_holt_winters": (evt_holt_winters, _holt_winters_sql()),
    "orders_ship_delay": (orders_ship_delay, _SHIP_DELAY_SQL),
    "g11_component_profile": (g11_component_profile, _G11_COMPONENTS_SQL),
    "evt_user_entropy_profile": (evt_user_entropy_profile, _USER_ENTROPY_SQL),
    "evt_circadian_profile": (evt_circadian_profile, _CIRCADIAN_SQL),
    "emb_jl_projection_audit": (emb_jl_projection_audit, _jl_sql()),
    "orders_basket_negbin": (orders_basket_negbin, _NEGBIN_SQL),
    "part_return_wilson": (part_return_wilson, _WILSON_SQL),
    "emb_loo_knn_accuracy": (emb_loo_knn_accuracy, _LOO_KNN_SQL),
    "evt_dau_mau_stickiness": (evt_dau_mau_stickiness, _DAU_MAU_SQL),
    "evt_power_sample_size": (evt_power_sample_size, _POWER_SQL),
    "source_neyman_allocation": (source_neyman_allocation, _NEYMAN_SQL),
    "g12_densification": (g12_densification, _DENSIFICATION_SQL),
    "evt_exponential_gof": (evt_exponential_gof, _EXP_GOF_SQL),
    "evt_binseg_changepoint": (evt_binseg_changepoint, _BINSEG_SQL),
    "evt_spc_individuals": (evt_spc_individuals, _SPC_SQL),
    "evt_arrival_burstiness": (evt_arrival_burstiness, _ARRIVAL_BURSTINESS_SQL),
    "emb_hubness_audit": (emb_hubness_audit, _HUBNESS_SQL),
    "evt_holt_linear": (evt_holt_linear, _HOLT_SQL),
    "g7_hits": (g7_hits, _g7_hits_sql()),
    "evt_ljung_box": (evt_ljung_box, _LJUNG_BOX_SQL),
    "evt_kruskal_dunn": (evt_kruskal_dunn, _KRUSKAL_SQL),
    "evt_isotonic_daily": (evt_isotonic_daily, _ISOTONIC_SQL),
    "copurchase_item_cosine": (copurchase_item_cosine, _COPURCHASE_SQL),
    "evt_runs_test": (evt_runs_test, _RUNS_TEST_SQL),
    "evt_spectral_dft": (evt_spectral_dft, _SPECTRAL_SQL),
    "evt_bh_fdr": (evt_bh_fdr, _BH_FDR_SQL),
    "g6_clustering_coeff": (g6_clustering_coeff, _G6_CLUSTERING_SQL),
    "evt_markov_stationary": (evt_markov_stationary, _markov_stationary_sql()),
    "conformal_interval_audit": (conformal_interval_audit, _conformal_sql),
    "evt_spearman_corr": (evt_spearman_corr, _SPEARMAN_SQL),
    "evt_kendalls_w": (evt_kendalls_w, _KENDALLS_W_SQL),
    "g8_kcore_peel": (g8_kcore_peel, _g8_kcore_sql()),
    "evt_hurst_rs": (evt_hurst_rs, _HURST_SQL),
    "emb_intrinsic_dim": (emb_intrinsic_dim, _INTRINSIC_DIM_SQL),
    "evt_poisson_dispersion": (
        evt_poisson_dispersion,
        _POISSON_DISPERSION_SQL,
    ),
    "text_word_burstiness": (text_word_burstiness, _BURSTINESS_SQL),
    "source_quantile_divergence": (source_quantile_divergence, _QQ_SQL),
    "emb_eigen_spectrum": (emb_eigen_spectrum, _emb_eigen_sql),
    "orders_interpurchase_regularity": (
        orders_interpurchase_regularity,
        _INTERPURCHASE_SQL,
    ),
    "source_diversity_profile": (
        source_diversity_profile,
        _SOURCE_DIVERSITY_SQL,
    ),
    "session_entry_exit": (session_entry_exit, _SESSION_ENTRY_SQL),
    "evt_theil_sen_slope": (evt_theil_sen_slope, _THEIL_SEN_SQL),
    "lineitem_weighted_median": (lineitem_weighted_median, _WEIGHTED_MEDIAN_SQL),
    "evt_proportion_ztest": (evt_proportion_ztest, _PROP_ZTEST_SQL),
    "evt_rolling_median": (evt_rolling_median, _ROLLING_MEDIAN_SQL),
    "orders_backlog_timeline": (orders_backlog_timeline, _BACKLOG_SQL),
    "parts_skyline": (parts_skyline, _SKYLINE_SQL),
    "customer_order_survival": (customer_order_survival, _KM_SURVIVAL_SQL),
    "nation_revenue_hhi": (nation_revenue_hhi, _NATION_HHI_SQL),
    "evt_type_affinity": (evt_type_affinity, _EVT_AFFINITY_SQL),
    "evt_dow_seasonality": (evt_dow_seasonality, _DOW_SEASONALITY_SQL),
    "doc_lang_source_chi2": (doc_lang_source_chi2, _LANG_SOURCE_CHI2_SQL),
    "label_centroid_cosine": (label_centroid_cosine, _LABEL_CENTROID_SQL),
    "evt_ewma_daily": (evt_ewma_daily, _EWMA_SQL),
    "evt_value_auc": (evt_value_auc, _EVT_AUC_SQL),
    "customer_pareto_lorenz": (customer_pareto_lorenz, _PARETO_SQL),
    "corpus_zipf_slope": (corpus_zipf_slope, _ZIPF_SQL),
    "evt_lag_correlation": (evt_lag_correlation, _LAG_CORR_SQL),
    "evt_type_trend_ols": (evt_type_trend_ols, _TREND_OLS_SQL),
    "evt_mann_kendall": (evt_mann_kendall, _MANN_KENDALL_SQL),
    "orders_benford_audit": (orders_benford_audit, _BENFORD_SQL),
    "vocab_growth_heaps": (vocab_growth_heaps, _VOCAB_GROWTH_SQL),
    "doc_bigram_lm": (doc_bigram_lm, _BIGRAM_LM_SQL),
    "split_leakage_audit": (split_leakage_audit, _SPLIT_LEAKAGE_SQL),
    "evt_bitmap_rollup": (evt_bitmap_rollup, _BITMAP_ROLLUP_SQL),
    "nb_lang_confusion": (nb_lang_confusion, _NB_CONFUSION_SQL),
    "customer_rfm_segments": (customer_rfm_segments, _RFM_SQL),
    "doc_ngram_novelty": (doc_ngram_novelty, _ngram_novelty_sql()),
    "source_token_kl": (source_token_kl, _SOURCE_KL_SQL),
    "evt_anomaly_mad": (evt_anomaly_mad, _EVT_MAD_SQL),
    "text_word_entropy": (text_word_entropy, _WORD_ENTROPY_SQL),
    "q6_forecast_revenue": (q6_forecast_revenue, _Q6_SQL),
    "q8_market_share": (q8_market_share, _Q8_SQL),
    "q12_late_shipment_priority": (q12_late_shipment_priority, _Q12_SQL),
    "q14_promo_revenue": (q14_promo_revenue, _Q14_SQL),
    "q13_order_count_distribution": (q13_order_count_distribution, _Q13_SQL),
    "q15_top_supplier": (q15_top_supplier, _Q15_SQL),
    "q16_supplier_variety": (q16_supplier_variety, _Q16_SQL),
    "q19_disjunctive_revenue": (q19_disjunctive_revenue, _Q19_SQL),
    "q21_waiting_suppliers": (q21_waiting_suppliers, _Q21_SQL),
    "q22_idle_balance": (q22_idle_balance, _Q22_SQL),
    "mmr_diverse_topk": (mmr_diverse_topk, _mmr_sql),
    "entity_resolution_clusters": (
        entity_resolution_clusters,
        _ENTITY_CLUSTERS_SQL,
    ),
    "scd2_orders_history": (scd2_orders_history, _SCD2_SQL),
    "g5_triangle_count": (g5_triangle_count, _G5_TRIANGLE_SQL),
    "evt_retention_cohorts": (evt_retention_cohorts, _EVT_RETENTION_SQL),
    "q4_order_priority": (q4_order_priority, _Q4_SQL),
    "q10_returned_items": (q10_returned_items, _Q10_SQL),
    "q17_small_qty_revenue": (q17_small_qty_revenue, _Q17_SQL),
    "q18_large_orders": (q18_large_orders, _Q18_SQL),
    "g3_pagerank": (g3_pagerank, _g3_pagerank_sql()),
    "dedup_keep_best": (dedup_keep_best, _keep_best_sql()),
    "snapshot_diff_orders": (snapshot_diff_orders, _SNAPSHOT_DIFF_SQL),
    "evt_ks_drift": (evt_ks_drift, _KS_DRIFT_SQL),
    "table_profile_orders": (table_profile_orders, _table_profile_sql()),
    "evt_cube": (evt_cube, _EVT_CUBE_SQL),
    "evt_trailing_window": (evt_trailing_window, _EVT_TRAILING_SQL),
    "text_hashing_features": (text_hashing_features, _hashing_features_sql()),
    "j11_anti_join": (j11_anti_join, _J11_ANTI_SQL),
    "basket_brand_rules": (basket_brand_rules, _BASKET_RULES_SQL),
    "a17_ntile_buckets": (a17_ntile_buckets, _A17_NTILE_SQL),
    "evt_winsorized_stats": (evt_winsorized_stats, _WINSOR_SQL),
    "fuzzy_name_pairs": (fuzzy_name_pairs, _FUZZY_NAMES_SQL),
    "zorder_events_audit": (zorder_events_audit, _zorder_sql()),
    "textrank_keywords": (textrank_keywords, _textrank_sql()),
    "evt_ab_bootstrap": (evt_ab_bootstrap, _ab_bootstrap_sql()),
    "g4_shortest_paths": (g4_shortest_paths, _G4_BFS_SQL),
    "evt_time_weighted_avg": (evt_time_weighted_avg, _EVT_TWA_SQL),
    "corpus_heavy_hitters": (corpus_heavy_hitters, _HH_SQL),
    "quality_linear_probe": (quality_linear_probe, _linear_probe_sql),
    "dup_span_coverage": (dup_span_coverage, _dup_span_sql()),
    "text_line_repetition": (text_line_repetition, _LINE_REP_SQL),
    "semantic_dedup": (semantic_dedup, _semantic_dedup_sql),
    "incremental_corpus_dedup": (incremental_corpus_dedup, _incremental_dedup_sql()),
    # late r6 additions:
    "evt_markov_transitions": (evt_markov_transitions, _EVT_MARKOV_SQL),
    "evt_cusum_changepoint": (evt_cusum_changepoint, _EVT_CUSUM_SQL),
    "q2_min_cost_supplier": (q2_min_cost_supplier, _Q2_SQL),
    "q9_product_profit": (q9_product_profit, _Q9_SQL),
    "q11_important_stock": (q11_important_stock, _Q11_SQL),
    "q20_surplus_suppliers": (q20_surplus_suppliers, _Q20_SQL),
    "evt_attribution_linear": (evt_attribution_linear, _EVT_ATTRIBUTION_SQL),
    "evt_user_gini": (evt_user_gini, _EVT_GINI_SQL),
    "j13_lateral_topk": (j13_lateral_topk, _J13_LATERAL_SQL),
    "evt_grouping_sets": (evt_grouping_sets, _EVT_GROUPING_SETS_SQL),
    "a19_percent_rank": (a19_percent_rank, _A19_PERCENT_RANK_SQL),
    "decontaminate_bloom": (decontaminate_bloom, _decon_sql),
    "source_mixture_weights": (source_mixture_weights, _MIXTURE_SQL),
    "boilerplate_strip": (boilerplate_strip, _BOILERPLATE_SQL),
    "mixture_sample_apply": (mixture_sample_apply, _MIXTURE_APPLY_SQL),
    "ep3_label_pipeline": (ep3_label_pipeline, _ep3_pipeline_sql),
    "evt_sketch_audit": (evt_sketch_audit, _SKETCH_SQL),
    "tokenizer_fertility": (tokenizer_fertility, _fertility_sql),
    "q1_pricing_summary": (q1_pricing_summary, _Q1_SQL),
    "a5_two_level": (a5_two_level, _A5_SQL),
    "j3_group_agg_enrichment": (j3_group_agg_enrichment, _J3_SQL),
    "j1_inner_join_agg": (j1_inner_join_agg, _J1_SQL),
    "unpivot_metrics": (unpivot_metrics, _UNPIVOT_SQL),
    "evt_asof_join": (evt_asof_join, _ASOF_SQL),
    "evt_range_join": (evt_range_join, _RANGE_SQL),
    "evt_json_props": (evt_json_props, _EVT_JSON_SQL),
    "o7_interleave": (o7_interleave, _O7_SQL),
    "p_filters": (p_filters, _P_SQL),
    "u_set_ops": (u_set_ops, _U_SQL),
    "w1_w2_proportion": (w1_w2_proportion, _W1_SQL),
    "w3_cumsum": (w3_cumsum, _W3_SQL),
    "w5_dense_numbering": (w5_dense_numbering, _W5_SQL),
    "o5_topk_per_group": (o5_topk_per_group, _O5_SQL),
    "pivot_categories": (pivot_categories, _PIVOT_SQL),
    "a1_a3_counts": (a1_a3_counts, _A1_SQL),
    "a9_value_counts": (a9_value_counts, _A9_SQL),
    "a10_histogram": (a10_histogram, _A10_SQL),
    "a11_a13_buckets_ratio": (a11_a13_buckets_ratio, _A11_SQL),
    "a12_first_per_group": (a12_first_per_group, _A12_SQL),
    "evt_tumbling_window": (evt_tumbling_window, _EVT_WINDOW_SQL),
    "evt_sliding_window": (evt_sliding_window, _EVT_SLIDING_SQL),
    "j2_left_join_flags": (j2_left_join_flags, _J2_SQL),
    "q3_shipping_priority": (q3_shipping_priority, _Q3_SQL),
    "m4_dbscan_stats": (m4_dbscan_stats, _M4_SQL),
    "g1_cooccurrence_edges": (g1_cooccurrence_edges, _G1_SQL),
    "g2_communities": (g2_communities, _g2_sql),
    "ep3_lloyd_audit": (ep3_lloyd_audit, _ep3_lloyd_sql),
    "s1_csv_roundtrip": (s1_csv_roundtrip, _S1_SQL),
    "s2_json_roundtrip": (s2_json_roundtrip, _S2_SQL),
    "s6_excel_roundtrip": (s6_excel_roundtrip, _S6_SQL),
    "s3_orc_roundtrip": (s3_orc_roundtrip, _S3_ORC_SQL),
    "f5_manhattan": (f5_manhattan, _f5_sql),
    "f7_string_caps": (f7_string_caps, _F7_SQL),
    "j5_literal_map": (j5_literal_map, _J5_MAP_SQL),
    "m1_kmeans_clusters": (m1_kmeans_clusters, _m1_sql),
    "m2_silhouette": (m2_silhouette, _M2_SQL),
    "m3_k_sweep": (m3_k_sweep, _m3_sql),
    "m10_pca_variance": (m10_pca_variance, _m10_sql),
    "m11_spectral_embedding": (m11_spectral_embedding, _m11_sql),
    "a16_dict_accum": (a16_dict_accum, _A16_SQL),
    "p8_null_tolerant": (p8_null_tolerant, _P8_SQL),
    "f10_bpe_token_count": (f10_bpe_token_count, _f10_sql),
    "m4_grid_sweep": (m4_grid_sweep, _m4_grid_sql()),
    "skew_salted_join": (skew_salted_join, _SKEW_JOIN_SQL),
    "lsh_banding_audit": (lsh_banding_audit, _LSH_TUNE_SQL),
    "ann_matryoshka_topk": (ann_matryoshka_topk, _ANN_MRL_SQL),
    "text_gopher_repetition": (text_gopher_repetition, _GOPHER_SQL),
    "evt_funnel": (evt_funnel, _FUNNEL_SQL),
    "weighted_sample": (weighted_sample, _WEIGHTED_SQL),
    "ann_recall_audit": (ann_recall_audit, _ivf_recall_sql),
    "evt_psi_drift": (evt_psi_drift, _PSI_SQL),
    "q7_volume_shipping": (q7_volume_shipping, _Q7_SQL),
    "source_overlap_matrix": (source_overlap_matrix, _source_overlap_sql()),
    "text_compression_ratio": (text_compression_ratio, _compression_sql),
    "evt_gap_fill": (evt_gap_fill, _GAP_FILL_SQL),
    "evt_interarrival": (evt_interarrival, _INTERARRIVAL_SQL),
    "a14_percentiles": (a14_percentiles, _A14_SQL),
    "j4_semi_join": (j4_semi_join, _J4_SQL),
    "j5_lookup_chain": (j5_lookup_chain, _J5_SQL),
    "q5_supplier_volume": (q5_supplier_volume, _Q5_SQL),
    "w6_islands": (w6_islands, _W6_SQL),
    "f1_f2_norms": (f1_f2_norms, _F1_SQL),
    "j7_nearest_centroid": (j7_nearest_centroid, _J7_SQL),
    "j9_distance_matrix": (j9_distance_matrix, _J9_SQL),
    "j8_similarity_buckets": (j8_similarity_buckets, _J8_SQL),
    "ann_topk": (ann_topk, _ANN_SQL),
    "ann_topk_batch": (ann_topk_batch, _ANN_BATCH_SQL),
    "ann_ivf_topk": (ann_ivf_topk, _ivf_sql),
    "emb_top_pairs": (emb_top_pairs, _EMB_TOP_SQL),
    "emb_near_dup_blocked": (emb_near_dup_blocked, _emb_blocked_sql()),
    "rp_bucket_hist": (rp_bucket_hist, _rp_sql()),
    "text_quality": (text_quality, _TEXT_QUALITY_SQL),
    "dedup_exact_stats": (dedup_exact_stats, _DEDUP_EXACT_SQL),
    "text_langid": (text_langid, _langid_sql()),
    "doc_quality_filter": (doc_quality_filter, _DOC_FILTER_SQL),
    "minhash_near_dup": (minhash_near_dup, _minhash_sql()),
    "simhash_near_dup": (simhash_near_dup, _simhash_sql()),
    "evt_sessions": (evt_sessions, _EVT_SESSIONS_SQL),
    "minhash_verified_dedup": (minhash_verified_dedup, _minhash_verified_sql()),
    "dedup_canonical_groups": (dedup_canonical_groups, _dedup_canonical_sql),
    "s11_upsert": (s11_upsert, _S11_SQL),
    "prologue_report": (prologue_report, _PROLOGUE_SQL),
    "m6_zscore_outliers": (m6_zscore_outliers, _M6_SQL),
    "m7_percentile_outliers": (m7_percentile_outliers, _M7_SQL),
    "m8_lof_outliers": (m8_lof_outliers, _M8_SQL),
    "m9_mahalanobis_outliers": (m9_mahalanobis_outliers, _m9_sql),
    "mm_asset_features": (mm_asset_features, _MM_SQL),
    "split_assign": (split_assign, _SPLIT_SQL),
    "pack_batches": (pack_batches, _PACK_SQL),
    "decontaminate_overlap": (decontaminate_overlap, _decon_sql),
    "f11_token_budget": (f11_token_budget, _f11_sql),
    "s7_convert_docs": (s7_convert_docs, _S7_SQL),
    "s7_pdf_roundtrip": (s7_pdf_roundtrip, _S7_PDF_SQL),
    "doc_chunking": (doc_chunking, _DOC_CHUNK_SQL),
    "text_repetition": (text_repetition, _TEXT_REPETITION_SQL),
    "evt_rollup": (evt_rollup, _EVT_ROLLUP_SQL),
    "ann_quantized_topk": (ann_quantized_topk, _ANN_QUANT_SQL),
    "ann_pq_topk": (ann_pq_topk, _pq_sql),
    "ann_ivfpq_topk": (ann_ivfpq_topk, _ivfpq_sql),
    "ann_pq_refined_topk": (ann_pq_refined_topk, _pq_refined_sql),
    "ann_ivfpq_refined_topk": (ann_ivfpq_refined_topk, _ivfpq_refined_sql),
    "hybrid_search_rrf": (hybrid_search_rrf, _HYBRID_SQL),
    "doc_winnow_fingerprints": (doc_winnow_fingerprints, _winnow_sql()),
    "ngram_jaccard_dedup": (ngram_jaccard_dedup, _NGRAM_JACCARD_SQL),
    "pii_redaction": (pii_redaction, _PII_SQL),
    "lm_quality_scores": (lm_quality_scores, _LM_SQL),
    "tfidf_keywords": (tfidf_keywords, _TFIDF_SQL),
    "skew_salted_agg": (skew_salted_agg, _SKEW_SQL),
    "curation_pipeline": (curation_pipeline, _CURATION_SQL),
    "dq_constraints": (dq_constraints, _DQ_SQL),
    "stratified_sample": (stratified_sample, _STRAT_SQL),
    "fraction_sample": (fraction_sample, _FRAC_SQL),
}

# Queries whose plan or build changed after the latest audit
# (CORRECTNESS_r12.json); they lead the audit order.  A change that moves
# a query's plan or results adds its name here; a name that is not in
# _QUERIES fails the import.
_CHANGED_SINCE_AUDIT: tuple[str, ...] = (
    # nearest_centroid sorts the fetched centroids on the driver;
    # prologue_report and f1_f2_norms normalize through the one-fold
    # l2_normalize
    "prologue_report",
    "j7_nearest_centroid",
    "ep3_lloyd_audit",
    "f1_f2_norms",
    # vector kernels built as one SQL expression (cosine's try_divide
    # guard, driver-folded query norms)
    "label_centroid_cosine",
    "m9_mahalanobis_outliers",
    "m10_pca_variance",
    "f5_manhattan",
    "emb_jl_projection_audit",
    "m7_percentile_outliers",
    "ann_topk",
    "ann_topk_batch",
    "ann_matryoshka_topk",
    "ann_quantized_topk",
    "ann_recall_audit",
    "hybrid_search_rrf",
    "mmr_diverse_topk",
    "emb_near_dup_blocked",
    # IVF index opened on the driver
    "ann_ivf_topk",
    # the daily grid defined once: timeseries.gap_filled names the spine
    # bounds lo/hi and the filled value x; holt-winters takes hi from its
    # series aggregate, the quadratic trend its day origin from a window
    # min, and kendalls_w's week key derives from epoch_day
    "evt_dau_drawdown",
    "evt_turning_points",
    "evt_peak_over_threshold",
    "evt_holt_winters",
    "evt_quadratic_trend",
    "evt_kendalls_w",
    # oracle text changed: the shared all-pairs distance CTE is
    # MATERIALIZED (DuckDB inlined it at each of its 12 references)
    "m4_grid_sweep",
    # oracle text changed: the neigh CTE is MATERIALIZED (DuckDB inlined
    # it at each of its three references)
    "m4_dbscan_stats",
    # the band explode reads the batch signatures unpersisted
    "incremental_corpus_dedup",
    # built by the streaming window aggregates over the batch table
    "evt_tumbling_window",
    "evt_sliding_window",
)


def _latest_audit() -> dict[str, int]:
    """Query name -> highest N of a CORRECTNESS_r<N>.json holding it."""
    rounds = {
        int(m[1]): path
        for path in Path(__file__).parent.glob("CORRECTNESS_r*.json")
        if (m := re.fullmatch(r"CORRECTNESS_r(\d+)\.json", path.name))
    }
    return {
        name: n
        for n, path in sorted(rounds.items())
        for name in json.loads(path.read_text())
    }


def _audit_order() -> list[str]:
    """The changed queries in their listed order, then every other query
    by its latest audit round, oldest first; a query never audited counts
    as round 0, and ties keep _QUERIES' order."""
    latest = _latest_audit()
    changed = set(_CHANGED_SINCE_AUDIT)
    rest = sorted(
        (name for name in _QUERIES if name not in changed),
        key=lambda name: latest.get(name, 0),
    )
    return [*_CHANGED_SINCE_AUDIT, *rest]


_REGISTRY = {name: _QUERIES[name] for name in _audit_order()}


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001; driver checks rows>0."""
    return q1_pricing_summary(spark, SF0001)


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator from SURVEY.md §2."""
    return {name: fn for name, (fn, _) in _REGISTRY.items()}


def oracle_sql() -> dict[str, str]:
    """DuckDB-equivalent SQL for every SQL-expressible query.

    Data-dependent oracles are stored as generator callables and resolved
    here, so their literals come from the sf the caller will evaluate
    against (see _oracle_sf_dir)."""
    return {
        name: (sql() if callable(sql) else sql)
        for name, (_, sql) in _REGISTRY.items()
        if sql is not None
    }

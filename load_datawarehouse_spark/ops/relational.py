"""Relational operator library (SURVEY.md §2.4 EXT surface).

Each operator is a function ``(spark, sf_dir) -> DataFrame`` registered
in ``QUERIES``; its DuckDB oracle SQL lives in ``ORACLES`` under the
same key. The reference declares but never implements a relational
surface (``query``/``fetch`` stubs, ``bigquery/__init__.py:463-499``);
everything here is the Spark-native realization of that surface.

Scale notes are inline per operator. Common principles:

- CONSTANT-bounded dimensions (region/nation, 1-row gates, fixed
  key domains, literal dims) are force-broadcast via ``bcast_bounded``
  (bound documented at every call site — COVERAGE.md broadcast table);
  sf-proportional dims (customer/supplier/part projections) join BARE
  and rely on AQE's runtime size check, which broadcasts them at bench
  scale and shuffles soundly at 100 TB (round-10 audit).
- Fact-fact joins shuffle on their keys once; AQE handles skew.
- Aggregates are expressed declaratively so Catalyst produces partial
  (map-side) aggregation for free.
- All double aggregates use the exact decimal accumulator from
  ``_util`` — see that module's docstring.
"""

from __future__ import annotations

import os
import sys

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from load_datawarehouse_spark.ops._util import (
    bcast_bounded,
    DEC,
    dec_avg,
    dec_sum,
    dec_sum2,
    lineage_cut,
    lineage_cut_eager,
    on_scratch_dir,
    registrar,
    require_pair_budget,
    sql_dec_avg,
    sql_dec_sum,
    sql_dec_sum2,
)
from load_datawarehouse_spark.session import load_tables

QUERIES: dict = {}
ORACLES: dict = {}
_register = registrar(QUERIES, ORACLES)


# ---------------------------------------------------------------------------
# Flagship scan -> filter -> hash-agg -> sort (TPC-H Q1 shape)
# ---------------------------------------------------------------------------

_Q1_ORACLE = f"""
SELECT l_returnflag, l_linestatus,
       {sql_dec_sum('l_quantity', 'sum_qty')},
       {sql_dec_sum2('l_extendedprice', 'sum_base_price')},
       {sql_dec_sum2('l_extendedprice * (1 - l_discount)', 'sum_disc_price')},
       {sql_dec_sum2('l_extendedprice * (1 - l_discount) * (1 + l_tax)', 'sum_charge')},
       {sql_dec_avg('l_quantity', 'avg_qty')},
       {sql_dec_avg('l_extendedprice', 'avg_price')},
       {sql_dec_avg('l_discount', 'avg_disc')},
       COUNT(*) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
GROUP BY l_returnflag, l_linestatus
ORDER BY l_returnflag, l_linestatus
"""


@_register("q1_pricing_summary", _Q1_ORACLE)
def q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pricing summary report.

    Scale: single scan with the shipdate predicate pushed to parquet,
    map-side partial hash aggregation, tiny (|flags| x |statuses|)
    shuffle. Survives any SF unchanged.
    """
    t = load_tables(spark, sf_dir, register_views=False)
    l = t["lineitem"]
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    charge = disc_price * (1 + F.col("l_tax"))
    return (
        l.filter(F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            dec_sum("l_quantity", "sum_qty"),
            dec_sum2("l_extendedprice", "sum_base_price"),
            dec_sum2(disc_price, "sum_disc_price"),
            dec_sum2(charge, "sum_charge"),
            dec_avg("l_quantity", "avg_qty"),
            dec_avg("l_extendedprice", "avg_price"),
            dec_avg("l_discount", "avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


# ---------------------------------------------------------------------------
# Multi-way joins (TPC-H Q3 / Q5 shapes)
# ---------------------------------------------------------------------------

_Q3_ORACLE = f"""
SELECT l.l_orderkey,
       {sql_dec_sum('l.l_extendedprice * (1 - l.l_discount)', 'revenue')},
       o.o_orderdate, o.o_orderpriority
FROM customer c JOIN orders o ON c.c_custkey = o.o_custkey
JOIN lineitem l ON l.l_orderkey = o.o_orderkey
WHERE c.c_mktsegment = 'BUILDING'
  AND o.o_orderdate < TIMESTAMP '1998-03-15 00:00:00'
  AND l.l_shipdate > TIMESTAMP '1995-03-15 00:00:00'
GROUP BY l.l_orderkey, o.o_orderdate, o.o_orderpriority
ORDER BY revenue DESC, l_orderkey
LIMIT 10
"""


@_register("q3_shipping_priority", _Q3_ORACLE)
def q3_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unshipped-orders revenue top-10.

    Scale: customer filter prunes before the join; orders-lineitem is
    the only big-big join (shuffle on orderkey); final top-10 is a
    TakeOrdered, no global sort.
    """
    t = load_tables(spark, sf_dir, register_views=False)
    c = t["customer"].filter(F.col("c_mktsegment") == "BUILDING")
    o = t["orders"].filter(F.col("o_orderdate") < F.lit("1998-03-15").cast("timestamp"))
    l = t["lineitem"].filter(F.col("l_shipdate") > F.lit("1995-03-15").cast("timestamp"))
    # Pre-aggregate lineitem to one row per orderkey BEFORE joining:
    # shrinks the big join's probe side ~4x and keeps the post-join
    # group-by trivial (orderkey attrs are functionally dependent).
    per_order = l.groupBy("l_orderkey").agg(
        dec_sum(F.col("l_extendedprice") * (1 - F.col("l_discount")), "revenue")
    )
    return (
        # customer is SF-proportional: no forced broadcast (AQE
        # broadcasts the filtered segment while it is actually small,
        # shuffles when it is not)
        o.join(c, o.o_custkey == c.c_custkey)
        .join(per_order, F.col("l_orderkey") == o.o_orderkey)
        .select("l_orderkey", "revenue", "o_orderdate", "o_orderpriority")
        .orderBy(F.desc("revenue"), F.asc("l_orderkey"))
        .limit(10)
    )


_Q5_ORACLE = f"""
SELECT n.n_name,
       {sql_dec_sum('l.l_extendedprice * (1 - l.l_discount)', 'revenue')}
FROM region r
JOIN nation n   ON n.n_regionkey = r.r_regionkey
JOIN customer c ON c.c_nationkey = n.n_nationkey
JOIN orders o   ON o.o_custkey = c.c_custkey
JOIN lineitem l ON l.l_orderkey = o.o_orderkey
JOIN supplier s ON s.s_suppkey = l.l_suppkey AND s.s_nationkey = n.n_nationkey
WHERE r.r_name = 'ASIA'
  AND o.o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
  AND o.o_orderdate <  TIMESTAMP '1997-01-01 00:00:00'
GROUP BY n.n_name
ORDER BY revenue DESC, n_name
"""


@_register("q5_local_supplier_volume", _Q5_ORACLE)
def q5_local_supplier_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Six-way join: local supplier volume per nation.

    Scale: region/nation are forced-broadcast (constant 5/25 rows);
    supplier/customer grow with SF (customer ~SF*150k rows, ~15 GB at
    the 100-TB point), so their joins are left to the planner: at
    small SF AQE converts them to broadcast, at large SF they are
    shuffle joins on their keys. The two fact joins shuffle once
    each on their keys.)
    """
    t = load_tables(spark, sf_dir, register_views=False)
    r = t["region"].filter(F.col("r_name") == "ASIA")
    n = t["nation"]
    o = t["orders"].filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-01-01").cast("timestamp"))
    )
    df = (
        t["customer"]
        .join(bcast_bounded(n.join(bcast_bounded(r, "region: 5 rows"), n.n_regionkey == r.r_regionkey), "nation x region: <= 25 rows"), F.col("c_nationkey") == F.col("n_nationkey"))
        .join(o, F.col("o_custkey") == F.col("c_custkey"))
        .join(t["lineitem"], F.col("l_orderkey") == F.col("o_orderkey"))
        .join(
            # supplier grows with SF — planner's choice, not a hint
            t["supplier"],
            (F.col("s_suppkey") == F.col("l_suppkey"))
            & (F.col("s_nationkey") == F.col("n_nationkey")),
        )
        .groupBy("n_name")
        .agg(dec_sum(F.col("l_extendedprice") * (1 - F.col("l_discount")), "revenue"))
        .orderBy(F.desc("revenue"), F.asc("n_name"))
    )
    return df


_Q6_ORACLE = f"""
SELECT {sql_dec_sum('l_extendedprice * l_discount', 'revenue')},
       COUNT(*) AS n_items
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
  AND l_shipdate <  TIMESTAMP '1997-01-01 00:00:00'
  AND l_discount BETWEEN 0.05 AND 0.07
  AND l_quantity < 24
"""


@_register("q6_forecast_revenue", _Q6_ORACLE)
def q6_forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Forecast-revenue-change (TPC-H Q6 shape): pure scan-filter-agg.

    Scale: all three predicates push to the parquet scan (row-group
    min/max skip most of the file); no shuffle at all — the partial
    sums reduce straight to one row.
    """
    t = load_tables(spark, sf_dir, register_views=False)
    return (
        t["lineitem"]
        .filter(
            (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp"))
            & F.col("l_discount").between(0.05, 0.07)
            & (F.col("l_quantity") < 24)
        )
        .agg(
            dec_sum(F.col("l_extendedprice") * F.col("l_discount"), "revenue"),
            F.count(F.lit(1)).alias("n_items"),
        )
    )


_Q10_ORACLE = f"""
SELECT c.c_custkey, c.c_name, n.n_name,
       {sql_dec_sum('l.l_extendedprice * (1 - l.l_discount)', 'revenue')}
FROM customer c
JOIN nation n ON c.c_nationkey = n.n_nationkey
JOIN orders o ON o.o_custkey = c.c_custkey
JOIN lineitem l ON l.l_orderkey = o.o_orderkey
WHERE o.o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
  AND o.o_orderdate <  TIMESTAMP '1996-07-01 00:00:00'
  AND l.l_returnflag = 'R'
GROUP BY c.c_custkey, c.c_name, n.n_name
ORDER BY revenue DESC, c_custkey
LIMIT 20
"""


@_register("q10_returned_items", _Q10_ORACLE)
def q10_returned_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Returned-item reporting (TPC-H Q10 shape): top 20 customers by
    lost revenue.

    Scale: both date and returnflag predicates push down before the
    joins; orders-lineitem shuffles on orderkey; the nation dim is
    forced-broadcast (25 rows), customer AQE-sized; the final top-20
    is a TakeOrdered (no global sort).
    """
    t = load_tables(spark, sf_dir, register_views=False)
    o = t["orders"].filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1996-07-01").cast("timestamp"))
    )
    l = t["lineitem"].filter(F.col("l_returnflag") == "R")
    return (
        t["customer"]
        .join(bcast_bounded(t["nation"], "nation: 25 rows"), F.col("c_nationkey") == F.col("n_nationkey"))
        .join(o, F.col("o_custkey") == F.col("c_custkey"))
        .join(l, F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy("c_custkey", "c_name", "n_name")
        .agg(dec_sum(F.col("l_extendedprice") * (1 - F.col("l_discount")), "revenue"))
        .orderBy(F.desc("revenue"), F.asc("c_custkey"))
        .limit(20)
    )


# ---------------------------------------------------------------------------
# Join forms: inner / left / right / full / semi / anti / cross / theta
# ---------------------------------------------------------------------------

_JOIN_INNER_ORACLE = f"""
SELECT n.n_name, COUNT(*) AS n_orders, {sql_dec_sum('o.o_totalprice', 'total_value')}
FROM customer c
JOIN nation n ON c.c_nationkey = n.n_nationkey
JOIN orders o ON o.o_custkey = c.c_custkey
GROUP BY n.n_name
ORDER BY n.n_name
"""


@_register("join_inner", _JOIN_INNER_ORACLE)
def join_inner(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inner equi-join; nation broadcast, customer-orders on custkey."""
    t = load_tables(spark, sf_dir, register_views=False)
    return (
        t["customer"]
        .join(bcast_bounded(t["nation"], "nation: 25 rows"), F.col("c_nationkey") == F.col("n_nationkey"))
        .join(t["orders"], F.col("o_custkey") == F.col("c_custkey"))
        .groupBy("n_name")
        .agg(F.count(F.lit(1)).alias("n_orders"), dec_sum("o_totalprice", "total_value"))
        .orderBy("n_name")
    )


_JOIN_LEFT_ORACLE = """
SELECT c.c_mktsegment,
       COUNT(*) AS n_rows,
       COUNT(o.o_orderkey) AS n_matched,
       CAST(SUM(CASE WHEN o.o_orderkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_unmatched
FROM customer c
LEFT JOIN orders o ON o.o_custkey = c.c_custkey
GROUP BY c.c_mktsegment
ORDER BY c.c_mktsegment
"""


@_register("join_left_outer", _JOIN_LEFT_ORACLE)
def join_left_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir, register_views=False)
    return (
        t["customer"]
        .join(t["orders"], F.col("o_custkey") == F.col("c_custkey"), "left")
        .groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.count("o_orderkey").alias("n_matched"),
            F.sum(F.when(F.col("o_orderkey").isNull(), 1).otherwise(0)).alias("n_unmatched"),
        )
        .orderBy("c_mktsegment")
    )


_JOIN_RIGHT_ORACLE = """
SELECT c.c_mktsegment,
       COUNT(*) AS n_rows,
       COUNT(o.o_orderkey) AS n_matched,
       CAST(SUM(CASE WHEN o.o_orderkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_unmatched
FROM orders o
RIGHT JOIN customer c ON c.c_custkey = o.o_custkey
GROUP BY c.c_mktsegment
ORDER BY c.c_mktsegment
"""


@_register("join_right_outer", _JOIN_RIGHT_ORACLE)
def join_right_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Right outer equi-join (orders ⟖ customer), aggregated per
    segment. Mirrors ``join_left_outer``; the preserved side is the
    right (customer), so unmatched customers survive with a NULL
    orders side. Reference query surface: bigquery/__init__.py:463-499.
    Scale: single shuffle on custkey; AQE may convert to broadcast
    when the preserved side is small enough."""
    t = load_tables(spark, sf_dir, register_views=False)
    return (
        t["orders"]
        .join(t["customer"], F.col("c_custkey") == F.col("o_custkey"), "right")
        .groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.count("o_orderkey").alias("n_matched"),
            F.sum(F.when(F.col("o_orderkey").isNull(), 1).otherwise(0)).alias("n_unmatched"),
        )
        .orderBy("c_mktsegment")
    )


_JOIN_FULL_ORACLE = """
SELECT COALESCE(a.k, b.k) AS nationkey,
       COALESCE(a.n_customers, 0) AS n_customers,
       COALESCE(b.n_suppliers, 0) AS n_suppliers
FROM (SELECT c_nationkey AS k, COUNT(*) AS n_customers FROM customer GROUP BY c_nationkey) a
FULL OUTER JOIN (SELECT s_nationkey AS k, COUNT(*) AS n_suppliers FROM supplier GROUP BY s_nationkey) b
ON a.k = b.k
ORDER BY nationkey
"""


@_register("join_full_outer", _JOIN_FULL_ORACLE)
def join_full_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir, register_views=False)
    a = t["customer"].groupBy(F.col("c_nationkey").alias("k")).agg(F.count(F.lit(1)).alias("n_customers"))
    b = t["supplier"].groupBy(F.col("s_nationkey").alias("k")).agg(F.count(F.lit(1)).alias("n_suppliers"))
    return (
        a.join(b, "k", "full_outer")
        .select(
            F.col("k").alias("nationkey"),
            F.coalesce("n_customers", F.lit(0)).alias("n_customers"),
            F.coalesce("n_suppliers", F.lit(0)).alias("n_suppliers"),
        )
        .orderBy("nationkey")
    )


_JOIN_SEMI_ORACLE = """
SELECT c.c_custkey, c.c_name
FROM customer c
WHERE EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 300000)
ORDER BY c.c_custkey
"""


@_register("join_semi", _JOIN_SEMI_ORACLE)
def join_semi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left-semi join (EXISTS). No fact columns ever materialize."""
    t = load_tables(spark, sf_dir, register_views=False)
    big = t["orders"].filter(F.col("o_totalprice") > 300000)
    return (
        t["customer"]
        .join(big, F.col("o_custkey") == F.col("c_custkey"), "left_semi")
        .select("c_custkey", "c_name")
        .orderBy("c_custkey")
    )


_JOIN_ANTI_ORACLE = """
SELECT c.c_custkey, c.c_mktsegment
FROM customer c
WHERE NOT EXISTS (SELECT 1 FROM orders o
                  WHERE o.o_custkey = c.c_custkey
                    AND o.o_orderpriority = '1-URGENT')
ORDER BY c.c_custkey
"""


@_register("join_anti", _JOIN_ANTI_ORACLE)
def join_anti(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left-anti join: customers who never placed an URGENT order.

    Anchor (VERDICT r15 #1): the original "customers with no orders
    at all" predicate is unsatisfiable on the driver corpus (every
    customer has orders at every scale — the generator assigns 10
    orders/customer), so the driver's sf0.01 oracle row was an
    empty-set agreement for 15 rounds. Anti-joining against the
    urgent-priority slice keeps the operator claim (left_anti on the
    order fact) and is populated at every scale (203 rows at sf0.01,
    19,860 at sf1)."""
    t = load_tables(spark, sf_dir, register_views=False)
    return (
        t["customer"]
        .join(
            t["orders"].filter(F.col("o_orderpriority") == "1-URGENT"),
            F.col("o_custkey") == F.col("c_custkey"),
            "left_anti",
        )
        .select("c_custkey", "c_mktsegment")
        .orderBy("c_custkey")
    )


_JOIN_CROSS_ORACLE = """
SELECT r.r_name, n.n_name
FROM region r CROSS JOIN nation n
ORDER BY r.r_name, n.n_name
"""


@_register("join_cross", _JOIN_CROSS_ORACLE)
def join_cross(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross join — only ever dim x dim; broadcast NL at any scale."""
    t = load_tables(spark, sf_dir, register_views=False)
    return (
        t["region"].crossJoin(bcast_bounded(t["nation"], "nation: 25 rows")).select("r_name", "n_name").orderBy("r_name", "n_name")
    )


_JOIN_THETA_ORACLE = """
SELECT n.n_name, COUNT(*) AS n_pairs
FROM supplier s
JOIN customer c ON s.s_nationkey = c.c_nationkey AND s.s_acctbal > c.c_acctbal
JOIN nation n ON n.n_nationkey = s.s_nationkey
GROUP BY n.n_name
ORDER BY n.n_name
"""


def _theta_pair_workload(t) -> int:
    """sum-over-keys n_supplier(k) * n_customer(k) — the exact number
    of (supplier, customer) pairs ``join_theta``'s residual inequality
    must evaluate, measured LINEARLY from two 25-row key histograms.
    Shared by the in-op budget gate and the scale sweep's bound
    (``ops.llm._bound_theta_pairs``) so the two cannot drift."""
    ns = (
        t["supplier"]
        .groupBy(F.col("s_nationkey").alias("k"))
        .agg(F.count(F.lit(1)).alias("n_s"))
    )
    nc = (
        t["customer"]
        .groupBy(F.col("c_nationkey").alias("k"))
        .agg(F.count(F.lit(1)).alias("n_c"))
    )
    row = (
        ns.join(nc, "k")
        .agg(F.sum(F.col("n_s").cast("double") * F.col("n_c")).alias("p"))
        .collect()[0]
    )
    return int(row["p"] or 0)


@_register("join_theta", _JOIN_THETA_ORACLE)
def join_theta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theta join with an equi component — the documented AUDIT SHAPE
    of the theta/range family (plan-locked, see COVERAGE.md
    §Theta/range-join scale contract).

    Spark extracts the equi conjunct (nationkey) as the hash key and
    evaluates the inequality as a residual join condition, so the plan
    is a hash join, never a nested loop. The remaining cost is
    INTRINSIC to the semantics: with a fixed key domain (25 nations)
    the within-key pair evaluation grows quadratically with the data
    (SCALECHECK slope ~8.6 at 10x is that workload term, not an
    engine term). Consumers needing linear scaling route to the
    bucketed equi expansions (``join_range_bands``,
    ``join_range_bucketed``) whose keys grow with the data.

    SCALE CONTRACT: the residual
    inequality must evaluate every within-key (supplier, customer)
    pair — sum-over-keys n_s(k) * n_c(k), work no plan can reduce. As
    with the embedding family, that workload is measured LINEARLY
    first (two 25-row key histograms joined and summed) and an
    over-budget sweep raises ``WarehousePairBudgetExceeded`` naming
    the linear-scaling production paths instead of launching the
    quadratic job (the sf10 sweep measured the wall this guards). The
    budget is the shared ``PAIR_BUDGET`` (``$SPARK_GRAFT_PAIR_BUDGET``,
    0 disables).
    """
    t = load_tables(spark, sf_dir, register_views=False)
    s, c, n = t["supplier"], t["customer"], t["nation"]
    require_pair_budget(
        # keyed on BOTH inputs the histogram reads, so regenerating
        # either table invalidates the memo
        "theta-pair-workload",
        (s, c),
        lambda: _theta_pair_workload(t),
        what="theta-join within-key pair contract (sum n_s(k) * n_c(k))",
        levers=(
            "The equi conjunct's key domain is fixed (25 nations), so "
            "within-key pairs grow quadratically with the data. Either "
            "(a) add a finer equi conjunct so keys grow with the data, "
            "(b) raise the budget explicitly via "
            "$SPARK_GRAFT_PAIR_BUDGET (0 disables) and accept "
            "the quadratic sweep, or (c) use the linear-scaling "
            "production paths: join_range_bands (bucketed literal "
            "bands) or join_range_bucketed (time-bucketed x2 "
            "expansion)."
        ),
    )
    return (
        s.join(c, (s.s_nationkey == c.c_nationkey) & (s.s_acctbal > c.c_acctbal))
        .join(bcast_bounded(n, "nation: 25 rows"), F.col("n_nationkey") == F.col("s_nationkey"))
        .groupBy("n_name")
        .agg(F.count(F.lit(1)).alias("n_pairs"))
        .orderBy("n_name")
    )


_PRICE_BANDS = [
    ("tiny", 0.0, 50_000.0),
    ("small", 50_000.0, 150_000.0),
    ("medium", 150_000.0, 300_000.0),
    ("large", 300_000.0, 1e12),
]

_JOIN_RANGE_ORACLE = f"""
SELECT b.band, COUNT(*) AS n_orders, {sql_dec_sum('o.o_totalprice', 'band_value')}
FROM orders o
JOIN (VALUES {', '.join(f"('{b}', {lo}, {hi})" for b, lo, hi in _PRICE_BANDS)}) AS b(band, lo, hi)
  ON o.o_totalprice >= b.lo AND o.o_totalprice < b.hi
GROUP BY b.band
ORDER BY b.band
"""


@_register("join_range_bands", _JOIN_RANGE_ORACLE)
def join_range_bands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Range (interval containment) join against a literal dimension —
    THE scale path for range joins (plan-locked, see COVERAGE.md
    §Theta/range-join scale contract): each band expands into the
    fixed-width price buckets it covers (driver-side, bounded by
    |bands| x buckets-per-band), the fact side derives one bucket key
    per row, and the join is a broadcast HASH equi join on the bucket
    with the exact range predicate as a residual condition — never a
    nested loop. ``join_theta`` is the documented quadratic-per-key
    audit shape; big-big range joins use the bucketed expansion of
    ``join_range_bucketed`` or the as-of union technique.
    """
    t = load_tables(spark, sf_dir, register_views=False)
    width = 50_000.0
    # open-ended top band: every price >= its lo clamps into one
    # terminal bucket, so the expansion never enumerates to its 1e12 hi
    cap = int(_PRICE_BANDS[-1][1] // width)
    expanded = [
        (band, lo, hi, bkt)
        for band, lo, hi in _PRICE_BANDS
        for bkt in range(int(lo // width), min(int((hi - 1e-9) // width), cap) + 1)
    ]
    bands = spark.createDataFrame(
        expanded, "band string, lo double, hi double, bucket long"
    )
    o = t["orders"].withColumn(
        "bucket", F.least(F.floor(F.col("o_totalprice") / width), F.lit(cap))
    )
    return (
        o.join(
            bcast_bounded(bands, "expanded band table: 7 rows"),
            (o.bucket == bands.bucket)
            & (o.o_totalprice >= F.col("lo"))
            & (o.o_totalprice < F.col("hi")),
        )
        .groupBy("band")
        .agg(F.count(F.lit(1)).alias("n_orders"), dec_sum("o_totalprice", "band_value"))
        .orderBy("band")
    )


_JOIN_ASOF_ORACLE = """
WITH day_orders AS (
    SELECT o_custkey, o_orderdate, MAX(o_totalprice) AS day_max_price
    FROM orders GROUP BY o_custkey, o_orderdate
)
SELECT e.event_id, e.user_id, d.o_orderdate AS asof_orderdate, d.day_max_price
FROM events e
ASOF JOIN day_orders d
  ON e.user_id = d.o_custkey AND e.ts >= d.o_orderdate
ORDER BY e.event_id
"""


@_register("join_asof", _JOIN_ASOF_ORACLE)
def join_asof(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join: latest order state at each event time.

    Implemented with the union + running-last-value technique: tag both
    sides, union, and take ``last(payload) IGNORE NULLS`` over a
    per-user time-ordered window. One shuffle on the key, O(n log n) —
    the scalable pattern for big-big as-of joins (vs. the quadratic
    join-then-rank alternative). Orders are pre-collapsed to one row
    per (custkey, orderdate) so tie-breaking is deterministic.
    """
    t = load_tables(spark, sf_dir, register_views=False)
    day_orders = (
        t["orders"]
        .groupBy(F.col("o_custkey").alias("user_id"), F.col("o_orderdate"))
        .agg(F.max("o_totalprice").alias("day_max_price"))
    )
    o_side = day_orders.select(
        "user_id",
        F.col("o_orderdate").alias("t"),
        F.lit(0).alias("is_event"),
        F.lit(None).cast("long").alias("event_id"),
        F.col("o_orderdate"),
        "day_max_price",
    )
    e_side = t["events"].select(
        "user_id",
        F.col("ts").alias("t"),
        F.lit(1).alias("is_event"),
        "event_id",
        F.lit(None).cast("timestamp").alias("o_orderdate"),
        F.lit(None).cast("double").alias("day_max_price"),
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("t", "is_event")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    merged = o_side.unionByName(e_side).select(
        "event_id",
        "user_id",
        "is_event",
        F.last("o_orderdate", ignorenulls=True).over(w).alias("asof_orderdate"),
        F.last("day_max_price", ignorenulls=True).over(w).alias("day_max_price"),
    )
    return (
        merged.filter((F.col("is_event") == 1) & F.col("asof_orderdate").isNotNull())
        .select("event_id", "user_id", "asof_orderdate", "day_max_price")
        .orderBy("event_id")
    )


# ---------------------------------------------------------------------------
# Aggregation forms
# ---------------------------------------------------------------------------

_AGG_BASIC_ORACLE = f"""
SELECT COUNT(*) AS n_rows,
       {sql_dec_sum('l_quantity', 'total_qty')},
       {sql_dec_avg('l_extendedprice', 'avg_price')},
       MIN(l_extendedprice) AS min_price,
       MAX(l_extendedprice) AS max_price,
       COUNT(DISTINCT l_orderkey) AS n_orders
FROM lineitem
"""


@_register("agg_basic", _AGG_BASIC_ORACLE)
def agg_basic(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir, register_views=False)
    return t["lineitem"].agg(
        F.count(F.lit(1)).alias("n_rows"),
        dec_sum("l_quantity", "total_qty"),
        dec_avg("l_extendedprice", "avg_price"),
        F.min("l_extendedprice").alias("min_price"),
        F.max("l_extendedprice").alias("max_price"),
        F.countDistinct("l_orderkey").alias("n_orders"),
    )


_AGG_GROUPBY_ORACLE = f"""
SELECT l_returnflag, l_linestatus,
       COUNT(*) AS n_rows,
       COUNT(DISTINCT l_suppkey) AS n_suppliers,
       {sql_dec_sum('l_extendedprice', 'sum_price')},
       MIN(l_shipdate) AS first_ship,
       MAX(l_shipdate) AS last_ship
FROM lineitem
GROUP BY l_returnflag, l_linestatus
ORDER BY l_returnflag, l_linestatus
"""


@_register("agg_groupby_distinct", _AGG_GROUPBY_ORACLE)
def agg_groupby_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouped agg with count(distinct) — Spark expands to a two-phase
    aggregate (distinct keys first, then final) automatically."""
    t = load_tables(spark, sf_dir, register_views=False)
    return (
        t["lineitem"]
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.countDistinct("l_suppkey").alias("n_suppliers"),
            dec_sum("l_extendedprice", "sum_price"),
            F.min("l_shipdate").alias("first_ship"),
            F.max("l_shipdate").alias("last_ship"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


_AGG_ROLLUP_ORACLE = """
SELECT COALESCE(o_orderstatus, 'ALL') AS orderstatus,
       COALESCE(o_orderpriority, 'ALL') AS orderpriority,
       GROUPING(o_orderstatus) + 2 * GROUPING(o_orderpriority) AS grouping_id,
       COUNT(*) AS n_orders
FROM orders
GROUP BY ROLLUP (o_orderstatus, o_orderpriority)
ORDER BY grouping_id, orderstatus, orderpriority
"""


@_register("agg_rollup", _AGG_ROLLUP_ORACLE)
def agg_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir, register_views=False)
    return (
        t["orders"]
        .rollup("o_orderstatus", "o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            (F.grouping("o_orderstatus") + 2 * F.grouping("o_orderpriority"))
            .cast("long")
            .alias("grouping_id"),
        )
        .select(
            F.coalesce("o_orderstatus", F.lit("ALL")).alias("orderstatus"),
            F.coalesce("o_orderpriority", F.lit("ALL")).alias("orderpriority"),
            "grouping_id",
            "n_orders",
        )
        .orderBy("grouping_id", "orderstatus", "orderpriority")
    )


_AGG_CUBE_ORACLE = f"""
SELECT COALESCE(l_returnflag, 'ALL') AS returnflag,
       COALESCE(l_linestatus, 'ALL') AS linestatus,
       GROUPING(l_returnflag) + 2 * GROUPING(l_linestatus) AS grouping_id,
       COUNT(*) AS n_rows,
       {sql_dec_sum('l_quantity', 'sum_qty')}
FROM lineitem
GROUP BY CUBE (l_returnflag, l_linestatus)
ORDER BY grouping_id, returnflag, linestatus
"""


@_register("agg_cube", _AGG_CUBE_ORACLE)
def agg_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir, register_views=False)
    return (
        t["lineitem"]
        .cube("l_returnflag", "l_linestatus")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            dec_sum("l_quantity", "sum_qty"),
            (F.grouping("l_returnflag") + 2 * F.grouping("l_linestatus"))
            .cast("long")
            .alias("grouping_id"),
        )
        .select(
            F.coalesce("l_returnflag", F.lit("ALL")).alias("returnflag"),
            F.coalesce("l_linestatus", F.lit("ALL")).alias("linestatus"),
            "grouping_id",
            "n_rows",
            "sum_qty",
        )
        .orderBy("grouping_id", "returnflag", "linestatus")
    )


_AGG_GSETS_SQL = """
SELECT COALESCE(c_mktsegment, 'ALL') AS mktsegment,
       CAST(COALESCE(c_nationkey, -1) AS BIGINT) AS nationkey,
       COUNT(*) AS n_customers
FROM customer
GROUP BY GROUPING SETS ((c_mktsegment), (c_nationkey), ())
ORDER BY mktsegment, nationkey
"""


@_register("agg_grouping_sets", _AGG_GSETS_SQL)
def agg_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouping sets via Spark SQL (same text runs on both engines)."""
    load_tables(spark, sf_dir, register_views=True)
    return spark.sql(_AGG_GSETS_SQL)


_AGG_APPROX_ORACLE = """
SELECT CAST(COUNT(DISTINCT l_orderkey) AS BIGINT) AS exact_orders,
       CAST(COUNT(DISTINCT l_partkey) AS BIGINT) AS exact_parts,
       TRUE AS orders_ok,
       TRUE AS parts_ok
FROM lineitem
"""

#: HLL++ relative standard deviation used below; the within-tolerance
#: flags assert |estimate - exact| <= 3*rsd*exact (≈99.7% confidence).
_HLL_RSD = 0.01


@_register("agg_approx_count_distinct", _AGG_APPROX_ORACLE)
def agg_approx_count_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HyperLogLog++ distinct estimate, made oracle-checkable.

    Raw HLL estimates can't hash-match an exact oracle (estimator
    internals differ across engines by design), so the query emits the
    exact distinct counts plus boolean flags asserting the estimate is
    within 3*rsd of exact — the oracle's flags are literal TRUE, so a
    drifting estimator fails the driver hash instead of hiding behind
    a rows-only check."""
    t = load_tables(spark, sf_dir, register_views=False)
    tol = 3 * _HLL_RSD
    agg = t["lineitem"].agg(
        F.countDistinct("l_orderkey").alias("exact_orders"),
        F.countDistinct("l_partkey").alias("exact_parts"),
        F.approx_count_distinct("l_orderkey", _HLL_RSD).alias("approx_orders"),
        F.approx_count_distinct("l_partkey", _HLL_RSD).alias("approx_parts"),
    )
    return agg.select(
        "exact_orders",
        "exact_parts",
        (
            F.abs(F.col("approx_orders") - F.col("exact_orders"))
            <= tol * F.col("exact_orders")
        ).alias("orders_ok"),
        (
            F.abs(F.col("approx_parts") - F.col("exact_parts"))
            <= tol * F.col("exact_parts")
        ).alias("parts_ok"),
    )


_AGG_APPROX_PCTL_ORACLE = """
SELECT l_returnflag,
       ROUND(quantile_cont(CAST(l_quantity AS DOUBLE), 0.50), 6) AS exact_p50,
       ROUND(quantile_cont(CAST(l_quantity AS DOUBLE), 0.95), 6) AS exact_p95,
       TRUE AS p50_ok,
       TRUE AS p95_ok
FROM lineitem
GROUP BY l_returnflag
ORDER BY l_returnflag
"""


@_register("agg_approx_percentile", _AGG_APPROX_PCTL_ORACLE)
def agg_approx_percentile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate percentiles (Greenwald-Khanna sketch), made
    oracle-checkable the same way as the HLL op: emit the EXACT
    interpolated percentiles (Spark ``percentile`` == DuckDB
    ``quantile_cont``) plus booleans asserting the sketch estimate
    lies between the exact values at p±0.02 rank — the oracle's flags
    are literal TRUE. At scale only the sketch runs (mergeable, one
    pass); the exact percentile here is the certificate, not the
    production path."""
    t = load_tables(spark, sf_dir, register_views=False)
    q = F.col("l_quantity").cast("double")
    agg = t["lineitem"].groupBy("l_returnflag").agg(
        F.expr("percentile(CAST(l_quantity AS DOUBLE), 0.50)").alias("exact_p50_raw"),
        F.expr("percentile(CAST(l_quantity AS DOUBLE), 0.95)").alias("exact_p95_raw"),
        F.expr("percentile(CAST(l_quantity AS DOUBLE), 0.48)").alias("lo50"),
        F.expr("percentile(CAST(l_quantity AS DOUBLE), 0.52)").alias("hi50"),
        F.expr("percentile(CAST(l_quantity AS DOUBLE), 0.93)").alias("lo95"),
        F.expr("percentile(CAST(l_quantity AS DOUBLE), 0.97)").alias("hi95"),
        F.percentile_approx(q, 0.50, 10000).alias("approx_p50"),
        F.percentile_approx(q, 0.95, 10000).alias("approx_p95"),
    )
    return agg.select(
        "l_returnflag",
        F.round("exact_p50_raw", 6).alias("exact_p50"),
        F.round("exact_p95_raw", 6).alias("exact_p95"),
        (
            (F.col("approx_p50") >= F.col("lo50")) & (F.col("approx_p50") <= F.col("hi50"))
        ).alias("p50_ok"),
        (
            (F.col("approx_p95") >= F.col("lo95")) & (F.col("approx_p95") <= F.col("hi95"))
        ).alias("p95_ok"),
    ).orderBy("l_returnflag")


# ---------------------------------------------------------------------------
# Set operations
# ---------------------------------------------------------------------------

_SETOP_UNION_ORACLE = """
SELECT k, COUNT(*) AS n FROM (
    SELECT c_nationkey AS k FROM customer
    UNION ALL
    SELECT s_nationkey AS k FROM supplier
) GROUP BY k ORDER BY k
"""


@_register("setop_union_all", _SETOP_UNION_ORACLE)
def setop_union_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir, register_views=False)
    u = t["customer"].select(F.col("c_nationkey").alias("k")).unionByName(
        t["supplier"].select(F.col("s_nationkey").alias("k"))
    )
    return u.groupBy("k").agg(F.count(F.lit(1)).alias("n")).orderBy("k")


_SETOP_INTERSECT_ORACLE = """
SELECT o_custkey AS custkey FROM orders WHERE o_totalprice > 200000
INTERSECT
SELECT o_custkey FROM orders WHERE o_orderstatus = 'F'
ORDER BY custkey
"""


@_register("setop_intersect", _SETOP_INTERSECT_ORACLE)
def setop_intersect(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir, register_views=False)
    a = t["orders"].filter(F.col("o_totalprice") > 200000).select(F.col("o_custkey").alias("custkey"))
    b = t["orders"].filter(F.col("o_orderstatus") == "F").select(F.col("o_custkey").alias("custkey"))
    return a.intersect(b).orderBy("custkey")


_SETOP_EXCEPT_ORACLE = """
SELECT o_custkey AS custkey FROM orders WHERE o_orderstatus = 'O'
EXCEPT
SELECT o_custkey FROM orders WHERE o_orderstatus = 'F'
ORDER BY custkey
"""


@_register("setop_except", _SETOP_EXCEPT_ORACLE)
def setop_except(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXCEPT: customers with open orders but no finished ones.

    Anchor (VERDICT r15 #1): the original "customer keys EXCEPT order
    keys" is the empty set at every scale (every customer has orders
    by generator design), so the driver's sf0.01 row proved only
    empty-set agreement. Differencing the open-status key set against
    the finished-status key set keeps the set-operator claim and is
    populated at every scale (68 rows at sf0.01, 4,920 at sf1).

    Both key sets now carry duplicates (multiple orders per customer),
    so SQL EXCEPT's distinct semantics matter: ``subtract`` IS Spark's
    EXCEPT DISTINCT, while ``exceptAll`` on the raw streams would keep
    a customer whose open-order count merely exceeds their
    finished-order count. The multiset flavor lives in
    ``setop_except_all``."""
    t = load_tables(spark, sf_dir, register_views=False)
    a = t["orders"].filter(F.col("o_orderstatus") == "O").select(F.col("o_custkey").alias("custkey"))
    b = t["orders"].filter(F.col("o_orderstatus") == "F").select(F.col("o_custkey").alias("custkey"))
    return a.subtract(b).orderBy("custkey")


_SETOP_DISTINCT_ORACLE = """
SELECT DISTINCT o_orderstatus, o_orderpriority
FROM orders
ORDER BY o_orderstatus, o_orderpriority
"""


@_register("setop_distinct", _SETOP_DISTINCT_ORACLE)
def setop_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir, register_views=False)
    return t["orders"].select("o_orderstatus", "o_orderpriority").distinct().orderBy(
        "o_orderstatus", "o_orderpriority"
    )


# ---------------------------------------------------------------------------
# Scalar expression families
# ---------------------------------------------------------------------------

_SCALAR_STRING_ORACLE = """
SELECT p_partkey,
       LOWER(p_name) AS lower_name,
       UPPER(p_brand) AS upper_brand,
       SUBSTR(p_type, 1, 5) AS type_prefix,
       LENGTH(p_name) AS name_len,
       CONCAT(p_brand, ':', p_type) AS brand_type,
       REPLACE(p_name, ' ', '_') AS snake_name,
       CASE WHEN p_name LIKE '%red%' THEN 1 ELSE 0 END AS is_red
FROM part
ORDER BY p_partkey
"""


@_register("scalar_string", _SCALAR_STRING_ORACLE)
def scalar_string(spark: SparkSession, sf_dir: str) -> DataFrame:
    """String function family — all JVM built-ins, stay in codegen."""
    t = load_tables(spark, sf_dir, register_views=False)
    return (
        t["part"]
        .select(
            "p_partkey",
            F.lower("p_name").alias("lower_name"),
            F.upper("p_brand").alias("upper_brand"),
            F.substring("p_type", 1, 5).alias("type_prefix"),
            F.length("p_name").cast("long").alias("name_len"),
            F.concat_ws(":", "p_brand", "p_type").alias("brand_type"),
            F.regexp_replace("p_name", " ", "_").alias("snake_name"),
            # round-14 label census: the corpus color vocabulary is
            # {small,hot,red,blue,large,old,cold,new} — 'green' never
            # occurs at any scale, so the old is_green branch was
            # vacuous; 'red' fires on ~13% of parts
            F.when(F.col("p_name").contains("red"), 1).otherwise(0).alias("is_red"),
        )
        .orderBy("p_partkey")
    )


_SCALAR_DATE_ORACLE = """
SELECT o_orderkey,
       CAST(YEAR(o_orderdate) AS BIGINT) AS order_year,
       CAST(MONTH(o_orderdate) AS BIGINT) AS order_month,
       CAST(DAYOFMONTH(o_orderdate) AS BIGINT) AS order_day,
       CAST(QUARTER(o_orderdate) AS BIGINT) AS order_quarter,
       DATE_TRUNC('month', o_orderdate) AS month_start,
       CAST(DATEDIFF('day', TIMESTAMP '1995-01-01 00:00:00', o_orderdate) AS BIGINT) AS days_since_epoch_start
FROM orders
ORDER BY o_orderkey
"""


@_register("scalar_date", _SCALAR_DATE_ORACLE)
def scalar_date(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir, register_views=False)
    return (
        t["orders"]
        .select(
            "o_orderkey",
            F.year("o_orderdate").cast("long").alias("order_year"),
            F.month("o_orderdate").cast("long").alias("order_month"),
            F.dayofmonth("o_orderdate").cast("long").alias("order_day"),
            F.quarter("o_orderdate").cast("long").alias("order_quarter"),
            F.date_trunc("month", "o_orderdate").alias("month_start"),
            F.datediff(F.col("o_orderdate").cast("date"), F.lit("1995-01-01").cast("date"))
            .cast("long")
            .alias("days_since_epoch_start"),
        )
        .orderBy("o_orderkey")
    )


_SCALAR_MATH_ORACLE = """
SELECT l_orderkey, l_linenumber,
       ABS(l_extendedprice - 50000.0) AS abs_dev,
       CAST(ROUND(CAST(l_extendedprice AS DECIMAL(18,2))
                  * CAST(l_discount AS DECIMAL(18,2)), 2) AS DOUBLE) AS discount_amt,
       CAST(FLOOR(l_quantity) AS BIGINT) AS qty_floor,
       CAST(CEIL(l_quantity / 10.0) AS BIGINT) AS qty_decile,
       SQRT(l_extendedprice) AS price_sqrt,
       CAST(l_partkey % 16 AS BIGINT) AS part_bucket
FROM lineitem
WHERE l_linenumber = 1
ORDER BY l_orderkey
"""


@_register("scalar_math", _SCALAR_MATH_ORACLE)
def scalar_math(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Math family. sqrt/abs/floor are IEEE-exact and engine-
    independent (transcendentals like ln/exp are NOT and are excluded
    from oracle-checked outputs). ROUND on raw doubles is engine-
    dependent at .xx5 boundaries (Spark rounds the shortest decimal
    string HALF_UP; DuckDB rounds the binary value), so the rounded
    term is computed in exact DECIMAL(18,2) arithmetic on both sides —
    the source columns carry 2-decimal values, making the double->
    decimal cast unambiguous in both engines."""
    t = load_tables(spark, sf_dir, register_views=False)
    return (
        t["lineitem"]
        .filter(F.col("l_linenumber") == 1)
        .select(
            "l_orderkey",
            "l_linenumber",
            F.abs(F.col("l_extendedprice") - 50000.0).alias("abs_dev"),
            F.round(
                F.col("l_extendedprice").cast("decimal(18,2)")
                * F.col("l_discount").cast("decimal(18,2)"),
                2,
            )
            .cast("double")
            .alias("discount_amt"),
            F.floor("l_quantity").cast("long").alias("qty_floor"),
            F.ceil(F.col("l_quantity") / 10.0).cast("long").alias("qty_decile"),
            F.sqrt("l_extendedprice").alias("price_sqrt"),
            (F.col("l_partkey") % 16).cast("long").alias("part_bucket"),
        )
        .orderBy("l_orderkey")
    )


_SCALAR_CASE_ORACLE = f"""
SELECT CASE WHEN o_totalprice < 50000 THEN 'low'
            WHEN o_totalprice < 200000 THEN 'mid'
            ELSE 'high' END AS price_tier,
       o_orderstatus,
       COUNT(*) AS n_orders,
       {sql_dec_sum('o_totalprice', 'tier_value')}
FROM orders
GROUP BY 1, 2
ORDER BY price_tier, o_orderstatus
"""


@_register("scalar_case_when", _SCALAR_CASE_ORACLE)
def scalar_case_when(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir, register_views=False)
    tier = (
        F.when(F.col("o_totalprice") < 50000, "low")
        .when(F.col("o_totalprice") < 200000, "mid")
        .otherwise("high")
        .alias("price_tier")
    )
    return (
        t["orders"]
        .groupBy(tier, "o_orderstatus")
        .agg(F.count(F.lit(1)).alias("n_orders"), dec_sum("o_totalprice", "tier_value"))
        .orderBy("price_tier", "o_orderstatus")
    )


_JSON_ORACLE = """
SELECT event_type,
       COUNT(*) AS n_events,
       CAST(SUM(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
       MIN(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS min_k,
       MAX(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS max_k
FROM events
GROUP BY event_type
ORDER BY event_type
"""


@_register("json_extract_props", _JSON_ORACLE)
def json_extract_props(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON path extraction over the events.props JSON-string column."""
    t = load_tables(spark, sf_dir, register_views=False)
    k = F.get_json_object("props", "$.k").cast("long")
    return (
        t["events"]
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(k).alias("sum_k"),
            F.min(k).alias("min_k"),
            F.max(k).alias("max_k"),
        )
        .orderBy("event_type")
    )


# ---------------------------------------------------------------------------
# Top-k
# ---------------------------------------------------------------------------

_TOPK_GLOBAL_ORACLE = """
SELECT o_orderkey, o_custkey, o_totalprice
FROM orders
ORDER BY o_totalprice DESC, o_orderkey
LIMIT 20
"""


@_register("topk_global", _TOPK_GLOBAL_ORACLE)
def topk_global(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global top-k: orderBy+limit compiles to TakeOrderedAndProject —
    per-partition heaps, no global sort. Tie-broken by orderkey so the
    result set is deterministic."""
    t = load_tables(spark, sf_dir, register_views=False)
    return (
        t["orders"]
        .select("o_orderkey", "o_custkey", "o_totalprice")
        .orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
        .limit(20)
    )


_TOPK_PERGROUP_ORACLE = """
SELECT * FROM (
    SELECT c.c_mktsegment, o.o_orderkey, o.o_totalprice,
           ROW_NUMBER() OVER (PARTITION BY c.c_mktsegment
                              ORDER BY o.o_totalprice DESC, o.o_orderkey) AS rn
    FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
) WHERE rn <= 3
ORDER BY c_mktsegment, rn
"""


@_register("topk_per_group", _TOPK_PERGROUP_ORACLE)
def topk_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group top-k via ranking window; single shuffle on the group
    key, rank filter applied before any further processing."""
    t = load_tables(spark, sf_dir, register_views=False)
    joined = t["orders"].join(t["customer"], F.col("c_custkey") == F.col("o_custkey"))
    w = Window.partitionBy("c_mktsegment").orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
    return (
        joined.select(
            "c_mktsegment",
            "o_orderkey",
            "o_totalprice",
            F.row_number().over(w).cast("long").alias("rn"),
        )
        .filter(F.col("rn") <= 3)
        .orderBy("c_mktsegment", "rn")
    )


# ---------------------------------------------------------------------------
# Percentiles (exact), pivot / unpivot, array function family
# ---------------------------------------------------------------------------

_PCTL_ORACLE = """
SELECT l_returnflag,
       quantile_cont(l_quantity, 0.25) AS p25,
       quantile_cont(l_quantity, 0.50) AS p50,
       quantile_cont(l_quantity, 0.75) AS p75,
       MAX(l_quantity) AS qmax
FROM lineitem
GROUP BY l_returnflag
ORDER BY l_returnflag
"""


@_register("agg_percentiles", _PCTL_ORACLE)
def agg_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact percentiles per group (Spark ``percentile`` == DuckDB
    ``quantile_cont``: both linear-interpolate at rank p*(n-1); the
    inputs are whole numbers and quarter fractions, so the arithmetic
    is float-exact on both engines).

    Scale: exact percentile buffers every group value — fine for
    bounded groups; at 100 TB switch to ``approx_percentile`` (t-digest
    sketch, mergeable map-side, no buffering) and drop the oracle to a
    tolerance check."""
    t = load_tables(spark, sf_dir, register_views=False)
    return (
        t["lineitem"]
        .groupBy("l_returnflag")
        .agg(
            F.expr("percentile(l_quantity, 0.25)").alias("p25"),
            F.expr("percentile(l_quantity, 0.50)").alias("p50"),
            F.expr("percentile(l_quantity, 0.75)").alias("p75"),
            F.max("l_quantity").alias("qmax"),
        )
        .orderBy("l_returnflag")
    )


_PIVOT_ORACLE = """
SELECT o_orderpriority,
       COUNT(CASE WHEN o_orderstatus = 'F' THEN 1 END) AS status_F,
       COUNT(CASE WHEN o_orderstatus = 'O' THEN 1 END) AS status_O,
       COUNT(CASE WHEN o_orderstatus = 'P' THEN 1 END) AS status_P
FROM orders
GROUP BY o_orderpriority
ORDER BY o_orderpriority
"""


@_register("pivot_wide", _PIVOT_ORACLE)
def pivot_wide(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot to wide form: order counts by priority x status.

    The pivot values are declared explicitly — omitting them makes
    Spark run a distinct-scan first AND makes the output schema
    data-dependent, both wrong at scale."""
    t = load_tables(spark, sf_dir, register_views=False)
    p = (
        t["orders"]
        .groupBy("o_orderpriority")
        .pivot("o_orderstatus", ["F", "O", "P"])
        .count()
    )
    return p.select(
        "o_orderpriority",
        *[F.coalesce(F.col(s), F.lit(0)).alias(f"status_{s}") for s in ("F", "O", "P")],
    ).orderBy("o_orderpriority")


_UNPIVOT_ORACLE = """
SELECT l_orderkey, l_linenumber, measure, value FROM (
    SELECT l_orderkey, l_linenumber, 'quantity' AS measure, l_quantity AS value FROM lineitem
    UNION ALL
    SELECT l_orderkey, l_linenumber, 'discount', l_discount FROM lineitem
    UNION ALL
    SELECT l_orderkey, l_linenumber, 'tax', l_tax FROM lineitem
)
WHERE l_orderkey < 100
ORDER BY l_orderkey, l_linenumber, measure
"""


@_register("unpivot_long", _UNPIVOT_ORACLE)
def unpivot_long(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unpivot (melt) to long form — native ``DataFrame.unpivot``
    (Spark >= 3.4), a narrow row-generating operator (no shuffle)."""
    t = load_tables(spark, sf_dir, register_views=False)
    return (
        t["lineitem"]
        .filter(F.col("l_orderkey") < 100)
        .unpivot(
            ids=["l_orderkey", "l_linenumber"],
            values=["l_quantity", "l_discount", "l_tax"],
            variableColumnName="measure",
            valueColumnName="value",
        )
        .withColumn("measure", F.regexp_replace("measure", "^l_", ""))
        .orderBy("l_orderkey", "l_linenumber", "measure")
    )


_ARRAY_FNS_ORACLE = """
SELECT doc_id,
       len(list_distinct(string_split(text, ' '))) AS n_distinct_words,
       list_sort(string_split(text, ' '))[1] AS first_sorted,
       array_to_string(list_sort(string_split(text, ' '))[1:3], ',') AS top3_sorted,
       list_contains(string_split(text, ' '), 'the') AS has_the,
       len(string_split(text, ' ')) AS n_words
FROM documents
ORDER BY doc_id
"""


@_register("scalar_array", _ARRAY_FNS_ORACLE)
def scalar_array(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Array function family over per-document word arrays:
    distinct / sort / slice / contains / size — all codegen'd
    higher-order built-ins, no shuffle, no UDF."""
    t = load_tables(spark, sf_dir, register_views=False)
    words = F.split("text", " ", -1)
    sorted_words = F.array_sort(words)
    return (
        t["documents"]
        .select(
            "doc_id",
            F.size(F.array_distinct(words)).cast("long").alias("n_distinct_words"),
            F.element_at(sorted_words, 1).alias("first_sorted"),
            F.array_join(F.slice(sorted_words, 1, 3), ",").alias("top3_sorted"),
            F.array_contains(words, "the").alias("has_the"),
            F.size(words).cast("long").alias("n_words"),
        )
        .orderBy("doc_id")
    )


# ---------------------------------------------------------------------------
# Skew mitigation: salted join
# ---------------------------------------------------------------------------

_SALT_K = 8

_SALTED_ORACLE = f"""
SELECT o.o_orderpriority,
       COUNT(*) AS n_lines,
       {sql_dec_sum('l.l_extendedprice', 'total_price')}
FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
GROUP BY o.o_orderpriority
ORDER BY o.o_orderpriority
"""


@_register("join_skew_salted", _SALTED_ORACLE)
def join_skew_salted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-join with manual key salting (K=8).

    The build side is replicated K times with an explicit salt column;
    each probe row picks ONE deterministic salt (hash of non-key
    columns mod K), so every probe row still matches exactly one
    replica and the result equals the plain join — but a hot key's
    probe rows now spread across K shuffle partitions instead of one.

    Scale: this is the manual fallback for skew that AQE's runtime
    skew-join splitting can't reach (streaming joins, non-shuffle
    stages, engines without AQE). Cost: K-fold replication of the
    build side — only salt genuinely hot keys in production (filter
    the build replication to the hot-key set).
    """
    t = load_tables(spark, sf_dir, register_views=False)
    o_salted = t["orders"].select(
        "o_orderkey",
        "o_orderpriority",
        F.explode(F.sequence(F.lit(0), F.lit(_SALT_K - 1))).alias("salt"),
    )
    l_salted = t["lineitem"].select(
        "l_orderkey",
        "l_extendedprice",
        F.pmod(F.xxhash64("l_linenumber", "l_partkey"), F.lit(_SALT_K)).alias("salt"),
    )
    return (
        o_salted.join(
            l_salted,
            (F.col("l_orderkey") == F.col("o_orderkey")) & (o_salted.salt == l_salted.salt),
        )
        .groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_lines"),
            dec_sum("l_extendedprice", "total_price"),
        )
        .orderBy("o_orderpriority")
    )


# ---------------------------------------------------------------------------
# Big-big range join via bucketed expansion (SURVEY §7.5; PAPERS.md
# "A Scalable and Generic Approach to Range Joins", VLDB 2022)
# ---------------------------------------------------------------------------

_RANGE_BUCKET_SECONDS = 24 * 3600  # bucket width == interval length

_RANGE_BUCKETED_ORACLE = """
SELECT a.event_type,
       COUNT(*) AS n_pairs,
       COUNT(DISTINCT a.event_id) AS n_events_matched
FROM events a JOIN events b
  ON a.user_id = b.user_id
 AND b.ts >  a.ts
 AND b.ts <= a.ts + INTERVAL 24 HOUR
GROUP BY a.event_type
ORDER BY a.event_type
"""


@_register("join_range_bucketed", _RANGE_BUCKETED_ORACLE)
def join_range_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Big-big interval SELF-join (per-user follow-up events strictly
    within 24 h after each event — the session-stitch / attribution-
    window primitive) executed as an EQUI-join on (key, time-bucket).

    Each 24 h look-ahead interval spans at most 2 day-buckets (bucket
    width == interval length), so the anchor side is expanded x2 with
    the bucket id, joined equi on (user_id, bucket), and the exact
    range predicate is applied post-join. This turns what Spark would
    otherwise plan as a quadratic broadcast-nested-loop join into one
    hash shuffle with ~2x expansion — the standard scalable range-join
    technique (VLDB 2022); plan-asserted BNLJ-free in tests.

    Round 14 re-anchor: the old orders->events shape was VACUOUS on
    this corpus (events are 2024-01, orders 1995-2001 — the interval
    predicate can never hold), so its green oracle hash-matches only
    ever proved the empty set. events x events is same-era by
    construction: measured 21,982 matched pairs at sf0.01. Pair count
    stays ~linear in the corpus because the 24 h window bounds
    follow-ups per anchor by the per-user daily rate, which is
    scale-invariant in this corpus (users grow with sf, per-user
    activity does not).

    Second-decade evidence (round 15, SCALECHECK10): sf1 1.39 s ->
    sf10 4.93 s, wall slope 3.55 with decade-1 slope 3.39 — the
    candidate mass is linear (per-user windows; output constant by
    the predicate), so the consistent ~3.5 wall slope is the x2
    expansion shuffle's sort + GC on CPU-saturated local[32], not a
    quadratic term; on a cluster the extra decade is extra executors.
    """
    t = load_tables(spark, sf_dir, register_views=False)
    w = _RANGE_BUCKET_SECONDS
    ev = t["events"].select(
        "event_id",
        "event_type",
        "user_id",
        "ts",
        F.floor(F.col("ts").cast("timestamp").cast("long") / w).alias("bucket"),
    )
    a = ev.select(
        F.col("event_id").alias("a_event_id"),
        F.col("event_type").alias("a_event_type"),
        "user_id",
        F.col("ts").alias("a_ts"),
        F.explode(F.array(F.col("bucket"), F.col("bucket") + 1)).alias("bucket"),
    )
    b = ev.select("user_id", "bucket", F.col("ts").alias("b_ts"))
    pairs = a.join(b, ["user_id", "bucket"]).filter(
        (F.col("b_ts") > F.col("a_ts"))
        & (F.col("b_ts") <= F.col("a_ts") + F.expr("INTERVAL 24 HOURS"))
    )
    return (
        pairs.groupBy(F.col("a_event_type").alias("event_type"))
        .agg(
            F.count(F.lit(1)).alias("n_pairs"),
            F.countDistinct("a_event_id").alias("n_events_matched"),
        )
        .orderBy("event_type")
    )


# ---------------------------------------------------------------------------
# GEOGRAPHY slot (SURVEY §1.2): WKT-over-string + expression geometry
# ---------------------------------------------------------------------------

_GEO_ORACLE = """
WITH pts AS (
    SELECT o_orderkey,
           'POINT(' || CAST(o_orderkey % 360 - 180 AS VARCHAR) || ' '
                    || CAST(o_custkey % 180 - 90 AS VARCHAR) || ')' AS wkt
    FROM orders
), parsed AS (
    SELECT o_orderkey, wkt,
           CAST(regexp_extract(wkt, 'POINT\\(([-0-9.]+) ([-0-9.]+)\\)', 1) AS DOUBLE) AS x,
           CAST(regexp_extract(wkt, 'POINT\\(([-0-9.]+) ([-0-9.]+)\\)', 2) AS DOUBLE) AS y
    FROM pts
)
SELECT o_orderkey, wkt, x, y,
       (x BETWEEN -10 AND 40) AND (y BETWEEN 35 AND 70) AS in_bbox,
       x * x + y * y AS dist2_origin
FROM parsed
WHERE o_orderkey < 1000
ORDER BY o_orderkey
"""


@_register("scalar_geo_wkt", _GEO_ORACLE)
def scalar_geo_wkt(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GEOGRAPHY handling per the engine's type mapping (SURVEY §1.2:
    no native Spark geo type -> WKT in StringType + expression-level
    geometry). Synthesizes deterministic WKT points, parses them back
    with regexp, and evaluates bbox containment + squared distance —
    all codegen'd built-ins; exact integer-valued coordinates keep the
    oracle comparison bitwise. Real geodesic ops belong in a UDF layer
    (Sedona-style) on a cluster image that ships geo libs."""
    t = load_tables(spark, sf_dir, register_views=False)
    wkt = F.concat(
        F.lit("POINT("),
        (F.col("o_orderkey") % 360 - 180).cast("string"),
        F.lit(" "),
        (F.col("o_custkey") % 180 - 90).cast("string"),
        F.lit(")"),
    )
    parsed = (
        t["orders"]
        .filter(F.col("o_orderkey") < 1000)
        .select("o_orderkey", wkt.alias("wkt"))
        .select(
            "o_orderkey",
            "wkt",
            F.regexp_extract("wkt", r"POINT\(([-0-9.]+) ([-0-9.]+)\)", 1)
            .cast("double")
            .alias("x"),
            F.regexp_extract("wkt", r"POINT\(([-0-9.]+) ([-0-9.]+)\)", 2)
            .cast("double")
            .alias("y"),
        )
    )
    return parsed.select(
        "o_orderkey",
        "wkt",
        "x",
        "y",
        (F.col("x").between(-10, 40) & F.col("y").between(35, 70)).alias("in_bbox"),
        (F.col("x") * F.col("x") + F.col("y") * F.col("y")).alias("dist2_origin"),
    ).orderBy("o_orderkey")


# ---------------------------------------------------------------------------
# Map function family (+ from_json into MapType)
# ---------------------------------------------------------------------------

_MAP_ORACLE = """
SELECT event_id,
       CAST(json_extract_string(props, '$.k') AS BIGINT) AS k_from_json,
       CAST(len(json_keys(props)) AS INTEGER) AS n_json_keys,
       array_to_string(list_sort(json_keys(props)), ',') AS json_keys_sorted,
       map_extract(map(['uid','val'], [CAST(user_id AS DOUBLE), value]), 'val')[1]
           AS val_lookup,
       array_to_string(map_keys(map(['uid','val'],
                                    [CAST(user_id AS DOUBLE), value])), ',')
           AS m_keys
FROM events
WHERE event_id < 1000
ORDER BY event_id
"""


@_register("scalar_map", _MAP_ORACLE)
def scalar_map(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Map function family: ``from_json`` into ``MapType`` (schema-on-
    read over the JSON props column), plus construction / key listing /
    lookup on a built map — all codegen'd built-ins. MapType is an EXT
    convenience per SURVEY §1.2 (the reference's model never emits
    maps; dict values are records)."""
    t = load_tables(spark, sf_dir, register_views=False)
    jm = F.from_json("props", "map<string,string>")
    m = F.create_map(
        F.lit("uid"), F.col("user_id").cast("double"), F.lit("val"), F.col("value")
    )
    return (
        t["events"]
        .filter(F.col("event_id") < 1000)
        .select(
            "event_id",
            F.element_at(jm, "k").cast("long").alias("k_from_json"),
            F.size(jm).alias("n_json_keys"),
            F.array_join(F.array_sort(F.map_keys(jm)), ",").alias("json_keys_sorted"),
            F.element_at(m, "val").alias("val_lookup"),
            F.array_join(F.map_keys(m), ",").alias("m_keys"),
        )
        .orderBy("event_id")
    )


# ---------------------------------------------------------------------------
# Join strategy hints (broadcast is exercised throughout; this pins the
# shuffle-hash and merge strategies explicitly)
# ---------------------------------------------------------------------------

_HINT_ORACLE = f"""
SELECT o.o_orderpriority, COUNT(*) AS n_lines,
       {sql_dec_sum('l.l_extendedprice', 'total_price')}
FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
GROUP BY o.o_orderpriority
ORDER BY o.o_orderpriority
"""


@_register("join_hint_shuffle_hash", _HINT_ORACLE)
def join_hint_shuffle_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Same logical join as join_skew_salted's base, pinned to a
    shuffle-hash strategy via hint: no sort on either side — the right
    choice when one side is much smaller per partition but too big to
    broadcast whole (build-side hash tables must fit per-task memory;
    sort-merge is the spill-safe default)."""
    t = load_tables(spark, sf_dir, register_views=False)
    return (
        t["orders"].hint("SHUFFLE_HASH")
        .join(t["lineitem"], F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_lines"),
            dec_sum("l_extendedprice", "total_price"),
        )
        .orderBy("o_orderpriority")
    )


# ---------------------------------------------------------------------------
# Null-safe equality join (<=> / IS NOT DISTINCT FROM)
# ---------------------------------------------------------------------------

_JOIN_NULL_SAFE_ORACLE = """
WITH a AS (
    SELECT o_orderkey,
           CASE WHEN o_orderkey % 11 = 0 THEN NULL ELSE o_orderpriority END AS k
    FROM orders
), b AS (
    SELECT DISTINCT CASE WHEN o_orderkey % 11 = 0 THEN NULL
                         ELSE o_orderpriority END AS k
    FROM orders
)
SELECT a.k, COUNT(*) AS n_rows
FROM a JOIN b ON a.k IS NOT DISTINCT FROM b.k
GROUP BY a.k
ORDER BY a.k
"""


@_register("join_null_safe_eq", _JOIN_NULL_SAFE_ORACLE)
def join_null_safe_eq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Null-safe equi-join (``<=>`` / IS NOT DISTINCT FROM): NULL keys
    match each other instead of dropping out — the semantics SQL users
    reach for when joining on nullable dimensions. Still a hash-join
    key for Catalyst (EqualNullSafe is sargable), so the plan is a
    normal shuffled/broadcast hash join, not a nested loop."""
    t = load_tables(spark, sf_dir, register_views=False)
    k = F.when(F.col("o_orderkey") % 11 == 0, None).otherwise(F.col("o_orderpriority"))
    a = t["orders"].select("o_orderkey", k.alias("k"))
    b = a.select("k").distinct().select(F.col("k").alias("bk"))
    return (
        a.join(bcast_bounded(b, "o_orderpriority domain (+NULL): 6 keys"), F.col("k").eqNullSafe(F.col("bk")))
        .groupBy("k")
        .agg(F.count(F.lit(1)).alias("n_rows"))
        .orderBy("k")
    )


# ---------------------------------------------------------------------------
# Mode (most frequent value) per group, deterministic tiebreak
# ---------------------------------------------------------------------------

_AGG_MODE_ORACLE = """
WITH counts AS (
    SELECT o_orderstatus, o_orderpriority, COUNT(*) AS cnt
    FROM orders GROUP BY 1, 2
)
SELECT o_orderstatus, o_orderpriority AS mode_priority, cnt
FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY o_orderstatus
                                 ORDER BY cnt DESC, o_orderpriority) AS rn
    FROM counts
) WHERE rn = 1
ORDER BY o_orderstatus
"""


@_register("agg_mode", _AGG_MODE_ORACLE)
def agg_mode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Most-frequent value per group with a DETERMINISTIC tiebreak
    (count desc, then value asc) — built-in ``mode()`` breaks ties
    arbitrarily, which is hash-unverifiable. Two hash aggregations +
    a window over the (tiny) per-group count table."""
    t = load_tables(spark, sf_dir, register_views=False)
    counts = (
        t["orders"]
        .groupBy("o_orderstatus", "o_orderpriority")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    w = Window.partitionBy("o_orderstatus").orderBy(
        F.desc("cnt"), F.asc("o_orderpriority")
    )
    return (
        counts.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("o_orderstatus", F.col("o_orderpriority").alias("mode_priority"), "cnt")
        .orderBy("o_orderstatus")
    )


# ---------------------------------------------------------------------------
# Ordered string aggregation (listagg / string_agg)
# ---------------------------------------------------------------------------

_AGG_STRING_AGG_ORACLE = """
SELECT o_orderstatus,
       string_agg(DISTINCT o_orderpriority, ',' ORDER BY o_orderpriority)
           AS priorities,
       COUNT(DISTINCT o_orderpriority) AS n_distinct
FROM orders
GROUP BY o_orderstatus
ORDER BY o_orderstatus
"""


@_register("agg_string_agg", _AGG_STRING_AGG_ORACLE)
def agg_string_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered, distinct string aggregation. Spark's ``collect_set``
    is unordered (shuffle-order-dependent) — ``sort_array`` + 
    ``array_join`` makes the result deterministic and therefore
    hash-comparable; same discipline DuckDB needs (ORDER BY inside
    string_agg)."""
    t = load_tables(spark, sf_dir, register_views=False)
    return (
        t["orders"]
        .groupBy("o_orderstatus")
        .agg(
            F.array_join(F.sort_array(F.collect_set("o_orderpriority")), ",").alias(
                "priorities"
            ),
            F.countDistinct("o_orderpriority").alias("n_distinct"),
        )
        .orderBy("o_orderstatus")
    )


# ---------------------------------------------------------------------------
# URL parsing (regexp-based, engine-portable)
# ---------------------------------------------------------------------------

_SCALAR_URL_ORACLE = """
WITH u AS (
    SELECT doc_id,
           'https://' || source || '.example.com/docs/' || doc_id
               || '?lang=' || lang AS url
    FROM documents
)
SELECT doc_id,
       regexp_extract(url, 'https?://([^/?]+)', 1) AS host,
       regexp_extract(url, 'https?://[^/?]+(/[^?]*)', 1) AS path,
       regexp_extract(url, '[?]lang=([a-z]+)', 1) AS lang_param
FROM u ORDER BY doc_id
"""


@_register("scalar_url_extract", _SCALAR_URL_ORACLE)
def scalar_url_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL host/path/query extraction via regexp groups (portable to
    engines without ``parse_url``; the patterns avoid lookaround so
    Java regex and RE2 agree). Synthetic URLs are derived from the
    documents table so every row exercises the extraction."""
    t = load_tables(spark, sf_dir, register_views=False)
    url = F.concat(
        F.lit("https://"),
        F.col("source"),
        F.lit(".example.com/docs/"),
        F.col("doc_id").cast("string"),
        F.lit("?lang="),
        F.col("lang"),
    )
    u = t["documents"].select("doc_id", url.alias("url"))
    return (
        u.select(
            "doc_id",
            F.regexp_extract("url", r"https?://([^/?]+)", 1).alias("host"),
            F.regexp_extract("url", r"https?://[^/?]+(/[^?]*)", 1).alias("path"),
            F.regexp_extract("url", r"[?]lang=([a-z]+)", 1).alias("lang_param"),
        )
        .orderBy("doc_id")
    )


# ---------------------------------------------------------------------------
# Correlated-subquery surface (Catalyst decorrelation; TPC-H Q4/Q17/Q18/Q22
# shapes adapted to the driver schema). The reference's `query` verb
# (bigquery/__init__.py:463-472) accepts arbitrary SQL; these exercise the
# subquery forms a SQL-parity user hits first. Expressed as spark.sql over
# the registered views so Catalyst's RewriteCorrelatedScalarSubquery /
# RewritePredicateSubquery rules produce the join-based plans — the same
# SQL text runs on DuckDB, making the oracle trivially in-sync.
# ---------------------------------------------------------------------------

_SUBQ_EXISTS_SQL = """
SELECT o.o_orderpriority, COUNT(*) AS order_count
FROM orders o
WHERE o.o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
  AND o.o_orderdate <  TIMESTAMP '1996-07-01 00:00:00'
  AND EXISTS (
      SELECT 1 FROM lineitem l
      WHERE l.l_orderkey = o.o_orderkey
        AND l.l_shipdate > o.o_orderdate + INTERVAL 30 DAY
  )
GROUP BY o.o_orderpriority
ORDER BY o.o_orderpriority
"""


@_register("subq_exists_late_ship", _SUBQ_EXISTS_SQL)
def subq_exists_late_ship(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-priority checking (TPC-H Q4 shape): orders with at least
    one line shipped >30 days after the order date.

    Scale: Catalyst decorrelates EXISTS into a LEFT SEMI join on
    l_orderkey — the date predicates push to both parquet scans, the
    semi join shuffles each side once on the key, and the final agg is
    a 5-row hash aggregate. No nested-loop per-row subquery ever runs
    (locked in tests/test_plans.py)."""
    load_tables(spark, sf_dir, register_views=True)
    return spark.sql(_SUBQ_EXISTS_SQL)


_SUBQ_SCALAR_SQL = """
SELECT CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(38,6))) AS DOUBLE) / 7.0
           AS avg_yearly
FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
WHERE p.p_brand = 'Brand#1'
  AND l.l_quantity < (
      SELECT 0.5 * AVG(l2.l_quantity) FROM lineitem l2
      WHERE l2.l_partkey = l.l_partkey
  )
"""


@_register("subq_scalar_avg_qty", _SUBQ_SCALAR_SQL)
def subq_scalar_avg_qty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Small-quantity-order revenue (TPC-H Q17 shape): lines whose
    quantity is under half the part's average.

    Scale: the correlated scalar subquery decorrelates into an
    aggregate-then-join — lineitem is scanned once for the per-part
    averages (partial agg, one shuffle on l_partkey) and joined back,
    not re-scanned per row. The threshold AVG is exact because
    l_quantity holds whole numbers (integer sums are exact in double
    well past 2^53), so the oracle comparison is partitioning-proof."""
    load_tables(spark, sf_dir, register_views=True)
    return spark.sql(_SUBQ_SCALAR_SQL)


_SUBQ_IN_HAVING_SQL = """
SELECT c.c_name, o.o_orderkey, o.o_orderdate, o.o_totalprice,
       CAST(SUM(CAST(l.l_quantity AS DECIMAL(38,6))) AS DOUBLE) AS total_qty
FROM customer c
JOIN orders o ON c.c_custkey = o.o_custkey
JOIN lineitem l ON o.o_orderkey = l.l_orderkey
WHERE o.o_orderkey IN (
    SELECT l_orderkey FROM lineitem
    GROUP BY l_orderkey HAVING SUM(l_quantity) > 200
)
GROUP BY c.c_name, o.o_orderkey, o.o_orderdate, o.o_totalprice
ORDER BY o.o_totalprice DESC, o.o_orderkey
LIMIT 100
"""


@_register("subq_in_groupby_having", _SUBQ_IN_HAVING_SQL)
def subq_in_groupby_having(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Large-volume customers (TPC-H Q18 shape): orders whose total
    quantity clears a threshold, via IN over a grouped-HAVING subquery.

    Scale: the IN-subquery becomes a LEFT SEMI join against the
    pre-aggregated keys (one row per qualifying order — tiny build
    side), so the 3-way fact join only processes qualifying orders.
    The HAVING sum is exact (whole-number quantities)."""
    load_tables(spark, sf_dir, register_views=True)
    return spark.sql(_SUBQ_IN_HAVING_SQL)


_SUBQ_NOT_EXISTS_SQL = """
WITH avg_bal AS (
    SELECT CAST(SUM(CAST(c_acctbal AS DECIMAL(38,6))) AS DOUBLE) / COUNT(*) AS ab
    FROM customer WHERE c_acctbal > 0.0
)
SELECT c.c_nationkey, COUNT(*) AS numcust,
       CAST(SUM(CAST(c.c_acctbal AS DECIMAL(38,6))) AS DOUBLE) AS totacctbal
FROM customer c, avg_bal
WHERE c.c_acctbal > avg_bal.ab
  AND NOT EXISTS (SELECT 1 FROM orders o
                  WHERE o.o_custkey = c.c_custkey
                    AND o.o_totalprice > 300000)
GROUP BY c.c_nationkey
ORDER BY c.c_nationkey
"""


@_register("subq_not_exists_idle_rich", _SUBQ_NOT_EXISTS_SQL)
def subq_not_exists_idle_rich(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global-sales-opportunity (TPC-H Q22 shape): above-average
    balances with no big-ticket order (> 300k), per nation.

    Anchor (VERDICT r15 #1): the original bare NOT EXISTS over orders
    is unsatisfiable on this corpus (every customer has orders at
    every scale), so the driver's sf0.01 row was an empty-set
    agreement. Gating the correlated subquery on a big-ticket
    predicate keeps the NOT EXISTS -> anti-join decorrelation claim
    and is populated at every scale (14 customers at sf0.01). The
    segment-grouped sibling ``q22_idle_rich_segments`` anchors on
    order PRIORITY instead, so the two Q22 shapes stay distinct.

    Scale: NOT EXISTS decorrelates into a LEFT ANTI join on
    o_custkey (the subquery filter pushes into the anti-join's build
    side scan); the scalar average is computed once (single-row
    broadcast) and compared via the exact decimal accumulator so the
    threshold never flips on partitioning (c_acctbal has cents)."""
    load_tables(spark, sf_dir, register_views=True)
    return spark.sql(_SUBQ_NOT_EXISTS_SQL)


# ---------------------------------------------------------------------------
# SCD Type-2 dimension history (warehouse-pipeline staple)
# ---------------------------------------------------------------------------

_SCD2_ORACLE = """
SELECT o_custkey, o_orderkey, o_totalprice,
       o_orderdate AS valid_from,
       LEAD(o_orderdate) OVER w AS valid_to,
       (LEAD(o_orderdate) OVER w IS NULL) AS is_current
FROM orders
WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
ORDER BY o_custkey, valid_from, o_orderkey
"""


@_register("scd2_order_history", _SCD2_ORACLE)
def scd2_order_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Slowly-changing-dimension type-2 build: each customer's order
    stream becomes versioned rows with [valid_from, valid_to) ranges
    and an is_current flag (the standard dimension-history pattern a
    warehouse user expects from the `update` verb's history-keeping
    cousin).

    Scale: one shuffle on the dimension key (o_custkey), then a
    per-key sort for LEAD — exactly the minimal work SCD2 requires;
    no self-join (the naive formulation joins the table to itself on
    consecutive versions)."""
    t = load_tables(spark, sf_dir, register_views=False)
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    nxt = F.lead("o_orderdate").over(w)
    return (
        t["orders"].select(
            "o_custkey",
            "o_orderkey",
            "o_totalprice",
            F.col("o_orderdate").alias("valid_from"),
            nxt.alias("valid_to"),
            nxt.isNull().alias("is_current"),
        )
        .orderBy("o_custkey", "valid_from", "o_orderkey")
    )


# ---------------------------------------------------------------------------
# Hypertable-style cascading time rollup (minute -> hour -> day)
# ---------------------------------------------------------------------------

_HYPERTABLE_ORACLE = """
SELECT date_trunc('day', ts) AS day,
       COUNT(*) AS n_events,
       CAST(SUM(CAST(value AS DECIMAL(38,6))) AS DOUBLE) AS total_value
FROM events
GROUP BY 1 ORDER BY 1
"""


@_register("rollup_hypertable", _HYPERTABLE_ORACLE)
def rollup_hypertable(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hierarchical time rollup: events are aggregated to minute
    buckets, minutes re-aggregated to hours, hours to days — the
    continuous-aggregate / hypertable pattern (each level is what a
    materialized rollup table would store).

    Scale: only the minute level touches raw events (one shuffle,
    partial agg); hour and day re-aggregate the previous level's few
    rows. COUNT/SUM are decomposable, and the decimal accumulator
    keeps the re-aggregated sums bit-identical to a direct day-level
    aggregation (the oracle computes it directly — equality IS the
    correctness statement for rollup reuse)."""
    t = load_tables(spark, sf_dir, register_views=False)
    minute = (
        t["events"]
        .groupBy(F.date_trunc("minute", "ts").alias("minute"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast(DEC)).alias("_sum_dec"),
        )
    )
    hour = (
        minute.groupBy(F.date_trunc("hour", "minute").alias("hour"))
        .agg(F.sum("n_events").alias("n_events"), F.sum("_sum_dec").alias("_sum_dec"))
    )
    return (
        hour.groupBy(F.date_trunc("day", "hour").alias("day"))
        .agg(
            F.sum("n_events").alias("n_events"),
            F.sum("_sum_dec").cast("double").alias("total_value"),
        )
        .orderBy("day")
    )


# ---------------------------------------------------------------------------
# Latest-per-key dedup (warehouse upsert-view staple)
# ---------------------------------------------------------------------------

_DEDUP_LATEST_ORACLE = """
SELECT o_custkey, o_orderkey, o_orderdate, o_totalprice
FROM (
    SELECT o_custkey, o_orderkey, o_orderdate, o_totalprice,
           ROW_NUMBER() OVER (PARTITION BY o_custkey
                              ORDER BY o_orderdate DESC, o_orderkey DESC) AS rk
    FROM orders
) WHERE rk = 1
ORDER BY o_custkey
"""


@_register("window_dedup_latest", _DEDUP_LATEST_ORACLE)
def window_dedup_latest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Latest row per key (the CDC/warehouse 'current view' of an
    append-only change stream): row_number over (key, recency) = 1
    with a deterministic tiebreak.

    Scale: one shuffle on the key; per-partition sort + streaming
    rank-1 filter. Key cardinality here scales with data (unlike a
    low-cardinality window), so the shuffle stays balanced; for
    pathological hot keys, AQE skew handling applies."""
    t = load_tables(spark, sf_dir, register_views=False)
    w = Window.partitionBy("o_custkey").orderBy(
        F.desc("o_orderdate"), F.desc("o_orderkey")
    )
    return (
        t["orders"]
        .withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") == 1)
        .select("o_custkey", "o_orderkey", "o_orderdate", "o_totalprice")
        .orderBy("o_custkey")
    )


# ---------------------------------------------------------------------------
# Gaps-and-islands: consecutive-day activity streaks
# ---------------------------------------------------------------------------

_GAP_ISLANDS_ORACLE = """
WITH days AS (
    SELECT DISTINCT user_id, date_trunc('day', ts) AS day FROM events
), seq AS (
    SELECT user_id, day,
           date_diff('day', DATE '1970-01-01', day)
             - ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY day) AS island
    FROM days
)
SELECT user_id, MIN(day) AS streak_start, MAX(day) AS streak_end,
       COUNT(*) AS streak_days
FROM seq
GROUP BY user_id, island
ORDER BY user_id, streak_start
"""


@_register("gap_islands_streaks", _GAP_ISLANDS_ORACLE)
def gap_islands_streaks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gaps-and-islands: each user's maximal runs of consecutive
    active days (the classic retention/streak computation).

    Scale: distinct (user, day) first — the shuffle carries one row
    per user-day, not per event; then a single window on user_id and
    a re-aggregation on the derived island key. Both shuffles hash the
    same user_id prefix, so the exchange is reusable."""
    t = load_tables(spark, sf_dir, register_views=False)
    days = (
        t["events"]
        .select("user_id", F.date_trunc("day", "ts").alias("day"))
        .distinct()
    )
    w = Window.partitionBy("user_id").orderBy("day")
    island = F.datediff(F.col("day"), F.lit("1970-01-01").cast("date")) - F.row_number().over(w)
    return (
        days.withColumn("island", island)
        .groupBy("user_id", "island")
        .agg(
            F.min("day").alias("streak_start"),
            F.max("day").alias("streak_end"),
            F.count(F.lit(1)).alias("streak_days"),
        )
        .select("user_id", "streak_start", "streak_end", "streak_days")
        .orderBy("user_id", "streak_start")
    )


# ---------------------------------------------------------------------------
# Nation-pair trade volume (TPC-H Q7 shape)
# ---------------------------------------------------------------------------

_Q7_ORACLE = f"""
SELECT cn.n_name AS cust_nation, sn.n_name AS supp_nation,
       CAST(YEAR(l.l_shipdate) AS INTEGER) AS l_year,
       {sql_dec_sum('l.l_extendedprice * (1 - l.l_discount)', 'revenue')}
FROM lineitem l
JOIN orders o ON o.o_orderkey = l.l_orderkey
JOIN customer c ON c.c_custkey = o.o_custkey
JOIN supplier s ON s.s_suppkey = l.l_suppkey
JOIN nation cn ON cn.n_nationkey = c.c_nationkey
JOIN nation sn ON sn.n_nationkey = s.s_nationkey
WHERE ((cn.n_name = 'NATION_0' AND sn.n_name = 'NATION_1')
    OR (cn.n_name = 'NATION_1' AND sn.n_name = 'NATION_0'))
  AND l.l_shipdate BETWEEN TIMESTAMP '1995-01-01 00:00:00'
                       AND TIMESTAMP '1996-12-31 00:00:00'
GROUP BY cust_nation, supp_nation, l_year
ORDER BY cust_nation, supp_nation, l_year
"""


@_register("q7_nation_volume", _Q7_ORACLE)
def q7_nation_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Volume shipping between a nation pair per year (TPC-H Q7
    shape).

    Scale: nation (25 rows) is a true broadcast dim; customer and
    supplier grow with SF, so their joins are left to the planner
    (AQE broadcasts them while small, shuffles when not). The only
    unavoidable big-big join is lineitem-orders on the order key
    (single shuffle). The nation-pair filter applies as soon as the
    dims are joined, before aggregation; the shipdate band pushes to
    the lineitem scan."""
    t = load_tables(spark, sf_dir, register_views=False)
    l = t["lineitem"].filter(
        F.col("l_shipdate").between(
            F.lit("1995-01-01").cast("timestamp"),
            F.lit("1996-12-31").cast("timestamp"),
        )
    )
    cn = t["nation"].select(
        F.col("n_nationkey").alias("c_nkey"), F.col("n_name").alias("cust_nation")
    )
    sn = t["nation"].select(
        F.col("n_nationkey").alias("s_nkey"), F.col("n_name").alias("supp_nation")
    )
    cust = t["customer"].join(
        bcast_bounded(cn, "nation: 25 rows"), F.col("c_nationkey") == F.col("c_nkey")
    ).select("c_custkey", "cust_nation")
    supp = t["supplier"].join(
        bcast_bounded(sn, "nation: 25 rows"), F.col("s_nationkey") == F.col("s_nkey")
    ).select("s_suppkey", "supp_nation")
    pair = (
        (F.col("cust_nation") == "NATION_0") & (F.col("supp_nation") == "NATION_1")
    ) | ((F.col("cust_nation") == "NATION_1") & (F.col("supp_nation") == "NATION_0"))
    return (
        l.join(t["orders"], F.col("l_orderkey") == F.col("o_orderkey"))
        .join(cust, F.col("o_custkey") == F.col("c_custkey"))
        .join(supp, F.col("l_suppkey") == F.col("s_suppkey"))
        .filter(pair)
        .groupBy(
            "cust_nation",
            "supp_nation",
            F.year("l_shipdate").cast("int").alias("l_year"),
        )
        .agg(dec_sum(F.col("l_extendedprice") * (1 - F.col("l_discount")), "revenue"))
        .orderBy("cust_nation", "supp_nation", "l_year")
    )


# ---------------------------------------------------------------------------
# Mergeable-sketch rollup (Datasketches HLL: partial per-nation sketches
# unioned to region level — re-aggregation WITHOUT rescanning raw data)
# ---------------------------------------------------------------------------

_HLL_ROLLUP_ORACLE = """
SELECT r.r_name AS region,
       CAST(COUNT(DISTINCT c.c_custkey) AS BIGINT) AS exact_customers,
       TRUE AS est_ok
FROM customer c
JOIN nation n ON n.n_nationkey = c.c_nationkey
JOIN region r ON r.r_regionkey = n.n_regionkey
GROUP BY r.r_name
ORDER BY r.r_name
"""


@_register("agg_hll_mergeable_rollup", _HLL_ROLLUP_ORACLE)
def agg_hll_mergeable_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct-customer counts per region via MERGEABLE HLL sketches:
    per-nation sketches are built once, then unioned up to region —
    the pattern that makes distinct-count rollups reaggregable at
    100 TB (a materialized nation-level sketch table answers region /
    global questions without rescanning raw data; exact COUNT
    DISTINCT cannot re-aggregate).

    The driver-facing columns are engine-portable: the exact count
    plus a boolean asserting the sketch estimate lands within 3·rsd
    of it (the estimate itself is sketch-implementation-specific, so
    it stays out of the hash, like agg_approx_count_distinct).

    Scale: sketch build shuffles (nation, sketch) partials — map-side
    combine keeps it one compact binary per nation per task; the
    region union touches |nations| rows."""
    t = load_tables(spark, sf_dir, register_views=False)
    nat_sketch = (
        t["customer"]
        .groupBy("c_nationkey")
        .agg(F.hll_sketch_agg("c_custkey").alias("sk"))
    )
    nat = t["nation"].select("n_nationkey", "n_regionkey")
    reg = t["region"].select("r_regionkey", "r_name")
    region_est = (
        nat_sketch.join(bcast_bounded(nat, "nation: 25 rows"), nat_sketch.c_nationkey == nat.n_nationkey)
        .join(bcast_bounded(reg, "region: 5 rows"), F.col("n_regionkey") == F.col("r_regionkey"))
        .groupBy("r_name")
        .agg(F.hll_sketch_estimate(F.hll_union_agg("sk")).alias("est"))
    )
    exact = (
        t["customer"]
        .join(bcast_bounded(nat, "nation: 25 rows"), t["customer"].c_nationkey == nat.n_nationkey)
        .join(bcast_bounded(reg, "region: 5 rows"), F.col("n_regionkey") == F.col("r_regionkey"))
        .groupBy("r_name")
        .agg(F.count_distinct("c_custkey").alias("exact_customers"))
    )
    tol = 3 * 0.02  # default HLL lgK=12 rsd ~= 1.04/sqrt(2^12) ≈ 1.6%
    return (
        exact.join(region_est, "r_name")
        .select(
            F.col("r_name").alias("region"),
            F.col("exact_customers").cast("long"),
            (
                F.abs(F.col("est") - F.col("exact_customers"))
                <= F.lit(tol) * F.col("exact_customers")
            ).alias("est_ok"),
        )
        .orderBy("region")
    )


# ---------------------------------------------------------------------------
# Distributed size-bounded chunking (driver-verified face of
# data.with_chunk_ids — the reference's 20 MiB upload batching,
# data.py:227-317, as a one-pass window)
# ---------------------------------------------------------------------------

_CHUNK_LIMIT = 8192

_CHUNKING_ORACLE = f"""
WITH sized AS (
    SELECT doc_id,
           LENGTH(to_json(struct_pack(doc_id := doc_id, text := text,
                                      lang := lang, source := source,
                                      n_chars := n_chars))::VARCHAR) AS row_size
    FROM documents
)
SELECT doc_id,
       (row_size > {_CHUNK_LIMIT}) AS row_oversize,
       CAST((SUM(row_size) OVER (ORDER BY doc_id
                                 ROWS UNBOUNDED PRECEDING) - 1) // {_CHUNK_LIMIT}
            AS BIGINT) AS chunk_id
FROM sized ORDER BY doc_id
"""


@_register("chunking_distributed", _CHUNKING_ORACLE)
def chunking_distributed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed chunk assignment over the documents table: rows in
    stable doc_id order are batched into ≤8 KiB JSON chunks (running
    cumsum // limit) — the Spark form of the reference's 20 MiB
    streaming-insert batching. Both engines render the SAME compact
    JSON for the size metric (verified byte-identical), so chunk
    boundaries agree exactly.

    Scale: the total-order window serializes; use for bounded loads,
    or pre-partition by a load key (see pack_training_sequences /
    multimodal_shard_packing for the partitioned form)."""
    from load_datawarehouse_spark.data import with_chunk_ids

    t = load_tables(spark, sf_dir, register_views=False)
    return (
        with_chunk_ids(t["documents"], _CHUNK_LIMIT, order_by="doc_id")
        .select("doc_id", "row_oversize", "chunk_id")
        .orderBy("doc_id")
    )


# ---------------------------------------------------------------------------
# PageRank (fixed 3 iterations) over the customer<->supplier trade graph
# ---------------------------------------------------------------------------

_PR_ITERS = 3
#: ranks live in integer micro-units (1 rank = 1e12 units) and the
#: damping d=0.85 is the rational 17/20, so every operation is BIGINT
#: arithmetic — floor divisions and integer sums are bit-identical in
#: every engine at every partitioning, with no float rounding anywhere.
_PR_UNIT = 10**12


def _pagerank_oracle() -> str:
    base = """
edges0 AS (
    SELECT DISTINCT 'c' || CAST(o.o_custkey AS VARCHAR) AS src,
                    's' || CAST(l.l_suppkey AS VARCHAR) AS dst
    FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
),
edges AS (
    SELECT src, dst FROM edges0
    UNION ALL
    SELECT dst AS src, src AS dst FROM edges0
),
nodes AS (SELECT DISTINCT src AS node FROM edges),
nn AS (SELECT COUNT(*) AS n FROM nodes),
outdeg AS (SELECT src, COUNT(*) AS deg FROM edges GROUP BY src),
pr0 AS (
    SELECT node, CAST({unit} // nn.n AS BIGINT) AS pr FROM nodes CROSS JOIN nn
)""".format(unit=_PR_UNIT)
    iters = []
    for j in range(1, _PR_ITERS + 1):
        iters.append("""pr{j} AS (
    SELECT n.node,
           CAST(({base_num} // nn.n) + ((17 * COALESCE(s.contrib, 0)) // 20)
                AS BIGINT) AS pr
    FROM nodes n CROSS JOIN nn
    LEFT JOIN (
        SELECT e.dst AS node, CAST(SUM(p.pr // od.deg) AS BIGINT) AS contrib
        FROM edges e
        JOIN pr{prev} p ON p.node = e.src
        JOIN outdeg od ON od.src = e.src
        GROUP BY e.dst
    ) s ON s.node = n.node
)""".format(j=j, prev=j - 1, base_num=3 * _PR_UNIT // 20))
    return (
        "WITH " + base + ",\n" + ",\n".join(iters)
        + "\nSELECT node, pr AS pr_micro FROM pr{last} ORDER BY pr DESC, node LIMIT 50".format(last=_PR_ITERS)
    )


@_register("graph_pagerank", _pagerank_oracle())
def graph_pagerank(
    spark: SparkSession, sf_dir: str, *, iters: int | None = None
) -> DataFrame:
    """Fixed-point PageRank (d=17/20, 3 iterations) over the
    undirected customer-supplier purchase graph. Ranks are BIGINT
    micro-units (1e12 = rank 1.0): floor divisions and integer sums
    make the trajectory bit-identical across engines and
    partitionings with no float rounding anywhere — the
    graph-analytics companion to dedup_connected_components and
    kmeans_lloyd.

    Scale: the canonical distributed PR shape — contributions are an
    edges⨝ranks equi join + groupBy(dst), all hash-partitioned on the
    node key, no driver round-trip between iterations (pure lineage);
    per iteration: one join shuffle + one agg shuffle. At web scale,
    localCheckpoint every ~5 rounds to cut lineage depth.

    ``iters`` overrides the iteration count for TIMING-ONLY callers
    (``scalecheck.py --decade 2``'s t(k) = build + k*per_iter
    attribution — previously a monkeypatch of the module global); the
    REGISTERED query always runs the default ``_PR_ITERS`` = 3, which
    is what the 3-iteration oracle SQL verifies."""
    t = load_tables(spark, sf_dir, register_views=False)
    e0 = (
        t["orders"]
        .join(t["lineitem"], F.col("l_orderkey") == F.col("o_orderkey"))
        .select(
            F.concat(F.lit("c"), F.col("o_custkey").cast("string")).alias("src"),
            F.concat(F.lit("s"), F.col("l_suppkey").cast("string")).alias("dst"),
        )
        .distinct()
    )
    edges = e0.union(e0.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
    # the edge list feeds 5 consumers (nodes, outdeg, 3x contrib
    # join): cut lineage once instead of re-deriving the
    # orders⨝lineitem distinct per consumer
    edges = edges.transform(lineage_cut)
    nodes = edges.select(F.col("src").alias("node")).distinct()
    n = nodes.count()
    outdeg = edges.groupBy("src").agg(F.count(F.lit(1)).alias("deg"))
    # NOT hoisted: the edges⨝outdeg join is loop-invariant, but a
    # round-14 fresh-JVM interleaved A/B at sf1 measured the hoisted
    # form (edeg = edges⨝outdeg materialized once via lineage_cut)
    # SLOWER — 12.5/12.9 s vs 8.5/9.0 s for this shape — because
    # outdeg is node-sized and AQE serves the per-iteration join as a
    # cheap broadcast, while the hoist pays a synchronous edge-sized
    # checkpoint. (A same-session A/B had said the opposite — warm
    # block reuse; fresh-JVM interleaved is the honest protocol.)
    pr = nodes.select("node", F.lit(_PR_UNIT // n).cast("long").alias("pr"))
    base_units = (3 * _PR_UNIT // 20) // n  # (1-d) * unit / n, exact
    for _ in range(_PR_ITERS if iters is None else iters):
        contrib = (
            edges.join(pr.withColumnRenamed("node", "src"), "src")
            .join(outdeg, "src")
            .groupBy("dst")
            .agg(F.sum(F.expr("pr div deg")).alias("contrib"))
        )
        pr = nodes.join(contrib, nodes.node == contrib.dst, "left").select(
            "node",
            (
                F.lit(base_units)
                + F.expr("(17 * coalesce(contrib, 0L)) div 20")
            ).cast("long").alias("pr"),
        )
    return (
        pr.select("node", F.col("pr").alias("pr_micro"))
        .orderBy(F.desc("pr_micro"), F.asc("node"))
        .limit(50)
    )


# ---------------------------------------------------------------------------
# Forward as-of join (next state at-or-after each event)
# ---------------------------------------------------------------------------

_JOIN_ASOF_FWD_ORACLE = """
WITH v AS (
    SELECT event_id, user_id, ts FROM events WHERE event_type = 'view'
), p AS (
    SELECT user_id, ts, MAX(value) AS purchase_value
    FROM events WHERE event_type = 'purchase' GROUP BY user_id, ts
)
SELECT v.event_id, v.user_id,
       p.ts AS next_purchase_ts, p.purchase_value
FROM v ASOF JOIN p ON v.user_id = p.user_id AND v.ts <= p.ts
ORDER BY v.event_id
"""


@_register("join_asof_forward", _JOIN_ASOF_FWD_ORACLE)
def join_asof_forward(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Forward as-of join: for each ``view`` event, the NEXT
    ``purchase`` by the same user at-or-after the view time — the
    time-to-conversion primitive. Mirror of ``join_asof``: both sides
    union into one frame, ONE shuffle on the user key, and
    ``first(...) IGNORE NULLS`` over the FOLLOWING window picks the
    nearest later state; views sort before same-instant purchases so
    the at-or-after match is inclusive.

    Round 14 re-anchor: the old events->next-order shape was VACUOUS
    on this corpus (events are 2024-01, orders end 2001-08 — no order
    is ever at-or-after an event), so its oracle hash-matches only
    ever proved the empty set. view->purchase is same-era and
    same-table by construction: measured 1,816 matched views at
    sf0.01 (~92% of views convert within the corpus window). The
    purchase side is pre-deduped per (user, ts) so the match is
    deterministic under timestamp ties. Round 16 re-anchored
    ``join_asof_nearest`` onto this same domain (its forward leg IS
    this op), retiring the vacuous orders-domain forward pass.

    Second-decade evidence (round 15, SCALECHECK10): output rows
    184,760 -> 1,847,600 (exactly 10x — the per-user rate IS
    scale-invariant, measured), wall 0.45 -> 1.05 s (slope 2.32 on
    sub-second absolutes: fixed job overhead dominates)."""
    t = load_tables(spark, sf_dir, register_views=False)
    v = t["events"].filter(F.col("event_type") == "view")
    p = (
        t["events"]
        .filter(F.col("event_type") == "purchase")
        .groupBy("user_id", "ts")
        .agg(F.max("value").alias("purchase_value"))
    )
    p_side = p.select(
        "user_id",
        F.col("ts").alias("t"),
        F.lit(0).alias("is_view"),
        F.lit(None).cast("long").alias("event_id"),
        F.col("ts").alias("next_purchase_ts"),
        "purchase_value",
    )
    v_side = v.select(
        "user_id",
        F.col("ts").alias("t"),
        F.lit(1).alias("is_view"),
        "event_id",
        F.lit(None).cast("timestamp").alias("next_purchase_ts"),
        F.lit(None).cast("double").alias("purchase_value"),
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("t", F.desc("is_view"))
        .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    )
    merged = p_side.unionByName(v_side).select(
        "event_id",
        "user_id",
        "is_view",
        F.first("next_purchase_ts", ignorenulls=True).over(w).alias("next_purchase_ts"),
        F.first("purchase_value", ignorenulls=True).over(w).alias("purchase_value"),
    )
    return (
        merged.filter((F.col("is_view") == 1) & F.col("next_purchase_ts").isNotNull())
        .select("event_id", "user_id", "next_purchase_ts", "purchase_value")
        .orderBy("event_id")
    )


# ---------------------------------------------------------------------------
# Promotion revenue share (TPC-H Q14 shape)
# ---------------------------------------------------------------------------

_Q14_ORACLE = """
SELECT CAST(100.0 AS DOUBLE)
       * CAST(SUM(CASE WHEN p.p_type = 'PROMO'
                       THEN CAST(l.l_extendedprice * (1 - l.l_discount) AS DECIMAL(38,6))
                       ELSE CAST(0 AS DECIMAL(38,6)) END) AS DOUBLE)
       / CAST(SUM(CAST(l.l_extendedprice * (1 - l.l_discount) AS DECIMAL(38,6))) AS DOUBLE)
       AS promo_revenue_pct
FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
WHERE l.l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
  AND l.l_shipdate <  TIMESTAMP '1997-02-01 00:00:00'
"""


@_register("q14_promo_effect", _Q14_ORACLE)
def q14_promo_effect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Promotion effect (TPC-H Q14 shape): share of one month's
    revenue from promo parts.

    Scale: shipdate month pushes to the lineitem scan; part is
    sf-proportional so it joins bare (AQE broadcasts while small);
    both sums accumulate in exact decimal so the final ratio is
    partitioning-proof."""
    t = load_tables(spark, sf_dir, register_views=False)
    l = t["lineitem"].filter(
        (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-02-01").cast("timestamp"))
    )
    rev = (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast(DEC)
    promo_rev = F.when(F.col("p_type") == "PROMO", rev).otherwise(F.lit(0).cast(DEC))
    return (
        l.join(t["part"].select("p_partkey", "p_type"),
               F.col("l_partkey") == F.col("p_partkey"))
        .agg(
            (
                F.lit(100.0)
                * F.sum(promo_rev).cast("double")
                / F.sum(rev).cast("double")
            ).alias("promo_revenue_pct")
        )
    )


# ---------------------------------------------------------------------------
# Warehouse verb surface under the driver gate: load -> fetch roundtrip
# ---------------------------------------------------------------------------

_WAREHOUSE_RT_ORACLE = """
SELECT doc_id, lang, source FROM documents
WHERE doc_id < 100
ORDER BY doc_id
LIMIT 20
"""


@_register("warehouse_load_fetch", _WAREHOUSE_RT_ORACLE)
@on_scratch_dir
def warehouse_load_fetch(spark: SparkSession, sf_dir: str, root: str) -> DataFrame:
    """End-to-end warehouse verb exercise under the correctness gate:
    ``prepare`` -> schema inference -> conform -> distributed parquet
    append -> ``fetch`` (projection + sort + limit), through a real
    ``SparkWarehouse`` table (reference verbs: classes.py:18-64,
    flagship load bigquery/__init__.py:363-461).

    The loaded batch is a 100-row sample, so the driver-side record
    prep is bounded; everything after ``load`` is the same distributed
    path a TB-scale load takes (executors write parquet; fetch is a
    pruned scan)."""
    from load_datawarehouse_spark.warehouse import QuerySort, SparkWarehouse

    t = load_tables(spark, sf_dir, register_views=False)
    records = [
        {"doc_id": r["doc_id"], "lang": r["lang"], "source": r["source"]}
        for r in t["documents"]
        .filter(F.col("doc_id") < 100)
        .select("doc_id", "lang", "source")
        .collect()
    ]
    wh = SparkWarehouse.new(spark, root, "docs_sample", data=records)
    return wh.fetch(
        fields=("doc_id", "lang", "source"),
        sort=[("doc_id", QuerySort.ASCENDING)],
        count=20,
    )


_WAREHOUSE_BULK_ORACLE = """
SELECT lang, source,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
       CAST(COUNT(CASE WHEN doc_id >= 250 THEN 1 END) AS BIGINT) AS n_tagged
FROM documents
WHERE doc_id < 500
GROUP BY lang, source
ORDER BY lang, source
"""


@_register("warehouse_load_dataframe", _WAREHOUSE_BULK_ORACLE)
@on_scratch_dir
def warehouse_load_dataframe(spark: SparkSession, sf_dir: str, root: str) -> DataFrame:
    """The BULK form of the S2 verb under the correctness
    gate: ``load`` with a DataFrame in — key sanitation as a zero-copy
    projection, DISTRIBUTED schema inference (per-partition
    observation + treeAggregate), conform, parquet append — no
    records round-trip, no driver materialization.
    Two loads exercise the widen-only append: the second batch adds a
    ``batch_tag`` column, which must backfill NULL on the first
    batch's rows and append AFTER the existing fields; ``n_tagged``
    proves that through the oracle.

    Scale: this is the path a 100-TB load takes — every stage is a
    narrow distributed pass; the verb-decade row
    (SCALECHECK.json::warehouse_verb_decade, ``load_df`` leg) measures
    its decade slope against the record-oriented form's driver-bound
    6.02."""
    from load_datawarehouse_spark.warehouse import SparkWarehouse

    t = load_tables(spark, sf_dir, register_views=False)
    batch = t["documents"].filter(F.col("doc_id") < 500).select(
        "doc_id", "lang", "source", "n_chars"
    )
    wh = SparkWarehouse.new(spark, root, "docs_bulk")
    wh.load(batch.filter(F.col("doc_id") < 250))
    wh.load(
        batch.filter(F.col("doc_id") >= 250).withColumn("batch_tag", F.lit("b2"))
    )
    return (
        wh.df()
        .groupBy("lang", "source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").alias("sum_chars"),
            F.count("batch_tag").alias("n_tagged"),
        )
        .orderBy("lang", "source")
    )


_WAREHOUSE_NESTED_ORACLE = """
SELECT lang,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(COUNT(meta_chars) AS BIGINT) AS n_with_chars,
       CAST(COUNT(meta_src) AS BIGINT) AS n_with_src,
       CAST(SUM(meta_chars) AS BIGINT) AS sum_chars
FROM (
    SELECT lang, n_chars AS meta_chars, CAST(NULL AS VARCHAR) AS meta_src
    FROM documents WHERE doc_id % 2 = 0
    UNION ALL
    SELECT lang, NULL, source FROM documents WHERE doc_id % 2 = 1
)
GROUP BY lang ORDER BY lang
"""


@_register("warehouse_load_nested_evolution", _WAREHOUSE_NESTED_ORACLE)
@on_scratch_dir
def warehouse_load_nested_evolution(
    spark: SparkSession, sf_dir: str, root: str
) -> DataFrame:
    """Nested-schema evolution on the S2 DataFrame bulk path, under
    the correctness gate: the table declares a RECORD
    column ``meta<chars, src>``, then two DataFrame batches each ship
    a struct missing ONE nested field (even docs carry only
    ``meta.chars``, odd docs only ``meta.src``). The conform stage
    must backfill the absent nested field with NULL per batch —
    mirroring ``_conform_record``'s recursion on the records path —
    instead of failing the whole-struct cast (which is exactly what
    a cast-based conform does on this query). The per-lang
    NULL census (``n_with_chars`` / ``n_with_src``) proves which
    nested field each batch populated.

    Scale: conform is a zero-shuffle projection (per-field struct
    rebuild in codegen); both loads stay narrow distributed passes
    like ``warehouse_load_dataframe``."""
    from load_datawarehouse_spark.warehouse import SparkWarehouse

    nested_schema = [
        {"name": "doc_id", "type": "INTEGER", "mode": "NULLABLE"},
        {"name": "lang", "type": "STRING", "mode": "NULLABLE"},
        {"name": "meta", "type": "RECORD", "mode": "NULLABLE", "fields": [
            {"name": "chars", "type": "INTEGER", "mode": "NULLABLE"},
            {"name": "src", "type": "STRING", "mode": "NULLABLE"},
        ]},
    ]
    t = load_tables(spark, sf_dir, register_views=False)
    docs = t["documents"]
    even = docs.filter(F.col("doc_id") % 2 == 0).select(
        "doc_id", "lang",
        F.struct(F.col("n_chars").cast("long").alias("chars")).alias("meta"),
    )
    odd = docs.filter(F.col("doc_id") % 2 == 1).select(
        "doc_id", "lang",
        F.struct(F.col("source").alias("src")).alias("meta"),
    )
    wh = SparkWarehouse.new(spark, root, "docs_nested")
    wh.load(even, schema=nested_schema, full_schema=True)
    wh.load(odd)  # adopts the table schema; conform backfills chars
    return (
        wh.df()
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.count("meta.chars").alias("n_with_chars"),
            F.count("meta.src").alias("n_with_src"),
            F.sum("meta.chars").alias("sum_chars"),
        )
        .orderBy("lang")
    )


# ---------------------------------------------------------------------------
# Schema inference under the driver gate
# ---------------------------------------------------------------------------

_SCHEMA_INFER_ORACLE = """
SELECT * FROM (VALUES
    ('doc_id', 'INTEGER', 'NULLABLE'),
    ('lang', 'STRING', 'NULLABLE'),
    ('n_chars', 'INTEGER', 'NULLABLE'),
    ('source', 'STRING', 'NULLABLE'),
    ('text', 'STRING', 'NULLABLE')
) AS t(name, type, mode)
ORDER BY name
"""


@_register("schema_infer_documents", _SCHEMA_INFER_ORACLE)
def schema_infer_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's computational core (observation walk ->
    condense -> api_repr, schema.py via schema_infer.py) run over a
    sample of the documents table and exposed as a driver-checkable
    relation: one row per inferred field. The oracle pins the expected
    golden schema — any inference regression flips the hash."""
    from load_datawarehouse_spark.schema_infer import infer_schema

    t = load_tables(spark, sf_dir, register_views=False)
    records = [r.asDict() for r in t["documents"].limit(50).collect()]
    api = infer_schema(records).schema
    rows = sorted(
        (f["name"], f["type"], f.get("mode", "NULLABLE")) for f in api
    )
    return spark.createDataFrame(rows, "name string, type string, mode string")


# ---------------------------------------------------------------------------
# Bucketed co-located join (shuffle-free big-big join via bucketBy)
# ---------------------------------------------------------------------------

BUCKET_COUNT = 8


def build_bucketed_tables(spark: SparkSession, t, orders_table: str, lineitem_table: str) -> None:
    """Write the sampled orders/lineitem sides as bucketed+sorted
    managed tables — ONE definition of the layout, shared by the
    registered operator and the plan-lock test so they can never
    drift apart."""
    (
        t["orders"].filter(F.col("o_orderkey") % 100 == 0)
        .write.bucketBy(BUCKET_COUNT, "o_orderkey")
        .sortBy("o_orderkey")
        .saveAsTable(orders_table)
    )
    (
        t["lineitem"].filter(F.col("l_orderkey") % 100 == 0)
        .select("l_orderkey", "l_extendedprice")
        .write.bucketBy(BUCKET_COUNT, "l_orderkey")
        .sortBy("l_orderkey")
        .saveAsTable(lineitem_table)
    )


def bucketed_join_plan(spark: SparkSession, orders_table: str, lineitem_table: str) -> DataFrame:
    """Join+agg over two already-bucketed managed tables; shared with
    tests/test_plans.py, which asserts the physical plan contains no
    Exchange on either join input (the whole point of bucketing)."""
    o, l = spark.table(orders_table), spark.table(lineitem_table)
    return (
        o.join(l, o.o_orderkey == l.l_orderkey)
        .groupBy("o_orderkey")
        .agg(
            F.count(F.lit(1)).alias("n_lines"),
            F.sum(F.col("l_extendedprice").cast(DEC)).cast("double").alias("order_value"),
        )
        .orderBy("o_orderkey")
    )




_BUCKETED_ORACLE = """
SELECT o.o_orderkey, COUNT(*) AS n_lines,
       CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(38,6))) AS DOUBLE) AS order_value
FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
WHERE o.o_orderkey % 100 = 0
GROUP BY o.o_orderkey
ORDER BY o.o_orderkey
"""


@_register("join_bucketed_colocated", _BUCKETED_ORACLE)
def join_bucketed_colocated(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The co-located big-big join: both fact tables are written
    ``bucketBy(orderkey)`` into managed tables, so the join matches
    bucket-to-bucket with NO Exchange on either side (locked in
    tests/test_plans.py) — the pattern that turns the nightly
    fact-fact join from the cluster's biggest shuffle into a local
    merge. At 100 TB you pay the bucketed write once and every
    downstream join on the key is shuffle-free.

    The test tables are rebuilt per call (bounded: sampled keys);
    production buckets persist across queries — that amortization is
    the point."""
    import uuid

    t = load_tables(spark, sf_dir, register_views=False)
    suffix = uuid.uuid4().hex[:8]
    to, tl = f"b_orders_{suffix}", f"b_lineitem_{suffix}"
    try:
        build_bucketed_tables(spark, t, to, tl)
        joined = bucketed_join_plan(spark, to, tl)
        rows = joined.collect()
        return spark.createDataFrame(rows, joined.schema)
    finally:
        for name in (to, tl):
            try:
                spark.sql(f"DROP TABLE IF EXISTS {name}")
            except Exception:
                pass


# ---------------------------------------------------------------------------
# Dynamic partition pruning (partitioned fact + selective dim filter)
# ---------------------------------------------------------------------------

_DPP_ORACLE = """
SELECT o_orderpriority, COUNT(*) AS n_orders,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(38,6))) AS DOUBLE) AS total_value
FROM orders
WHERE o_orderpriority IN ('1-URGENT', '2-HIGH')
GROUP BY o_orderpriority
ORDER BY o_orderpriority
"""


def build_dpp_layout(spark: SparkSession, t, fact_path: str, dim_path: str) -> None:
    """Hive-partitioned fact + small dim parquet — one layout
    definition shared by the operator and the plan-lock test."""
    t["orders"].write.partitionBy("o_orderpriority").parquet(fact_path)
    t["orders"].select(
        F.col("o_orderpriority").alias("prio")
    ).distinct().write.parquet(dim_path)


def dpp_join_plan(spark: SparkSession, fact_path: str, dim_path: str) -> DataFrame:
    """Partitioned-fact ⨝ filtered-dim join; shared with
    tests/test_plans.py, which asserts the scan carries a
    ``dynamicpruning`` partition filter (only the dim-selected
    partitions are read). The dim must be a real source with a
    selective Filter — that filter is what DPP pushes through the
    join onto the fact's partition column."""
    dim = spark.read.parquet(dim_path).filter(
        F.col("prio").isin("1-URGENT", "2-HIGH")
    )
    fact = spark.read.parquet(fact_path)
    return (
        fact.join(bcast_bounded(dim, "priority dim: 5 rows"), fact.o_orderpriority == dim.prio)
        .groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum(F.col("o_totalprice").cast(DEC)).cast("double").alias("total_value"),
        )
        .orderBy("o_orderpriority")
    )


@_register("join_dynamic_partition_pruned", _DPP_ORACLE)
@on_scratch_dir
def join_dynamic_partition_pruned(
    spark: SparkSession, sf_dir: str, root: str
) -> DataFrame:
    """Dynamic partition pruning: the fact table is laid out
    hive-partitioned on the join key, and the selective dimension
    filter prunes fact partitions AT RUNTIME (Catalyst injects a
    ``dynamicpruning`` subquery into the scan, locked in
    tests/test_plans.py) — at 100 TB the scan reads 2 of 5 partitions
    instead of the whole table, before a single row moves.

    The partitioned copy is rebuilt per call here; production lays
    the fact table out once and every selective dim join prunes for
    free."""
    t = load_tables(spark, sf_dir, register_views=False)
    path = os.path.join(root, "orders_part")
    dim_path = os.path.join(root, "prio_dim")
    build_dpp_layout(spark, t, path, dim_path)
    return dpp_join_plan(spark, path, dim_path)


# ---------------------------------------------------------------------------
# Exact-moment statistics: covariance & Pearson correlation
# ---------------------------------------------------------------------------

_CORR_ORACLE = """
WITH m AS (
    SELECT COUNT(*) AS n,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(38,6))) AS DOUBLE) AS sx,
           CAST(SUM(CAST(c_acctbal AS DECIMAL(38,6))) AS DOUBLE) AS sy,
           CAST(SUM(CAST(o_totalprice * c_acctbal AS DECIMAL(38,6))) AS DOUBLE) AS sxy,
           CAST(SUM(CAST(o_totalprice * o_totalprice AS DECIMAL(38,6))) AS DOUBLE) AS sxx,
           CAST(SUM(CAST(c_acctbal * c_acctbal AS DECIMAL(38,6))) AS DOUBLE) AS syy
    FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
)
SELECT n,
       ROUND((sxy - sx * sy / n) / n, 6) AS cov_pop,
       -- final float arithmetic quantized: expression compilers may
       -- contract a*b-c into FMA, shifting the last ulps
       ROUND((sxy - sx * sy / n)
         / SQRT((sxx - sx * sx / n) * (syy - sy * sy / n)), 12) AS pearson_r
FROM m
"""


@_register("stat_corr_cov", _CORR_ORACLE)
def stat_corr_cov(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Population covariance and Pearson correlation between order
    value and the customer's account balance, computed from exact
    decimal moment sums (n, Σx, Σy, Σxy, Σx², Σy²) so the result is
    bit-identical across engines — the built-in ``corr``/``covar_pop``
    aggregate double sums in engine-specific order and cannot be
    oracle-hashed.

    Scale: moments are a single partial-aggregable pass after one
    key join; the final arithmetic touches one row."""
    t = load_tables(spark, sf_dir, register_views=False)
    j = t["orders"].join(
        t["customer"], F.col("c_custkey") == F.col("o_custkey")
    )
    x, y = F.col("o_totalprice"), F.col("c_acctbal")
    m = j.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(x.cast(DEC)).cast("double").alias("sx"),
        F.sum(y.cast(DEC)).cast("double").alias("sy"),
        F.sum((x * y).cast(DEC)).cast("double").alias("sxy"),
        F.sum((x * x).cast(DEC)).cast("double").alias("sxx"),
        F.sum((y * y).cast(DEC)).cast("double").alias("syy"),
    )
    n = F.col("n")
    cov = (F.col("sxy") - F.col("sx") * F.col("sy") / n) / n
    r = (F.col("sxy") - F.col("sx") * F.col("sy") / n) / F.sqrt(
        (F.col("sxx") - F.col("sx") * F.col("sx") / n)
        * (F.col("syy") - F.col("sy") * F.col("sy") / n)
    )
    return m.select(
        "n",
        F.round(cov, 6).alias("cov_pop"),
        F.round(r, 12).alias("pearson_r"),
    )


# ---------------------------------------------------------------------------
# Funnel conversion (view -> click -> purchase, strictly ordered)
# ---------------------------------------------------------------------------

_FUNNEL_ORACLE = """
WITH v AS (
    SELECT user_id, MIN(ts) AS t_view FROM events
    WHERE event_type = 'view' GROUP BY user_id
), c AS (
    SELECT e.user_id, MIN(e.ts) AS t_click
    FROM events e JOIN v ON v.user_id = e.user_id
    WHERE e.event_type = 'click' AND e.ts > v.t_view
    GROUP BY e.user_id
), p AS (
    SELECT e.user_id, MIN(e.ts) AS t_purchase
    FROM events e JOIN c ON c.user_id = e.user_id
    WHERE e.event_type = 'purchase' AND e.ts > c.t_click
    GROUP BY e.user_id
)
SELECT (SELECT COUNT(*) FROM v) AS n_view,
       (SELECT COUNT(*) FROM c) AS n_click_after_view,
       (SELECT COUNT(*) FROM p) AS n_purchase_after_click
"""


@_register("funnel_conversion", _FUNNEL_ORACLE)
def funnel_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Strictly-ordered funnel: users who viewed, then clicked after
    their first view, then purchased after that first click — the
    product-analytics conversion staple.

    Scale: each stage is one filter + groupBy(user) min, joined on
    user_id — every shuffle keys on user_id, so the three stages
    reuse one hash partitioning; no window over the raw event stream
    is ever needed."""
    t = load_tables(spark, sf_dir, register_views=False)
    ev = t["events"]
    v = (
        ev.filter(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("ts").alias("t_view"))
    )
    c = (
        ev.filter(F.col("event_type") == "click")
        .join(v, "user_id")
        .filter(F.col("ts") > F.col("t_view"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t_click"))
    )
    p = (
        ev.filter(F.col("event_type") == "purchase")
        .join(c, "user_id")
        .filter(F.col("ts") > F.col("t_click"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t_purchase"))
    )
    nv = v.agg(F.count(F.lit(1)).alias("n_view"))
    nc = c.agg(F.count(F.lit(1)).alias("n_click_after_view"))
    np_ = p.agg(F.count(F.lit(1)).alias("n_purchase_after_click"))
    return nv.crossJoin(nc).crossJoin(np_)


# ---------------------------------------------------------------------------
# Retention cohorts (first-active day x day offset)
# ---------------------------------------------------------------------------

_RETENTION_ORACLE = """
WITH firsts AS (
    SELECT user_id, MIN(date_trunc('day', ts)) AS cohort_day FROM events
    GROUP BY user_id
), activity AS (
    SELECT DISTINCT e.user_id, f.cohort_day,
           date_diff('day', f.cohort_day, date_trunc('day', e.ts)) AS day_offset
    FROM events e JOIN firsts f ON f.user_id = e.user_id
)
SELECT cohort_day, CAST(day_offset AS BIGINT) AS day_offset,
       COUNT(*) AS n_active_users
FROM activity
WHERE day_offset <= 7
GROUP BY cohort_day, day_offset
ORDER BY cohort_day, day_offset
"""


@_register("retention_cohorts", _RETENTION_ORACLE)
def retention_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly retention triangle: users grouped by first-active day,
    counted on each of their first 7 day-offsets — the standard
    cohort-retention matrix.

    Scale: first-activity and the activity join both key on user_id
    (one reusable hash partitioning); the distinct collapses to one
    row per (user, day) BEFORE the cohort aggregation, so the final
    shuffle carries user-days, not raw events."""
    t = load_tables(spark, sf_dir, register_views=False)
    ev = t["events"].select("user_id", F.date_trunc("day", "ts").alias("day"))
    firsts = ev.groupBy("user_id").agg(F.min("day").alias("cohort_day"))
    activity = (
        ev.join(firsts, "user_id")
        .select(
            "user_id",
            "cohort_day",
            F.datediff("day", "cohort_day").cast("long").alias("day_offset"),
        )
        .distinct()
    )
    return (
        activity.filter(F.col("day_offset") <= 7)
        .groupBy("cohort_day", "day_offset")
        .agg(F.count(F.lit(1)).alias("n_active_users"))
        .orderBy("cohort_day", "day_offset")
    )


# ---------------------------------------------------------------------------
# Warehouse lifecycle under the driver gate: expiry sweep + schema evolution
# ---------------------------------------------------------------------------

_EXPIRY_ORACLE = """
SELECT * FROM (VALUES
    ('t_expired', TRUE, FALSE),
    ('t_fresh', FALSE, TRUE)
) AS t(table_name, was_expired, still_exists)
ORDER BY table_name
"""


@_register("warehouse_expiry_sweep", _EXPIRY_ORACLE)
@on_scratch_dir
def warehouse_expiry_sweep(spark: SparkSession, sf_dir: str, root: str) -> DataFrame:
    """TTL lifecycle under the correctness gate: two tables get
    expiries (one past, one future); the sweep drops expired tables
    (set_expiry / is_expired / delete — reference
    bigquery/__init__.py:248-284 + classes.py drop alias) and the
    resulting inventory is pinned by the oracle."""
    import datetime as dt

    from load_datawarehouse_spark.warehouse import SparkWarehouse

    now = dt.datetime(2026, 1, 1, tzinfo=dt.timezone.utc)
    specs = {
        "t_expired": now - dt.timedelta(days=1),
        "t_fresh": now + dt.timedelta(days=1),
    }
    rows = []
    for name, exp in specs.items():
        wh = SparkWarehouse.new(spark, root, name, data=[{"k": 1}], expires=exp)
        wh.set_expiry(exp)
        was_expired = wh.is_expired(now=now)
        if was_expired:
            wh.delete()
        rows.append((name, was_expired, wh.exists()))
    return spark.createDataFrame(
        sorted(rows), "table_name string, was_expired boolean, still_exists boolean"
    )


_EVOLUTION_ORACLE = """
SELECT * FROM (VALUES
    (1, 'id', 'INTEGER'),
    (2, 'name', 'STRING'),
    (3, 'score', 'FLOAT'),
    (4, 'tag', 'STRING')
) AS t(position, name, type)
ORDER BY position
"""


@_register("warehouse_schema_evolution", _EVOLUTION_ORACLE)
@on_scratch_dir
def warehouse_schema_evolution(spark: SparkSession, sf_dir: str, root: str) -> DataFrame:
    """Widening append under the correctness gate: a table created
    with (id, name, score) receives a batch that omits `score` and
    adds `tag` — the declared schema must keep every existing field
    in its original position and append only the genuinely new field
    (no narrowing, no permutation; the silent-column-loss bug class
    the reference's condense() invites). The oracle pins the exact
    post-append layout."""
    from load_datawarehouse_spark.warehouse import SparkWarehouse

    wh = SparkWarehouse.new(
        spark, root, "evolving",
        data=[{"id": 1, "name": "a", "score": 1.5}],
    )
    wh.load([{"id": 2, "name": "b", "tag": "x"}])
    rows = [(i + 1, f["name"], f["type"]) for i, f in enumerate(wh.schema)]
    return spark.createDataFrame(rows, "position int, name string, type string")


# ---------------------------------------------------------------------------
# Small-file compaction (warehouse maintenance)
# ---------------------------------------------------------------------------

_COMPACTION_ORACLE = """
SELECT n_files_before, n_files_after,
       CAST(n_rows AS BIGINT) AS n_rows, rows_preserved
FROM (VALUES
    (10, 1, 500, TRUE)
) AS t(n_files_before, n_files_after, n_rows, rows_preserved)
"""


@_register("warehouse_compact_small_files", _COMPACTION_ORACLE)
@on_scratch_dir
def warehouse_compact_small_files(
    spark: SparkSession, sf_dir: str, root: str
) -> DataFrame:
    """Small-file compaction: a table fragmented into many tiny
    parquet files (the streaming-append pathology) is rewritten into
    few right-sized files with an atomic swap — the maintenance job
    every parquet warehouse runs nightly. Row counts before/after are
    pinned by the oracle; file counts are deterministic
    (maxRecordsPerFile on a single writer, then repartition(1)).

    Scale: the rewrite is a distributed repartition by target file
    count (at 100 TB, repartition to total_bytes/target_file_size
    and compact per partition-directory, not the whole table)."""
    import glob
    import shutil

    t = load_tables(spark, sf_dir, register_views=False)
    docs = t["documents"].select("doc_id", "lang", "source").limit(500)
    frag = os.path.join(root, "frag")
    docs.coalesce(1).write.option("maxRecordsPerFile", "50").parquet(frag)
    n_before = len(glob.glob(f"{frag}/*.parquet"))
    n_rows_before = spark.read.parquet(frag).count()
    compacted = os.path.join(root, "compacted")
    spark.read.parquet(frag).repartition(1).write.parquet(compacted)
    # atomic swap, same discipline as SparkWarehouse.update
    old = os.path.join(root, "old")
    os.replace(frag, old)
    os.replace(compacted, frag)
    shutil.rmtree(old)
    n_after = len(glob.glob(f"{frag}/*.parquet"))
    n_rows_after = spark.read.parquet(frag).count()
    return spark.createDataFrame(
        [(n_before, n_after, n_rows_after, n_rows_after == n_rows_before)],
        "n_files_before int, n_files_after int, n_rows long, rows_preserved boolean",
    )


# ---------------------------------------------------------------------------
# Nearest as-of join (absolute closest order in time, either direction)
# ---------------------------------------------------------------------------

_JOIN_ASOF_NEAREST_ORACLE = """
WITH v AS (
    SELECT event_id, user_id, ts FROM events WHERE event_type = 'view'
), p AS (
    SELECT user_id, ts, MAX(value) AS purchase_value
    FROM events WHERE event_type = 'purchase' GROUP BY user_id, ts
),
back AS (
    -- LEFT asof: keep views with no backward match (they may still
    -- have a forward one)
    SELECT v.event_id, v.user_id, v.ts, p.ts AS pts, p.purchase_value
    FROM v ASOF LEFT JOIN p ON v.user_id = p.user_id AND v.ts >= p.ts
),
fwd AS (
    SELECT v.event_id, p.ts AS pts, p.purchase_value
    FROM v ASOF LEFT JOIN p ON v.user_id = p.user_id AND v.ts <= p.ts
)
SELECT b.event_id, b.user_id,
       CASE WHEN f.pts IS NULL THEN b.pts
            WHEN b.pts IS NULL THEN f.pts
            WHEN epoch_us(b.ts) - epoch_us(b.pts)
                 <= epoch_us(f.pts) - epoch_us(b.ts) THEN b.pts
            ELSE f.pts END AS nearest_purchase_ts,
       CASE WHEN f.pts IS NULL THEN b.purchase_value
            WHEN b.pts IS NULL THEN f.purchase_value
            WHEN epoch_us(b.ts) - epoch_us(b.pts)
                 <= epoch_us(f.pts) - epoch_us(b.ts) THEN b.purchase_value
            ELSE f.purchase_value END AS purchase_value
FROM back b LEFT JOIN fwd f USING (event_id)
WHERE b.pts IS NOT NULL OR f.pts IS NOT NULL
ORDER BY b.event_id
"""


def _asof_backward_purchases(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Latest purchase at-or-before each view (per user) — the
    backward leg of ``join_asof_nearest``, same union + single-shuffle
    technique as ``join_asof_forward`` with the PRECEDING window.
    LEFT semantics: views with no prior purchase keep a NULL leg."""
    t = load_tables(spark, sf_dir, register_views=False)
    v = t["events"].filter(F.col("event_type") == "view")
    p = (
        t["events"]
        .filter(F.col("event_type") == "purchase")
        .groupBy("user_id", "ts")
        .agg(F.max("value").alias("purchase_value"))
    )
    p_side = p.select(
        "user_id",
        F.col("ts").alias("t"),
        F.lit(0).alias("is_view"),
        F.lit(None).cast("long").alias("event_id"),
        F.col("ts").alias("prev_purchase_ts"),
        "purchase_value",
    )
    v_side = v.select(
        "user_id",
        F.col("ts").alias("t"),
        F.lit(1).alias("is_view"),
        "event_id",
        F.lit(None).cast("timestamp").alias("prev_purchase_ts"),
        F.lit(None).cast("double").alias("purchase_value"),
    )
    # purchases (is_view=0) sort BEFORE same-instant views, so the
    # at-or-before match is inclusive
    w = (
        Window.partitionBy("user_id")
        .orderBy("t", "is_view")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    merged = p_side.unionByName(v_side).select(
        "event_id",
        "user_id",
        "is_view",
        F.last("prev_purchase_ts", ignorenulls=True).over(w).alias("prev_purchase_ts"),
        F.last("purchase_value", ignorenulls=True).over(w).alias("purchase_value"),
    )
    return merged.filter(F.col("is_view") == 1).select(
        "event_id", "user_id", "prev_purchase_ts", "purchase_value"
    )


@_register("join_asof_nearest", _JOIN_ASOF_NEAREST_ORACLE)
def join_asof_nearest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nearest-in-time as-of join: each ``view`` event matched to its
    user's temporally CLOSEST ``purchase``, looking both directions
    (sensor-fusion / measurement-alignment semantics; equidistant
    ties break backward; distances compared in exact microseconds on
    both engines — ``unix_micros`` / ``epoch_us``).

    Round 16 re-anchor: the old events->nearest-order-day shape was a
    FULL output twin of ``join_asof`` at every certified scale (the
    census output-hash probe caught it: events are 2024-01, orders
    end 2001-08, so the forward leg matched nothing and "nearest"
    degenerated to "backward" on 100% of rows — the forward-wins
    branch had zero corpus evidence, same class as the rank vs
    dense_rank catch). view->purchase is same-era by construction:
    both branches are live at sf0.01 and the op's output now differs
    from both ``join_asof`` (different domain) and
    ``join_asof_forward`` (bidirectional vs forward-only). The
    purchase side is pre-deduped per (user, ts) so the match is
    deterministic under timestamp ties.

    Scale: composes the two directional passes — each is the
    union+window single-shuffle pattern (the forward leg IS the
    registered ``join_asof_forward``) — and merges per event; all
    three stages hash on the same user/event keys."""
    back = _asof_backward_purchases(spark, sf_dir).select(
        "event_id",
        F.col("prev_purchase_ts").alias("b_ts"),
        F.col("purchase_value").alias("b_val"),
    )
    fwd = join_asof_forward(spark, sf_dir).select(
        "event_id",
        F.col("next_purchase_ts").alias("f_ts"),
        F.col("purchase_value").alias("f_val"),
    )
    t = load_tables(spark, sf_dir, register_views=False)
    ev = t["events"].filter(F.col("event_type") == "view").select(
        "event_id", "user_id", "ts"
    )
    j = (
        ev.join(back, "event_id", "left")
        .join(fwd, "event_id", "left")
        .filter(F.col("b_ts").isNotNull() | F.col("f_ts").isNotNull())
    )
    # ADVICE r16 #2: distances are computed with timestampdiff on the
    # NTZ columns DIRECTLY — pure field arithmetic, independent of the
    # session timezone — instead of the previous
    # unix_micros(cast('timestamp')) whose three casts only cancel
    # when the session zone's UTC offset is constant across the three
    # wall times (a DST transition between them shifts one leg by the
    # DST gap on a mis-pinned session)
    dist_back = F.expr("timestampdiff(MICROSECOND, b_ts, ts)")
    dist_fwd = F.expr("timestampdiff(MICROSECOND, ts, f_ts)")
    back_closer = (
        F.col("f_ts").isNull()
        | (F.col("b_ts").isNotNull() & (dist_back <= dist_fwd))
    )
    return j.select(
        "event_id",
        "user_id",
        F.when(back_closer, F.col("b_ts")).otherwise(F.col("f_ts")).alias("nearest_purchase_ts"),
        F.when(back_closer, F.col("b_val")).otherwise(F.col("f_val")).alias("purchase_value"),
    ).orderBy("event_id")


# ---------------------------------------------------------------------------
# FILTER-clause (conditional) aggregates
# ---------------------------------------------------------------------------

_FILTERED_AGG_ORACLE = f"""
SELECT l_returnflag,
       COUNT(*) AS n_all,
       COUNT(*) FILTER (WHERE l_quantity > 25) AS n_large,
       {sql_dec_sum('l_extendedprice', 'sum_all')},
       CAST(SUM(CAST(l_extendedprice AS DECIMAL(38,6)))
            FILTER (WHERE l_discount > 0.05) AS DOUBLE) AS sum_discounted
FROM lineitem
GROUP BY l_returnflag
ORDER BY l_returnflag
"""


@_register("agg_filtered_aggregates", _FILTERED_AGG_ORACLE)
def agg_filtered_aggregates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conditional aggregation (the SQL FILTER clause): several
    differently-filtered aggregates computed in ONE pass over the
    fact table — the idiom that replaces N self-joined subqueries
    with a single scan.

    Scale: one scan, one partial-aggregated shuffle regardless of how
    many conditions are stacked; each FILTER compiles to a
    when()-guarded accumulator inside codegen."""
    t = load_tables(spark, sf_dir, register_views=False)
    return (
        t["lineitem"]
        .groupBy("l_returnflag")
        .agg(
            F.count(F.lit(1)).alias("n_all"),
            F.count(F.when(F.col("l_quantity") > 25, 1)).alias("n_large"),
            dec_sum("l_extendedprice", "sum_all"),
            F.sum(
                F.when(F.col("l_discount") > 0.05, F.col("l_extendedprice").cast(DEC))
            )
            .cast("double")
            .alias("sum_discounted"),
        )
        .orderBy("l_returnflag")
    )


# ---------------------------------------------------------------------------
# Deterministic arg-max aggregation (struct-max idiom)
# ---------------------------------------------------------------------------

_ARGMAX_ORACLE = """
SELECT n_nationkey,
       (MAX({'bal': c_acctbal, 'key': c_custkey})).bal AS top_acctbal,
       (MAX({'bal': c_acctbal, 'key': c_custkey})).key AS top_custkey
FROM customer JOIN nation ON n_nationkey = c_nationkey
GROUP BY n_nationkey
ORDER BY n_nationkey
"""


@_register("agg_argmax_struct", _ARGMAX_ORACLE)
def agg_argmax_struct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Richest customer per nation via the struct-max idiom: MAX over
    (value, tiebreak-key) structs is lexicographic in both engines, so
    the arg-max is total-ordered and engine-identical — the
    deterministic form of ``max_by``/``arg_max``, whose bare versions
    pick an arbitrary row among ties.

    Scale: a plain partial-aggregable MAX — one shuffle carrying one
    struct per (nation, partition)."""
    t = load_tables(spark, sf_dir, register_views=False)
    j = t["customer"].join(
        bcast_bounded(t["nation"].select("n_nationkey"), "nation: 25 rows"),
        F.col("n_nationkey") == F.col("c_nationkey"),
    )
    top = F.max(F.struct(F.col("c_acctbal").alias("bal"), F.col("c_custkey").alias("key")))
    return (
        j.groupBy("n_nationkey")
        .agg(top.alias("top"))
        .select(
            "n_nationkey",
            F.col("top.bal").alias("top_acctbal"),
            F.col("top.key").alias("top_custkey"),
        )
        .orderBy("n_nationkey")
    )


# ---------------------------------------------------------------------------
# Bag-semantics set operations (INTERSECT ALL / EXCEPT ALL)
# ---------------------------------------------------------------------------

_SETOP_INTERSECT_ALL_ORACLE = """
SELECT l_orderkey, l_partkey FROM lineitem WHERE l_quantity > 10
INTERSECT ALL
SELECT l_orderkey, l_partkey FROM lineitem WHERE l_discount > 0.02
ORDER BY l_orderkey, l_partkey
"""


@_register("setop_intersect_all", _SETOP_INTERSECT_ALL_ORACLE)
def setop_intersect_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INTERSECT ALL — bag semantics: a row appears min(n_left,
    n_right) times (the DISTINCT-less form SQL parity requires;
    ``setop_intersect`` is the set form).

    Scale: compiles to a counted hash aggregation on both sides +
    join — one shuffle per side on the row hash."""
    t = load_tables(spark, sf_dir, register_views=False)
    l = t["lineitem"]
    a = l.filter(F.col("l_quantity") > 10).select("l_orderkey", "l_partkey")
    b = l.filter(F.col("l_discount") > 0.02).select("l_orderkey", "l_partkey")
    return a.intersectAll(b).orderBy("l_orderkey", "l_partkey")


_SETOP_EXCEPT_ALL_ORACLE = """
SELECT l_orderkey, l_partkey FROM lineitem WHERE l_quantity > 10
EXCEPT ALL
SELECT l_orderkey, l_partkey FROM lineitem WHERE l_discount > 0.02
ORDER BY l_orderkey, l_partkey
"""


@_register("setop_except_all", _SETOP_EXCEPT_ALL_ORACLE)
def setop_except_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXCEPT ALL — bag semantics: each row survives max(n_left -
    n_right, 0) times.

    Scale: same counted-aggregation shape as INTERSECT ALL."""
    t = load_tables(spark, sf_dir, register_views=False)
    l = t["lineitem"]
    a = l.filter(F.col("l_quantity") > 10).select("l_orderkey", "l_partkey")
    b = l.filter(F.col("l_discount") > 0.02).select("l_orderkey", "l_partkey")
    return a.exceptAll(b).orderBy("l_orderkey", "l_partkey")


# ---------------------------------------------------------------------------
# Null-handling scalar family (COALESCE / NULLIF / null-safe arithmetic)
# ---------------------------------------------------------------------------

_NULL_SEMANTICS_ORACLE = """
SELECT event_id,
       COALESCE(json_extract_string(props, '$.missing'),
                json_extract_string(props, '$.tag'), 'default') AS first_present,
       NULLIF(event_type, 'error') AS type_or_null,
       (value + NULL) IS NULL AS arith_propagates,
       COALESCE(CAST(json_extract_string(props, '$.missing') AS DOUBLE), 0.0)
           + value AS value_with_default
FROM events
ORDER BY event_id
LIMIT 2000
"""


@_register("scalar_null_semantics", _NULL_SEMANTICS_ORACLE)
def scalar_null_semantics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The null-handling scalar family: COALESCE fallback chains over
    sparse JSON fields, NULLIF sentinel suppression, and null
    propagation through arithmetic — the semantics every SQL port
    gets subtly wrong first.

    Scale: pure per-row codegen projections."""
    t = load_tables(spark, sf_dir, register_views=False)
    missing = F.get_json_object("props", "$.missing")
    tag = F.get_json_object("props", "$.tag")
    return (
        t["events"]
        .select(
            "event_id",
            F.coalesce(missing, tag, F.lit("default")).alias("first_present"),
            F.nullif(F.col("event_type"), F.lit("error")).alias("type_or_null"),
            (F.col("value") + F.lit(None)).isNull().alias("arith_propagates"),
            (F.coalesce(missing.cast("double"), F.lit(0.0)) + F.col("value")).alias(
                "value_with_default"
            ),
        )
        .orderBy("event_id")
        .limit(2000)
    )


# ---------------------------------------------------------------------------
# Skewed-key join stress: zipfian hot key, salted to spread the shuffle
# ---------------------------------------------------------------------------

_SKEW_STRESS_ORACLE = """
SELECT o.o_orderpriority,
       COUNT(*) AS n_pairs,
       CAST(SUM(CAST(e.value AS DECIMAL(38,6))) AS DOUBLE) AS total_value
FROM (
    SELECT CASE WHEN event_id % 10 < 7 THEN 1 ELSE user_id END AS skew_key,
           value
    FROM events
) e
JOIN orders o ON o.o_custkey = e.skew_key
GROUP BY o.o_orderpriority
ORDER BY o.o_orderpriority
"""


def _skew_stress_events(t) -> DataFrame:
    """Events with a deliberately zipfian join key: 70% of rows collapse
    onto customer key 1, the rest keep their uniform ``user_id``. The
    driver tables are uniform, so skew is derived deterministically —
    same expression in the oracle, so correctness still hash-checks."""
    return t["events"].select(
        F.when(F.col("event_id") % 10 < 7, F.lit(1).cast("long"))
        .otherwise(F.col("user_id"))
        .alias("skew_key"),
        "event_id",
        "value",
    )


#: the deterministic hot-key set of `_skew_stress_events` (in
#: production this comes from a cheap approximate frequency pass —
#: e.g. a sampled countByKey — not from full data knowledge)
_SKEW_HOT_KEYS = (1,)


def _skew_stress_join(spark: SparkSession, sf_dir: str, salted: bool) -> DataFrame:
    t = load_tables(spark, sf_dir, register_views=False)
    e = _skew_stress_events(t)
    if salted:
        # SELECTIVE salting: only hot-key build rows replicate K ways;
        # the long tail keeps one copy on salt 0. Blanket x K
        # replication of the whole build side costs more than the skew
        # it cures (measured: 2.4x slower than unsalted at sf1).
        hot = F.col("o_custkey").isin(*_SKEW_HOT_KEYS)
        o = (
            t["orders"]
            .select("o_custkey", "o_orderpriority")
            .withColumn(
                "salt",
                F.explode(
                    F.when(
                        hot, F.sequence(F.lit(0), F.lit(_SALT_K - 1))
                    ).otherwise(F.array(F.lit(0)))
                ),
            )
        )
        probe_hot = F.col("skew_key").isin(*_SKEW_HOT_KEYS)
        e = e.withColumn(
            "salt",
            F.when(
                probe_hot, F.pmod(F.xxhash64("event_id"), F.lit(_SALT_K))
            ).otherwise(F.lit(0).cast("bigint")),
        )
        joined = e.hint("shuffle_hash").join(
            o,
            (F.col("skew_key") == F.col("o_custkey")) & (e.salt == o.salt),
        )
    else:
        joined = e.hint("shuffle_hash").join(
            t["orders"].select("o_custkey", "o_orderpriority"),
            F.col("skew_key") == F.col("o_custkey"),
        )
    return (
        joined.groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_pairs"),
            dec_sum("value", "total_value"),
        )
        .orderBy("o_orderpriority")
    )


@_register("join_skew_stress", _SKEW_STRESS_ORACLE)
def join_skew_stress(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shuffle join under a zipfian key distribution, salted (K=8).

    70% of the probe rows share one hot key; an unsalted hash shuffle
    sends them all to one reducer, so one straggler task gates the
    stage while the other 31 idle. Only the HOT build rows replicate
    x8 with a salt (selective salting — the long tail keeps salt 0),
    hot probe rows pick one deterministic salt each, and the hot key's
    rows spread over 8 partitions — result identical to the plain join
    (oracle is the unsalted SQL).

    The shuffle_hash hint forces the shuffled plan (a broadcast of the
    dim side would sidestep the skew being demonstrated; at 100 TB the
    dim side is too big to broadcast anyway). scalecheck.py times the
    salted vs unsalted variants on the replicated sf1 data — the
    measured gap is the evidence behind this pattern.

    Scale: K-fold build replication only pays on genuinely hot keys; in
    production filter the replication to the hot-key set (cf.
    join_skew_salted) or let AQE skew-split handle sort-merge cases.
    """
    return _skew_stress_join(spark, sf_dir, salted=True)


# ---------------------------------------------------------------------------
# Warehouse time travel: snapshot versions + as-of reads
# ---------------------------------------------------------------------------

_TIME_TRAVEL_ORACLE = """
SELECT * FROM (
    SELECT 'v1' AS version,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(doc_id) AS BIGINT) AS sum_doc_id,
           CAST(0 AS BIGINT) AS n_redacted
    FROM documents WHERE doc_id < 60
    UNION ALL
    SELECT 'v2',
           CAST(COUNT(*) AS BIGINT),
           CAST(SUM(doc_id) AS BIGINT),
           CAST(0 AS BIGINT)
    FROM documents WHERE doc_id < 100
    UNION ALL
    SELECT 'current',
           CAST(COUNT(*) AS BIGINT),
           CAST(SUM(doc_id) AS BIGINT),
           CAST(SUM(CASE WHEN doc_id < 10 THEN 1 ELSE 0 END) AS BIGINT)
    FROM documents WHERE doc_id < 100
) ORDER BY version
"""


@_register("warehouse_time_travel", _TIME_TRAVEL_ORACLE)
@on_scratch_dir
def warehouse_time_travel(spark: SparkSession, sf_dir: str, root: str) -> DataFrame:
    """Snapshot/time-travel lifecycle under the correctness gate:
    load batch 1 -> snapshot v1 -> append batch 2 -> snapshot v2 ->
    upsert (redact lang of early docs) -> read v1, v2, and current
    state side by side. The as-of reads must see the table exactly as
    it was: v1 without batch 2, v2 without the redaction — the
    guarantee that makes reproducible training-data builds possible
    ("train on the corpus as of snapshot N").

    Scale: snapshots are hard-link copies of immutable parquet files
    (O(file count), zero data bytes; see ``SparkWarehouse.snapshot``);
    as-of reads are plain parquet scans of the pinned file set with
    the schema of their time.
    """
    from load_datawarehouse_spark.warehouse import SparkWarehouse

    t = load_tables(spark, sf_dir, register_views=False)
    docs = t["documents"].select("doc_id", "lang", "source")
    batch1 = [r.asDict() for r in docs.filter(F.col("doc_id") < 60).collect()]
    batch2 = [
        r.asDict()
        for r in docs.filter((F.col("doc_id") >= 60) & (F.col("doc_id") < 100)).collect()
    ]
    wh = SparkWarehouse.new(spark, root, "corpus", data=batch1)
    v1 = wh.snapshot()
    wh.load(batch2)
    v2 = wh.snapshot()
    redacted = [
        {**r, "lang": "redacted"} for r in batch1 if r["doc_id"] < 10
    ]
    wh.update(redacted, keys=["doc_id"])

    def stats(df: DataFrame, label: str) -> DataFrame:
        return df.agg(
            F.lit(label).alias("version"),
            F.count(F.lit(1)).alias("n_rows"),
            F.sum("doc_id").alias("sum_doc_id"),
            F.sum(
                F.when(F.col("lang") == "redacted", 1).otherwise(0)
            ).alias("n_redacted"),
        )
    return (
        stats(wh.df_at(v1), "v1")
        .unionByName(stats(wh.df_at(v2), "v2"))
        .unionByName(stats(wh.df(), "current"))
        .orderBy("version")
    )


# ---------------------------------------------------------------------------
# Warehouse 3-way CDC merge (I/U/D) under the correctness gate
# ---------------------------------------------------------------------------

_MERGE_CDC_ORACLE = """
SELECT doc_id,
       CASE WHEN doc_id % 10 = 1 THEN 'updated' ELSE lang END AS lang
FROM documents
WHERE doc_id < 80 AND doc_id % 10 <> 2
UNION ALL
SELECT doc_id + 100000, 'inserted' FROM documents WHERE doc_id < 5
ORDER BY doc_id
"""


@_register("warehouse_merge_cdc", _MERGE_CDC_ORACLE)
@on_scratch_dir
def warehouse_merge_cdc(spark: SparkSession, sf_dir: str, root: str) -> DataFrame:
    """Full MERGE INTO semantics through ``SparkWarehouse.merge``: a
    CDC batch mixing inserts (new keys), updates (lang rewrite on
    keys ending in 1), and deletes (keys ending in 2) applied in ONE
    key shuffle — the upsert-only ``update`` verb cannot express the
    deletes. The oracle reconstructs the exact post-merge table.

    Scale: anti join on the distinct changed-key set + union of the
    I/U payload; cost is one shuffle of the table on the merge key
    regardless of op mix. Same atomic temp-path swap discipline as
    ``update`` (single-writer, SURVEY.md §7.5).
    """
    from load_datawarehouse_spark.warehouse import SparkWarehouse

    t = load_tables(spark, sf_dir, register_views=False)
    docs = t["documents"].select("doc_id", "lang")
    base = [r.asDict() for r in docs.filter(F.col("doc_id") < 80).collect()]
    changes = (
        [
            {"doc_id": r["doc_id"], "lang": "updated", "op": "U"}
            for r in base
            if r["doc_id"] % 10 == 1
        ]
        + [
            {"doc_id": r["doc_id"], "lang": r["lang"], "op": "D"}
            for r in base
            if r["doc_id"] % 10 == 2
        ]
        + [
            {"doc_id": r["doc_id"] + 100000, "lang": "inserted", "op": "I"}
            for r in base
            if r["doc_id"] < 5
        ]
    )
    wh = SparkWarehouse.new(spark, root, "cdc", data=base)
    wh.merge(changes, keys=["doc_id"])
    return wh.df().orderBy("doc_id")


# ---------------------------------------------------------------------------
# try_* arithmetic: NULL-on-error scalar semantics
# ---------------------------------------------------------------------------

_TRY_ARITH_ORACLE = """
SELECT l_orderkey, l_linenumber,
       CASE WHEN l_quantity - 25 = 0 THEN NULL
            ELSE l_extendedprice / (l_quantity - 25) END AS price_per_excess,
       TRY_CAST(CASE WHEN l_linenumber % 2 = 1
                     THEN CAST(l_quantity AS VARCHAR)
                     ELSE l_returnflag END AS DOUBLE) AS flag_as_number,
       CASE WHEN l_linenumber - 1 = 0 THEN NULL
            ELSE CAST(l_orderkey % 100 AS BIGINT) / (l_linenumber - 1) END
           AS per_prior_line
FROM lineitem
WHERE l_orderkey < 200
ORDER BY l_orderkey, l_linenumber
"""


@_register("scalar_try_arith", _TRY_ARITH_ORACLE)
def scalar_try_arith(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NULL-on-error scalar family: ``try_divide`` (division by zero
    -> NULL instead of ANSI error), ``try_to_number`` (unparseable
    string -> NULL). Under ANSI mode (Spark 4 default) these are the
    idiomatic guards; the oracle replays them as CASE/TRY_CAST.

    ``flag_as_number`` parses a MIXED string feed (numeric literal on
    odd line numbers, the alpha return flag on even ones) so BOTH
    try_cast branches are live at every scale — the round-14 column
    census found the old ``try_cast(l_returnflag)`` form NULL in 100%
    of rows (the flag is always A/N/R), making its success branch
    vacuous (VERDICT r14 #2).

    Scale: pure codegen expressions — narrow, no shuffle beyond the
    final sort."""
    t = load_tables(spark, sf_dir, register_views=False)
    l = t["lineitem"].filter(F.col("l_orderkey") < 200)
    return l.select(
        "l_orderkey",
        "l_linenumber",
        F.try_divide(
            F.col("l_extendedprice"), F.col("l_quantity") - 25
        ).alias("price_per_excess"),
        F.expr(
            "try_cast(CASE WHEN l_linenumber % 2 = 1 "
            "THEN CAST(l_quantity AS STRING) "
            "ELSE l_returnflag END AS DOUBLE)"
        ).alias("flag_as_number"),
        F.try_divide(
            (F.col("l_orderkey") % 100).cast("bigint"),
            (F.col("l_linenumber") - 1).cast("bigint"),
        ).alias("per_prior_line"),
    ).orderBy("l_orderkey", "l_linenumber")


# ---------------------------------------------------------------------------
# Warehouse snapshot vacuum (retention GC) under the correctness gate
# ---------------------------------------------------------------------------

_VACUUM_ORACLE = """
SELECT * FROM (
    SELECT 'v1' AS version, CAST(0 AS BIGINT) AS readable,
           CAST(-1 AS BIGINT) AS n_rows
    UNION ALL
    SELECT 'v2', CAST(0 AS BIGINT), CAST(-1 AS BIGINT)
    UNION ALL
    SELECT 'v3', CAST(1 AS BIGINT),
           (SELECT CAST(COUNT(*) AS BIGINT) FROM documents WHERE doc_id < 100)
    UNION ALL
    SELECT 'v4', CAST(1 AS BIGINT),
           (SELECT CAST(COUNT(*) AS BIGINT) FROM documents WHERE doc_id < 100)
) ORDER BY version
"""


@_register("warehouse_vacuum_snapshots", _VACUUM_ORACLE)
@on_scratch_dir
def warehouse_vacuum_snapshots(
    spark: SparkSession, sf_dir: str, root: str
) -> DataFrame:
    """Snapshot retention GC: load -> v1 -> append -> v2 -> append ->
    v3 -> ``vacuum(keep_last=1)`` -> snapshot again. v1/v2 must be
    GONE (as-of reads raise — reproducibility failures are loud, never
    a silent read of a different snapshot), v3 must still read
    exactly, and the post-vacuum snapshot must take number v4 — the
    monotonic-counter guarantee that vacuuming history can never make
    two different table states share a version number.

    Scale: vacuum is O(files) hard-link unlinks per dropped version
    (see ``SparkWarehouse.vacuum``); nothing data-sized moves.
    """
    from load_datawarehouse_spark.errors import WarehouseTableNotFound
    from load_datawarehouse_spark.warehouse import SparkWarehouse

    t = load_tables(spark, sf_dir, register_views=False)
    docs = t["documents"].select("doc_id", "lang")
    batches = [
        [r.asDict() for r in docs.filter(F.col("doc_id") < 50).collect()],
        [
            r.asDict()
            for r in docs.filter(
                (F.col("doc_id") >= 50) & (F.col("doc_id") < 80)
            ).collect()
        ],
        [
            r.asDict()
            for r in docs.filter(
                (F.col("doc_id") >= 80) & (F.col("doc_id") < 100)
            ).collect()
        ],
    ]
    wh = SparkWarehouse.new(spark, root, "corpus", data=batches[0])
    v1 = wh.snapshot()
    wh.load(batches[1])
    v2 = wh.snapshot()
    wh.load(batches[2])
    v3 = wh.snapshot()
    assert wh.vacuum(keep_last=1) == [v1, v2]
    v4 = wh.snapshot()
    assert v4 == v3 + 1

    def probe(version: int, label: str) -> tuple:
        try:
            n = wh.df_at(version).count()
            return (label, 1, n)
        except WarehouseTableNotFound:
            return (label, 0, -1)

    rows = [probe(v, f"v{v}") for v in (v1, v2, v3, v4)]
    return spark.createDataFrame(
        rows, "version string, readable long, n_rows long"
    ).orderBy("version")


# ---------------------------------------------------------------------------
# Table profiling (ANALYZE-style column statistics, one pass)
# ---------------------------------------------------------------------------

_PROFILE_ORACLE = """
SELECT * FROM (
    SELECT 'l_quantity' AS column_name,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(COUNT(*) - COUNT(l_quantity) AS BIGINT) AS n_nulls,
           CAST(COUNT(DISTINCT l_quantity) AS BIGINT) AS n_distinct,
           CAST(MIN(l_quantity) AS DOUBLE) AS min_value,
           CAST(MAX(l_quantity) AS DOUBLE) AS max_value
    FROM lineitem
    UNION ALL
    SELECT 'l_extendedprice', CAST(COUNT(*) AS BIGINT),
           CAST(COUNT(*) - COUNT(l_extendedprice) AS BIGINT),
           CAST(COUNT(DISTINCT l_extendedprice) AS BIGINT),
           CAST(MIN(l_extendedprice) AS DOUBLE), CAST(MAX(l_extendedprice) AS DOUBLE)
    FROM lineitem
    UNION ALL
    SELECT 'l_discount', CAST(COUNT(*) AS BIGINT),
           CAST(COUNT(*) - COUNT(l_discount) AS BIGINT),
           CAST(COUNT(DISTINCT l_discount) AS BIGINT),
           CAST(MIN(l_discount) AS DOUBLE), CAST(MAX(l_discount) AS DOUBLE)
    FROM lineitem
    UNION ALL
    SELECT 'l_returnflag', CAST(COUNT(*) AS BIGINT),
           CAST(COUNT(*) - COUNT(l_returnflag) AS BIGINT),
           CAST(COUNT(DISTINCT l_returnflag) AS BIGINT),
           NULL, NULL
    FROM lineitem
) ORDER BY column_name
"""


@_register("profile_column_stats", _PROFILE_ORACLE)
def profile_column_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANALYZE-style column profile (null rate, exact NDV, numeric
    range) for planner statistics and data-quality gates.

    Scale: ONE scan computes every column's aggregates in a single
    wide agg (the naive per-column union re-reads the fact table once
    per column); the row is then exploded into long form with
    ``inline``. The multiple exact COUNT(DISTINCT)s plan through
    Catalyst's Expand (one row-multiplication, one shuffle). At
    warehouse scale the same profile swaps exact NDV for
    approx_count_distinct (no Expand, +-2%) — exact here because the
    oracle must hash-match.
    """
    t = load_tables(spark, sf_dir, register_views=False)
    li = t["lineitem"]
    cols = [
        ("l_quantity", True),
        ("l_extendedprice", True),
        ("l_discount", True),
        ("l_returnflag", False),
    ]
    aggs = [F.count(F.lit(1)).alias("n_rows")]
    for c, numeric in cols:
        casted = F.col(c).cast("double") if numeric else F.lit(None).cast("double")
        aggs += [
            F.count(c).alias(f"{c}__cnt"),
            F.countDistinct(c).alias(f"{c}__ndv"),
            F.min(casted).alias(f"{c}__min"),
            F.max(casted).alias(f"{c}__max"),
        ]
    wide = li.agg(*aggs)
    entries = F.array(
        *[
            F.struct(
                F.lit(c).alias("column_name"),
                F.col("n_rows").alias("n_rows"),
                (F.col("n_rows") - F.col(f"{c}__cnt")).alias("n_nulls"),
                F.col(f"{c}__ndv").alias("n_distinct"),
                F.col(f"{c}__min").alias("min_value"),
                F.col(f"{c}__max").alias("max_value"),
            )
            for c, _ in cols
        ]
    )
    return wide.select(F.inline(entries)).orderBy("column_name")


# ---------------------------------------------------------------------------
# Nested reconstruction: order -> ordered array<struct> of its lines
# ---------------------------------------------------------------------------

_NEST_ORACLE = """
SELECT l_orderkey AS o_orderkey,
       CAST(COUNT(*) AS BIGINT) AS n_lines,
       md5(string_agg(
           CAST(l_linenumber AS VARCHAR) || ':' ||
           CAST(CAST(l_quantity AS BIGINT) AS VARCHAR),
           ';' ORDER BY l_linenumber, CAST(l_quantity AS BIGINT))) AS lines_sig
FROM lineitem
WHERE l_orderkey < 1000
GROUP BY l_orderkey
ORDER BY o_orderkey
"""


@_register("nest_order_lines", _NEST_ORACLE)
def nest_order_lines(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Denormalize lineitem into one ``array<struct>`` per order —
    the document-shaped export path (JSON/trainer manifests). The
    nested array is built with collect_list + array_sort and then
    canonically serialized, so the oracle checks the ORDER inside the
    nesting, not just membership. Line numbers are NOT unique within
    an order in this testdata, so the sort key is the full
    (linenumber, qty) struct — a non-total order would make the
    serialization engine-dependent.

    Scale: one shuffle on the order key with map-side partial
    collect; array payloads stay bounded by lines-per-order (~7).
    Quantities are integral by construction and serialize as BIGINT —
    float-to-string formatting is never portable across engines.
    """
    t = load_tables(spark, sf_dir, register_views=False)
    lines = (
        t["lineitem"]
        .filter(F.col("l_orderkey") < 1000)
        .select(
            "l_orderkey",
            F.struct(
                F.col("l_linenumber"), F.col("l_quantity").cast("long").alias("qty")
            ).alias("line"),
        )
    )
    return (
        lines.groupBy(F.col("l_orderkey").alias("o_orderkey"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_lines"),
            F.md5(
                F.array_join(
                    F.transform(
                        F.array_sort(F.collect_list("line")),
                        lambda s: F.concat_ws(
                            ":",
                            s["l_linenumber"].cast("string"),
                            s["qty"].cast("string"),
                        ),
                    ),
                    ";",
                )
            ).alias("lines_sig"),
        )
        .orderBy("o_orderkey")
    )


# ---------------------------------------------------------------------------
# Bitwise scalar family
# ---------------------------------------------------------------------------

_BITWISE_ORACLE = """
SELECT event_id,
       CAST(event_id & user_id AS BIGINT) AS and_mask,
       CAST(event_id | user_id AS BIGINT) AS or_mask,
       CAST(xor(event_id, user_id) AS BIGINT) AS xor_mask,
       CAST((event_id % 256) << 2 AS BIGINT) AS shifted,
       CAST(event_id >> 3 AS BIGINT) AS rshifted,
       CAST(bit_count(event_id) AS BIGINT) AS set_bits
FROM events
WHERE event_id < 500
ORDER BY event_id
"""


@_register("scalar_bitwise_family", _BITWISE_ORACLE)
def scalar_bitwise_family(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bitwise operator family (AND/OR/XOR, shifts, popcount) —
    the flag-mask / bitmap-index idiom. Pure codegen, narrow."""
    t = load_tables(spark, sf_dir, register_views=False)
    e = t["events"].filter(F.col("event_id") < 500)
    return e.select(
        "event_id",
        F.col("event_id").bitwiseAND(F.col("user_id")).cast("long").alias("and_mask"),
        F.col("event_id").bitwiseOR(F.col("user_id")).cast("long").alias("or_mask"),
        F.col("event_id").bitwiseXOR(F.col("user_id")).cast("long").alias("xor_mask"),
        F.shiftleft(F.col("event_id") % 256, 2).cast("long").alias("shifted"),
        F.shiftright(F.col("event_id"), 3).cast("long").alias("rshifted"),
        F.bit_count(F.col("event_id")).cast("long").alias("set_bits"),
    ).orderBy("event_id")


# ---------------------------------------------------------------------------
# Exact higher-moment statistics (skewness / kurtosis from raw sums)
# ---------------------------------------------------------------------------

_MOMENTS_ORACLE = """
WITH s AS (
    SELECT CAST(COUNT(*) AS DOUBLE) AS n,
           CAST(SUM(CAST(value AS DECIMAL(38,6))) AS DOUBLE) AS s1,
           CAST(SUM(CAST(value * value AS DECIMAL(38,6))) AS DOUBLE) AS s2,
           CAST(SUM(CAST(value * value * value AS DECIMAL(38,6))) AS DOUBLE) AS s3,
           CAST(SUM(CAST(value * value * value * value AS DECIMAL(38,6))) AS DOUBLE) AS s4
    FROM events
)
SELECT CAST(n AS BIGINT) AS n,
       s1 / n AS mean,
       s2 / n - (s1 / n) * (s1 / n) AS variance_pop,
       (s3 / n - 3.0 * (s1 / n) * (s2 / n) + 2.0 * (s1 / n) * (s1 / n) * (s1 / n))
       / ((s2 / n - (s1 / n) * (s1 / n)) * SQRT(s2 / n - (s1 / n) * (s1 / n)))
           AS skewness_pop,
       (s4 / n - 4.0 * (s1 / n) * (s3 / n) + 6.0 * (s1 / n) * (s1 / n) * (s2 / n)
        - 3.0 * (s1 / n) * (s1 / n) * (s1 / n) * (s1 / n))
       / ((s2 / n - (s1 / n) * (s1 / n)) * (s2 / n - (s1 / n) * (s1 / n))) - 3.0
           AS kurtosis_excess
FROM s
"""


@_register("agg_higher_moments", _MOMENTS_ORACLE)
def agg_higher_moments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Population skewness and excess kurtosis from EXACT raw power
    sums. Built-in ``skewness()``/``kurtosis()`` accumulate central
    moments in floats with engine-specific update orders (never
    bitwise-portable); here the four raw sums are decimal-exact and
    the closed-form combination is the identical double expression in
    both engines — moments become partitioning-proof.

    Scale: one scan, one 4-value aggregate; the power terms stay in
    codegen. The classic raw-sum cancellation caveat applies when
    |mean| >> stddev — irrelevant here (value spans its own
    magnitude), and the decimal accumulator removes the summation-
    order half of that instability anyway.
    """
    t = load_tables(spark, sf_dir, register_views=False)
    v = F.col("value")
    s = t["events"].agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.sum(v.cast(DEC)).cast("double").alias("s1"),
        F.sum((v * v).cast(DEC)).cast("double").alias("s2"),
        F.sum((v * v * v).cast(DEC)).cast("double").alias("s3"),
        F.sum((v * v * v * v).cast(DEC)).cast("double").alias("s4"),
    )
    n, s1, s2, s3, s4 = (F.col(c) for c in ("n", "s1", "s2", "s3", "s4"))
    mean = s1 / n
    var = s2 / n - mean * mean
    m3 = s3 / n - F.lit(3.0) * mean * (s2 / n) + F.lit(2.0) * mean * mean * mean
    m4 = (
        s4 / n
        - F.lit(4.0) * mean * (s3 / n)
        + F.lit(6.0) * mean * mean * (s2 / n)
        - F.lit(3.0) * mean * mean * mean * mean
    )
    return s.select(
        n.cast("long").alias("n"),
        mean.alias("mean"),
        var.alias("variance_pop"),
        (m3 / (var * F.sqrt(var))).alias("skewness_pop"),
        (m4 / (var * var) - F.lit(3.0)).alias("kurtosis_excess"),
    )


# ---------------------------------------------------------------------------
# Activity heatmap: weekday x hour-of-day pivot
# ---------------------------------------------------------------------------

_HEATMAP_ORACLE = """
WITH e AS (
    SELECT isodow(ts) - 1 AS wd, CAST(hour(ts) AS INT) AS h FROM events
)
SELECT CAST(wd AS BIGINT) AS weekday,
       CAST(COUNT(*) FILTER (WHERE h = 0) AS BIGINT) AS h0,
       CAST(COUNT(*) FILTER (WHERE h = 1) AS BIGINT) AS h1,
       CAST(COUNT(*) FILTER (WHERE h = 2) AS BIGINT) AS h2,
       CAST(COUNT(*) FILTER (WHERE h = 3) AS BIGINT) AS h3,
       CAST(COUNT(*) FILTER (WHERE h = 4) AS BIGINT) AS h4,
       CAST(COUNT(*) FILTER (WHERE h = 5) AS BIGINT) AS h5,
       CAST(COUNT(*) FILTER (WHERE h = 6) AS BIGINT) AS h6,
       CAST(COUNT(*) FILTER (WHERE h = 7) AS BIGINT) AS h7,
       CAST(COUNT(*) FILTER (WHERE h = 8) AS BIGINT) AS h8,
       CAST(COUNT(*) FILTER (WHERE h = 9) AS BIGINT) AS h9,
       CAST(COUNT(*) FILTER (WHERE h = 10) AS BIGINT) AS h10,
       CAST(COUNT(*) FILTER (WHERE h = 11) AS BIGINT) AS h11,
       CAST(COUNT(*) FILTER (WHERE h = 12) AS BIGINT) AS h12,
       CAST(COUNT(*) FILTER (WHERE h = 13) AS BIGINT) AS h13,
       CAST(COUNT(*) FILTER (WHERE h = 14) AS BIGINT) AS h14,
       CAST(COUNT(*) FILTER (WHERE h = 15) AS BIGINT) AS h15,
       CAST(COUNT(*) FILTER (WHERE h = 16) AS BIGINT) AS h16,
       CAST(COUNT(*) FILTER (WHERE h = 17) AS BIGINT) AS h17,
       CAST(COUNT(*) FILTER (WHERE h = 18) AS BIGINT) AS h18,
       CAST(COUNT(*) FILTER (WHERE h = 19) AS BIGINT) AS h19,
       CAST(COUNT(*) FILTER (WHERE h = 20) AS BIGINT) AS h20,
       CAST(COUNT(*) FILTER (WHERE h = 21) AS BIGINT) AS h21,
       CAST(COUNT(*) FILTER (WHERE h = 22) AS BIGINT) AS h22,
       CAST(COUNT(*) FILTER (WHERE h = 23) AS BIGINT) AS h23
FROM e GROUP BY wd ORDER BY weekday
"""


@_register("events_hour_dow_heatmap", _HEATMAP_ORACLE)
def events_hour_dow_heatmap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekday x hour activity heatmap via the pivot API (0 = Monday,
    matching DuckDB's isodow-1; Spark's weekday() uses the same
    convention).

    Scale: pivot with an EXPLICIT value list (0..23) — without it
    Spark first runs a distinct job to discover pivot values, an
    extra pass over the data. One shuffle on 7 weekday keys after
    map-side partial aggregation of 7x24 cells per partition.
    """
    t = load_tables(spark, sf_dir, register_views=False)
    e = t["events"].select(
        F.weekday("ts").cast("long").alias("weekday"),
        F.hour("ts").cast("int").alias("h"),
    )
    piv = e.groupBy("weekday").pivot("h", list(range(24))).count()
    return piv.select(
        "weekday",
        *[F.coalesce(F.col(str(k)), F.lit(0)).cast("long").alias(f"h{k}") for k in range(24)],
    ).orderBy("weekday")


# ---------------------------------------------------------------------------
# As-of join with staleness tolerance (feature-store freshness gate)
# ---------------------------------------------------------------------------

_ASOF_TOL_ORACLE = """
WITH v AS (
    SELECT event_id, user_id, ts FROM events WHERE event_type = 'view'
), p AS (
    SELECT user_id, ts, MAX(value) AS purchase_value
    FROM events WHERE event_type = 'purchase' GROUP BY user_id, ts
)
SELECT v.event_id, v.user_id,
       CASE WHEN p.ts >= v.ts - INTERVAL 1 HOUR
            THEN p.ts END AS asof_purchase_ts,
       CASE WHEN p.ts >= v.ts - INTERVAL 1 HOUR
            THEN p.purchase_value END AS purchase_value,
       CAST(CASE WHEN p.ts IS NOT NULL AND p.ts >= v.ts - INTERVAL 1 HOUR
                 THEN 1 ELSE 0 END AS BIGINT) AS fresh
FROM v
ASOF LEFT JOIN p ON v.user_id = p.user_id AND v.ts >= p.ts
ORDER BY v.event_id
"""


@_register("join_asof_tolerance", _ASOF_TOL_ORACLE)
def join_asof_tolerance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join with a staleness tolerance: every ``view`` event
    keeps its row (left semantics) and carries the user's LAST
    ``purchase`` at-or-before the view — but a match older than one
    hour is nulled out. The feature-store freshness rule ("use the
    last known value unless it has gone stale").

    Scale: identical union + running-last-value plan to ``join_asof``
    (one shuffle on the key, no quadratic join); the tolerance is a
    post-projection CASE, free. Left semantics come from keeping
    unmatched views instead of filtering them.

    Round 14 re-anchor (numeric census): the old events->last-order
    shape matched every event (backward as-of over the cross-era
    tables) but its ``fresh`` branch could NEVER fire — every order
    predates every event by 22+ years, so a 30-day tolerance nulled
    100% of matches at every certified scale and the op's entire
    point had only negative evidence. view->purchase is same-era:
    measured 39 fresh / 1,943 stale of 1,982 views at sf0.01, both
    branches populated. The purchase side is pre-deduped per
    (user, ts) so ties are deterministic, mirroring
    ``join_asof_forward``."""
    t = load_tables(spark, sf_dir, register_views=False)
    v = t["events"].filter(F.col("event_type") == "view")
    p = (
        t["events"]
        .filter(F.col("event_type") == "purchase")
        .groupBy("user_id", "ts")
        .agg(F.max("value").alias("purchase_value"))
    )
    p_side = p.select(
        "user_id",
        F.col("ts").alias("t"),
        F.lit(0).alias("is_view"),
        F.lit(None).cast("long").alias("event_id"),
        F.col("ts").alias("purchase_ts"),
        "purchase_value",
    )
    v_side = v.select(
        "user_id",
        F.col("ts").alias("t"),
        F.lit(1).alias("is_view"),
        "event_id",
        F.lit(None).cast("timestamp").alias("purchase_ts"),
        F.lit(None).cast("double").alias("purchase_value"),
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("t", "is_view")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    merged = p_side.unionByName(v_side).select(
        "event_id",
        "user_id",
        "is_view",
        F.col("t"),
        F.last("purchase_ts", ignorenulls=True).over(w).alias("raw_ts"),
        F.last("purchase_value", ignorenulls=True).over(w).alias("raw_value"),
    )
    fresh = F.col("raw_ts").isNotNull() & (
        F.col("raw_ts") >= F.col("t") - F.expr("INTERVAL 1 HOUR")
    )
    return (
        merged.filter(F.col("is_view") == 1)
        .select(
            "event_id",
            "user_id",
            F.when(fresh, F.col("raw_ts")).alias("asof_purchase_ts"),
            F.when(fresh, F.col("raw_value")).alias("purchase_value"),
            F.when(fresh, 1).otherwise(0).cast("long").alias("fresh"),
        )
        .orderBy("event_id")
    )


# ---------------------------------------------------------------------------
# Feature engineering: per-user daily activity with layered windows
# ---------------------------------------------------------------------------

_FEATURES_DAILY_ORACLE = """
WITH daily AS (
    SELECT user_id, CAST(ts AS DATE) AS activity_day,
           CAST(COUNT(*) AS BIGINT) AS n_day,
           CAST(SUM(CAST(value AS DECIMAL(38,6))) AS DOUBLE) AS v_day
    FROM events GROUP BY 1, 2
)
SELECT user_id, CAST(activity_day AS VARCHAR) AS activity_day, n_day,
       CAST(SUM(n_day) OVER (
            PARTITION BY user_id ORDER BY activity_day - DATE '1970-01-01'
            RANGE BETWEEN 6 PRECEDING AND CURRENT ROW) AS BIGINT) AS n_7d,
       CAST(SUM(CAST(v_day AS DECIMAL(38,6))) OVER (
            PARTITION BY user_id ORDER BY activity_day - DATE '1970-01-01'
            RANGE BETWEEN 6 PRECEDING AND CURRENT ROW) AS DOUBLE) AS v_7d,
       CAST(SUM(n_day) OVER (
            PARTITION BY user_id ORDER BY activity_day
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS n_lifetime
FROM daily
ORDER BY user_id, activity_day
"""


@_register("features_user_daily", _FEATURES_DAILY_ORACLE)
def features_user_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-feature export: per user-day activity with layered
    windows — same-day count, 7-day rolling count/value (RANGE frame
    over day numbers, so gaps in activity shorten the window
    correctly), and lifetime running count. The standard point-in-time
    feature table a trainer joins on (user_id, day).

    Scale: one pre-aggregation to user-days collapses the event
    stream before any window runs; all three windows share the single
    user_id partitioning (one shuffle total). Rolling sums of doubles
    go through the decimal accumulator so a repartition cannot change
    a feature value.
    """
    t = load_tables(spark, sf_dir, register_views=False)
    daily = (
        t["events"]
        .groupBy("user_id", F.col("ts").cast("date").alias("activity_day"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_day"),
            F.sum(F.col("value").cast(DEC)).cast("double").alias("v_day"),
        )
    )
    day_num = F.datediff("activity_day", F.lit("1970-01-01"))
    w7 = (
        Window.partitionBy("user_id").orderBy(day_num).rangeBetween(-6, Window.currentRow)
    )
    wlife = (
        Window.partitionBy("user_id")
        .orderBy("activity_day")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return daily.select(
        "user_id",
        F.col("activity_day").cast("string").alias("activity_day"),
        "n_day",
        F.sum("n_day").over(w7).cast("long").alias("n_7d"),
        F.sum(F.col("v_day").cast(DEC)).over(w7).cast("double").alias("v_7d"),
        F.sum("n_day").over(wlife).cast("long").alias("n_lifetime"),
    ).orderBy("user_id", "activity_day")


# ---------------------------------------------------------------------------
# Last-touch attribution (purchase -> latest click within 7 days)
# ---------------------------------------------------------------------------

_ATTRIBUTION_ORACLE = """
WITH clicks AS (
    SELECT user_id, ts, MAX(event_id) AS click_id
    FROM events WHERE event_type = 'click'
    GROUP BY user_id, ts
),
purchases AS (
    SELECT event_id, user_id, ts FROM events WHERE event_type = 'purchase'
)
SELECT p.event_id, p.user_id,
       CASE WHEN c.ts >= p.ts - INTERVAL 7 DAY THEN c.click_id END
           AS attributed_click_id,
       CAST(CASE WHEN c.ts >= p.ts - INTERVAL 7 DAY THEN 1 ELSE 0 END AS BIGINT)
           AS attributed
FROM purchases p
ASOF LEFT JOIN clicks c ON p.user_id = c.user_id AND p.ts >= c.ts
ORDER BY p.event_id
"""


@_register("attribution_last_touch", _ATTRIBUTION_ORACLE)
def attribution_last_touch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Last-touch marketing attribution: every purchase credits the
    LATEST click by the same user within a 7-day lookback, else stays
    unattributed — the canonical conversion-credit query.

    Scale: union + running-last-value over one user_id shuffle (the
    big-big as-of pattern, cf. ``join_asof``); clicks collapse to one
    row per (user, instant) with a MAX tiebreak first so the
    attribution is deterministic under simultaneous clicks. The
    lookback is a post-projection CASE.
    """
    t = load_tables(spark, sf_dir, register_views=False)
    ev = t["events"]
    clicks = (
        ev.filter(F.col("event_type") == "click")
        .groupBy("user_id", "ts")
        .agg(F.max("event_id").alias("click_id"))
        .select(
            "user_id",
            F.col("ts").alias("t"),
            F.lit(0).alias("is_purchase"),
            F.lit(None).cast("long").alias("event_id"),
            "click_id",
        )
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "user_id",
        F.col("ts").alias("t"),
        F.lit(1).alias("is_purchase"),
        "event_id",
        F.lit(None).cast("long").alias("click_id"),
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("t", "is_purchase")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    merged = clicks.unionByName(purchases).select(
        "event_id",
        "user_id",
        "is_purchase",
        "t",
        F.last("click_id", ignorenulls=True).over(w).alias("raw_click_id"),
        F.max(F.when(F.col("is_purchase") == 0, F.col("t"))).over(w).alias("raw_click_ts"),
    )
    fresh = F.col("raw_click_ts").isNotNull() & (
        F.col("raw_click_ts") >= F.col("t") - F.expr("INTERVAL 7 DAYS")
    )
    return (
        merged.filter(F.col("is_purchase") == 1)
        .select(
            "event_id",
            "user_id",
            F.when(fresh, F.col("raw_click_id")).alias("attributed_click_id"),
            F.when(fresh, 1).otherwise(0).cast("long").alias("attributed"),
        )
        .orderBy("event_id")
    )


# ---------------------------------------------------------------------------
# GROUPING_ID-labelled rollup (machine-readable subtotal levels)
# ---------------------------------------------------------------------------

_GROUPING_ID_ORACLE = """
SELECT l_returnflag, l_linestatus,
       CAST(GROUPING(l_returnflag, l_linestatus) AS BIGINT) AS gid,
       CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(SUM(CAST(l_quantity AS DECIMAL(38,6))) AS DOUBLE) AS sum_qty
FROM lineitem
GROUP BY ROLLUP (l_returnflag, l_linestatus)
ORDER BY gid, l_returnflag, l_linestatus
"""


@_register("agg_grouping_id", _GROUPING_ID_ORACLE)
def agg_grouping_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP with ``grouping_id()`` labels — the bitmask (one bit per
    grouping column, 1 = aggregated away) that lets a consumer filter
    subtotal levels without NULL-sentinel ambiguity (a NULL key value
    vs a rolled-up level are indistinguishable otherwise). Spark and
    DuckDB use the same listed-column bit order.

    Scale: single rollup aggregation — partial aggregates combine
    map-side across all levels in one shuffle."""
    t = load_tables(spark, sf_dir, register_views=False)
    return (
        t["lineitem"]
        .rollup("l_returnflag", "l_linestatus")
        .agg(
            F.grouping_id().cast("long").alias("gid"),
            F.count(F.lit(1)).cast("long").alias("n_rows"),
            dec_sum("l_quantity", "sum_qty"),
        )
        .select("l_returnflag", "l_linestatus", "gid", "n_rows", "sum_qty")
        .orderBy("gid", "l_returnflag", "l_linestatus")
    )


# ---------------------------------------------------------------------------
# Source/sink format round-trip under the correctness gate (S14 evidence)
# ---------------------------------------------------------------------------

_FORMATS_RT_ORACLE = """
WITH base AS (
    SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(38,6))) AS DOUBLE) AS sum_price
    FROM lineitem WHERE l_orderkey < 100
)
SELECT fmt, n_rows, sum_price FROM base
CROSS JOIN (SELECT UNNEST(['csv', 'json', 'orc']) AS fmt)
ORDER BY fmt
"""


@_register("source_formats_roundtrip", _FORMATS_RT_ORACLE)
@on_scratch_dir
def source_formats_roundtrip(spark: SparkSession, sf_dir: str, root: str) -> DataFrame:
    """S14 under the driver gate: one lineitem slice written and read
    back through csv, json, and orc via ``sources.write_table`` /
    ``read_table`` (explicit schema on the way back in — no inference
    pass), then aggregated identically. Any format that loses rows,
    mangles a double, or shifts a date breaks the hash against the
    parquet-derived oracle.

    Scale: formats differ wildly at 100 TB — columnar orc/parquet
    scan with pushdown + pruning; csv/json are row-blobs that must be
    fully parsed (keep them at the ingest edge only). The round-trip
    slice here is deliberately small; the format machinery, not the
    volume, is under test.
    """
    from load_datawarehouse_spark.sources import read_table, write_table

    t = load_tables(spark, sf_dir, register_views=False)
    base = (
        t["lineitem"]
        .filter(F.col("l_orderkey") < 100)
        .select("l_orderkey", "l_linenumber", "l_extendedprice", "l_shipdate")
    )
    frames = []
    for fmt in ("csv", "json", "orc"):
        path = os.path.join(root, fmt)
        write_table(base, path, fmt=fmt)
        back = read_table(spark, path, fmt=fmt, schema=base.schema)
        frames.append(
            back.agg(
                F.lit(fmt).alias("fmt"),
                F.count(F.lit(1)).cast("long").alias("n_rows"),
                dec_sum("l_extendedprice", "sum_price"),
            )
        )
    return frames[0].unionByName(frames[1]).unionByName(frames[2]).orderBy("fmt")


# ---------------------------------------------------------------------------
# Triangle counting on the supplier co-order graph
# ---------------------------------------------------------------------------

#: Noise-edge prune: a supplier pair must co-serve at least this many
#: DISTINCT orders to count as an affinity edge. Like the dedup DF
#: caps, this is a per-corpus knob: on the synthetic corpus it keeps
#: every pair at sf<=0.01 (min support there is 4+) and prunes the
#: random-co-occurrence noise that makes the graph near-complete at
#: larger scales (sf1: 4.5M raw pairs -> 1.1M supported edges).
_TRIANGLE_MIN_SUPPORT = 4
#: Hub guard: vertices whose SUPPORTED degree still exceeds this are
#: dropped before wedge enumeration (a hub with degree d contributes
#: ~d^2 wedges; real corpora have mega-hub vendors). Never bites on
#: the synthetic corpus (max supported degree 298 at sf1) — it is the
#: 100-TB safety rail, unit-locked by
#: tests/test_properties.py::test_triangle_degree_cap_bites.
_TRIANGLE_DEGREE_CAP = 2048

_TRIANGLE_ORACLE = f"""
WITH co AS (
    SELECT DISTINCT a.l_orderkey AS ok, a.l_suppkey AS s1, b.l_suppkey AS s2
    FROM lineitem a
    JOIN lineitem b ON a.l_orderkey = b.l_orderkey AND a.l_suppkey < b.l_suppkey
),
edges_all AS (
    SELECT s1, s2 FROM co GROUP BY s1, s2
    HAVING COUNT(*) >= {_TRIANGLE_MIN_SUPPORT}
),
deg AS (
    SELECT v, COUNT(*) AS d FROM (
        SELECT s1 AS v FROM edges_all UNION ALL SELECT s2 AS v FROM edges_all
    ) GROUP BY v
),
hubs AS (SELECT v FROM deg WHERE d > {_TRIANGLE_DEGREE_CAP}),
edges AS MATERIALIZED (
    SELECT s1, s2 FROM edges_all
    WHERE s1 NOT IN (SELECT v FROM hubs)
      AND s2 NOT IN (SELECT v FROM hubs)
),
wedge_n AS (
    SELECT CAST(COALESCE(SUM(i.ind * o.outd), 0) AS BIGINT) AS n_wedges
    FROM (SELECT s2 AS v, COUNT(*) AS ind FROM edges GROUP BY s2) i
    JOIN (SELECT s1 AS v, COUNT(*) AS outd FROM edges GROUP BY s1) o ON o.v = i.v
)
SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM edges) AS n_edges,
       (SELECT n_wedges FROM wedge_n) AS n_wedges,
       (SELECT CAST(COUNT(*) AS BIGINT)
        FROM edges e1
        JOIN edges e2 ON e2.s1 = e1.s2
        JOIN edges e3 ON e3.s1 = e1.s1 AND e3.s2 = e2.s2) AS n_triangles
"""


@_register("graph_triangle_count", _TRIANGLE_ORACLE)
def graph_triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangle counting over the SUPPORT-PRUNED supplier co-order
    affinity graph (suppliers adjacent when they co-serve >=
    ``_TRIANGLE_MIN_SUPPORT`` distinct orders, hubs above
    ``_TRIANGLE_DEGREE_CAP`` supported-degree removed) — the
    clustering-structure primitive behind community detection and
    spam-graph analysis, with the noise-edge discipline production
    affinity pipelines actually use: single-co-occurrence edges are
    sampling noise, and keeping them makes any co-occurrence graph
    converge to a complete graph as the corpus grows (where triangle
    counts are inherently ~N^3 for EVERY method — the round-6/7
    exact variant of this op was unrunnable at sf1 for that reason).

    Counting plan, in shuffle order: (1) per-order supplier pairs
    under the canonical a<b orientation (bounded by lines-per-order:
    k lines -> k(k-1)/2 pairs, k~7), de-duplicated per order;
    (2) support filter = one (s1,s2) hash aggregate; (3) hub removal
    via two anti equi-joins against the over-cap vertex list (its size
    is 2E/cap — data-proportional, so no forced hint; AQE broadcasts
    it while small); (4) n_wedges computed ANALYTICALLY as sum(in_deg*out_deg)
    — a degree-aggregate join, never materializing the wedge set
    twice; (5) the one heavy stage, wedge enumeration joined to the
    closing-edge set (slim (s1,s2) pairs — 1.1M rows / ~20 MB at sf1;
    the edge count is data-proportional, so since the round-10 audit
    there is NO forced hint and AQE's runtime sizing decides: it
    broadcasts the edge set while it fits — the 2.4e8-row wedge
    stream is then generated and probed map-side with only a partial
    count crossing the wire — and degrades to a sound shuffled
    wedge-edge join, still bounded by the degree cap, where the edge
    set outgrows the threshold). The wedge join key is explicitly
    repartitioned: AQE sizes by INPUT bytes and would coalesce the
    slim-input/quadratic-output join onto a handful of tasks (the
    ``_cc_edges`` lesson).
    """
    t = load_tables(spark, sf_dir, register_views=False)
    li = t["lineitem"].select("l_orderkey", "l_suppkey")
    a = li.select("l_orderkey", F.col("l_suppkey").alias("s1"))
    b = li.select(F.col("l_orderkey").alias("ok2"), F.col("l_suppkey").alias("s2"))
    co = (
        a.join(b, (F.col("l_orderkey") == F.col("ok2")) & (F.col("s1") < F.col("s2")))
        .select("l_orderkey", "s1", "s2")
        .distinct()
    )
    edges_all = (
        co.groupBy("s1", "s2")
        .agg(F.count(F.lit(1)).alias("support"))
        .filter(F.col("support") >= _TRIANGLE_MIN_SUPPORT)
        .select("s1", "s2")
    )
    deg = (
        edges_all.select(F.col("s1").alias("v"))
        .unionByName(edges_all.select(F.col("s2").alias("v")))
        .groupBy("v")
        .agg(F.count(F.lit(1)).alias("d"))
    )
    hubs = deg.filter(F.col("d") > _TRIANGLE_DEGREE_CAP).select("v")
    edges = (
        edges_all.join(hubs, edges_all["s1"] == hubs["v"], "left_anti")
        .join(hubs, edges_all["s2"] == hubs["v"], "left_anti")
        .transform(lineage_cut)
    )
    n_edges = edges.count()
    ind = edges.groupBy(F.col("s2").alias("v")).agg(F.count(F.lit(1)).alias("ind"))
    outd = edges.groupBy(F.col("s1").alias("v")).agg(F.count(F.lit(1)).alias("outd"))
    n_wedges = (
        ind.join(outd, "v")
        .agg(F.coalesce(F.sum(F.col("ind") * F.col("outd")), F.lit(0)).alias("w"))
        .collect()[0]["w"]
    )
    # explicit count (disables AQE coalescing), scaled to the cluster:
    # a literal width would cap wedge parallelism on a 1000-executor
    # cluster the way label-only keying capped _cc_edges
    n_wedge_parts = max(64, spark.sparkContext.defaultParallelism * 2)
    wedges = (
        edges.select(F.col("s1").alias("a"), F.col("s2").alias("b"))
        .repartition(n_wedge_parts, "b")
        .join(edges.select(F.col("s1").alias("b"), F.col("s2").alias("c")), "b")
    )
    closed = wedges.join(
        edges.select(F.col("s1").alias("a"), F.col("s2").alias("c")),
        ["a", "c"],
    )
    n_triangles = closed.count()
    return spark.createDataFrame(
        [(n_edges, int(n_wedges), n_triangles)],
        "n_edges long, n_wedges long, n_triangles long",
    )


# ---------------------------------------------------------------------------
# Markov transition matrix over per-user event sequences
# ---------------------------------------------------------------------------

_MARKOV_ORACLE = """
WITH seq AS (
    SELECT user_id, event_type,
           LEAD(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id)
               AS next_type
    FROM events
),
trans AS (
    SELECT event_type AS prev_type, next_type, CAST(COUNT(*) AS BIGINT) AS n
    FROM seq WHERE next_type IS NOT NULL
    GROUP BY event_type, next_type
),
tot AS (SELECT prev_type, SUM(n) AS total FROM trans GROUP BY prev_type)
SELECT t.prev_type, t.next_type, t.n,
       CAST(t.n AS DOUBLE) / tot.total AS p
FROM trans t JOIN tot ON tot.prev_type = t.prev_type
ORDER BY t.prev_type, t.next_type
"""


@_register("markov_event_transitions", _MARKOV_ORACLE)
def markov_event_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition matrix of user behavior: for each
    consecutive event pair within a user's timeline, the transition
    count and conditional probability P(next | prev) — the behavioral
    fingerprint behind journey analysis and bot detection.

    Scale: one user_id shuffle for the LEAD window (total order via
    the event_id tiebreak), then a bounded |event_types|^2 aggregate;
    the per-prev normalizer is a broadcast of at most |event_types|
    rows. The probability is one integer-over-integer division,
    identical in both engines.
    """
    t = load_tables(spark, sf_dir, register_views=False)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = t["events"].select(
        "user_id", "event_type", F.lead("event_type").over(w).alias("next_type")
    )
    trans = (
        seq.filter(F.col("next_type").isNotNull())
        .groupBy(F.col("event_type").alias("prev_type"), "next_type")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
    )
    tot = trans.groupBy(F.col("prev_type").alias("tp")).agg(F.sum("n").alias("total"))
    return (
        trans.join(bcast_bounded(tot, "event_type domain: bounded"), F.col("prev_type") == F.col("tp"))
        .select(
            "prev_type",
            "next_type",
            "n",
            (F.col("n").cast("double") / F.col("total")).alias("p"),
        )
        .orderBy("prev_type", "next_type")
    )


# ---------------------------------------------------------------------------
# Per-user z-score anomaly detection (exact moments, flagged outliers)
# ---------------------------------------------------------------------------

_ZSCORE_ORACLE = """
WITH stats AS (
    SELECT user_id,
           CAST(COUNT(*) AS DOUBLE) AS n,
           CAST(SUM(CAST(value AS DECIMAL(38,6))) AS DOUBLE) AS s1,
           CAST(SUM(CAST(value * value AS DECIMAL(38,6))) AS DOUBLE) AS s2
    FROM events GROUP BY user_id
)
SELECT e.event_id, e.user_id, e.value,
       (e.value - s.s1 / s.n)
       / SQRT(s.s2 / s.n - (s.s1 / s.n) * (s.s1 / s.n)) AS zscore
FROM events e JOIN stats s ON s.user_id = e.user_id
WHERE s.n >= 10
  AND s.s2 / s.n - (s.s1 / s.n) * (s.s1 / s.n) > 0
  AND ABS((e.value - s.s1 / s.n)
          / SQRT(s.s2 / s.n - (s.s1 / s.n) * (s.s1 / s.n))) > 2.5
ORDER BY e.event_id
"""


@_register("events_anomaly_zscore", _ZSCORE_ORACLE)
def events_anomaly_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user outlier events: |z| > 2.5 against the user's own
    value distribution (population moments from exact decimal sums,
    so the flag set is partitioning-proof — a float boundary case can
    never flip between cluster sizes). Users with under 10 events or
    zero variance are skipped.

    Scale: one groupBy(user_id) for moments, one join back keyed the
    same way — the stats side is one row per user and the join reuses
    the aggregation's partitioning. The z formula is written with the
    identical operation order in both engines.
    """
    t = load_tables(spark, sf_dir, register_views=False)
    ev = t["events"]
    stats = ev.groupBy(F.col("user_id").alias("su")).agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.sum(F.col("value").cast(DEC)).cast("double").alias("s1"),
        F.sum((F.col("value") * F.col("value")).cast(DEC)).cast("double").alias("s2"),
    )
    mean = F.col("s1") / F.col("n")
    var = F.col("s2") / F.col("n") - mean * mean
    z = (F.col("value") - mean) / F.sqrt(var)
    return (
        ev.join(stats, F.col("user_id") == F.col("su"))
        .filter((F.col("n") >= 10) & (var > 0) & (F.abs(z) > 2.5))
        .select("event_id", "user_id", "value", z.alias("zscore"))
        .orderBy("event_id")
    )


# ---------------------------------------------------------------------------
# RFM customer segmentation (recency / frequency / monetary quartiles)
# ---------------------------------------------------------------------------

_RFM_ORACLE = """
WITH base AS (
    SELECT o_custkey,
           MAX(o_orderdate) AS last_order,
           CAST(COUNT(*) AS BIGINT) AS frequency,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(38,6))) AS DOUBLE) AS monetary
    FROM orders GROUP BY o_custkey
),
scored AS (
    SELECT o_custkey, last_order, frequency, monetary,
           NTILE(4) OVER (ORDER BY last_order DESC, o_custkey) AS r,
           NTILE(4) OVER (ORDER BY frequency DESC, o_custkey) AS f,
           NTILE(4) OVER (ORDER BY monetary DESC, o_custkey) AS m
    FROM base
)
SELECT CAST(r * 100 + f * 10 + m AS BIGINT) AS rfm_segment,
       CAST(COUNT(*) AS BIGINT) AS n_customers,
       CAST(SUM(CAST(monetary AS DECIMAL(38,6))) AS DOUBLE) AS segment_revenue
FROM scored
GROUP BY r * 100 + f * 10 + m
ORDER BY rfm_segment
"""


@_register("rfm_segmentation", _RFM_ORACLE)
def rfm_segmentation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM segmentation: customers quartiled on recency, frequency,
    and monetary value (1 = best), rolled into the classic 3-digit
    segment code with per-segment revenue — the marketing-warehouse
    staple.

    Scale: the quartile NTILEs run over ONE ROW PER CUSTOMER (the
    order stream is pre-collapsed), with unique tiebreaks so segment
    assignment is total-order deterministic. Like
    quality_perplexity_buckets, the global NTILE's single-partition
    sort is the documented cost: at 100 TB swap for approx_percentile
    cutpoints (approximate quartile boundaries, linear pipeline).
    """
    t = load_tables(spark, sf_dir, register_views=False)
    base = (
        t["orders"]
        .groupBy("o_custkey")
        .agg(
            F.max("o_orderdate").alias("last_order"),
            F.count(F.lit(1)).cast("long").alias("frequency"),
            F.sum(F.col("o_totalprice").cast(DEC)).cast("double").alias("monetary"),
        )
    )
    scored = base.select(
        "monetary",
        F.ntile(4).over(Window.orderBy(F.desc("last_order"), F.asc("o_custkey"))).alias("r"),
        F.ntile(4).over(Window.orderBy(F.desc("frequency"), F.asc("o_custkey"))).alias("f"),
        F.ntile(4).over(Window.orderBy(F.desc("monetary"), F.asc("o_custkey"))).alias("m"),
    )
    return (
        scored.groupBy(
            (F.col("r") * 100 + F.col("f") * 10 + F.col("m")).cast("long").alias("rfm_segment")
        )
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_customers"),
            F.sum(F.col("monetary").cast(DEC)).cast("double").alias("segment_revenue"),
        )
        .orderBy("rfm_segment")
    )


# ---------------------------------------------------------------------------
# ABC / Pareto analysis (cumulative revenue share classification)
# ---------------------------------------------------------------------------

_ABC_ORACLE = """
WITH rev AS (
    SELECT l_partkey,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(38,6))) AS DECIMAL(38,6))
               AS revenue
    FROM lineitem GROUP BY l_partkey
),
tot AS (SELECT SUM(revenue) AS total FROM rev),
ranked AS (
    SELECT l_partkey, revenue,
           SUM(revenue) OVER (ORDER BY revenue DESC, l_partkey
                              ROWS UNBOUNDED PRECEDING) AS running
    FROM rev
),
classed AS (
    SELECT CASE WHEN running * 100 <= total * 80 THEN 'A'
                WHEN running * 100 <= total * 95 THEN 'B'
                ELSE 'C' END AS abc_class,
           revenue
    FROM ranked, tot
)
SELECT abc_class,
       CAST(COUNT(*) AS BIGINT) AS n_parts,
       CAST(CAST(SUM(revenue) AS DECIMAL(38,6)) AS DOUBLE) AS class_revenue
FROM classed GROUP BY abc_class ORDER BY abc_class
"""


@_register("abc_pareto_analysis", _ABC_ORACLE)
def abc_pareto_analysis(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ABC/Pareto inventory classification: parts bucketed A/B/C at
    80% / 95% cumulative revenue share. The share test is EXACT
    integer-scaled decimal arithmetic (``running*100 <= total*80``) —
    a float division at the class boundary would make boundary parts
    engine- and partitioning-dependent.

    Scale: per-part revenue is one map-side-combined aggregate; the
    running cumsum orders one row per part (like RFM, swap the exact
    global window for quantile cutpoints at extreme cardinality).
    The 1-row total broadcasts.
    """
    t = load_tables(spark, sf_dir, register_views=False)
    rev = (
        t["lineitem"]
        .groupBy("l_partkey")
        .agg(F.sum(F.col("l_extendedprice").cast(DEC)).cast(DEC).alias("revenue"))
    )
    tot = rev.agg(F.sum("revenue").cast(DEC).alias("total"))
    w = Window.orderBy(F.desc("revenue"), F.asc("l_partkey")).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    ranked = rev.select(
        "l_partkey", "revenue", F.sum("revenue").over(w).cast(DEC).alias("running")
    )
    classed = ranked.crossJoin(bcast_bounded(tot, "1-row aggregate")).select(
        "revenue",
        F.when(F.col("running") * 100 <= F.col("total") * 80, "A")
        .when(F.col("running") * 100 <= F.col("total") * 95, "B")
        .otherwise("C")
        .alias("abc_class"),
    )
    return (
        classed.groupBy("abc_class")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_parts"),
            F.sum("revenue").cast(DEC).cast("double").alias("class_revenue"),
        )
        .orderBy("abc_class")
    )


# ---------------------------------------------------------------------------
# Incremental view maintenance (additive agg merged with a delta batch)
# ---------------------------------------------------------------------------

_IVM_SPLIT_DATE = "2024-06-01"

_IVM_ORACLE = f"""
SELECT o_custkey,
       CAST(COUNT(*) AS BIGINT) AS n_orders,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(38,6))) AS DOUBLE) AS revenue
FROM orders
WHERE o_custkey < 200
GROUP BY o_custkey
ORDER BY o_custkey
"""


@_register("warehouse_incremental_view", _IVM_ORACLE)
@on_scratch_dir
def warehouse_incremental_view(
    spark: SparkSession, sf_dir: str, root: str
) -> DataFrame:
    """Incremental view maintenance: a per-customer revenue aggregate
    is materialized into a SparkWarehouse table from the history
    BEFORE {_IVM_SPLIT_DATE}, then a delta batch (orders on/after the
    split) is aggregated ALONE and merged additively via the update
    verb — counts add, sums add in decimal. The oracle recomputes the
    view from scratch: incremental == full is the IVM correctness
    contract that lets a 100-TB warehouse refresh an aggregate by
    touching only the day's delta.

    Scale: the delta aggregate is delta-sized; the merge is the R3
    upsert (one key shuffle over view rows, not fact rows). Additive
    aggregates (count/sum) maintain exactly; non-additive ones (exact
    distinct, median) need auxiliary state — use sketches there.
    """
    from load_datawarehouse_spark.warehouse import SparkWarehouse

    t = load_tables(spark, sf_dir, register_views=False)
    orders = t["orders"].filter(F.col("o_custkey") < 200)
    split = F.lit(_IVM_SPLIT_DATE).cast("date")

    def agg_view(df: DataFrame) -> DataFrame:
        return df.groupBy("o_custkey").agg(
            F.count(F.lit(1)).cast("long").alias("n_orders"),
            F.sum(F.col("o_totalprice").cast(DEC)).alias("rev_dec"),
        )

    base = agg_view(orders.filter(F.col("o_orderdate") < split))
    delta = agg_view(orders.filter(F.col("o_orderdate") >= split))
    wh = SparkWarehouse.new(
        spark,
        root,
        "rev_view",
        data=[r.asDict() for r in base.collect()],
    )
    merged = (
        wh.df()
        .select("o_custkey", "n_orders", "rev_dec")
        .join(
            delta.select(
                F.col("o_custkey").alias("dk"),
                F.col("n_orders").alias("d_n"),
                F.col("rev_dec").alias("d_rev"),
            ),
            F.col("o_custkey") == F.col("dk"),
            "full_outer",
        )
        .select(
            F.coalesce("o_custkey", "dk").alias("o_custkey"),
            (
                F.coalesce("n_orders", F.lit(0)) + F.coalesce("d_n", F.lit(0))
            ).cast("long").alias("n_orders"),
            (
                F.coalesce(F.col("rev_dec"), F.lit(0).cast(DEC))
                + F.coalesce(F.col("d_rev"), F.lit(0).cast(DEC))
            ).alias("rev_dec"),
        )
    )
    wh.update([r.asDict() for r in merged.collect()], keys=["o_custkey"])
    return (
        wh.df()
        .select(
            "o_custkey",
            F.col("n_orders").cast("long").alias("n_orders"),
            F.col("rev_dec").cast(DEC).cast("double").alias("revenue"),
        )
        .orderBy("o_custkey")
    )


# ---------------------------------------------------------------------------
# Funnel timing: time-to-convert distribution
# ---------------------------------------------------------------------------

_TTC_ORACLE = """
WITH firsts AS (
    SELECT user_id,
           MIN(CASE WHEN event_type = 'view' THEN ts END) AS first_view,
           MIN(CASE WHEN event_type = 'purchase' THEN ts END) AS first_purchase
    FROM events GROUP BY user_id
)
SELECT user_id,
       CAST(date_diff('second', first_view, first_purchase) AS BIGINT)
           AS seconds_to_convert
FROM firsts
WHERE first_view IS NOT NULL AND first_purchase IS NOT NULL
  AND first_purchase >= first_view
ORDER BY user_id
"""


@_register("funnel_time_to_convert", _TTC_ORACLE)
def funnel_time_to_convert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conversion latency: seconds from a user's FIRST view to their
    FIRST purchase (users who purchased before ever viewing are
    excluded as attribution noise) — the timing companion to
    funnel_conversion.

    Scale: conditional MIN aggregates collapse the event stream to
    one row per user in a single map-side-combinable pass; the
    latency is integer seconds (no float time math).
    """
    t = load_tables(spark, sf_dir, register_views=False)
    firsts = t["events"].groupBy("user_id").agg(
        F.min(F.when(F.col("event_type") == "view", F.col("ts"))).alias("first_view"),
        F.min(F.when(F.col("event_type") == "purchase", F.col("ts"))).alias(
            "first_purchase"
        ),
    )
    return (
        firsts.filter(
            F.col("first_view").isNotNull()
            & F.col("first_purchase").isNotNull()
            & (F.col("first_purchase") >= F.col("first_view"))
        )
        .select(
            "user_id",
            (
                F.unix_timestamp("first_purchase") - F.unix_timestamp("first_view")
            ).cast("long").alias("seconds_to_convert"),
        )
        .orderBy("user_id")
    )


# ---------------------------------------------------------------------------
# Market-basket affinity (co-order lift with minimum support)
# ---------------------------------------------------------------------------

_BASKET_MIN_SUPPORT = 3

_BASKET_ORACLE = f"""
WITH baskets AS (
    SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
),
n_orders AS (SELECT CAST(COUNT(DISTINCT l_orderkey) AS BIGINT) AS n FROM baskets),
item AS (
    SELECT l_partkey, CAST(COUNT(*) AS BIGINT) AS n_item
    FROM baskets GROUP BY l_partkey
),
pair AS (
    SELECT a.l_partkey AS p1, b.l_partkey AS p2, CAST(COUNT(*) AS BIGINT) AS n_pair
    FROM baskets a
    JOIN baskets b ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
    GROUP BY a.l_partkey, b.l_partkey
    HAVING COUNT(*) >= {_BASKET_MIN_SUPPORT}
)
SELECT p.p1, p.p2, p.n_pair,
       CAST(p.n_pair * o.n AS DOUBLE) / (i1.n_item * i2.n_item) AS lift
FROM pair p
JOIN item i1 ON i1.l_partkey = p.p1
JOIN item i2 ON i2.l_partkey = p.p2
CROSS JOIN n_orders o
ORDER BY p.p1, p.p2
"""


@_register("basket_affinity_lift", _BASKET_ORACLE)
def basket_affinity_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket affinity: part pairs co-occurring in at least
    {_BASKET_MIN_SUPPORT} orders, scored by lift
    ``P(ab) / (P(a)P(b)) = n_ab * N / (n_a * n_b)`` — computed as ONE
    integer product ratio (exact numerator and denominator, one
    double division) so scores are engine-identical.

    Scale: pair generation is per-order (k items -> k(k-1)/2 pairs,
    bounded by basket size, never catalog x catalog); the support
    HAVING prunes the long tail before the lift joins. The per-item
    count frame has one row per distinct partkey — sf-proportional —
    so the lift joins carry NO broadcast hint (the hints that were
    here until round 10 were the round-9 scale-killer class); both
    sides are keyed on partkey and AQE broadcasts at runtime only if
    the post-HAVING side is actually small. Only the 1-row n_orders
    aggregate is force-broadcast. Same bounded-fanout discipline as
    graph_triangle_count.
    """
    t = load_tables(spark, sf_dir, register_views=False)
    baskets = t["lineitem"].select("l_orderkey", "l_partkey").distinct()
    n_orders = baskets.agg(F.countDistinct("l_orderkey").cast("long").alias("n"))
    item = baskets.groupBy("l_partkey").agg(F.count(F.lit(1)).cast("long").alias("n_item"))
    a = baskets.select("l_orderkey", F.col("l_partkey").alias("p1"))
    b = baskets.select(F.col("l_orderkey").alias("ok2"), F.col("l_partkey").alias("p2"))
    pair = (
        a.join(b, (F.col("l_orderkey") == F.col("ok2")) & (F.col("p1") < F.col("p2")))
        .groupBy("p1", "p2")
        .agg(F.count(F.lit(1)).cast("long").alias("n_pair"))
        .filter(F.col("n_pair") >= _BASKET_MIN_SUPPORT)
    )
    return (
        pair.join(
            item.select(F.col("l_partkey").alias("p1"), F.col("n_item").alias("n1")),
            "p1",
        )
        .join(
            item.select(F.col("l_partkey").alias("p2"), F.col("n_item").alias("n2")),
            "p2",
        )
        .crossJoin(bcast_bounded(n_orders, "1-row aggregate"))
        .select(
            "p1",
            "p2",
            "n_pair",
            ((F.col("n_pair") * F.col("n")).cast("double") / (F.col("n1") * F.col("n2"))).alias("lift"),
        )
        .orderBy("p1", "p2")
    )


# ---------------------------------------------------------------------------
# Closed-form OLS regression from exact power sums
# ---------------------------------------------------------------------------

_OLS_ORACLE = """
WITH s AS (
    SELECT CAST(COUNT(*) AS DOUBLE) AS n,
           CAST(SUM(CAST(l_discount AS DECIMAL(38,12))) AS DOUBLE) AS sx,
           CAST(SUM(CAST(l_quantity AS DECIMAL(38,12))) AS DOUBLE) AS sy,
           CAST(SUM(CAST(l_discount * l_quantity AS DECIMAL(38,12))) AS DOUBLE) AS sxy,
           CAST(SUM(CAST(l_discount * l_discount AS DECIMAL(38,12))) AS DOUBLE) AS sxx,
           CAST(SUM(CAST(l_quantity * l_quantity AS DECIMAL(38,12))) AS DOUBLE) AS syy
    FROM lineitem
)
SELECT CAST(n AS BIGINT) AS n,
       (n * sxy - sx * sy) / (n * sxx - sx * sx) AS slope,
       (sy - (n * sxy - sx * sy) / (n * sxx - sx * sx) * sx) / n AS intercept,
       ROUND(((n * sxy - sx * sy) * (n * sxy - sx * sy))
             / ((n * sxx - sx * sx) * (n * syy - sy * sy)), 9) AS r_squared
FROM s
"""


@_register("regression_ols_exact", _OLS_ORACLE)
def regression_ols_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordinary least squares (quantity ~ discount) via the closed
    form over EXACT decimal power sums — slope, intercept, and R² are
    each a fixed double expression over five exact aggregates, so the
    fit is partitioning-independent (R² is additionally rounded to
    9 dp: its compound product ratio is the one place engine-internal
    expression evaluation showed a 1-ulp divergence) (the moment-matrix
    analog of ``agg_higher_moments``; a streaming/distributed
    regression with no iterative solver).

    Scale: one scan, one 6-value aggregate, everything else is
    driver-free scalar arithmetic in the plan. Multi-feature OLS
    generalizes via the normal equations over k(k+1)/2 exact sums —
    fine for small k; beyond that use iterative solvers.
    """
    t = load_tables(spark, sf_dir, register_views=False)
    x, y = F.col("l_discount"), F.col("l_quantity")
    dec12 = "decimal(38,12)"
    s = t["lineitem"].agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.sum(x.cast(dec12)).cast("double").alias("sx"),
        F.sum(y.cast(dec12)).cast("double").alias("sy"),
        F.sum((x * y).cast(dec12)).cast("double").alias("sxy"),
        F.sum((x * x).cast(dec12)).cast("double").alias("sxx"),
        F.sum((y * y).cast(dec12)).cast("double").alias("syy"),
    )
    n, sx, sy, sxy, sxx, syy = (
        F.col(c) for c in ("n", "sx", "sy", "sxy", "sxx", "syy")
    )
    slope = (n * sxy - sx * sy) / (n * sxx - sx * sx)
    return s.select(
        n.cast("long").alias("n"),
        slope.alias("slope"),
        ((sy - slope * sx) / n).alias("intercept"),
        F.round(
            ((n * sxy - sx * sy) * (n * sxy - sx * sy))
            / ((n * sxx - sx * sx) * (n * syy - sy * sy)),
            9,
        ).alias("r_squared"),
    )


# ---------------------------------------------------------------------------
# Burst detection: user-hours spiking above their own baseline
# ---------------------------------------------------------------------------

_BURST_ORACLE = """
WITH hourly AS (
    SELECT user_id, time_bucket(INTERVAL 1 HOUR, ts) AS hour_start,
           CAST(COUNT(*) AS BIGINT) AS n_events
    FROM events GROUP BY 1, 2
),
baseline AS (
    SELECT user_id,
           CAST(COUNT(*) AS BIGINT) AS n_hours,
           CAST(SUM(n_events) AS BIGINT) AS total
    FROM hourly GROUP BY user_id
)
SELECT h.user_id, h.hour_start, h.n_events
FROM hourly h JOIN baseline b ON b.user_id = h.user_id
WHERE b.n_hours >= 24
  AND h.n_events * b.n_hours * 2 > 3 * b.total
ORDER BY h.user_id, h.hour_start
"""


@_register("events_burst_hours", _BURST_ORACLE)
def events_burst_hours(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Burst detection: user-hours whose event count exceeds 1.5x
    the user's own average hourly rate (bot/incident signal; the
    multiplier is a parameter — 1.5 suits this corpus's near-uniform
    rates). The threshold test is pure integer arithmetic
    (``2 * n_events * n_hours > 3 * total``) — no float average to
    wobble at the boundary.

    Scale: hourly rollup then per-user baseline — two aggregations
    sharing the user_id key family; the baseline join reuses the
    second aggregation's partitioning. Only flagged rows leave.
    """
    t = load_tables(spark, sf_dir, register_views=False)
    hourly = (
        t["events"]
        .groupBy("user_id", F.date_trunc("hour", F.col("ts")).alias("hour_start"))
        .agg(F.count(F.lit(1)).cast("long").alias("n_events"))
    )
    baseline = hourly.groupBy(F.col("user_id").alias("bu")).agg(
        F.count(F.lit(1)).cast("long").alias("n_hours"),
        F.sum("n_events").cast("long").alias("total"),
    )
    return (
        hourly.join(baseline, F.col("user_id") == F.col("bu"))
        .filter(
            (F.col("n_hours") >= 24)
            & (F.col("n_events") * F.col("n_hours") * 2 > 3 * F.col("total"))
        )
        .select("user_id", "hour_start", "n_events")
        .orderBy("user_id", "hour_start")
    )


# ---------------------------------------------------------------------------
# Seasonality: monthly revenue with MoM and YoY growth
# ---------------------------------------------------------------------------

_MONTHLY_GROWTH_ORACLE = """
WITH monthly AS (
    SELECT CAST(date_trunc('month', o_orderdate) AS DATE) AS month_start,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(38,6))) AS DOUBLE) AS revenue
    FROM orders GROUP BY 1
)
SELECT CAST(month_start AS VARCHAR) AS month_start, revenue,
       (revenue - LAG(revenue, 1) OVER w) / LAG(revenue, 1) OVER w AS mom_growth,
       (revenue - LAG(revenue, 12) OVER w) / LAG(revenue, 12) OVER w AS yoy_growth
FROM monthly
WINDOW w AS (ORDER BY month_start)
ORDER BY month_start
"""


@_register("orders_monthly_growth", _MONTHLY_GROWTH_ORACLE)
def orders_monthly_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Monthly revenue with month-over-month and year-over-year growth
    rates (LAG 1 / LAG 12 over the month series) — the seasonality
    readout every revenue dashboard starts from. Growth is one double
    division over decimal-exact monthly sums; months are emitted as
    ISO strings for cross-engine date-type parity.

    Scale: the window runs over ONE ROW PER MONTH (the fact stream is
    pre-collapsed by the groupBy), so the unpartitioned sort is a
    few-hundred-row series no matter how large the fact table is.
    """
    t = load_tables(spark, sf_dir, register_views=False)
    monthly = (
        t["orders"]
        .groupBy(F.date_trunc("month", "o_orderdate").cast("date").alias("month_start"))
        .agg(F.sum(F.col("o_totalprice").cast(DEC)).cast("double").alias("revenue"))
    )
    w = Window.orderBy("month_start")
    rev, l1, l12 = (
        F.col("revenue"),
        F.lag("revenue", 1).over(w),
        F.lag("revenue", 12).over(w),
    )
    return monthly.select(
        F.col("month_start").cast("string").alias("month_start"),
        "revenue",
        ((rev - l1) / l1).alias("mom_growth"),
        ((rev - l12) / l12).alias("yoy_growth"),
    ).orderBy("month_start")


# ---------------------------------------------------------------------------
# Rank movement: part revenue ranks, first half vs second half of 1995
# ---------------------------------------------------------------------------

_RANK_DELTA_ORACLE = """
WITH h1 AS (
    SELECT l_partkey,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(38,6))) AS DECIMAL(38,6)) AS rev
    FROM lineitem WHERE l_shipdate < DATE '1995-07-01'
    GROUP BY l_partkey
),
h2 AS (
    SELECT l_partkey,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(38,6))) AS DECIMAL(38,6)) AS rev
    FROM lineitem WHERE l_shipdate >= DATE '1995-07-01'
    GROUP BY l_partkey
),
r1 AS (SELECT l_partkey, ROW_NUMBER() OVER (ORDER BY rev DESC, l_partkey) AS rk FROM h1),
r2 AS (SELECT l_partkey, ROW_NUMBER() OVER (ORDER BY rev DESC, l_partkey) AS rk FROM h2)
SELECT r2.l_partkey,
       CAST(r2.rk AS BIGINT) AS rank_now,
       CAST(r1.rk AS BIGINT) AS rank_before,
       CAST(r1.rk - r2.rk AS BIGINT) AS rank_gain
FROM r2 JOIN r1 ON r1.l_partkey = r2.l_partkey
WHERE r2.rk <= 25
ORDER BY rank_now
"""


@_register("window_rank_delta", _RANK_DELTA_ORACLE)
def window_rank_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Movers-and-shakers: current top-25 parts by second-half-1995
    revenue with their first-half rank and the rank gain — the
    period-over-period leaderboard movement query.

    Scale: both period aggregates collapse the fact table before any
    ranking (the ROW_NUMBER windows order one row per part, not per
    lineitem), with exact-decimal revenue and a partkey tiebreak so
    ranks are total-order deterministic. The two rank series join on
    partkey; the top-25 filter prunes before the join output leaves.
    """
    t = load_tables(spark, sf_dir, register_views=False)
    li = t["lineitem"]
    split = F.lit("1995-07-01").cast("date")

    def ranked(df: DataFrame) -> DataFrame:
        rev = df.groupBy("l_partkey").agg(
            F.sum(F.col("l_extendedprice").cast(DEC)).cast(DEC).alias("rev")
        )
        w = Window.orderBy(F.desc("rev"), F.asc("l_partkey"))
        return rev.select("l_partkey", F.row_number().over(w).cast("long").alias("rk"))

    r1 = ranked(li.filter(F.col("l_shipdate") < split)).select(
        F.col("l_partkey").alias("pk1"), F.col("rk").alias("rank_before")
    )
    r2 = ranked(li.filter(F.col("l_shipdate") >= split))
    return (
        r2.filter(F.col("rk") <= 25)
        .join(r1, F.col("l_partkey") == F.col("pk1"))
        .select(
            "l_partkey",
            F.col("rk").alias("rank_now"),
            "rank_before",
            (F.col("rank_before") - F.col("rk")).cast("long").alias("rank_gain"),
        )
        .orderBy("rank_now")
    )


# ---------------------------------------------------------------------------
# Inter-arrival gap statistics per user
# ---------------------------------------------------------------------------

_INTERARRIVAL_ORACLE = """
WITH gaps AS (
    SELECT user_id,
           CAST(date_diff('second',
                LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id),
                ts) AS BIGINT) AS gap_s
    FROM events
)
SELECT user_id,
       CAST(COUNT(gap_s) AS BIGINT) AS n_gaps,
       CAST(MIN(gap_s) AS BIGINT) AS min_gap_s,
       CAST(MAX(gap_s) AS BIGINT) AS max_gap_s,
       CAST(SUM(gap_s) AS BIGINT) AS total_gap_s
FROM gaps
WHERE gap_s IS NOT NULL
GROUP BY user_id
ORDER BY user_id
"""


@_register("events_interarrival_stats", _INTERARRIVAL_ORACLE)
def events_interarrival_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inter-arrival analysis: per-user min/max/total gap between
    consecutive events in integer seconds — the cadence fingerprint
    behind engagement scoring and bot heuristics (pure integer time
    math; no float durations to diverge).

    Scale: one user_id shuffle shared by the LAG window and the
    aggregate (same key, Catalyst reuses the partitioning).
    """
    t = load_tables(spark, sf_dir, register_views=False)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gaps = t["events"].select(
        "user_id",
        (F.unix_timestamp("ts") - F.unix_timestamp(F.lag("ts").over(w)))
        .cast("long")
        .alias("gap_s"),
    )
    return (
        gaps.filter(F.col("gap_s").isNotNull())
        .groupBy("user_id")
        .agg(
            F.count("gap_s").cast("long").alias("n_gaps"),
            F.min("gap_s").cast("long").alias("min_gap_s"),
            F.max("gap_s").cast("long").alias("max_gap_s"),
            F.sum("gap_s").cast("long").alias("total_gap_s"),
        )
        .orderBy("user_id")
    )


# ---------------------------------------------------------------------------
# Pivot with multiple aggregates per cell
# ---------------------------------------------------------------------------

_PIVOT_MULTI_ORACLE = """
SELECT l_returnflag,
       CAST(COUNT(*) FILTER (WHERE l_linestatus = 'F') AS BIGINT) AS F_n,
       CAST(SUM(CAST(l_extendedprice AS DECIMAL(38,6))) FILTER (WHERE l_linestatus = 'F')
            AS DOUBLE) AS F_revenue,
       CAST(COUNT(*) FILTER (WHERE l_linestatus = 'O') AS BIGINT) AS O_n,
       CAST(SUM(CAST(l_extendedprice AS DECIMAL(38,6))) FILTER (WHERE l_linestatus = 'O')
            AS DOUBLE) AS O_revenue
FROM lineitem
GROUP BY l_returnflag
ORDER BY l_returnflag
"""


@_register("pivot_multi_agg", _PIVOT_MULTI_ORACLE)
def pivot_multi_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot with MULTIPLE aggregates per pivot value (count AND
    revenue per linestatus column) — the wide-report shape
    ``pivot_wide`` doesn't cover; Spark name-mangles the output as
    ``{value}_{aggAlias}`` and both aggregates share one shuffle.

    Scale: explicit pivot value list (no discovery pass), exact
    decimal revenue; one aggregation over |returnflag| x |linestatus|
    cells with map-side partials.
    """
    t = load_tables(spark, sf_dir, register_views=False)
    piv = (
        t["lineitem"]
        .groupBy("l_returnflag")
        .pivot("l_linestatus", ["F", "O"])
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum(F.col("l_extendedprice").cast(DEC)).cast("double").alias("revenue"),
        )
    )
    return piv.select(
        "l_returnflag",
        F.col("F_n"),
        F.col("F_revenue"),
        F.col("O_n"),
        F.col("O_revenue"),
    ).orderBy("l_returnflag")


# ---------------------------------------------------------------------------
# Statistics family (round 4): equi-depth histogram, chi-square test,
# generalized means, Kaplan-Meier survival curve
# ---------------------------------------------------------------------------

_HIST_EQDEPTH_ORACLE = """
WITH bounds AS (
    SELECT [quantile_cont(o_totalprice, 0.1), quantile_cont(o_totalprice, 0.2),
            quantile_cont(o_totalprice, 0.3), quantile_cont(o_totalprice, 0.4),
            quantile_cont(o_totalprice, 0.5), quantile_cont(o_totalprice, 0.6),
            quantile_cont(o_totalprice, 0.7), quantile_cont(o_totalprice, 0.8),
            quantile_cont(o_totalprice, 0.9)] AS bs
    FROM orders
), bucketed AS (
    SELECT 1 + len(list_filter(b.bs, x -> o.o_totalprice > x)) AS bucket,
           o.o_totalprice
    FROM orders o CROSS JOIN bounds b
)
SELECT CAST(bucket AS INT) AS bucket, COUNT(*) AS n,
       MIN(o_totalprice) AS lo, MAX(o_totalprice) AS hi,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(38,6))) AS DOUBLE) AS total
FROM bucketed GROUP BY bucket ORDER BY bucket
"""


@_register("histogram_equi_depth", _HIST_EQDEPTH_ORACLE)
def histogram_equi_depth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-depth (decile) histogram of order totals.

    Two-phase instead of a global NTILE: a global NTILE needs a total
    order, which in Spark is a single-partition window — a driver-size
    bottleneck at scale. Here phase 1 computes the 9 interior decile
    boundaries (exact ``percentile``, same p*(n-1) interpolation as
    DuckDB ``quantile_cont``; boundaries interpolate BETWEEN cent-
    valued data points, so a last-ulp engine difference cannot flip a
    membership comparison), phase 2 broadcasts the 1-row boundary
    array and buckets with a narrow scan — no shuffle of the fact
    table at all beyond the final 10-row aggregate. At 100 TB swap
    phase 1 to ``approx_percentile`` (mergeable t-digest) unchanged.
    """
    t = load_tables(spark, sf_dir, register_views=False)
    o = t["orders"]
    # ONE percentile aggregate with an array of fractions — nine
    # separate percentile() calls would each buffer and sort the
    # column independently (measured 2.6s -> ~0.5s at sf0.1)
    bounds = o.agg(
        F.expr(
            "percentile(o_totalprice, array(" + ",".join(str(i / 10) for i in range(1, 10)) + "))"
        ).alias("bs")
    )
    return (
        o.crossJoin(bcast_bounded(bounds, "1-row aggregate"))
        .select(
            (1 + F.expr("size(filter(bs, x -> o_totalprice > x))")).cast("int").alias("bucket"),
            "o_totalprice",
        )
        .groupBy("bucket")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.min("o_totalprice").alias("lo"),
            F.max("o_totalprice").alias("hi"),
            dec_sum("o_totalprice", "total"),
        )
        .orderBy("bucket")
    )


_CHI2_ORACLE = """
WITH cells AS (
    SELECT event_type, dayofweek(ts) AS dow, COUNT(*) AS o
    FROM events GROUP BY event_type, dayofweek(ts)
), rt AS (SELECT event_type, SUM(o) AS row_total FROM cells GROUP BY event_type),
   ct AS (SELECT dow, SUM(o) AS col_total FROM cells GROUP BY dow),
   n AS (SELECT SUM(o) AS n FROM cells)
SELECT CAST(SUM(CAST(
           POWER(o - CAST(row_total * col_total AS DOUBLE) / n, 2)
               / (CAST(row_total * col_total AS DOUBLE) / n)
           AS DECIMAL(38,6))) AS DOUBLE) AS chi2,
       CAST((COUNT(DISTINCT event_type) - 1) * (COUNT(DISTINCT dow) - 1) AS BIGINT) AS dof,
       CAST(MAX(n.n) AS BIGINT) AS n
FROM cells JOIN rt USING (event_type) JOIN ct USING (dow) CROSS JOIN n
"""


@_register("stat_chi_square", _CHI2_ORACLE)
def stat_chi_square(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chi-square independence test: event_type x day-of-week.

    One shuffle builds the contingency cells; margins are re-aggregated
    from the tiny cell table (|types| x 7 rows) and broadcast back, so
    the fact table is scanned exactly once. Every per-cell term is a
    deterministic function of integer counts; terms are summed through
    the exact decimal accumulator, so the statistic is partitioning-
    invariant. Scale: cells cardinality is data-independent — safe at
    any SF.
    """
    t = load_tables(spark, sf_dir, register_views=False)
    cells = (
        t["events"]
        .groupBy("event_type", F.dayofweek("ts").alias("dow"))
        .agg(F.count(F.lit(1)).alias("o"))
        .transform(lineage_cut)
    )
    rt = cells.groupBy("event_type").agg(F.sum("o").alias("row_total"))
    ct = cells.groupBy("dow").agg(F.sum("o").alias("col_total"))
    n = cells.agg(F.sum("o").alias("n"))
    e = F.col("row_total").cast("double") * F.col("col_total") / F.col("n")
    return (
        cells.join(bcast_bounded(rt, "event_type domain: bounded"), "event_type")
        .join(bcast_bounded(ct, "dow: 7 rows"), "dow")
        .crossJoin(bcast_bounded(n, "1-row aggregate"))
        .agg(
            F.sum((F.pow(F.col("o") - e, F.lit(2)) / e).cast(DEC))
            .cast("double")
            .alias("chi2"),
            ((F.countDistinct("event_type") - 1) * (F.countDistinct("dow") - 1))
            .cast("long")
            .alias("dof"),
            F.max("n").cast("long").alias("n"),
        )
    )


_MEAN_FAMILY_ORACLE = """
SELECT l_returnflag,
       COUNT(*) AS n,
       ROUND(EXP(CAST(SUM(CAST(LN(l_extendedprice) AS DECIMAL(38,18))) AS DOUBLE)
                 / COUNT(*)), 6) AS geo_mean,
       ROUND(COUNT(*) / CAST(SUM(CAST(1.0 / l_extendedprice AS DECIMAL(38,18))) AS DOUBLE),
             6) AS harm_mean,
       ROUND(CAST(SUM(CAST(l_extendedprice * l_quantity AS DECIMAL(38,6))) AS DOUBLE)
             / CAST(SUM(CAST(l_quantity AS DECIMAL(38,6))) AS DOUBLE), 6) AS wavg_price
FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag
"""


@_register("agg_mean_family", _MEAN_FAMILY_ORACLE)
def agg_mean_family(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Generalized means per group: geometric (exp-mean-log), harmonic
    (n over sum of reciprocals), and quantity-weighted arithmetic.

    The per-row ``ln``/reciprocal doubles are deterministic; they are
    accumulated at DECIMAL(38,18) so the distributed sum is exact and
    partitioning-invariant, then one deterministic exp/divide at the
    end (rounded to 6 dp to absorb last-ulp libm differences between
    engines). Scale: one scan, map-side partial aggregation, |flags|
    output rows.
    """
    t = load_tables(spark, sf_dir, register_views=False)
    dec18 = "decimal(38,18)"
    price = F.col("l_extendedprice")
    return (
        t["lineitem"]
        .groupBy("l_returnflag")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(
                F.exp(F.sum(F.log(price).cast(dec18)).cast("double") / F.count(F.lit(1))), 6
            ).alias("geo_mean"),
            F.round(
                F.count(F.lit(1)) / F.sum((F.lit(1.0) / price).cast(dec18)).cast("double"), 6
            ).alias("harm_mean"),
            F.round(
                F.sum((price * F.col("l_quantity")).cast(DEC)).cast("double")
                / F.sum(F.col("l_quantity").cast(DEC)).cast("double"),
                6,
            ).alias("wavg_price"),
        )
        .orderBy("l_returnflag")
    )


_KM_ORACLE = """
WITH life AS (
    SELECT o_custkey,
           date_diff('day', MIN(o_orderdate), MAX(o_orderdate)) AS days
    FROM orders GROUP BY o_custkey HAVING COUNT(*) >= 2
), ev AS (
    SELECT days, COUNT(*) AS d FROM life GROUP BY days
), tot AS (SELECT COUNT(*) AS n0 FROM life),
curve AS (
    SELECT days, d,
           MAX(n0) - COALESCE(SUM(d) OVER (ORDER BY days
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS at_risk
    FROM ev CROSS JOIN tot GROUP BY days, d
)
SELECT CAST(days AS BIGINT) AS days, CAST(d AS BIGINT) AS n_events,
       CAST(at_risk AS BIGINT) AS at_risk,
       ROUND(EXP(SUM(LN(1.0 - CAST(d AS DOUBLE) / at_risk))
                 OVER (ORDER BY days ROWS UNBOUNDED PRECEDING)), 9) AS survival
FROM curve WHERE at_risk > d ORDER BY days
"""


@_register("survival_kaplan_meier", _KM_ORACLE)
def survival_kaplan_meier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kaplan-Meier survival curve over customer lifetime (days between
    first and last order, repeat customers; every subject observed, so
    the estimator is the pure product-limit fold).

    S(t) = prod_{t_i <= t} (1 - d_i / n_i) computed as exp of a running
    sum of logs — the same ordered fold in both engines, over the
    DISTINCT-duration table whose cardinality is bounded by the
    calendar span (a few thousand rows at any SF), so the unpartitioned
    ordered window is a deliberate, bounded single-partition step. The
    heavy work — per-customer min/max and the duration histogram — is
    two shuffled aggregations on the full fact table. Rounded to 9 dp
    to absorb libm ulp differences.
    """
    t = load_tables(spark, sf_dir, register_views=False)
    life = (
        t["orders"]
        .groupBy("o_custkey")
        .agg(
            F.datediff(F.max("o_orderdate"), F.min("o_orderdate")).alias("days"),
            F.count(F.lit(1)).alias("cnt"),
        )
        .filter(F.col("cnt") >= 2)
    )
    ev = life.groupBy("days").agg(F.count(F.lit(1)).alias("d"))
    tot = life.agg(F.count(F.lit(1)).alias("n0"))
    w_prev = Window.orderBy("days").rowsBetween(Window.unboundedPreceding, -1)
    w_run = Window.orderBy("days").rowsBetween(Window.unboundedPreceding, 0)
    curve = (
        ev.crossJoin(bcast_bounded(tot, "1-row aggregate"))
        .withColumn(
            "at_risk", F.col("n0") - F.coalesce(F.sum("d").over(w_prev), F.lit(0))
        )
        .filter(F.col("at_risk") > F.col("d"))
    )
    return curve.select(
        F.col("days").cast("long").alias("days"),
        F.col("d").cast("long").alias("n_events"),
        F.col("at_risk").cast("long").alias("at_risk"),
        F.round(
            F.exp(
                F.sum(F.log(1.0 - F.col("d").cast("double") / F.col("at_risk"))).over(w_run)
            ),
            9,
        ).alias("survival"),
    ).orderBy("days")


_WINSOR_ORACLE = """
WITH b AS (
    SELECT quantile_cont(o_totalprice, 0.05) AS p05,
           quantile_cont(o_totalprice, 0.95) AS p95
    FROM orders
)
SELECT COUNT(*) AS n,
       ROUND(MAX(p05), 6) AS p05, ROUND(MAX(p95), 6) AS p95,
       ROUND(CAST(SUM(CAST(LEAST(GREATEST(o_totalprice, p05), p95)
                           AS DECIMAL(38,6))) AS DOUBLE) / COUNT(*), 6) AS winsor_mean,
       ROUND(CAST(SUM(CASE WHEN o_totalprice > p05 AND o_totalprice < p95
                           THEN CAST(o_totalprice AS DECIMAL(38,6)) END) AS DOUBLE)
             / SUM(CASE WHEN o_totalprice > p05 AND o_totalprice < p95
                        THEN 1 ELSE 0 END), 6) AS trimmed_mean
FROM orders CROSS JOIN b
"""


@_register("stats_winsorized", _WINSOR_ORACLE)
def stats_winsorized(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winsorized (clip at p05/p95) and trimmed (drop outside
    (p05, p95)) means of order totals — the outlier-robust location
    estimators every metrics pipeline needs.

    Same two-phase shape as ``histogram_equi_depth``: exact percentile
    boundaries on pass 1, broadcast to a narrow clipping scan on pass
    2 — the fact table never shuffles. Clipped values are either the
    original cent-valued double or the boundary itself; sums go
    through the exact decimal accumulator and the emitted means are
    rounded to 6 dp, absorbing any last-ulp boundary skew between the
    engines' interpolation. At 100 TB, switch pass 1 to
    ``approx_percentile`` unchanged.
    """
    t = load_tables(spark, sf_dir, register_views=False)
    o = t["orders"]
    b = o.agg(
        F.expr("percentile(o_totalprice, 0.05)").alias("p05"),
        F.expr("percentile(o_totalprice, 0.95)").alias("p95"),
    )
    clipped = F.least(F.greatest(F.col("o_totalprice"), F.col("p05")), F.col("p95"))
    in_core = (F.col("o_totalprice") > F.col("p05")) & (F.col("o_totalprice") < F.col("p95"))
    return o.crossJoin(bcast_bounded(b, "1-row aggregate")).agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.max("p05"), 6).alias("p05"),
        F.round(F.max("p95"), 6).alias("p95"),
        F.round(
            F.sum(clipped.cast(DEC)).cast("double") / F.count(F.lit(1)), 6
        ).alias("winsor_mean"),
        F.round(
            F.sum(F.when(in_core, F.col("o_totalprice").cast(DEC))).cast("double")
            / F.sum(F.when(in_core, 1).otherwise(0)),
            6,
        ).alias("trimmed_mean"),
    )


_SNAPSHOT_DIFF_ORACLE = """
SELECT * FROM (
    SELECT 'added' AS change, CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(doc_id) AS BIGINT) AS sum_doc_id
    FROM documents WHERE doc_id >= 80 AND doc_id < 100
    UNION ALL
    SELECT 'removed', CAST(COUNT(*) AS BIGINT), CAST(SUM(doc_id) AS BIGINT)
    FROM documents WHERE doc_id < 80 AND doc_id % 10 = 7
    UNION ALL
    SELECT 'changed', CAST(COUNT(*) AS BIGINT), CAST(SUM(doc_id) AS BIGINT)
    FROM documents WHERE doc_id < 80 AND doc_id % 10 = 3
    UNION ALL
    SELECT 'unchanged', CAST(COUNT(*) AS BIGINT), CAST(SUM(doc_id) AS BIGINT)
    FROM documents WHERE doc_id < 80 AND doc_id % 10 NOT IN (3, 7)
) ORDER BY change
"""


@_register("warehouse_snapshot_diff", _SNAPSHOT_DIFF_ORACLE)
@on_scratch_dir
def warehouse_snapshot_diff(spark: SparkSession, sf_dir: str, root: str) -> DataFrame:
    """Snapshot diff: classify every key as added / removed / changed /
    unchanged between snapshot v1 and the current table state — the
    audit query behind "what did this pipeline run actually do", built
    on the same snapshot machinery as ``warehouse_time_travel``.

    Exercise: load 80 docs -> snapshot v1 -> 3-way MERGE (20 inserts,
    updates where doc_id%10==3, deletes where %10==7) -> diff. The
    diff itself is one FULL OUTER join of the two versions on the key
    with a null/values classification — a single key shuffle at any
    scale (both sides are plain parquet scans of their pinned file
    sets; a lakehouse-format diff would prune to changed files, same
    contract).
    """
    from load_datawarehouse_spark.warehouse import SparkWarehouse

    t = load_tables(spark, sf_dir, register_views=False)
    docs = t["documents"].select("doc_id", "lang", "source")
    base = [r.asDict() for r in docs.filter(F.col("doc_id") < 80).collect()]
    inserts = [
        {**r.asDict(), "op": "I"}
        for r in docs.filter((F.col("doc_id") >= 80) & (F.col("doc_id") < 100)).collect()
    ]
    updates = [
        {**r, "lang": "redacted", "op": "U"}
        for r in base
        if r["doc_id"] % 10 == 3
    ]
    deletes = [{**r, "op": "D"} for r in base if r["doc_id"] % 10 == 7]
    wh = SparkWarehouse.new(spark, root, "corpus", data=base)
    v1 = wh.snapshot()
    wh.merge(inserts + updates + deletes, keys=["doc_id"])
    old = wh.df_at(v1).select(
        F.col("doc_id"), F.struct("lang", "source").alias("old_val")
    )
    new = wh.df().select(
        F.col("doc_id"), F.struct("lang", "source").alias("new_val")
    )
    change = (
        F.when(F.col("old_val").isNull(), "added")
        .when(F.col("new_val").isNull(), "removed")
        .when(F.col("old_val") != F.col("new_val"), "changed")
        .otherwise("unchanged")
    )
    return (
        old.join(new, "doc_id", "full_outer")
        .select("doc_id", change.alias("change"))
        .groupBy("change")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum("doc_id").cast("long").alias("sum_doc_id"),
        )
        .orderBy("change")
    )


# ---------------------------------------------------------------------------
# Data-quality framework: expectations report + join-key skew profile
# ---------------------------------------------------------------------------

_DQ_EXPECT_ORACLE = """
SELECT * FROM (
    SELECT 'orders.o_totalprice > 0' AS rule,
           COUNT(*) AS n_checked,
           CAST(SUM(CASE WHEN o_totalprice <= 0 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_failed
    FROM orders
    UNION ALL
    SELECT 'orders.o_custkey fk customer', COUNT(*),
           CAST(SUM(CASE WHEN c.c_custkey IS NULL THEN 1 ELSE 0 END) AS BIGINT)
    FROM orders o LEFT JOIN customer c ON o.o_custkey = c.c_custkey
    UNION ALL
    SELECT 'orders.o_orderkey unique', COUNT(*),
           CAST(COUNT(*) - COUNT(DISTINCT o_orderkey) AS BIGINT)
    FROM orders
    UNION ALL
    SELECT 'orders.o_orderdate not null', COUNT(*),
           CAST(SUM(CASE WHEN o_orderdate IS NULL THEN 1 ELSE 0 END) AS BIGINT)
    FROM orders
    UNION ALL
    SELECT 'lineitem.l_discount in [0,1]', COUNT(*),
           CAST(SUM(CASE WHEN l_discount < 0 OR l_discount > 1 THEN 1 ELSE 0 END)
                AS BIGINT)
    FROM lineitem
)
ORDER BY rule
"""


@_register("dq_expectations_report", _DQ_EXPECT_ORACLE)
def dq_expectations_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Declarative data-quality expectations run as ONE report: range,
    referential-integrity (FK orphans), uniqueness, not-null, and
    domain checks, each emitting (rule, n_checked, n_failed).

    Scale: each rule is a scan-local aggregate except the FK check
    (equi join on the key, NO forced broadcast — customer is
    sf-proportional, so the hint that was here until round 10 was a
    scale-killer; AQE broadcasts at runtime only if the dim side is
    actually small) and uniqueness (count vs count-distinct
    in one Expand-based aggregate — no self-join). The checks over the
    same table deliberately stay separate aggregates so each rule's
    plan prunes to exactly the columns it reads; a 100-TB run fuses
    same-table rules into one wide aggregate instead (cf.
    ``profile_column_stats``).
    """
    t = load_tables(spark, sf_dir, register_views=False)
    o, c, l = t["orders"], t["customer"], t["lineitem"]

    def rule(df, name, fail_col):
        return df.agg(
            F.lit(name).alias("rule"),
            F.count(F.lit(1)).alias("n_checked"),
            F.sum(fail_col).cast("long").alias("n_failed"),
        )

    r1 = rule(o, "orders.o_totalprice > 0",
              F.when(F.col("o_totalprice") <= 0, 1).otherwise(0))
    fk = o.join(c.select("c_custkey"), F.col("o_custkey") == F.col("c_custkey"), "left")
    r2 = rule(fk, "orders.o_custkey fk customer",
              F.when(F.col("c_custkey").isNull(), 1).otherwise(0))
    r3 = o.agg(
        F.lit("orders.o_orderkey unique").alias("rule"),
        F.count(F.lit(1)).alias("n_checked"),
        (F.count(F.lit(1)) - F.countDistinct("o_orderkey")).cast("long").alias("n_failed"),
    )
    r4 = rule(o, "orders.o_orderdate not null",
              F.when(F.col("o_orderdate").isNull(), 1).otherwise(0))
    r5 = rule(l, "lineitem.l_discount in [0,1]",
              F.when((F.col("l_discount") < 0) | (F.col("l_discount") > 1), 1).otherwise(0))
    return r1.unionByName(r2).unionByName(r3).unionByName(r4).unionByName(r5).orderBy("rule")


_DQ_SKEW_ORACLE = """
WITH per_key AS (
    SELECT o_custkey, COUNT(*) AS c FROM orders GROUP BY o_custkey
), hist AS (
    SELECT c, COUNT(*) AS m FROM per_key GROUP BY c
), pos AS (
    SELECT c, m,
           SUM(m) OVER (ORDER BY c ROWS UNBOUNDED PRECEDING) AS cum_m,
           SUM(m * c) OVER () AS s,
           SUM(m) OVER () AS n
    FROM hist
), gini_terms AS (
    -- ascending-rank identity: ranks of a value-c run are
    -- (cum_m - m + 1) .. cum_m, so sum(rank)*c = c*m*(2*cum_m - m + 1)/2
    SELECT c, m, cum_m, s, n,
           c * m * (2 * cum_m - m + 1) AS two_b_term
    FROM pos
), topcut AS (
    SELECT c, m, s, n,
           SUM(m) OVER (ORDER BY c DESC ROWS UNBOUNDED PRECEDING) AS cum_top,
           CAST(CEIL(n * 0.01) AS BIGINT) AS need
    FROM hist CROSS JOIN (SELECT SUM(m * c) AS s, SUM(m) AS n FROM hist)
)
SELECT CAST(MAX(n) AS BIGINT) AS n_keys,
       CAST(MAX(s) AS BIGINT) AS n_orders,
       ROUND(CAST(SUM(two_b_term) AS DOUBLE) / (CAST(MAX(n) AS DOUBLE) * MAX(s))
             - (MAX(n) + 1.0) / MAX(n), 9) AS gini,
       (SELECT ROUND(CAST(SUM(GREATEST(LEAST(m, need - (cum_top - m)), 0) * c)
                          AS DOUBLE) / MAX(s), 9)
        FROM topcut) AS top1pct_share,
       (SELECT CAST(MAX(c) AS BIGINT) FROM hist) AS max_per_key
FROM gini_terms
"""


@_register("dq_key_skew_gini", _DQ_SKEW_ORACLE)
def dq_key_skew_gini(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join-key skew profile for orders.o_custkey: Gini coefficient of
    the per-key row-count distribution plus the share held by the top
    1% of keys — the diagnostic you run BEFORE choosing a salted vs
    plain shuffle strategy (cf. ``join_skew_stress``).

    Gini normally needs a global sort of per-key counts; here it is
    computed from the count-of-counts HISTOGRAM instead: equal-count
    keys occupy a consecutive rank run, so their rank-sum has the
    closed form c*m*(2*cum_m - m + 1)/2 — all integer arithmetic, and
    the only sorted window runs over |distinct count values| rows
    (dozens, regardless of table size). Two shuffled aggregations
    total; the result is exact, not sampled.
    """
    t = load_tables(spark, sf_dir, register_views=False)
    per_key = t["orders"].groupBy("o_custkey").agg(F.count(F.lit(1)).alias("c"))
    hist = per_key.groupBy("c").agg(F.count(F.lit(1)).alias("m"))
    w_asc = Window.orderBy("c").rowsBetween(Window.unboundedPreceding, 0)
    w_desc = Window.orderBy(F.desc("c")).rowsBetween(Window.unboundedPreceding, 0)
    w_all = Window.partitionBy()
    pos = hist.select(
        "c",
        "m",
        F.sum("m").over(w_asc).alias("cum_m"),
        F.sum(F.col("m") * F.col("c")).over(w_all).alias("s"),
        F.sum("m").over(w_all).alias("n"),
        F.sum("m").over(w_desc).alias("cum_top"),
    ).withColumn("need", F.ceil(F.col("n") * 0.01).cast("long"))
    taken = F.greatest(
        F.least(F.col("m"), F.col("need") - (F.col("cum_top") - F.col("m"))), F.lit(0)
    )
    return pos.agg(
        F.max("n").cast("long").alias("n_keys"),
        F.max("s").cast("long").alias("n_orders"),
        F.round(
            F.sum(F.col("c") * F.col("m") * (2 * F.col("cum_m") - F.col("m") + 1)).cast("double")
            / (F.max("n").cast("double") * F.max("s"))
            - (F.max("n") + 1.0) / F.max("n"),
            9,
        ).alias("gini"),
        F.round(F.sum(taken * F.col("c")).cast("double") / F.max("s"), 9).alias(
            "top1pct_share"
        ),
        F.max("c").cast("long").alias("max_per_key"),
    )


# ---------------------------------------------------------------------------
# Pareto skyline (two-phase, mergeable) + z-order layout clustering
# ---------------------------------------------------------------------------

_SKYLINE_ORACLE = """
WITH pairs AS (
    SELECT CAST(ROUND(o_totalprice * 100) AS BIGINT) AS cents,
           CAST(o_orderdate AS DATE) AS day, COUNT(*) AS n_orders
    FROM orders GROUP BY 1, 2
)
SELECT CAST(cents AS DOUBLE) / 100 AS price, CAST(day AS VARCHAR) AS day,
       CAST(n_orders AS BIGINT) AS n_orders
FROM pairs p
WHERE NOT EXISTS (
    SELECT 1 FROM pairs q
    WHERE q.cents >= p.cents AND q.day >= p.day
      AND (q.cents > p.cents OR q.day > p.day)
)
ORDER BY price DESC
"""


def _local_skyline(batches):
    """Per-partition 2-D skyline (maximize both dims). Sorting by
    cents desc / days desc, a row survives iff its days strictly
    exceeds every previously seen days value."""
    import pandas as pd

    best = None
    for pdf in batches:
        cand = pdf if best is None else pd.concat((best, pdf), ignore_index=True)
        cand = cand.sort_values(["cents", "days"], ascending=[False, False])
        keep = []
        max_days = None
        for cents, days in zip(cand["cents"], cand["days"]):
            if max_days is None or days > max_days:
                keep.append(True)
                max_days = days
            else:
                keep.append(False)
        best = cand[pd.Series(keep, index=cand.index)]
    if best is not None:
        yield best


@_register("orders_pareto_skyline", _SKYLINE_ORACLE)
def orders_pareto_skyline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pareto skyline of orders maximizing (price, recency): the
    orders no other order beats on both dimensions — the classic
    SKYLINE operator Spark has no native form of.

    Two-phase, exploiting skyline(S) = skyline(union of per-partition
    skylines): each partition prunes to its local frontier with a
    narrow ``mapInPandas`` (no shuffle of the fact table), then the
    tiny survivor set — bounded by the union of local frontier sizes,
    not the table — collapses to one partition for the final pass with
    the SAME algorithm. Dimensions are exact integers (price cents,
    epoch days), so dominance comparisons are engine-identical. The
    property test locks the merge identity on random partitionings.
    """
    t = load_tables(spark, sf_dir, register_views=False)
    pairs = (
        t["orders"]
        .groupBy(
            F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
            F.col("o_orderdate").cast("date").alias("day"),
        )
        .agg(F.count(F.lit(1)).alias("n_orders"))
        .select("cents", F.datediff("day", F.lit("1970-01-01")).alias("days"), "day", "n_orders")
    )
    schema = "cents long, days int, day date, n_orders long"
    local = pairs.select("cents", "days", "day", "n_orders").mapInPandas(
        _local_skyline, schema
    )
    final = local.coalesce(1).mapInPandas(_local_skyline, schema)
    return final.select(
        (F.col("cents").cast("double") / 100).alias("price"),
        F.col("day").cast("string").alias("day"),
        F.col("n_orders").cast("long").alias("n_orders"),
    ).orderBy(F.desc("price"))


def _zexpr(col_a: str, col_b: str, bits: int = 16) -> str:
    """Bit-interleaved z-value SQL, identical text for both engines:
    bit i of col_a lands at position 2i, col_b at 2i+1."""
    terms = []
    for i in range(bits):
        terms.append(f"((({col_a} >> {i}) & 1) << {2 * i})")
        terms.append(f"((({col_b} >> {i}) & 1) << {2 * i + 1})")
    return " + ".join(terms)


_ZORDER_ORACLE = f"""
WITH z AS (
    SELECT l_partkey, l_suppkey,
           {_zexpr('l_partkey', 'l_suppkey')} AS zval
    FROM lineitem
)
SELECT CAST(zval >> 26 AS BIGINT) AS z_bucket, COUNT(*) AS n,
       CAST(MIN(l_partkey) AS BIGINT) AS part_lo, CAST(MAX(l_partkey) AS BIGINT) AS part_hi,
       CAST(MIN(l_suppkey) AS BIGINT) AS supp_lo, CAST(MAX(l_suppkey) AS BIGINT) AS supp_hi
FROM z GROUP BY 1 ORDER BY z_bucket
"""


@_register("layout_zorder_clustering", _ZORDER_ORACLE)
def layout_zorder_clustering(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order (Morton) clustering report for (l_partkey, l_suppkey):
    interleave the low 16 bits of both keys, bucket by the top z bits,
    and report each bucket's min/max per dimension — the narrow
    per-dim ranges are exactly why sorting files by z-value lets a
    lakehouse skip data for predicates on EITHER key.

    The interleave is pure integer bit arithmetic (whole-stage
    codegen; the identical expression text runs on both engines). At
    100 TB this is the layout step before a write:
    ``repartitionByRange(zval).sortWithinPartitions(zval)`` then
    ``maxRecordsPerFile`` — each parquet file's min/max footer then
    covers a small rectangle of the key space. Here the oracle-checked
    surface is the bucket-range report that proves the clustering
    property itself.
    """
    t = load_tables(spark, sf_dir, register_views=False)
    z = t["lineitem"].select(
        "l_partkey", "l_suppkey", F.expr(_zexpr("l_partkey", "l_suppkey")).alias("zval")
    )
    return (
        z.groupBy(F.shiftright("zval", 26).cast("long").alias("z_bucket"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.min("l_partkey").cast("long").alias("part_lo"),
            F.max("l_partkey").cast("long").alias("part_hi"),
            F.min("l_suppkey").cast("long").alias("supp_lo"),
            F.max("l_suppkey").cast("long").alias("supp_hi"),
        )
        .orderBy("z_bucket")
    )


_PART_PRUNE_ORACLE = """
SELECT lang, COUNT(*) AS n_docs,
       CAST(SUM(n_chars) AS BIGINT) AS sum_chars
FROM documents WHERE lang IN ('en', 'de')
GROUP BY lang ORDER BY lang
"""


@_register("source_partition_pruned_read", _PART_PRUNE_ORACLE)
@on_scratch_dir
def source_partition_pruned_read(
    spark: SparkSession, sf_dir: str, root: str
) -> DataFrame:
    """Hive-style partitioned write + partition-pruned read: documents
    written ``partitionBy("lang")``, then a lang-IN filter read back —
    the filter must resolve against DIRECTORY values (PartitionFilters
    in the scan), so non-matching partitions are never opened, let
    alone scanned. The S14 sink surface under the correctness gate.

    Scale: partition pruning is THE first-order 100-TB lever — a
    predicate on the partition column turns a full-table scan into a
    directory listing plus the matching fraction. The plan lock
    (tests/test_plans.py) asserts the pruning actually fires.
    """
    t = load_tables(spark, sf_dir, register_views=False)
    t["documents"].write.mode("overwrite").partitionBy("lang").parquet(root)
    return (
        spark.read.parquet(root)
        .filter(F.col("lang").isin("en", "de"))
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").cast("long").alias("sum_chars"),
        )
        .orderBy("lang")
    )


_DEGREE_ORACLE = """
WITH edges AS (
    SELECT DISTINCT a.l_suppkey AS s1, b.l_suppkey AS s2
    FROM lineitem a JOIN lineitem b
      ON a.l_orderkey = b.l_orderkey AND a.l_suppkey < b.l_suppkey
), deg AS (
    SELECT node, COUNT(*) AS degree FROM (
        SELECT s1 AS node FROM edges UNION ALL SELECT s2 FROM edges
    ) GROUP BY node
)
SELECT CAST(degree // 10 AS BIGINT) AS degree_decile_bucket,
       COUNT(*) AS n_nodes,
       CAST(MIN(degree) AS BIGINT) AS min_degree,
       CAST(MAX(degree) AS BIGINT) AS max_degree
FROM deg GROUP BY 1 ORDER BY degree_decile_bucket
"""


@_register("graph_degree_stats", _DEGREE_ORACLE)
def graph_degree_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree distribution of the supplier co-order graph, bucketed by
    tens — the first diagnostic before any graph algorithm (pagerank,
    triangles, communities): it tells you whether degree skew will
    bite.

    Scale: edge construction is order-local (bounded pairs per order,
    cf. ``graph_triangle_count``); the degree count is one shuffle on
    the node key; the histogram is a second, tiny aggregation. The
    UNION ALL counts each undirected edge at both endpoints without
    materializing a doubled edge list wider than needed.
    """
    t = load_tables(spark, sf_dir, register_views=False)
    li = t["lineitem"].select("l_orderkey", "l_suppkey")
    a = li.select("l_orderkey", F.col("l_suppkey").alias("s1"))
    b = li.select(F.col("l_orderkey").alias("ok2"), F.col("l_suppkey").alias("s2"))
    edges = (
        a.join(b, (F.col("l_orderkey") == F.col("ok2")) & (F.col("s1") < F.col("s2")))
        .select("s1", "s2")
        .distinct()
    )
    nodes = edges.select(F.col("s1").alias("node")).unionAll(
        edges.select(F.col("s2").alias("node"))
    )
    deg = nodes.groupBy("node").agg(F.count(F.lit(1)).alias("degree"))
    return (
        deg.groupBy(F.floor(F.col("degree") / 10).cast("long").alias("degree_decile_bucket"))
        .agg(
            F.count(F.lit(1)).alias("n_nodes"),
            F.min("degree").cast("long").alias("min_degree"),
            F.max("degree").cast("long").alias("max_degree"),
        )
        .orderBy("degree_decile_bucket")
    )


_CLV_DECAY_ORACLE = """
SELECT o_custkey,
       COUNT(*) AS n_orders,
       ROUND(CAST(SUM(CAST(o_totalprice
           * EXP(-date_diff('day', CAST(o_orderdate AS DATE), DATE '1998-12-31')
                 / 365.0) AS DECIMAL(38,18))) AS DOUBLE), 6) AS decayed_value
FROM orders
GROUP BY o_custkey
ORDER BY decayed_value DESC, o_custkey
LIMIT 20
"""


@_register("customer_value_decay", _CLV_DECAY_ORACLE)
def customer_value_decay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exponentially time-decayed customer value (tau = 365 days,
    anchored at the fixed as-of date 1998-12-31): recent spend counts
    nearly full, year-old spend ~37% — the standard recency-weighted
    LTV feature.

    Each row's decay factor is a deterministic double of an integer
    day difference; contributions accumulate in DECIMAL(38,18), so the
    per-customer sum is partitioning-invariant, rounded to 6 dp. The
    as-of date is pinned (never now()) so the feature is reproducible.
    Scale: one shuffled aggregation on the customer key; top-20 is a
    TakeOrderedAndProject.
    """
    t = load_tables(spark, sf_dir, register_views=False)
    decay = F.exp(
        -F.datediff(F.lit("1998-12-31").cast("date"), F.col("o_orderdate").cast("date"))
        / 365.0
    )
    return (
        t["orders"]
        .groupBy("o_custkey")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.round(
                F.sum((F.col("o_totalprice") * decay).cast("decimal(38,18)")).cast("double"), 6
            ).alias("decayed_value"),
        )
        .orderBy(F.desc("decayed_value"), F.asc("o_custkey"))
        .limit(20)
    )


_PATHS3_ORACLE = """
WITH seq AS (
    SELECT user_id, event_type,
           LEAD(event_type) OVER w AS t2,
           LEAD(event_type, 2) OVER w AS t3
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
)
SELECT event_type || ' > ' || t2 || ' > ' || t3 AS path,
       CAST(COUNT(*) AS BIGINT) AS n
FROM seq WHERE t3 IS NOT NULL
GROUP BY 1 ORDER BY n DESC, path LIMIT 10
"""


@_register("events_top_paths_3step", _PATHS3_ORACLE)
def events_top_paths_3step(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top 3-event behavioral paths (sliding trigram over each user's
    ordered event sequence) — the sequence-mining step up from
    ``markov_event_transitions``' pairwise matrix.

    Scale: ONE shuffle on user_id serves both LEADs (same window
    spec); path counting is a hash agg on the bounded path vocabulary;
    top-10 is a TakeOrderedAndProject. Per-user windows are bounded by
    per-user history, so no low-cardinality window funnel exists.
    """
    t = load_tables(spark, sf_dir, register_views=False)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = t["events"].select(
        "event_type",
        F.lead("event_type", 1).over(w).alias("t2"),
        F.lead("event_type", 2).over(w).alias("t3"),
    )
    return (
        seq.filter(F.col("t3").isNotNull())
        .select(
            F.concat_ws(" > ", "event_type", "t2", "t3").alias("path")
        )
        .groupBy("path")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.desc("n"), F.asc("path"))
        .limit(10)
    )


_CALENDAR_ORACLE = """
SELECT o_orderkey,
       CAST(CAST(date_trunc('quarter', o_orderdate) AS DATE) AS VARCHAR)
           AS quarter_start,
       CAST(last_day(CAST(o_orderdate AS DATE)) AS VARCHAR) AS month_end,
       CAST(isodow(o_orderdate) AS BIGINT) AS iso_dow,
       CAST(weekofyear(o_orderdate) AS BIGINT) AS iso_week,
       CAST(CAST(CAST(o_orderdate AS DATE) + INTERVAL 3 MONTH AS DATE) AS VARCHAR)
           AS plus_3_months,
       CAST(date_diff('month', CAST(o_orderdate AS DATE), DATE '1998-12-31')
            AS BIGINT) AS months_to_eoy
FROM orders WHERE o_orderkey < 200
ORDER BY o_orderkey
"""


@_register("scalar_calendar_edges", _CALENDAR_ORACLE)
def scalar_calendar_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Calendar-boundary scalar family: quarter start, month end, ISO
    weekday/week, month arithmetic, and month distance — the fiscal-
    reporting date toolkit (complements ``scalar_date``'s basic
    extracts).

    Date results are emitted as strings for cross-engine parity (both
    engines agree on the calendar; only their date-type renderings
    differ). DuckDB's ``date_diff('month', ...)`` counts month
    BOUNDARY crossings, so the Spark side uses the same boundary count
    (months between the month starts), not ``months_between``'s
    fractional semantics. Narrow scan, pure codegen.
    """
    t = load_tables(spark, sf_dir, register_views=False)
    d = F.col("o_orderdate").cast("date")
    return (
        t["orders"]
        .filter(F.col("o_orderkey") < 200)
        .select(
            "o_orderkey",
            F.date_trunc("quarter", "o_orderdate").cast("date").cast("string").alias("quarter_start"),
            F.last_day(d).cast("string").alias("month_end"),
            F.dayofweek(d).alias("tmp_dow"),
            F.weekofyear(d).cast("long").alias("iso_week"),
            F.add_months(d, 3).cast("string").alias("plus_3_months"),
            (
                (F.year(F.lit("1998-12-31").cast("date")) * 12 + F.month(F.lit("1998-12-31").cast("date")))
                - (F.year(d) * 12 + F.month(d))
            ).cast("long").alias("months_to_eoy"),
        )
        .withColumn(
            "iso_dow",
            F.when(F.col("tmp_dow") == 1, 7).otherwise(F.col("tmp_dow") - 1).cast("long"),
        )
        .drop("tmp_dow")
        .orderBy("o_orderkey")
    )


_BITMAP_DISTINCT_ORACLE = """
WITH chunks AS (
    SELECT o_orderpriority,
           o_custkey // 63 AS bucket,
           bit_or(1::BIGINT << CAST(o_custkey % 63 AS INT)) AS bits
    FROM orders GROUP BY o_orderpriority, o_custkey // 63
)
SELECT o_orderpriority,
       CAST(SUM(bit_count(bits)) AS BIGINT) AS n_distinct_customers,
       CAST(COUNT(*) AS BIGINT) AS n_chunks
FROM chunks GROUP BY o_orderpriority ORDER BY o_orderpriority
"""


@_register("agg_bitmap_distinct", _BITMAP_DISTINCT_ORACLE)
def agg_bitmap_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT distinct counting via 64-bit bitmap chunks: key space
    sliced into 63-wide buckets (bits 0-62; bit 63 is the sign bit,
    which DuckDB's checked left-shift refuses), each bucket ORs its members into one
    BIGINT, popcounts sum to the exact distinct count.

    This is the bitmap-index answer to COUNT(DISTINCT): unlike the
    Expand-based exact distinct it produces MERGEABLE partials (OR is
    associative/commutative/idempotent), so pre-aggregated per-
    partition bitmaps can roll up across segments — the exact
    counterpart of the HLL rollup (``agg_hll_mergeable_rollup``) for
    dense integer key spaces, at 1 bit per potential key instead of a
    sketch's fixed error. All integer ops, engine-identical. Scale:
    map-side partial bit_or collapses each partition to
    |groups| x |buckets| rows before the shuffle.
    """
    t = load_tables(spark, sf_dir, register_views=False)
    chunks = (
        t["orders"]
        .groupBy(
            "o_orderpriority",
            F.floor(F.col("o_custkey") / 63).alias("bucket"),
        )
        .agg(
            F.bit_or(
                F.expr("shiftleft(cast(1 as bigint), cast(o_custkey % 63 as int))")
            ).alias("bits")
        )
    )
    return (
        chunks.groupBy("o_orderpriority")
        .agg(
            F.sum(F.bit_count("bits")).cast("long").alias("n_distinct_customers"),
            F.count(F.lit(1)).cast("long").alias("n_chunks"),
        )
        .orderBy("o_orderpriority")
    )


_BACKLOG_ORACLE = """
WITH spans AS (
    SELECT o.o_orderkey, CAST(o.o_orderdate AS DATE) AS start_day,
           MAX(CAST(l.l_shipdate AS DATE)) AS end_day
    FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    GROUP BY o.o_orderkey, CAST(o.o_orderdate AS DATE)
    HAVING MAX(CAST(l.l_shipdate AS DATE)) >= CAST(o.o_orderdate AS DATE)
), deltas AS (
    SELECT start_day AS day, 1 AS d FROM spans
    UNION ALL
    SELECT end_day + INTERVAL 1 DAY, -1 FROM spans
), daily AS (
    SELECT CAST(day AS DATE) AS day, SUM(d) AS delta FROM deltas GROUP BY 1
)
SELECT CAST(day AS VARCHAR) AS day,
       CAST(SUM(delta) OVER (ORDER BY day ROWS UNBOUNDED PRECEDING) AS BIGINT)
           AS open_orders
FROM daily ORDER BY day
"""


@_register("orders_open_backlog_daily", _BACKLOG_ORACLE)
def orders_open_backlog_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily open-order backlog: how many orders were placed but not
    yet fully shipped on each day — the interval-stabbing query.

    The scalable decomposition: each order-interval becomes a +1 at
    its start day and a -1 the day after its end, and the backlog is
    the running sum of per-day deltas — O(rows) total, versus the
    naive per-day interval join which rescans the table once per
    calendar day. The heavy work is the order-span aggregation (one
    shuffle on orderkey); the cumsum runs over the calendar-bounded
    day series. Exact integers throughout.
    """
    t = load_tables(spark, sf_dir, register_views=False)
    spans = (
        t["orders"]
        .join(t["lineitem"], F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy("o_orderkey", F.col("o_orderdate").cast("date").alias("start_day"))
        .agg(F.max(F.col("l_shipdate").cast("date")).alias("end_day"))
        .filter(F.col("end_day") >= F.col("start_day"))
    )
    deltas = spans.select(F.col("start_day").alias("day"), F.lit(1).alias("d")).unionAll(
        spans.select(F.date_add("end_day", 1).alias("day"), F.lit(-1).alias("d"))
    )
    daily = deltas.groupBy("day").agg(F.sum("d").alias("delta"))
    w = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, 0)
    return daily.select(
        F.col("day").cast("string").alias("day"),
        F.sum("delta").over(w).cast("long").alias("open_orders"),
    ).orderBy("day")


_ROLLING_WAU_ORACLE = """
WITH activity AS (
    SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events
), contrib AS (
    SELECT user_id, CAST(day + INTERVAL (i) DAY AS DATE) AS wday
    FROM activity CROSS JOIN (SELECT unnest(range(7)) AS i)
), span AS (SELECT MIN(day) AS lo, MAX(day) AS hi FROM activity)
SELECT CAST(wday AS VARCHAR) AS day,
       CAST(COUNT(DISTINCT user_id) AS BIGINT) AS wau
FROM contrib CROSS JOIN span
WHERE wday BETWEEN lo AND hi
GROUP BY wday ORDER BY wday
"""


@_register("events_rolling_wau", _ROLLING_WAU_ORACLE)
def events_rolling_wau(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling 7-day active users per day (WAU) — the sliding-window
    COUNT DISTINCT no window frame supports.

    The scalable decomposition: collapse events to distinct
    (user, day) activity, then each activity day contributes its user
    to the 7 calendar days it can be 'active within the last week'
    of — a bounded 7x expansion — and the per-day distinct collapses
    the contributions. Total cost O(7 * active-pairs), versus a naive
    per-day 7-day scan (O(days * rows)) or an unpartitioned window.
    Edge days clip to the observed span so every emitted day has full
    semantics. Exact integers.
    """
    t = load_tables(spark, sf_dir, register_views=False)
    activity = (
        t["events"]
        .select("user_id", F.col("ts").cast("date").alias("day"))
        .distinct()
    )
    contrib = activity.select(
        "user_id",
        F.explode(
            F.sequence(F.col("day"), F.date_add("day", 6))
        ).alias("wday"),
    )
    span = activity.agg(F.min("day").alias("lo"), F.max("day").alias("hi"))
    return (
        contrib.crossJoin(bcast_bounded(span, "1-row aggregate"))
        .filter((F.col("wday") >= F.col("lo")) & (F.col("wday") <= F.col("hi")))
        .groupBy("wday")
        .agg(F.countDistinct("user_id").cast("long").alias("wau"))
        .select(F.col("wday").cast("string").alias("day"), "wau")
        .orderBy("day")
    )


_MANN_KENDALL_ORACLE = """
WITH daily AS (
    SELECT CAST(o_orderdate AS DATE) AS day,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(38,6))) AS DOUBLE) AS rev
    FROM orders GROUP BY 1
)
SELECT CAST(COUNT(*) AS BIGINT) AS n_pairs,
       CAST(SUM(CASE WHEN b.rev > a.rev THEN 1
                     WHEN b.rev < a.rev THEN -1 ELSE 0 END) AS BIGINT) AS s_stat,
       CASE WHEN SUM(CASE WHEN b.rev > a.rev THEN 1
                          WHEN b.rev < a.rev THEN -1 ELSE 0 END) > 0 THEN 'increasing'
            WHEN SUM(CASE WHEN b.rev > a.rev THEN 1
                          WHEN b.rev < a.rev THEN -1 ELSE 0 END) < 0 THEN 'decreasing'
            ELSE 'no_trend' END AS trend
FROM daily a JOIN daily b ON a.day < b.day
"""


@_register("stat_mann_kendall_trend", _MANN_KENDALL_ORACLE)
def stat_mann_kendall_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mann-Kendall trend test on the daily revenue series: S = sum of
    sign(x_j - x_i) over all i<j pairs — the standard nonparametric
    'is this series trending' statistic (no normality assumption, used
    on exactly this kind of business series).

    The O(d^2) pair join runs over the DAILY aggregate (calendar-
    bounded: ~decades = thousands of rows at ANY fact-table size,
    ~10^7 pairs worst case), never over raw orders; revenue is the
    exact decimal sum so every sign() comparison is deterministic.
    The fact-table work is one shuffled aggregation.
    """
    t = load_tables(spark, sf_dir, register_views=False)
    daily = (
        t["orders"]
        .groupBy(F.col("o_orderdate").cast("date").alias("day"))
        .agg(F.sum(F.col("o_totalprice").cast(DEC)).cast("double").alias("rev"))
    )
    a = daily.select(F.col("day").alias("d1"), F.col("rev").alias("r1"))
    b = daily.select(F.col("day").alias("d2"), F.col("rev").alias("r2"))
    sign = (
        F.when(F.col("r2") > F.col("r1"), 1)
        .when(F.col("r2") < F.col("r1"), -1)
        .otherwise(0)
    )
    pairs = a.join(b, F.col("d1") < F.col("d2")).select(sign.alias("sg"))
    return pairs.agg(
        F.count(F.lit(1)).alias("n_pairs"),
        F.sum("sg").cast("long").alias("s_stat"),
        F.when(F.sum("sg") > 0, "increasing")
        .when(F.sum("sg") < 0, "decreasing")
        .otherwise("no_trend")
        .alias("trend"),
    )


_IQR_ORACLE = """
WITH daily AS (
    SELECT CAST(ts AS DATE) AS day, COUNT(*) AS n FROM events GROUP BY 1
), q AS (
    SELECT quantile_cont(n, 0.25) AS q1, quantile_cont(n, 0.75) AS q3 FROM daily
)
SELECT CAST(day AS VARCHAR) AS day, CAST(n AS BIGINT) AS n,
       CAST(CASE WHEN n < q1 - 1.5 * (q3 - q1)
                   OR n > q3 + 1.5 * (q3 - q1) THEN 1 ELSE 0 END AS INT)
           AS is_outlier
FROM daily CROSS JOIN q ORDER BY day
"""


@_register("events_anomaly_iqr", _IQR_ORACLE)
def events_anomaly_iqr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tukey-fence (IQR) anomaly days on the event-count series — the
    quartile-based complement to ``events_anomaly_zscore`` (robust to
    the heavy tails that inflate a z-score's sigma).

    Counts are integers and the quartiles interpolate between
    integers with the shared p*(n-1) rule, so the fence comparisons
    are engine-deterministic (fences are quarter-valued at worst,
    never within ulp of an integer count). Scale: one shuffled
    aggregation to the day series; the quartile pass and the flagging
    scan both run on that bounded series.
    """
    t = load_tables(spark, sf_dir, register_views=False)
    daily = (
        t["events"]
        .groupBy(F.col("ts").cast("date").alias("day"))
        .agg(F.count(F.lit(1)).alias("n"))
        .transform(lineage_cut)
    )
    q = daily.agg(
        F.expr("percentile(n, 0.25)").alias("q1"),
        F.expr("percentile(n, 0.75)").alias("q3"),
    )
    iqr = F.col("q3") - F.col("q1")
    flag = (
        (F.col("n") < F.col("q1") - 1.5 * iqr) | (F.col("n") > F.col("q3") + 1.5 * iqr)
    )
    return (
        daily.crossJoin(bcast_bounded(q, "1-row aggregate"))
        .select(
            F.col("day").cast("string").alias("day"),
            F.col("n").cast("long").alias("n"),
            F.when(flag, 1).otherwise(0).cast("int").alias("is_outlier"),
        )
        .orderBy("day")
    )


_LTV_ORACLE = """
WITH firsts AS (
    SELECT o_custkey, MIN(date_trunc('month', CAST(o_orderdate AS DATE))) AS cohort
    FROM orders GROUP BY o_custkey
), rev AS (
    -- money-grade emission (dec_sum2 discipline): cohort sums reach
    -- ~1e9 at sf1 where the 6th decimal sits below double spacing,
    -- so ROUND(double, 6) diverges cross-engine; round the EXACT
    -- decimal to 2 dp instead and accumulate the exact decimal, not
    -- the emitted double
    SELECT f.cohort,
           date_diff('month', f.cohort,
                     date_trunc('month', CAST(o.o_orderdate AS DATE))) AS age_months,
           SUM(CAST(o.o_totalprice AS DECIMAL(38,6))) AS revenue_dec
    FROM orders o JOIN firsts f ON f.o_custkey = o.o_custkey
    GROUP BY 1, 2
)
SELECT CAST(CAST(cohort AS DATE) AS VARCHAR) AS cohort,
       CAST(age_months AS BIGINT) AS age_months,
       CAST(ROUND(revenue_dec, 2) AS DOUBLE) AS revenue,
       CAST(ROUND(SUM(revenue_dec)
                  OVER (PARTITION BY cohort ORDER BY age_months
                        ROWS UNBOUNDED PRECEDING), 2) AS DOUBLE) AS cum_revenue
FROM rev
WHERE age_months <= 12
ORDER BY cohort, age_months
"""


@_register("orders_cohort_ltv_curve", _LTV_ORACLE)
def orders_cohort_ltv_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort LTV triangle: customers grouped by first-order month,
    cumulative revenue tracked by cohort age (months since first
    order) — the revenue companion to ``retention_cohorts``.

    Scale: the first-order pass and the revenue join both shuffle on
    the customer key (the second reuses the first's partitioning);
    the cumulative window runs per cohort over <= 13 age rows. All
    revenue through the exact decimal accumulator, rounded 6 dp.
    """
    t = load_tables(spark, sf_dir, register_views=False)
    o = t["orders"]
    firsts = o.groupBy("o_custkey").agg(
        F.date_trunc("month", F.min(F.col("o_orderdate").cast("date"))).alias("cohort")
    )
    month = F.date_trunc("month", F.col("o_orderdate").cast("date"))
    age = (F.year(month) * 12 + F.month(month)) - (
        F.year("cohort") * 12 + F.month("cohort")
    )
    rev = (
        o.join(firsts, "o_custkey")
        .groupBy(F.col("cohort"), age.alias("age_months"))
        .agg(F.sum(F.col("o_totalprice").cast(DEC)).alias("revenue_dec"))
        .filter(F.col("age_months") <= 12)
    )
    w = Window.partitionBy("cohort").orderBy("age_months").rowsBetween(
        Window.unboundedPreceding, 0
    )
    # dec_sum2 emission: round the exact decimal to 2 dp before the
    # double cast (cohort sums ~1e9 at sf1 put the 6th decimal below
    # double spacing), and run the cumulative window over the exact
    # decimal, not the emitted double
    return rev.select(
        F.col("cohort").cast("date").cast("string").alias("cohort"),
        F.col("age_months").cast("long").alias("age_months"),
        F.col("revenue_dec").cast("decimal(38,2)").cast("double").alias("revenue"),
        F.sum("revenue_dec").over(w).cast("decimal(38,2)").cast("double").alias(
            "cum_revenue"
        ),
    ).orderBy("cohort", "age_months")


_ONTIME_ORACLE = """
WITH lines AS (
    SELECT l.l_suppkey,
           CASE WHEN date_diff('day', CAST(o.o_orderdate AS DATE),
                               CAST(l.l_shipdate AS DATE)) <= 30
                THEN 1 ELSE 0 END AS ontime
    FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey
), rates AS (
    SELECT l_suppkey, COUNT(*) AS n_lines,
           CAST(SUM(ontime) AS BIGINT) AS n_ontime
    FROM lines GROUP BY l_suppkey
)
SELECT l_suppkey, n_lines, n_ontime,
       CAST(ROUND(10000.0 * n_ontime / n_lines) AS BIGINT) AS ontime_bps,
       CAST(ROW_NUMBER() OVER (
           ORDER BY CAST(ROUND(10000.0 * n_ontime / n_lines) AS BIGINT) DESC,
                    n_lines DESC, l_suppkey) AS BIGINT) AS rk
FROM rates
QUALIFY rk <= 25
ORDER BY rk
"""


@_register("supplier_ontime_rate", _ONTIME_ORACLE)
def supplier_ontime_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Supplier on-time shipping leaderboard: share of line items
    shipped within 30 days of order placement, ranked in integer
    BASIS POINTS (round(10000*rate)) so the ordering never depends on
    float division ulps.

    Scale: the lineitem-orders join shuffles once on the order key
    (the fact-fact join every operational metric here pays), then one
    aggregation on the supplier key; the top-25 rank runs over the
    |suppliers| aggregate — bounded, and rank-limit pushdown keeps
    the final window cheap. Integer arithmetic end to end.
    """
    t = load_tables(spark, sf_dir, register_views=False)
    lines = (
        t["lineitem"]
        .join(t["orders"], F.col("o_orderkey") == F.col("l_orderkey"))
        .select(
            "l_suppkey",
            F.when(
                F.datediff(
                    F.col("l_shipdate").cast("date"), F.col("o_orderdate").cast("date")
                )
                <= 30,
                1,
            )
            .otherwise(0)
            .alias("ontime"),
        )
    )
    rates = lines.groupBy("l_suppkey").agg(
        F.count(F.lit(1)).alias("n_lines"),
        F.sum("ontime").cast("long").alias("n_ontime"),
    )
    bps = F.round(10000.0 * F.col("n_ontime") / F.col("n_lines"), 0).cast("long")
    w = Window.orderBy(F.desc("ontime_bps"), F.desc("n_lines"), F.asc("l_suppkey"))
    return (
        rates.withColumn("ontime_bps", bps)
        .withColumn("rk", F.row_number().over(w).cast("long"))
        .filter(F.col("rk") <= 25)
        .orderBy("rk")
    )


_LIFECYCLE_ORACLE = """
WITH activity AS (
    SELECT DISTINCT o_custkey,
           (year(CAST(o_orderdate AS DATE)) * 12
            + month(CAST(o_orderdate AS DATE)) - 1) AS m
    FROM orders
), seq AS (
    SELECT o_custkey, m,
           LAG(m) OVER (PARTITION BY o_custkey ORDER BY m) AS prev_m
    FROM activity
), states AS (
    SELECT m,
           CASE WHEN prev_m IS NULL THEN 'new'
                WHEN m - prev_m = 1 THEN 'retained'
                ELSE 'resurrected' END AS state
    FROM seq
    UNION ALL
    -- churn attributed to the month AFTER the last consecutive streak
    SELECT m + 1, 'churned'
    FROM (
        SELECT o_custkey, m,
               LEAD(m) OVER (PARTITION BY o_custkey ORDER BY m) AS next_m
        FROM activity
    )
    WHERE next_m IS NULL OR next_m > m + 1
), bounds AS (SELECT MAX(m) AS max_m FROM activity)
SELECT CAST(s.m // 12 AS BIGINT) AS year,
       CAST(s.m % 12 + 1 AS BIGINT) AS month,
       s.state, CAST(COUNT(*) AS BIGINT) AS n_customers
FROM states s CROSS JOIN bounds b
WHERE s.m <= b.max_m
GROUP BY s.m, s.state ORDER BY s.m, s.state
"""


@_register("events_user_lifecycle_states", _LIFECYCLE_ORACLE)
def events_user_lifecycle_states(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Monthly growth accounting over customers: every active month is
    classified new / retained / resurrected, and a churn row is
    attributed to the month after each activity streak ends — the
    four-state lifecycle ledger behind any 'net revenue retention'
    dashboard.

    Months are linearized to integers (y*12+m-1) so streak logic is
    pure integer lag/lead arithmetic. Scale: collapse to distinct
    (customer, month) first — per-customer windows then run on <=
    |months| rows per key, one shuffle on the customer key shared by
    BOTH window passes; the final state count is a tiny aggregate.
    """
    t = load_tables(spark, sf_dir, register_views=False)
    d = F.col("o_orderdate").cast("date")
    activity = (
        t["orders"]
        .select("o_custkey", (F.year(d) * 12 + F.month(d) - 1).alias("m"))
        .distinct()
    )
    w = Window.partitionBy("o_custkey").orderBy("m")
    seq = activity.withColumn("prev_m", F.lag("m").over(w)).withColumn(
        "next_m", F.lead("m").over(w)
    )
    present = seq.select(
        "m",
        F.when(F.col("prev_m").isNull(), "new")
        .when(F.col("m") - F.col("prev_m") == 1, "retained")
        .otherwise("resurrected")
        .alias("state"),
    )
    churn = (
        seq.filter(F.col("next_m").isNull() | (F.col("next_m") > F.col("m") + 1))
        .select((F.col("m") + 1).alias("m"), F.lit("churned").alias("state"))
    )
    bounds = activity.agg(F.max("m").alias("max_m"))
    return (
        present.unionByName(churn)
        .crossJoin(bcast_bounded(bounds, "1-row aggregate"))
        .filter(F.col("m") <= F.col("max_m"))
        .groupBy("m", "state")
        .agg(F.count(F.lit(1)).alias("n_customers"))
        .select(
            F.floor(F.col("m") / 12).cast("long").alias("year"),
            (F.col("m") % 12 + 1).cast("long").alias("month"),
            "state",
            "n_customers",
        )
        .orderBy(F.col("year") * 12 + F.col("month"), F.col("state"))
    )


_AUTOCORR_ORACLE = """
WITH daily AS (
    SELECT CAST(ts AS DATE) AS day, COUNT(*) AS n FROM events GROUP BY 1
), lagged AS (
    SELECT n AS x, LAG(n, 1) OVER (ORDER BY day) AS l1,
           LAG(n, 7) OVER (ORDER BY day) AS l7
    FROM daily
)
SELECT * FROM (
    SELECT 1 AS lag_days, CAST(COUNT(*) AS BIGINT) AS n_pairs,
           ROUND((COUNT(*) * SUM(x * l1) - SUM(x) * SUM(l1))
                 / (SQRT(COUNT(*) * SUM(x * x) - SUM(x) * SUM(x))
                    * SQRT(COUNT(*) * SUM(l1 * l1) - SUM(l1) * SUM(l1))), 9) AS r
    FROM lagged WHERE l1 IS NOT NULL
    UNION ALL
    SELECT 7, CAST(COUNT(*) AS BIGINT),
           ROUND((COUNT(*) * SUM(x * l7) - SUM(x) * SUM(l7))
                 / (SQRT(COUNT(*) * SUM(x * x) - SUM(x) * SUM(x))
                    * SQRT(COUNT(*) * SUM(l7 * l7) - SUM(l7) * SUM(l7))), 9)
    FROM lagged WHERE l7 IS NOT NULL
) ORDER BY lag_days
"""


@_register("events_autocorr_lags", _AUTOCORR_ORACLE)
def events_autocorr_lags(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Autocorrelation of the daily event-count series at lags 1 and 7
    — the seasonality fingerprint (a high lag-7 r says 'weekly
    cycle'; complements ``ts_seasonal_decompose``'s decomposition).

    Counts are integers, so every power sum in the Pearson closed
    form is EXACT 64-bit integer arithmetic — no decimal accumulators
    needed, the one deterministic division/sqrt happens at the end
    (rounded 9 dp). Scale: one shuffled aggregation to the calendar-
    bounded day series; both lags share the single ordered window.
    """
    t = load_tables(spark, sf_dir, register_views=False)
    daily = (
        t["events"]
        .groupBy(F.col("ts").cast("date").alias("day"))
        .agg(F.count(F.lit(1)).alias("n"))
    )
    w = Window.orderBy("day")
    lagged = daily.select(
        F.col("n").alias("x"),
        F.lag("n", 1).over(w).alias("l1"),
        F.lag("n", 7).over(w).alias("l7"),
    )

    def corr_row(lag_days: int, lcol: str) -> DataFrame:
        d = lagged.filter(F.col(lcol).isNotNull())
        x, l = F.col("x"), F.col(lcol)
        n = F.count(F.lit(1))
        num = n * F.sum(x * l) - F.sum(x) * F.sum(l)
        den = F.sqrt(n * F.sum(x * x) - F.sum(x) * F.sum(x)) * F.sqrt(
            n * F.sum(l * l) - F.sum(l) * F.sum(l)
        )
        return d.agg(
            F.lit(lag_days).alias("lag_days"),
            n.cast("long").alias("n_pairs"),
            F.round(num / den, 9).alias("r"),
        )

    return corr_row(1, "l1").unionByName(corr_row(7, "l7")).orderBy("lag_days")


_BENFORD_ORACLE = """
WITH digits AS (
    SELECT CAST(substr(CAST(CAST(ROUND(o_totalprice * 100) AS BIGINT) AS VARCHAR),
                       1, 1) AS BIGINT) AS d
    FROM orders WHERE o_totalprice > 0
), obs AS (
    SELECT d, COUNT(*) AS observed FROM digits GROUP BY d
), tot AS (SELECT SUM(observed) AS n FROM obs)
SELECT CAST(d AS BIGINT) AS digit, CAST(observed AS BIGINT) AS observed,
       ROUND(n * LOG10(1.0 + 1.0 / d), 6) AS expected,
       ROUND(POWER(observed - n * LOG10(1.0 + 1.0 / d), 2)
             / (n * LOG10(1.0 + 1.0 / d)), 6) AS chi2_term
FROM obs CROSS JOIN tot ORDER BY digit
"""


@_register("orders_benford_first_digit", _BENFORD_ORACLE)
def orders_benford_first_digit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford's-law first-digit audit of order totals: observed
    leading-digit counts vs the log10(1+1/d) expectation with per-
    digit chi-square contributions — the classic fabricated-numbers
    screen.

    The first significant digit is extracted from the INTEGER cents
    value's string form (scaling by 10^k preserves the significand,
    and bigint-to-string is engine-identical) — never from
    floor(log10(x)), whose ulp behavior at powers of ten differs
    between libms. Scale: narrow scan to a 9-row aggregate.
    """
    t = load_tables(spark, sf_dir, register_views=False)
    digits = (
        t["orders"]
        .filter(F.col("o_totalprice") > 0)
        .select(
            F.substring(
                F.round(F.col("o_totalprice") * 100, 0).cast("long").cast("string"), 1, 1
            )
            .cast("long")
            .alias("d")
        )
    )
    obs = digits.groupBy("d").agg(F.count(F.lit(1)).alias("observed"))
    tot = obs.agg(F.sum("observed").alias("n"))
    exp = F.col("n") * F.log10(1.0 + 1.0 / F.col("d"))
    return (
        obs.crossJoin(bcast_bounded(tot, "1-row aggregate"))
        .select(
            F.col("d").cast("long").alias("digit"),
            F.col("observed").cast("long").alias("observed"),
            F.round(exp, 6).alias("expected"),
            F.round(F.pow(F.col("observed") - exp, F.lit(2)) / exp, 6).alias("chi2_term"),
        )
        .orderBy("digit")
    )


_FORGET_ORACLE = """
SELECT * FROM (
    SELECT 'before' AS phase, CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users,
           CAST(SUM(CASE WHEN user_id % 97 = 0 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_forgotten_rows
    FROM events
    UNION ALL
    SELECT 'after', CAST(COUNT(*) AS BIGINT),
           CAST(COUNT(DISTINCT user_id) AS BIGINT), CAST(0 AS BIGINT)
    FROM events WHERE user_id % 97 <> 0
) ORDER BY phase
"""


@_register("warehouse_right_to_forget", _FORGET_ORACLE)
@on_scratch_dir
def warehouse_right_to_forget(spark: SparkSession, sf_dir: str, root: str) -> DataFrame:
    """Right-to-be-forgotten (GDPR erasure) through the warehouse
    verbs: load the event table, MERGE a delete batch for every row
    key belonging to the forgotten users (user_id % 97 == 0 stands in
    for the takedown list), then prove erasure — after-state must
    count zero forgotten rows. For a training-data pipeline this is
    the takedown primitive that snapshot/time-travel retention
    policies (``warehouse_vacuum_snapshots``) must compose with:
    vacuuming old snapshots is what makes the deletion REAL.

    Scale: the delete is the merge verb's single anti-join rewrite —
    one key shuffle regardless of takedown-list size; with a
    key-partitioned layout only affected partitions rewrite.
    """
    from load_datawarehouse_spark import types as wtypes
    from load_datawarehouse_spark.warehouse import SparkWarehouse
    from pyspark.sql import types as T

    t = load_tables(spark, sf_dir, register_views=False)
    ev = t["events"].select("event_id", "user_id", "event_type")
    struct = T.StructType(
        [
            T.StructField("event_id", T.LongType()),
            T.StructField("user_id", T.LongType()),
            T.StructField("event_type", T.StringType()),
        ]
    )
    wh = SparkWarehouse.new(
        spark, root, "events_copy", schema=wtypes.struct_type_to_api_repr(struct)
    )
    wh.update(ev, keys=["event_id"])

    def stats(df: DataFrame, phase: str) -> DataFrame:
        return df.agg(
            F.lit(phase).alias("phase"),
            F.count(F.lit(1)).alias("n_rows"),
            F.countDistinct("user_id").cast("long").alias("n_users"),
            F.sum(F.when(F.col("user_id") % 97 == 0, 1).otherwise(0))
            .cast("long")
            .alias("n_forgotten_rows"),
        )

    # materialize BEFORE-state rows and the delete batch eagerly:
    # both plans read the data files the merge is about to replace,
    # and a lazy plan evaluated after the swap would hit
    # FAILED_READ_FILE on the vanished paths
    before = stats(wh.df(), "before")
    before_rows = before.collect()
    forget = (
        wh.df()
        .filter(F.col("user_id") % 97 == 0)
        .withColumn("op", F.lit("D"))
        .transform(lineage_cut_eager)
    )
    wh.merge(forget, keys=["event_id"])
    after = stats(wh.df(), "after")
    rows = before_rows + after.collect()
    return spark.createDataFrame(rows, before.schema).orderBy("phase")


_STRING_SHAPE_ORACLE = """
SELECT c_custkey,
       lpad(c_name, 25, '.') AS padded,
       reverse(c_name) AS reversed,
       translate(c_name, '#0123456789', '#') AS depunct,
       repeat(substr(c_name, 1, 2), 3) AS stutter,
       CAST(LENGTH(trim(c_name)) AS BIGINT) AS trimmed_len
FROM customer WHERE c_custkey < 100
ORDER BY c_custkey
"""


@_register("scalar_string_shape", _STRING_SHAPE_ORACLE)
def scalar_string_shape(spark: SparkSession, sf_dir: str) -> DataFrame:
    """String shaping family: pad, reverse, translate (delete via
    unmapped chars), repeat, trim-length — the report-formatting
    toolkit beyond ``scalar_string``'s search/extract functions. All
    pure codegen; narrow scan with the key predicate pushed down."""
    t = load_tables(spark, sf_dir, register_views=False)
    return (
        t["customer"]
        .filter(F.col("c_custkey") < 100)
        .select(
            "c_custkey",
            F.lpad("c_name", 25, ".").alias("padded"),
            F.reverse("c_name").alias("reversed"),
            F.translate("c_name", "#0123456789", "#").alias("depunct"),
            F.repeat(F.substring("c_name", 1, 2), 3).alias("stutter"),
            F.length(F.trim("c_name")).cast("long").alias("trimmed_len"),
        )
        .orderBy("c_custkey")
    )


_MV_REWRITE_ORACLE = """
SELECT CAST(CAST(date_trunc('month', CAST(o_orderdate AS DATE)) AS DATE) AS VARCHAR)
           AS month,
       CAST(COUNT(*) AS BIGINT) AS n_orders,
       ROUND(CAST(SUM(CAST(o_totalprice AS DECIMAL(38,6))) AS DOUBLE), 6) AS revenue
FROM orders
WHERE o_orderdate >= TIMESTAMP '1997-01-01 00:00:00'
  AND o_orderdate < TIMESTAMP '1997-07-01 00:00:00'
GROUP BY 1 ORDER BY month
"""


@_register("warehouse_mv_rewrite", _MV_REWRITE_ORACLE)
@on_scratch_dir
def warehouse_mv_rewrite(spark: SparkSession, sf_dir: str, root: str) -> DataFrame:
    """Materialized-view answering: a monthly revenue summary is
    materialized ONCE through the warehouse verbs, and the H1-1997
    report is answered from the MV — the oracle computes the same
    report from the BASE table, so the hash match proves the
    MV-rewritten answer is exact (the contract behind every summary-
    table / lakehouse-MV rewrite).

    The MV stores exact integer cents (never a rounded double — a MV
    that stores lossy values cannot serve exact rewrites); rendering
    to dollars happens only at answer time. Scale: the MV build is
    one aggregation; every query it serves afterwards reads
    |months| rows instead of the fact table — the amortization that
    makes MVs the first lever for repeated dashboards at 100 TB.
    """
    from load_datawarehouse_spark import types as wtypes
    from load_datawarehouse_spark.warehouse import SparkWarehouse
    from pyspark.sql import types as T

    t = load_tables(spark, sf_dir, register_views=False)
    month = F.date_trunc("month", F.col("o_orderdate").cast("date")).cast("date")
    summary = (
        t["orders"]
        .groupBy(month.alias("month"))
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum(F.round(F.col("o_totalprice") * 100, 0).cast("long")).alias(
                "revenue_cents"
            ),
        )
        .select(F.col("month").cast("string").alias("month"), "n_orders", "revenue_cents")
    )
    struct = T.StructType(
        [
            T.StructField("month", T.StringType()),
            T.StructField("n_orders", T.LongType()),
            T.StructField("revenue_cents", T.LongType()),
        ]
    )
    mv = SparkWarehouse.new(
        spark, root, "monthly_revenue", schema=wtypes.struct_type_to_api_repr(struct)
    )
    mv.update(summary, keys=["month"])
    return (
        mv.df()
        .filter((F.col("month") >= "1997-01-01") & (F.col("month") < "1997-07-01"))
        .select(
            "month",
            "n_orders",
            F.round(F.col("revenue_cents").cast("double") / 100, 6).alias("revenue"),
        )
        .orderBy("month")
    )


_BOOL_AGG_ORACLE = """
SELECT l_returnflag,
       CAST(count_if(l_discount > 0.05) AS BIGINT) AS n_discounted,
       bool_and(l_quantity >= 1) AS all_qty_positive,
       bool_or(l_discount = 0) AS any_undiscounted,
       bool_and(l_tax <= 0.08) AS all_tax_capped
FROM lineitem
GROUP BY l_returnflag ORDER BY l_returnflag
"""


@_register("agg_boolean_family", _BOOL_AGG_ORACLE)
def agg_boolean_family(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Boolean aggregate family: count_if / bool_and / bool_or — the
    assertion-style aggregates (``dq_expectations_report`` builds its
    rules from exactly these semantics). Predicates over exact
    cent/quarter-valued columns, so every truth value is
    deterministic. One map-side-combinable aggregation."""
    t = load_tables(spark, sf_dir, register_views=False)
    return (
        t["lineitem"]
        .groupBy("l_returnflag")
        .agg(
            F.count_if(F.col("l_discount") > 0.05).cast("long").alias("n_discounted"),
            F.bool_and(F.col("l_quantity") >= 1).alias("all_qty_positive"),
            F.bool_or(F.col("l_discount") == 0).alias("any_undiscounted"),
            F.bool_and(F.col("l_tax") <= 0.08).alias("all_tax_capped"),
        )
        .orderBy("l_returnflag")
    )


_GROUP_TREND_ORACLE = """
WITH pts AS (
    SELECT event_type,
           CAST(date_diff('day', DATE '2024-01-01', CAST(ts AS DATE)) AS BIGINT) AS x,
           CAST(ROUND(value * 1e6) AS BIGINT) AS y
    FROM events
), sums AS (
    SELECT event_type, COUNT(*) AS n,
           SUM(x) AS sx, SUM(y) AS sy, SUM(x * y) AS sxy, SUM(x * x) AS sxx
    FROM pts GROUP BY event_type
)
SELECT event_type, CAST(n AS BIGINT) AS n,
       ROUND((CAST(n AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy)
             / (CAST(n AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx) / 1e6, 9)
           AS slope_per_day
FROM sums
WHERE n * sxx > sx * sx
ORDER BY event_type
"""


@_register("regression_per_group_trend", _GROUP_TREND_ORACLE)
def regression_per_group_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group OLS trend: the value-per-day slope fitted
    independently for every event type — the grouped companion to
    ``regression_ols_exact`` (one model per key, thousands of models
    in one aggregation, no per-group driver loop).

    x is integer days, y integer micro-units, so all five power sums
    are exact 64-bit integers per group and the closed-form slope is
    one deterministic division (de-scaled, rounded 9 dp). Scale: one
    map-side-combinable shuffle on the group key — fitting a million
    per-key models costs the same plan shape as counting them.
    """
    t = load_tables(spark, sf_dir, register_views=False)
    pts = t["events"].select(
        "event_type",
        F.datediff(F.col("ts").cast("date"), F.lit("2024-01-01").cast("date"))
        .cast("long")
        .alias("x"),
        F.round(F.col("value") * 1e6, 0).cast("long").alias("y"),
    )
    s = pts.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
    )
    slope = (
        (F.col("n").cast("double") * F.col("sxy") - F.col("sx").cast("double") * F.col("sy"))
        / (F.col("n").cast("double") * F.col("sxx") - F.col("sx").cast("double") * F.col("sx"))
        / 1e6
    )
    return (
        s.filter(F.col("n") * F.col("sxx") > F.col("sx") * F.col("sx"))
        .select(
            "event_type",
            F.col("n").cast("long").alias("n"),
            F.round(slope, 9).alias("slope_per_day"),
        )
        .orderBy("event_type")
    )


_SCHEMA_MERGE_ORACLE = """
SELECT lang,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(COUNT(n_chars) AS BIGINT) AS n_with_chars,
       CAST(COUNT(source) AS BIGINT) AS n_with_source
FROM (
    SELECT lang, n_chars, NULL AS source FROM documents WHERE doc_id % 2 = 0
    UNION ALL
    SELECT lang, NULL, source FROM documents WHERE doc_id % 2 = 1
)
GROUP BY lang ORDER BY lang
"""


@_register("source_schema_merge_read", _SCHEMA_MERGE_ORACLE)
@on_scratch_dir
def source_schema_merge_read(spark: SparkSession, sf_dir: str, root: str) -> DataFrame:
    """Parquet schema evolution on read: two file batches written with
    DIFFERENT column sets (old writer had n_chars, new writer has
    source), read back as one table with ``mergeSchema`` — absent
    columns surface as NULLs, which the per-column counts prove.

    This is the S14 behavior that matters at 100 TB: a table's files
    span writer versions, and the scan must union schemas instead of
    failing or silently dropping columns. mergeSchema costs a footer
    read per file at planning — production tables pin the merged
    schema in the catalog instead; the read semantics are identical.
    """
    t = load_tables(spark, sf_dir, register_views=False)
    docs = t["documents"]
    docs.filter(F.col("doc_id") % 2 == 0).select(
        "doc_id", "lang", "n_chars"
    ).write.parquet(os.path.join(root, "b=old"))
    docs.filter(F.col("doc_id") % 2 == 1).select(
        "doc_id", "lang", "source"
    ).write.parquet(os.path.join(root, "b=new"))
    merged = spark.read.option("mergeSchema", "true").parquet(
        os.path.join(root, "b=old"), os.path.join(root, "b=new")
    )
    return (
        merged.groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.count("n_chars").cast("long").alias("n_with_chars"),
            F.count("source").cast("long").alias("n_with_source"),
        )
        .orderBy("lang")
    )


_CSV_MALFORMED_ORACLE = """
SELECT CAST(COUNT(*) AS BIGINT) AS n_clean,
       CAST((SELECT COUNT(*) FROM orders) - COUNT(*) AS BIGINT) AS n_dropped,
       CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS BIGINT)
           AS clean_cents
FROM orders WHERE o_orderkey % 10 <> 7
"""


@_register("source_csv_malformed_handling", _CSV_MALFORMED_ORACLE)
@on_scratch_dir
def source_csv_malformed_handling(
    spark: SparkSession, sf_dir: str, root: str
) -> DataFrame:
    """CSV corruption handling: every o_orderkey%10==7 row is written
    with a non-numeric price field, then read back in DROPMALFORMED
    mode — the reader must drop exactly those rows and parse the rest
    bit-perfectly (proved by the exact-cents checksum).

    At 100 TB, silent coercion (PERMISSIVE's default nulls) poisons
    aggregates invisibly; the engine's ingest path makes the malformed
    policy EXPLICIT and auditable (n_dropped is part of the result).
    Scale: one narrow write + one schema-enforced read, no shuffle
    until the final 1-row aggregate.
    """
    t = load_tables(spark, sf_dir, register_views=False)
    o = t["orders"].select(
        "o_orderkey",
        F.when(F.col("o_orderkey") % 10 == 7, F.lit("corrupt"))
        .otherwise(F.round(F.col("o_totalprice") * 100, 0).cast("long").cast("string"))
        .alias("cents_str"),
    )
    path = os.path.join(root, "orders_csv")
    o.write.option("header", "true").csv(path)
    clean = (
        spark.read.option("header", "true")
        .option("mode", "DROPMALFORMED")
        .schema("o_orderkey long, cents_str long")
        .csv(path)
        .filter(F.col("cents_str").isNotNull())
    )
    total = t["orders"].count()
    return clean.agg(
        F.count(F.lit(1)).alias("n_clean"),
        (F.lit(total) - F.count(F.lit(1))).cast("long").alias("n_dropped"),
        F.sum("cents_str").cast("long").alias("clean_cents"),
    )


_DUP_SUSPECTS_ORACLE = """
WITH ingest AS (
    SELECT o_orderkey, o_custkey, o_totalprice, o_orderdate FROM orders
    UNION ALL
    -- replayed charge: every 250th order re-posts 3 days later
    SELECT o_orderkey + 10000000, o_custkey, o_totalprice,
           o_orderdate + INTERVAL 3 DAY
    FROM orders WHERE o_orderkey % 250 = 0
)
SELECT a.o_orderkey AS k1, b.o_orderkey AS k2,
       a.o_custkey,
       CAST(ROUND(a.o_totalprice * 100) AS BIGINT) AS cents,
       CAST(ABS(date_diff('day', CAST(a.o_orderdate AS DATE),
                          CAST(b.o_orderdate AS DATE))) AS BIGINT) AS days_apart
FROM (SELECT * FROM ingest) a JOIN (SELECT * FROM ingest) b
  ON a.o_custkey = b.o_custkey
 AND ROUND(a.o_totalprice * 100) = ROUND(b.o_totalprice * 100)
 AND a.o_orderkey < b.o_orderkey
WHERE ABS(date_diff('day', CAST(a.o_orderdate AS DATE),
                    CAST(b.o_orderdate AS DATE))) <= 7
ORDER BY k1, k2
"""


@_register("orders_duplicate_suspects", _DUP_SUSPECTS_ORACLE)
def orders_duplicate_suspects(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate-transaction suspects: same customer, same exact
    amount, within 7 days — the double-charge / replay screen every
    payments DQ suite runs.

    Scale: the self-join is keyed on (customer, exact cents) — an
    equi join whose key is selective by construction (amount
    collisions within one customer are rare), so the date-window
    predicate filters a small candidate set instead of being a range
    join. Never customer x customer. Integer cents end to end.
    """
    t = load_tables(spark, sf_dir, register_views=False)
    base = t["orders"].select("o_orderkey", "o_custkey", "o_totalprice", "o_orderdate")
    replayed = (
        base.filter(F.col("o_orderkey") % 250 == 0)
        .withColumn("o_orderkey", F.col("o_orderkey") + 10000000)
        .withColumn(
            "o_orderdate",
            (F.col("o_orderdate").cast("date") + F.expr("INTERVAL 3 DAY")).cast(
                "timestamp"
            ),
        )
    )
    ingest = base.unionByName(replayed)
    o = ingest.select(
        "o_orderkey",
        "o_custkey",
        F.round(F.col("o_totalprice") * 100, 0).cast("long").alias("cents"),
        F.col("o_orderdate").cast("date").alias("day"),
    )
    a = o.select(
        F.col("o_orderkey").alias("k1"), "o_custkey", "cents", F.col("day").alias("d1")
    )
    b = o.select(
        F.col("o_orderkey").alias("k2"),
        F.col("o_custkey").alias("ck2"),
        F.col("cents").alias("c2"),
        F.col("day").alias("d2"),
    )
    return (
        a.join(
            b,
            (F.col("o_custkey") == F.col("ck2"))
            & (F.col("cents") == F.col("c2"))
            & (F.col("k1") < F.col("k2")),
        )
        .filter(F.abs(F.datediff(F.col("d1"), F.col("d2"))) <= 7)
        .select(
            "k1",
            "k2",
            "o_custkey",
            "cents",
            F.abs(F.datediff("d1", "d2")).cast("long").alias("days_apart"),
        )
        .orderBy("k1", "k2")
    )


_ANOVA_ORACLE = """
WITH pts AS (
    SELECT dayofweek(o_orderdate) AS dow,
           CAST(ROUND(o_totalprice * 100) AS BIGINT) AS cents
    FROM orders
), g AS (
    SELECT dow, COUNT(*) AS n, SUM(cents) AS s,
           SUM(cents * cents) AS ss
    FROM pts GROUP BY dow
), tot AS (
    SELECT SUM(n) AS n, SUM(s) AS s, SUM(ss) AS ss, COUNT(*) AS k FROM g
)
SELECT CAST(k AS BIGINT) AS k_groups, CAST(tot.n AS BIGINT) AS n,
       ROUND((
           (SELECT CAST(SUM(CAST(CAST(g.s AS DOUBLE) * g.s / g.n
                                 AS DECIMAL(38,6))) AS DOUBLE) FROM g)
           - CAST(tot.s AS DOUBLE) * tot.s / tot.n
       ) / (k - 1)
       / ((CAST(tot.ss AS DOUBLE)
           - (SELECT CAST(SUM(CAST(CAST(g.s AS DOUBLE) * g.s / g.n
                                   AS DECIMAL(38,6))) AS DOUBLE) FROM g))
          / (tot.n - k)), 9) AS f_stat
FROM tot
"""


@_register("stat_anova_weekday_revenue", _ANOVA_ORACLE)
def stat_anova_weekday_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-way ANOVA F-statistic: does order value differ by weekday?
    F = between-group over within-group mean squares, computed entirely
    from per-group integer power sums (exact cents), so the only
    floating-point steps are the final closed-form divisions (rounded
    9 dp). Scale: one map-side-combinable aggregation to 7 group rows;
    the F computation is driver-free arithmetic on those rows.
    """
    t = load_tables(spark, sf_dir, register_views=False)
    pts = t["orders"].select(
        F.dayofweek("o_orderdate").alias("dow"),
        F.round(F.col("o_totalprice") * 100, 0).cast("long").alias("cents"),
    )
    g = pts.groupBy("dow").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("cents").alias("s"),
        # cents^2 sums exceed int64 beyond ~1e5 rows — accumulate decimal
        F.sum((F.col("cents") * F.col("cents")).cast("decimal(38,0)")).alias("ss"),
    )
    agg = g.agg(
        F.count(F.lit(1)).alias("k"),
        F.sum("n").alias("n"),
        F.sum("s").alias("s"),
        F.sum("ss").alias("ss"),
        F.sum(
            (F.col("s").cast("double") * F.col("s") / F.col("n")).cast("decimal(38,6)")
        ).cast("double").alias("sb"),
    )
    between = (F.col("sb") - F.col("s").cast("double") * F.col("s") / F.col("n")) / (
        F.col("k") - 1
    )
    within = (F.col("ss").cast("double") - F.col("sb")) / (F.col("n") - F.col("k"))
    return agg.select(
        F.col("k").cast("long").alias("k_groups"),
        F.col("n").cast("long").alias("n"),
        F.round(between / within, 9).alias("f_stat"),
    )


_KS_ORACLE = """
WITH pts AS (
    SELECT event_type, CAST(ROUND(value * 100) AS BIGINT) AS lvl
    FROM events WHERE event_type IN ('click', 'view')
), levels AS (
    SELECT lvl,
           SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS c1,
           SUM(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS c2
    FROM pts GROUP BY lvl
), cum AS (
    SELECT lvl,
           SUM(c1) OVER (ORDER BY lvl ROWS UNBOUNDED PRECEDING) AS f1,
           SUM(c2) OVER (ORDER BY lvl ROWS UNBOUNDED PRECEDING) AS f2
    FROM levels
), tot AS (
    SELECT SUM(c1) AS n1, SUM(c2) AS n2 FROM levels
)
SELECT CAST(n1 AS BIGINT) AS n1, CAST(n2 AS BIGINT) AS n2,
       CAST(MAX(ABS(f1 * n2 - f2 * n1)) AS BIGINT) AS d_scaled,
       ROUND(CAST(MAX(ABS(f1 * n2 - f2 * n1)) AS DOUBLE) / (n1 * n2), 9) AS ks_d
FROM cum CROSS JOIN tot
GROUP BY n1, n2
"""


@_register("stat_ks_two_sample", _KS_ORACLE)
def stat_ks_two_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample Kolmogorov-Smirnov distance between the click and
    view value distributions, on cent-quantized levels: D = max |F1 -
    F2| evaluated as the EXACT integer max |cum1*n2 - cum2*n1| (the
    common-denominator form), so the statistic is deterministic and
    the single division happens once at the end.

    Scale: the raw stream collapses to per-LEVEL counts first (the
    quantized domain is value-range-bounded, independent of row
    count), so the ordered cumsum runs over a bounded series — the
    same trick as the Gini histogram. One shuffled aggregation total.
    """
    t = load_tables(spark, sf_dir, register_views=False)
    pts = t["events"].filter(F.col("event_type").isin("click", "view")).select(
        "event_type", F.round(F.col("value") * 100, 0).cast("long").alias("lvl")
    )
    levels = pts.groupBy("lvl").agg(
        F.sum(F.when(F.col("event_type") == "click", 1).otherwise(0)).alias("c1"),
        F.sum(F.when(F.col("event_type") == "view", 1).otherwise(0)).alias("c2"),
    )
    w = Window.orderBy("lvl").rowsBetween(Window.unboundedPreceding, 0)
    cum = levels.select(
        F.sum("c1").over(w).alias("f1"), F.sum("c2").over(w).alias("f2")
    )
    tot = levels.agg(F.sum("c1").alias("n1"), F.sum("c2").alias("n2"))
    return (
        cum.crossJoin(bcast_bounded(tot, "1-row aggregate"))
        .groupBy("n1", "n2")
        .agg(
            F.max(F.abs(F.col("f1") * F.col("n2") - F.col("f2") * F.col("n1"))).alias(
                "d_scaled"
            )
        )
        .select(
            F.col("n1").cast("long").alias("n1"),
            F.col("n2").cast("long").alias("n2"),
            F.col("d_scaled").cast("long").alias("d_scaled"),
            F.round(
                F.col("d_scaled").cast("double") / (F.col("n1") * F.col("n2")), 9
            ).alias("ks_d"),
        )
    )


_REV_BRIDGE_ORACLE = """
WITH m AS (
    SELECT CAST(CAST(date_trunc('month', CAST(o_orderdate AS DATE)) AS DATE)
                AS VARCHAR) AS month,
           COUNT(*) AS n,
           SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS cents
    FROM orders GROUP BY 1
), lagged AS (
    SELECT month, n, cents,
           LAG(n) OVER (ORDER BY month) AS pn,
           LAG(cents) OVER (ORDER BY month) AS pc
    FROM m
)
SELECT month,
       ROUND(CAST(cents - pc AS DOUBLE) / 100, 6) + 0 AS delta_rev,
       ROUND((n - pn) * (CAST(pc AS DOUBLE) / pn) / 100, 6) + 0 AS volume_effect,
       ROUND(pn * (CAST(cents AS DOUBLE) / n - CAST(pc AS DOUBLE) / pn) / 100, 6) + 0
           AS price_effect,
       ROUND((n - pn) * (CAST(cents AS DOUBLE) / n - CAST(pc AS DOUBLE) / pn) / 100,
             6) + 0 AS mix_effect
FROM lagged WHERE pn IS NOT NULL
ORDER BY month
"""


@_register("orders_revenue_bridge", _REV_BRIDGE_ORACLE)
def orders_revenue_bridge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Month-over-month revenue bridge: ΔRev decomposed into volume
    effect (Δn x old avg price), price effect (old n x Δavg), and the
    interaction term — the waterfall every finance review wants, and
    an exact identity: the three effects sum to ΔRev by construction
    (locked by the property test).

    All inputs are exact integers (order counts, cent sums); each
    effect is a deterministic double expression of four integers,
    rounded 6 dp. The oracle adds ``+ 0`` after each ROUND to
    canonicalize IEEE signed zero: a zero-delta month makes
    ``0 x negative`` = -0.0, which DuckDB's ROUND preserves while
    Spark's F.round (BigDecimal, no signed zero) emits 0.0 — the
    driver's formatted-value hash distinguishes them. ``-0.0 + 0``
    is +0.0 under round-to-nearest, aligning both engines. Scale:
    one aggregation to the bounded month series; the lag runs over
    that tiny series.
    """
    t = load_tables(spark, sf_dir, register_views=False)
    m = (
        t["orders"]
        .groupBy(
            F.date_trunc("month", F.col("o_orderdate").cast("date"))
            .cast("date")
            .cast("string")
            .alias("month")
        )
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.round(F.col("o_totalprice") * 100, 0).cast("long")).alias("cents"),
        )
    )
    w = Window.orderBy("month")
    lagged = m.select(
        "month",
        "n",
        "cents",
        F.lag("n").over(w).alias("pn"),
        F.lag("cents").over(w).alias("pc"),
    ).filter(F.col("pn").isNotNull())
    old_avg = F.col("pc").cast("double") / F.col("pn")
    new_avg = F.col("cents").cast("double") / F.col("n")
    return lagged.select(
        "month",
        F.round((F.col("cents") - F.col("pc")).cast("double") / 100, 6).alias("delta_rev"),
        F.round((F.col("n") - F.col("pn")) * old_avg / 100, 6).alias("volume_effect"),
        F.round(F.col("pn") * (new_avg - old_avg) / 100, 6).alias("price_effect"),
        F.round((F.col("n") - F.col("pn")) * (new_avg - old_avg) / 100, 6).alias(
            "mix_effect"
        ),
    ).orderBy("month")


_FEDERATED_ORACLE = """
SELECT o_orderstatus,
       CAST(COUNT(*) AS BIGINT) AS n_orders,
       CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS cents
FROM (
    SELECT o_orderstatus, o_totalprice FROM orders WHERE o_orderkey % 2 = 0
    UNION ALL
    SELECT o_orderstatus, o_totalprice FROM orders WHERE o_orderkey % 2 = 1
)
GROUP BY o_orderstatus ORDER BY o_orderstatus
"""


@_register("source_federated_union", _FEDERATED_ORACLE)
@on_scratch_dir
def source_federated_union(spark: SparkSession, sf_dir: str, root: str) -> DataFrame:
    """Federated query: HALF the orders live in parquet, the other
    half in an embedded Derby database, and ONE DataFrame unions both
    sources into the same aggregate — the lakehouse-plus-operational-
    DB shape. Falls back to an all-parquet union (same semantics) if
    no JDBC driver is on the classpath, mirroring the
    availability-shim contract.

    Scale: the parquet leg gets full pushdown; the JDBC leg reads
    range-partitioned (each task issues a bounded query — the only
    JDBC read shape that survives a big operational side). The union
    is plan-level — no materialization between sources. The Derby
    fixture itself loads through the engine's bulk-import procedure
    (one staged CSV -> ``SYSCS_IMPORT_TABLE``), as a real operational
    load would: measured at sf1, batched JDBC INSERTs cost 9-11 s
    regardless of batchsize/write-parallelism (Derby's insert path is
    latch-bound in one JVM) vs 4.5 s staged+imported — an earlier
    SCALECHECK slope of 8.77 was fixture-load-bound, not read-bound. The
    S14 JDBC *sink* stays exercised by ``source_formats_roundtrip``
    and the Derby end-to-end tests in ``tests/test_sources.py``.
    """
    import glob

    from load_datawarehouse_spark.sources import _jdbc_available, read_jdbc

    t = load_tables(spark, sf_dir, register_views=False)
    o = t["orders"].select("o_orderkey", "o_orderstatus", "o_totalprice")
    parquet_half = o.filter(F.col("o_orderkey") % 2 == 0)
    jdbc_half_src = o.filter(F.col("o_orderkey") % 2 == 1)
    url = f"jdbc:derby:{root}/db;create=true"
    try:
        try:
            if not _jdbc_available(spark, "jdbc:derby:probe"):
                raise RuntimeError("no Derby driver on the classpath")
            max_key = jdbc_half_src.agg(F.max("o_orderkey")).collect()[0][0]
            # The staged CSV -> SYSCS_IMPORT_TABLE handoff assumes the
            # writer's task output and the driver-side embedded Derby
            # share a filesystem — true in local mode (and in the
            # driver harness); on a multi-node cluster the glob below
            # finds nothing and the except arm serves the all-parquet
            # union instead. Writer options are pinned to
            # Derby's import defaults (comma, double-quote, no header)
            # and the staged projection is exactly these three
            # NON-NULL columns — a nullable string column would need
            # an explicit nullValue contract with the import procedure
            # before extending this.
            csvdir = f"{root}/stage_csv"
            (
                jdbc_half_src.coalesce(1)
                .write.option("header", "false")
                .option("quote", '"')
                .option("emptyValue", "")
                .csv(csvdir)
            )
            csv_file = glob.glob(f"{csvdir}/part-*.csv")[0]
            conn = spark._jvm.java.sql.DriverManager.getConnection(url)
            try:
                st = conn.createStatement()
                st.execute(
                    "CREATE TABLE orders_half (o_orderkey BIGINT, "
                    "o_orderstatus VARCHAR(8), o_totalprice DOUBLE)"
                )
                cs = conn.prepareCall(
                    "CALL SYSCS_UTIL.SYSCS_IMPORT_TABLE "
                    "(NULL, 'ORDERS_HALF', ?, NULL, NULL, NULL, 0)"
                )
                cs.setString(1, csv_file)
                cs.execute()
            finally:
                conn.close()
            jdbc_half = read_jdbc(
                spark,
                url,
                "orders_half",
                partition_column="o_orderkey",
                lower_bound=0,
                upper_bound=int(max_key) + 1,
                num_partitions=min(8, spark.sparkContext.defaultParallelism),
            ).select("o_orderkey", "o_orderstatus", "o_totalprice")
        except Exception as exc:
            # same semantics as the no-driver availability shim: the
            # "operational" half reads from parquet directly (the real
            # Derby path stays covered by tests/test_sources.py) — but
            # a silent downgrade would also hide a Derby-path
            # regression from BENCHMARK runs, so the fallback is
            # loudly recorded on stderr
            print(
                "source_federated_union: Derby staging path failed, "
                f"falling back to all-parquet union: {exc!r}",
                file=sys.stderr,
            )
            jdbc_half = jdbc_half_src
        out = (
            parquet_half.unionByName(jdbc_half)
            .groupBy("o_orderstatus")
            .agg(
                F.count(F.lit(1)).alias("n_orders"),
                F.sum(F.round(F.col("o_totalprice") * 100, 0).cast("long"))
                .cast("long")
                .alias("cents"),
            )
            .orderBy("o_orderstatus")
        )
        # the JDBC half must be read before Derby shuts down below
        return spark.createDataFrame(out.collect(), out.schema)
    finally:
        try:
            spark._jvm.java.sql.DriverManager.getConnection(
                f"jdbc:derby:{root}/db;shutdown=true"
            )
        except Exception:
            pass


_RETURN_RATE_ORACLE = """
SELECT CAST(CAST(date_trunc('month', CAST(l_shipdate AS DATE)) AS DATE) AS VARCHAR)
           AS month,
       CAST(COUNT(*) AS BIGINT) AS n_lines,
       CAST(SUM(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END) AS BIGINT)
           AS n_returned,
       CAST(ROUND(10000.0 * SUM(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END)
                  / COUNT(*)) AS BIGINT) AS return_bps
FROM lineitem
GROUP BY 1 ORDER BY month
"""


@_register("lineitem_return_rate_monthly", _RETURN_RATE_ORACLE)
def lineitem_return_rate_monthly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Monthly return-rate series in integer basis points — the
    operational quality KPI over the ship calendar. One map-side-
    combinable aggregation to the bounded month series; integer
    arithmetic end to end (bps rounding is the only float step,
    deterministic from two integers)."""
    t = load_tables(spark, sf_dir, register_views=False)
    returned = F.sum(F.when(F.col("l_returnflag") == "R", 1).otherwise(0))
    return (
        t["lineitem"]
        .groupBy(
            F.date_trunc("month", F.col("l_shipdate").cast("date"))
            .cast("date")
            .cast("string")
            .alias("month")
        )
        .agg(
            F.count(F.lit(1)).alias("n_lines"),
            returned.cast("long").alias("n_returned"),
            F.round(10000.0 * returned / F.count(F.lit(1)), 0).cast("long").alias(
                "return_bps"
            ),
        )
        .orderBy("month")
    )


_HHI_ORACLE = """
WITH per_cust AS (
    SELECT c.c_mktsegment, o.o_custkey,
           SUM(CAST(ROUND(o.o_totalprice * 100) AS BIGINT)) AS cents
    FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
    GROUP BY 1, 2
), seg AS (SELECT c_mktsegment, SUM(cents) AS total FROM per_cust GROUP BY 1)
SELECT p.c_mktsegment,
       CAST(COUNT(*) AS BIGINT) AS n_customers,
       ROUND(CAST(SUM(CAST(
           POWER(CAST(p.cents AS DOUBLE) / s.total, 2) AS DECIMAL(38,18)))
           AS DOUBLE) * 10000, 6) AS hhi
FROM per_cust p JOIN seg s USING (c_mktsegment)
GROUP BY p.c_mktsegment ORDER BY p.c_mktsegment
"""


@_register("customer_concentration_hhi", _HHI_ORACLE)
def customer_concentration_hhi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Herfindahl-Hirschman concentration index of revenue per market
    segment (scaled 0-10000): how dependent each segment is on its
    biggest customers — the standard concentration-risk metric.

    Shares come from exact integer cents; each squared share is a
    deterministic double accumulated in DECIMAL(38,18) (rounded 6 dp).
    Scale: per-customer collapse shuffles once on the customer key;
    the segment totals re-aggregate the collapsed table; customer
    cardinality never hits a window.
    """
    t = load_tables(spark, sf_dir, register_views=False)
    per_cust = (
        t["orders"]
        .join(t["customer"].select("c_custkey", "c_mktsegment"),
              F.col("c_custkey") == F.col("o_custkey"))
        .groupBy("c_mktsegment", "o_custkey")
        .agg(F.sum(F.round(F.col("o_totalprice") * 100, 0).cast("long")).alias("cents"))
    )
    seg = per_cust.groupBy("c_mktsegment").agg(F.sum("cents").alias("total"))
    share2 = F.pow(F.col("cents").cast("double") / F.col("total"), F.lit(2))
    return (
        per_cust.join(seg, "c_mktsegment")
        .groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            F.round(
                F.sum(share2.cast("decimal(38,18)")).cast("double") * 10000, 6
            ).alias("hhi"),
        )
        .orderBy("c_mktsegment")
    )


_STICKINESS_ORACLE = """
WITH activity AS (
    SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events
), dau AS (
    SELECT day, COUNT(*) AS dau FROM activity GROUP BY day
), contrib AS (
    SELECT user_id, CAST(day + INTERVAL (i) DAY AS DATE) AS wday
    FROM activity CROSS JOIN (SELECT unnest(range(7)) AS i)
), wau AS (
    SELECT wday AS day, COUNT(DISTINCT user_id) AS wau FROM contrib GROUP BY wday
)
SELECT CAST(d.day AS VARCHAR) AS day,
       CAST(d.dau AS BIGINT) AS dau, CAST(w.wau AS BIGINT) AS wau,
       CAST(ROUND(10000.0 * d.dau / w.wau) AS BIGINT) AS stickiness_bps
FROM dau d JOIN wau w USING (day)
WHERE d.day >= (SELECT MIN(day) FROM activity) + INTERVAL 6 DAY
ORDER BY day
"""


@_register("events_dau_wau_stickiness", _STICKINESS_ORACLE)
def events_dau_wau_stickiness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DAU/WAU stickiness per day in integer basis points — the
    engagement ratio product teams track, composing the daily-distinct
    and rolling-7-day-distinct decompositions (``events_rolling_wau``)
    in one plan. Days without a full trailing week are excluded in
    both engines by the same date bound. Integer arithmetic; one
    distinct-activity collapse feeds both branches.
    """
    t = load_tables(spark, sf_dir, register_views=False)
    activity = (
        t["events"]
        .select("user_id", F.col("ts").cast("date").alias("day"))
        .distinct()
    )
    dau = activity.groupBy("day").agg(F.count(F.lit(1)).alias("dau"))
    contrib = activity.select(
        "user_id", F.explode(F.sequence(F.col("day"), F.date_add("day", 6))).alias("wday")
    )
    wau = contrib.groupBy(F.col("wday").alias("day")).agg(
        F.countDistinct("user_id").alias("wau")
    )
    lo = activity.agg(F.date_add(F.min("day"), 6).alias("lo"))
    return (
        dau.join(wau, "day")
        .crossJoin(bcast_bounded(lo, "1-row aggregate"))
        .filter(F.col("day") >= F.col("lo"))
        .select(
            F.col("day").cast("string").alias("day"),
            F.col("dau").cast("long").alias("dau"),
            F.col("wau").cast("long").alias("wau"),
            F.round(10000.0 * F.col("dau") / F.col("wau"), 0)
            .cast("long")
            .alias("stickiness_bps"),
        )
        .orderBy("day")
    )


_FIRST_LAST_ORACLE = """
WITH seq AS (
    SELECT o_custkey,
           CAST(ROUND(o_totalprice * 100) AS BIGINT) AS cents,
           ROW_NUMBER() OVER w AS rn_asc,
           ROW_NUMBER() OVER (PARTITION BY o_custkey
                              ORDER BY o_orderdate DESC, o_orderkey DESC) AS rn_desc,
           COUNT(*) OVER (PARTITION BY o_custkey) AS n
    FROM orders
    WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
), fl AS (
    SELECT o_custkey,
           MAX(CASE WHEN rn_asc = 1 THEN cents END) AS first_cents,
           MAX(CASE WHEN rn_desc = 1 THEN cents END) AS last_cents
    FROM seq WHERE n >= 2 GROUP BY o_custkey
)
SELECT CASE WHEN last_cents >= 2 * first_cents THEN 'upsold_2x'
            WHEN last_cents > first_cents THEN 'grew'
            WHEN last_cents = first_cents THEN 'flat'
            ELSE 'shrank' END AS trajectory,
       CAST(COUNT(*) AS BIGINT) AS n_customers
FROM fl GROUP BY 1 ORDER BY trajectory
"""


@_register("customer_first_last_ratio", _FIRST_LAST_ORACLE)
def customer_first_last_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Customer trajectory: first order value vs last order value
    (repeat customers), classified into upsold-2x / grew / flat /
    shrank — the expansion-revenue signal.

    Scale: one shuffle on the customer key serves both ROW_NUMBER
    directions and the count (same window partitioning, one exchange);
    comparisons are exact integer cents, so every classification is
    deterministic. Output cardinality: 4 rows.
    """
    t = load_tables(spark, sf_dir, register_views=False)
    w_asc = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    w_desc = Window.partitionBy("o_custkey").orderBy(
        F.desc("o_orderdate"), F.desc("o_orderkey")
    )
    w_n = Window.partitionBy("o_custkey")
    seq = t["orders"].select(
        "o_custkey",
        F.round(F.col("o_totalprice") * 100, 0).cast("long").alias("cents"),
        F.row_number().over(w_asc).alias("rn_asc"),
        F.row_number().over(w_desc).alias("rn_desc"),
        F.count(F.lit(1)).over(w_n).alias("n"),
    )
    fl = (
        seq.filter(F.col("n") >= 2)
        .groupBy("o_custkey")
        .agg(
            F.max(F.when(F.col("rn_asc") == 1, F.col("cents"))).alias("first_cents"),
            F.max(F.when(F.col("rn_desc") == 1, F.col("cents"))).alias("last_cents"),
        )
    )
    trajectory = (
        F.when(F.col("last_cents") >= 2 * F.col("first_cents"), "upsold_2x")
        .when(F.col("last_cents") > F.col("first_cents"), "grew")
        .when(F.col("last_cents") == F.col("first_cents"), "flat")
        .otherwise("shrank")
    )
    return (
        fl.select(trajectory.alias("trajectory"))
        .groupBy("trajectory")
        .agg(F.count(F.lit(1)).alias("n_customers"))
        .orderBy("trajectory")
    )


_WEIGHTED_MEDIAN_ORACLE = """
WITH levels AS (
    SELECT l_returnflag, CAST(ROUND(l_extendedprice * 100) AS BIGINT) AS cents,
           SUM(CAST(l_quantity AS BIGINT)) AS w
    FROM lineitem GROUP BY 1, 2
), cum AS (
    SELECT l_returnflag, cents, w,
           SUM(w) OVER (PARTITION BY l_returnflag ORDER BY cents
                        ROWS UNBOUNDED PRECEDING) AS cw,
           SUM(w) OVER (PARTITION BY l_returnflag) AS tw
    FROM levels
)
SELECT l_returnflag,
       CAST(MAX(tw) AS BIGINT) AS total_weight,
       ROUND(CAST(MIN(CASE WHEN 2 * cw >= tw THEN cents END) AS DOUBLE) / 100, 2)
           AS weighted_median_price
FROM cum GROUP BY l_returnflag ORDER BY l_returnflag
"""


@_register("agg_weighted_median", _WEIGHTED_MEDIAN_ORACLE)
def agg_weighted_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantity-weighted median price per return flag — the weighted
    percentile no engine ships natively, via the level-histogram
    decomposition: collapse to distinct cent levels with summed
    weights, ordered cumulative weight, first level crossing half the
    total (2*cw >= tw in pure integers — no float quantile anywhere).

    Scale: the fact table collapses to |flag| x |distinct prices|
    levels in one map-side-combinable aggregation; the ordered window
    runs per flag over the bounded level set. Same bounded-series
    discipline as the KS test and Gini histogram.
    """
    t = load_tables(spark, sf_dir, register_views=False)
    levels = (
        t["lineitem"]
        .groupBy(
            "l_returnflag",
            F.round(F.col("l_extendedprice") * 100, 0).cast("long").alias("cents"),
        )
        .agg(F.sum(F.col("l_quantity").cast("long")).alias("w"))
    )
    w_cum = Window.partitionBy("l_returnflag").orderBy("cents").rowsBetween(
        Window.unboundedPreceding, 0
    )
    w_all = Window.partitionBy("l_returnflag")
    cum = levels.select(
        "l_returnflag",
        "cents",
        F.sum("w").over(w_cum).alias("cw"),
        F.sum("w").over(w_all).alias("tw"),
    )
    return (
        cum.groupBy("l_returnflag")
        .agg(
            F.max("tw").cast("long").alias("total_weight"),
            F.round(
                F.min(F.when(2 * F.col("cw") >= F.col("tw"), F.col("cents"))).cast(
                    "double"
                )
                / 100,
                2,
            ).alias("weighted_median_price"),
        )
        .orderBy("l_returnflag")
    )


_SLA_ORACLE = """
WITH first_ship AS (
    SELECT o.o_orderkey, o.o_orderpriority,
           MIN(CAST(l.l_shipdate AS DATE)) AS first_ship,
           CAST(o.o_orderdate AS DATE) AS placed
    FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    GROUP BY 1, 2, 4
)
SELECT o_orderpriority,
       CAST(COUNT(*) AS BIGINT) AS n_orders,
       CAST(SUM(CASE WHEN date_diff('day', placed, first_ship) <= 30
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_within_sla,
       CAST(ROUND(10000.0 * SUM(CASE WHEN date_diff('day', placed, first_ship) <= 30
                                     THEN 1 ELSE 0 END) / COUNT(*)) AS BIGINT)
           AS sla_bps
FROM first_ship GROUP BY o_orderpriority ORDER BY o_orderpriority
"""


@_register("orders_sla_attainment", _SLA_ORACLE)
def orders_sla_attainment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SLA attainment: share of orders whose FIRST line ships within
    30 days, by priority class, in integer basis points — first-event
    latency vs target, the operations-review staple.

    Scale: one fact-fact join on the order key (partial-aggregated
    min per order in the same shuffle), then a tiny priority
    aggregate. Integer day arithmetic end to end.
    """
    t = load_tables(spark, sf_dir, register_views=False)
    first_ship = (
        t["orders"]
        .join(t["lineitem"], F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy(
            "o_orderkey",
            "o_orderpriority",
            F.col("o_orderdate").cast("date").alias("placed"),
        )
        .agg(F.min(F.col("l_shipdate").cast("date")).alias("first_ship"))
    )
    within = F.when(F.datediff("first_ship", "placed") <= 30, 1).otherwise(0)
    return (
        first_ship.groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum(within).cast("long").alias("n_within_sla"),
            F.round(10000.0 * F.sum(within) / F.count(F.lit(1)), 0)
            .cast("long")
            .alias("sla_bps"),
        )
        .orderBy("o_orderpriority")
    )


_DUAL_SOURCE_ORACLE = """
WITH ps AS (
    SELECT l_partkey, l_suppkey,
           MIN(CAST(ROUND(l_extendedprice / l_quantity * 100) AS BIGINT))
               AS min_unit_cents
    FROM lineitem GROUP BY 1, 2
), agg AS (
    SELECT l_partkey, COUNT(*) AS n_suppliers,
           MIN(min_unit_cents) AS best, MAX(min_unit_cents) AS worst
    FROM ps GROUP BY l_partkey HAVING COUNT(*) >= 2
)
SELECT CAST(l_partkey AS BIGINT) AS l_partkey,
       CAST(n_suppliers AS BIGINT) AS n_suppliers,
       ROUND(CAST(best AS DOUBLE) / 100, 2) AS best_unit_price,
       CAST(ROUND(10000.0 * (worst - best) / best) AS BIGINT) AS spread_bps
FROM agg
ORDER BY spread_bps DESC, l_partkey
LIMIT 25
"""


@_register("supplier_dual_sourcing_parts", _DUAL_SOURCE_ORACLE)
def supplier_dual_sourcing_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dual-sourcing opportunity scan: parts bought from >= 2
    suppliers, ranked by the basis-point spread between the cheapest
    and priciest supplier's best unit price — the procurement
    arbitrage report.

    Unit prices quantize to integer cents per (part, supplier) before
    any comparison, so the spread and its ranking are deterministic.
    Scale: two map-side-combinable aggregations on (part, supplier)
    then part; top-25 is a TakeOrderedAndProject.
    """
    t = load_tables(spark, sf_dir, register_views=False)
    ps = (
        t["lineitem"]
        .groupBy("l_partkey", "l_suppkey")
        .agg(
            F.min(
                F.round(F.col("l_extendedprice") / F.col("l_quantity") * 100, 0).cast(
                    "long"
                )
            ).alias("min_unit_cents")
        )
    )
    agg = (
        ps.groupBy("l_partkey")
        .agg(
            F.count(F.lit(1)).alias("n_suppliers"),
            F.min("min_unit_cents").alias("best"),
            F.max("min_unit_cents").alias("worst"),
        )
        .filter(F.col("n_suppliers") >= 2)
    )
    return (
        agg.select(
            F.col("l_partkey").cast("long"),
            F.col("n_suppliers").cast("long"),
            F.round(F.col("best").cast("double") / 100, 2).alias("best_unit_price"),
            F.round(10000.0 * (F.col("worst") - F.col("best")) / F.col("best"), 0)
            .cast("long")
            .alias("spread_bps"),
        )
        .orderBy(F.desc("spread_bps"), F.asc("l_partkey"))
        .limit(25)
    )


_PRIORITY_DRIFT_ORACLE = """
WITH cells AS (
    SELECT CAST(CAST(date_trunc('month', CAST(o_orderdate AS DATE)) AS DATE)
                AS VARCHAR) AS month,
           o_orderpriority, COUNT(*) AS o
    FROM orders GROUP BY 1, 2
), mt AS (SELECT month, SUM(o) AS m_total FROM cells GROUP BY month),
pt AS (SELECT o_orderpriority, SUM(o) AS p_total FROM cells GROUP BY o_orderpriority),
n AS (SELECT SUM(o) AS n FROM cells)
SELECT c.month,
       CAST(MAX(mt.m_total) AS BIGINT) AS n_orders,
       ROUND(CAST(SUM(CAST(
           POWER(c.o - CAST(mt.m_total AS DOUBLE) * pt.p_total / n.n, 2)
           / (CAST(mt.m_total AS DOUBLE) * pt.p_total / n.n)
       AS DECIMAL(38,12))) AS DOUBLE), 6) AS drift_chi2
FROM cells c JOIN mt USING (month) JOIN pt USING (o_orderpriority) CROSS JOIN n
GROUP BY c.month ORDER BY c.month
"""


@_register("orders_priority_drift_chi2", _PRIORITY_DRIFT_ORACLE)
def orders_priority_drift_chi2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-month distribution-drift monitor: chi-square of each
    month's order-priority mix against the all-time mix — the data-
    drift alarm a nightly batch pipeline evaluates before trusting new
    data (spiking drift_chi2 = upstream behavior change).

    Cell terms are deterministic doubles of four integers, decimal-
    accumulated per month (rounded 6 dp). Scale: one aggregation to
    |months| x |priorities| cells; margins re-aggregate the tiny cell
    table and broadcast back.
    """
    t = load_tables(spark, sf_dir, register_views=False)
    cells = (
        t["orders"]
        .groupBy(
            F.date_trunc("month", F.col("o_orderdate").cast("date"))
            .cast("date")
            .cast("string")
            .alias("month"),
            "o_orderpriority",
        )
        .agg(F.count(F.lit(1)).alias("o"))
        .transform(lineage_cut)
    )
    mt = cells.groupBy("month").agg(F.sum("o").alias("m_total"))
    pt = cells.groupBy("o_orderpriority").agg(F.sum("o").alias("p_total"))
    n = cells.agg(F.sum("o").alias("n"))
    e = F.col("m_total").cast("double") * F.col("p_total") / F.col("n")
    return (
        cells.join(bcast_bounded(mt, "month: 12 rows"), "month")
        .join(bcast_bounded(pt, "o_orderpriority: 5 rows"), "o_orderpriority")
        .crossJoin(bcast_bounded(n, "1-row aggregate"))
        .groupBy("month")
        .agg(
            F.max("m_total").cast("long").alias("n_orders"),
            F.round(
                F.sum(((F.pow(F.col("o") - e, F.lit(2))) / e).cast("decimal(38,12)"))
                .cast("double"),
                6,
            ).alias("drift_chi2"),
        )
        .orderBy("month")
    )


_SPEARMAN_ORACLE = """
WITH qlev AS (
    SELECT CAST(l_quantity AS BIGINT) AS v, COUNT(*) AS m FROM lineitem GROUP BY 1
), qrank AS (
    SELECT v, SUM(m) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING) - m
               + (m + 1) / 2.0 AS r
    FROM qlev
), plev AS (
    SELECT CAST(ROUND(l_extendedprice * 100) AS BIGINT) AS v, COUNT(*) AS m
    FROM lineitem GROUP BY 1
), prank AS (
    SELECT v, SUM(m) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING) - m
               + (m + 1) / 2.0 AS r
    FROM plev
), ranked AS (
    SELECT qr.r AS rx, pr.r AS ry
    FROM lineitem l
    JOIN qrank qr ON qr.v = CAST(l.l_quantity AS BIGINT)
    JOIN prank pr ON pr.v = CAST(ROUND(l.l_extendedprice * 100) AS BIGINT)
), sums AS (
    SELECT COUNT(*) AS n,
           CAST(SUM(CAST(rx AS DECIMAL(38,6))) AS DOUBLE) AS sx,
           CAST(SUM(CAST(ry AS DECIMAL(38,6))) AS DOUBLE) AS sy,
           CAST(SUM(CAST(rx * ry AS DECIMAL(38,6))) AS DOUBLE) AS sxy,
           CAST(SUM(CAST(rx * rx AS DECIMAL(38,6))) AS DOUBLE) AS sxx,
           CAST(SUM(CAST(ry * ry AS DECIMAL(38,6))) AS DOUBLE) AS syy
    FROM ranked
)
SELECT CAST(n AS BIGINT) AS n,
       ROUND((n * sxy - sx * sy)
             / (SQRT(n * sxx - sx * sx) * SQRT(n * syy - sy * sy)), 9) AS spearman_rho
FROM sums
"""


@_register("stat_spearman_qty_price", _SPEARMAN_ORACLE)
def stat_spearman_qty_price(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spearman rank correlation between quantity and price — the
    monotone-association complement to ``stat_corr_cov``'s Pearson.

    Average ranks for ties come from the LEVEL histogram (cum - m +
    (m+1)/2): half-integer fractions, exactly representable, no
    global row sort — the same bounded-level discipline as the KS
    test. Rank power sums accumulate in decimal; one closed-form
    division at the end (rounded 9 dp). Scale: two level-histogram
    aggregations + two broadcast-joinable rank lookups; the windows
    run over bounded level sets, never rows.
    """
    t = load_tables(spark, sf_dir, register_views=False)
    li = t["lineitem"].select(
        F.col("l_quantity").cast("long").alias("qv"),
        F.round(F.col("l_extendedprice") * 100, 0).cast("long").alias("pv"),
    ).transform(lineage_cut)

    def ranks(col):
        lev = li.groupBy(F.col(col).alias("v")).agg(F.count(F.lit(1)).alias("m"))
        w = Window.orderBy("v").rowsBetween(Window.unboundedPreceding, 0)
        return lev.select(
            "v",
            (F.sum("m").over(w) - F.col("m") + (F.col("m") + 1) / 2.0).alias("r"),
        )

    qr = ranks("qv").select(F.col("v").alias("qv"), F.col("r").alias("rx"))
    pr = ranks("pv").select(F.col("v").alias("pv"), F.col("r").alias("ry"))
    ranked = li.join(
        bcast_bounded(qr, "l_quantity domain: 50 integer values"), "qv"
    ).join(pr, "pv").select("rx", "ry")
    s = ranked.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("rx").cast(DEC)).cast("double").alias("sx"),
        F.sum(F.col("ry").cast(DEC)).cast("double").alias("sy"),
        F.sum((F.col("rx") * F.col("ry")).cast(DEC)).cast("double").alias("sxy"),
        F.sum((F.col("rx") * F.col("rx")).cast(DEC)).cast("double").alias("sxx"),
        F.sum((F.col("ry") * F.col("ry")).cast(DEC)).cast("double").alias("syy"),
    )
    rho = (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")) / (
        F.sqrt(F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx"))
        * F.sqrt(F.col("n") * F.col("syy") - F.col("sy") * F.col("sy"))
    )
    return s.select(
        F.col("n").cast("long").alias("n"), F.round(rho, 9).alias("spearman_rho")
    )


_WINBACK_ORACLE = """
WITH activity AS (
    SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events
), gaps AS (
    SELECT user_id,
           date_diff('day', LAG(day) OVER (PARTITION BY user_id ORDER BY day), day)
               AS gap
    FROM activity
)
SELECT user_id,
       CAST(COUNT(gap) AS BIGINT) AS n_returns,
       CAST(MAX(gap) AS BIGINT) AS longest_gap_days,
       CAST(SUM(CASE WHEN gap > 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_winbacks
FROM gaps
GROUP BY user_id
HAVING SUM(CASE WHEN gap > 2 THEN 1 ELSE 0 END) > 0
ORDER BY user_id
"""


@_register("events_winback_gaps", _WINBACK_ORACLE)
def events_winback_gaps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winback detection: users who RETURNED after a silent gap
    longer than the threshold (2 days here — the synthetic stream is
    dense; production uses 30), with their return count and longest
    gap — the re-engagement
    cohort a lifecycle team targets (the counterpart of
    ``events_user_lifecycle_states``' aggregate 'resurrected' bucket,
    resolved to individual users).

    Scale: collapse to distinct (user, day) first, one shuffle on the
    user key for the lag window (bounded per-user series), integer
    day arithmetic throughout.
    """
    t = load_tables(spark, sf_dir, register_views=False)
    activity = (
        t["events"].select("user_id", F.col("ts").cast("date").alias("day")).distinct()
    )
    w = Window.partitionBy("user_id").orderBy("day")
    gaps = activity.select(
        "user_id", F.datediff("day", F.lag("day").over(w)).alias("gap")
    )
    return (
        gaps.groupBy("user_id")
        .agg(
            F.count("gap").cast("long").alias("n_returns"),
            F.max("gap").cast("long").alias("longest_gap_days"),
            F.sum(F.when(F.col("gap") > 2, 1).otherwise(0))
            .cast("long")
            .alias("n_winbacks"),
        )
        .filter(F.col("n_winbacks") > 0)
        .orderBy("user_id")
    )


_COVERAGE_ORACLE = """
WITH per_cust AS (
    SELECT c.c_mktsegment, o.o_custkey,
           SUM(CAST(ROUND(o.o_totalprice * 100) AS BIGINT)) AS cents
    FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
    GROUP BY 1, 2
), ranked AS (
    SELECT c_mktsegment, cents,
           SUM(cents) OVER (PARTITION BY c_mktsegment
                            ORDER BY cents DESC, o_custkey
                            ROWS UNBOUNDED PRECEDING) AS cum,
           SUM(cents) OVER (PARTITION BY c_mktsegment) AS total,
           COUNT(*) OVER (PARTITION BY c_mktsegment) AS n_cust
    FROM per_cust
)
SELECT c_mktsegment,
       CAST(MAX(n_cust) AS BIGINT) AS n_customers,
       CAST(SUM(CASE WHEN 2 * (cum - cents) < total THEN 1 ELSE 0 END) AS BIGINT)
           AS n_to_half_revenue
FROM ranked GROUP BY c_mktsegment ORDER BY c_mktsegment
"""


@_register("customer_coverage_half_revenue", _COVERAGE_ORACLE)
def customer_coverage_half_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """How many top customers cover HALF the segment's revenue — the
    coverage-count dual of ``customer_concentration_hhi`` (an HHI says
    'concentrated'; this says 'concentrated in exactly N accounts').

    A customer counts while the revenue ACCUMULATED BEFORE them is
    still under half the total (2*(cum - own) < total, pure integer
    cents — no float share). Scale: per-customer collapse first; the
    ranking window runs per segment over collapsed customers with
    exact-integer ordering.
    """
    t = load_tables(spark, sf_dir, register_views=False)
    per_cust = (
        t["orders"]
        .join(
            t["customer"].select("c_custkey", "c_mktsegment"),
            F.col("c_custkey") == F.col("o_custkey"),
        )
        .groupBy("c_mktsegment", "o_custkey")
        .agg(F.sum(F.round(F.col("o_totalprice") * 100, 0).cast("long")).alias("cents"))
    )
    w_cum = Window.partitionBy("c_mktsegment").orderBy(
        F.desc("cents"), F.asc("o_custkey")
    ).rowsBetween(Window.unboundedPreceding, 0)
    w_all = Window.partitionBy("c_mktsegment")
    ranked = per_cust.select(
        "c_mktsegment",
        "cents",
        F.sum("cents").over(w_cum).alias("cum"),
        F.sum("cents").over(w_all).alias("total"),
        F.count(F.lit(1)).over(w_all).alias("n_cust"),
    )
    counted = F.when(2 * (F.col("cum") - F.col("cents")) < F.col("total"), 1).otherwise(0)
    return (
        ranked.groupBy("c_mktsegment")
        .agg(
            F.max("n_cust").cast("long").alias("n_customers"),
            F.sum(counted).cast("long").alias("n_to_half_revenue"),
        )
        .orderBy("c_mktsegment")
    )


_MARGIN_ORACLE = """
WITH sold AS (
    SELECT p.p_brand,
           SUM(CAST(ROUND(l.l_extendedprice * 100) AS BIGINT)) AS sold_cents,
           SUM(CAST(l.l_quantity AS BIGINT)
               * CAST(ROUND(p.p_retailprice * 100) AS BIGINT)) AS retail_cents,
           COUNT(*) AS n_lines
    FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
    GROUP BY p.p_brand
)
SELECT p_brand, CAST(n_lines AS BIGINT) AS n_lines,
       ROUND(CAST(sold_cents AS DOUBLE) / 100, 2) AS realized_revenue,
       CAST(ROUND(10000.0 * (sold_cents - retail_cents) / retail_cents) AS BIGINT)
           AS margin_vs_retail_bps
FROM sold ORDER BY p_brand
"""


@_register("part_realized_vs_retail_margin", _MARGIN_ORACLE)
def part_realized_vs_retail_margin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Realized price vs list (retail) price per brand, in basis
    points — the discounting-discipline report ('which brands do we
    systematically sell under list?').

    Scale: part is sf-proportional, so it joins bare onto the
    lineitem scan (AQE broadcasts while small); the per-brand
    aggregate is map-side combinable; all money in exact
    integer cents (quantity-weighted retail baseline).
    """
    t = load_tables(spark, sf_dir, register_views=False)
    sold = (
        t["lineitem"]
        .join(
            t["part"].select("p_partkey", "p_brand", "p_retailprice"),
            F.col("p_partkey") == F.col("l_partkey"),
        )
        .groupBy("p_brand")
        .agg(
            F.sum(F.round(F.col("l_extendedprice") * 100, 0).cast("long")).alias(
                "sold_cents"
            ),
            F.sum(
                F.col("l_quantity").cast("long")
                * F.round(F.col("p_retailprice") * 100, 0).cast("long")
            ).alias("retail_cents"),
            F.count(F.lit(1)).alias("n_lines"),
        )
    )
    return sold.select(
        "p_brand",
        F.col("n_lines").cast("long").alias("n_lines"),
        F.round(F.col("sold_cents").cast("double") / 100, 2).alias("realized_revenue"),
        F.round(
            10000.0 * (F.col("sold_cents") - F.col("retail_cents")) / F.col("retail_cents"),
            0,
        )
        .cast("long")
        .alias("margin_vs_retail_bps"),
    ).orderBy("p_brand")


_DAILY_KPI_ORACLE = """
WITH o AS (
    SELECT CAST(o_orderdate AS DATE) AS day, o_custkey,
           CAST(ROUND(o_totalprice * 100) AS BIGINT) AS cents
    FROM orders
)
SELECT CAST(day AS VARCHAR) AS day,
       CAST(COUNT(*) AS BIGINT) AS n_orders,
       CAST(COUNT(DISTINCT o_custkey) AS BIGINT) AS n_customers,
       ROUND(CAST(SUM(cents) AS DOUBLE) / 100, 2) AS revenue,
       CAST(ROUND(CAST(SUM(cents) AS DOUBLE) / COUNT(*)) AS BIGINT) AS aov_cents,
       CAST(MAX(cents) AS BIGINT) AS biggest_order_cents
FROM o
GROUP BY day ORDER BY day DESC LIMIT 14
"""


@_register("exec_daily_kpis", _DAILY_KPI_ORACLE)
def exec_daily_kpis(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The daily executive dashboard row, last 14 days: orders, unique
    customers, revenue, average order value, biggest ticket — five
    KPIs in ONE aggregation pass (the exact-distinct shares the same
    shuffle via Expand), integer cents throughout.

    Scale: one scan, one grouped aggregation, TakeOrderedAndProject
    for the trailing window — this is the query a materialized-view
    pipeline (``warehouse_mv_rewrite``) would serve incrementally.
    """
    t = load_tables(spark, sf_dir, register_views=False)
    o = t["orders"].select(
        F.col("o_orderdate").cast("date").alias("day"),
        "o_custkey",
        F.round(F.col("o_totalprice") * 100, 0).cast("long").alias("cents"),
    )
    return (
        o.groupBy("day")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.countDistinct("o_custkey").cast("long").alias("n_customers"),
            F.round(F.sum("cents").cast("double") / 100, 2).alias("revenue"),
            F.round(F.sum("cents").cast("double") / F.count(F.lit(1)), 0)
            .cast("long")
            .alias("aov_cents"),
            F.max("cents").cast("long").alias("biggest_order_cents"),
        )
        .select(F.col("day").cast("string").alias("day"), "n_orders", "n_customers",
                "revenue", "aov_cents", "biggest_order_cents")
        .orderBy(F.desc("day"))
        .limit(14)
    )


_DISPERSION_ORACLE = """
WITH hourly AS (
    SELECT event_type, date_trunc('hour', ts) AS h, COUNT(*) AS n
    FROM events GROUP BY 1, 2
), s AS (
    SELECT event_type, COUNT(*) AS k, SUM(n) AS sn, SUM(n * n) AS snn
    FROM hourly GROUP BY event_type
)
SELECT event_type, CAST(k AS BIGINT) AS n_hours,
       ROUND(CAST(sn AS DOUBLE) / k, 6) AS mean_per_hour,
       ROUND((CAST(snn AS DOUBLE) / k - POWER(CAST(sn AS DOUBLE) / k, 2))
             / (CAST(sn AS DOUBLE) / k), 6) AS dispersion_index
FROM s ORDER BY event_type
"""


@_register("stat_dispersion_index", _DISPERSION_ORACLE)
def stat_dispersion_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Poisson dispersion index (variance/mean of hourly counts) per
    event type: ~1 means Poisson-like arrivals; >1 flags bursty
    (overdispersed) traffic — the statistical footing under
    ``events_burst_hours``.

    Hourly counts are integers, so k/sn/snn are exact and the index
    is a deterministic closed form (rounded 6 dp; counts are small so
    the E[x^2]-E[x]^2 form is NOT cancelled here — unlike the
    unit-norm case in ``embedding_norm_outliers``). Scale: one
    aggregation to (type, hour) cells, then |types| rows.
    """
    t = load_tables(spark, sf_dir, register_views=False)
    hourly = (
        t["events"]
        .groupBy("event_type", F.date_trunc("hour", "ts").alias("h"))
        .agg(F.count(F.lit(1)).alias("n"))
    )
    s = hourly.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("k"),
        F.sum("n").alias("sn"),
        F.sum(F.col("n") * F.col("n")).alias("snn"),
    )
    mean = F.col("sn").cast("double") / F.col("k")
    return s.select(
        "event_type",
        F.col("k").cast("long").alias("n_hours"),
        F.round(mean, 6).alias("mean_per_hour"),
        F.round(
            (F.col("snn").cast("double") / F.col("k") - F.pow(mean, F.lit(2))) / mean, 6
        ).alias("dispersion_index"),
    ).orderBy("event_type")


_MAD_ORACLE = """
WITH cents AS (
    SELECT o_orderpriority, CAST(ROUND(o_totalprice * 100) AS BIGINT) AS c
    FROM orders
), med AS (
    SELECT o_orderpriority, quantile_cont(c, 0.5) AS m FROM cents GROUP BY 1
), dev AS (
    SELECT c.o_orderpriority, ABS(c.c - m.m) AS d
    FROM cents c JOIN med m USING (o_orderpriority)
)
SELECT o_orderpriority,
       ROUND((SELECT m FROM med WHERE med.o_orderpriority = dev.o_orderpriority)
             / 100, 2) AS median_price,
       ROUND(quantile_cont(d, 0.5) / 100, 2) AS mad_price
FROM dev GROUP BY o_orderpriority ORDER BY o_orderpriority
"""


@_register("agg_median_abs_deviation", _MAD_ORACLE)
def agg_median_abs_deviation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Median absolute deviation of order value per priority — the
    fully robust scale estimator (50% breakdown point; the winsorized
    and IQR ops trim, MAD ignores outliers entirely).

    Both medians use the shared p*(n-1) interpolation over integer
    cents (deviations are integer or half-integer — exact in binary),
    so the two-level percentile is engine-deterministic. Scale: exact
    group percentiles buffer per group (bounded groups); swap to
    approx_percentile at 100 TB, same shape.
    """
    t = load_tables(spark, sf_dir, register_views=False)
    cents = t["orders"].select(
        "o_orderpriority",
        F.round(F.col("o_totalprice") * 100, 0).cast("long").alias("c"),
    )
    med = cents.groupBy("o_orderpriority").agg(
        F.expr("percentile(c, 0.5)").alias("m")
    )
    dev = cents.join(bcast_bounded(med, "o_orderpriority: 5 rows"), "o_orderpriority").select(
        "o_orderpriority", F.abs(F.col("c") - F.col("m")).alias("d"), "m"
    )
    return (
        dev.groupBy("o_orderpriority")
        .agg(
            F.round(F.max("m") / 100, 2).alias("median_price"),
            F.round(F.expr("percentile(d, 0.5)") / 100, 2).alias("mad_price"),
        )
        .orderBy("o_orderpriority")
    )


_ENCODING_ORACLE = """
SELECT c_custkey,
       lower(to_hex(c_custkey)) AS key_hex,
       to_base64(encode(c_name)) AS name_b64,
       CAST(bit_length(c_name) AS BIGINT) AS name_bits,
       CAST(octet_length(encode(c_name)) AS BIGINT) AS name_bytes,
       md5(c_name) AS name_md5,
       sha256(c_name) AS name_sha256
FROM customer WHERE c_custkey < 100
ORDER BY c_custkey
"""


@_register("scalar_encoding_family", _ENCODING_ORACLE)
def scalar_encoding_family(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Encoding/digest scalar family: hex, base64, bit/byte lengths,
    md5 and sha-256 — the key-derivation toolkit (hash-gated splits,
    content addressing, interoperable ids). Spark's HEX is uppercase,
    DuckDB's lowercase — normalized to lowercase, the convention every
    md5-keyed operator in this engine already relies on. Narrow scan,
    pure codegen."""
    t = load_tables(spark, sf_dir, register_views=False)
    return (
        t["customer"]
        .filter(F.col("c_custkey") < 100)
        .select(
            "c_custkey",
            F.lower(F.hex(F.col("c_custkey"))).alias("key_hex"),
            F.base64(F.encode("c_name", "UTF-8")).alias("name_b64"),
            F.bit_length("c_name").cast("long").alias("name_bits"),
            F.octet_length("c_name").cast("long").alias("name_bytes"),
            F.md5("c_name").alias("name_md5"),
            F.sha2(F.col("c_name"), 256).alias("name_sha256"),
        )
        .orderBy("c_custkey")
    )


_ETL_CAPSTONE_ORACLE = """
SELECT event_type,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       CAST(SUM(CAST(ROUND(value * 1e6) AS BIGINT)) AS BIGINT) AS sum_micros,
       CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users
FROM events
WHERE event_id < 2000
GROUP BY event_type
ORDER BY event_type
"""


@_register("warehouse_etl_capstone", _ETL_CAPSTONE_ORACLE)
@on_scratch_dir
def warehouse_etl_capstone(spark: SparkSession, sf_dir: str, root: str) -> DataFrame:
    """The reference's PRIMARY use-case end to end: messy
    semi-structured records (BigQuery-illegal field names, nested
    props) -> recursive key sanitation -> value-driven schema
    inference -> table creation -> chunked load -> the R1 ``query``
    verb aggregating the landed table. One flow through §2.1-§2.3 +
    R1, hash-checked against the source-of-truth aggregate.

    The messy keys ('user id', 'event.type') exercise clean_field_key
    exactly as the reference's loaders do; micro-unit sums keep the
    landed aggregate exactly equal to the source aggregate. Scale:
    record prep is bounded (2000 rows); the landed table's query is a
    plain pruned scan + hash agg like any other.
    """
    from load_datawarehouse_spark.data import clean_keys
    from load_datawarehouse_spark.warehouse import SparkWarehouse

    t = load_tables(spark, sf_dir, register_views=False)
    raw = [
        {
            "event id": r["event_id"],
            "user id": r["user_id"],
            "event.type": r["event_type"],
            # list-of-records: the reference's REPEATED RECORD shape (a
            # BARE dict value is the documented degenerate quirk,
            # FIXTURES.md: plain dict -> STRING REPEATED)
            "payload": [{"value micros": int(round(r["value"] * 1e6))}],
        }
        for r in t["events"]
        .filter(F.col("event_id") < 2000)
        .select("event_id", "user_id", "event_type", "value")
        .collect()
    ]
    records = clean_keys(raw)
    wh = SparkWarehouse.new(spark, root, "events_landed", data=records)
    return wh.query(
        """
        SELECT event_type,
               COUNT(*) AS n_events,
               SUM(element_at(payload, 1).value_micros) AS sum_micros,
               COUNT(DISTINCT user_id) AS n_users
        FROM events_landed
        GROUP BY event_type
        ORDER BY event_type
        """
    ).select(
        F.col("event_type"),
        F.col("n_events").cast("long"),
        F.col("sum_micros").cast("long"),
        F.col("n_users").cast("long"),
    )


_PMI_ORACLE = """
WITH ut AS (
    SELECT DISTINCT user_id, event_type FROM events
), n_users AS (SELECT COUNT(DISTINCT user_id) AS nu FROM events),
tc AS (SELECT event_type, COUNT(*) AS c FROM ut GROUP BY event_type),
pairs AS (
    SELECT a.event_type AS t1, b.event_type AS t2, COUNT(*) AS c12
    FROM ut a JOIN ut b ON a.user_id = b.user_id AND a.event_type < b.event_type
    GROUP BY 1, 2
)
SELECT p.t1, p.t2, CAST(p.c12 AS BIGINT) AS n_cooccur,
       ROUND(LN(CAST(p.c12 AS DOUBLE) * nu / (c1.c * c2.c)), 9) AS pmi
FROM pairs p
JOIN tc c1 ON c1.event_type = p.t1
JOIN tc c2 ON c2.event_type = p.t2
CROSS JOIN n_users
ORDER BY t1, t2
"""


@_register("events_type_pmi", _PMI_ORACLE)
def events_type_pmi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pointwise mutual information between event types over users:
    PMI = ln(P(a,b) / (P(a)P(b))) — do users who error also purchase?
    The behavioral-association companion to ``basket_affinity_lift``'s
    order-level lift.

    Pair enumeration is user-local over each user's DISTINCT type set
    (<= |types| per user, so the self-join fanout is bounded by
    |types|^2 per user, not events^2); PMI is one deterministic
    ln of an integer ratio (rounded 9 dp). One shuffle on user_id,
    then tiny joins on the |types|-row margins.
    """
    t = load_tables(spark, sf_dir, register_views=False)
    ut = t["events"].select("user_id", "event_type").distinct().transform(lineage_cut)
    nu = ut.select(F.countDistinct("user_id").alias("nu"))
    tc = ut.groupBy("event_type").agg(F.count(F.lit(1)).alias("c"))
    a = ut.select("user_id", F.col("event_type").alias("t1"))
    b = ut.select(F.col("user_id").alias("u2"), F.col("event_type").alias("t2"))
    pairs = (
        a.join(b, (F.col("user_id") == F.col("u2")) & (F.col("t1") < F.col("t2")))
        .groupBy("t1", "t2")
        .agg(F.count(F.lit(1)).alias("c12"))
    )
    pmi = F.log(
        F.col("c12").cast("double") * F.col("nu") / (F.col("c1") * F.col("c2"))
    )
    return (
        pairs.join(bcast_bounded(tc.select(F.col("event_type").alias("t1"), F.col("c").alias("c1")), "event_type domain: bounded"), "t1")
        .join(bcast_bounded(tc.select(F.col("event_type").alias("t2"), F.col("c").alias("c2")), "event_type domain: bounded"), "t2")
        .crossJoin(bcast_bounded(nu, "1-row aggregate"))
        .select("t1", "t2", F.col("c12").cast("long").alias("n_cooccur"),
                F.round(pmi, 9).alias("pmi"))
        .orderBy("t1", "t2")
    )


_IDEMPOTENT_ORACLE = """
SELECT * FROM (
    SELECT 'after_first_load' AS phase,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS BIGINT)
               AS checksum_cents
    FROM orders WHERE o_orderkey < 3000
    UNION ALL
    SELECT 'after_replay', CAST(COUNT(*) AS BIGINT),
           CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS BIGINT)
    FROM orders WHERE o_orderkey < 3000
) ORDER BY phase
"""


@_register("warehouse_idempotent_backfill", _IDEMPOTENT_ORACLE)
@on_scratch_dir
def warehouse_idempotent_backfill(
    spark: SparkSession, sf_dir: str, root: str
) -> DataFrame:
    """Idempotence proof for the keyed upsert path: loading the SAME
    batch twice through ``update`` leaves the table bit-identical
    (row count and exact-cents checksum equal across phases) — the
    property that makes retried/replayed backfills safe, which plain
    append does NOT have. The oracle emits the source aggregate twice;
    a non-idempotent sink would double the replay row.

    Scale: each upsert is one anti-join + union rewrite on the key;
    idempotence comes from the key semantics, not from any
    deduplication pass.
    """
    from load_datawarehouse_spark import types as wtypes
    from load_datawarehouse_spark.warehouse import SparkWarehouse
    from pyspark.sql import types as T

    t = load_tables(spark, sf_dir, register_views=False)
    batch = t["orders"].filter(F.col("o_orderkey") < 3000).select(
        "o_orderkey",
        F.round(F.col("o_totalprice") * 100, 0).cast("long").alias("cents"),
    )
    struct = T.StructType(
        [T.StructField("o_orderkey", T.LongType()), T.StructField("cents", T.LongType())]
    )
    wh = SparkWarehouse.new(
        spark, root, "orders_backfill", schema=wtypes.struct_type_to_api_repr(struct)
    )

    def snap(phase):
        return wh.df().agg(
            F.lit(phase).alias("phase"),
            F.count(F.lit(1)).alias("n_rows"),
            F.sum("cents").cast("long").alias("checksum_cents"),
        )

    wh.update(batch, keys=["o_orderkey"])
    first = snap("after_first_load").collect()
    wh.update(batch, keys=["o_orderkey"])  # the replayed backfill
    second = snap("after_replay").collect()
    out_schema = "phase string, n_rows long, checksum_cents long"
    return spark.createDataFrame(first + second, out_schema).orderBy("phase")


_AGING_ORACLE = """
WITH spans AS (
    SELECT o.o_orderkey, CAST(o.o_orderdate AS DATE) AS placed,
           MIN(CAST(l.l_shipdate AS DATE)) AS first_ship
    FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    GROUP BY 1, 2
), open_orders AS (
    SELECT o_orderkey,
           date_diff('day', placed, DATE '1998-06-01') AS age_days
    FROM spans
    WHERE placed <= DATE '1998-06-01' AND first_ship > DATE '1998-06-01'
)
SELECT CASE WHEN age_days <= 30 THEN 'a_0_30'
            WHEN age_days <= 60 THEN 'b_31_60'
            WHEN age_days <= 90 THEN 'c_61_90'
            ELSE 'd_90_plus' END AS age_bucket,
       CAST(COUNT(*) AS BIGINT) AS n_orders,
       CAST(MIN(age_days) AS BIGINT) AS min_age,
       CAST(MAX(age_days) AS BIGINT) AS max_age
FROM open_orders GROUP BY 1 ORDER BY age_bucket
"""


@_register("orders_aging_report", _AGING_ORACLE)
def orders_aging_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Open-order aging at a pinned as-of date (1998-06-01): orders
    placed but with no line shipped yet, bucketed 0-30/31-60/61-90/
    90+ days — the receivables-style aging snapshot, the point-in-time
    complement to ``orders_open_backlog_daily``'s full series.

    Scale: one fact-fact join for first-ship (partial-aggregated min),
    then a narrow filter + 4-bucket aggregate; integer day arithmetic
    against the PINNED date (never now() — reproducible).
    """
    t = load_tables(spark, sf_dir, register_views=False)
    asof = F.lit("1998-06-01").cast("date")
    spans = (
        t["orders"]
        .join(t["lineitem"], F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy("o_orderkey", F.col("o_orderdate").cast("date").alias("placed"))
        .agg(F.min(F.col("l_shipdate").cast("date")).alias("first_ship"))
    )
    open_orders = spans.filter(
        (F.col("placed") <= asof) & (F.col("first_ship") > asof)
    ).select(F.datediff(asof, F.col("placed")).alias("age_days"))
    bucket = (
        F.when(F.col("age_days") <= 30, "a_0_30")
        .when(F.col("age_days") <= 60, "b_31_60")
        .when(F.col("age_days") <= 90, "c_61_90")
        .otherwise("d_90_plus")
    )
    return (
        open_orders.groupBy(bucket.alias("age_bucket"))
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.min("age_days").cast("long").alias("min_age"),
            F.max("age_days").cast("long").alias("max_age"),
        )
        .orderBy("age_bucket")
    )


_WEEKEND_LIFT_ORACLE = """
WITH daily AS (
    SELECT event_type, CAST(ts AS DATE) AS day,
           CASE WHEN isodow(ts) >= 6 THEN 1 ELSE 0 END AS is_weekend,
           COUNT(*) AS n
    FROM events GROUP BY 1, 2, 3
), agg AS (
    SELECT event_type,
           SUM(CASE WHEN is_weekend = 1 THEN n ELSE 0 END) AS we_n,
           SUM(CASE WHEN is_weekend = 1 THEN 1 ELSE 0 END) AS we_days,
           SUM(CASE WHEN is_weekend = 0 THEN n ELSE 0 END) AS wd_n,
           SUM(CASE WHEN is_weekend = 0 THEN 1 ELSE 0 END) AS wd_days
    FROM daily GROUP BY event_type
)
SELECT event_type,
       CAST(we_n AS BIGINT) AS weekend_events,
       CAST(wd_n AS BIGINT) AS weekday_events,
       CAST(ROUND(10000.0 * (CAST(we_n AS DOUBLE) / we_days)
                  / (CAST(wd_n AS DOUBLE) / wd_days)) AS BIGINT) AS lift_bps
FROM agg WHERE we_days > 0 AND wd_days > 0 AND wd_n > 0
ORDER BY event_type
"""


@_register("events_weekend_lift", _WEEKEND_LIFT_ORACLE)
def events_weekend_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekend lift per event type: average events per weekend day
    over average events per weekday, in basis points (10000 = no
    lift) — the day-mix normalization that a raw weekend/weekday
    total ratio gets wrong (there are 2.5x more weekdays).

    Integer counts and day tallies; one deterministic ratio at the
    end. Scale: one aggregation to (type, day) cells, then |types|
    rows.
    """
    t = load_tables(spark, sf_dir, register_views=False)
    iso_dow = F.when(F.dayofweek("ts") == 1, 7).otherwise(F.dayofweek("ts") - 1)
    daily = (
        t["events"]
        .groupBy(
            "event_type",
            F.col("ts").cast("date").alias("day"),
            (iso_dow >= 6).cast("int").alias("is_weekend"),
        )
        .agg(F.count(F.lit(1)).alias("n"))
    )
    agg = daily.groupBy("event_type").agg(
        F.sum(F.when(F.col("is_weekend") == 1, F.col("n")).otherwise(0)).alias("we_n"),
        F.sum(F.when(F.col("is_weekend") == 1, 1).otherwise(0)).alias("we_days"),
        F.sum(F.when(F.col("is_weekend") == 0, F.col("n")).otherwise(0)).alias("wd_n"),
        F.sum(F.when(F.col("is_weekend") == 0, 1).otherwise(0)).alias("wd_days"),
    )
    lift = (
        10000.0
        * (F.col("we_n").cast("double") / F.col("we_days"))
        / (F.col("wd_n").cast("double") / F.col("wd_days"))
    )
    return (
        agg.filter((F.col("we_days") > 0) & (F.col("wd_days") > 0) & (F.col("wd_n") > 0))
        .select(
            "event_type",
            F.col("we_n").cast("long").alias("weekend_events"),
            F.col("wd_n").cast("long").alias("weekday_events"),
            F.round(lift, 0).cast("long").alias("lift_bps"),
        )
        .orderBy("event_type")
    )


_HIST2D_ORACLE = """
SELECT CAST(CAST(l_quantity AS BIGINT) // 10 AS BIGINT) AS qty_band,
       CAST(CAST(ROUND(l_extendedprice * 100) AS BIGINT) // 2000000 AS BIGINT)
           AS price_band_20k,
       CAST(COUNT(*) AS BIGINT) AS n,
       CAST(SUM(CAST(ROUND(l_extendedprice * 100) AS BIGINT)) AS BIGINT)
           AS cents
FROM lineitem
GROUP BY 1, 2 ORDER BY qty_band, price_band_20k
"""


@_register("histogram_2d_qty_price", _HIST2D_ORACLE)
def histogram_2d_qty_price(spark: SparkSession, sf_dir: str) -> DataFrame:
    """2-D histogram: quantity bands (width 10) x price bands ($20k)
    with counts and exact cent mass per cell — the joint-distribution
    heatmap behind pricing analysis (complements the 1-D equi-depth
    and fixed-bin histograms). Pure integer banding (// in both
    engines — never float division into a cast), one map-side-
    combinable aggregation to a bounded cell grid.
    """
    t = load_tables(spark, sf_dir, register_views=False)
    cents = F.round(F.col("l_extendedprice") * 100, 0).cast("long")
    return (
        t["lineitem"]
        .groupBy(
            F.floor(F.col("l_quantity").cast("long") / 10).cast("long").alias("qty_band"),
            F.floor(cents / 2000000).cast("long").alias("price_band_20k"),
        )
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(cents).cast("long").alias("cents"),
        )
        .orderBy("qty_band", "price_band_20k")
    )


_HAVERSINE_ORACLE = """
WITH pts AS (
    SELECT c_custkey,
           CAST(c_custkey % 180 - 90 AS DOUBLE) * 0.9 AS lat,
           CAST(c_custkey % 360 - 180 AS DOUBLE) * 0.9 AS lon
    FROM customer WHERE c_custkey < 2000
), d AS (
    SELECT c_custkey, lat, lon,
           ROUND(2 * 6371.0 * ASIN(SQRT(
               POWER(SIN(RADIANS(lat - 48.8566) / 2), 2)
               + COS(RADIANS(lat)) * COS(RADIANS(48.8566))
                 * POWER(SIN(RADIANS(lon - 2.3522) / 2), 2)
           )), 3) AS km_to_paris
    FROM pts
)
SELECT c_custkey, lat, lon, km_to_paris,
       CAST(rk AS BIGINT) AS rk
FROM (
    SELECT *, ROW_NUMBER() OVER (ORDER BY km_to_paris, c_custkey) AS rk FROM d
) WHERE rk <= 20
ORDER BY rk
"""


@_register("geo_haversine_topk", _HAVERSINE_ORACLE)
def geo_haversine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Haversine great-circle distance (km) from synthetic customer
    coordinates to a fixed point (Paris), 20 nearest — the geo-radius
    primitive (store locators, geofenced joins) on the engine's
    WKT-free numeric geo path (cf. ``scalar_geo_wkt``).

    Trig runs in both engines' libm; the distance is rounded to 3 dp
    (meter precision) BEFORE ranking and emission, so a last-ulp
    sin/cos divergence can neither flip ranks nor hash-mismatch —
    the synthetic grid's distances are meters apart, never within a
    rounding boundary. Scale: narrow scan, TakeOrderedAndProject-style
    global top-k via the rounded key.
    """
    t = load_tables(spark, sf_dir, register_views=False)
    pts = (
        t["customer"]
        .filter(F.col("c_custkey") < 2000)
        .select(
            "c_custkey",
            ((F.col("c_custkey") % 180 - 90).cast("double") * 0.9).alias("lat"),
            ((F.col("c_custkey") % 360 - 180).cast("double") * 0.9).alias("lon"),
        )
    )
    lat1, lon1 = F.radians("lat"), F.radians("lon")
    lat2, lon2 = F.radians(F.lit(48.8566)), F.radians(F.lit(2.3522))
    hav = (
        F.pow(F.sin((lat1 - lat2) / 2), F.lit(2))
        + F.cos(lat1) * F.cos(lat2) * F.pow(F.sin((lon1 - lon2) / 2), F.lit(2))
    )
    km = F.round(2 * 6371.0 * F.asin(F.sqrt(hav)), 3)
    d = pts.withColumn("km_to_paris", km)
    w = Window.orderBy("km_to_paris", "c_custkey")
    return (
        d.withColumn("rk", F.row_number().over(w).cast("long"))
        .filter(F.col("rk") <= 20)
        .select("c_custkey", "lat", "lon", "km_to_paris", "rk")
        .orderBy("rk")
    )


_FIRST_TOUCH_ORACLE = """
WITH clicks AS (
    SELECT user_id, ts, MIN(event_id) AS click_id
    FROM events WHERE event_type = 'click' GROUP BY user_id, ts
), purchases AS (
    SELECT event_id, user_id, ts FROM events WHERE event_type = 'purchase'
), cand AS (
    SELECT p.event_id, p.user_id, c.ts AS cts, c.click_id
    FROM purchases p JOIN clicks c
      ON c.user_id = p.user_id
     AND c.ts <= p.ts AND c.ts >= p.ts - INTERVAL 7 DAY
), first_click AS (
    SELECT event_id, MIN({'cts': cts, 'click_id': click_id}) AS fc
    FROM cand GROUP BY event_id
)
SELECT p.event_id, p.user_id,
       fc.fc['click_id'] AS attributed_click_id,
       CAST(CASE WHEN fc.event_id IS NOT NULL THEN 1 ELSE 0 END AS BIGINT)
           AS attributed
FROM purchases p LEFT JOIN first_click fc ON fc.event_id = p.event_id
ORDER BY p.event_id
"""


@_register("attribution_first_touch", _FIRST_TOUCH_ORACLE)
def attribution_first_touch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-touch attribution: every purchase credits the EARLIEST
    click inside its 7-day lookback — the discovery-credit counterpart
    to ``attribution_last_touch`` (which rewards the closer). Because
    the window START slides, the running-last-value trick doesn't
    apply; instead a user-keyed range join collects lookback
    candidates (fanout bounded by clicks-per-user-week) and an
    argmin struct elects the first, deterministically tie-broken by
    (ts, click_id).

    Scale: one user-key shuffle for the candidate join; the argmin is
    a map-side-combinable MIN of a struct — no window at all.
    """
    t = load_tables(spark, sf_dir, register_views=False)
    ev = t["events"]
    clicks = (
        ev.filter(F.col("event_type") == "click")
        .groupBy("user_id", "ts")
        .agg(F.min("event_id").alias("click_id"))
        .select(F.col("user_id").alias("cu"), F.col("ts").alias("cts"), "click_id")
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts"
    )
    cand = purchases.join(
        clicks,
        (F.col("cu") == F.col("user_id"))
        & (F.col("cts") <= F.col("ts"))
        & (F.col("cts") >= F.col("ts") - F.expr("INTERVAL 7 DAYS")),
    )
    first_click = cand.groupBy("event_id").agg(
        F.min(F.struct("cts", "click_id")).alias("fc")
    )
    return (
        purchases.join(
            first_click.select("event_id", F.col("fc.click_id").alias("attributed_click_id")),
            "event_id",
            "left",
        )
        .select(
            "event_id",
            "user_id",
            "attributed_click_id",
            F.when(F.col("attributed_click_id").isNotNull(), 1)
            .otherwise(0)
            .cast("long")
            .alias("attributed"),
        )
        .orderBy("event_id")
    )


_PEAK_CONCURRENCY_ORACLE = """
WITH sess AS (
    SELECT user_id, ts AS start_ts, ts + INTERVAL 30 MINUTE AS end_ts
    FROM events
), deltas AS (
    SELECT CAST(start_ts AS DATE) AS day, start_ts AS t, 1 AS d FROM sess
    UNION ALL
    SELECT CAST(start_ts AS DATE), end_ts, -1 FROM sess
), swept AS (
    SELECT day,
           SUM(d) OVER (PARTITION BY day ORDER BY t, d
                        ROWS UNBOUNDED PRECEDING) AS live
    FROM deltas
)
SELECT CAST(day AS VARCHAR) AS day,
       CAST(MAX(live) AS BIGINT) AS peak_concurrent
FROM swept GROUP BY day ORDER BY day
"""


@_register("events_peak_concurrency_daily", _PEAK_CONCURRENCY_ORACLE)
def events_peak_concurrency_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily peak concurrency: each event opens a 30-minute activity
    interval; the day's peak is the max of the +1/-1 boundary sweep —
    capacity planning's headline number (how many sessions live at
    once, not how many per day).

    The sweep is PARTITIONED BY DAY, so each window handles only one
    day's boundaries — the interval-count decomposition of
    ``orders_open_backlog_daily`` made shard-parallel (end events are
    credited to the start's day; a midnight-straddling interval
    under-counts its tail day by design — documented edge). Tie order
    (t, d) closes before it opens at the same instant in both engines.
    """
    t = load_tables(spark, sf_dir, register_views=False)
    sess = t["events"].select(
        F.col("ts").alias("start_ts"),
        (F.col("ts") + F.expr("INTERVAL 30 MINUTES")).alias("end_ts"),
    )
    deltas = sess.select(
        F.col("start_ts").cast("date").alias("day"),
        F.col("start_ts").alias("t"),
        F.lit(1).alias("d"),
    ).unionAll(
        sess.select(
            F.col("start_ts").cast("date").alias("day"),
            F.col("end_ts").alias("t"),
            F.lit(-1).alias("d"),
        )
    )
    w = Window.partitionBy("day").orderBy("t", "d").rowsBetween(
        Window.unboundedPreceding, 0
    )
    swept = deltas.withColumn("live", F.sum("d").over(w))
    return (
        swept.groupBy("day")
        .agg(F.max("live").cast("long").alias("peak_concurrent"))
        .select(F.col("day").cast("string").alias("day"), "peak_concurrent")
        .orderBy("day")
    )


_GAP_SENSITIVITY_ORACLE = """
WITH seq AS (
    SELECT user_id,
           date_diff('second', LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id),
                     ts) AS gap_s
    FROM events
)
SELECT * FROM (
    SELECT 'gap_15m' AS threshold,
           CAST(SUM(CASE WHEN gap_s IS NULL OR gap_s > 900 THEN 1 ELSE 0 END)
                AS BIGINT) AS n_sessions
    FROM seq
    UNION ALL
    SELECT 'gap_30m',
           CAST(SUM(CASE WHEN gap_s IS NULL OR gap_s > 1800 THEN 1 ELSE 0 END) AS BIGINT)
    FROM seq
    UNION ALL
    SELECT 'gap_60m',
           CAST(SUM(CASE WHEN gap_s IS NULL OR gap_s > 3600 THEN 1 ELSE 0 END) AS BIGINT)
    FROM seq
) ORDER BY threshold
"""


@_register("sessions_gap_sensitivity", _GAP_SENSITIVITY_ORACLE)
def sessions_gap_sensitivity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sessionization sensitivity: total session count under 15/30/60
    minute inactivity gaps, in ONE pass — the calibration table you
    consult before hard-coding a session timeout (a count that swings
    wildly between thresholds means the timeout choice is load-bearing;
    cf. ``time_window_session`` which commits to one gap).

    A session starts where the integer-second gap exceeds the
    threshold (or at the user's first event), so all three counts are
    exact sums over the SAME lag column — one user-key shuffle total.
    """
    t = load_tables(spark, sf_dir, register_views=False)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    # events.ts may arrive as TIMESTAMP_NTZ (driver parquet shape drift,
    # see the verify skill notes) — NTZ casts to epoch only via timestamp
    secs = F.col("ts").cast("timestamp").cast("long")
    seq = t["events"].select(
        (secs - F.lag(secs).over(w)).alias("gap_s")
    )

    def count_at(label, secs):
        return seq.agg(
            F.lit(label).alias("threshold"),
            F.sum(
                F.when(F.col("gap_s").isNull() | (F.col("gap_s") > secs), 1).otherwise(0)
            )
            .cast("long")
            .alias("n_sessions"),
        )

    return (
        count_at("gap_15m", 900)
        .unionByName(count_at("gap_30m", 1800))
        .unionByName(count_at("gap_60m", 3600))
        .orderBy("threshold")
    )


_SHIFT_SHARE_ORACLE = """
WITH rev AS (
    SELECT n.n_name AS nation,
           year(CAST(o.o_orderdate AS DATE)) AS yr,
           SUM(CAST(ROUND(o.o_totalprice * 100) AS BIGINT)) AS cents
    FROM orders o
    JOIN customer c ON c.c_custkey = o.o_custkey
    JOIN nation n ON n.n_nationkey = c.c_nationkey
    WHERE year(CAST(o.o_orderdate AS DATE)) IN (1996, 1997)
    GROUP BY 1, 2
), wide AS (
    SELECT nation,
           SUM(CASE WHEN yr = 1996 THEN cents ELSE 0 END) AS prev,
           SUM(CASE WHEN yr = 1997 THEN cents ELSE 0 END) AS cur
    FROM rev GROUP BY nation
), tot AS (SELECT SUM(prev) AS tp, SUM(cur) AS tc FROM wide)
SELECT nation,
       CAST(ROUND(10000.0 * (cur - prev) / prev) AS BIGINT) AS growth_bps,
       CAST(ROUND(10000.0 * (tc - tp) / tp) AS BIGINT) AS national_bps,
       CAST(ROUND(10000.0 * (cur - prev) / prev)
            - ROUND(10000.0 * (tc - tp) / tp) AS BIGINT) AS local_shift_bps
FROM wide CROSS JOIN tot
WHERE prev > 0
ORDER BY nation
"""


@_register("orders_nation_shift_share", _SHIFT_SHARE_ORACLE)
def orders_nation_shift_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shift-share growth decomposition: each nation's 1996->1997
    revenue growth split into the national trend and the LOCAL shift
    (out/under-performance vs the whole book) — the regional-
    economics lens on 'which markets actually beat the tide'.

    Exact integer cents; basis-point roundings are each deterministic
    from two integers, and the local shift is their integer
    difference. Scale: one aggregation to |nations| x 2 cells
    (dimensions broadcast), 1-row totals broadcast back.
    """
    t = load_tables(spark, sf_dir, register_views=False)
    yr = F.year(F.col("o_orderdate").cast("date"))
    rev = (
        t["orders"]
        .join(t["customer"].select("c_custkey", "c_nationkey"),
              F.col("c_custkey") == F.col("o_custkey"))
        .join(bcast_bounded(t["nation"], "nation: 25 rows"), F.col("n_nationkey") == F.col("c_nationkey"))
        .filter(yr.isin(1996, 1997))
        .groupBy(F.col("n_name").alias("nation"))
        .agg(
            F.sum(F.when(yr == 1996, F.round(F.col("o_totalprice") * 100, 0).cast("long")).otherwise(0)).alias("prev"),
            F.sum(F.when(yr == 1997, F.round(F.col("o_totalprice") * 100, 0).cast("long")).otherwise(0)).alias("cur"),
        )
    )
    tot = rev.agg(F.sum("prev").alias("tp"), F.sum("cur").alias("tc"))
    growth = F.round(10000.0 * (F.col("cur") - F.col("prev")) / F.col("prev"), 0).cast("long")
    national = F.round(10000.0 * (F.col("tc") - F.col("tp")) / F.col("tp"), 0).cast("long")
    return (
        rev.crossJoin(bcast_bounded(tot, "1-row aggregate"))
        .filter(F.col("prev") > 0)
        .select(
            "nation",
            growth.alias("growth_bps"),
            national.alias("national_bps"),
            (growth - national).cast("long").alias("local_shift_bps"),
        )
        .orderBy("nation")
    )


_PRODUCT_AGG_ORACLE = """
SELECT l_returnflag,
       CAST(COUNT(*) AS BIGINT) AS n,
       ROUND(EXP(CAST(SUM(CAST(LN(1.0 - l_discount) AS DECIMAL(38,18)))
                      AS DOUBLE)), 9) AS compound_retention,
       ROUND(EXP(CAST(SUM(CAST(LN(1.0 - l_discount) AS DECIMAL(38,18)))
                      AS DOUBLE) / COUNT(*)), 9) AS geo_mean_retention
FROM lineitem
WHERE l_discount < 1
GROUP BY l_returnflag ORDER BY l_returnflag
"""


@_register("agg_product_discount_factor", _PRODUCT_AGG_ORACLE)
def agg_product_discount_factor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PRODUCT aggregate via exp-sum-log: the compounded retention
    factor prod(1 - discount) per return flag (and its geometric
    mean) — the multiplicative aggregate SQL lacks, the compound-
    growth idiom every finance series needs.

    Multiplication is commutative, so the log-space decimal sum is
    partitioning-invariant like every additive aggregate here; one
    exp at the end (9 dp). Scale: one map-side-combinable
    aggregation; no ordered fold needed (unlike ``window_ema_fold``,
    whose recursion is NOT commutative).
    """
    t = load_tables(spark, sf_dir, register_views=False)
    dec18 = "decimal(38,18)"
    ln_term = F.log(1.0 - F.col("l_discount")).cast(dec18)
    return (
        t["lineitem"]
        .filter(F.col("l_discount") < 1)
        .groupBy("l_returnflag")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.exp(F.sum(ln_term).cast("double")), 9).alias("compound_retention"),
            F.round(
                F.exp(F.sum(ln_term).cast("double") / F.count(F.lit(1))), 9
            ).alias("geo_mean_retention"),
        )
        .orderBy("l_returnflag")
    )

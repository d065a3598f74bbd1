"""Round-4 analytics operator batch (SURVEY.md §2.4 EXT surface).

Same contract as ``ops.relational``: each operator is
``(spark, sf_dir) -> DataFrame`` in ``QUERIES`` with its DuckDB oracle
in ``ORACLES``. The reference declares but never implements a
relational surface (``bigquery/__init__.py:463-499``); these are
further Spark-native realizations of warehouse-analytics patterns the
implied ETL surface needs: sequence pattern matching, interval-overlap
self joins, hierarchical BOM closure, exact balanced-class sampling,
robust regression, spatially bucketed radius joins, and mergeable
sketch set algebra.

Exactness discipline is inherited from ``_util`` (decimal accumulators,
integer cents, rounded-before-emission libm outputs).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from load_datawarehouse_spark.ops._util import (
    bcast_bounded,
    dec_sum,
    lineage_cut,
    on_scratch_dir,
    registrar,
    sql_dec_sum,
)
from load_datawarehouse_spark.session import load_tables

QUERIES: dict = {}
ORACLES: dict = {}
_register = registrar(QUERIES, ORACLES)


# ---------------------------------------------------------------------------
# MATCH_RECOGNIZE-style sequence pattern matching (regex over encoded
# per-user event strings)
# ---------------------------------------------------------------------------

_FUNNEL_REGEX_ORACLE = """
WITH seqs AS (
    SELECT user_id,
           string_agg(substr(event_type, 1, 1), '' ORDER BY ts, event_id)
               AS seq
    FROM events GROUP BY user_id
)
SELECT user_id,
       CAST(length(seq) AS BIGINT) AS n_events,
       CAST(len(regexp_extract_all(seq, 'vc*p')) AS BIGINT) AS n_funnels
FROM seqs ORDER BY user_id
"""


@_register("events_funnel_regex", _FUNNEL_REGEX_ORACLE)
def events_funnel_regex(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MATCH_RECOGNIZE-style sequence pattern counting: encode each
    user's event stream as a character string (event types have
    distinct initials), then count non-overlapping matches of the
    strict-contiguity pattern ``view (click)* purchase`` — the SQL:2016
    row-pattern primitive Spark lacks, expressed as one groupBy plus a
    codegen regex.

    Leftmost non-overlapping matching with a greedy ``c*`` produces
    identical matches under Java regex and RE2 (no capture-dependent
    backtracking), so the count is engine-portable. Scale: the only
    shuffle carries (user_id, 1-byte code, 8-byte ts) rows; per-user
    strings are bounded by per-user activity, and the regex scan is
    JVM-side whole-stage codegen.
    """
    t = load_tables(spark, sf_dir, register_views=False)
    ev = t["events"].select(
        "user_id",
        "ts",
        "event_id",
        F.substring("event_type", 1, 1).alias("ch"),
    )
    seqs = ev.groupBy("user_id").agg(
        F.concat_ws(
            "",
            F.transform(
                F.array_sort(F.collect_list(F.struct("ts", "event_id", "ch"))),
                lambda s: s["ch"],
            ),
        ).alias("seq")
    )
    return seqs.select(
        "user_id",
        F.length("seq").cast("long").alias("n_events"),
        F.regexp_count("seq", F.lit("vc*p")).cast("long").alias("n_funnels"),
    ).orderBy("user_id")


# ---------------------------------------------------------------------------
# Interval-overlap self join (concurrent open orders per customer)
# ---------------------------------------------------------------------------

_CONCURRENT_ORACLE = """
WITH win AS (
    SELECT l_orderkey, MAX(CAST(l_shipdate AS DATE)) AS ship_end
    FROM lineitem GROUP BY l_orderkey
), iv AS (
    SELECT o.o_orderkey, o.o_custkey,
           CAST(o.o_orderdate AS DATE) AS start_d, w.ship_end
    FROM orders o JOIN win w ON w.l_orderkey = o.o_orderkey
)
SELECT a.o_custkey AS custkey,
       CAST(COUNT(*) AS BIGINT) AS n_pairs,
       CAST(MAX(date_diff('day',
                GREATEST(a.start_d, b.start_d),
                LEAST(a.ship_end, b.ship_end)) + 1) AS BIGINT)
           AS max_overlap_days,
       CAST(SUM(date_diff('day',
                GREATEST(a.start_d, b.start_d),
                LEAST(a.ship_end, b.ship_end)) + 1) AS BIGINT)
           AS sum_overlap_days
FROM iv a JOIN iv b
  ON a.o_custkey = b.o_custkey AND a.o_orderkey < b.o_orderkey
 AND a.start_d <= b.ship_end AND b.start_d <= a.ship_end
GROUP BY a.o_custkey ORDER BY custkey
"""


@_register("orders_concurrent_pairs", _CONCURRENT_ORACLE)
def orders_concurrent_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval-overlap self join: pairs of orders of the same customer
    whose fulfillment windows [orderdate, last shipdate] overlap — the
    both-sides-are-intervals join (concurrent sessions, double-booked
    resources) that point-in-range joins (``join_range_bands``) can't
    express.

    Scale: the overlap predicate rides on the ``o_custkey`` equi key,
    so the pair fanout is bounded per customer (orders-per-customer is
    naturally bounded), never corpus x corpus; the lineitem window
    collapse is one map-side-combinable aggregation. Integer day
    arithmetic end to end.
    """
    t = load_tables(spark, sf_dir, register_views=False)
    win = (
        t["lineitem"]
        .groupBy("l_orderkey")
        .agg(F.max(F.col("l_shipdate").cast("date")).alias("ship_end"))
    )
    iv = (
        t["orders"]
        .select(
            "o_orderkey",
            "o_custkey",
            F.col("o_orderdate").cast("date").alias("start_d"),
        )
        .join(win, F.col("o_orderkey") == F.col("l_orderkey"))
        .select("o_orderkey", "o_custkey", "start_d", "ship_end")
    )
    a = iv.select(
        F.col("o_custkey").alias("custkey"),
        F.col("o_orderkey").alias("k1"),
        F.col("start_d").alias("s1"),
        F.col("ship_end").alias("e1"),
    )
    b = iv.select(
        F.col("o_custkey").alias("custkey"),
        F.col("o_orderkey").alias("k2"),
        F.col("start_d").alias("s2"),
        F.col("ship_end").alias("e2"),
    )
    overlap = (
        F.datediff(F.least("e1", "e2"), F.greatest("s1", "s2")) + 1
    ).alias("ov")
    return (
        a.join(b, "custkey")
        .filter(
            (F.col("k1") < F.col("k2"))
            & (F.col("s1") <= F.col("e2"))
            & (F.col("s2") <= F.col("e1"))
        )
        .select("custkey", overlap)
        .groupBy("custkey")
        .agg(
            F.count(F.lit(1)).alias("n_pairs"),
            F.max("ov").cast("long").alias("max_overlap_days"),
            F.sum("ov").cast("long").alias("sum_overlap_days"),
        )
        .orderBy("custkey")
    )


# ---------------------------------------------------------------------------
# Hierarchical BOM explosion (iterative closure vs recursive CTE)
# ---------------------------------------------------------------------------


_BOM_ORACLE = """
WITH RECURSIVE walk AS (
    SELECT p_partkey AS part, p_partkey AS anc,
           CAST(1 AS BIGINT) AS mult, 0 AS depth
    FROM part
    UNION ALL
    SELECT part, anc // 4, mult * (1 + anc % 3), depth + 1
    FROM walk WHERE anc > 3
)
SELECT anc AS root,
       CAST(COUNT(*) AS BIGINT) AS n_parts,
       CAST(SUM(mult) AS BIGINT) AS sum_extended_qty,
       CAST(MAX(depth) AS BIGINT) AS max_depth
FROM walk WHERE anc <= 3
GROUP BY anc ORDER BY root
"""


@_register("part_bom_rollup", _BOM_ORACLE)
def part_bom_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bill-of-materials explosion: every part rolls up a synthetic
    assembly tree (parent(c) = c DIV 4, qty-per(c) = 1 + c % 3, roots
    are parts 1..3) to its root with the multiplied-through effective
    quantity — the recursive-CTE workload (org charts, BOMs, account
    hierarchies) Spark expresses as a bounded iterative equi join
    against the edge table.

    The edge relation here is a PURE FUNCTION of the key — parent(c) =
    c DIV 4, qty-per(c) = 1 + c % 3 — knowledge the optimizer cannot
    exploit but we can (optimization-guide §8): joining the edge table
    merely looked up values every row can compute locally, so the walk
    folds the recurrence per row with ``aggregate`` over a bounded
    step sequence instead of 12 iterative hash-join rounds. That
    removes every join shuffle, every lineage cut, and the driver-side
    convergence count (a full extra job per call) from the plan: one
    narrow scan, one 3-group aggregation. Convergence is provable, not
    checked at runtime: anc DIV 4 strictly descends for anc > 3 and 32
    halving-twice steps cover every positive 63-bit key (4^32 > 2^63),
    so the fold always reaches a root — the old runtime raise guarded
    an iteration cap the closed form does not have. A REAL edge table
    (arbitrary parent pointers) would still need the iterative join;
    this op's contract is the synthetic arithmetic hierarchy, exactly
    as the oracle's recursive CTE computes it (no join there either).
    Scale: per-row work is O(depth) integer ops in codegen.
    """
    t = load_tables(spark, sf_dir, register_views=False)
    # one fold step: while anc > 3, multiply in this level's qty-per
    # and ascend (DIV 4 == shiftright 2 for the non-negative keys;
    # converged rows pass through untouched, exactly the old union)
    walk = F.aggregate(
        F.sequence(F.lit(1), F.lit(32)),
        F.struct(
            F.col("p_partkey").cast("long").alias("anc"),
            F.lit(1).cast("long").alias("mult"),
            F.lit(0).cast("long").alias("depth"),
        ),
        lambda acc, _: F.when(
            acc["anc"] > 3,
            F.struct(
                F.shiftright(acc["anc"], 2).alias("anc"),
                (acc["mult"] * (1 + acc["anc"] % 3)).alias("mult"),
                (acc["depth"] + 1).alias("depth"),
            ),
        ).otherwise(acc),
    )
    state = t["part"].select(walk.alias("w")).select(
        F.col("w.anc").alias("anc"),
        F.col("w.mult").alias("mult"),
        F.col("w.depth").alias("depth"),
    )
    return (
        state.groupBy(F.col("anc").alias("root"))
        .agg(
            F.count(F.lit(1)).alias("n_parts"),
            F.sum("mult").alias("sum_extended_qty"),
            F.max("depth").alias("max_depth"),
        )
        .orderBy("root")
    )


# ---------------------------------------------------------------------------
# Exact balanced-class downsampling without a per-class global sort
# ---------------------------------------------------------------------------

_BALANCED_ORACLE = f"""
WITH m AS (
    SELECT CAST(MIN(cnt) AS BIGINT) AS m
    FROM (SELECT COUNT(*) AS cnt FROM events GROUP BY event_type)
), r AS (
    SELECT *,
           row_number() OVER (
               PARTITION BY event_type
               ORDER BY md5('bal|' || CAST(event_id AS VARCHAR)), event_id
           ) AS rk
    FROM events
)
SELECT event_type,
       CAST(COUNT(*) AS BIGINT) AS kept_n,
       CAST(COUNT(DISTINCT user_id) AS BIGINT) AS kept_users,
       {sql_dec_sum('value', 'kept_value_sum')}
FROM r, m WHERE r.rk <= m.m
GROUP BY event_type ORDER BY event_type
"""


@_register("sample_balanced_classes", _BALANCED_ORACLE)
def sample_balanced_classes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact balanced-class downsampling: every event class is cut to
    the minority-class size m, keeping the first m rows per class in
    deterministic md5 order — class rebalancing for training data
    without the per-class global sort a naive ``row_number() <= m``
    needs.

    Two-phase exact selection (cf. ``histogram_equi_depth``): rows
    hash into 256 buckets (the md5 prefix, so bucket order is a prefix
    of full hash order); per-(class, bucket) counts locate the
    boundary bucket; all rows in earlier buckets are kept with NO sort,
    and only the single boundary bucket (~1/256 of a class) is ranked
    to take the remainder. The kept SET is identical to the naive
    formulation — the oracle proves it with the plain window. Scale:
    a 5-partition ``Window.partitionBy(event_type)`` would put whole
    classes on single tasks; here the per-class work stays distributed
    and only |classes| x 256 counter rows plus one tiny ranked bucket
    are ever centralized.
    """
    t = load_tables(spark, sf_dir, register_views=False)
    ev = t["events"].withColumn(
        "h", F.md5(F.concat(F.lit("bal|"), F.col("event_id").cast("string")))
    ).withColumn("bkt", F.substring("h", 1, 2))
    cls_counts = ev.groupBy("event_type").agg(F.count(F.lit(1)).alias("cnt"))
    m = cls_counts.agg(F.min("cnt").alias("m"))
    bkt_counts = ev.groupBy("event_type", "bkt").agg(
        F.count(F.lit(1)).alias("bn")
    )
    wcum = (
        Window.partitionBy("event_type")
        .orderBy("bkt")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    bounds = (
        bkt_counts.withColumn("cum_before", F.coalesce(F.sum("bn").over(wcum), F.lit(0)))
        .crossJoin(bcast_bounded(m, "1-row aggregate"))
        .select(
            "event_type",
            "bkt",
            "cum_before",
            "bn",
            "m",
            (F.col("cum_before") + F.col("bn") <= F.col("m")).alias("full"),
            (
                (F.col("cum_before") < F.col("m"))
                & (F.col("cum_before") + F.col("bn") > F.col("m"))
            ).alias("boundary"),
            (F.col("m") - F.col("cum_before")).alias("take"),
        )
    )
    keyed = ev.join(
        bcast_bounded(
            bounds.filter(F.col("full") | F.col("boundary")),
            "event_type x fixed bucket grid",
        ),
        ["event_type", "bkt"],
    )
    kept_full = keyed.filter(F.col("full"))
    wb = Window.partitionBy("event_type", "bkt").orderBy("h", "event_id")
    kept_boundary = (
        keyed.filter(F.col("boundary"))
        .withColumn("rk", F.row_number().over(wb))
        .filter(F.col("rk") <= F.col("take"))
        .drop("rk")
    )
    kept = kept_full.unionByName(kept_boundary)
    return (
        kept.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("kept_n"),
            F.count_distinct("user_id").alias("kept_users"),
            dec_sum("value", "kept_value_sum"),
        )
        .orderBy("event_type")
    )


# ---------------------------------------------------------------------------
# Theil-Sen robust slope (median of pairwise slopes, exact selection)
# ---------------------------------------------------------------------------

_THEIL_SEN_ORACLE = """
WITH days AS (
    SELECT CAST(date_trunc('month', CAST(o_orderdate AS DATE)) AS DATE) AS month,
           CAST(o_orderdate AS DATE) AS day,
           SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS rev
    FROM orders GROUP BY 1, 2
), pairs AS (
    SELECT a.month,
           b.rev - a.rev AS num,
           date_diff('day', a.day, b.day) AS den,
           CAST(b.rev - a.rev AS DOUBLE) / date_diff('day', a.day, b.day) AS sl
    FROM days a JOIN days b ON a.month = b.month AND a.day < b.day
), r AS (
    SELECT *,
           row_number() OVER (PARTITION BY month ORDER BY sl, num, den) AS rk,
           COUNT(*) OVER (PARTITION BY month) AS n
    FROM pairs
)
SELECT CAST(month AS VARCHAR) AS month,
       CAST(MAX(n) AS BIGINT) AS n_pairs,
       ROUND(CAST(SUM(sl) AS DOUBLE) / COUNT(*), 6) AS ts_slope_cents_per_day
FROM r
WHERE rk = (n + 1) // 2 OR rk = (n + 2) // 2
GROUP BY month ORDER BY month
"""


@_register("stat_theil_sen_monthly", _THEIL_SEN_ORACLE)
def stat_theil_sen_monthly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theil-Sen robust trend: per month, the median of all pairwise
    daily-revenue slopes — the outlier-resistant alternative to OLS
    (``regression_per_group_trend``) that a single spike day cannot
    drag.

    Exactness: revenue is integer cents, each pairwise slope is a
    rational num/den whose double quotient is one IEEE division
    (identical in both engines); the median element is SELECTED by
    rank with a (slope, num, den) total order, so engines agree on
    which pair(s) are the middle even among equal-slope ties, and only
    the final averaged emission rounds (6 dp). Scale: the pairwise
    expansion is bounded by 31 days/month (<=465 pairs) regardless of
    row count — the raw-to-daily collapse is the only data-sized
    shuffle; month partitions are calendar-bounded so the rank window
    never skews.
    """
    t = load_tables(spark, sf_dir, register_views=False)
    days = (
        t["orders"]
        .groupBy(
            F.date_trunc("month", F.col("o_orderdate").cast("date"))
            .cast("date")
            .alias("month"),
            F.col("o_orderdate").cast("date").alias("day"),
        )
        .agg(
            F.sum(F.round(F.col("o_totalprice") * 100).cast("long")).alias("rev")
        )
    )
    a = days.select("month", F.col("day").alias("d1"), F.col("rev").alias("r1"))
    b = days.select("month", F.col("day").alias("d2"), F.col("rev").alias("r2"))
    pairs = (
        a.join(b, "month")
        .filter(F.col("d1") < F.col("d2"))
        .select(
            "month",
            (F.col("r2") - F.col("r1")).alias("num"),
            F.datediff("d2", "d1").alias("den"),
            (
                (F.col("r2") - F.col("r1")).cast("double") / F.datediff("d2", "d1")
            ).alias("sl"),
        )
    )
    w = Window.partitionBy("month").orderBy("sl", "num", "den")
    wn = Window.partitionBy("month")
    mid = (
        pairs.withColumn("rk", F.row_number().over(w))
        .withColumn("n", F.count(F.lit(1)).over(wn))
        .filter(
            (F.col("rk") == F.expr("(n + 1) DIV 2"))
            | (F.col("rk") == F.expr("(n + 2) DIV 2"))
        )
    )
    return (
        mid.groupBy(F.col("month").cast("string").alias("month"))
        .agg(
            F.max("n").cast("long").alias("n_pairs"),
            F.round(F.sum("sl") / F.count(F.lit(1)), 6).alias(
                "ts_slope_cents_per_day"
            ),
        )
        .orderBy("month")
    )


# ---------------------------------------------------------------------------
# Grid-bucketed radius self join (spatial equi-bucketing vs cross join)
# ---------------------------------------------------------------------------

_RADIUS_KM = 200.0
_CELL_LAT = 1.81  # > R/111km, so same-or-neighbor lat cells cover R
_CELL_LON = 3.62  # > R/(111km * cos(60 deg)) within the |lat|<=60 band

_RADIUS_ORACLE = f"""
WITH pts AS (
    SELECT c_custkey,
           (CAST(c_custkey % 180 AS DOUBLE) - 90) * 0.9 AS lat,
           (CAST(c_custkey % 360 AS DOUBLE) - 180) * 0.9 AS lon
    FROM customer WHERE c_custkey < 1200
), band AS (SELECT * FROM pts WHERE abs(lat) <= 60)
SELECT a.c_custkey AS c1, b.c_custkey AS c2,
       ROUND(2 * 6371.0 * asin(sqrt(
           pow(sin(radians(b.lat - a.lat) / 2), 2)
           + cos(radians(a.lat)) * cos(radians(b.lat))
             * pow(sin(radians(b.lon - a.lon) / 2), 2))), 3) AS km
FROM band a JOIN band b ON a.c_custkey < b.c_custkey
WHERE ROUND(2 * 6371.0 * asin(sqrt(
           pow(sin(radians(b.lat - a.lat) / 2), 2)
           + cos(radians(a.lat)) * cos(radians(b.lat))
             * pow(sin(radians(b.lon - a.lon) / 2), 2))), 3) <= {_RADIUS_KM}
ORDER BY c1, c2
"""


@_register("geo_radius_pairs_bucketed", _RADIUS_ORACLE)
def geo_radius_pairs_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """All point pairs within a 200 km great-circle radius via grid-cell
    bucketing: each point lands in a (lat, lon) cell sized so any
    qualifying pair is in the same or an adjacent cell; one side
    explodes to its 3x3 neighborhood, the join is a plain equi join on
    the cell key, and only surviving candidates pay the exact
    haversine — the spatial-join pattern that replaces the quadratic
    cross join (which the oracle, on purpose, runs to prove the
    bucketed candidate set loses nothing).

    The superset guarantee needs bounded latitude (cells are sized for
    cos >= 0.5), so points are restricted to the |lat| <= 60 band.
    Distances round to 3 dp (meter precision) before the threshold and
    emission, the same libm-divergence guard as ``geo_haversine_topk``.
    Scale: cell occupancy is bounded by geometry, so the bucketed join
    fans out per cell, never corpus x corpus.
    """
    t = load_tables(spark, sf_dir, register_views=False)
    pts = (
        t["customer"]
        .filter(F.col("c_custkey") < 1200)
        .select(
            "c_custkey",
            ((F.col("c_custkey") % 180).cast("double") - 90) .alias("lat0"),
            ((F.col("c_custkey") % 360).cast("double") - 180).alias("lon0"),
        )
        .select(
            "c_custkey",
            (F.col("lat0") * 0.9).alias("lat"),
            (F.col("lon0") * 0.9).alias("lon"),
        )
        .filter(F.abs(F.col("lat")) <= 60)
        .withColumn("cla", F.floor(F.col("lat") / _CELL_LAT).cast("long"))
        .withColumn("clo", F.floor(F.col("lon") / _CELL_LON).cast("long"))
    )
    offsets = spark.range(-1, 2).select(F.col("id").alias("dla")).crossJoin(
        spark.range(-1, 2).select(F.col("id").alias("dlo"))
    )
    a = (
        pts.crossJoin(bcast_bounded(offsets, "3x3 neighbor offsets: 9 rows"))
        .select(
            F.col("c_custkey").alias("c1"),
            F.col("lat").alias("lat1"),
            F.col("lon").alias("lon1"),
            (F.col("cla") + F.col("dla")).alias("cla"),
            (F.col("clo") + F.col("dlo")).alias("clo"),
        )
    )
    b = pts.select(
        F.col("c_custkey").alias("c2"),
        F.col("lat").alias("lat2"),
        F.col("lon").alias("lon2"),
        "cla",
        "clo",
    )
    lat1r, lat2r = F.radians("lat1"), F.radians("lat2")
    hav = (
        F.pow(F.sin(F.radians(F.col("lat2") - F.col("lat1")) / 2), F.lit(2))
        + F.cos(lat1r)
        * F.cos(lat2r)
        * F.pow(F.sin(F.radians(F.col("lon2") - F.col("lon1")) / 2), F.lit(2))
    )
    km = F.round(2 * 6371.0 * F.asin(F.sqrt(hav)), 3)
    return (
        a.join(b, ["cla", "clo"])
        .filter(F.col("c1") < F.col("c2"))
        .select("c1", "c2", km.alias("km"))
        .filter(F.col("km") <= _RADIUS_KM)
        .distinct()
        .orderBy("c1", "c2")
    )


# ---------------------------------------------------------------------------
# Mergeable sketch set algebra (HLL inclusion-exclusion intersection)
# ---------------------------------------------------------------------------

_SKETCH_SETOPS_ORACLE = """
WITH du AS (SELECT DISTINCT event_type, user_id FROM events),
pairs(ta, tb) AS (VALUES ('click', 'signup'), ('view', 'purchase')),
cnt AS (SELECT event_type, COUNT(*) AS nd FROM du GROUP BY event_type),
overlap_c AS (
    SELECT p.ta, p.tb, COUNT(*) AS exact_both
    FROM pairs p
    JOIN du a ON a.event_type = p.ta
    JOIN du b ON b.event_type = p.tb AND b.user_id = a.user_id
    GROUP BY p.ta, p.tb
)
SELECT p.ta, p.tb,
       CAST(ca.nd AS BIGINT) AS exact_a,
       CAST(cb.nd AS BIGINT) AS exact_b,
       CAST(bo.exact_both AS BIGINT) AS exact_both,
       TRUE AS est_ok
FROM pairs p
JOIN cnt ca ON ca.event_type = p.ta
JOIN cnt cb ON cb.event_type = p.tb
JOIN overlap_c bo ON bo.ta = p.ta AND bo.tb = p.tb
ORDER BY p.ta
"""


@_register("agg_sketch_set_intersection", _SKETCH_SETOPS_ORACLE)
def agg_sketch_set_intersection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Set algebra over MERGEABLE distinct sketches: |A ∩ B| estimated
    by inclusion-exclusion over HLL sketches (est_A + est_B − est_A∪B)
    for audience-overlap questions (users who both viewed and
    purchased) — the reaggregable companion to
    ``agg_hll_mergeable_rollup``: materialized per-segment sketches
    answer arbitrary overlap questions without rescanning raw events,
    which exact COUNT DISTINCT cannot.

    Driver-facing columns are engine-portable (exact counts + a
    within-tolerance flag); the sketch estimate itself stays out of
    the hash, and inclusion-exclusion compounds the per-sketch rsd so
    the tolerance is widened accordingly. Scale: one sketch per event
    type (map-side combined), pair algebra over |types|^2 tiny rows.
    """
    t = load_tables(spark, sf_dir, register_views=False)
    ev = t["events"].select("event_type", "user_id")
    per_type = ev.groupBy("event_type").agg(
        F.hll_sketch_agg("user_id").alias("sk"),
        F.count_distinct("user_id").alias("nd"),
    )
    pairs = spark.createDataFrame(
        [("click", "signup"), ("view", "purchase")], ["ta", "tb"]
    )
    pa = per_type.select(
        F.col("event_type").alias("ta"),
        F.col("sk").alias("sk_a"),
        F.col("nd").alias("exact_a"),
    )
    pb = per_type.select(
        F.col("event_type").alias("tb"),
        F.col("sk").alias("sk_b"),
        F.col("nd").alias("exact_b"),
    )
    du = ev.distinct()
    x = du.select(F.col("event_type").alias("ta"), "user_id")
    y = du.select(F.col("event_type").alias("tb"), "user_id")
    both = (
        x.join(y, "user_id")
        .groupBy("ta", "tb")
        .agg(F.count(F.lit(1)).alias("exact_both"))
    )
    est_int = (
        F.hll_sketch_estimate("sk_a")
        + F.hll_sketch_estimate("sk_b")
        - F.hll_sketch_estimate(F.hll_union("sk_a", "sk_b"))
    )
    exact_union = F.col("exact_a") + F.col("exact_b") - F.col("exact_both")
    tol = F.lit(0.08) * exact_union + F.lit(2.0)
    return (
        pairs.join(bcast_bounded(pa, "per event_type: type-domain-bounded"), "ta")
        .join(bcast_bounded(pb, "per event_type: type-domain-bounded"), "tb")
        .join(bcast_bounded(both, "event_type pairs: type-domain-bounded"), ["ta", "tb"])
        .select(
            "ta",
            "tb",
            F.col("exact_a").cast("long"),
            F.col("exact_b").cast("long"),
            F.col("exact_both").cast("long"),
            (F.abs(est_int - F.col("exact_both")) <= tol).alias("est_ok"),
        )
        .orderBy("ta")
    )


# ---------------------------------------------------------------------------
# Git-style branch / three-way merge over warehouse snapshots
# ---------------------------------------------------------------------------

_BRANCH_MERGE_ORACLE = """
WITH base AS (
    SELECT c_custkey AS k,
           CAST(ROUND(c_acctbal * 100) AS BIGINT) AS cents0,
           c_mktsegment AS seg0
    FROM customer WHERE c_custkey < 300
), merged AS (
    SELECT k,
           CASE WHEN k % 3 = 0 THEN cents0 + 10000       -- A wins conflicts
                WHEN k % 7 = 0 THEN cents0 - 5000
                ELSE cents0 END AS cents,
           CASE WHEN k % 5 = 0 THEN 'PROMO' ELSE seg0 END AS seg,
           CASE WHEN k % 3 = 0 AND k % 7 = 0 THEN 1 ELSE 0 END AS conflict
    FROM base
)
SELECT seg AS segment,
       CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(SUM(cents) AS BIGINT) AS sum_cents,
       CAST(SUM(conflict) AS BIGINT) AS n_conflicts
FROM merged GROUP BY seg ORDER BY segment
"""


@_register("warehouse_branch_merge", _BRANCH_MERGE_ORACLE)
@on_scratch_dir
def warehouse_branch_merge(spark: SparkSession, sf_dir: str, root: str) -> DataFrame:
    """Git-style table branching: snapshot a base table, let two
    branches diverge (branch A adjusts balances on keys % 3, branch B
    discounts balances on keys % 7 and relabels segments on keys % 5),
    then FIELD-LEVEL three-way merge both branches back against the
    common ancestor — a value is taken from whichever branch changed
    it, same-field double-changes are conflicts resolved ours-first
    (branch A) and counted. The ancestor comes from a real
    ``SparkWarehouse.snapshot`` version, and the merged rows land
    through the keyed ``update`` verb (R3), so the lakehouse surface
    (time travel + upsert) is exercised, not simulated.

    Scale: the three-way diff is one equi join of three branch scans
    on the table key (each branch is a same-key projection here; in
    production, branch deltas), and the conflict rule is pure column
    logic — no driver loop over rows. The bounded base (300 rows) is
    the driver-gated-verb-exercise convention, cf.
    ``warehouse_merge_cdc``.
    """
    from load_datawarehouse_spark.warehouse import SparkWarehouse

    t = load_tables(spark, sf_dir, register_views=False)
    base_df = (
        t["customer"]
        .filter(F.col("c_custkey") < 300)
        .select(
            F.col("c_custkey").alias("k"),
            F.round(F.col("c_acctbal") * 100).cast("long").alias("cents"),
            F.col("c_mktsegment").alias("seg"),
        )
    )
    wh = SparkWarehouse.new(
        spark, root, "accounts", data=[r.asDict() for r in base_df.collect()]
    )
    v0 = wh.snapshot()  # the common ancestor version
    anc = wh.df_at(v0).select(
        "k", F.col("cents").alias("cents0"), F.col("seg").alias("seg0")
    )
    br_a = anc.select(
        "k",
        F.when(F.col("k") % 3 == 0, F.col("cents0") + 10000)
        .otherwise(F.col("cents0"))
        .alias("cents_a"),
        F.col("seg0").alias("seg_a"),
    )
    br_b = anc.select(
        "k",
        F.when(F.col("k") % 7 == 0, F.col("cents0") - 5000)
        .otherwise(F.col("cents0"))
        .alias("cents_b"),
        F.when(F.col("k") % 5 == 0, F.lit("PROMO"))
        .otherwise(F.col("seg0"))
        .alias("seg_b"),
    )
    a_chg = F.col("cents_a") != F.col("cents0")
    b_chg = F.col("cents_b") != F.col("cents0")
    merged = (
        anc.join(br_a, "k")
        .join(br_b, "k")
        .select(
            "k",
            F.when(a_chg, F.col("cents_a"))
            .when(b_chg, F.col("cents_b"))
            .otherwise(F.col("cents0"))
            .alias("cents"),
            F.when(F.col("seg_b") != F.col("seg0"), F.col("seg_b"))
            .otherwise(F.col("seg0"))
            .alias("seg"),
            F.when(a_chg & b_chg, 1).otherwise(0).alias("conflict"),
        )
    )
    wh.update(merged.select("k", "cents", "seg"), keys=["k"])
    conflicts = merged.select("k", "conflict")
    return (
        wh.df()
        .join(conflicts, "k")
        .groupBy(F.col("seg").alias("segment"))
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum("cents").cast("long").alias("sum_cents"),
            F.sum("conflict").cast("long").alias("n_conflicts"),
        )
        .orderBy("segment")
    )


# ---------------------------------------------------------------------------
# Mann-Whitney U (rank-sum test from a value-level histogram, no row sort)
# ---------------------------------------------------------------------------

_MWU_ORACLE = """
WITH days AS (
    SELECT CAST(o_orderdate AS DATE) AS day,
           SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS cents
    FROM orders GROUP BY 1
), tagged AS (
    SELECT cents, CAST(isodow(day) >= 6 AS INT) AS is_we FROM days
), lv AS (
    SELECT cents, COUNT(*) AS cnt, SUM(is_we) AS cnt_we
    FROM tagged GROUP BY cents
), c AS (
    SELECT *,
           COALESCE(SUM(cnt) OVER (ORDER BY cents
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum_before
    FROM lv
), sums AS (
    SELECT SUM(cnt_we * (2 * cum_before + cnt + 1)) AS r2_we,
           SUM(cnt_we) AS n1, SUM(cnt - cnt_we) AS n2
    FROM c
)
SELECT CAST(n1 AS BIGINT) AS n_weekend,
       CAST(n2 AS BIGINT) AS n_weekday,
       CAST(r2_we - n1 * (n1 + 1) AS BIGINT) AS u2,
       ROUND((CAST(r2_we - n1 * (n1 + 1) AS DOUBLE) / 2 - n1 * n2 / 2.0)
             / SQRT(n1 * n2 * (n1 + n2 + 1) / 12.0), 6) AS z_score
FROM sums
"""


@_register("stat_mannwhitney_u", _MWU_ORACLE)
def stat_mannwhitney_u(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mann-Whitney U rank-sum test: do weekend days draw from the same
    daily-revenue distribution as weekdays? — the nonparametric
    two-sample test (no normality assumption, unlike
    ``stat_anova_weekday_revenue``).

    Tie-averaged ranks come from a VALUE-LEVEL histogram (per distinct
    cents value: count, weekend count, cumulative-before), the same
    sort-free decomposition as ``stat_spearman_qty_price``: the doubled
    rank sum 2R = sum over values of cnt_we * (2*cum_before + cnt + 1)
    is exact integer arithmetic, so U2 = 2U is integer-exact and only
    the final z normalization rounds (6 dp). Scale: the only data-sized
    shuffle is the day collapse; the histogram cumsum runs over the
    bounded distinct-value series.
    """
    t = load_tables(spark, sf_dir, register_views=False)
    days = (
        t["orders"]
        .groupBy(F.col("o_orderdate").cast("date").alias("day"))
        .agg(F.sum(F.round(F.col("o_totalprice") * 100).cast("long")).alias("cents"))
    )
    tagged = days.select(
        "cents",
        (F.dayofweek(F.col("day")).isin(1, 7)).cast("int").alias("is_we"),
    )
    lv = tagged.groupBy("cents").agg(
        F.count(F.lit(1)).alias("cnt"), F.sum("is_we").alias("cnt_we")
    )
    wc = Window.orderBy("cents").rowsBetween(Window.unboundedPreceding, -1)
    c = lv.withColumn("cum_before", F.coalesce(F.sum("cnt").over(wc), F.lit(0)))
    sums = c.agg(
        F.sum(F.col("cnt_we") * (2 * F.col("cum_before") + F.col("cnt") + 1)).alias(
            "r2_we"
        ),
        F.sum("cnt_we").alias("n1"),
        F.sum(F.col("cnt") - F.col("cnt_we")).alias("n2"),
    )
    u2 = F.col("r2_we") - F.col("n1") * (F.col("n1") + 1)
    return sums.select(
        F.col("n1").cast("long").alias("n_weekend"),
        F.col("n2").cast("long").alias("n_weekday"),
        u2.cast("long").alias("u2"),
        F.round(
            (u2.cast("double") / 2 - F.col("n1") * F.col("n2") / 2.0)
            / F.sqrt(F.col("n1") * F.col("n2") * (F.col("n1") + F.col("n2") + 1) / 12.0),
            6,
        ).alias("z_score"),
    )


# ---------------------------------------------------------------------------
# Constraint-gated load with quarantine (reject-and-audit ETL pattern)
# ---------------------------------------------------------------------------

_QUARANTINE_ORACLE = """
WITH corrupted AS (
    SELECT event_id,
           CASE WHEN event_id % 89 = 0 THEN '' ELSE event_type END AS event_type,
           CASE WHEN event_id % 97 = 0 THEN -value ELSE value END AS value,
           user_id
    FROM events
), judged AS (
    SELECT *,
           CASE WHEN event_type = '' THEN 'empty_event_type'
                WHEN value < 0 THEN 'negative_value'
                ELSE 'ok' END AS reason
    FROM corrupted
)
SELECT reason,
       CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT) AS cents_sum
FROM judged GROUP BY reason ORDER BY reason
"""


@_register("warehouse_quarantine_load", _QUARANTINE_ORACLE)
@on_scratch_dir
def warehouse_quarantine_load(spark: SparkSession, sf_dir: str, root: str) -> DataFrame:
    """Constraint-gated load: a batch with deterministically injected
    defects (blank event types, negated values) is split by CHECK
    rules into the target table and a quarantine table carrying the
    first violated rule — the reject-and-audit pattern that keeps a
    100-TB load running when 0.1% of rows are bad, instead of failing
    the job or silently ingesting garbage (the enforcement counterpart
    of the read-only ``dq_expectations_report``).

    Both sides land in REAL ``SparkWarehouse`` tables via the load
    verb; the returned accounting (rows + exact cents per reason)
    reconciles: good + quarantined == input, provable from the
    emitted sums. Scale: the rule evaluation is one codegen
    projection; each side is a distributed parquet write — no
    driver-side row inspection.
    """
    from load_datawarehouse_spark.warehouse import SparkWarehouse

    t = load_tables(spark, sf_dir, register_views=False)
    corrupted = t["events"].select(
        "event_id",
        F.when(F.col("event_id") % 89 == 0, F.lit("")).otherwise(
            F.col("event_type")
        ).alias("event_type"),
        F.when(F.col("event_id") % 97 == 0, -F.col("value")).otherwise(
            F.col("value")
        ).alias("value"),
        "user_id",
    )
    judged = corrupted.withColumn(
        "reason",
        F.when(F.col("event_type") == "", "empty_event_type")
        .when(F.col("value") < 0, "negative_value")
        .otherwise("ok"),
    )
    good_wh = SparkWarehouse(spark, root, "events_clean")
    good_wh._write_meta({"schema": None, "expires": None})
    quar_wh = SparkWarehouse(spark, root, "events_quarantine")
    quar_wh._write_meta({"schema": None, "expires": None})
    judged.filter(F.col("reason") == "ok").drop("reason").write.mode(
        "overwrite"
    ).parquet(os.path.join(good_wh.path, "data"))
    judged.filter(F.col("reason") != "ok").write.mode("overwrite").parquet(
        os.path.join(quar_wh.path, "data")
    )
    good = good_wh.df().withColumn("reason", F.lit("ok"))
    quar = quar_wh.df().select(*good.columns)
    return (
        good.unionByName(quar)
        .groupBy("reason")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum(F.round(F.col("value") * 100).cast("long"))
            .cast("long")
            .alias("cents_sum"),
        )
        .orderBy("reason")
    )


# ---------------------------------------------------------------------------
# Subsample bootstrap CI (deterministic hash replicates)
# ---------------------------------------------------------------------------

_BOOT_B = 64
_BOOT_NIB = (
    "(instr('0123456789abcdef', substr(md5(CAST(b AS VARCHAR) || '|' "
    "|| CAST(o_orderkey AS VARCHAR)), 1, 1)) - 1)"
)

_BOOT_CI_ORACLE = f"""
WITH reps AS (SELECT unnest(range({_BOOT_B})) AS b),
draws AS (
    SELECT r.b, CAST(ROUND(o.o_totalprice * 100) AS BIGINT) AS cents
    FROM orders o CROSS JOIN reps r
    WHERE {_BOOT_NIB} % 2 = 0
), means AS (
    SELECT b, CAST(SUM(cents) AS DOUBLE) / COUNT(*) AS m FROM draws GROUP BY b
), ranked AS (
    SELECT m, row_number() OVER (ORDER BY m, b) AS rk FROM means
)
SELECT CAST((SELECT COUNT(*) FROM orders) AS BIGINT) AS n_orders,
       ROUND((SELECT CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS DOUBLE)
              / COUNT(*) FROM orders), 4) AS grand_mean_cents,
       ROUND((SELECT m FROM ranked WHERE rk = 4), 4) AS ci_lo_cents,
       ROUND((SELECT m FROM ranked WHERE rk = {_BOOT_B} - 3), 4) AS ci_hi_cents
"""


@_register("stat_subsample_bootstrap_ci", _BOOT_CI_ORACLE)
def stat_subsample_bootstrap_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Subsample-bootstrap confidence interval for the mean order
    value: 64 deterministic half-samples (row o joins replicate b iff
    an md5 nibble of (b, key) is even), exact-integer means per
    replicate, and the CI endpoints SELECTED by rank from the 64
    replicate means (~5%/95% with a (mean, b) total order) — the
    model-free uncertainty quantification a sampled dashboard needs
    next to its point estimate.

    Everything before the final ROUND is integer or one IEEE division;
    the replicate membership is pure hashing, so any engine, any
    partitioning, any retry produces the same 64 subsamples. Scale:
    the 64x expansion is a flatmap (no shuffle); per-replicate means
    are 64-key map-side-combined aggregates.
    """
    t = load_tables(spark, sf_dir, register_views=False)
    reps = spark.range(_BOOT_B).select(F.col("id").alias("b"))
    nib = (
        F.instr(
            F.lit("0123456789abcdef"),
            F.substring(
                F.md5(
                    F.concat(
                        F.col("b").cast("string"),
                        F.lit("|"),
                        F.col("o_orderkey").cast("string"),
                    )
                ),
                1,
                1,
            ),
        )
        - 1
    )
    draws = (
        t["orders"]
        .select("o_orderkey", F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"))
        .crossJoin(bcast_bounded(reps, "bootstrap replicate ids: fixed B rows"))
        .filter(nib % 2 == 0)
    )
    means = draws.groupBy("b").agg(
        (F.sum("cents").cast("double") / F.count(F.lit(1))).alias("m")
    )
    wr = Window.orderBy("m", "b")
    ranked = means.withColumn("rk", F.row_number().over(wr))
    lo = ranked.filter(F.col("rk") == 4).select(F.round("m", 4).alias("ci_lo_cents"))
    hi = ranked.filter(F.col("rk") == _BOOT_B - 3).select(
        F.round("m", 4).alias("ci_hi_cents")
    )
    grand = t["orders"].agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.round(
            F.sum(F.round(F.col("o_totalprice") * 100).cast("long")).cast("double")
            / F.count(F.lit(1)),
            4,
        ).alias("grand_mean_cents"),
    )
    return grand.crossJoin(lo).crossJoin(hi).select(
        F.col("n_orders").cast("long"),
        "grand_mean_cents",
        "ci_lo_cents",
        "ci_hi_cents",
    )


# ---------------------------------------------------------------------------
# Apriori frequent triples (level-wise support pruning)
# ---------------------------------------------------------------------------

_TRIPLES_MIN_SUPPORT_BPS = 20  # support threshold: 0.2% of orders

#: the MATERIALIZED hints matter: inlined, DuckDB re-derives the
#: multiply-referenced CTEs and falls into a pathological join order
#: (measured 288 s vs 0.5 s at sf0.01)
_BASKET_TRIPLES_ORACLE = f"""
WITH items AS MATERIALIZED (
    SELECT DISTINCT l.l_orderkey AS okey, p.p_brand AS item
    FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
), n AS (SELECT COUNT(DISTINCT okey) AS n_orders FROM items),
freq1 AS (
    SELECT item FROM items GROUP BY item
    HAVING COUNT(*) * 10000 >= {_TRIPLES_MIN_SUPPORT_BPS} * (SELECT n_orders FROM n)
), pruned AS MATERIALIZED (
    SELECT i.okey, i.item FROM items i JOIN freq1 f ON f.item = i.item
), counts AS (
    SELECT a.item AS b1, b.item AS b2, c.item AS b3, COUNT(*) AS support
    FROM pruned a
    JOIN pruned b ON b.okey = a.okey AND b.item > a.item
    JOIN pruned c ON c.okey = a.okey AND c.item > b.item
    GROUP BY 1, 2, 3
)
SELECT b1, b2, b3, CAST(support AS BIGINT) AS support
FROM counts
WHERE support * 10000 >= {_TRIPLES_MIN_SUPPORT_BPS} * (SELECT n_orders FROM n)
ORDER BY b1, b2, b3
"""


@_register("basket_frequent_triples", _BASKET_TRIPLES_ORACLE)
def basket_frequent_triples(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Apriori level-3 frequent itemsets: brand triples co-purchased in
    >= 0.2% of orders, mined with level-wise pruning — items below the
    support floor are dropped BEFORE the triple expansion (downward
    closure: no frequent triple contains an infrequent item), which is
    what keeps the combinatorial join tractable at scale
    (the level-2 companion is ``basket_affinity_lift``).

    Scale: the brand lookup joins bare (part is sf-proportional;
    AQE broadcasts while small); the triple expansion fans out
    per order over its PRUNED distinct items (baskets are small, the
    b1<b2<b3 ordering generates each triple once), and the support
    threshold is corpus-relative so the plan's selectivity is stable
    as the corpus grows.
    """
    t = load_tables(spark, sf_dir, register_views=False)
    items = (
        t["lineitem"]
        .join(t["part"].select("p_partkey", "p_brand"),
              F.col("l_partkey") == F.col("p_partkey"))
        .select(F.col("l_orderkey").alias("okey"), F.col("p_brand").alias("item"))
        .distinct()
    )
    n = items.select(F.count_distinct("okey").alias("n_orders"))
    freq1 = (
        items.crossJoin(bcast_bounded(n, "1-row aggregate"))
        .groupBy("item", "n_orders")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .filter(F.col("cnt") * 10000 >= _TRIPLES_MIN_SUPPORT_BPS * F.col("n_orders"))
        .select("item")
    )
    pruned = items.join(
        bcast_bounded(freq1, "p_brand domain: <= 25 values"), "item"
    ).select("okey", "item")
    a = pruned.select("okey", F.col("item").alias("b1"))
    b = pruned.select("okey", F.col("item").alias("b2"))
    c = pruned.select("okey", F.col("item").alias("b3"))
    return (
        a.join(b, "okey")
        .filter(F.col("b2") > F.col("b1"))
        .join(c, "okey")
        .filter(F.col("b3") > F.col("b2"))
        .groupBy("b1", "b2", "b3")
        .agg(F.count(F.lit(1)).alias("support"))
        .crossJoin(bcast_bounded(n, "1-row aggregate"))
        .filter(F.col("support") * 10000 >= _TRIPLES_MIN_SUPPORT_BPS * F.col("n_orders"))
        .select("b1", "b2", "b3", F.col("support").cast("long"))
        .orderBy("b1", "b2", "b3")
    )


# ---------------------------------------------------------------------------
# IP / CIDR scalar family (integer-exact network analytics)
# ---------------------------------------------------------------------------

_IP_CIDR_ORACLE = """
WITH ips AS (
    SELECT event_id,
           (event_id * 2654435761) % 4294967296 AS ip
    FROM events
), octs AS (
    SELECT event_id, ip,
           ip // 16777216 AS o1,
           (ip // 65536) % 256 AS o2,
           (ip // 256) % 256 AS o3,
           ip % 256 AS o4
    FROM ips
), feat AS (
    SELECT o1,
           CAST(o1 AS VARCHAR) || '.' || CAST(o2 AS VARCHAR) || '.' ||
           CAST(o3 AS VARCHAR) || '.' || CAST(o4 AS VARCHAR) AS ip_str,
           CASE WHEN o1 = 10 THEN 1
                WHEN o1 = 172 AND o2 BETWEEN 16 AND 31 THEN 1
                WHEN o1 = 192 AND o2 = 168 THEN 1
                ELSE 0 END AS is_private
    FROM octs
)
SELECT CAST(o1 AS BIGINT) AS octet1,
       CAST(COUNT(*) AS BIGINT) AS n_ips,
       CAST(SUM(is_private) AS BIGINT) AS n_private,
       MIN(ip_str) AS min_ip
FROM feat GROUP BY o1 ORDER BY octet1
"""


@_register("scalar_ip_cidr_family", _IP_CIDR_ORACLE)
def scalar_ip_cidr_family(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IPv4 / CIDR toolkit on pure integer arithmetic: synthesize an
    address per event (Knuth-multiplicative hash mod 2^32), split
    octets by integer div/mod, render dotted-quad strings, and flag
    RFC-1918 private ranges (10/8, 172.16/12, 192.168/16 — CIDR
    containment as octet-prefix predicates) — the network-log
    enrichment family (geo/abuse joins key on exactly these prefixes),
    with a per-/8 rollup as the driver-checkable face.

    No inet type needed on either engine: prefix containment on an
    integer-encoded address is div/mod arithmetic, exact and
    codegen'd. Scale: narrow projection + one bounded (<=256-key)
    aggregation with map-side partials.
    """
    t = load_tables(spark, sf_dir, register_views=False)
    ip = (F.col("event_id") * 2654435761) % F.lit(4294967296)
    octs = t["events"].select(
        (ip / 16777216).cast("long").alias("o1"),
        ((ip / 65536).cast("long") % 256).alias("o2"),
        ((ip / 256).cast("long") % 256).alias("o3"),
        (ip % 256).alias("o4"),
    )
    feat = octs.select(
        "o1",
        F.concat_ws(
            ".",
            F.col("o1").cast("string"),
            F.col("o2").cast("string"),
            F.col("o3").cast("string"),
            F.col("o4").cast("string"),
        ).alias("ip_str"),
        F.when(F.col("o1") == 10, 1)
        .when((F.col("o1") == 172) & F.col("o2").between(16, 31), 1)
        .when((F.col("o1") == 192) & (F.col("o2") == 168), 1)
        .otherwise(0)
        .alias("is_private"),
    )
    return (
        feat.groupBy(F.col("o1").cast("long").alias("octet1"))
        .agg(
            F.count(F.lit(1)).alias("n_ips"),
            F.sum("is_private").cast("long").alias("n_private"),
            F.min("ip_str").alias("min_ip"),
        )
        .orderBy("octet1")
    )


# ---------------------------------------------------------------------------
# JSON payload schema-drift monitor (batch-over-batch key census)
# ---------------------------------------------------------------------------

_DRIFT_ORACLE = """
WITH aug AS (
    -- two writer generations, synthesized deterministically: the odd
    -- batch gains 'v2' on ids % 5, the even batch still emits the
    -- 'legacy' field on ids % 7
    SELECT event_id % 2 AS batch,
           CASE
             WHEN event_id % 2 = 1 AND event_id % 5 = 0 THEN
               '{"k": ' || json_extract(props, '$.k') || ', "v2": 1}'
             WHEN event_id % 2 = 0 AND event_id % 7 = 0 THEN
               '{"k": ' || json_extract(props, '$.k') || ', "legacy": 1}'
             ELSE props
           END AS props
    FROM events
), keys_ AS (
    SELECT batch, unnest(json_keys(props)) AS key_name FROM aug
), census AS (
    SELECT key_name,
           SUM(CASE WHEN batch = 0 THEN 1 ELSE 0 END) AS n_old,
           SUM(CASE WHEN batch = 1 THEN 1 ELSE 0 END) AS n_new
    FROM keys_ GROUP BY key_name
)
SELECT key_name,
       CAST(n_old AS BIGINT) AS n_old,
       CAST(n_new AS BIGINT) AS n_new,
       CASE WHEN n_old = 0 THEN 'added'
            WHEN n_new = 0 THEN 'dropped'
            ELSE 'stable' END AS status
FROM census ORDER BY key_name
"""


@_register("dq_json_schema_drift", _DRIFT_ORACLE)
def dq_json_schema_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema-drift monitor for semi-structured payloads: census the
    JSON keys of two writer generations (batches) and classify each
    field added / dropped / stable — the operational alarm in front of
    the C-surface schema inference (``schema_infer_documents``): drift
    is DETECTED here, then the inference lattice decides promotion.

    The generations are synthesized deterministically (the corpus
    props are uniform by construction, cf. the pii_scrub injection
    convention). Scale: ``json_object_keys`` is a codegen'd projection,
    the census is one bounded (|distinct keys|) aggregation with
    map-side partials — no schema inference pass over values, which is
    exactly why this cheap probe can run on every micro-batch.
    """
    t = load_tables(spark, sf_dir, register_views=False)
    k = F.get_json_object("props", "$.k")
    aug = t["events"].select(
        (F.col("event_id") % 2).alias("batch"),
        F.when(
            (F.col("event_id") % 2 == 1) & (F.col("event_id") % 5 == 0),
            F.concat(F.lit('{"k": '), k, F.lit(', "v2": 1}')),
        )
        .when(
            (F.col("event_id") % 2 == 0) & (F.col("event_id") % 7 == 0),
            F.concat(F.lit('{"k": '), k, F.lit(', "legacy": 1}')),
        )
        .otherwise(F.col("props"))
        .alias("props"),
    )
    keys = aug.select(
        "batch", F.explode(F.json_object_keys("props")).alias("key_name")
    )
    return (
        keys.groupBy("key_name")
        .agg(
            F.sum(F.when(F.col("batch") == 0, 1).otherwise(0))
            .cast("long")
            .alias("n_old"),
            F.sum(F.when(F.col("batch") == 1, 1).otherwise(0))
            .cast("long")
            .alias("n_new"),
        )
        .select(
            "key_name",
            "n_old",
            "n_new",
            F.when(F.col("n_old") == 0, "added")
            .when(F.col("n_new") == 0, "dropped")
            .otherwise("stable")
            .alias("status"),
        )
        .orderBy("key_name")
    )


# ---------------------------------------------------------------------------
# Trailing-interval velocity flags (RANGE frame over event time)
# ---------------------------------------------------------------------------

#: Round-14 re-anchor: the original 60 s window was VACUOUS on this
#: corpus — measured density is ~1 event per user per 38,700 s
#: (10,000 events / 150 users / 30 days at sf0.01), so P(3 in 60 s)
#: was ~0 at EVERY certified scale and the op's green oracle
#: hash-matches only ever proved the empty set. One hour is ~0.093
#: expected events/user, putting >= 3 in the Poisson tail: measured
#: 31 flagged events at sf0.01, 427 at sf0.1. Per-user rate is
#: scale-invariant in this corpus (users grow with sf), so the flag
#: count grows ~linearly and stays populated at every scale.
_VELOCITY_WINDOW_S = 3600
_VELOCITY_K = 3

_VELOCITY_ORACLE = f"""
WITH e AS (
    SELECT user_id, event_id, CAST(FLOOR(epoch(ts)) AS BIGINT) AS sec FROM events
), v AS (
    SELECT user_id, event_id,
           COUNT(*) OVER (PARTITION BY user_id ORDER BY sec
                          RANGE BETWEEN {_VELOCITY_WINDOW_S} PRECEDING
                                    AND CURRENT ROW) AS n_burst
    FROM e
)
SELECT user_id, event_id, CAST(n_burst AS BIGINT) AS n_burst
FROM v WHERE n_burst >= {_VELOCITY_K}
ORDER BY user_id, event_id
"""


@_register("events_velocity_flags", _VELOCITY_ORACLE)
def events_velocity_flags(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Velocity screening: events where the same user fired >= 3 events
    within a trailing one-hour wall-clock window — the rate-limit /
    fraud-velocity primitive, expressed as a RANGE frame over epoch
    seconds (time-valued RANGE frames are the window-surface member
    the ROWS-frame ops can't substitute: the frame width is in TIME,
    not row count). The window width is derived from measured corpus
    density, not convention — see ``_VELOCITY_WINDOW_S``.

    Epoch seconds are integers, the count is exact; ties inside the
    frame are irrelevant to COUNT. Scale: one shuffle partitioning by
    user; per-user ordering cost is bounded by per-user activity.

    Second-decade evidence (round 15, SCALECHECK10): flagged rows
    4,270 -> 42,700 sf1->sf10 (exactly 10x — the Poisson-tail flag
    rate is scale-invariant as claimed), wall 0.34 -> 1.06 s
    (slope 3.15 on sub-second absolutes: job overhead, not data).
    """
    t = load_tables(spark, sf_dir, register_views=False)
    e = t["events"].select(
        "user_id", "event_id", F.col("ts").cast("timestamp").cast("long").alias("sec")
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("sec")
        .rangeBetween(-_VELOCITY_WINDOW_S, 0)
    )
    return (
        e.withColumn("n_burst", F.count(F.lit(1)).over(w).cast("long"))
        .filter(F.col("n_burst") >= _VELOCITY_K)
        .select("user_id", "event_id", "n_burst")
        .orderBy("user_id", "event_id")
    )


# ---------------------------------------------------------------------------
# Bot-likeness composite screen (rate x diversity x cadence rules)
# ---------------------------------------------------------------------------

_BOT_ORACLE = """
WITH per_user AS (
    SELECT user_id,
           COUNT(*) AS n_events,
           COUNT(DISTINCT event_type) AS n_types,
           COUNT(DISTINCT CAST(ts AS DATE)) AS n_days
    FROM events GROUP BY user_id
), gaps AS (
    SELECT user_id,
           CAST(FLOOR(epoch(ts)) AS BIGINT)
           - LAG(CAST(FLOOR(epoch(ts)) AS BIGINT)) OVER (PARTITION BY user_id
                                            ORDER BY ts, event_id) AS gap
    FROM events
), cadence AS (
    SELECT user_id, gap, COUNT(*) AS cnt
    FROM gaps WHERE gap IS NOT NULL GROUP BY user_id, gap
), modal AS (
    SELECT user_id, MAX(cnt) AS modal_cnt, SUM(cnt) AS n_gaps
    FROM cadence GROUP BY user_id
)
SELECT p.user_id,
       CAST(p.n_events AS BIGINT) AS n_events,
       CAST(p.n_types AS BIGINT) AS n_types,
       CAST(ROUND(10000.0 * m.modal_cnt / m.n_gaps) AS BIGINT) AS modal_gap_bps,
       (CAST(p.n_events >= 2 * p.n_days AS INT)
        + CAST(p.n_types <= 3 AS INT)
        + CAST(m.modal_cnt * 5 >= m.n_gaps AS INT) >= 2) AS bot_suspect
FROM per_user p JOIN modal m ON m.user_id = p.user_id
ORDER BY p.user_id
"""


@_register("events_bot_detection", _BOT_ORACLE)
def events_bot_detection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bot-likeness screen: three integer rules — sustained rate
    (events >= 2x active days), low behavioral diversity (<= 3 event
    types), and mechanical cadence (modal inter-arrival gap covering
    >= 20% of gaps) — voted 2-of-3 into a suspect flag, the
    rule-composite shape of production abuse screens (each signal is
    weak; the conjunction is the detector).

    All three signals are exact integer aggregates off ONE user-keyed
    shuffle (the lag pass reuses the same partitioning); the only
    rounding is the reported modal share in bps. Scale: per-user
    cardinalities bound every intermediate; no corpus-wide window.

    Evidence note (round-14 flag census): `bot_suspect` is
    constant-false at every certified scale because the synthetic
    events are uniform over 5 types with continuous timestamps — no
    user ever collects 2 of 3 votes, which is the correct clean-corpus
    answer. The positive branch (3-vote bot, exactly-2-vote bot, and
    the 1-vote human that proves the cadence rule alone cannot flag)
    is fixture-locked by ``tests/test_detector_fixtures.py``.
    """
    t = load_tables(spark, sf_dir, register_views=False)
    ev = t["events"]
    per_user = ev.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.count_distinct("event_type").alias("n_types"),
        F.count_distinct(F.col("ts").cast("date")).alias("n_days"),
    )
    wlag = Window.partitionBy("user_id").orderBy("ts", "event_id")
    sec = F.col("ts").cast("timestamp").cast("long")
    gaps = ev.select(
        "user_id", (sec - F.lag(sec).over(wlag)).alias("gap")
    ).filter(F.col("gap").isNotNull())
    cadence = gaps.groupBy("user_id", "gap").agg(F.count(F.lit(1)).alias("cnt"))
    modal = cadence.groupBy("user_id").agg(
        F.max("cnt").alias("modal_cnt"), F.sum("cnt").alias("n_gaps")
    )
    votes = (
        (F.col("n_events") >= 2 * F.col("n_days")).cast("int")
        + (F.col("n_types") <= 3).cast("int")
        + (F.col("modal_cnt") * 5 >= F.col("n_gaps")).cast("int")
    )
    return (
        per_user.join(modal, "user_id")
        .select(
            "user_id",
            F.col("n_events").cast("long"),
            F.col("n_types").cast("long"),
            F.round(10000.0 * F.col("modal_cnt") / F.col("n_gaps"))
            .cast("long")
            .alias("modal_gap_bps"),
            (votes >= 2).alias("bot_suspect"),
        )
        .orderBy("user_id")
    )


# ---------------------------------------------------------------------------
# Two-proportion A/B test (hash-assigned arms, pooled z)
# ---------------------------------------------------------------------------

_AB_ORACLE = """
WITH assign AS (
    SELECT user_id,
           CASE WHEN (instr('0123456789abcdef',
                      substr(md5('ab|' || CAST(user_id AS VARCHAR)), 1, 1)) - 1) % 2 = 0
                THEN 'A' ELSE 'B' END AS arm,
           CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) >= 14
                AS INT) AS converted
    FROM events GROUP BY user_id
), arms AS (
    SELECT arm, COUNT(*) AS n, SUM(converted) AS conv FROM assign GROUP BY arm
), wide AS (
    SELECT MAX(CASE WHEN arm = 'A' THEN n END) AS n_a,
           MAX(CASE WHEN arm = 'A' THEN conv END) AS conv_a,
           MAX(CASE WHEN arm = 'B' THEN n END) AS n_b,
           MAX(CASE WHEN arm = 'B' THEN conv END) AS conv_b
    FROM arms
)
SELECT CAST(n_a AS BIGINT) AS n_a, CAST(conv_a AS BIGINT) AS conv_a,
       CAST(n_b AS BIGINT) AS n_b, CAST(conv_b AS BIGINT) AS conv_b,
       CAST(ROUND(10000.0 * conv_a / n_a) AS BIGINT) AS rate_a_bps,
       CAST(ROUND(10000.0 * conv_b / n_b) AS BIGINT) AS rate_b_bps,
       CASE WHEN conv_a + conv_b = 0 OR conv_a + conv_b = n_a + n_b THEN NULL
            ELSE ROUND((1.0 * conv_a / n_a - 1.0 * conv_b / n_b)
             / SQRT((1.0 * (conv_a + conv_b) / (n_a + n_b))
                    * (1 - 1.0 * (conv_a + conv_b) / (n_a + n_b))
                    * (1.0 / n_a + 1.0 / n_b)), 6) END AS z_score
FROM wide
"""


@_register("stats_ab_test_proportions", _AB_ORACLE)
def stats_ab_test_proportions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-proportion A/B test: users hash deterministically into arms
    (the md5 assignment every experimentation platform uses — stable
    under re-runs, no assignment table), per-user conversion is a
    >=14-purchases gate (degenerate all/none conversion yields a NULL
    z, guarded identically on both engines), and the pooled z statistic compares arm conversion
    rates — the experiment-readout primitive.

    Counts are exact integers off one user-keyed aggregation; the z
    normalization is the only float section, written in the identical
    association on both engines and rounded at emission. Scale:
    per-user collapse is map-side-combinable; arms are a 2-row
    summary.
    """
    t = load_tables(spark, sf_dir, register_views=False)
    nib = (
        F.instr(
            F.lit("0123456789abcdef"),
            F.substring(F.md5(F.concat(F.lit("ab|"), F.col("user_id").cast("string"))), 1, 1),
        )
        - 1
    )
    assign = (
        t["events"]
        .groupBy("user_id")
        .agg(
            (
                F.sum(F.when(F.col("event_type") == "purchase", 1).otherwise(0)) >= 14
            )
            .cast("int")
            .alias("converted")
        )
        .select(
            F.when(nib % 2 == 0, "A").otherwise("B").alias("arm"), "converted"
        )
    )
    arms = assign.groupBy("arm").agg(
        F.count(F.lit(1)).alias("n"), F.sum("converted").alias("conv")
    )
    wide = arms.agg(
        F.max(F.when(F.col("arm") == "A", F.col("n"))).alias("n_a"),
        F.max(F.when(F.col("arm") == "A", F.col("conv"))).alias("conv_a"),
        F.max(F.when(F.col("arm") == "B", F.col("n"))).alias("n_b"),
        F.max(F.when(F.col("arm") == "B", F.col("conv"))).alias("conv_b"),
    )
    p_a = 1.0 * F.col("conv_a") / F.col("n_a")
    p_b = 1.0 * F.col("conv_b") / F.col("n_b")
    p = 1.0 * (F.col("conv_a") + F.col("conv_b")) / (F.col("n_a") + F.col("n_b"))
    return wide.select(
        F.col("n_a").cast("long"),
        F.col("conv_a").cast("long"),
        F.col("n_b").cast("long"),
        F.col("conv_b").cast("long"),
        F.round(10000.0 * F.col("conv_a") / F.col("n_a")).cast("long").alias("rate_a_bps"),
        F.round(10000.0 * F.col("conv_b") / F.col("n_b")).cast("long").alias("rate_b_bps"),
        F.when(
            (F.col("conv_a") + F.col("conv_b") == 0)
            | (F.col("conv_a") + F.col("conv_b") == F.col("n_a") + F.col("n_b")),
            F.lit(None).cast("double"),
        )
        .otherwise(
            F.round(
                (p_a - p_b)
                / F.sqrt(p * (1 - p) * (1.0 / F.col("n_a") + 1.0 / F.col("n_b"))),
                6,
            )
        )
        .alias("z_score"),
    )


# ---------------------------------------------------------------------------
# Zero-copy table clone (hard-link shallow copy, divergent evolution)
# ---------------------------------------------------------------------------

_CLONE_ORACLE = """
WITH base AS (
    SELECT c_custkey AS k, CAST(ROUND(c_acctbal * 100) AS BIGINT) AS cents
    FROM customer WHERE c_custkey < 400
), appended AS (
    SELECT k + 100000 AS k, cents + 1 AS cents FROM base WHERE k < 50
)
SELECT 'base' AS table_name,
       CAST((SELECT COUNT(*) FROM base) AS BIGINT) AS n_rows,
       CAST((SELECT SUM(cents) FROM base) AS BIGINT) AS cents_sum
UNION ALL
SELECT 'clone' AS table_name,
       CAST((SELECT COUNT(*) FROM base) + (SELECT COUNT(*) FROM appended)
            AS BIGINT) AS n_rows,
       CAST((SELECT SUM(cents) FROM base) + (SELECT SUM(cents) FROM appended)
            AS BIGINT) AS cents_sum
ORDER BY table_name
"""


@_register("warehouse_clone_zero_copy", _CLONE_ORACLE)
@on_scratch_dir
def warehouse_clone_zero_copy(spark: SparkSession, sf_dir: str, root: str) -> DataFrame:
    """Zero-copy CLONE (Delta's SHALLOW CLONE shape): the clone's data
    directory hard-links the base's immutable parquet files —
    O(files) metadata, zero bytes copied — then evolves independently
    (an append lands only in the clone). The emitted accounting
    PROVES divergence-without-interference: the base's rows and
    exact-cents checksum are unchanged after the clone took writes.

    Scale: clone cost is independent of table bytes (the same
    argument as ``snapshot``); on object stores the link step becomes
    a manifest copy. Appends to either side are ordinary distributed
    writes — new files never collide with linked ones (uuid part
    names).
    """
    from load_datawarehouse_spark.warehouse import SparkWarehouse

    t = load_tables(spark, sf_dir, register_views=False)
    base_df = (
        t["customer"]
        .filter(F.col("c_custkey") < 400)
        .select(
            F.col("c_custkey").alias("k"),
            F.round(F.col("c_acctbal") * 100).cast("long").alias("cents"),
        )
    )
    base = SparkWarehouse(spark, root, "accounts")
    base._write_meta({"schema": None, "expires": None})
    base_data = os.path.join(base.path, "data")
    base_df.write.mode("overwrite").parquet(base_data)

    clone = SparkWarehouse(spark, root, "accounts_clone")
    clone._write_meta({"schema": None, "expires": None})
    clone_data = os.path.join(clone.path, "data")
    os.makedirs(clone_data)
    for name in os.listdir(base_data):
        src = os.path.join(base_data, name)
        if os.path.isfile(src):
            os.link(src, os.path.join(clone_data, name))

    appended = base_df.filter(F.col("k") < 50).select(
        (F.col("k") + 100000).alias("k"), (F.col("cents") + 1).alias("cents")
    )
    appended.write.mode("append").parquet(clone_data)

    def acct(wh, name):
        return wh.df().agg(
            F.lit(name).alias("table_name"),
            F.count(F.lit(1)).alias("n_rows"),
            F.sum("cents").cast("long").alias("cents_sum"),
        )

    return acct(base, "base").unionByName(acct(clone, "clone")).orderBy(
        "table_name"
    )


# ---------------------------------------------------------------------------
# Atomic multi-table publish (pointer-swap transaction across tables)
# ---------------------------------------------------------------------------

_TWO_TABLE_ORACLE = """
WITH s1 AS (
    SELECT o_orderpriority AS key_col,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS cents
    FROM orders GROUP BY o_orderpriority
), s2 AS (
    SELECT c_mktsegment AS key_col,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CAST(ROUND(c_acctbal * 100) AS BIGINT)) AS BIGINT) AS cents
    FROM customer GROUP BY c_mktsegment
)
SELECT 'orders_summary' AS table_name, key_col, n, cents FROM s1
UNION ALL
SELECT 'customer_summary' AS table_name, key_col, n, cents FROM s2
ORDER BY table_name, key_col
"""


@_register("warehouse_two_table_atomic_publish", _TWO_TABLE_ORACLE)
@on_scratch_dir
def warehouse_two_table_atomic_publish(
    spark: SparkSession, sf_dir: str, root: str
) -> DataFrame:
    """Cross-table transaction: two summary tables are written under a
    staging version directory and published with ONE atomic pointer
    rename — readers resolve the pointer first, so they see both
    tables at the old version or both at the new, never a mix (the
    manifest-pointer commit protocol lakehouse catalogs use for
    multi-table transactions). A deliberately FAILED second publish
    (one table errors mid-write) is shown to leave the pointer — and
    both reader-visible tables — at the committed version.

    Scale: the commit is one rename regardless of data volume; table
    writes inside the version dir are ordinary distributed writes.
    """
    t = load_tables(spark, sf_dir, register_views=False)
    s1 = (
        t["orders"]
        .groupBy(F.col("o_orderpriority").alias("key_col"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.round(F.col("o_totalprice") * 100).cast("long"))
            .cast("long")
            .alias("cents"),
        )
    )
    s2 = (
        t["customer"]
        .groupBy(F.col("c_mktsegment").alias("key_col"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.round(F.col("c_acctbal") * 100).cast("long"))
            .cast("long")
            .alias("cents"),
        )
    )

    def publish(version: int, tables: dict, fail_after_first: bool = False):
        staging = os.path.join(root, f"_staging_v{version}")
        for i, (name, df) in enumerate(tables.items()):
            if fail_after_first and i == 1:
                raise RuntimeError("simulated writer crash mid-transaction")
            df.write.mode("overwrite").parquet(os.path.join(staging, name))
        final = os.path.join(root, f"v{version}")
        os.rename(staging, final)  # the atomic commit point
        tmp_ptr = os.path.join(root, ".ptr_tmp")
        with open(tmp_ptr, "w") as f:
            f.write(str(version))
        os.replace(tmp_ptr, os.path.join(root, "CURRENT"))

    publish(1, {"orders_summary": s1, "customer_summary": s2})
    try:  # failed txn: must not move the pointer
        publish(2, {"orders_summary": s1.limit(1), "customer_summary": s2},
                fail_after_first=True)
    except RuntimeError:
        pass
    with open(os.path.join(root, "CURRENT")) as f:
        current = int(f.read())
    assert current == 1, "failed transaction moved the pointer"
    vdir = os.path.join(root, f"v{current}")
    frames = []
    for name in ("orders_summary", "customer_summary"):
        frames.append(
            spark.read.parquet(os.path.join(vdir, name)).select(
                F.lit(name).alias("table_name"), "key_col", "n", "cents"
            )
        )
    return frames[0].unionByName(frames[1]).orderBy("table_name", "key_col")


# ---------------------------------------------------------------------------
# 1-D Wasserstein distance between period distributions (exact integral)
# ---------------------------------------------------------------------------

_W1_ORACLE = """
WITH tagged AS (
    SELECT CAST(ROUND(o_totalprice * 100) AS BIGINT) AS cents,
           CAST(o_orderdate AS DATE) >= (SELECT CAST(date_trunc('day', MIN(o_orderdate)
                + (MAX(o_orderdate) - MIN(o_orderdate)) / 2) AS DATE) FROM orders)
               AS late
    FROM orders
), lv AS (
    SELECT cents,
           SUM(CASE WHEN late THEN 0 ELSE 1 END) AS ca,
           SUM(CASE WHEN late THEN 1 ELSE 0 END) AS cb
    FROM tagged GROUP BY cents
), n AS (
    SELECT SUM(ca) AS na, SUM(cb) AS nb FROM lv
), steps AS (
    SELECT cents,
           SUM(ca) OVER w AS cuma,
           SUM(cb) OVER w AS cumb,
           LEAD(cents) OVER (ORDER BY cents) - cents AS gap
    FROM lv WINDOW w AS (ORDER BY cents ROWS UNBOUNDED PRECEDING)
)
SELECT CAST(n.na AS BIGINT) AS n_early, CAST(n.nb AS BIGINT) AS n_late,
       ROUND(CAST(SUM(CAST(ABS(s.cuma * n.nb - s.cumb * n.na) AS DECIMAL(38,0))
                      * s.gap) AS DOUBLE) / (n.na * n.nb) / 100, 4)
           AS w1_dollars
FROM steps s CROSS JOIN n
WHERE s.gap IS NOT NULL
GROUP BY n.na, n.nb
"""


@_register("stat_wasserstein_1d", _W1_ORACLE)
def stat_wasserstein_1d(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact 1-D Wasserstein (earth mover's) distance between the
    early-half and late-half order-value distributions — the
    distribution-shift metric that, unlike KS (``stat_ks_two_sample``),
    weights HOW FAR mass moved, the right alarm for drift monitoring.

    W1 = integral |F_A - F_B| dx computed exactly on the integer-cents
    level histogram: per level, |cumA*nB - cumB*nA| x gap accumulates
    in DECIMAL(38,0) (the cross-multiplied common denominator avoids
    any division until the single final normalization). Scale: one
    level-histogram shuffle; the cumsum window runs over the bounded
    distinct-value series, same discipline as the KS/Spearman ops.
    """
    t = load_tables(spark, sf_dir, register_views=False)
    bounds = t["orders"].agg(
        F.min("o_orderdate").alias("lo"), F.max("o_orderdate").alias("hi")
    )
    mid = bounds.select(
        F.date_trunc(
            "day",
            (
                F.col("lo").cast("timestamp").cast("long")
                + (
                    F.col("hi").cast("timestamp").cast("long")
                    - F.col("lo").cast("timestamp").cast("long")
                )
                / 2
            ).cast("timestamp"),
        )
        .cast("date")
        .alias("mid")
    )
    tagged = t["orders"].crossJoin(bcast_bounded(mid, "1-row aggregate")).select(
        F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
        (F.col("o_orderdate").cast("date") >= F.col("mid")).alias("late"),
    )
    lv = tagged.groupBy("cents").agg(
        F.sum(F.when(F.col("late"), 0).otherwise(1)).alias("ca"),
        F.sum(F.when(F.col("late"), 1).otherwise(0)).alias("cb"),
    )
    n = lv.agg(F.sum("ca").alias("na"), F.sum("cb").alias("nb"))
    wcum = Window.orderBy("cents").rowsBetween(Window.unboundedPreceding, 0)
    steps = lv.select(
        "cents",
        F.sum("ca").over(wcum).alias("cuma"),
        F.sum("cb").over(wcum).alias("cumb"),
        (F.lead("cents").over(Window.orderBy("cents")) - F.col("cents")).alias("gap"),
    ).filter(F.col("gap").isNotNull())
    term = (
        F.abs(F.col("cuma") * F.col("nb") - F.col("cumb") * F.col("na")).cast(
            "decimal(38,0)"
        )
        * F.col("gap")
    )
    return (
        steps.crossJoin(bcast_bounded(n, "1-row aggregate"))
        .groupBy("na", "nb")
        .agg(
            F.round(
                F.sum(term).cast("double") / (F.col("na") * F.col("nb")) / 100, 4
            ).alias("w1_dollars")
        )
        .select(
            F.col("na").cast("long").alias("n_early"),
            F.col("nb").cast("long").alias("n_late"),
            "w1_dollars",
        )
    )


# ---------------------------------------------------------------------------
# Difference-in-differences estimator (hash arms x pre/post periods)
# ---------------------------------------------------------------------------

_DID_ORACLE = """
WITH mid AS (
    SELECT CAST(date_trunc('day', MIN(ts) + (MAX(ts) - MIN(ts)) / 2) AS DATE) AS m
    FROM events
), cells AS (
    SELECT CASE WHEN (instr('0123456789abcdef',
                    substr(md5('ab|' || CAST(user_id AS VARCHAR)), 1, 1)) - 1) % 2 = 0
                THEN 'T' ELSE 'C' END AS arm,
           CASE WHEN CAST(ts AS DATE) >= (SELECT m FROM mid) THEN 'post'
                ELSE 'pre' END AS period,
           CAST(ROUND(value * 100) AS BIGINT) AS cents
    FROM events
), agg AS (
    SELECT arm, period, COUNT(*) AS n, SUM(cents) AS cents FROM cells
    GROUP BY arm, period
), wide AS (
    SELECT MAX(CASE WHEN arm = 'T' AND period = 'pre' THEN 1.0 * cents / n END) AS t_pre,
           MAX(CASE WHEN arm = 'T' AND period = 'post' THEN 1.0 * cents / n END) AS t_post,
           MAX(CASE WHEN arm = 'C' AND period = 'pre' THEN 1.0 * cents / n END) AS c_pre,
           MAX(CASE WHEN arm = 'C' AND period = 'post' THEN 1.0 * cents / n END) AS c_post,
           CAST(SUM(n) AS BIGINT) AS n_events
    FROM agg
)
SELECT n_events,
       ROUND(t_pre, 4) AS t_pre, ROUND(t_post, 4) AS t_post,
       ROUND(c_pre, 4) AS c_pre, ROUND(c_post, 4) AS c_post,
       ROUND((t_post - t_pre) - (c_post - c_pre), 4) AS did_cents
FROM wide
"""


@_register("stats_diff_in_diff", _DID_ORACLE)
def stats_diff_in_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Difference-in-differences readout: hash-assigned treatment/
    control arms (same assignment as ``stats_ab_test_proportions``)
    crossed with pre/post periods split at the corpus midpoint; the
    DiD estimator (ΔT − ΔC) nets out both the arm's level difference
    and the common time trend — the quasi-experimental workhorse when
    a raw pre/post delta would be confounded.

    The 2x2 cell means come from exact integer cents over one
    map-side-combinable aggregation; each mean is one IEEE division
    and rounding happens only at emission. Scale: a 4-row summary off
    a single scan; the midpoint is a 1-row broadcast.
    """
    t = load_tables(spark, sf_dir, register_views=False)
    sec = F.col("ts").cast("timestamp").cast("long")
    mid = t["events"].agg(
        F.date_trunc(
            "day",
            (
                (F.min(sec) + (F.max(sec) - F.min(sec)) / 2)
            ).cast("timestamp"),
        )
        .cast("date")
        .alias("m")
    )
    nib = (
        F.instr(
            F.lit("0123456789abcdef"),
            F.substring(
                F.md5(F.concat(F.lit("ab|"), F.col("user_id").cast("string"))), 1, 1
            ),
        )
        - 1
    )
    cells = t["events"].crossJoin(bcast_bounded(mid, "1-row aggregate")).select(
        F.when(nib % 2 == 0, "T").otherwise("C").alias("arm"),
        F.when(F.col("ts").cast("date") >= F.col("m"), "post")
        .otherwise("pre")
        .alias("period"),
        F.round(F.col("value") * 100).cast("long").alias("cents"),
    )
    agg = cells.groupBy("arm", "period").agg(
        F.count(F.lit(1)).alias("n"), F.sum("cents").alias("cents")
    )
    mean = lambda a, p: F.max(
        F.when(
            (F.col("arm") == a) & (F.col("period") == p),
            1.0 * F.col("cents") / F.col("n"),
        )
    )
    wide = agg.agg(
        mean("T", "pre").alias("t_pre"),
        mean("T", "post").alias("t_post"),
        mean("C", "pre").alias("c_pre"),
        mean("C", "post").alias("c_post"),
        F.sum("n").cast("long").alias("n_events"),
    )
    return wide.select(
        "n_events",
        F.round("t_pre", 4).alias("t_pre"),
        F.round("t_post", 4).alias("t_post"),
        F.round("c_pre", 4).alias("c_pre"),
        F.round("c_post", 4).alias("c_post"),
        F.round(
            (F.col("t_post") - F.col("t_pre")) - (F.col("c_post") - F.col("c_pre")), 4
        ).alias("did_cents"),
    )


# ---------------------------------------------------------------------------
# 2-D banded pair join (price x time proximity via compound bucketing)
# ---------------------------------------------------------------------------

#: Price band: within $5. Anchored to the measured pair census
#: (VERDICT r15 #1): at the old $1 band sf0.01's 15k orders produce
#: ZERO cross-customer pairs (the driver's only correctness scale saw
#: an empty-set agreement for rounds), while $5 yields 5 pairs at
#: sf0.01 and moves the sf1 census only +0.8% (6.76M -> 6.81M pairs) —
#: same selectivity regime at scale, non-vacuous at driver scale.
_BAND_CENTS = 500
_BAND_DAYS = 3      # time band: within 3 days

#: The oracle mirrors the Spark side's grid-cell bucketing rather than
#: the raw theta-join: the band conjunction has no equi key, so DuckDB
#: planned it as a quadratic nested loop that blew the sf1
#: verification budget. Bucketing is an exact rewrite (superset cells,
#: then the same exact band predicates + DISTINCT), so the semantics
#: are untouched while the oracle becomes a hash equi join.
_PRICE_TIME_PAIRS_ORACLE = f"""
WITH o AS (
    SELECT o_orderkey AS k, o_custkey AS cust,
           CAST(ROUND(o_totalprice * 100) AS BIGINT) AS cents,
           CAST(o_orderdate AS DATE) AS d
    FROM orders
), g AS (
    SELECT *, cents // {_BAND_CENTS} AS pc,
           date_diff('day', DATE '1990-01-01', d) // {_BAND_DAYS} AS tc
    FROM o
), offs(dp, dt) AS (
    VALUES (-1,-1),(-1,0),(-1,1),(0,-1),(0,0),(0,1),(1,-1),(1,0),(1,1)
), a AS (
    SELECT k, cust, cents, d, pc + dp AS pc, tc + dt AS tc
    FROM g CROSS JOIN offs
), pairs AS (
    SELECT DISTINCT a.k AS k1, b.k AS k2, a.d AS d1
    FROM a JOIN g b ON a.pc = b.pc AND a.tc = b.tc
    WHERE a.k < b.k AND a.cust <> b.cust
      AND ABS(a.cents - b.cents) <= {_BAND_CENTS}
      AND ABS(date_diff('day', a.d, b.d)) <= {_BAND_DAYS}
)
SELECT CAST(d1 AS VARCHAR) AS day,
       CAST(COUNT(*) AS BIGINT) AS n_pairs
FROM pairs GROUP BY d1 ORDER BY day
"""


def _band_grid(t) -> DataFrame:
    """Orders keyed into the (price-band, time-band) grid — the ONE
    derivation shared by ``orders_price_time_band_pairs`` and its
    pair bound ``_bound_band_grid_pairs`` so the recorded
    ``slope_per_pair_slot`` can never measure a different bucketing
    than the op pays."""
    return t["orders"].select(
        F.col("o_orderkey").alias("k"),
        F.col("o_custkey").alias("cust"),
        F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
        F.col("o_orderdate").cast("date").alias("d"),
    ).withColumn("pc", F.expr(f"cents DIV {_BAND_CENTS}")).withColumn(
        "tc", F.expr(f"datediff(d, DATE '1990-01-01') DIV {_BAND_DAYS}")
    )


def _band_offsets(spark: SparkSession) -> DataFrame:
    """The 3x3 neighbor-offset frame both band-grid consumers explode
    against (constant 9 rows)."""
    return spark.range(-1, 2).select(F.col("id").alias("dp")).crossJoin(
        spark.range(-1, 2).select(F.col("id").alias("dt"))
    )


@_register("orders_price_time_band_pairs", _PRICE_TIME_PAIRS_ORACLE)
def orders_price_time_band_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """2-D banded pair join: cross-customer order pairs within $5 AND
    3 days of each other (collusion/ring screening: coordinated
    near-identical transactions) — the TWO-dimensional generalization
    of the 1-D ``join_range_bucketed``: a raw conjunction of band
    predicates has no equi key at all and plans as a quadratic BNL
    join.

    Bucketing restores the equi join: each order lands in a
    (price-band, time-band) grid cell, one side explodes to its 3x3
    neighbor cells, the join keys on the compound cell id, and
    survivors pay the exact band checks — same superset argument as
    the spatial ``geo_radius_pairs_bucketed``, on business columns.
    Output is the daily pair census (the alarm series). Scale: cell
    occupancy bounds the fanout; the grid join never goes order x
    order.
    """
    t = load_tables(spark, sf_dir, register_views=False)
    o = _band_grid(t)
    offs = _band_offsets(spark)
    a = o.crossJoin(bcast_bounded(offs, "3x3 neighbor offsets: 9 rows")).select(
        F.col("k").alias("k1"),
        F.col("cust").alias("c1"),
        F.col("cents").alias("v1"),
        F.col("d").alias("d1"),
        (F.col("pc") + F.col("dp")).alias("pc"),
        (F.col("tc") + F.col("dt")).alias("tc"),
    )
    b = o.select(
        F.col("k").alias("k2"),
        F.col("cust").alias("c2"),
        F.col("cents").alias("v2"),
        F.col("d").alias("d2"),
        "pc",
        "tc",
    )
    pairs = (
        a.join(b, ["pc", "tc"])
        .filter(
            (F.col("k1") < F.col("k2"))
            & (F.col("c1") != F.col("c2"))
            & (F.abs(F.col("v1") - F.col("v2")) <= _BAND_CENTS)
            & (F.abs(F.datediff("d1", "d2")) <= _BAND_DAYS)
        )
        .select("k1", "k2", "d1")
        .distinct()
    )
    return (
        pairs.groupBy(F.col("d1").cast("string").alias("day"))
        .agg(F.count(F.lit(1)).alias("n_pairs"))
        .orderBy("day")
    )


def _bound_band_grid_pairs(spark: SparkSession, sf_dir: str) -> int:
    """Exact number of joined row slots ``orders_price_time_band_pairs``'s
    grid join emits — sum over 3x3 neighbor offsets of
    sum_cells h(pc+dp, tc+dt) * h(pc, tc) — computed LINEARLY from the
    cell histogram (one groupBy + a 9-exploded histogram self-join;
    never order x order). Registered in ``CANDIDATE_PAIR_BOUNDS``, so
    the scale sweeps record it as ``pair_slots``: the scale corpus
    grows its calendar span with sf, so cell occupancy stays flat
    (1.5M -> 15.2M slots across sf1 -> sf10), as in a real growing
    corpus. Shares ``_band_grid`` / ``_band_offsets`` with the op
    itself so the counted workload cannot drift from the paid one."""
    t = load_tables(spark, sf_dir, register_views=False)
    cells = _band_grid(t).groupBy("pc", "tc").agg(F.count(F.lit(1)).alias("n"))
    offs = _band_offsets(spark)
    a = cells.crossJoin(bcast_bounded(offs, "3x3 neighbor offsets: 9 rows")).select(
        (F.col("pc") + F.col("dp")).alias("pc"),
        (F.col("tc") + F.col("dt")).alias("tc"),
        F.col("n").alias("n_a"),
    )
    row = (
        a.join(cells, ["pc", "tc"])
        .agg(F.sum(F.col("n_a").cast("double") * F.col("n")).alias("p"))
        .collect()[0]
    )
    return int(row["p"] or 0)


# ---------------------------------------------------------------------------
# SPC control chart (baseline-period limits, Western Electric rule 1)
# ---------------------------------------------------------------------------

_SPC_ORACLE = """
WITH days AS (
    SELECT CAST(o_orderdate AS DATE) AS day,
           SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS cents
    FROM orders GROUP BY 1
), horizon AS (
    SELECT MIN(day) AS lo, MAX(day) AS hi,
           MIN(day) + TO_DAYS(CAST((MAX(day) - MIN(day)) // 2 AS INTEGER)) AS mid
    FROM days
), base AS (
    SELECT COUNT(*) AS n,
           SUM(cents) AS s1,
           SUM(CAST(cents AS DECIMAL(38,0)) * cents) AS s2
    FROM days CROSS JOIN horizon WHERE day < mid
), lim AS (
    SELECT CAST(ROUND(1.0 * s1 / n) AS BIGINT) AS center,
           CAST(ROUND(3 * SQRT(CAST(s2 AS DOUBLE) / n
                               - CAST(1.0 * s1 / n AS DOUBLE) ** 2)) AS BIGINT)
               AS band
    FROM base
)
SELECT CAST(d.day AS VARCHAR) AS day, CAST(d.cents AS BIGINT) AS cents,
       l.center, l.center - l.band AS lcl, l.center + l.band AS ucl,
       d.cents < l.center - l.band OR d.cents > l.center + l.band
           AS out_of_control
FROM days d CROSS JOIN horizon h CROSS JOIN lim l
WHERE d.day >= h.mid
ORDER BY day
"""


@_register("orders_spc_control_chart", _SPC_ORACLE)
def orders_spc_control_chart(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Statistical-process-control chart: ±3σ control limits fitted on
    the FIRST half of the daily-revenue series (the baseline) and
    applied to the second half — the Shewhart X-chart, monitoring's
    oldest anomaly detector, with the train/apply split that keeps
    the alarm from learning its own anomalies (unlike the rolling
    ``window_rolling_zscore``).

    The limits are computed from exact integer power sums and ROUNDED
    TO INTEGER CENTS before any comparison, so the out-of-control
    flag is an integer comparison that cannot flutter across engines.
    Scale: the day collapse is the only data-sized shuffle; limits
    are a 1-row broadcast over the monitored slice.
    """
    t = load_tables(spark, sf_dir, register_views=False)
    days = (
        t["orders"]
        .groupBy(F.col("o_orderdate").cast("date").alias("day"))
        .agg(F.sum(F.round(F.col("o_totalprice") * 100).cast("long")).alias("cents"))
    )
    horizon = days.agg(
        F.min("day").alias("lo"),
        F.max("day").alias("hi"),
        F.date_trunc(
            "day",
            (
                F.min(F.col("day").cast("timestamp").cast("long"))
                + (
                    F.max(F.col("day").cast("timestamp").cast("long"))
                    - F.min(F.col("day").cast("timestamp").cast("long"))
                )
                / 2
            ).cast("timestamp"),
        )
        .cast("date")
        .alias("mid"),
    )
    base = (
        days.crossJoin(bcast_bounded(horizon, "1-row aggregate"))
        .filter(F.col("day") < F.col("mid"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("cents").alias("s1"),
            F.sum(F.col("cents").cast("decimal(38,0)") * F.col("cents")).alias("s2"),
        )
    )
    lim = base.select(
        F.round(1.0 * F.col("s1") / F.col("n")).cast("long").alias("center"),
        F.round(
            3
            * F.sqrt(
                F.col("s2").cast("double") / F.col("n")
                - F.pow(1.0 * F.col("s1") / F.col("n"), 2)
            )
        )
        .cast("long")
        .alias("band"),
    )
    return (
        days.crossJoin(bcast_bounded(horizon, "1-row aggregate"))
        .filter(F.col("day") >= F.col("mid"))
        .crossJoin(bcast_bounded(lim, "1-row aggregate"))
        .select(
            F.col("day").cast("string").alias("day"),
            "cents",
            "center",
            (F.col("center") - F.col("band")).alias("lcl"),
            (F.col("center") + F.col("band")).alias("ucl"),
            (
                (F.col("cents") < F.col("center") - F.col("band"))
                | (F.col("cents") > F.col("center") + F.col("band"))
            ).alias("out_of_control"),
        )
        .orderBy("day")
    )


# ---------------------------------------------------------------------------
# Partition-pruned upsert (rewrite only the partitions the delta touches)
# ---------------------------------------------------------------------------

_PART_UPSERT_ORACLE = """
WITH base AS (
    SELECT CAST(CAST(date_trunc('month', CAST(o_orderdate AS DATE)) AS DATE)
                AS VARCHAR) AS month,
           o_orderkey AS k,
           CAST(ROUND(o_totalprice * 100) AS BIGINT) AS cents
    FROM orders
), months AS (
    SELECT month, row_number() OVER (ORDER BY month) AS rn FROM
    (SELECT DISTINCT month FROM base)
), target AS (SELECT month FROM months WHERE rn <= 2),
merged AS (
    SELECT b.month, b.k,
           CASE WHEN t.month IS NOT NULL AND b.k % 10 = 3
                THEN b.cents + 777 ELSE b.cents END AS cents
    FROM base b LEFT JOIN target t ON t.month = b.month
    UNION ALL
    SELECT t.month, 90000000 + CAST(ROW_NUMBER() OVER (ORDER BY t.month) AS BIGINT),
           12345
    FROM target t
)
SELECT m.month,
       CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(SUM(m.cents) AS BIGINT) AS cents_sum,
       MAX(CASE WHEN t.month IS NOT NULL THEN TRUE ELSE FALSE END) AS rewritten,
       TRUE AS untouched_intact
FROM merged m LEFT JOIN target t ON t.month = m.month
GROUP BY m.month ORDER BY m.month
"""


@_register("warehouse_partitioned_upsert", _PART_UPSERT_ORACLE)
@on_scratch_dir
def warehouse_partitioned_upsert(
    spark: SparkSession, sf_dir: str, root: str
) -> DataFrame:
    """Partition-pruned upsert: the table lives hive-partitioned by
    month, the delta touches exactly two months (updates on keys % 10
    = 3 plus one insert per month), and the merge REWRITES ONLY THOSE
    TWO PARTITION DIRECTORIES — every other month's files are proven
    byte-identical (path+size+mtime listing captured before and
    after). This is the at-scale strategy ``SparkWarehouse.update``'s
    docstring promises ("partition the table by the key prefix so the
    rewrite touches only affected partitions"), realized: rewrite cost
    scales with the DELTA's partition span, not the table.

    Scale: affected-partition discovery is a distinct on the delta's
    partition column (bounded); each partition rewrite is an
    anti-join + union + atomic directory swap of one partition's
    worth of data. The oracle reconstructs the expected final state
    and the rewritten/intact accounting.
    """
    import shutil

    t = load_tables(spark, sf_dir, register_views=False)
    base = t["orders"].select(
        F.date_trunc("month", F.col("o_orderdate").cast("date"))
        .cast("date")
        .cast("string")
        .alias("month"),
        F.col("o_orderkey").alias("k"),
        F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
    )
    data = os.path.join(root, "data")
    base.write.partitionBy("month").parquet(data)

    months = sorted(
        r["month"] for r in base.select("month").distinct().collect()
    )
    target = months[:2]
    upd = (
        base.filter(F.col("month").isin(target) & (F.col("k") % 10 == 3))
        .select("month", "k", (F.col("cents") + 777).alias("cents"))
    )
    ins = spark.createDataFrame(
        [(m, 90000000 + i + 1, 12345) for i, m in enumerate(target)],
        "month string, k long, cents long",
    )
    delta = upd.unionByName(ins)

    def listing(months_):
        out = {}
        for m in months_:
            d = os.path.join(data, f"month={m}")
            out[m] = sorted(
                (f, os.path.getsize(os.path.join(d, f)),
                 os.path.getmtime(os.path.join(d, f)))
                for f in os.listdir(d)
                if not f.startswith(("_", "."))
            )
        return out

    untouched = [m for m in months if m not in target]
    before = listing(untouched)

    # the pruned rewrite: per affected partition only
    for m in target:
        part_dir = os.path.join(data, f"month={m}")
        existing = spark.read.parquet(part_dir).withColumn("month", F.lit(m))
        d_m = delta.filter(F.col("month") == m)
        merged = existing.join(
            d_m.select("k"), "k", "left_anti"
        ).unionByName(d_m).select("k", "cents")
        staging = os.path.join(root, f".stage_{m}")
        merged.write.parquet(staging)
        old = os.path.join(root, f".old_{m}")
        os.rename(part_dir, old)
        os.rename(staging, part_dir)
        shutil.rmtree(old)

    intact = listing(untouched) == before
    final = spark.read.parquet(data)  # partition column re-inferred
    return (
        final.groupBy(F.col("month").cast("string").alias("month"))
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum("cents").cast("long").alias("cents_sum"),
        )
        .select(
            "month",
            "n_rows",
            "cents_sum",
            F.col("month").isin(target).alias("rewritten"),
            F.lit(bool(intact)).alias("untouched_intact"),
        )
        .orderBy("month")
    )


# ---------------------------------------------------------------------------
# One-pass correlation matrix (all pairwise Pearson from shared sums)
# ---------------------------------------------------------------------------

_CORR_MEASURES = ("q", "p", "d", "t")  # quantity, price, discount, tax

def _corr_matrix_oracle() -> str:
    exprs = {"q": "l_quantity", "p": "l_extendedprice",
             "d": "l_discount", "t": "l_tax"}
    sums = ["COUNT(*) AS n"]
    for m, e in exprs.items():
        sums.append(f"CAST(SUM(CAST({e} AS DECIMAL(38,6))) AS DOUBLE) AS s_{m}")
    for i, a in enumerate(_CORR_MEASURES):
        for b_ in _CORR_MEASURES[i:]:
            sums.append(
                f"CAST(SUM(CAST({exprs[a]} * {exprs[b_]} AS DECIMAL(38,6))) "
                f"AS DOUBLE) AS s_{a}{b_}"
            )
    selects = []
    for i, a in enumerate(_CORR_MEASURES):
        for b_ in _CORR_MEASURES[i + 1:]:
            corr = (
                f"ROUND((n * s_{a}{b_} - s_{a} * s_{b_}) / "
                f"SQRT((n * s_{a}{a} - s_{a} * s_{a}) * "
                f"(n * s_{b_}{b_} - s_{b_} * s_{b_})), 6)"
            )
            selects.append(
                f"SELECT '{a}' AS m1, '{b_}' AS m2, {corr} AS pearson FROM w"
            )
    body = "\nUNION ALL\n".join(selects)
    return f"""
WITH w AS (SELECT {', '.join(sums)} FROM lineitem)
{body}
ORDER BY m1, m2
"""


@_register("agg_corr_matrix_single_pass", _corr_matrix_oracle())
def agg_corr_matrix_single_pass(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full pairwise Pearson correlation matrix over four lineitem
    measures from ONE scan: every sum, square and cross product
    accumulates in the same exact-decimal aggregation, and all six
    correlations derive from that single 15-column row — the
    feature-screening pass an ML pipeline runs before model fitting,
    at 1/6th the scans of repeated ``stat_corr_cov`` calls.

    Per-row products are single IEEE multiplies, decimal accumulation
    is partitioning-invariant, and each correlation is a fixed
    float expression over the shared sums (rounded 6 dp). Scale: one
    map-side-combinable aggregation; the matrix assembly is a 6-row
    unpivot of a 1-row result.
    """
    t = load_tables(spark, sf_dir, register_views=False)
    exprs = {"q": F.col("l_quantity"), "p": F.col("l_extendedprice"),
             "d": F.col("l_discount"), "t": F.col("l_tax")}
    dec = "decimal(38,6)"
    aggs = [F.count(F.lit(1)).alias("n")]
    for m, e in exprs.items():
        aggs.append(F.sum(e.cast(dec)).cast("double").alias(f"s_{m}"))
    names = list(_CORR_MEASURES)
    for i, a in enumerate(names):
        for b_ in names[i:]:
            aggs.append(
                F.sum((exprs[a] * exprs[b_]).cast(dec)).cast("double").alias(f"s_{a}{b_}")
            )
    w = t["lineitem"].agg(*aggs)
    parts = []
    for i, a in enumerate(names):
        for b_ in names[i + 1:]:
            corr = F.round(
                (F.col("n") * F.col(f"s_{a}{b_}") - F.col(f"s_{a}") * F.col(f"s_{b_}"))
                / F.sqrt(
                    (F.col("n") * F.col(f"s_{a}{a}") - F.col(f"s_{a}") * F.col(f"s_{a}"))
                    * (F.col("n") * F.col(f"s_{b_}{b_}") - F.col(f"s_{b_}") * F.col(f"s_{b_}"))
                ),
                6,
            )
            parts.append(
                w.select(F.lit(a).alias("m1"), F.lit(b_).alias("m2"), corr.alias("pearson"))
            )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out.orderBy("m1", "m2")


# ---------------------------------------------------------------------------
# Label-propagation communities (3 synchronous rounds, deterministic)
# ---------------------------------------------------------------------------

_LPA_SUPPORT = 8   # co-order edge support floor -> sparse graph
_LPA_ROUNDS = 3


def _lpa_oracle() -> str:
    head = f"""
WITH li AS (SELECT DISTINCT l_orderkey, l_suppkey FROM lineitem),
edges AS MATERIALIZED (
    SELECT a.l_suppkey AS s1, b.l_suppkey AS s2
    FROM li a JOIN li b ON b.l_orderkey = a.l_orderkey
                       AND b.l_suppkey > a.l_suppkey
    GROUP BY a.l_suppkey, b.l_suppkey
    HAVING COUNT(*) >= {_LPA_SUPPORT}
), und AS MATERIALIZED (
    SELECT s1 AS node, s2 AS nbr FROM edges
    UNION ALL SELECT s2, s1 FROM edges
), l0 AS (SELECT DISTINCT node, node AS lbl FROM und)"""
    rounds = []
    prev = "l0"
    for r in range(1, _LPA_ROUNDS + 1):
        rounds.append(f"""c{r} AS (
    SELECT u.node, p.lbl, COUNT(*) AS cnt
    FROM und u JOIN {prev} p ON p.node = u.nbr
    GROUP BY u.node, p.lbl
), l{r} AS (
    SELECT node, lbl FROM (
        SELECT node, lbl,
               row_number() OVER (PARTITION BY node
                                  ORDER BY cnt DESC, lbl) AS rk
        FROM c{r}
    ) WHERE rk = 1
)""")
        prev = f"l{r}"
    body = head + ",\n" + ",\n".join(rounds)
    return f"""{body}
SELECT lbl AS community,
       CAST(COUNT(*) AS BIGINT) AS n_nodes,
       CAST(MIN(node) AS BIGINT) AS min_node
FROM {prev} GROUP BY lbl ORDER BY community
"""


@_register("graph_label_propagation", _lpa_oracle())
def graph_label_propagation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Community detection by synchronous label propagation on the
    support-pruned supplier co-order graph (edges need >= 8 shared
    orders, which keeps the near-complete raw graph sparse enough to
    HAVE communities): every node adopts its neighbors' most frequent
    label each round, ties to the smallest label, three unrolled
    rounds — the third graph-analytics family member next to PageRank
    (centrality) and connected components (reachability).

    Synchronous updates + deterministic tie-breaks make the
    trajectory engine- and partitioning-independent, so the oracle
    unrolls the identical three rounds in SQL. Scale: per round one
    equi join of the undirected edge list against the label table and
    one (node, label) count — the canonical Pregel-in-DataFrames
    shape; the support floor bounds the join fanout.
    """
    t = load_tables(spark, sf_dir, register_views=False)
    li = t["lineitem"].select("l_orderkey", "l_suppkey").distinct()
    a = li.select("l_orderkey", F.col("l_suppkey").alias("s1"))
    b = li.select(F.col("l_orderkey").alias("ok2"), F.col("l_suppkey").alias("s2"))
    edges = (
        a.join(b, (F.col("l_orderkey") == F.col("ok2")) & (F.col("s2") > F.col("s1")))
        .groupBy("s1", "s2")
        .agg(F.count(F.lit(1)).alias("sup"))
        .filter(F.col("sup") >= _LPA_SUPPORT)
        .select("s1", "s2")
        .transform(lineage_cut)
    )
    und = edges.select(F.col("s1").alias("node"), F.col("s2").alias("nbr")).unionAll(
        edges.select(F.col("s2").alias("node"), F.col("s1").alias("nbr"))
    )
    labels = und.select("node").distinct().select(
        "node", F.col("node").alias("lbl")
    )
    wpick = Window.partitionBy("node").orderBy(F.desc("cnt"), F.asc("lbl"))
    for _ in range(_LPA_ROUNDS):
        cnts = (
            und.join(
                labels.select(F.col("node").alias("nbr"), "lbl"), "nbr"
            )
            .groupBy("node", "lbl")
            .agg(F.count(F.lit(1)).alias("cnt"))
        )
        labels = (
            cnts.withColumn("rk", F.row_number().over(wpick))
            .filter(F.col("rk") == 1)
            .select("node", "lbl")
        )
    return (
        labels.groupBy(F.col("lbl").alias("community"))
        .agg(
            F.count(F.lit(1)).alias("n_nodes"),
            F.min("node").cast("long").alias("min_node"),
        )
        .orderBy("community")
    )


# ---------------------------------------------------------------------------
# Hashed feature vectors (fixed-width ML export, serialized canonically)
# ---------------------------------------------------------------------------

_FHV_DIM = 16

_FHV_ORACLE = f"""
WITH b AS (
    SELECT user_id,
           (instr('0123456789abcdef', substr(md5(event_type), 1, 1)) - 1)
               % {_FHV_DIM} AS bucket
    FROM events
), cells AS (
    SELECT user_id, bucket, COUNT(*) AS c FROM b GROUP BY user_id, bucket
)
SELECT user_id,
       string_agg(CAST(c AS VARCHAR), ',' ORDER BY bucket) AS sparse_vec,
       CAST(SUM(c) AS BIGINT) AS total,
       CAST(COUNT(*) AS BIGINT) AS nnz
FROM cells GROUP BY user_id ORDER BY user_id
"""


@_register("features_user_hash_vector", _FHV_ORACLE)
def features_user_hash_vector(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Feature-hashing export: each user's event-type counts hash into
    a fixed 16-bucket vector (the hashing trick that gives ML feature
    pipelines a SCHEMA-STABLE width no matter how many raw categories
    appear later) — emitted in canonical sparse form (bucket-ordered
    counts) so the vector itself is hash-comparable across engines,
    plus L1 mass and nnz.

    Pure integer hashing and counting; one (user, bucket) shuffle with
    map-side partials. At 100 TB this is the exporter that feeds
    ``pack_training_sequences``-style consumers without a vocabulary
    coordination step.
    """
    t = load_tables(spark, sf_dir, register_views=False)
    bucket = (
        F.instr(F.lit("0123456789abcdef"), F.substring(F.md5("event_type"), 1, 1)) - 1
    ) % _FHV_DIM
    cells = (
        t["events"]
        .select("user_id", bucket.alias("bucket"))
        .groupBy("user_id", "bucket")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    return (
        cells.groupBy("user_id")
        .agg(
            F.concat_ws(
                ",",
                F.transform(
                    F.array_sort(F.collect_list(F.struct("bucket", "c"))),
                    lambda s: s["c"].cast("string"),
                ),
            ).alias("sparse_vec"),
            F.sum("c").cast("long").alias("total"),
            F.count(F.lit(1)).alias("nnz"),
        )
        .orderBy("user_id")
    )


# ---------------------------------------------------------------------------
# A/B power analysis (minimum detectable effect at alpha=.05, power=.8)
# ---------------------------------------------------------------------------

_MDE_ORACLE = """
WITH assign AS (
    SELECT user_id,
           CASE WHEN (instr('0123456789abcdef',
                      substr(md5('ab|' || CAST(user_id AS VARCHAR)), 1, 1)) - 1) % 2 = 0
                THEN 'A' ELSE 'B' END AS arm,
           CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) >= 14
                AS INT) AS converted
    FROM events GROUP BY user_id
), arms AS (
    SELECT COUNT(*) AS n, SUM(converted) AS conv,
           SUM(CASE WHEN arm = 'A' THEN 1 ELSE 0 END) AS n_a,
           SUM(CASE WHEN arm = 'B' THEN 1 ELSE 0 END) AS n_b
    FROM assign
)
SELECT CAST(n_a AS BIGINT) AS n_a, CAST(n_b AS BIGINT) AS n_b,
       CAST(ROUND(10000.0 * conv / n) AS BIGINT) AS pooled_rate_bps,
       CAST(CEIL(10000 * (1.959964 + 0.841621)
            * SQRT((1.0 * conv / n) * (1 - 1.0 * conv / n)
                   * (1.0 / n_a + 1.0 / n_b))) AS BIGINT) AS mde_bps
FROM arms
"""


@_register("stats_ab_power_mde", _MDE_ORACLE)
def stats_ab_power_mde(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Experiment power analysis: the minimum detectable effect (in
    conversion bps) of the current A/B split at alpha=.05 two-sided
    and 80% power — the question to answer BEFORE reading
    ``stats_ab_test_proportions``: an experiment whose MDE exceeds any
    plausible effect is noise however its z looks.

    MDE = (z_{{a/2}} + z_{{power}}) * sqrt(p(1-p)(1/n_a + 1/n_b)) with
    the two z constants as exact literals; counts are exact integers,
    one sqrt, CEIL'd conservatively to integer bps. Scale: a 1-row
    summary off the per-user collapse.
    """
    t = load_tables(spark, sf_dir, register_views=False)
    nib = (
        F.instr(
            F.lit("0123456789abcdef"),
            F.substring(
                F.md5(F.concat(F.lit("ab|"), F.col("user_id").cast("string"))), 1, 1
            ),
        )
        - 1
    )
    assign = (
        t["events"]
        .groupBy("user_id")
        .agg(
            (
                F.sum(F.when(F.col("event_type") == "purchase", 1).otherwise(0)) >= 14
            )
            .cast("int")
            .alias("converted")
        )
        .select(F.when(nib % 2 == 0, "A").otherwise("B").alias("arm"), "converted")
    )
    arms = assign.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("converted").alias("conv"),
        F.sum(F.when(F.col("arm") == "A", 1).otherwise(0)).alias("n_a"),
        F.sum(F.when(F.col("arm") == "B", 1).otherwise(0)).alias("n_b"),
    )
    p = 1.0 * F.col("conv") / F.col("n")
    return arms.select(
        F.col("n_a").cast("long"),
        F.col("n_b").cast("long"),
        F.round(10000.0 * F.col("conv") / F.col("n")).cast("long").alias(
            "pooled_rate_bps"
        ),
        F.ceil(
            10000
            * (1.959964 + 0.841621)
            * F.sqrt(p * (1 - p) * (1.0 / F.col("n_a") + 1.0 / F.col("n_b")))
        )
        .cast("long")
        .alias("mde_bps"),
    )


# ---------------------------------------------------------------------------
# Association rules (directional confidence/lift over frequent pairs)
# ---------------------------------------------------------------------------

_RULES_MIN_CONF_BPS = 1500  # emit rules with confidence >= 15%

_ASSOC_RULES_ORACLE = f"""
WITH items AS MATERIALIZED (
    SELECT DISTINCT l.l_orderkey AS okey, p.p_brand AS item
    FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
), n AS (SELECT COUNT(DISTINCT okey) AS n_orders FROM items),
single AS MATERIALIZED (
    SELECT item, COUNT(*) AS supp FROM items GROUP BY item
), pair AS MATERIALIZED (
    SELECT a.item AS x, b.item AS y, COUNT(*) AS supp_xy
    FROM items a JOIN items b ON b.okey = a.okey AND b.item <> a.item
    GROUP BY a.item, b.item
)
SELECT p.x AS antecedent, p.y AS consequent,
       CAST(p.supp_xy AS BIGINT) AS supp_xy,
       CAST(ROUND(10000.0 * p.supp_xy / sx.supp) AS BIGINT) AS confidence_bps,
       CAST(ROUND(10000.0 * p.supp_xy * n.n_orders
                  / (sx.supp * sy.supp)) AS BIGINT) AS lift_x10000
FROM pair p
JOIN single sx ON sx.item = p.x
JOIN single sy ON sy.item = p.y
CROSS JOIN n
WHERE p.supp_xy * 10000 >= {_RULES_MIN_CONF_BPS} * sx.supp
ORDER BY antecedent, consequent
"""


@_register("basket_association_rules", _ASSOC_RULES_ORACLE)
def basket_association_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Directional association rules X -> Y over brand baskets:
    confidence (P(Y|X)) and lift (P(XY)/P(X)P(Y)) for every ordered
    pair above the confidence floor — the recommendation-rule emission
    on top of the symmetric ``basket_affinity_lift`` and the level-3
    ``basket_frequent_triples`` (a rule is directional; lift alone
    can't say WHICH item to recommend from which).

    All three statistics derive from exact integer supports; ratios
    round to integer bps/x10000 at emission. Scale: the pair expansion
    fans out per order over its distinct items (bounded baskets); the
    confidence filter is a pushed integer predicate.
    """
    t = load_tables(spark, sf_dir, register_views=False)
    items = (
        t["lineitem"]
        .join(
            t["part"].select("p_partkey", "p_brand"),
            F.col("l_partkey") == F.col("p_partkey"),
        )
        .select(F.col("l_orderkey").alias("okey"), F.col("p_brand").alias("item"))
        .distinct()
        .transform(lineage_cut)
    )
    n = items.select(F.count_distinct("okey").alias("n_orders"))
    single = items.groupBy("item").agg(F.count(F.lit(1)).alias("supp"))
    a = items.select("okey", F.col("item").alias("x"))
    b = items.select("okey", F.col("item").alias("y"))
    pair = (
        a.join(b, "okey")
        .filter(F.col("x") != F.col("y"))
        .groupBy("x", "y")
        .agg(F.count(F.lit(1)).alias("supp_xy"))
    )
    sx = single.select(F.col("item").alias("x"), F.col("supp").alias("supp_x"))
    sy = single.select(F.col("item").alias("y"), F.col("supp").alias("supp_y"))
    return (
        pair.join(bcast_bounded(sx, "p_brand domain: <= 25 values"), "x")
        .join(bcast_bounded(sy, "p_brand domain: <= 25 values"), "y")
        .crossJoin(bcast_bounded(n, "1-row aggregate"))
        .filter(F.col("supp_xy") * 10000 >= _RULES_MIN_CONF_BPS * F.col("supp_x"))
        .select(
            F.col("x").alias("antecedent"),
            F.col("y").alias("consequent"),
            F.col("supp_xy").cast("long"),
            F.round(10000.0 * F.col("supp_xy") / F.col("supp_x"))
            .cast("long")
            .alias("confidence_bps"),
            F.round(
                10000.0 * F.col("supp_xy") * F.col("n_orders")
                / (F.col("supp_x") * F.col("supp_y"))
            )
            .cast("long")
            .alias("lift_x10000"),
        )
        .orderBy("antecedent", "consequent")
    )


# ---------------------------------------------------------------------------
# SPRT sequential experiment monitoring (Wald boundaries, daily ledger)
# ---------------------------------------------------------------------------

#: log-likelihood increments for H1: p=0.55 vs H0: p=0.5, and Wald
#: boundaries for alpha=.05, beta=.2 — exact double literals shared by
#: both engines so every step is the same IEEE multiply-add
_SPRT_LL_CONV = 0.09531017980432493     # ln(p1/p0)
_SPRT_LL_MISS = -0.1053605156578264     # ln((1-p1)/(1-p0))
_SPRT_LOWER = -1.5581446180465497       # ln(beta/(1-alpha))
_SPRT_UPPER = 2.772588722239781         # ln((1-beta)/alpha)

_SPRT_ORACLE = f"""
WITH daily AS (
    SELECT CAST(ts AS DATE) AS day,
           COUNT(*) AS n,
           SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS conv
    FROM events GROUP BY 1
), ledger AS (
    SELECT day, n, conv,
           SUM(conv * {_SPRT_LL_CONV} + (n - conv) * {_SPRT_LL_MISS})
               OVER (ORDER BY day ROWS UNBOUNDED PRECEDING) AS llr
    FROM daily
)
SELECT CAST(day AS VARCHAR) AS day,
       CAST(n AS BIGINT) AS n, CAST(conv AS BIGINT) AS conv,
       ROUND(llr, 6) AS cum_llr,
       CASE WHEN llr >= {_SPRT_UPPER} THEN 'accept_h1'
            WHEN llr <= {_SPRT_LOWER} THEN 'accept_h0'
            ELSE 'continue' END AS decision
FROM ledger ORDER BY day
"""


@_register("stats_sprt_monitoring", _SPRT_ORACLE)
def stats_sprt_monitoring(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wald's sequential probability ratio test as a daily monitoring
    ledger: the cumulative log-likelihood ratio of H1 (purchase rate
    0.55) against H0 (0.5) with the alpha=.05 / beta=.2 decision
    boundaries — the always-valid alternative to peeking at a
    fixed-horizon z test (``stats_ab_test_proportions``) before its
    sample size is reached.

    The four model constants are exact double literals shared
    verbatim by both engines, daily counts are exact integers, and
    the running LLR is one ordered cumsum of identical multiply-adds
    — only the reported LLR rounds (the decision compares the
    UNROUNDED value identically on both sides). Scale: the day
    collapse is the only data-sized shuffle; the ledger window runs
    over the bounded calendar.
    """
    t = load_tables(spark, sf_dir, register_views=False)
    daily = (
        t["events"]
        .groupBy(F.col("ts").cast("date").alias("day"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.when(F.col("event_type") == "purchase", 1).otherwise(0)).alias(
                "conv"
            ),
        )
    )
    w = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, 0)
    llr = F.sum(
        F.col("conv") * _SPRT_LL_CONV + (F.col("n") - F.col("conv")) * _SPRT_LL_MISS
    ).over(w)
    return daily.select(
        F.col("day").cast("string").alias("day"),
        F.col("n").cast("long"),
        F.col("conv").cast("long"),
        F.round(llr, 6).alias("cum_llr"),
        F.when(llr >= _SPRT_UPPER, "accept_h1")
        .when(llr <= _SPRT_LOWER, "accept_h0")
        .otherwise("continue")
        .alias("decision"),
    ).orderBy("day")


# ---------------------------------------------------------------------------
# Empirical-Bayes rate shrinkage (beta-binomial, method-of-moments prior)
# ---------------------------------------------------------------------------

_EB_ORACLE = """
WITH per_cust AS (
    SELECT o.o_custkey AS cust,
           COUNT(*) AS n,
           SUM(CASE WHEN l.l_returnflag = 'R' THEN 1 ELSE 0 END) AS x
    FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey
    GROUP BY o.o_custkey
), mom AS (
    SELECT CAST(SUM(x) AS DOUBLE) / SUM(n) AS mu,
           CAST(SUM(CAST(x AS DECIMAL(38,6)) * x) AS DOUBLE) AS sxx,
           CAST(SUM(CAST(x AS DECIMAL(38,6)) * n) AS DOUBLE) AS sxn,
           CAST(SUM(CAST(n AS DECIMAL(38,6)) * n) AS DOUBLE) AS snn,
           CAST(SUM(n) AS DOUBLE) AS sn, CAST(COUNT(*) AS DOUBLE) AS k
    FROM per_cust
), prior AS (
    -- strength s = mu*(1-mu)/var_hat - 1 with var_hat from the rate
    -- spread; floored at 1 so the prior never vanishes
    SELECT mu,
           GREATEST(mu * (1 - mu)
               / GREATEST((sxx / snn) - mu * mu + 0.000001, 0.000001) - 1,
               1.0) AS s
    FROM mom
)
SELECT p.cust,
       CAST(p.n AS BIGINT) AS n_lines,
       CAST(p.x AS BIGINT) AS n_returned,
       CAST(ROUND(10000.0 * p.x / p.n) AS BIGINT) AS raw_bps,
       CAST(ROUND(10000.0 * (p.x + pr.mu * pr.s) / (p.n + pr.s)) AS BIGINT)
           AS shrunk_bps
FROM per_cust p CROSS JOIN prior pr
WHERE p.cust < 200
ORDER BY p.cust
"""


@_register("stat_empirical_bayes_rates", _EB_ORACLE)
def stat_empirical_bayes_rates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Empirical-Bayes shrinkage of per-customer return rates: a
    beta-binomial prior fitted by method of moments from the WHOLE
    population pulls small-sample customer rates toward the global
    mean (a 1-for-2 customer stops looking like a 50% returner) —
    the ranking-stabilization technique every per-entity rate
    leaderboard needs.

    The moments come from exact decimal power sums; the prior strength
    and each shrunk rate are fixed float expressions over those sums,
    rounded to integer bps at emission. Scale: one customer-keyed
    aggregation; the prior is a 1-row broadcast.
    """
    t = load_tables(spark, sf_dir, register_views=False)
    per_cust = (
        t["lineitem"]
        .join(
            t["orders"].select("o_orderkey", "o_custkey"),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .groupBy(F.col("o_custkey").alias("cust"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.when(F.col("l_returnflag") == "R", 1).otherwise(0)).alias("x"),
        )
    )
    mom = per_cust.agg(
        (F.sum("x").cast("double") / F.sum("n")).alias("mu"),
        F.sum(F.col("x").cast("decimal(38,6)") * F.col("x")).cast("double").alias("sxx"),
        F.sum(F.col("n").cast("decimal(38,6)") * F.col("n")).cast("double").alias("snn"),
    )
    prior = mom.select(
        "mu",
        F.greatest(
            F.col("mu") * (1 - F.col("mu"))
            / F.greatest(
                (F.col("sxx") / F.col("snn")) - F.col("mu") * F.col("mu") + 0.000001,
                F.lit(0.000001),
            )
            - 1,
            F.lit(1.0),
        ).alias("s"),
    )
    return (
        per_cust.filter(F.col("cust") < 200)
        .crossJoin(bcast_bounded(prior, "1-row aggregate"))
        .select(
            "cust",
            F.col("n").cast("long").alias("n_lines"),
            F.col("x").cast("long").alias("n_returned"),
            F.round(10000.0 * F.col("x") / F.col("n")).cast("long").alias("raw_bps"),
            F.round(
                10000.0 * (F.col("x") + F.col("mu") * F.col("s"))
                / (F.col("n") + F.col("s"))
            )
            .cast("long")
            .alias("shrunk_bps"),
        )
        .orderBy("cust")
    )


# ---------------------------------------------------------------------------
# Experimentation readout capstone (one metric ledger from shared legs)
# ---------------------------------------------------------------------------

_EXP_READOUT_ORACLE = f"""
WITH ab AS ({_AB_ORACLE}),
mde AS ({_MDE_ORACLE}),
did AS ({_DID_ORACLE}),
sprt AS ({_SPRT_ORACLE.replace("FROM ledger ORDER BY day", "FROM ledger")})
SELECT metric, value FROM (
    SELECT 'ab_z_score' AS metric, z_score AS value FROM ab
    UNION ALL
    SELECT 'mde_bps', CAST(mde_bps AS DOUBLE) FROM mde
    UNION ALL
    SELECT 'did_cents', did_cents FROM did
    UNION ALL
    SELECT 'sprt_final_llr', cum_llr FROM sprt
    WHERE day = (SELECT MAX(day) FROM sprt)
) ORDER BY metric
"""


@_register("pipeline_experiment_readout", _EXP_READOUT_ORACLE)
def pipeline_experiment_readout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Experimentation capstone: the one-table readout an experiment
    review wants — fixed-horizon z, minimum detectable effect,
    difference-in-differences estimate, and the sequential (SPRT)
    final log-likelihood — each computed by the REGISTERED op
    unchanged (single definition per method, the capstone discipline
    of ``pipeline_training_prep_v2``) and unioned into a (metric,
    value) ledger.

    Scale: each leg is its already-audited plan; the union is four
    1-row frames.
    """
    ab = stats_ab_test_proportions(spark, sf_dir).select(
        F.lit("ab_z_score").alias("metric"), F.col("z_score").alias("value")
    )
    mde = stats_ab_power_mde(spark, sf_dir).select(
        F.lit("mde_bps").alias("metric"), F.col("mde_bps").cast("double").alias("value")
    )
    did = stats_diff_in_diff(spark, sf_dir).select(
        F.lit("did_cents").alias("metric"), F.col("did_cents").alias("value")
    )
    sprt_df = stats_sprt_monitoring(spark, sf_dir)
    last_day = sprt_df.agg(F.max("day").alias("d"))
    sprt = (
        sprt_df.join(bcast_bounded(last_day, "1-row aggregate"), sprt_df.day == F.col("d"))
        .select(F.lit("sprt_final_llr").alias("metric"), F.col("cum_llr").alias("value"))
    )
    return ab.unionByName(mde).unionByName(did).unionByName(sprt).orderBy("metric")


# ---------------------------------------------------------------------------
# Matched-pairs uplift (nearest-neighbor covariate matching)
# ---------------------------------------------------------------------------

_MATCHED_ORACLE = """
WITH days AS (
    SELECT CAST(o_orderdate AS DATE) AS day,
           isodow(CAST(o_orderdate AS DATE)) >= 6 AS is_we,
           COUNT(*) AS n_orders,
           SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS cents
    FROM orders GROUP BY 1, 2
), we AS (SELECT * FROM days WHERE is_we),
wd AS (SELECT * FROM days WHERE NOT is_we),
matched AS (
    SELECT w.day AS we_day, w.n_orders AS we_n, w.cents AS we_cents,
           m.day AS wd_day, m.n_orders AS wd_n, m.cents AS wd_cents
    FROM we w
    JOIN LATERAL (
        SELECT d.day, d.n_orders, d.cents
        FROM wd d
        ORDER BY ABS(d.n_orders - w.n_orders), d.day
        LIMIT 1
    ) m ON TRUE
)
SELECT CAST(COUNT(*) AS BIGINT) AS n_pairs,
       CAST(SUM(we_cents) AS BIGINT) AS we_cents,
       CAST(SUM(wd_cents) AS BIGINT) AS wd_cents,
       CAST(SUM(we_cents - wd_cents) AS BIGINT) AS uplift_cents,
       CAST(ROUND(10000.0 * SUM(we_cents - wd_cents) / SUM(wd_cents))
            AS BIGINT) AS uplift_bps
FROM matched
"""


@_register("stat_matched_pairs_uplift", _MATCHED_ORACLE)
def stat_matched_pairs_uplift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Matching estimator: each weekend day is paired with the weekday
    NEAREST IN ORDER VOLUME (the confounding covariate), and the
    uplift is measured within matched pairs — the observational-study
    alternative to ``stats_diff_in_diff`` when there is no pre-period
    (matching removes the volume confound a raw weekend/weekday mean
    comparison, ``events_weekend_lift``, has to model away).

    The nearest-neighbor pick is rank-1 by (|Δvolume|, day) —
    deterministic integer ties — via the bounded per-weekend-day rank
    (the calendar bounds both sides, so the candidate join is
    days x days of a SERIES, not of raw rows). Integer cents end to
    end; one rounded bps at emission.

    Scale bound: the weekend x weekday cross is over the DAY domain —
    ~2.4k days (~700 weekend x ~1.7k weekday) for the 7-year TPC-H
    calendar REGARDLESS of sf, because the collapse to daily totals
    happens first; the only data-sized stage is that initial groupBy.
    """
    t = load_tables(spark, sf_dir, register_views=False)
    days = (
        t["orders"]
        .groupBy(
            F.col("o_orderdate").cast("date").alias("day"),
            F.dayofweek(F.col("o_orderdate").cast("date")).isin(1, 7).alias("is_we"),
        )
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum(F.round(F.col("o_totalprice") * 100).cast("long")).alias("cents"),
        )
    )
    we = days.filter(F.col("is_we")).select(
        F.col("day").alias("we_day"),
        F.col("n_orders").alias("we_n"),
        F.col("cents").alias("we_cents"),
    )
    wd = days.filter(~F.col("is_we")).select(
        F.col("day").alias("wd_day"),
        F.col("n_orders").alias("wd_n"),
        F.col("cents").alias("wd_cents"),
    )
    w = Window.partitionBy("we_day").orderBy(
        F.abs(F.col("wd_n") - F.col("we_n")), F.asc("wd_day")
    )
    matched = (
        we.crossJoin(wd)
        .withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") == 1)
    )
    return matched.agg(
        F.count(F.lit(1)).alias("n_pairs"),
        F.sum("we_cents").cast("long").alias("we_cents"),
        F.sum("wd_cents").cast("long").alias("wd_cents"),
        F.sum(F.col("we_cents") - F.col("wd_cents")).cast("long").alias("uplift_cents"),
        F.round(
            10000.0
            * F.sum(F.col("we_cents") - F.col("wd_cents"))
            / F.sum("wd_cents")
        )
        .cast("long")
        .alias("uplift_bps"),
    )

"""Window-function operators + batch time-window (streaming-shaped) ops.

Window specs always carry a deterministic total order (unique-key
tiebreakers) so ranking results are stable across engines and across
partitionings — a requirement for the DuckDB oracle hash check and
good practice anyway (a rank over a non-total order is
nondeterministic at any scale).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from load_datawarehouse_spark.ops._util import DEC, bcast_bounded, registrar
from load_datawarehouse_spark.session import load_tables

QUERIES: dict = {}
ORACLES: dict = {}
_register = registrar(QUERIES, ORACLES)


_WIN_RANK_ORACLE = """
SELECT * FROM (
    SELECT o_custkey, o_orderkey, o_orderdate,
           ROW_NUMBER() OVER w AS rn,
           RANK() OVER w2 AS rnk,
           DENSE_RANK() OVER w2 AS drnk
    FROM orders
    WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate DESC, o_orderkey),
           w2 AS (PARTITION BY o_custkey ORDER BY o_orderdate DESC)
) WHERE rn <= 3
ORDER BY o_custkey, rn
"""


@_register("window_ranking", _WIN_RANK_ORACLE)
def window_ranking(spark: SparkSession, sf_dir: str) -> DataFrame:
    """row_number / rank / dense_rank; one shuffle on o_custkey shared
    by both window specs (same partitioning).

    The output keeps the top THREE rows per customer (round 15): under
    the old ``rn <= 2`` cut the rank/dense_rank distinction was
    STRUCTURALLY impossible — for the first two rows of any order,
    RANK and DENSE_RANK are equal whether or not the top date ties
    (1,1 or 1,2), so a broken dense_rank aliasing rank would have
    hash-matched forever (the pairwise-identical-columns census
    caught rnk == drnk on all 2,998 output rows). At rn <= 3 a tie on
    a customer's top date yields rank 3 vs dense_rank 2 on the third
    row — live on this corpus at every scale (7 divergent rows at
    sf0.01, 270 at sf1)."""
    t = load_tables(spark, sf_dir, register_views=False)
    w = Window.partitionBy("o_custkey").orderBy(F.desc("o_orderdate"), F.asc("o_orderkey"))
    w2 = Window.partitionBy("o_custkey").orderBy(F.desc("o_orderdate"))
    return (
        t["orders"]
        .select(
            "o_custkey",
            "o_orderkey",
            "o_orderdate",
            F.row_number().over(w).cast("long").alias("rn"),
            F.rank().over(w2).cast("long").alias("rnk"),
            F.dense_rank().over(w2).cast("long").alias("drnk"),
        )
        .filter(F.col("rn") <= 3)
        .orderBy("o_custkey", "rn")
    )


_WIN_LAGLEAD_ORACLE = """
SELECT o_custkey, o_orderkey, o_orderdate,
       LAG(o_orderdate) OVER w AS prev_orderdate,
       LEAD(o_orderdate) OVER w AS next_orderdate,
       CAST(DATEDIFF('day', LAG(o_orderdate) OVER w, o_orderdate) AS BIGINT) AS days_since_prev
FROM orders
WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
ORDER BY o_custkey, o_orderdate, o_orderkey
"""


@_register("window_lag_lead", _WIN_LAGLEAD_ORACLE)
def window_lag_lead(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir, register_views=False)
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    prev = F.lag("o_orderdate").over(w)
    return (
        t["orders"]
        .select(
            "o_custkey",
            "o_orderkey",
            "o_orderdate",
            prev.alias("prev_orderdate"),
            F.lead("o_orderdate").over(w).alias("next_orderdate"),
            F.datediff(F.col("o_orderdate").cast("date"), prev.cast("date")).cast("long").alias("days_since_prev"),
        )
        .orderBy("o_custkey", "o_orderdate", "o_orderkey")
    )


_WIN_ROWS_ORACLE = """
SELECT o_custkey, o_orderkey,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(38,6))) OVER (
            PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) AS running_total,
       CAST(COUNT(*) OVER (
            PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS running_n
FROM orders
ORDER BY o_custkey, o_orderkey
"""


@_register("window_rows_frame", _WIN_ROWS_ORACLE)
def window_rows_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Running totals with an explicit ROWS frame; decimal accumulator
    keeps the running sum engine-exact at every prefix."""
    t = load_tables(spark, sf_dir, register_views=False)
    w = (
        Window.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        t["orders"]
        .select(
            "o_custkey",
            "o_orderkey",
            F.sum(F.col("o_totalprice").cast(DEC)).over(w).cast("double").alias("running_total"),
            F.count(F.lit(1)).over(w).cast("long").alias("running_n"),
        )
        .orderBy("o_custkey", "o_orderkey")
    )


_WIN_RANGE_ORACLE = """
SELECT s_suppkey, s_acctbal,
       CAST(COUNT(*) OVER (ORDER BY s_acctbal
            RANGE BETWEEN 500.0 PRECEDING AND CURRENT ROW) AS BIGINT) AS n_within_500
FROM supplier
ORDER BY s_suppkey
"""


@_register("window_range_frame", _WIN_RANGE_ORACLE)
def window_range_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RANGE frame over a numeric order (value-based, not row-based).

    Note: unpartitioned window -> single-task sort; fine for a dim
    table, never used on a fact table (there we'd bucket first).
    """
    t = load_tables(spark, sf_dir, register_views=False)
    w = Window.orderBy("s_acctbal").rangeBetween(-500, Window.currentRow)
    return (
        t["supplier"]
        .select(
            "s_suppkey",
            "s_acctbal",
            F.count(F.lit(1)).over(w).cast("long").alias("n_within_500"),
        )
        .orderBy("s_suppkey")
    )


_WIN_NTILE_ORACLE = """
SELECT c_custkey, c_acctbal,
       NTILE(4) OVER (ORDER BY c_acctbal, c_custkey) AS balance_quartile
FROM customer
ORDER BY c_custkey
"""


@_register("window_ntile", _WIN_NTILE_ORACLE)
def window_ntile(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir, register_views=False)
    w = Window.orderBy("c_acctbal", "c_custkey")
    return (
        t["customer"]
        .select("c_custkey", "c_acctbal", F.ntile(4).over(w).cast("long").alias("balance_quartile"))
        .orderBy("c_custkey")
    )


_WIN_FIRSTLAST_ORACLE = """
SELECT DISTINCT o_custkey,
       FIRST_VALUE(o_orderkey) OVER w AS first_orderkey,
       LAST_VALUE(o_orderkey) OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
            ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS last_orderkey
FROM orders
WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
ORDER BY o_custkey
"""


@_register("window_first_last", _WIN_FIRSTLAST_ORACLE)
def window_first_last(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir, register_views=False)
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    w_full = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    return (
        t["orders"]
        .select(
            "o_custkey",
            F.first("o_orderkey").over(w).alias("first_orderkey"),
            F.last("o_orderkey").over(w_full).alias("last_orderkey"),
        )
        .distinct()
        .orderBy("o_custkey")
    )


# ---------------------------------------------------------------------------
# Batch time-windowing (the batch twins of the streaming operators;
# ops/streaming.py runs the same shapes with watermarks on a stream)
# ---------------------------------------------------------------------------

_WIN_TUMBLING_ORACLE = """
SELECT time_bucket(INTERVAL 1 HOUR, ts) AS window_start,
       event_type,
       COUNT(*) AS n_events,
       CAST(SUM(CAST(value AS DECIMAL(38,6))) AS DOUBLE) AS sum_value
FROM events
GROUP BY 1, 2
ORDER BY window_start, event_type
"""


@_register("time_window_tumbling", _WIN_TUMBLING_ORACLE)
def time_window_tumbling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling 1h windows via F.window — identical code works on a
    stream with .withWatermark; partial aggregation applies."""
    t = load_tables(spark, sf_dir, register_views=False)
    return (
        t["events"]
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast(DEC)).cast("double").alias("sum_value"),
        )
        .select(F.col("w.start").alias("window_start"), "event_type", "n_events", "sum_value")
        .orderBy("window_start", "event_type")
    )


_WIN_SLIDING_ORACLE = """
WITH offsets AS (SELECT UNNEST([0, 1]) AS k)
SELECT time_bucket(INTERVAL 1 HOUR, ts) - k * INTERVAL 1 HOUR AS window_start,
       COUNT(*) AS n_events
FROM events CROSS JOIN offsets
GROUP BY 1
ORDER BY window_start
"""


@_register("time_window_sliding", _WIN_SLIDING_ORACLE)
def time_window_sliding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding windows (2h width, 1h slide): each event lands in 2
    windows. Spark's F.window(slide) replicates rows exactly like the
    oracle's unnested offset join."""
    t = load_tables(spark, sf_dir, register_views=False)
    return (
        t["events"]
        .groupBy(F.window("ts", "2 hours", "1 hour").alias("w"))
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(F.col("w.start").alias("window_start"), "n_events")
        .orderBy("window_start")
    )


_WIN_SESSION_ORACLE = """
WITH flagged AS (
    SELECT user_id, ts,
           CASE WHEN ts - LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                     > INTERVAL 30 MINUTE OR
                     LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
                THEN 1 ELSE 0 END AS is_new
    FROM events
), numbered AS (
    SELECT user_id, ts,
           SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts
                             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
    FROM flagged
)
SELECT user_id, MIN(ts) AS session_start, COUNT(*) AS n_events
FROM numbered
GROUP BY user_id, session_id
ORDER BY user_id, session_start
"""


@_register("time_window_session", _WIN_SESSION_ORACLE)
def time_window_session(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session windows (30 min gap) per user via F.session_window —
    Spark's native session assignment; the oracle reconstructs the
    identical sessions with the lag-gap-cumsum idiom."""
    t = load_tables(spark, sf_dir, register_views=False)
    return (
        t["events"]
        .groupBy(F.session_window("ts", "30 minutes").alias("w"), "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select("user_id", F.col("w.start").alias("session_start"), "n_events")
        .orderBy("user_id", "session_start")
    )


# ---------------------------------------------------------------------------
# Distribution analytics: percent_rank / cume_dist / ntile interplay
# ---------------------------------------------------------------------------

_WIN_DIST_ORACLE = """
SELECT o_orderkey, o_custkey, o_totalprice,
       PERCENT_RANK() OVER w AS pct_rank,
       CUME_DIST() OVER w AS cume,
FROM orders
WHERE o_custkey < 100
WINDOW w AS (PARTITION BY o_custkey ORDER BY o_totalprice, o_orderkey)
ORDER BY o_custkey, o_totalprice, o_orderkey
"""


@_register("window_distribution", _WIN_DIST_ORACLE)
def window_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """percent_rank / cume_dist per customer: both are exact integer
    ratios ((rank-1)/(n-1), rank_rows/n) so the double results are
    bitwise identical across engines. One shuffle on the partition
    key, shared by both specs."""
    t = load_tables(spark, sf_dir, register_views=False)
    w = Window.partitionBy("o_custkey").orderBy("o_totalprice", "o_orderkey")
    return (
        t["orders"]
        .filter(F.col("o_custkey") < 100)
        .select(
            "o_orderkey",
            "o_custkey",
            "o_totalprice",
            F.percent_rank().over(w).alias("pct_rank"),
            F.cume_dist().over(w).alias("cume"),
        )
        .orderBy("o_custkey", "o_totalprice", "o_orderkey")
    )


# ---------------------------------------------------------------------------
# Time-series resample + linear interpolation (gap fill)
# ---------------------------------------------------------------------------

_RESAMPLE_ORACLE = """
WITH obs AS (
    SELECT user_id, date_trunc('hour', ts) AS h,
           CAST(SUM(CAST(value AS DECIMAL(38,6))) AS DOUBLE) / COUNT(*) AS v
    FROM events GROUP BY 1, 2
), bounds AS (
    SELECT user_id, MIN(h) AS h0, MAX(h) AS h1 FROM obs GROUP BY user_id
), spine AS (
    SELECT user_id, unnest(generate_series(h0, h1, INTERVAL 1 HOUR)) AS h
    FROM bounds
), joined AS (
    SELECT s.user_id, s.h, o.v
    FROM spine s LEFT JOIN obs o ON o.user_id = s.user_id AND o.h = s.h
), ctx AS (
    SELECT user_id, h, v,
        LAST_VALUE(v IGNORE NULLS) OVER wp AS pv,
        LAST_VALUE(CASE WHEN v IS NOT NULL THEN h END IGNORE NULLS) OVER wp AS ph,
        FIRST_VALUE(v IGNORE NULLS) OVER wn AS nv,
        FIRST_VALUE(CASE WHEN v IS NOT NULL THEN h END IGNORE NULLS) OVER wn AS nh
    FROM joined
    WINDOW wp AS (PARTITION BY user_id ORDER BY h
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
           wn AS (PARTITION BY user_id ORDER BY h
                  ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
)
SELECT user_id, h,
       (v IS NOT NULL) AS is_observed,
       CASE WHEN v IS NOT NULL THEN v
            WHEN pv IS NOT NULL AND nv IS NOT NULL THEN
                pv + (nv - pv) * (CAST(date_diff('second', ph, h) AS DOUBLE)
                                  / CAST(date_diff('second', ph, nh) AS DOUBLE))
            ELSE NULL END AS value_interp
FROM ctx ORDER BY user_id, h
"""


@_register("ts_resample_interpolate", _RESAMPLE_ORACLE)
def ts_resample_interpolate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hourly resample with linear interpolation: each user's sparse
    event stream becomes a dense hourly series — observed hours carry
    the exact-decimal mean, gaps are linearly interpolated between the
    neighbouring observations (time-weighted), edges stay null. The
    standard time-series gap-fill (cf. hypertable `time_bucket_gapfill`
    / pandas `resample().interpolate()`).

    Scale: the spine explode fans out per user but stays narrow; the
    spine-obs join and both window passes share one hash partitioning
    on user_id (key cardinality scales with data). Interpolation
    arithmetic is plain IEEE double — deterministic given identical
    inputs, which the decimal-mean observation layer guarantees."""
    t = load_tables(spark, sf_dir, register_views=False)
    obs = (
        t["events"]
        .groupBy("user_id", F.date_trunc("hour", "ts").alias("h"))
        .agg(
            (F.sum(F.col("value").cast(DEC)).cast("double") / F.count(F.lit(1))).alias("v")
        )
    )
    spine = (
        obs.groupBy("user_id")
        .agg(F.min("h").alias("h0"), F.max("h").alias("h1"))
        .select(
            "user_id",
            F.explode(F.sequence("h0", "h1", F.expr("INTERVAL 1 HOUR"))).alias("h"),
        )
    )
    joined = spine.join(obs, ["user_id", "h"], "left")
    wp = Window.partitionBy("user_id").orderBy("h").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    wn = Window.partitionBy("user_id").orderBy("h").rowsBetween(
        Window.currentRow, Window.unboundedFollowing
    )
    obs_h = F.when(F.col("v").isNotNull(), F.col("h"))
    ctx = joined.select(
        "user_id",
        "h",
        "v",
        F.last("v", ignorenulls=True).over(wp).alias("pv"),
        F.last(obs_h, ignorenulls=True).over(wp).alias("ph"),
        F.first("v", ignorenulls=True).over(wn).alias("nv"),
        F.first(obs_h, ignorenulls=True).over(wn).alias("nh"),
    )
    gap_pos = (F.unix_timestamp("h") - F.unix_timestamp("ph")).cast("double")
    gap_all = (F.unix_timestamp("nh") - F.unix_timestamp("ph")).cast("double")
    interp = F.col("pv") + (F.col("nv") - F.col("pv")) * (gap_pos / gap_all)
    return ctx.select(
        "user_id",
        "h",
        F.col("v").isNotNull().alias("is_observed"),
        F.when(F.col("v").isNotNull(), F.col("v"))
        .when(F.col("pv").isNotNull() & F.col("nv").isNotNull(), interp)
        .otherwise(F.lit(None).cast("double"))
        .alias("value_interp"),
    ).orderBy("user_id", "h")


# ---------------------------------------------------------------------------
# Running peak / drawdown per user (monitoring & finance staple)
# ---------------------------------------------------------------------------

_DRAWDOWN_ORACLE = """
SELECT event_id, user_id, ts, value,
       MAX(value) OVER w AS running_peak,
       MAX(value) OVER w - value AS drawdown
FROM events
WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
ORDER BY user_id, ts, event_id
"""


@_register("window_running_drawdown", _DRAWDOWN_ORACLE)
def window_running_drawdown(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Running peak and drawdown (peak minus current) per user over
    event time — the monitoring/finance pattern for 'how far below
    the best seen so far'. MAX is order-insensitive and the
    subtraction is a single IEEE op, so no decimal accumulator is
    needed.

    Scale: one shuffle on user_id, streaming frame evaluation
    (running MAX is O(1) per row); the unique (ts, event_id) order
    key keeps results total-ordered and engine-identical."""
    t = load_tables(spark, sf_dir, register_views=False)
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    peak = F.max("value").over(w)
    return (
        t["events"]
        .select(
            "event_id",
            "user_id",
            "ts",
            "value",
            peak.alias("running_peak"),
            (peak - F.col("value")).alias("drawdown"),
        )
        .orderBy("user_id", "ts", "event_id")
    )


# ---------------------------------------------------------------------------
# Exact rolling median (7-row trailing frame, engine-portable formula)
# ---------------------------------------------------------------------------

_MOVING_MEDIAN_ORACLE = """
SELECT event_id, user_id,
       (arr[CAST(FLOOR((len(arr) + 1) / 2.0) AS BIGINT)]
        + arr[CAST(FLOOR(len(arr) / 2.0) AS BIGINT) + 1]) / 2.0 AS median7
FROM (
    SELECT event_id, user_id,
           list_sort(list(CAST(value AS DOUBLE)) OVER (
               PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)) AS arr
    FROM events
)
ORDER BY event_id
"""


@_register("window_moving_median", _MOVING_MEDIAN_ORACLE)
def window_moving_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact rolling median of ``value`` over the trailing 7 events
    per user.

    Neither engine's built-in windowed median has a pinned
    interpolation formula (``quantile_cont`` computes
    ``lo + f*(hi-lo)``, which is NOT bitwise ``(lo+hi)/2`` in IEEE
    arithmetic), so both sides materialize the sorted frame and apply
    the same explicit two-middle-elements formula — odd frames hit
    ``(x+x)/2 == x`` exactly.

    Scale: one shuffle on user_id; frames are 7 rows so the per-row
    sort is O(7 log 7) in codegen (``array_sort`` over a
    ``collect_list`` frame — no Python, no UDAF). Medians over frames
    wider than ~100 rows would switch to a two-heap
    ``applyInPandas``; for small frames the array form is faster and
    allocation-free per row.
    """
    t = load_tables(spark, sf_dir, register_views=False)
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(-6, Window.currentRow)
    )
    arr = F.array_sort(F.collect_list(F.col("value").cast("double")).over(w))
    n = F.size(arr)
    lo = F.element_at(arr, F.floor((n + F.lit(1)) / F.lit(2.0)).cast("int"))
    hi = F.element_at(arr, F.floor(n / F.lit(2.0)).cast("int") + F.lit(1))
    return (
        t["events"]
        .select(
            "event_id",
            "user_id",
            ((lo + hi) / F.lit(2.0)).alias("median7"),
        )
        .orderBy("event_id")
    )


# ---------------------------------------------------------------------------
# Exponential moving average via ordered fold (recursive, not framable)
# ---------------------------------------------------------------------------

_EMA_ALPHA = 0.25  # 1/4: exactly representable, products stay clean

_EMA_ORACLE = f"""
SELECT user_id,
       CAST(len(vals) AS BIGINT) AS n_events,
       list_reduce(vals, (acc, x) -> acc * {1 - _EMA_ALPHA} + x * {_EMA_ALPHA})
           AS ema
FROM (
    SELECT user_id,
           list_transform(
               list_sort(list({{'ts': ts, 'event_id': event_id,
                                'v': CAST(value AS DOUBLE)}})),
               s -> s.v) AS vals
    FROM events GROUP BY user_id
)
ORDER BY user_id
"""


@_register("window_ema_fold", _EMA_ORACLE)
def window_ema_fold(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user exponential moving average (alpha = {_EMA_ALPHA}) of
    the full ordered event series. EMA is RECURSIVE — no SQL window
    frame expresses it — so both engines materialize the ordered
    series per key and run the identical left fold (seeded with the
    first element, matching DuckDB's ``list_reduce``); alpha = 1/4 is
    exactly representable so every step is one multiply-add in
    deterministic order.

    Scale: one shuffle to group each user's series; array size is
    bounded by per-user history (here ~100 events). For unbounded
    histories this becomes the streaming op
    (``stream_stateful_user_stats`` keeps running state instead of
    materializing the series).
    """
    t = load_tables(spark, sf_dir, register_views=False)
    grouped = (
        t["events"]
        .groupBy("user_id")
        .agg(
            F.array_sort(
                F.collect_list(
                    F.struct(
                        F.col("ts"), F.col("event_id"), F.col("value").cast("double").alias("v")
                    )
                )
            ).alias("series")
        )
    )
    vals = F.transform("series", lambda s: s["v"])
    ema = F.aggregate(
        F.slice(vals, 2, F.greatest(F.size(vals) - 1, F.lit(0))),
        F.element_at(vals, 1),
        lambda acc, x: acc * F.lit(1 - _EMA_ALPHA) + x * F.lit(_EMA_ALPHA),
    )
    return grouped.select(
        "user_id",
        F.size("series").cast("long").alias("n_events"),
        ema.alias("ema"),
    ).orderBy("user_id")


_RUNNING_DISTINCT_ORACLE = """
WITH first_seen AS (
    SELECT user_id, MIN(CAST(ts AS DATE)) AS day FROM events GROUP BY user_id
), daily_new AS (
    SELECT day, COUNT(*) AS new_users FROM first_seen GROUP BY day
), daily_active AS (
    SELECT CAST(ts AS DATE) AS day, COUNT(DISTINCT user_id) AS active_users
    FROM events GROUP BY CAST(ts AS DATE)
)
SELECT CAST(a.day AS VARCHAR) AS day, a.active_users,
       COALESCE(n.new_users, 0) AS new_users,
       CAST(SUM(COALESCE(n.new_users, 0)) OVER (ORDER BY a.day
            ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_distinct_users
FROM daily_active a LEFT JOIN daily_new n USING (day)
ORDER BY a.day
"""


@_register("window_running_distinct", _RUNNING_DISTINCT_ORACLE)
def window_running_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Running COUNT(DISTINCT user) per day — the classic cumulative-
    distinct window, which no engine supports directly as a frame.

    The scalable decomposition: distinct-over-a-running-window equals
    the running SUM of first-occurrence counts, so the heavy work is
    two shuffled aggregations (per-user min-date; per-day counts) and
    the window runs over the tiny per-day series (calendar-bounded, so
    the unpartitioned cumsum is deliberately single-partition). A
    naive per-day COUNT(DISTINCT) over an expanding frame would rescan
    the fact table per day — O(days * rows).
    """
    t = load_tables(spark, sf_dir, register_views=False)
    ev = t["events"].select(F.col("ts").cast("date").alias("day"), "user_id")
    first_seen = ev.groupBy("user_id").agg(F.min("day").alias("day"))
    daily_new = first_seen.groupBy("day").agg(F.count(F.lit(1)).alias("new_users"))
    daily_active = ev.groupBy("day").agg(
        F.countDistinct("user_id").alias("active_users")
    )
    w = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, 0)
    return (
        daily_active.join(daily_new, "day", "left")
        .select(
            F.col("day").cast("string").alias("day"),
            "active_users",
            F.coalesce("new_users", F.lit(0)).alias("new_users"),
        )
        .withColumn("cum_distinct_users", F.sum("new_users").over(w).cast("long"))
        .orderBy("day")
    )


_SEASONAL_ORACLE = """
WITH daily AS (
    SELECT CAST(o_orderdate AS DATE) AS day, dayofweek(o_orderdate) AS dow,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(38,6))) AS DOUBLE) AS rev
    FROM orders GROUP BY 1, 2
), trended AS (
    SELECT day, dow, rev,
           CASE WHEN COUNT(*) OVER w7 = 7
                THEN CAST(SUM(CAST(rev AS DECIMAL(38,6))) OVER w7 AS DOUBLE) / 7
           END AS trend
    FROM daily
    WINDOW w7 AS (ORDER BY day ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)
), seas AS (
    SELECT dow,
           CAST(SUM(CAST(rev - trend AS DECIMAL(38,6))) AS DOUBLE) / COUNT(*) AS s_raw
    FROM trended WHERE trend IS NOT NULL GROUP BY dow
), seas_c AS (
    SELECT dow, s_raw - CAST(SUM(CAST(s_raw AS DECIMAL(38,6))) OVER () AS DOUBLE) / 7
               AS seasonal
    FROM seas
)
SELECT CAST(t.day AS VARCHAR) AS day, ROUND(t.rev, 6) AS rev,
       ROUND(t.trend, 6) AS trend, ROUND(s.seasonal, 6) AS seasonal,
       ROUND(t.rev - t.trend - s.seasonal, 6) AS resid
FROM trended t JOIN seas_c s USING (dow)
WHERE t.trend IS NOT NULL
ORDER BY t.day
"""


@_register("ts_seasonal_decompose", _SEASONAL_ORACLE)
def ts_seasonal_decompose(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classical additive seasonal decomposition of the daily revenue
    series: trend = centered 7-day moving average (full windows only),
    seasonal = mean detrended value per weekday re-centered to sum to
    zero, residual = value - trend - seasonal.

    Every mean goes through the exact decimal accumulator, so trend
    and seasonal are partitioning-invariant; emitted terms are rounded
    to 6 dp. Scale: the heavy aggregation (orders -> daily revenue) is
    one shuffled hash agg; everything after runs on the calendar-
    bounded day series, where the unpartitioned ordered window is
    deliberate (a few thousand rows at ANY fact-table size). The
    weekday profile joins back via broadcast.
    """
    t = load_tables(spark, sf_dir, register_views=False)
    daily = (
        t["orders"]
        .groupBy(
            F.col("o_orderdate").cast("date").alias("day"),
            F.dayofweek("o_orderdate").alias("dow"),
        )
        .agg(F.sum(F.col("o_totalprice").cast(DEC)).cast("double").alias("rev"))
    )
    w7 = Window.orderBy("day").rowsBetween(-3, 3)
    trended = daily.withColumn(
        "trend",
        F.when(
            F.count(F.lit(1)).over(w7) == 7,
            F.sum(F.col("rev").cast(DEC)).over(w7).cast("double") / 7,
        ),
    ).filter(F.col("trend").isNotNull())
    seas = trended.groupBy("dow").agg(
        (
            F.sum((F.col("rev") - F.col("trend")).cast(DEC)).cast("double")
            / F.count(F.lit(1))
        ).alias("s_raw")
    )
    w_all = Window.partitionBy()
    seas_c = seas.withColumn(
        "seasonal",
        F.col("s_raw") - F.sum(F.col("s_raw").cast(DEC)).over(w_all).cast("double") / 7,
    ).select("dow", "seasonal")
    return (
        trended.join(bcast_bounded(seas_c, "dow: 7 rows"), "dow")
        .select(
            F.col("day").cast("string").alias("day"),
            F.round("rev", 6).alias("rev"),
            F.round("trend", 6).alias("trend"),
            F.round("seasonal", 6).alias("seasonal"),
            F.round(F.col("rev") - F.col("trend") - F.col("seasonal"), 6).alias("resid"),
        )
        .orderBy("day")
    )


_CUSUM_ORACLE = """
WITH daily AS (
    SELECT CAST(ts AS DATE) AS day, COUNT(*) AS x FROM events GROUP BY 1
), m AS (
    SELECT CAST(SUM(x) AS DOUBLE) / COUNT(*) AS mu FROM daily
), c AS (
    SELECT day, x,
           CAST(SUM(CAST(x - mu AS DECIMAL(38,6))) OVER (ORDER BY day
                ROWS UNBOUNDED PRECEDING) AS DOUBLE) AS csum
    FROM daily CROSS JOIN m
), cu AS (
    SELECT day, x, csum,
           csum - LEAST(MIN(csum) OVER (ORDER BY day ROWS UNBOUNDED PRECEDING), 0)
               AS cusum_pos
    FROM c
)
SELECT CAST(day AS VARCHAR) AS day, CAST(x AS BIGINT) AS x,
       ROUND(cusum_pos, 6) AS cusum,
       CAST(CASE WHEN cusum_pos = MAX(cusum_pos) OVER () THEN 1 ELSE 0 END AS INT)
           AS is_peak
FROM cu ORDER BY day
"""


@_register("ts_cusum_changepoint", _CUSUM_ORACLE)
def ts_cusum_changepoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-sided CUSUM change detection on the daily event-count
    series, marking the peak-statistic day (the most likely upward
    changepoint).

    The textbook CUSUM is recursive (s_i = max(0, s_{i-1} + dev_i)),
    but it decomposes into pure windows: s_i = csum_i - min(0,
    running-min of csum) — so no fold is needed, just a cumulative sum
    (exact decimal) and a running min. Deviations are (integer count -
    mu) with mu an exact rational, so csum is deterministic; rounded
    to 6 dp on emit. Scale: one shuffled hash agg to the calendar-
    bounded day series; windows run on that tiny series by design.
    """
    t = load_tables(spark, sf_dir, register_views=False)
    daily = (
        t["events"]
        .groupBy(F.col("ts").cast("date").alias("day"))
        .agg(F.count(F.lit(1)).alias("x"))
    )
    m = daily.agg((F.sum("x").cast("double") / F.count(F.lit(1))).alias("mu"))
    w_run = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, 0)
    c = daily.crossJoin(bcast_bounded(m, "1-row aggregate")).withColumn(
        "csum",
        F.sum((F.col("x") - F.col("mu")).cast(DEC)).over(w_run).cast("double"),
    )
    cu = c.withColumn(
        "cusum_pos", F.col("csum") - F.least(F.min("csum").over(w_run), F.lit(0.0))
    )
    w_all = Window.partitionBy()
    return cu.select(
        F.col("day").cast("string").alias("day"),
        F.col("x").cast("long").alias("x"),
        F.round("cusum_pos", 6).alias("cusum"),
        F.when(F.col("cusum_pos") == F.max("cusum_pos").over(w_all), 1)
        .otherwise(0)
        .cast("int")
        .alias("is_peak"),
    ).orderBy("day")


_ROLLING_Z_ORACLE = """
WITH daily AS (
    SELECT CAST(ts AS DATE) AS day, COUNT(*) AS n FROM events GROUP BY 1
), framed AS (
    SELECT day, n,
           COUNT(*) OVER w AS k,
           SUM(n) OVER w AS sx,
           SUM(n * n) OVER w AS sxx
    FROM daily
    WINDOW w AS (ORDER BY day ROWS BETWEEN 7 PRECEDING AND 1 PRECEDING)
)
SELECT CAST(day AS VARCHAR) AS day, CAST(n AS BIGINT) AS n,
       ROUND((n - CAST(sx AS DOUBLE) / k)
             / SQRT((k * sxx - sx * sx) / (CAST(k AS DOUBLE) * (k - 1))), 6) AS z
FROM framed
WHERE k = 7 AND k * sxx > sx * sx
ORDER BY day
"""


@_register("window_rolling_zscore", _ROLLING_Z_ORACLE)
def window_rolling_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling z-score: each day's event count against the TRAILING
    7-day window's mean and sample std (window excludes the current
    day, so today's spike can't mask itself) — the online anomaly
    score, complementing the global fences of ``events_anomaly_iqr``.

    Counts are integers, so the frame's power sums are exact 64-bit
    integers and the one division/sqrt at the end is deterministic
    (rounded 6 dp); degenerate zero-variance frames are excluded in
    both engines by the same integer comparison. Scale: one shuffled
    aggregation to the day series; the frame runs over that bounded
    series.
    """
    t = load_tables(spark, sf_dir, register_views=False)
    daily = (
        t["events"]
        .groupBy(F.col("ts").cast("date").alias("day"))
        .agg(F.count(F.lit(1)).alias("n"))
    )
    w = Window.orderBy("day").rowsBetween(-7, -1)
    framed = daily.select(
        "day",
        "n",
        F.count(F.lit(1)).over(w).alias("k"),
        F.sum("n").over(w).alias("sx"),
        F.sum(F.col("n") * F.col("n")).over(w).alias("sxx"),
    )
    std = F.sqrt(
        (F.col("k") * F.col("sxx") - F.col("sx") * F.col("sx"))
        / (F.col("k").cast("double") * (F.col("k") - 1))
    )
    return (
        framed.filter(
            (F.col("k") == 7)
            & (F.col("k") * F.col("sxx") > F.col("sx") * F.col("sx"))
        )
        .select(
            F.col("day").cast("string").alias("day"),
            F.col("n").cast("long").alias("n"),
            F.round((F.col("n") - F.col("sx").cast("double") / F.col("k")) / std, 6).alias("z"),
        )
        .orderBy("day")
    )


_SHARE_ORACLE = """
WITH nat AS (
    SELECT r.r_name AS region, n.n_name AS nation,
           SUM(CAST(ROUND(o.o_totalprice * 100) AS BIGINT)) AS cents
    FROM orders o
    JOIN customer c ON c.c_custkey = o.o_custkey
    JOIN nation n ON n.n_nationkey = c.c_nationkey
    JOIN region r ON r.r_regionkey = n.n_regionkey
    GROUP BY 1, 2
)
SELECT region, nation,
       ROUND(CAST(cents AS DOUBLE) / 100, 6) AS revenue,
       CAST(ROUND(10000.0 * cents / SUM(cents) OVER (PARTITION BY region))
            AS BIGINT) AS share_bps,
       CAST(RANK() OVER (PARTITION BY region ORDER BY cents DESC, nation)
            AS BIGINT) AS rank_in_region
FROM nat ORDER BY region, rank_in_region
"""


@_register("window_share_of_total", _SHARE_ORACLE)
def window_share_of_total(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Share-of-total window: each nation's revenue as basis points of
    its region's total, with in-region rank — the canonical
    'percent of parent' report shape (a partition-total window over a
    PRE-AGGREGATED table, never over raw facts).

    Scale: the fact table collapses to |nations| rows first (one
    shuffle; nation/region forced-broadcast, the sf-proportional
    customer projection AQE-sized), so the share window costs
    nothing; exact integer cents make the bps and ranks
    deterministic.
    """
    t = load_tables(spark, sf_dir, register_views=False)
    nat = (
        t["orders"]
        .join(t["customer"].select("c_custkey", "c_nationkey"),
              F.col("c_custkey") == F.col("o_custkey"))
        .join(bcast_bounded(t["nation"], "nation: 25 rows"), F.col("n_nationkey") == F.col("c_nationkey"))
        .join(bcast_bounded(t["region"], "region: 5 rows"), F.col("r_regionkey") == F.col("n_regionkey"))
        .groupBy(F.col("r_name").alias("region"), F.col("n_name").alias("nation"))
        .agg(F.sum(F.round(F.col("o_totalprice") * 100, 0).cast("long")).alias("cents"))
    )
    w_tot = Window.partitionBy("region")
    w_rank = Window.partitionBy("region").orderBy(F.desc("cents"), F.asc("nation"))
    return nat.select(
        "region",
        "nation",
        F.round(F.col("cents").cast("double") / 100, 6).alias("revenue"),
        F.round(10000.0 * F.col("cents") / F.sum("cents").over(w_tot), 0)
        .cast("long")
        .alias("share_bps"),
        F.rank().over(w_rank).cast("long").alias("rank_in_region"),
    ).orderBy("region", "rank_in_region")


_PACING_ORACLE = """
WITH daily AS (
    SELECT CAST(CAST(date_trunc('month', CAST(o_orderdate AS DATE)) AS DATE)
                AS VARCHAR) AS month,
           day(CAST(o_orderdate AS DATE)) AS dom,
           SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS cents
    FROM orders
    WHERE o_orderdate >= TIMESTAMP '1997-01-01' AND o_orderdate < TIMESTAMP '1997-07-01'
    GROUP BY 1, 2
), cum AS (
    SELECT month, dom, cents,
           SUM(cents) OVER (PARTITION BY month ORDER BY dom
                            ROWS UNBOUNDED PRECEDING) AS cum_cents,
           SUM(cents) OVER (PARTITION BY month) AS total_cents
    FROM daily
)
SELECT month, CAST(dom AS BIGINT) AS dom,
       CAST(ROUND(10000.0 * cum_cents / total_cents) AS BIGINT) AS pace_bps
FROM cum
WHERE dom IN (7, 14, 21, 28)
ORDER BY month, dom
"""


@_register("orders_month_pacing_curve", _PACING_ORACLE)
def orders_month_pacing_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Revenue pacing curve: cumulative share of each month's revenue
    booked by day 7/14/21/28 (H1-1997), in basis points — the
    'are we on track for the month' forecast primitive (a month pacing
    behind its historical curve at day 14 predicts a miss).

    Scale: one aggregation to (month, day-of-month) cells; the cumsum
    window runs per month over <= 31 rows; exact integer cents make
    every pace value deterministic.
    """
    t = load_tables(spark, sf_dir, register_views=False)
    d = F.col("o_orderdate").cast("date")
    daily = (
        t["orders"]
        .filter(
            (F.col("o_orderdate") >= F.lit("1997-01-01").cast("timestamp"))
            & (F.col("o_orderdate") < F.lit("1997-07-01").cast("timestamp"))
        )
        .groupBy(
            F.date_trunc("month", d).cast("date").cast("string").alias("month"),
            F.dayofmonth(d).alias("dom"),
        )
        .agg(F.sum(F.round(F.col("o_totalprice") * 100, 0).cast("long")).alias("cents"))
    )
    w_cum = Window.partitionBy("month").orderBy("dom").rowsBetween(
        Window.unboundedPreceding, 0
    )
    w_all = Window.partitionBy("month")
    cum = daily.select(
        "month",
        "dom",
        F.sum("cents").over(w_cum).alias("cum_cents"),
        F.sum("cents").over(w_all).alias("total_cents"),
    )
    return (
        cum.filter(F.col("dom").isin(7, 14, 21, 28))
        .select(
            "month",
            F.col("dom").cast("long").alias("dom"),
            F.round(10000.0 * F.col("cum_cents") / F.col("total_cents"), 0)
            .cast("long")
            .alias("pace_bps"),
        )
        .orderBy("month", "dom")
    )


# ---------------------------------------------------------------------------
# LOCF gap fill (last observation carried forward over a dense calendar)
# ---------------------------------------------------------------------------

_LOCF_USERS = 40

_LOCF_ORACLE = f"""
WITH ev AS (
    SELECT user_id, CAST(ts AS DATE) AS day,
           SUM(CAST(ROUND(value * 100) AS BIGINT)) AS cents
    FROM events WHERE user_id < {_LOCF_USERS}
    GROUP BY 1, 2
), bounds AS (
    SELECT MIN(day) AS lo, MAX(day) AS hi FROM ev
), cal AS (
    SELECT CAST(unnest(generate_series(lo, hi, INTERVAL 1 DAY)) AS DATE) AS day
    FROM bounds
), grid AS (
    SELECT u.user_id, c.day
    FROM (SELECT DISTINCT user_id FROM ev) u CROSS JOIN cal c
), joined AS (
    SELECT g.user_id, g.day, e.cents
    FROM grid g LEFT JOIN ev e ON e.user_id = g.user_id AND e.day = g.day
)
SELECT user_id, CAST(day AS VARCHAR) AS day,
       CAST(COALESCE(last_value(cents IGNORE NULLS) OVER (
           PARTITION BY user_id ORDER BY day
           ROWS UNBOUNDED PRECEDING), 0) AS BIGINT) AS filled_cents,
       cents IS NULL AS is_filled
FROM joined ORDER BY user_id, day
"""


@_register("ts_gap_fill_locf", _LOCF_ORACLE)
def ts_gap_fill_locf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-fill by last-observation-carried-forward: densify each
    user's daily spend onto the full corpus calendar and forward-fill
    missing days from the most recent observation (0 before the first)
    — the step-function imputation for balances/state series, the
    discrete complement of ``ts_resample_interpolate``'s linear fill.

    The calendar comes from one 2-row bounds aggregate exploded with
    ``sequence`` (no driver round-trip), the user x day grid is a
    broadcast cross join, and the fill is ``F.last(ignorenulls=True)``
    over a per-user ordered frame. Integer cents end to end. Scale:
    grid size = |users| x |days| by construction; the fill window
    shuffles the grid once on user_id.
    """
    t = load_tables(spark, sf_dir, register_views=False)
    ev = (
        t["events"]
        .filter(F.col("user_id") < _LOCF_USERS)
        .groupBy(
            "user_id", F.col("ts").cast("date").alias("day")
        )
        .agg(F.sum(F.round(F.col("value") * 100).cast("long")).alias("cents"))
    )
    cal = (
        ev.agg(F.min("day").alias("lo"), F.max("day").alias("hi"))
        .select(F.explode(F.sequence("lo", "hi")).alias("day"))
    )
    grid = ev.select("user_id").distinct().crossJoin(
        bcast_bounded(cal, "calendar days: dataset date-range, ~2.5k rows at any sf")
    )
    joined = grid.join(ev, ["user_id", "day"], "left")
    w = (
        Window.partitionBy("user_id")
        .orderBy("day")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return joined.select(
        "user_id",
        F.col("day").cast("string").alias("day"),
        F.coalesce(F.last("cents", ignorenulls=True).over(w), F.lit(0))
        .cast("long")
        .alias("filled_cents"),
        F.col("cents").isNull().alias("is_filled"),
    ).orderBy("user_id", "day")


# ---------------------------------------------------------------------------
# Holt's linear (level + trend) smoothing via ordered two-state fold
# ---------------------------------------------------------------------------

_HOLT_A = 0.25  # level alpha: exactly representable
_HOLT_B = 0.5   # trend beta: exactly representable

_HOLT_ORACLE = f"""
WITH RECURSIVE series AS (
    SELECT user_id,
           list_transform(
               list_sort(list({{'ts': ts, 'event_id': event_id,
                                'v': CAST(value AS DOUBLE)}})),
               s -> s.v) AS vals
    FROM events GROUP BY user_id
), base AS (
    SELECT user_id, vals, len(vals) AS n FROM series WHERE len(vals) >= 2
), fold AS (
    SELECT user_id, vals, n, 2 AS t,
           vals[2] AS l, vals[2] - vals[1] AS b
    FROM base
    UNION ALL
    SELECT user_id, vals, n, t + 1,
           {_HOLT_A} * vals[t + 1] + {1 - _HOLT_A} * (l + b),
           {_HOLT_A * _HOLT_B} * vals[t + 1] - {_HOLT_A * _HOLT_B} * l
               + {1 - _HOLT_A * _HOLT_B} * b
    FROM fold WHERE t < n
)
SELECT user_id, CAST(n AS BIGINT) AS n_events,
       l AS level, b AS trend, l + b AS forecast_next
FROM fold WHERE t = n ORDER BY user_id
"""


@_register("ts_holt_linear", _HOLT_ORACLE)
def ts_holt_linear(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Holt's linear exponential smoothing (level + trend) per user,
    with a one-step-ahead forecast — the 2-state RECURSIVE time-series
    model no SQL window frame expresses; like ``window_ema_fold`` both
    engines materialize the ordered series and run the IDENTICAL left
    fold, here with a struct accumulator carrying (level, trend).

    Seeding uses the standard l1=y1, b1=y2-y1 (under which l2=y2
    exactly, so the fold starts at t=3 from the seed (y2, y2-y1));
    alpha=1/4 and beta=1/2 are exactly representable, the recursion is
    flattened so each state field depends only on PRIOR state
    (b' = aB*x - aB*l + (1-aB)*b), and every multiply-add is written
    in the same association on both engines — trajectories are bitwise
    identical with NO rounding at all. The oracle folds via a
    recursive CTE rather than ``list_reduce``: DuckDB 1.0's
    struct-accumulator lambda updates fields SEQUENTIALLY (the 'b'
    expression already sees the new 'l'), which silently changes the
    recursion — the CTE has proper snapshot semantics.
    Scale: one shuffle groups each user's bounded series; unbounded
    histories belong to the stateful streaming surface instead.
    """
    t = load_tables(spark, sf_dir, register_views=False)
    grouped = (
        t["events"]
        .groupBy("user_id")
        .agg(
            F.array_sort(
                F.collect_list(
                    F.struct(
                        F.col("ts"),
                        F.col("event_id"),
                        F.col("value").cast("double").alias("v"),
                    )
                )
            ).alias("series")
        )
    )
    vals = F.transform("series", lambda s: s["v"])
    base = grouped.select(
        "user_id", vals.alias("vals")
    ).filter(F.size("vals") >= 2)
    seed = F.struct(
        (F.element_at("vals", 2)).alias("l"),
        (F.element_at("vals", 2) - F.element_at("vals", 1)).alias("b"),
    )
    rest = F.slice("vals", 3, F.greatest(F.size("vals") - 2, F.lit(0)))
    a, ca = F.lit(_HOLT_A), F.lit(1 - _HOLT_A)
    ab, cab = F.lit(_HOLT_A * _HOLT_B), F.lit(1 - _HOLT_A * _HOLT_B)

    def step(acc, x):
        return F.struct(
            (a * x + ca * (acc["l"] + acc["b"])).alias("l"),
            (ab * x - ab * acc["l"] + cab * acc["b"]).alias("b"),
        )

    folded = base.select(
        "user_id",
        F.size("vals").cast("long").alias("n_events"),
        F.aggregate(rest, seed, step).alias("st"),
    )
    return folded.select(
        "user_id",
        "n_events",
        F.col("st.l").alias("level"),
        F.col("st.b").alias("trend"),
        (F.col("st.l") + F.col("st.b")).alias("forecast_next"),
    ).orderBy("user_id")


# ---------------------------------------------------------------------------
# Forecast-baseline backtest (naive vs seasonal-naive MAE on a holdout)
# ---------------------------------------------------------------------------

_BACKTEST_ORACLE = """
WITH daily AS (
    SELECT CAST(o_orderdate AS DATE) AS day,
           SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS cents
    FROM orders GROUP BY 1
), idx AS (
    SELECT day, cents,
           row_number() OVER (ORDER BY day) AS i,
           COUNT(*) OVER () AS n,
           LAG(cents, 1) OVER (ORDER BY day) AS naive,
           LAG(cents, 7) OVER (ORDER BY day) AS snaive
    FROM daily
), test AS (
    SELECT * FROM idx WHERE i > (n * 8) // 10 AND snaive IS NOT NULL
)
SELECT CAST(COUNT(*) AS BIGINT) AS n_test_days,
       CAST(SUM(ABS(cents - naive)) AS BIGINT) AS mae_naive_total_cents,
       CAST(SUM(ABS(cents - snaive)) AS BIGINT) AS mae_snaive_total_cents,
       SUM(ABS(cents - snaive)) < SUM(ABS(cents - naive))
           AS seasonal_wins
FROM test
"""


@_register("ts_forecast_baseline_backtest", _BACKTEST_ORACLE)
def ts_forecast_baseline_backtest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Forecast-baseline backtest: naive (yesterday) vs seasonal-naive
    (same weekday last week) absolute error on the last 20% of the
    daily-revenue calendar — the sanity gate every forecasting effort
    needs first (a model that can't beat t-7 isn't a model), and the
    evaluation counterpart to the fitting ops (``ts_holt_linear``,
    ``ts_seasonal_decompose``).

    Integer cents end to end — the MAE totals are exact sums of
    absolute integer differences, so even the winner flag is an exact
    integer comparison. Scale: one day collapse, one ordered pass
    over the bounded calendar (lags + the 80/20 index split share the
    same window sort).
    """
    t = load_tables(spark, sf_dir, register_views=False)
    daily = (
        t["orders"]
        .groupBy(F.col("o_orderdate").cast("date").alias("day"))
        .agg(F.sum(F.round(F.col("o_totalprice") * 100).cast("long")).alias("cents"))
    )
    wo = Window.orderBy("day")
    wall = Window.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    idx = daily.select(
        "cents",
        F.row_number().over(wo).alias("i"),
        F.count(F.lit(1)).over(wall).alias("n"),
        F.lag("cents", 1).over(wo).alias("naive"),
        F.lag("cents", 7).over(wo).alias("snaive"),
    )
    test = idx.filter(
        (F.col("i") > F.expr("(n * 8) DIV 10")) & F.col("snaive").isNotNull()
    )
    mae_n = F.sum(F.abs(F.col("cents") - F.col("naive")))
    mae_s = F.sum(F.abs(F.col("cents") - F.col("snaive")))
    return test.agg(
        F.count(F.lit(1)).alias("n_test_days"),
        mae_n.cast("long").alias("mae_naive_total_cents"),
        mae_s.cast("long").alias("mae_snaive_total_cents"),
        (mae_s < mae_n).alias("seasonal_wins"),
    )

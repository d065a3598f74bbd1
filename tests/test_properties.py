"""Hypothesis property tests for the engine's pure-Python core.

The load-bearing property is partition-invariance of schema inference:
``infer_schema_distributed`` relies on ``Observation.merge`` being
associative/commutative *with respect to the condensed schema*, so any
treeAggregate merge order on any partitioning must produce the same
api_repr as a single sequential pass. (The
``factor_of_records_adding_fields`` metric is enumeration-order
dependent by reference semantics and is excluded.)
"""

from __future__ import annotations

import copy
import datetime as dt
import json

import pyarrow as pa
from hypothesis import example, given, settings
from hypothesis import strategies as st
from pyspark.sql.pandas.types import to_arrow_schema

from load_datawarehouse_spark import types as wtypes
from load_datawarehouse_spark.data import chunks, clean_field_key, clean_keys, json_size, prepare
from load_datawarehouse_spark.errors import WarehouseRowOversize, WarehouseTableRowsInvalid
from load_datawarehouse_spark.schema_infer import Observation, condense, infer_schema

# --- strategies ------------------------------------------------------------

_scalars = st.one_of(
    st.none(),
    st.booleans(),
    st.integers(min_value=-(2**40), max_value=2**40),
    st.floats(allow_nan=False, allow_infinity=False, width=32),
    st.text(max_size=8),
    st.binary(max_size=6),
    st.dates(),
    st.datetimes(),
)

_keys = st.sampled_from(["a", "b", "b 2", "c.x", "d", 7, "e"])


def _records(depth: int):
    leaf = st.one_of(_scalars, st.lists(_scalars, max_size=4))
    if depth <= 0:
        value = leaf
    else:
        value = st.one_of(leaf, st.lists(_nested(depth - 1), max_size=2))
    return st.dictionaries(_keys, value, max_size=5)


def _nested(depth: int):
    return st.deferred(lambda: _records(depth))


record_lists = st.lists(_records(depth=2), max_size=12)


def _norm(schema: list[dict]) -> list:
    out = []
    for f in sorted(schema, key=lambda f: f["name"]):
        e = {"name": f["name"], "type": f["type"], "mode": f["mode"]}
        if f.get("fields"):
            e["fields"] = _norm(f["fields"])
        out.append(e)
    return out


# --- inference: partition invariance --------------------------------------


@settings(max_examples=60, deadline=None)
@given(records=record_lists, cut=st.integers(min_value=0, max_value=12))
def test_inference_partition_invariant(records, cut):
    cut = min(cut, len(records))
    want = _norm(infer_schema(records).schema)

    # distinct part_ids model the distributed path: order keys are
    # (part_id, row_idx), so merge order must not matter even though
    # promotion is first-observed-sensitive
    left, right = Observation(part_id=0), Observation(part_id=1)
    for r in records[:cut]:
        left.observe_row(r)
    for r in records[cut:]:
        right.observe_row(r)

    ab = copy.deepcopy(left).merge(copy.deepcopy(right))
    ba = copy.deepcopy(right).merge(copy.deepcopy(left))
    assert _norm(condense(ab.fields)) == want
    assert _norm(condense(ba.fields)) == want


@settings(max_examples=60, deadline=None)
@given(records=record_lists)
def test_inference_idempotent_under_duplication(records):
    # observing the same data twice must not change the schema
    once = _norm(infer_schema(records).schema)
    twice = _norm(infer_schema(records + records).schema)
    assert once == twice


_TYPES = ("STRING", "string", "INTEGER", "int64", "FLOAT", "BOOLEAN", "bool", "TIMESTAMP", "DATE", "BYTES")
_MODES = ("NULLABLE", "nullable", "REQUIRED", "REPEATED", "repeated")


@settings(max_examples=60, deadline=None)
@given(records=record_lists, data=st.data())
def test_existing_schema_fixes_only_its_fields(records, data):
    # fixed fields are not observed: each keeps its normalised
    # existing entry, and every other field (and the field order) is
    # exactly what inference without a schema gives
    base = infer_schema(records).schema
    names = [f["name"] for f in base]
    fixed = data.draw(st.lists(st.sampled_from(names), unique=True) if names else st.just([]))
    existing = [
        {"name": n, "type": data.draw(st.sampled_from(_TYPES)), "mode": data.draw(st.sampled_from(_MODES))}
        for n in fixed
    ]
    by_name = {e["name"]: e for e in existing}
    want = [
        {"name": f["name"], "type": wtypes.normalize_type(by_name[f["name"]]["type"]),
         "mode": by_name[f["name"]]["mode"].upper()}
        if f["name"] in by_name else f
        for f in base
    ]
    assert infer_schema(records, existing).schema == want


# --- clean_keys: idempotence ----------------------------------------------


@settings(max_examples=60, deadline=None)
@given(records=record_lists)
def test_clean_keys_idempotent(records):
    cleaned = clean_keys(records)
    assert clean_keys(cleaned) == cleaned


# --- chunking: lossless, ordered, bounded ---------------------------------

_json_records = st.lists(
    st.dictionaries(
        st.text(min_size=1, max_size=4),
        st.one_of(st.integers(), st.text(max_size=30), st.none()),
        max_size=4,
    ),
    max_size=30,
)


@settings(max_examples=60, deadline=None)
@given(records=_json_records, limit=st.integers(min_value=200, max_value=2000))
def test_chunks_lossless_ordered_bounded(records, limit):
    try:
        out = list(chunks(records, size_limit=limit))
    except WarehouseRowOversize:
        # legitimate only if some single row alone exceeds the limit
        assert any(json_size([r]) > limit for r in records)
        return
    flat = [r for c in out for r in c]
    assert flat == records
    for c in out:
        assert json_size(c) <= limit
    assert all(c for c in out)  # no empty chunks


@settings(max_examples=30, deadline=None)
@given(records=_json_records)
def test_json_size_matches_reference_metric(records):
    # reference parity: sys.getsizeof of the dump string
    # (src/load_datawarehouse/data.py:146-177), NOT raw encoded length
    import sys

    assert json_size(records) == sys.getsizeof(json.dumps(records, default=str))


# --- packing invariants ----------------------------------------------------


@given(
    sizes=st.lists(st.integers(min_value=1, max_value=400), min_size=1, max_size=200),
    budget=st.integers(min_value=400, max_value=2000),
)
@settings(max_examples=100, deadline=None)
def test_greedy_cumsum_packing_invariants(sizes, budget):
    """The cumsum // budget assignment used by pack_training_sequences /
    multimodal_shard_packing / with_chunk_ids: chunks are contiguous,
    every chunk except possibly the last fills past the budget only by
    its single straddling item, and no item is lost or reordered."""
    cum = 0
    assign = []
    for s in sizes:
        cum += s
        assign.append((cum - 1) // budget)
    # contiguous, monotone chunk ids starting at 0
    assert assign[0] == 0
    assert all(b - a in (0, 1) or b == a for a, b in zip(assign, assign[1:]))
    assert all(b >= a for a, b in zip(assign, assign[1:]))
    # per-chunk payload exceeds budget by at most the straddling item
    from collections import defaultdict

    totals = defaultdict(int)
    for s, c in zip(sizes, assign):
        totals[c] += s
    for c, tot in totals.items():
        if tot > budget:
            # the straddling item is the chunk's FIRST element (its
            # cumsum crossed the boundary); everything after it fits
            # within one budget by construction
            first_item = [s for s, cc in zip(sizes, assign) if cc == c][0]
            assert tot - first_item <= budget
    # lossless
    assert sum(totals.values()) == sum(sizes)


# --- oracle-harness structural guards --------------------------------------


def test_oracle_sql_never_widens_to_hugeint():
    """Structural guard for the r1 HUGEINT failure class: DuckDB widens
    SUM(integer) to int128, which the driver's width-aware value hash
    can never match against a Spark BIGINT. Every oracle SQL must
    therefore CAST integer aggregates down. Running each oracle against
    DuckDB at sf0.001 and asserting no HUGEINT output column enforces
    this for every present and future oracle without needing Spark."""
    import sys

    sys.path.insert(0, ".")
    import __spark_entry__ as e
    from tests.conftest import SF_DIR
    from tests.oracle_harness import duckdb_connect

    con = duckdb_connect(SF_DIR)
    offenders = {}
    for name, sql in e.oracle_sql().items():
        rel = con.sql(sql)
        wide = [
            c for c, t in zip(rel.columns, rel.types) if str(t).upper() == "HUGEINT"
        ]
        if wide:
            offenders[name] = wide
    con.close()
    assert not offenders, (
        "oracle SQL produces HUGEINT columns (driver hash can never match "
        f"Spark BIGINT): {offenders} — wrap in CAST(... AS BIGINT)"
    )


def test_doc_counts_match_registry():
    """COVERAGE.md / README.md drifted twice (advisor r2+r3): they must
    state the live registry size. This pins them to len(queries())."""
    import re
    import sys

    sys.path.insert(0, ".")
    import __spark_entry__ as e

    n = len(e.queries())
    for path in ("COVERAGE.md", "README.md"):
        text = open(path).read()
        m = re.search(r"(\d+) registered\s+(?:queries|operators)", text)
        assert m, f"{path}: no registered-query count found"
        assert int(m.group(1)) == n, (
            f"{path} claims {m.group(1)} registered queries; registry has {n}"
        )


def test_coverage_category_headers_match_module_counts():
    """Advisor r5: the per-category ``**mod (N...)**`` headers in
    COVERAGE.md drifted into suspicion when llm went 87->86. Pin each
    header's N to its module's live registration count, and the sum to
    the registry total, so a miscounted inventory line fails loudly."""
    import re

    from load_datawarehouse_spark.ops import (
        analytics,
        llm,
        multimodal,
        relational,
        streaming,
        tpch,
        udfs,
        windows,
    )

    mods = {
        "llm": llm,
        "streaming": streaming,
        "multimodal": multimodal,
        "udfs": udfs,
        "relational": relational,
        "windows": windows,
        "tpch": tpch,
        "analytics": analytics,
    }
    text = open("COVERAGE.md").read()
    seen = {}
    for m in re.finditer(r"\*\*(\w+) \((\d+)", text):
        if m.group(1) in mods:
            seen[m.group(1)] = int(m.group(2))
    assert set(seen) == set(mods), f"COVERAGE.md category headers missing: {set(mods) - set(seen)}"
    for name, mod in mods.items():
        assert seen[name] == len(mod.QUERIES), (
            f"COVERAGE.md header says {name} ({seen[name]}); module registers {len(mod.QUERIES)}"
        )
    assert sum(seen.values()) == sum(len(m.QUERIES) for m in mods.values())


@given(
    st.lists(
        st.floats(allow_nan=False, allow_infinity=False, width=32), min_size=1, max_size=40
    )
)
@settings(max_examples=60, deadline=None)
def test_rolling_median_formula_matches_statistics(values):
    """window_moving_median's two-middle-elements formula over a sorted
    frame must equal the textbook median on every frame size (odd
    frames degrade to the exact element, even frames to the midpoint
    average)."""
    import statistics

    for end in range(1, len(values) + 1):
        frame = sorted(float(v) for v in values[max(0, end - 7):end])
        n = len(frame)
        lo = frame[(n + 1) // 2 - 1]
        hi = frame[n // 2]
        got = (lo + hi) / 2.0
        assert got == statistics.median(frame)


@given(st.lists(st.sampled_from("abcd"), min_size=1, max_size=64), st.integers(2, 5))
@settings(max_examples=80, deadline=None)
def test_intradoc_segment_dedup_invariants(words, width):
    """Pure-python model of dedup_intradoc_segments: keep-first segment
    dedup must preserve relative order, keep every distinct segment
    exactly once, and be idempotent."""
    segs = [
        " ".join(words[i : i + width]) for i in range(0, len(words), width)
    ]

    def dedup(xs):
        seen, out = set(), []
        for s in xs:
            if s not in seen:
                seen.add(s)
                out.append(s)
        return out

    kept = dedup(segs)
    assert len(kept) == len(set(segs))
    assert dedup(kept) == kept
    # relative order preserved: kept is a subsequence of segs
    it = iter(segs)
    assert all(any(s == t for t in it) for s in kept)


@given(
    st.lists(st.floats(min_value=-0.625, max_value=0.625, width=32), min_size=4, max_size=64)
)
@settings(max_examples=60, deadline=None)
def test_sq_quantization_bounds_and_monotonicity(vec):
    """similarity_sq_topk's quantizer floor(x*200) must stay in int8
    range for |x| < 0.64 and preserve order (monotone non-decreasing),
    so integer-dot candidate ranking cannot invert on ties created by
    overflow or wraparound."""
    import math

    q = [math.floor(float(x) * 200.0) for x in vec]
    assert all(-128 <= v <= 127 for v in q)
    for a, b in zip(sorted(float(x) for x in vec), sorted(q)):
        assert math.floor(a * 200.0) == b  # sorting commutes with quantization


@given(
    st.lists(
        st.tuples(
            st.floats(min_value=0, max_value=1, width=32),
            st.floats(min_value=0, max_value=100, width=32),
        ),
        min_size=3,
        max_size=50,
    )
)
@settings(max_examples=40, deadline=None)
def test_ols_closed_form_matches_numpy(pairs):
    """regression_ols_exact's closed form over raw sums must agree
    with numpy's least-squares fit whenever the problem is
    well-conditioned (non-degenerate x variance)."""
    import numpy as np

    x = np.array([p[0] for p in pairs], dtype=float)
    y = np.array([p[1] for p in pairs], dtype=float)
    n = len(x)
    sx, sy = x.sum(), y.sum()
    sxy, sxx = (x * y).sum(), (x * x).sum()
    denom = n * sxx - sx * sx
    if abs(denom) < 1e-9 * max(1.0, sxx * n):
        return  # degenerate x: no defined slope
    slope = (n * sxy - sx * sy) / denom
    intercept = (sy - slope * sx) / n
    ref = np.polyfit(x, y, 1)
    assert abs(slope - ref[0]) < 1e-6 * max(1.0, abs(ref[0]))
    assert abs(intercept - ref[1]) < 1e-6 * max(1.0, abs(ref[1]))


@given(
    st.lists(st.lists(st.integers(0, 20), min_size=1, max_size=8, unique=True),
             min_size=1, max_size=30)
)
@settings(max_examples=40, deadline=None)
def test_basket_lift_identities(baskets):
    """basket_affinity_lift invariants on a pure-python model: pair
    support is symmetric, bounded by min item support, and lift is
    the exact product ratio."""
    from collections import Counter
    from itertools import combinations

    item = Counter()
    pair = Counter()
    for b in baskets:
        s = sorted(set(b))
        item.update(s)
        pair.update(combinations(s, 2))
    n = len(baskets)
    for (a, b), nab in pair.items():
        assert nab <= min(item[a], item[b])
        lift = (nab * n) / (item[a] * item[b])
        assert lift > 0
        # support-1 identity: a pair present in EVERY basket has lift
        # n*n/(n*n) = 1 when both items are universal
        if item[a] == n and item[b] == n and nab == n:
            assert lift == 1.0


def test_first_names_resolve_and_unique():
    """The driver-window ordering list must contain only real registry
    names, without duplicates — a typo here silently burns one of the
    50 driver correctness slots."""
    import sys

    sys.path.insert(0, ".")
    import __spark_entry__ as e

    q = e.queries()
    missing = [n for n in e._FIRST_NAMES if n not in q]
    assert not missing, f"_FIRST_NAMES entries not in registry: {missing}"
    assert len(set(e._FIRST_NAMES)) == len(e._FIRST_NAMES), "duplicate names"


# --- round-4 statistics identities ----------------------------------------


@given(st.lists(st.integers(min_value=1, max_value=12), min_size=1, max_size=60))
@settings(max_examples=120, deadline=None)
def test_gini_histogram_identity(counts):
    """dq_key_skew_gini's closed form over the count-of-counts
    histogram must equal the textbook sorted-rank Gini."""
    xs = sorted(counts)
    n, s = len(xs), sum(xs)
    brute = (2 * sum(i * x for i, x in enumerate(xs, 1))) / (n * s) - (n + 1) / n

    from collections import Counter

    hist = sorted(Counter(counts).items())
    cum_m = 0
    two_b = 0
    for c, m in hist:
        cum_m += m
        two_b += c * m * (2 * cum_m - m + 1)
    closed = two_b / (n * s) - (n + 1) / n
    assert abs(brute - closed) < 1e-9


@given(st.lists(st.floats(min_value=-50, max_value=50, allow_nan=False), min_size=1, max_size=80))
@settings(max_examples=120, deadline=None)
def test_cusum_window_decomposition(devs):
    """ts_cusum_changepoint's window form (csum - min(0, running-min))
    must equal the recursive CUSUM s_i = max(0, s_{i-1} + d_i)."""
    s = 0.0
    recursive = []
    for d in devs:
        s = max(0.0, s + d)
        recursive.append(s)

    csum = 0.0
    run_min = 0.0
    windowed = []
    for d in devs:
        csum += d
        run_min = min(run_min, csum)
        windowed.append(csum - min(run_min, 0.0))
    for a, b in zip(recursive, windowed):
        assert abs(a - b) < 1e-6


@given(
    st.lists(st.integers(min_value=1, max_value=30), min_size=2, max_size=40),
)
@settings(max_examples=100, deadline=None)
def test_top_share_cut_from_histogram(counts):
    """dq_key_skew_gini's top-1%-style cut (computed on the grouped
    histogram with clamped takes) must equal taking the top-k keys
    from the fully sorted per-key list, for every k."""
    from collections import Counter

    xs = sorted(counts, reverse=True)
    n, s = len(xs), sum(xs)
    hist = sorted(Counter(counts).items(), reverse=True)
    for need in range(1, n + 1):
        brute = sum(xs[:need])
        cum_top = 0
        closed = 0
        for c, m in hist:
            cum_top += m
            taken = max(min(m, need - (cum_top - m)), 0)
            closed += taken * c
        assert brute == closed, (need, xs)


@given(
    st.lists(
        st.tuples(st.integers(min_value=0, max_value=40), st.integers(min_value=0, max_value=40)),
        min_size=1,
        max_size=60,
    ),
    st.integers(min_value=1, max_value=5),
)
@settings(max_examples=100, deadline=None)
def test_skyline_of_skylines_identity(points, n_parts):
    """orders_pareto_skyline's two-phase plan relies on
    skyline(S) = skyline(union of per-partition skylines)."""

    def skyline(pts):
        return {
            p
            for p in pts
            if not any(
                q[0] >= p[0] and q[1] >= p[1] and q != p for q in pts
            )
        }

    pts = list(set(points))
    whole = skyline(pts)
    parts = [pts[i::n_parts] for i in range(n_parts)]
    merged = skyline([p for part in parts for p in skyline(part)])
    assert whole == merged


@given(st.lists(st.integers(min_value=0, max_value=2000), min_size=1, max_size=200))
@settings(max_examples=100, deadline=None)
def test_bitmap_chunk_distinct_identity(keys):
    """agg_bitmap_distinct: sum of popcounts over 63-wide OR-chunks
    equals the exact distinct count, for any multiset of keys."""
    from collections import defaultdict

    chunks = defaultdict(int)
    for k in keys:
        chunks[k // 63] |= 1 << (k % 63)
    popcount_sum = sum(bin(b).count("1") for b in chunks.values())
    assert popcount_sum == len(set(keys))


@given(
    st.lists(st.sets(st.integers(min_value=0, max_value=30), min_size=1, max_size=15),
             min_size=2, max_size=8)
)
@settings(max_examples=80, deadline=None)
def test_containment_asymmetric_vs_jaccard(doc_shingles):
    """dedup_shingle_containment's metric: containment(A in B) is
    always >= jaccard(A, B), with equality iff A is a subset of B —
    the reason the asymmetric metric catches sub-document copies."""
    for i, a in enumerate(doc_shingles):
        for j, b in enumerate(doc_shingles):
            if i == j:
                continue
            inter = len(a & b)
            containment = inter / len(a)
            jaccard = inter / len(a | b)
            assert containment >= jaccard - 1e-12
            if a <= b:
                assert containment == 1.0


@given(
    st.dictionaries(
        st.integers(min_value=0, max_value=20),   # user
        st.sets(st.integers(min_value=0, max_value=12), min_size=1, max_size=8),
        min_size=1, max_size=20,
    )
)
@settings(max_examples=80, deadline=None)
def test_lifecycle_states_conservation(user_months):
    """events_user_lifecycle_states: churned(m) must equal
    active(m-1) - retained(m), and active(m) = new + retained +
    resurrected — the ledger identities behind growth accounting."""
    from collections import Counter

    states = Counter()
    active = Counter()
    max_m = max(m for ms in user_months.values() for m in ms)
    for ms in user_months.values():
        ms = sorted(ms)
        for i, m in enumerate(ms):
            active[m] += 1
            if i == 0:
                states[(m, "new")] += 1
            elif m - ms[i - 1] == 1:
                states[(m, "retained")] += 1
            else:
                states[(m, "resurrected")] += 1
            if (i + 1 == len(ms) or ms[i + 1] > m + 1) and m + 1 <= max_m:
                states[(m + 1, "churned")] += 1
    for m in range(0, max_m + 1):
        assert active[m] == (
            states[(m, "new")] + states[(m, "retained")] + states[(m, "resurrected")]
        )
        if m >= 1:
            assert states[(m, "churned")] == active[m - 1] - states[(m, "retained")]


@given(
    st.lists(st.integers(min_value=0, max_value=40), min_size=1, max_size=60),
    st.lists(st.integers(min_value=0, max_value=40), min_size=1, max_size=60),
)
@settings(max_examples=100, deadline=None)
def test_ks_common_denominator_identity(xs, ys):
    """stat_ks_two_sample: max|cum1*n2 - cum2*n1|/(n1*n2) over the
    level histogram equals the textbook max |F1(t) - F2(t)|."""
    from collections import Counter

    n1, n2 = len(xs), len(ys)
    levels = sorted(set(xs) | set(ys))
    cx, cy = Counter(xs), Counter(ys)
    f1 = f2 = 0
    brute = 0.0
    scaled = 0
    for lvl in levels:
        f1 += cx[lvl]
        f2 += cy[lvl]
        brute = max(brute, abs(f1 / n1 - f2 / n2))
        scaled = max(scaled, abs(f1 * n2 - f2 * n1))
    assert abs(brute - scaled / (n1 * n2)) < 1e-12


@given(
    st.lists(
        st.tuples(st.integers(min_value=0, max_value=6),
                  st.integers(min_value=1, max_value=500)),
        min_size=8, max_size=80,
    )
)
@settings(max_examples=80, deadline=None)
def test_anova_power_sum_identity(pts):
    """stat_anova_weekday_revenue's closed form from per-group
    (n, s, ss) must equal the definitional between/within decomposition
    — and SSB + SSW must reconstruct the total sum of squares."""
    from collections import defaultdict

    groups = defaultdict(list)
    for g, v in pts:
        groups[g].append(v)
    if len(groups) < 2 or all(len(v) < 2 for v in groups.values()):
        return
    n = sum(len(v) for v in groups.values())
    k = len(groups)
    if n <= k:
        return
    grand = sum(sum(v) for v in groups.values()) / n
    ssb_def = sum(len(v) * (sum(v) / len(v) - grand) ** 2 for v in groups.values())
    ssw_def = sum(sum((x - sum(v) / len(v)) ** 2 for x in v) for v in groups.values())

    s_tot = sum(sum(v) for v in groups.values())
    ss_tot = sum(sum(x * x for x in v) for v in groups.values())
    sb = sum(sum(v) ** 2 / len(v) for v in groups.values())
    ssb_closed = sb - s_tot**2 / n
    ssw_closed = ss_tot - sb
    assert abs(ssb_def - ssb_closed) < 1e-6 * max(1.0, abs(ssb_def))
    assert abs(ssw_def - ssw_closed) < 1e-6 * max(1.0, abs(ssw_def))
    sst = ss_tot - s_tot**2 / n
    assert abs((ssb_closed + ssw_closed) - sst) < 1e-6 * max(1.0, sst)


@given(
    st.tuples(st.integers(min_value=1, max_value=500), st.integers(min_value=100, max_value=10**7)),
    st.tuples(st.integers(min_value=1, max_value=500), st.integers(min_value=100, max_value=10**7)),
)
@settings(max_examples=100, deadline=None)
def test_revenue_bridge_effects_sum_to_delta(prev, cur):
    """orders_revenue_bridge: volume + price + mix effects must
    reconstruct the revenue delta exactly (before rounding)."""
    pn, pc = prev
    n, c = cur
    old_avg, new_avg = pc / pn, c / n
    delta = c - pc
    volume = (n - pn) * old_avg
    price = pn * (new_avg - old_avg)
    mix = (n - pn) * (new_avg - old_avg)
    assert abs((volume + price + mix) - delta) < 1e-6 * max(1.0, abs(delta))


@given(
    st.lists(st.integers(min_value=-32768, max_value=32767), min_size=1, max_size=400),
    st.sampled_from([1, 2, 4]),
    st.sampled_from([8000, 16000, 44100, 48000]),
)
@settings(max_examples=100, deadline=None)
def test_wav_codec_round_trip_lossless(samples, channels, rate):
    """encode_wav -> decode_audio_real is bit-lossless for any int16
    signal, channel count, and sample rate (the property the
    multimodal_decode_audio_real oracle relies on per clip)."""
    import numpy as np

    from load_datawarehouse_spark.ops import multimodal as mm

    sig = np.asarray(samples, dtype=np.int16)
    sig = sig[: len(sig) - len(sig) % channels]
    if len(sig) == 0:
        sig = np.zeros(channels, dtype=np.int16)
    dec, r = mm.decode_audio_real(mm.encode_wav(sig, rate, channels))
    assert r == rate
    assert dec.shape == (len(sig) // channels, channels)
    assert np.array_equal(dec.reshape(-1), sig)


def test_lineage_cut_gates_on_deploy_mode():
    """The cluster branch of lineage_cut/lineage_cut_eager can never
    run under the local test master, so gate-select logic is verified
    with stand-in frames: local masters localCheckpoint, cluster
    masters persist (advisor r5: non-replicated localCheckpoint blocks
    are unrecoverable after executor loss and pin the pre-AQE plan)."""
    from types import SimpleNamespace

    from load_datawarehouse_spark.ops._util import lineage_cut

    calls = []

    def fake(master):
        df = SimpleNamespace(
            sparkSession=SimpleNamespace(
                sparkContext=SimpleNamespace(master=master)
            ),
            localCheckpoint=lambda eager: calls.append(("local_ckpt", eager)) or "ckpt",
            persist=lambda level: calls.append(("persist", str(level))) or "persisted",
        )
        return df

    assert lineage_cut(fake("local[8]")) == "ckpt"
    assert calls == [("local_ckpt", False)]
    calls.clear()
    assert lineage_cut(fake("spark://host:7077")) == "persisted"
    assert calls and calls[0][0] == "persist" and "Disk" in calls[0][1]
    calls.clear()
    assert lineage_cut(fake("yarn")) == "persisted"


def test_cluster_lineage_cuts_are_tracked_and_released():
    """Cluster-branch persist() frames must be registered for release
    (advisor r6: a long-lived cluster session otherwise accumulates
    cached RDDs across queries until LRU thrash) and
    release_lineage_cuts() must unpersist exactly those frames."""
    from types import SimpleNamespace

    from load_datawarehouse_spark.ops import _util

    released = []

    def fake(master):
        frame = SimpleNamespace(
            sparkSession=SimpleNamespace(
                sparkContext=SimpleNamespace(master=master)
            ),
            localCheckpoint=lambda eager: "ckpt",
        )
        frame.persist = lambda level: frame
        frame.unpersist = lambda: released.append(frame)
        return frame

    _util._CUT_FRAMES.clear()  # other tests' stand-in frames
    local = _util.lineage_cut(fake("local[8]"))
    assert local == "ckpt" and not _util._CUT_FRAMES  # local mode untracked
    a = _util.lineage_cut(fake("spark://host:7077"))
    b = _util.lineage_cut(fake("k8s://https://host"))
    assert _util._CUT_FRAMES == [a, b]
    assert _util.release_lineage_cuts() == 2
    assert released == [b, a] and not _util._CUT_FRAMES
    assert _util.release_lineage_cuts() == 0  # idempotent


def test_triangle_degree_cap_bites(spark, monkeypatch):
    """graph_triangle_count's hub guard (_TRIANGLE_DEGREE_CAP) never
    bites on the synthetic corpus (max supported degree 298 at sf1),
    so this locks the code path directly: with the cap forced below
    the corpus's degrees every vertex is a hub, the graph empties,
    and all three counts hit their documented zero floor; with the
    support floor forced above the corpus's max support the edge set
    empties the same way."""
    from load_datawarehouse_spark.ops import relational

    base = relational.graph_triangle_count(spark, "/root/testdata/sf0.001").collect()[0]
    assert base["n_edges"] > 0 and base["n_triangles"] > 0

    monkeypatch.setattr(relational, "_TRIANGLE_DEGREE_CAP", 0)
    capped = relational.graph_triangle_count(spark, "/root/testdata/sf0.001").collect()[0]
    assert (capped["n_edges"], capped["n_wedges"], capped["n_triangles"]) == (0, 0, 0)
    monkeypatch.undo()

    monkeypatch.setattr(relational, "_TRIANGLE_MIN_SUPPORT", 10**9)
    pruned = relational.graph_triangle_count(spark, "/root/testdata/sf0.001").collect()[0]
    assert (pruned["n_edges"], pruned["n_wedges"], pruned["n_triangles"]) == (0, 0, 0)


def test_runners_release_lineage_cuts(spark):
    """Verdict r7 #2: release_lineage_cuts() must actually be WIRED
    into every long-lived runner's per-query epilogue, not just
    defined. Two locks: (a) each runner source calls it; (b) running a
    composed query through the shared oracle-harness epilogue leaves
    _CUT_FRAMES empty even when cluster-mode cuts were accumulated."""
    import os
    from types import SimpleNamespace

    from load_datawarehouse_spark.ops import _util

    root = os.path.join(os.path.dirname(__file__), "..")
    for runner in ("bench.py", "scalecheck.py", "scaleverify.py",
                   "windowcheck.py", os.path.join("tests", "oracle_harness.py")):
        src = open(os.path.join(root, runner)).read()
        assert "release_lineage_cuts()" in src, (
            f"{runner}: per-query epilogue does not release lineage cuts"
        )

    # simulate a cluster-mode query that persisted two cut frames, then
    # run a real query through the harness epilogue (compare_query)
    released = []
    fake = SimpleNamespace(unpersist=lambda: released.append(1))
    _util._CUT_FRAMES.clear()
    _util._track_cut(fake)
    _util._track_cut(fake)

    import sys

    sys.path.insert(0, os.path.join(root, "tests"))
    import __spark_entry__ as e
    from oracle_harness import compare_query, duckdb_connect

    name = "q1_pricing_summary"
    con = duckdb_connect("/root/testdata/sf0.001")
    compare_query(e.queries()[name](spark, "/root/testdata/sf0.001"),
                  con, e.oracle_sql()[name], name)
    assert not _util._CUT_FRAMES and len(released) == 2

    # query_scope releases on exit, including the exception path
    _util._track_cut(fake)
    try:
        with _util.query_scope():
            raise RuntimeError("boom")
    except RuntimeError:
        pass
    assert not _util._CUT_FRAMES and len(released) == 3


def test_spread_small_scan_guard(spark):
    # the spread must fire on an under-parallel frame and be an exact
    # no-op (same plan object) once the frame already has >= cluster
    # slots - the property that makes it free on a many-file corpus
    from load_datawarehouse_spark.session import spread_small_scan

    few = spark.range(1000).coalesce(1)
    spread = spread_small_scan(few)
    n = spark.sparkContext.defaultParallelism
    assert spread.rdd.getNumPartitions() == n
    assert sorted(r.id for r in spread.collect()) == list(range(1000))
    wide = spark.range(1000).repartition(n)
    assert spread_small_scan(wide) is wide


def test_no_raw_broadcast_hints():
    """Round-10 broadcast-audit lock (VERDICT r9 "What's wrong" #5):
    every forced broadcast hint in the operator library must go
    through ``ops._util.bcast_bounded`` with a documented CONSTANT
    row bound — a raw ``F.broadcast(`` call site is how four
    row-proportional frames (kmeans assignments, minhash signatures,
    the customer FK side, per-part counts) became 100-TB scale
    killers in rounds 8-9. sf-proportional frames must join bare and
    let AQE's runtime size check decide."""
    import pathlib
    import re

    pkg = pathlib.Path("load_datawarehouse_spark")
    offenders = []
    for path in sorted(pkg.rglob("*.py")):
        if path.name == "_util.py":  # the helper's own implementation
            continue
        for i, line in enumerate(path.read_text().splitlines(), 1):
            code = line.split("#", 1)[0]
            if re.search(r"\bF\.broadcast\(", code):
                offenders.append(f"{path}:{i}")
    assert not offenders, (
        "raw F.broadcast( call sites (use bcast_bounded(df, bound) for "
        "constant-bounded frames, or a bare join + AQE for anything "
        f"data-proportional): {offenders}"
    )


def test_bcast_bounded_sites_match_coverage_table():
    """COVERAGE.md's broadcast-bound table states how many forced
    hints exist and under which bound categories. Pin the claimed
    site count to the live grep so the table cannot drift."""
    import pathlib
    import re

    pkg = pathlib.Path("load_datawarehouse_spark")
    n_sites = 0
    for path in sorted(pkg.rglob("*.py")):
        if path.name == "_util.py":
            continue
        text = path.read_text()
        n_sites += len(re.findall(r"\bbcast_bounded\(", text))
    text = open("COVERAGE.md").read()
    m = re.search(r"(\d+) forced broadcast hints?", text)
    assert m, "COVERAGE.md: no 'N forced broadcast hints' statement found"
    assert int(m.group(1)) == n_sites, (
        f"COVERAGE.md claims {m.group(1)} forced broadcast hints; "
        f"the package has {n_sites} bcast_bounded sites"
    )


def test_mg_merged_candidates_capped_and_no_hitter_lost(spark):
    """Round-11 (VERDICT r10 #1): the second-level mergeable-MG
    reduction must cap the candidate set at m rows EVEN when the
    per-partition summaries union to far more (vocab >> m across many
    partitions), and the pigeonhole/weight invariant must keep every
    true > n/m hitter. Synthetic corpus: 2000 noise words x 25 copies
    + one 'hot' word at ~7% frequency, spread over 64 partitions —
    the unmerged union would be up to 64 x 200 rows."""
    from pyspark.sql import functions as F

    from load_datawarehouse_spark.ops import llm as _llm

    n_noise, rep = 2000, 25
    words = (
        spark.range(n_noise * rep)
        .select(F.concat(F.lit("w"), F.col("id") % n_noise).alias("word"))
        .union(
            spark.range(int(n_noise * rep * 0.08)).select(
                F.lit("hot").alias("word")
            )
        )
        .repartition(64)
    )
    cand = _llm._mg_candidates(words).collect()
    assert len(cand) <= _llm._MG_M, len(cand)
    assert "hot" in {r["word"] for r in cand}


def test_mg_heavy_hitters_partitioning_invariant(spark):
    """The op's OUTPUT (candidates -> exact recount -> threshold) must
    be bit-identical under radically different word-stream
    partitionings (1 vs 64 partitions — the high-partition-count
    regime where per-partition summaries differ the most)."""
    from pyspark.sql import functions as F

    from load_datawarehouse_spark.ops import llm as _llm
    from load_datawarehouse_spark.session import load_tables as _lt
    from tests.conftest import SF_DIR

    t = _lt(spark, SF_DIR, register_views=False)
    words = t["documents"].select(
        F.explode(F.split("text", " ", -1)).alias("word")
    )
    tot = words.agg(F.count(F.lit(1)).alias("n"))

    def hitters(words_p):
        cand = _llm._mg_candidates(words_p)
        return sorted(
            (r["word"], r["cnt"])
            for r in words.join(cand, "word", "left_semi")
            .groupBy("word")
            .agg(F.count(F.lit(1)).alias("cnt"))
            .crossJoin(tot)
            .filter(F.col("cnt") * _llm._MG_M > F.col("n"))
            .collect()
        )

    narrow = hitters(words.coalesce(1))
    wide = hitters(words.repartition(64))
    assert narrow == wide
    assert narrow, "sf0.001 corpus must yield at least one heavy hitter"


def test_no_cache_hidden_partitioning():
    """Round-11 policy lock (VERDICT r10 #2/#4): a cached DataFrame
    reports UnknownPartitioning under AQE (measured, Spark 4.1), so
    ``repartition(..., key).persist()`` silently re-exchanges every
    downstream key-partitioned join/groupBy — the bug fixed twice
    (kmeans_lloyd round 10, both PCA ops round 11). Two rules over
    ``ops/``:

    1. no raw ``.persist(`` / ``.cache(`` call sites outside
       ``_util.py`` — ``lineage_cut`` / ``lineage_cut_eager`` are the
       sanctioned, release-tracked wrappers;
    2. no persist/cache/localCheckpoint/lineage_cut applied to an
       expression whose fluent chain contains a BY-KEY repartition
       (``repartition(n, key...)``) — cut slim frames, keep
       partitioned element streams VISIBLE to Catalyst. Variables are
       tracked per function body (``x = df.repartition(n, k)...``
       followed by ``lineage_cut(x)`` / ``x.transform(lineage_cut)``
       is caught too), so the kmeans/PCA regression can't be
       reintroduced through a simple assignment.
    """
    import ast
    import pathlib

    offenders = []
    pkg = pathlib.Path("load_datawarehouse_spark")
    for path in sorted(pkg.rglob("*.py")):
        tree = ast.parse(path.read_text())
        in_util = path.name == "_util.py"
        # per-function (and module-level) sets of names assigned from
        # an expression whose chain contains a keyed repartition —
        # single-assignment tracking, no flow sensitivity needed for
        # the realistic pattern
        tainted_in_scope: dict[int, set] = {}
        scope_of: dict[int, int] = {}

        def _scopes(t):
            stack = [id(t)]
            tainted_in_scope[id(t)] = set()

            def walk(n, cur):
                for child in ast.iter_child_nodes(n):
                    nxt = cur
                    if isinstance(
                        child, (ast.FunctionDef, ast.AsyncFunctionDef)
                    ):
                        tainted_in_scope[id(child)] = set()
                        nxt = id(child)
                    scope_of[id(child)] = nxt
                    walk(child, nxt)

            walk(t, id(t))

        _scopes(tree)

        def chain_has_keyed_repartition(node, scope) -> bool:
            for sub in ast.walk(node):
                if (
                    isinstance(sub, ast.Call)
                    and isinstance(sub.func, ast.Attribute)
                    and sub.func.attr in ("repartition", "repartitionByRange")
                    and len(sub.args) >= 2
                ):
                    return True
                if (
                    isinstance(sub, ast.Name)
                    and isinstance(sub.ctx, ast.Load)
                    and sub.id in tainted_in_scope.get(scope, ())
                ):
                    return True
            return False

        # first pass: taint assigned names whose value chain contains
        # a keyed repartition (propagates through re-derivations since
        # the value walk also consults the taint set, in source order)
        for node in ast.walk(tree):
            if isinstance(node, ast.Assign) and isinstance(node.value, ast.expr):
                scope = scope_of.get(id(node), id(tree))
                if chain_has_keyed_repartition(node.value, scope):
                    for tgt in node.targets:
                        if isinstance(tgt, ast.Name):
                            tainted_in_scope[scope].add(tgt.id)

        for node in ast.walk(tree):
            if not isinstance(node, ast.Call):
                continue
            scope = scope_of.get(id(node), id(tree))
            receiver = None
            if isinstance(node.func, ast.Attribute) and node.func.attr in (
                "persist",
                "cache",
                "localCheckpoint",
            ):
                if node.func.attr in ("persist", "cache") and not in_util:
                    offenders.append(f"{path}:{node.lineno} raw .{node.func.attr}(")
                receiver = node.func.value
            elif isinstance(node.func, ast.Name) and node.func.id.startswith(
                "lineage_cut"
            ):
                receiver = node.args[0] if node.args else None
            elif (
                # the repo idiom: df.transform(lineage_cut) — the cut
                # caches the RECEIVER chain
                isinstance(node.func, ast.Attribute)
                and node.func.attr == "transform"
                and node.args
                and isinstance(node.args[0], ast.Name)
                and node.args[0].id.startswith("lineage_cut")
            ):
                receiver = node.func.value
            if receiver is not None and chain_has_keyed_repartition(
                receiver, scope
            ):
                offenders.append(
                    f"{path}:{node.lineno} cache/cut hides a keyed repartition"
                )
    assert not offenders, (
        "cache-hidden-partitioning policy violations (see kmeans_lloyd's "
        f"elems comment for the template fix): {offenders}"
    )


def test_shuffle_partitions_fallback():
    """ADVICE r10: int(conf.get('spark.sql.shuffle.partitions')) raises
    on deployments that set the key to a non-numeric value such as
    'auto' — the helper must fall back to defaultParallelism."""
    from load_datawarehouse_spark.session import shuffle_partitions

    class _Conf:
        def __init__(self, val):
            self._v = val

        def get(self, k):
            return self._v

    class _SC:
        defaultParallelism = 7

    class _Spark:
        def __init__(self, val):
            self.conf = _Conf(val)
            self.sparkContext = _SC()

    assert shuffle_partitions(_Spark("32")) == 32
    assert shuffle_partitions(_Spark("auto")) == 7
    assert shuffle_partitions(_Spark(None)) == 7


def test_lsh_band_size_sql_parity():
    """The corpus-derived LSH band size exists in two places — the
    Python formula (`_lsh_band_size`, used by `_minhash_bands`) and
    its SQL twin (`_LSH_PARAMS_SQL`, pasted into every banding
    oracle). They MUST agree for every corpus size or the engine and
    its oracles silently band differently. Probed across six decades
    plus the decade boundaries themselves (exact powers of ten times
    the base, where float log10 is the only plausible divergence)."""
    import duckdb

    from load_datawarehouse_spark.ops.llm import _LSH_PARAMS_SQL, _lsh_band_size

    con = duckdb.connect()
    for n in (1, 499, 5_000, 10_000, 50_000, 100_000, 500_000,
              1_000_000, 5_000_000, 10_000_000, 5 * 10**9):
        con.execute(f"CREATE OR REPLACE VIEW documents AS SELECT * FROM range({n})")
        bs = con.execute(f"WITH {_LSH_PARAMS_SQL} SELECT bs FROM params").fetchone()[0]
        assert bs == _lsh_band_size(n), (n, bs, _lsh_band_size(n))
    con.close()


def test_bands_from_sigs_shapes(spark):
    """Structural lock on the generalized banding: band_size=2 gives
    4 full bands over all 8 sigs; band_size=3 gives 2 full bands and
    DROPS the trailing two sigs (no partial band); keys are canonical
    in hash-function order, so permuting sig VALUES between the two
    slots of a band changes the key (the old MIN||MAX form did not)."""
    from load_datawarehouse_spark.ops.llm import N_MINHASH, _bands_from_sigs

    row = {f"sig{j}": f"{j:08d}" for j in range(N_MINHASH)}
    swapped = dict(row, sig0=row["sig1"], sig1=row["sig0"])
    sigs = spark.createDataFrame(
        [dict(doc_id=1, **row), dict(doc_id=2, **swapped)]
    )
    b2 = _bands_from_sigs(sigs, 2).collect()
    assert sorted({r["band"] for r in b2}) == [0, 1, 2, 3]
    k1 = {r["band"]: (r["bk1"], r["bk2"]) for r in b2 if r["doc_id"] == 1}
    k2 = {r["band"]: (r["bk1"], r["bk2"]) for r in b2 if r["doc_id"] == 2}
    assert k1[0] != k2[0], "order-canonical key must see the swap"
    assert all(k1[b] == k2[b] for b in (1, 2, 3))
    b3 = _bands_from_sigs(sigs, 3).collect()
    assert sorted({r["band"] for r in b3}) == [0, 1]


def test_candidate_counters_bound_their_ops(spark):
    """Round-12 accounting contract (VERDICT r11 #4): every
    CANDIDATE_PAIR_COUNTS counter measures the PRE-threshold candidate
    stage of its op, so it must upper-bound the op's final pair count
    (containment emits both directions of each unordered candidate,
    hence the factor 2). Counters share the op's own candidate-stage
    helpers, so a drift between the two is a bug in the op itself."""
    from tests.conftest import SF_DIR

    from load_datawarehouse_spark.ops import llm as _llm

    counts = {
        name: fn(spark, SF_DIR)
        for name, fn in _llm.CANDIDATE_PAIR_COUNTS.items()
    }
    for name, c in counts.items():
        assert isinstance(c, int) and c >= 0, name

    import __spark_entry__ as entry_mod

    q = entry_mod.queries()
    for name, factor in [
        ("dedup_ngram_jaccard", 1),
        ("dedup_minhash_lsh", 1),
        ("dedup_minhash_verified", 1),
        ("dedup_tfidf_cosine_pairs", 1),
        ("dedup_simhash_neardup", 1),
        ("dedup_embedding_neardup", 1),
        ("dedup_levenshtein_verify", 1),
        ("dedup_shingle_containment", 2),
    ]:
        out_rows = q[name](spark, SF_DIR).count()
        assert factor * counts[name] >= out_rows, (
            f"{name}: candidates {counts[name]} x{factor} < output {out_rows}"
        )


# --- vacuous-evidence guard (VERDICT r13 #3) --------------------------------

#: Registered queries that are LEGITIMATELY empty at every certified
#: scale, each with its adjudication. Currently none: round 14
#: re-anchored the three ops whose predicates could never be satisfied
#: by the corpus (join_range_bucketed, join_asof_forward,
#: events_velocity_flags). Ops empty at SOME scales but populated at
#: others don't belong here — they pass via their populated scale
#: (and since round 17 the sf0.01/sf1 per-scale gates require a
#: justification at EACH of those scales individually).
EXPECTED_EMPTY_AT_ALL_SCALES: dict[str, str] = {}


def test_no_registered_query_is_vacuous(spark):
    """Every registered query must have produced > 0 rows at SOME
    certified scale — a green oracle hash-match on the empty set
    proves only that both engines agree nothing matches, which is how
    three ops sat 'green' for 12 rounds with predicates the corpus
    could never satisfy (VERDICT r13). Evidence: the max spark_rows
    over every driver CORRECTNESS record plus the sf1 SCALEVERIFY
    rows; queries with no positive record anywhere (including
    brand-new ops with no record at all) are executed LIVE at sf0.01
    and must return rows or carry a justification in
    EXPECTED_EMPTY_AT_ALL_SCALES."""
    import glob
    import os

    import __spark_entry__ as e

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    best: dict[str, int] = {}
    for f in sorted(glob.glob(os.path.join(repo, "CORRECTNESS_r*.json"))):
        for k, v in json.load(open(f)).items():
            if isinstance(v, dict) and isinstance(v.get("spark_rows"), int):
                best[k] = max(best.get(k, 0), v["spark_rows"])
    sv_path = os.path.join(repo, "SCALEVERIFY.json")
    if os.path.exists(sv_path):
        for k, v in json.load(open(sv_path)).get("queries", {}).items():
            if isinstance(v, dict) and isinstance(v.get("rows"), int):
                best[k] = max(best.get(k, 0), v["rows"])

    q = e.queries()
    suspects = [n for n in q if best.get(n, 0) == 0 and n not in EXPECTED_EMPTY_AT_ALL_SCALES]
    vacuous = []
    for name in suspects:
        # no positive record anywhere: adjudicate live at the
        # driver's correctness scale (cheap — normally zero suspects)
        if q[name](spark, "/root/testdata/sf0.01").count() == 0:
            vacuous.append(name)
    assert not vacuous, (
        "registered queries with ZERO rows at every certified scale "
        f"AND at live sf0.01 — their oracle matches are vacuous: {vacuous}. "
        "Re-anchor the predicate to a populated domain or record a "
        "justification in EXPECTED_EMPTY_AT_ALL_SCALES."
    )


#: Registered queries that are LEGITIMATELY empty at the DRIVER's only
#: correctness scale (sf0.01) while populated at certified larger
#: scales, each with its adjudication (VERDICT r15 #1). The driver's
#: green row for these proves empty-set agreement only; the populated
#: evidence lives in the sf1 SCALEVERIFY + census records.
EXPECTED_EMPTY_AT_DRIVER_SCALE: dict[str, str] = {
    "dedup_exact_groups": (
        "exact full-document duplicates (md5(text) collisions) do not "
        "exist in the sf0.01 corpus by construction — the generator "
        "emits unique documents, and the scale corpus only gains exact "
        "copies from replication at sf>=1 (80 dup groups at sf1, "
        "hash-verified there). Weakening the key to populate sf0.01 "
        "would change the op's claim from exact to near dedup, which "
        "dedup_exact_normalized and the near-dup families already cover."
    ),
}


def test_no_registered_query_is_vacuous_at_driver_scale():
    """VERDICT r15 #1 + #6 (hard gate): the driver's correctness sweep
    runs ONLY at sf0.01, so a query that is empty there gets green
    rows that prove nothing beyond empty-set agreement — even when a
    larger certified scale populates it. Require, from the recorded
    census artifact: (a) every registered query HAS a successful
    sf0.01 census row (a new op without one fails here until
    `python census.py --only <op>` is run — the staleness gate), and
    (b) every query produces >= 1 row at sf0.01 or carries a recorded
    justification in EXPECTED_EMPTY_AT_DRIVER_SCALE."""
    import os

    import __spark_entry__ as e

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    path = os.path.join(repo, "CENSUS.json")
    assert os.path.exists(path), "CENSUS.json missing — run `python census.py`"
    sf001 = json.load(open(path)).get("scales", {}).get("sf0.01", {})
    q = e.queries()

    missing = [n for n in q if n not in sf001 or "error" in sf001[n]]
    assert not missing, (
        "registered queries with no successful sf0.01 census row — run "
        f"`python census.py --only {','.join(missing)}` and commit: {missing}"
    )
    stale_just = sorted(set(EXPECTED_EMPTY_AT_DRIVER_SCALE) - set(q))
    assert not stale_just, f"justifications for unregistered queries: {stale_just}"
    empty = [
        n for n in q
        if sf001[n].get("n_rows", 0) == 0 and n not in EXPECTED_EMPTY_AT_DRIVER_SCALE
    ]
    assert not empty, (
        "queries EMPTY at the driver's only correctness scale (sf0.01) — "
        f"their driver rows are vacuous: {empty}. Re-anchor the predicate "
        "so sf0.01 yields rows (keeping larger-scale semantics "
        "meaningful) or record a justification in "
        "EXPECTED_EMPTY_AT_DRIVER_SCALE."
    )


#: Registered queries that are LEGITIMATELY empty at the CERTIFIED
#: scale (sf1) while populated at sf0.01, each with its adjudication
#: — the symmetric twin of EXPECTED_EMPTY_AT_DRIVER_SCALE (VERDICT
#: r16 #1: an sf1 SCALEVERIFY "match" on an empty result proves only
#: empty-set agreement at the one scale that exists to prove scale
#: behavior). Starts EMPTY: round 17 re-anchored all three r16
#: offenders (heavy_hitters_misra_gries m 200 -> 4000,
#: q11_important_stock fraction-of-total -> 4x-average,
#: pipeline_curation_v3 gate-before-cap) so sf1 is populated.
EXPECTED_EMPTY_AT_SF1: dict[str, str] = {}


def test_no_registered_query_is_vacuous_at_certified_scale():
    """VERDICT r16 #1 (hard gate): the sf1 SCALEVERIFY sweep is the
    evidence that operators behave at 100x the driver's correctness
    scale — a query that returns 0 rows there gets a "match"
    certificate that proves nothing beyond empty-set agreement.
    Require, from the recorded census artifact: (a) every registered
    query HAS a successful sf1 census row (a new op without one fails
    here until ``python census.py --sf-dir /root/repo/.scaledata/sf1.0
    --label sf1 --only <op>`` is run — the sf1 staleness gate), and
    (b) every query produces >= 1 row at sf1 or carries a recorded
    justification in EXPECTED_EMPTY_AT_SF1."""
    import os

    import __spark_entry__ as e

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    path = os.path.join(repo, "CENSUS.json")
    assert os.path.exists(path), "CENSUS.json missing — run `python census.py`"
    sf1 = json.load(open(path)).get("scales", {}).get("sf1", {})
    q = e.queries()

    missing = [n for n in q if n not in sf1 or "error" in sf1[n]]
    assert not missing, (
        "registered queries with no successful sf1 census row — run "
        "`python census.py --sf-dir /root/repo/.scaledata/sf1.0 --label "
        f"sf1 --only {','.join(missing)}` and commit: {missing}"
    )
    stale_just = sorted(set(EXPECTED_EMPTY_AT_SF1) - set(q))
    assert not stale_just, f"justifications for unregistered queries: {stale_just}"
    empty = [
        n for n in q
        if sf1[n].get("n_rows", 0) == 0 and n not in EXPECTED_EMPTY_AT_SF1
    ]
    assert not empty, (
        "queries EMPTY at the certified scale (sf1) — their sf1 "
        f"SCALEVERIFY certificates are vacuous: {empty}. Re-anchor the "
        "predicate so sf1 yields rows (keeping the operator claim) or "
        "record a justification in EXPECTED_EMPTY_AT_SF1."
    )


#: Query groups whose FULL OUTPUT is identical at censused scales ON
#: PURPOSE — plan-twins whose identical result IS the correctness
#: claim (different physical strategy / engine path, same relation).
#: Any unadjudicated identical-output group is registry padding or a
#: vacuous-branch bug (round 16's output-hash census caught
#: join_asof_nearest as a FULL twin of join_asof — the forward leg
#: never fired on the corpus — and it was re-anchored, not listed).
ADJUDICATED_TWIN_OUTPUTS: dict[frozenset, str] = {
    frozenset({"join_hint_shuffle_hash", "join_skew_salted"}):
        "same join semantics; salted-key rewrite vs planner hint — identical result is the claim",
    frozenset({"join_left_outer", "join_right_outer"}):
        "the SAME relational expression written from each side: customer leftouter orders == orders rightouter customer by definition",
    frozenset({"dedup_minhash_verified", "dedup_ngram_jaccard"}):
        "different candidate generators (LSH bands vs shingle index), same exact-Jaccard verify — identical pair set IS the LSH recall claim",
    frozenset({"similarity_cosine_topk", "similarity_sq_topk"}):
        "scalar-quantized rescore must recover the exact float top-k — equality is the SQ correctness claim",
    frozenset({"udf_arrow_optimized", "udf_python_scalar"}):
        "UDF flavor equivalence: same kernel via arrow-optimized vs row-at-a-time python UDF",
    frozenset({"stream_sliding_counts", "time_window_sliding"}):
        "exactly-once streaming vs its batch twin — equality is the streaming claim",
    frozenset({"stream_tumbling_counts", "time_window_tumbling"}):
        "exactly-once streaming vs its batch twin — equality is the streaming claim",
    frozenset({"stream_session_windows", "time_window_session"}):
        "exactly-once streaming vs its batch twin — equality is the streaming claim",
}


def test_duplicate_outputs_are_adjudicated_twins():
    """Round 16: the r15 manual duplicate-output probe as a standing
    gate. census.py records an order-independent full-output
    fingerprint (``output_hash``) per populated query; at every
    censused scale, any group of queries sharing (n_rows,
    output_hash) must be a recorded plan-twin group in
    ADJUDICATED_TWIN_OUTPUTS. This is the evidence class that caught
    join_asof_nearest shadowing join_asof on 100% of corpus rows."""
    import collections
    import os

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    scales = json.load(open(os.path.join(repo, "CENSUS.json")))["scales"]
    assert any(
        "output_hash" in row for m in scales.values() for row in m.values()
    ), "no output_hash fields — regenerate CENSUS.json with census.py (r16+)"
    offenders = []
    for label, m in scales.items():
        groups = collections.defaultdict(list)
        for name, row in m.items():
            if row.get("n_rows", 0) > 0 and "output_hash" in row:
                groups[
                    (row["n_rows"], row["output_hash"], row.get("output_hash2"))
                ].append(name)
        for names in groups.values():
            if len(names) > 1 and frozenset(names) not in ADJUDICATED_TWIN_OUTPUTS:
                offenders.append((label, sorted(names)))
    assert not offenders, (
        "identical-output query groups without a plan-twin adjudication "
        f"(padding or a vacuous-branch bug): {offenders}. Re-anchor one "
        "of the queries or record the twin claim in "
        "ADJUDICATED_TWIN_OUTPUTS."
    )
    stale = [
        g for g in ADJUDICATED_TWIN_OUTPUTS
        if not g <= set.union(*(set(m) for m in scales.values()))
    ]
    assert not stale, f"twin adjudications for unregistered queries: {stale}"
    # VERDICT r16 #6: twins must STAY twins. The adjudicated groups
    # are equality CLAIMS (streaming-vs-batch, SQ-vs-brute, UDF
    # flavors) — if a group ever stops hash-matching at a censused
    # scale where both members are populated, that is a silent
    # divergence of a claimed-equal pair, which previously would just
    # drop out of the dup-group list unnoticed.
    diverged = []
    for g in ADJUDICATED_TWIN_OUTPUTS:
        for label, m in scales.items():
            rows = [m.get(n) for n in sorted(g)]
            if any(r is None or "error" in r for r in rows):
                continue  # scale not censused for this pair (yet)
            keys = {
                (r.get("n_rows"), r.get("output_hash"), r.get("output_hash2"))
                for r in rows
            }
            if any(r.get("n_rows", 0) > 0 for r in rows) and len(keys) > 1:
                diverged.append((label, sorted(g), sorted(map(str, keys))))
    assert not diverged, (
        "adjudicated twin groups that no longer hash-match at a censused "
        f"scale (the claimed-equal pair has DIVERGED): {diverged}"
    )


# --- column-level vacuous-evidence guard (VERDICT r14 #2 + #6) --------------

#: Output columns that are LEGITIMATELY all-NULL at every censused
#: scale, keyed "query.column", each with its adjudication. Starts
#: EMPTY: the round-14 all-NULL column census found exactly one
#: instance (scalar_try_arith.flag_as_number) and round 15 re-anchored
#: it to a mixed string feed with both try_cast branches live.
EXPECTED_ALLNULL_COLUMNS: dict[str, str] = {}


def test_census_covers_registry_and_no_allnull_columns():
    """The recorded census artifact (CENSUS.json, written by
    ``census.py``) must cover every registered query, and every output
    column must be non-NULL in >= 1 row at SOME censused scale where
    the query produced rows. This is the column-level extension of
    ``test_no_registered_query_is_vacuous``: a column that is NULL in
    every row at every scale hash-matches a broken expression that
    returns NULL unconditionally — its oracle agreement proves nothing
    about the success branch (the class VERDICT r14 #1 flagged on
    ``scalar_try_arith.flag_as_number``). Queries empty at every
    censused scale are the ROW-level guard's case, skipped here."""
    import os

    import __spark_entry__ as e

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    path = os.path.join(repo, "CENSUS.json")
    assert os.path.exists(path), (
        "CENSUS.json missing — run `python census.py` (the combined "
        "label/flag/numeric/NULL evidence census) and commit the artifact"
    )
    scales = json.load(open(path)).get("scales", {})
    q = e.queries()

    def rows_for(name):
        return [
            s[name]
            for s in scales.values()
            if name in s and "error" not in s[name]
        ]

    missing = [n for n in q if not rows_for(n)]
    assert not missing, (
        "registered queries with no (successful) census row — run "
        f"`python census.py --only {','.join(missing)}`: {missing}"
    )

    vacuous = []
    for name in q:
        populated = [r for r in rows_for(name) if r.get("n_rows", 0) > 0]
        if not populated:
            continue  # row-level guard adjudicates empty-everywhere
        best_nonnull: dict[str, int] = {}
        for r in populated:
            for c, st in r["columns"].items():
                best_nonnull[c] = max(best_nonnull.get(c, 0), st["n_nonnull"])
        for c, nn in best_nonnull.items():
            if nn == 0 and f"{name}.{c}" not in EXPECTED_ALLNULL_COLUMNS:
                vacuous.append(f"{name}.{c}")
    assert not vacuous, (
        "output columns NULL in every row at every censused scale — "
        f"their oracle matches are vacuous for that expression: {vacuous}. "
        "Re-anchor the expression to a domain with live success rows or "
        "record a justification in EXPECTED_ALLNULL_COLUMNS."
    )


#: Output columns whose value is the SAME single constant at every
#: censused scale, each with its adjudication — the next evidence
#: class above all-NULL (a constant expression would hash-match a
#: literal). Three legitimate kinds: designed ASSERTIONS whose whole
#: point is the invariant value, columns constant BY PREDICATE or by
#: fixed input shape, and corpus data-model constants (most already
#: fixture-locked in tests/test_detector_fixtures.py so the live
#: branch is still proven on constructed inputs).
ADJUDICATED_CONSTANT_COLUMNS: dict[str, str] = {
    "agg_groupby_distinct.last_ship": "per-group MAX saturates to the corpus ship horizon: every (returnflag, linestatus) group is dense through 2001-11",
    "agg_hll_mergeable_rollup.est_ok": "designed assertion: HLL estimate within tolerance — false IS the failure signal",
    "chunking_distributed.row_oversize": "clean corpus has no oversized rows; the raise branch is unit-locked (WarehouseRowOversize)",
    "contamination_embedding_check.contaminated": "clean corpus; positive branch fixture-locked (test_detector_fixtures)",
    "dedup_embedding_exact.n_copies": "generator writes exactly one duplicate per duplicated vector -> every group has 2 copies",
    "dedup_tfidf_cosine_pairs.cosine": "only exact-text copies clear the 0.9 threshold on this corpus, and identical bags have cosine exactly 1.0",
    "dq_expectations_report.n_failed": "clean corpus passes all expectations; failing branch fixture-locked (test_detector_fixtures)",
    "events_bot_detection.bot_suspect": "detector negative on the clean corpus; positive branch fixture-locked (test_detector_fixtures)",
    "events_bot_detection.n_types": "every active user emits all 5 event types at every scale (per-user rate is scale-invariant)",
    "events_type_pmi.pmi": "every user co-occurs with every type pair -> joint == product of marginals -> PMI exactly 0 (independence by generator design)",
    "features_user_hash_vector.nnz": "5 distinct event types hash to 5 distinct buckets for every user (all users have all types)",
    "json_extract_props.max_k": "props key domain is 0..99 by generator; the aggregate saturates at every scale",
    "json_extract_props.min_k": "props key domain is 0..99 by generator; the aggregate saturates at every scale",
    "multimodal_caption_pairs.media_type": "the op filters to image media by design; the column restates the predicate",
    "multimodal_feature_extract.hist_0": "payload bytes are ASCII -> histogram bins 1 and 3 only (adjudicated r14; non-ASCII branch fixture-locked in test_feature_extract_nonascii_bytes_fill_other_bins)",
    "multimodal_feature_extract.hist_2": "payload bytes are ASCII -> histogram bins 1 and 3 only",
    "multimodal_feature_extract.hist_4": "payload bytes are ASCII -> histogram bins 1 and 3 only",
    "multimodal_feature_extract.hist_5": "payload bytes are ASCII -> histogram bins 1 and 3 only",
    "multimodal_feature_extract.hist_6": "payload bytes are ASCII -> histogram bins 1 and 3 only",
    "multimodal_feature_extract.hist_7": "payload bytes are ASCII -> histogram bins 1 and 3 only",
    "multimodal_video_frame_dedup.match_bps": "surviving groups are exact frame-signature duplicates -> 100.00% match by construction",
    "orders_duplicate_suspects.days_apart": "the replayed batch shifts order dates by exactly 3 days; the window is <= 7",
    "orders_pareto_skyline.n_orders": "cent-granular prices make frontier (cents, day) pairs unique, so every skyline point counts exactly 1 order; values >1 at sf1 were an artifact of the pre-r17 fixed-calendar-span corpus stacking replicas onto identical days (the count aggregation itself is live in the groupBy)",
    "pii_scrub.n_emails": "generator embeds exactly one email per document (adjudicated r14; scrub branch fixture-locked)",
    "pii_scrub.n_phones": "generator embeds exactly one phone per document",
    "pipeline_source_quality_card.dup_rate_bps": "base corpus has no intra-source exact dups; dup accounting is live in the dedup family fixtures",
    "quality_domain_cap.kept": "kept == the cap (10) because every domain exceeds it; the varying column is `dropped`",
    "sample_temperature_mix.mix_share": "20 equal-size sources at the chosen temperature -> uniform 1/20 share; unequal shares exercised in the unit fixture",
    "scalar_encoding_family.name_bits": "c_name is fixed-width 'Customer#%09d' (18 chars) -> 144 bits",
    "scalar_encoding_family.name_bytes": "c_name is fixed-width -> 18 bytes",
    "scalar_map.json_keys_sorted": "designed probe over a fixed-shape JSON/map literal: the keys ARE the assertion",
    "scalar_map.m_keys": "designed probe over a fixed-shape map: constant keys by construction",
    "scalar_map.n_json_keys": "fixed-shape JSON document: one key by construction",
    "scalar_math.l_linenumber": "constant by predicate: the op filters to l_linenumber == 1",
    "scalar_null_semantics.arith_propagates": "designed assertion: NULL-propagation invariant — false IS the failure signal",
    "scalar_null_semantics.first_present": "designed assertion: COALESCE fallback — any other value IS the failure signal",
    "scalar_string_shape.depunct": "input is the fixed c_name prefix 'Customer#' -> constant by input shape",
    "scalar_string_shape.stutter": "fixed 2-char prefix repeated 3x -> constant by input shape",
    "scalar_string_shape.trimmed_len": "c_name is fixed-width 18 chars",
    "schema_infer_documents.mode": "all five documents columns infer NULLABLE; REPEATED/REQUIRED modes are unit-locked on constructed records",
    "stats_sprt_monitoring.decision": "detector negative on the clean corpus (no effect injected); reject branch fixture-locked (test_detector_fixtures)",
    "text_rake_keyphrases.n_occurrences": "disjoint per-copy vocabularies: every surviving candidate phrase occurs exactly once",
    "text_readability_score.n_sents": "corpus text has no sentence punctuation (adjudicated r14; fixture-locked)",
    "warehouse_partitioned_upsert.untouched_intact": "designed assertion: untouched partitions byte-identical — false IS the failure signal",
}


def test_census_constant_columns_are_adjudicated():
    """Constant-column census (the evidence class one step above
    all-NULL): any output column that is the SAME single value in
    every row at EVERY censused scale could be a literal and still
    hash-match. Every such column must carry an adjudication in
    ``ADJUDICATED_CONSTANT_COLUMNS`` (designed assertion / constant by
    predicate / corpus data-model constant with the live branch
    fixture-locked). Scale-varying constants (e.g. a count that is
    150 at sf0.01 and 15,000 at sf1) demonstrably respond to data and
    are excluded. Stale adjudications (entries no longer constant or
    no longer registered) fail too, so the dict cannot rot."""
    import os

    import __spark_entry__ as e

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    scales = json.load(open(os.path.join(repo, "CENSUS.json")))["scales"]

    def consts(label):
        out = {}
        for q, r in scales.get(label, {}).items():
            if "error" in r or r.get("n_rows", 0) < 5:
                continue
            for c, st in r["columns"].items():
                if st.get("n_distinct") == 1 and st["n_nonnull"] == r["n_rows"]:
                    out[f"{q}.{c}"] = st.get("min")
        return out

    per_scale = [consts(lbl) for lbl in sorted(scales)]
    assert per_scale and all(per_scale), "census must cover >= 1 scale"
    same = {
        k
        for k in set.intersection(*[set(p) for p in per_scale])
        if len({p[k] for p in per_scale}) == 1
    }
    unadjudicated = sorted(same - set(ADJUDICATED_CONSTANT_COLUMNS))
    assert not unadjudicated, (
        "columns constant at the SAME value at every censused scale "
        f"without an adjudication: {unadjudicated}"
    )
    q = e.queries()
    stale = sorted(
        k for k in ADJUDICATED_CONSTANT_COLUMNS
        if k not in same or k.split(".", 1)[0] not in q
    )
    assert not stale, f"stale constant-column adjudications: {stale}"


#: Column pairs that are null-safe-IDENTICAL on every row at every
#: censused scale, keyed "query.colA==colB", each adjudicated. Two
#: legitimate kinds: identities BY CONSTRUCTION (the min-label
#: component id IS the min member) and corpus data-model identities
#: whose distinguishing branch is fixture/property-locked. The class
#: caught one real structural bug (window_ranking's rn <= 2 cut made
#: rank == dense_rank mathematically unavoidable — re-anchored to
#: rn <= 3, 7 divergent rows at sf0.01 / 270 at sf1).
ADJUDICATED_IDENTICAL_PAIRS: dict[str, str] = {
    "dedup_neardup_clusters.cluster_id==representative_doc": "identity by construction: min-label CC converges to the min member id and the representative is defined as MIN(doc_id)",
    "dedup_semantic_clusters.cluster_id==representative_vec": "identity by construction: same min-label component labeling over vec_id",
    "pipeline_training_prep.total_words==total_tokens": "corpus text has no punctuation, so the token regex degenerates to whitespace words; divergence fixture-locked (test_training_prep_tokens_diverge_from_words_on_punctuation: 24 words -> 47 tokens)",
    "pii_scrub.n_emails==n_phones": "generator embeds exactly one email AND one phone per document (both columns adjudicated constants)",
    "sample_temperature_mix.n_docs==target_docs": "20 equal-size sources: uniform shares x floor(share * total) reproduces exactly 25 docs per source",
    "dedup_intradoc_segments.n_segments==n_kept": "corpus documents have no intra-doc repeated segments; the drop branch is fixture-locked on the real op (test_intradoc_segment_dedup_drops_repeat_and_hashes_kept_order) plus the pure-python property model",
    "multimodal_feature_extract.hist_0==hist_2": "ASCII payloads: bins 0/2/4/5/6/7 are all zero (adjudicated constants), hence pairwise identical; non-ASCII bins fixture-locked (test_feature_extract_nonascii_bytes_fill_other_bins)",
    "multimodal_feature_extract.hist_0==hist_4": "ASCII payloads (see hist_0==hist_2)",
    "multimodal_feature_extract.hist_0==hist_5": "ASCII payloads (see hist_0==hist_2)",
    "multimodal_feature_extract.hist_0==hist_6": "ASCII payloads (see hist_0==hist_2)",
    "multimodal_feature_extract.hist_0==hist_7": "ASCII payloads (see hist_0==hist_2)",
    "multimodal_feature_extract.hist_2==hist_4": "ASCII payloads (see hist_0==hist_2)",
    "multimodal_feature_extract.hist_2==hist_5": "ASCII payloads (see hist_0==hist_2)",
    "multimodal_feature_extract.hist_2==hist_6": "ASCII payloads (see hist_0==hist_2)",
    "multimodal_feature_extract.hist_2==hist_7": "ASCII payloads (see hist_0==hist_2)",
    "multimodal_feature_extract.hist_4==hist_5": "ASCII payloads (see hist_0==hist_2)",
    "multimodal_feature_extract.hist_4==hist_6": "ASCII payloads (see hist_0==hist_2)",
    "multimodal_feature_extract.hist_4==hist_7": "ASCII payloads (see hist_0==hist_2)",
    "multimodal_feature_extract.hist_5==hist_6": "ASCII payloads (see hist_0==hist_2)",
    "multimodal_feature_extract.hist_5==hist_7": "ASCII payloads (see hist_0==hist_2)",
    "multimodal_feature_extract.hist_6==hist_7": "ASCII payloads (see hist_0==hist_2)",
}


def test_census_identical_pairs_are_adjudicated():
    """Pairwise-identical-columns census: two same-type output columns
    null-safe-equal on every row at EVERY censused scale prove nothing
    about their distinction — one could alias the other and still
    hash-match (exactly how window_ranking's dense_rank was
    structurally unprovable until round 15). Every such pair must
    carry an adjudication; pairs identical at only ONE scale (e.g.
    join_left_outer's n_rows == n_matched at sf0.01, broken by sf1's
    unmatched rows) demonstrably diverge and are excluded. Stale
    entries fail too."""
    import os

    import __spark_entry__ as e

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    scales = json.load(open(os.path.join(repo, "CENSUS.json")))["scales"]

    def pairs(label):
        out = set()
        for q, r in scales.get(label, {}).items():
            if "error" in r or r.get("n_rows", 0) < 5:
                continue
            for p in r.get("identical_pairs", []):
                out.add(f"{q}.{p}")
        return out

    per_scale = [pairs(lbl) for lbl in sorted(scales)]
    if not any("identical_pairs" in r
               for s in scales.values() for r in s.values()
               if isinstance(r, dict)):
        import pytest

        pytest.skip("census artifact predates pair detection — regenerate")
    same = set.intersection(*per_scale) if per_scale else set()
    unadjudicated = sorted(same - set(ADJUDICATED_IDENTICAL_PAIRS))
    assert not unadjudicated, (
        "column pairs identical at every censused scale without an "
        f"adjudication: {unadjudicated}"
    )
    q = e.queries()
    stale = sorted(
        k for k in ADJUDICATED_IDENTICAL_PAIRS
        if k not in same or k.split(".", 1)[0] not in q
    )
    assert not stale, f"stale identical-pair adjudications: {stale}"


def test_gate_memos_store_only_ints_keyed_by_file_identity(spark, tmp_path):
    """BASELINE.md measured-gate memo contract (VERDICT r17 #7): the
    in-process gate memo may hold ONLY scalar ints keyed by (kind,
    tag, file-identity tuples) — never DataFrames or other derived
    state — measured_workload must key on EVERY input frame it is
    given (ADVICE r17 #1), so regenerating any one input invalidates
    the entry, and two kinds sharing a tag never collide (ADVICE r17
    #2). Runs real memoized measurements against two throwaway parquet
    inputs, then audits the library's one memo dict."""
    import os
    import time

    from pyspark.sql import DataFrame

    from load_datawarehouse_spark.ops import _util

    p1, p2 = str(tmp_path / "a.parquet"), str(tmp_path / "b.parquet")
    spark.range(7).write.parquet(p1)
    spark.range(5).write.parquet(p2)
    df1, df2 = spark.read.parquet(p1), spark.read.parquet(p2)

    calls = []
    tag = "memo-contract-probe"
    n = _util.measured_workload(tag, (df1, df2), lambda: calls.append(1) or 42)
    assert n == 42 and calls == [1]
    n = _util.measured_workload(tag, (df1, df2), lambda: calls.append(1) or 42)
    assert n == 42 and calls == [1], "second call must hit the memo"
    # regenerate ONE of the two inputs in place -> memo must miss
    spark.range(5, 11).write.mode("overwrite").parquet(p2)
    now = time.time()
    for root, _, files in os.walk(p2):
        for f in files:
            os.utime(os.path.join(root, f), (now + 5, now + 5))
    df2b = spark.read.parquet(p2)
    n = _util.measured_workload(tag, (df1, df2b), lambda: calls.append(1) or 43)
    assert n == 43 and calls == [1, 1], (
        "regenerating the SECOND input must invalidate the memo"
    )

    # a row count and a workload number under the SAME tag and input
    # are different kinds: neither may read or overwrite the other
    _util.bcast_measured(df1, 10, "memo probe", tag=tag)
    n = _util.measured_workload(tag, df1, lambda: calls.append(1) or 99)
    assert n == 99 and calls == [1, 1, 1], "workload read the row count"
    assert _util._MEASURED_MEMO[("rows", tag, _util.input_files_key(df1))] == 7

    for key, val in _util._MEASURED_MEMO.items():
        assert isinstance(val, int) and not isinstance(val, bool), (
            f"_MEASURED_MEMO holds a non-int value {type(val).__name__} — "
            "the memo contract allows scalar gate inputs only"
        )
        assert not isinstance(val, DataFrame)
        assert isinstance(key, tuple), f"_MEASURED_MEMO key {key!r} not a tuple"
        # (kind, tag, *one file-identity tuple per input)
        kind, tag_, *ident = key
        assert isinstance(kind, str) and isinstance(tag_, str), key
        assert ident, f"_MEASURED_MEMO key {key!r} has no file identity"
        for part in ident:
            assert isinstance(part, tuple), (
                f"_MEASURED_MEMO key {key!r} carries a non-file-identity part"
            )


# --- record conform: the columnar pass equals the row-wise one -------------
#
# The oracle is the row-wise conform the columnar pass replaced: one
# dict per record holding every table field, then one Arrow column per
# field read back out of those dicts.


def _oracle_scalar(value, ftype):
    if value is None:
        return None
    if ftype == wtypes.STRING:
        return value if isinstance(value, str) else str(value)
    if ftype == wtypes.FLOAT:
        return float(value)
    if ftype == wtypes.INTEGER:
        return int(value)
    if ftype == wtypes.BOOLEAN:
        return bool(value)
    if ftype in (wtypes.DATETIME, wtypes.TIMESTAMP):
        if not isinstance(value, dt.datetime):
            if not isinstance(value, dt.date):
                return value
            value = dt.datetime(value.year, value.month, value.day)
        if ftype == wtypes.TIMESTAMP:
            return value.astimezone(dt.timezone.utc)
        return value.replace(tzinfo=None) if value.tzinfo is not None else value
    return value


def _oracle_value(value, field):
    ftype = field.get("type", wtypes.DEFAULT_TYPE)
    if field.get("mode", wtypes.DEFAULT_MODE) == wtypes.REPEATED:
        if ftype == wtypes.RECORD:
            items = value if isinstance(value, (list, tuple)) else [value]
            return [_oracle_record(v, field["fields"]) for v in items if isinstance(v, dict)]
        if isinstance(value, dict):
            items = list(value.keys())
        elif isinstance(value, (list, tuple)):
            items = value
        else:
            items = [value]
        return [_oracle_scalar(v, ftype) for v in items]
    if ftype == wtypes.RECORD:
        return _oracle_record(value, field["fields"]) if isinstance(value, dict) else value
    return _oracle_scalar(value, ftype)


def _oracle_record(record, schema):
    cleaned = {clean_field_key(k): v for k, v in record.items()}
    out = {}
    for f in schema:
        value = cleaned.get(f["name"])
        if value is None:
            if f.get("mode") == wtypes.REQUIRED:
                raise WarehouseTableRowsInvalid(f"field {f['name']!r} is REQUIRED")
            out[f["name"]] = None
        else:
            out[f["name"]] = _oracle_value(value, f)
    return out


def _oracle_table(data, api, op_col=None):
    dicts = [r for r in prepare(data) if isinstance(r, dict)]
    rows = [_oracle_record(r, api) for r in dicts]
    if op_col:
        for row, r in zip(rows, dicts):
            row[op_col] = r.get(op_col, "U")
    struct = wtypes.api_repr_to_struct_type(api)
    schema = to_arrow_schema(struct.add(op_col, "string") if op_col else struct)
    if rows and not len(schema):
        raise WarehouseTableRowsInvalid("records have no fields to write")
    columns = []
    for field in schema:
        try:
            columns.append(pa.array([r[field.name] for r in rows], type=field.type))
        except (pa.ArrowException, OverflowError) as exc:
            raise WarehouseTableRowsInvalid(field.name) from exc
    return pa.Table.from_arrays(columns, schema=schema)


_SCALAR_TYPES = ("STRING", "INTEGER", "FLOAT", "BOOLEAN", "TIMESTAMP", "DATETIME")
_MODES = ("NULLABLE", "REQUIRED", "REPEATED")


def _fields(depth: int):
    kinds = _SCALAR_TYPES + (("RECORD", "RECORD") if depth < 2 else ())

    def field(name_kind_mode):
        name, kind, mode = name_kind_mode
        f = {"name": name, "type": kind, "mode": mode}
        if kind != "RECORD":
            return st.just(f)
        return _fields(depth + 1).map(lambda sub: {**f, "fields": sub})

    entry = st.tuples(st.sampled_from(kinds), st.sampled_from(_MODES))
    return st.dictionaries(st.sampled_from("abcde"), entry, max_size=4).flatmap(
        lambda d: st.tuples(*[field((n, k, m)) for n, (k, m) in d.items()]).map(list)
    )


_naive = st.datetimes(min_value=dt.datetime(1971, 1, 2), max_value=dt.datetime(2100, 1, 1))
_aware = _naive.map(lambda v: v.replace(tzinfo=dt.timezone(dt.timedelta(hours=5))))
#: per scalar type: values of its own type, then convertible mismatches
#: (bool into INTEGER, int into STRING, ...), then values that cannot
#: convert, which both sides must reject
_SCALAR_VALUES = {
    "STRING": (st.text(max_size=4), st.one_of(st.integers(-9, 9), st.booleans(), st.floats(-9, 9))),
    "INTEGER": (st.integers(-(2**40), 2**40), st.one_of(st.booleans(), st.floats(-9, 9), st.sampled_from(["7", "-3"]))),
    "FLOAT": (st.floats(allow_nan=False, width=32), st.one_of(st.integers(-9, 9), st.booleans(), st.just("2.5"))),
    "BOOLEAN": (st.booleans(), st.one_of(st.integers(0, 2), st.text(max_size=2))),
    "TIMESTAMP": (st.one_of(_naive, _aware), st.dates(min_value=dt.date(1971, 1, 2))),
    "DATETIME": (st.one_of(_naive, _aware), st.dates(min_value=dt.date(1971, 1, 2))),
}
_BAD = st.sampled_from(["abc", float("nan"), [1], {"z": 1}, 2**70])


def _scalar_value(kind: str, clean: bool):
    own, mismatch = _SCALAR_VALUES[kind]
    return st.one_of(st.none(), own, own, mismatch, *(() if clean else (_BAD,)))


def _value(field: dict, clean: bool):
    """A value for ``field``; a ``clean`` value converts, is not null
    where the field is REQUIRED, and so is every value nested in it."""
    kind, mode = field["type"], field["mode"]
    required = clean and mode == "REQUIRED"
    if kind == "RECORD":
        record = _batch_record(field["fields"], clean)
        if mode == "REPEATED":
            element = st.one_of(record, record, st.none(), st.integers(0, 3), st.text(max_size=2))
            return st.one_of(st.none(), st.lists(element, max_size=3), record, st.integers(0, 3))
        if clean:
            return record if required else st.one_of(st.none(), record, record)
        # an empty list or string into a non-repeated RECORD is rejected
        # by the columnar pass, while Arrow read it as a record of nulls
        # for the row-wise one (test_warehouse.py's
        # test_unconvertible_value_is_rejected_before_any_write pins it)
        return st.one_of(st.none(), record, record, st.integers(0, 3), st.text(min_size=1, max_size=2))
    scalar = _scalar_value(kind, clean)
    if mode == "REPEATED":
        keys = st.dictionaries(st.sampled_from(["k1", "7", "x"]), st.integers(0, 3), max_size=2)
        return st.one_of(st.none(), st.lists(scalar, max_size=3), scalar, *(() if clean else (keys,)))
    return scalar.filter(lambda v: v is not None) if required else scalar


def _batch_record(fields: list[dict], clean: bool):
    """A record over ``fields``: each key present or absent (a clean
    record always has its REQUIRED keys), plus a key no field has."""
    values = {f["name"]: _value(f, clean) for f in fields}
    needed = {n for n in values if clean and next(f for f in fields if f["name"] == n)["mode"] == "REQUIRED"}
    present = st.fixed_dictionaries(
        {n: v for n, v in values.items() if n in needed},
        optional={n: v for n, v in values.items() if n not in needed},
    )
    return st.tuples(present, st.booleans()).map(lambda t: {**t[0], "zz": 1} if t[1] else t[0])


@st.composite
def _schema_and_batch(draw):
    api = draw(_fields(0))
    record = _batch_record(api, clean=draw(st.booleans()))
    batch = draw(st.lists(st.one_of(record, record, record, st.integers()), min_size=1, max_size=6))
    op_col = draw(st.sampled_from([None, "op"]))
    if op_col:
        batch = [
            {**r, "op": draw(st.sampled_from(["I", "U", "D", None]))}
            if isinstance(r, dict) and draw(st.booleans()) else r
            for r in batch
        ]
    return api, batch, op_col


def _same_table(a, b) -> bool:
    """``a.equals(b)``, except that NaN equals NaN."""
    return a.equals(b) or (a.schema.equals(b.schema) and repr(a.to_pylist()) == repr(b.to_pylist()))


def _conform_both(api, batch, op_col=None):
    """(columnar table or its error, row-wise table or its error)."""
    from load_datawarehouse_spark.warehouse import _conform_records

    results = []
    for conform in (lambda: _conform_records(batch, lambda _: api, op_col)[1],
                    lambda: _oracle_table(batch, api, op_col)):
        try:
            results.append(conform())
        except (WarehouseTableRowsInvalid, ValueError, TypeError, OverflowError) as exc:
            results.append(exc)
    return results


_KV = [{"name": "k", "type": "INTEGER", "mode": "NULLABLE"}]


@settings(max_examples=300, deadline=None)
@given(case=_schema_and_batch())
@example(case=(  # null records between present ones, each in its place
    [{"name": "a", "type": "RECORD", "mode": "NULLABLE", "fields": _KV}],
    [{"a": {"k": 1}}, {"a": None}, {}, {"a": {"k": 2}}, {"a": {"k": 3}}],
    None,
))
@example(case=(  # NaN passes through a FLOAT field
    [{"name": "a", "type": "FLOAT", "mode": "NULLABLE"}], [{"a": float("nan")}, {"a": 1}], None,
))
@example(case=(  # null lists, non-dict elements, a dict and a scalar
    [{"name": "a", "type": "RECORD", "mode": "REPEATED", "fields": _KV}],
    [{"a": [{"k": 1}, 5, None, {"k": 2}]}, {"a": None}, {"a": {"k": 3}}, {"a": 7}, {"a": []}],
    "op",
))
def test_columnar_conform_equals_row_wise(case):
    api, batch, op_col = case
    new, old = _conform_both(api, batch, op_col)
    if isinstance(old, Exception):
        # the row-wise pass let a failed conversion escape untyped; the
        # columnar pass names the field
        assert isinstance(new, WarehouseTableRowsInvalid), (old, new)
    else:
        assert isinstance(new, pa.Table), new
        assert _same_table(new, old), (new.to_pylist(), old.to_pylist())


def test_columnar_conform_equals_row_wise_on_growing_ingest_batches():
    import random

    from load_datawarehouse_spark.warehouse import SparkWarehouse
    from perfbench import gen

    rng = random.Random(5)
    api = None
    for i in range(12):
        batch = gen.ingest_batch(rng, i * 300, 300, f"attr-{i}")
        api = SparkWarehouse._widen_only_merge(infer_schema(prepare(batch), schema=api).schema, api)
        new, old = _conform_both(api, batch)
        assert isinstance(new, pa.Table) and _same_table(new, old), i

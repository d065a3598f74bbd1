"""Combined evidence census over every registered query (VERDICT r14
#6): one recorded artifact unifying the round-14 label / boolean-flag
/ numeric / all-NULL censuses, so future rounds DIFF it instead of
re-deriving each probe.

For each query in ``__spark_entry__.queries()`` the census runs the
query at a scale directory and records, in ONE aggregate job per
query:

- ``n_rows``
- per column: ``n_nonnull``, and for atomic types (numeric / string /
  boolean / date / timestamp) ``n_distinct`` plus stringified
  ``min`` / ``max``
- ``output_hash`` + ``output_hash2`` (round 16, strengthened round
  17 per ADVICE r16 #1): order-independent full-output fingerprints
  (sums of per-row xxhash64 over all non-map columns in sorted-name
  order, salted with the sorted column-NAME list; the second sum
  uses an independent salt) — the r15 duplicate-output probe as a standing
  field; populated queries sharing (n_rows, output_hash,
  output_hash2) must be adjudicated plan-twins
  (``ADJUDICATED_TWIN_OUTPUTS``)

That covers every evidence class the round-14 probes caught by hand:
an all-NULL column is ``n_nonnull == 0`` (the vacuous-branch class,
VERDICT r14 #1), a constant flag is ``min == max`` on a multi-row
output, and a label census is ``n_distinct`` + the min/max pair of a
low-cardinality string column.

Output: ``CENSUS.json`` — ``{"scales": {label: {query: {...}}}}``.
Per-scale maps MERGE over the existing artifact (like the one scale
harness, ``scalecheck.py [--decade 2] --only``, does over its
per-decade artifact), so sf0.01 and sf1 runs compose and a chunked
``--only a,b,c`` run never clobbers rows it did not measure. Like
``scalecheck.py``'s first decade and ``scaleverify.py``, it sweeps
the registry itself, never a hand-kept copy of it.
Queries since removed from the registry are pruned from the merged
map. ``tests/test_properties.py::test_census_covers_registry_and_no_
allnull_columns`` consumes the artifact: every registered query must
appear, and every output column must be non-NULL in >= 1 row at some
censused scale (justified exceptions in ``EXPECTED_ALLNULL_COLUMNS``).

Usage:
    python census.py                      # full registry at sf0.01
    python census.py --sf-dir /root/repo/.scaledata/sf1.0 --label sf1
    python census.py --only a,b,c         # chunked (merges)
"""

from __future__ import annotations

import json
import os
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

DEFAULT_SF_DIR = "/root/testdata/sf0.01"


def _atomic(dtype) -> bool:
    from pyspark.sql import types as T

    return isinstance(
        dtype,
        (
            T.NumericType,
            T.StringType,
            T.BooleanType,
            T.DateType,
            T.TimestampType,
            T.TimestampNTZType,
        ),
    )


def _census_one(df) -> dict:
    from pyspark.sql import functions as F

    fields = df.schema.fields
    aggs = [F.count(F.lit(1)).alias("r")]
    for i, f in enumerate(fields):
        aggs.append(F.count(F.col(f.name)).alias(f"n{i}"))
        if _atomic(f.dataType):
            aggs.append(F.countDistinct(F.col(f.name)).alias(f"d{i}"))
            aggs.append(F.min(F.col(f.name)).cast("string").alias(f"lo{i}"))
            aggs.append(F.max(F.col(f.name)).cast("string").alias(f"hi{i}"))
    # pairwise-identical columns (round 15): two same-type columns
    # that are null-safe-equal on EVERY row mean the op proves nothing
    # about their distinction (rank vs dense_rank was caught exactly
    # this way). Same single aggregate job; pair count is O(width^2)
    # of a narrow result frame, not of the data.
    pairs = [
        (a.name, b.name)
        for i, a in enumerate(fields)
        for b in fields[i + 1 :]
        if a.dataType == b.dataType
    ]
    for k, (a, b) in enumerate(pairs):
        aggs.append(
            F.sum(
                F.when(~F.col(a).eqNullSafe(F.col(b)), 1).otherwise(0)
            ).alias(f"pq{k}")
        )
    # order-independent full-output fingerprint (round 16: the r15
    # duplicate-output probe, made a standing artifact): sum of
    # per-row xxhash64 over every column. Equal multisets of rows ->
    # equal sums, no collect, no sort; any two POPULATED queries
    # sharing (n_rows, output_hash, output_hash_xor) at a censused
    # scale are the same relation and must be adjudicated plan-twins
    # (tests/test_properties.py::ADJUDICATED_TWIN_OUTPUTS).
    #
    # Round 17 (ADVICE r16 #1): the per-row hash is SALTED with a
    # schema fingerprint (sorted column name:type pairs) so a
    # coincidental value collision between schema-renamed relations
    # cannot alias as a twin, and a SECOND order-independent
    # aggregate (the same per-row tuple under an INDEPENDENT salt,
    # summed) is recorded — one additive sum alone can collide across
    # different row multisets; simultaneous collisions under two
    # independent 64-bit hash functions between distinct relations
    # are implausible. Columns are hashed in sorted-name order so
    # genuine twins that differ only in projection order still match.
    hashable = sorted(
        (f for f in fields if "map<" not in f.dataType.simpleString()),
        key=lambda f: f.name,
    )  # xxhash64 rejects MapType; map columns are excluded from the print
    if hashable:
        # NAME-only fingerprint (ADVICE r16 #1 asked for column names):
        # including TYPES would break the streaming-vs-batch twin
        # groups, which legitimately differ in timestamp KIND
        # (watermarks require TIMESTAMP; the batch twin keeps the
        # parquet NTZ) while agreeing on every value — and per-column
        # types are already recorded in the columns map, so a type
        # flip remains visible in the artifact.
        fp = ",".join(f.name for f in hashable)
        cols = [F.col(f.name) for f in hashable]
        for salt, alias in ((fp, "ohash"), (fp + "#2", "oxor")):
            aggs.append(
                F.sum(F.xxhash64(F.lit(salt), *cols).cast("decimal(38,0)"))
                .cast("string")
                .alias(alias)
            )
    row = df.agg(*aggs).collect()[0].asDict()
    cols = {}
    for i, f in enumerate(fields):
        c = {"type": f.dataType.simpleString(), "n_nonnull": row[f"n{i}"]}
        if _atomic(f.dataType):
            c["n_distinct"] = row[f"d{i}"]
            c["min"] = row[f"lo{i}"]
            c["max"] = row[f"hi{i}"]
        cols[f.name] = c
    out = {"n_rows": row["r"], "columns": cols}
    if row["r"] > 0 and row.get("ohash") is not None:
        out["output_hash"] = row["ohash"]
        if row.get("oxor") is not None:
            out["output_hash2"] = row["oxor"]
    if row["r"] > 0:
        ident = sorted(
            f"{a}=={b}" for k, (a, b) in enumerate(pairs) if row[f"pq{k}"] == 0
        )
        if ident:
            out["identical_pairs"] = ident
    return out


def main() -> None:
    sf_dir, label, only = DEFAULT_SF_DIR, "sf0.01", None
    args = sys.argv[1:]
    while args:
        a = args.pop(0)
        if a == "--sf-dir":
            sf_dir = args.pop(0)
        elif a == "--label":
            label = args.pop(0)
        elif a == "--only":
            only = set(args.pop(0).split(","))
        else:
            raise SystemExit(f"unknown arg {a!r}")

    import __spark_entry__ as e
    from load_datawarehouse_spark.ops._util import release_lineage_cuts
    from load_datawarehouse_spark.session import get_spark

    spark = get_spark(app_name="ldw-census")
    queries = e.queries()
    names = [n for n in queries if only is None or n in only]

    out: dict[str, dict] = {}
    for k, name in enumerate(names):
        t0 = time.monotonic()
        try:
            out[name] = _census_one(queries[name](spark, sf_dir))
        except Exception as exc:  # recorded, never aborts the sweep
            out[name] = {"error": f"{type(exc).__name__}: {exc}"[:300]}
        finally:
            release_lineage_cuts()
        dt = time.monotonic() - t0
        nr = out[name].get("n_rows", "ERR")
        print(f"# [{k + 1}/{len(names)}] {name}: rows={nr} ({dt:.1f}s)",
              file=sys.stderr, flush=True)

    path = os.path.join(HERE, "CENSUS.json")
    doc = {"note": __doc__.split("\n\n")[0], "scales": {}}
    if os.path.exists(path):
        with open(path) as f:
            doc = json.load(f)
            doc.setdefault("scales", {})
    merged = doc["scales"].get(label, {})
    merged.update(out)
    # prune queries since removed/renamed out of the registry
    doc["scales"][label] = {k: v for k, v in merged.items() if k in queries}
    doc["sf_dirs"] = {**doc.get("sf_dirs", {}), label: sf_dir}
    with open(path, "w") as f:
        json.dump(doc, f, indent=2, sort_keys=True)
    n_err = sum(1 for v in out.values() if "error" in v)
    print(json.dumps({"label": label, "queries": len(out), "errors": n_err}))


if __name__ == "__main__":
    main()

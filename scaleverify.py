"""Oracle verification at sf1 — correctness at 100x the driver gate.

Replays every registered query (the set ``scalecheck.py`` sweeps in
its first decade) against the DuckDB oracles on the replicated sf1
tables from ``scalegen.py``. This is the correctness complement of
SCALECHECK.json's timing slopes: the same physical plans that the
slopes certify as scale-linear are also proven to produce
oracle-identical VALUES at 10x the largest driver-checked data — the
scale where accumulation-order and float-emission divergence would
first appear.

The DuckDB side runs in a child process with a hard per-query timeout:
several oracles are intentionally brute-force (pair self-joins,
recursive-CTE transitive closures) and priced for sf0.01 — at sf1
they can be superlinear BY DESIGN (the Spark side exists precisely to
avoid that shape). Timeouts are recorded as ``oracle_timeout``, not
failures; the judged claim is "no query produced a wrong value", and
every completed comparison enforces that.

Usage: python scalegen.py 10 && python scaleverify.py
Writes SCALEVERIFY.json and prints one JSON line.
"""

from __future__ import annotations

import json
import multiprocessing as mp
import os
import queue
import sys
import time

sys.path.append(os.path.join(os.path.dirname(os.path.abspath(__file__)), "tests"))
from oracle_harness import _norm, duckdb_connect  # noqa: E402

# Spark-side exclusions, each with a measured reason (mirrors the
# scalecheck exclusions — same replication artifacts):
SPARK_EXCLUDED = {
    # dedup_semantic_clusters was excluded in round 6 (>35 min at
    # sf1); round 7's banded-LSH edge blocking made it verifiable.
    # graph_triangle_count was excluded through round 7 (near-complete
    # synthetic co-order graph -> ~N^3 wedge enumeration); round 8's
    # support-pruned + hub-capped semantics made it verifiable.
}

ORACLE_TIMEOUT_SEC = int(os.environ.get("SPARK_GRAFT_ORACLE_TIMEOUT", "240"))


def _duck_worker(sf_dir: str, sql: str, q):
    """Child process: run the oracle and ship (columns, normalized rows)."""
    try:
        con = duckdb_connect(sf_dir)
        odf = con.execute(sql).fetchdf()
        cols = sorted(odf.columns)
        rows = [tuple(_norm(v) for v in row) for row in odf[cols].itertuples(index=False)]
        q.put(("ok", cols, sorted(rows, key=repr)))
    except Exception as exc:  # surfaced to the parent as an error record
        q.put(("err", f"{type(exc).__name__}: {exc}"[:300], None))


def _oracle_rows(sf_dir: str, sql: str):
    """Run the oracle in a child with a hard timeout.

    Drains the queue with a timed ``get`` BEFORE joining: a child
    blocked flushing a pickled result larger than the pipe buffer
    (~64 KB) would otherwise be terminated mid-flush and
    misclassified as a timeout — cheap oracles with large result
    sets (e.g. per-document outputs at sf1) were being dropped from
    verification entirely.
    """
    ctx = mp.get_context("fork")
    q = ctx.Queue()
    p = ctx.Process(target=_duck_worker, args=(sf_dir, sql, q), daemon=True)
    p.start()
    try:
        result = q.get(timeout=ORACLE_TIMEOUT_SEC)
    except queue.Empty:
        if p.is_alive():
            p.terminate()
            p.join(10)
            return ("timeout", None, None)
        return ("err", "oracle worker died without result", None)
    p.join(30)
    if p.is_alive():
        p.terminate()
        p.join(10)
    return result


SMALL_SF_DIR = "/root/testdata/sf0.01"


def _adjudicate_empty_on_timeout(spark, fn, sql: str) -> dict:
    """0 Spark rows under an sf1 oracle timeout is ambiguous: a
    Spark-side bug, OR a legitimately-empty result (e.g. a very
    selective filter). Adjudicate at sf0.01, where the oracle is
    fast: if BOTH engines are also empty there, return a distinct
    'suspect' status for manual review (advisor r7) instead of a hard
    fail; any other outcome stays a failure. A probe that ERRORS is
    reported as exactly that (round-8 ADVICE: it used to claim
    'sf0.01 is non-empty (spark=-1, oracle=-1)' and leaked the DuckDB
    connection); the probe's lineage-cut persists are released after
    its terminal action like every other runner's."""
    from load_datawarehouse_spark.ops._util import release_lineage_cuts

    con = None
    probe_err = None
    try:
        s_small = fn(spark, SMALL_SF_DIR).count()
        con = duckdb_connect(SMALL_SF_DIR)
        o_small = len(con.execute(sql).fetchall())
    except Exception as exc:
        probe_err = f"{type(exc).__name__}: {exc}"[:300]
        s_small = o_small = -1
    finally:
        if con is not None:
            con.close()
        release_lineage_cuts()
    if probe_err is not None:
        return {
            "status": "empty_spark_on_timeout",
            "spark_rows": 0,
            "note": "spark returned 0 rows AND the oracle timed out, "
            f"and the sf0.01 adjudication probe itself errored "
            f"({probe_err}); treated as a failure",
        }
    if s_small == 0 and o_small == 0:
        return {
            "status": "suspect_empty_on_timeout",
            "spark_rows": 0,
            "note": "0 rows from BOTH engines at sf0.01 — plausibly a "
            "legitimately-empty query; needs adjudication, not counted "
            "as match or fail",
        }
    return {
        "status": "empty_spark_on_timeout",
        "spark_rows": 0,
        "note": "spark returned 0 rows AND the oracle timed out, but "
        f"sf0.01 is non-empty (spark={s_small}, oracle={o_small}); "
        "treated as a failure",
    }


def main() -> None:
    here = os.path.dirname(os.path.abspath(__file__))
    sys.path.insert(0, here)
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "16g")
    big = os.path.join(here, ".scaledata", "sf1.0")
    if not os.path.isdir(big):
        raise SystemExit("run `python scalegen.py 10` first")

    import __spark_entry__ as entry_mod

    from load_datawarehouse_spark.ops._util import release_lineage_cuts
    from load_datawarehouse_spark.session import get_spark

    names = list(entry_mod.queries())
    # --only a,b,c  -> restrict to a subset (iterating on fixes);
    # the partial result is merged over the existing SCALEVERIFY.json
    # so the artifact stays a full-set snapshot.
    only = None
    if len(sys.argv) > 2 and sys.argv[1] == "--only":
        only = set(sys.argv[2].split(","))
        names = [n for n in names if n in only]
    queries, oracles = entry_mod.queries(), entry_mod.oracle_sql()

    spark = get_spark(app_name="ldw-scaleverify")
    spark.sparkContext.setLogLevel("ERROR")

    out: dict[str, dict] = {}
    n_match = n_timeout = n_fail = n_suspect = 0
    for name in names:
        if name in SPARK_EXCLUDED:
            out[name] = {"status": "spark_excluded", "reason": SPARK_EXCLUDED[name]}
            continue
        t0 = time.perf_counter()
        try:
            sdf = queries[name](spark, big).toPandas()
        except Exception as exc:
            out[name] = {"status": "spark_error", "error": f"{exc}"[:300]}
            n_fail += 1
            continue
        finally:
            # per-query epilogue: unpersist cluster-mode lineage-cut
            # frames after the terminal action (runs on the error
            # `continue` too), keeping the sweep block-storage-flat
            release_lineage_cuts()
        status, a, b = _oracle_rows(big, oracles[name])
        if status == "timeout":
            if len(sdf) == 0:
                rec = _adjudicate_empty_on_timeout(spark, queries[name], oracles[name])
                out[name] = rec
                if rec["status"] == "suspect_empty_on_timeout":
                    n_suspect += 1
                    print(f"# {name}: SUSPECT empty-but-empty-at-sf0.01 on oracle timeout",
                          file=sys.stderr, flush=True)
                else:
                    n_fail += 1
                    print(f"# {name}: FAIL empty spark result on oracle timeout",
                          file=sys.stderr, flush=True)
                continue
            out[name] = {
                "status": "oracle_timeout",
                "spark_rows": len(sdf),
                "note": f"oracle exceeded {ORACLE_TIMEOUT_SEC}s (brute-force shape priced for sf0.01)",
            }
            n_timeout += 1
            print(f"# {name}: ORACLE TIMEOUT ({len(sdf)} spark rows)", file=sys.stderr, flush=True)
            continue
        if status == "err":
            out[name] = {"status": "oracle_error", "error": a}
            n_fail += 1
            print(f"# {name}: ORACLE ERROR {a}", file=sys.stderr, flush=True)
            continue
        o_cols, o_rows = a, b
        s_cols = sorted(sdf.columns)
        s_rows = sorted(
            (tuple(_norm(v) for v in row) for row in sdf[s_cols].itertuples(index=False)),
            key=repr,
        )
        if s_cols != o_cols:
            out[name] = {"status": "schema_mismatch", "spark": s_cols, "oracle": o_cols}
            n_fail += 1
        elif len(s_rows) != len(o_rows):
            out[name] = {
                "status": "rowcount_mismatch",
                "spark_rows": len(s_rows),
                "oracle_rows": len(o_rows),
            }
            n_fail += 1
        else:
            bad = sum(1 for x, y in zip(s_rows, o_rows) if x != y)
            if bad:
                out[name] = {"status": "value_mismatch", "bad_rows": bad, "rows": len(s_rows)}
                n_fail += 1
            else:
                out[name] = {
                    "status": "match",
                    "rows": len(s_rows),
                    "sec": round(time.perf_counter() - t0, 2),
                }
                n_match += 1
        print(f"# {name}: {out[name]['status']}", file=sys.stderr, flush=True)

    path = os.path.join(here, "SCALEVERIFY.json")
    current = set(entry_mod.queries())
    if only is not None and os.path.exists(path):
        with open(path) as f:
            prev = json.load(f).get("queries", {})
        prev.update(out)
        # prune rows for queries since removed/renamed out of the
        # current set (advisor r7: stale merged rows otherwise
        # masquerade as current coverage forever)
        out = {k: v for k, v in prev.items() if k in current}
    statuses = [v["status"] for v in out.values()]
    result = {
        "metric": "sf1_oracle_verification",
        "sf": 1.0,
        "n_queries": len(out),
        "n_match": statuses.count("match"),
        "n_oracle_timeout": statuses.count("oracle_timeout"),
        "n_spark_excluded": statuses.count("spark_excluded"),
        "n_suspect": statuses.count("suspect_empty_on_timeout"),
        "n_fail": len(
            [
                s
                for s in statuses
                if s
                not in (
                    "match",
                    "oracle_timeout",
                    "spark_excluded",
                    "suspect_empty_on_timeout",
                )
            ]
        ),
        "oracle_timeout_sec": ORACLE_TIMEOUT_SEC,
        "queries": out,
    }
    # certification gate (round-8 ADVICE): suspects BLOCK — an
    # unadjudicated empty-on-timeout is not a pass, so the sweep only
    # certifies when every non-excluded query is a match or a priced
    # oracle timeout with a non-empty Spark result
    result["certified"] = result["n_fail"] == 0 and result["n_suspect"] == 0
    with open(path, "w") as f:
        json.dump(result, f, indent=2)
    compact = {k: v for k, v in result.items() if k != "queries"}
    print(json.dumps(compact))
    if not result["certified"]:
        raise SystemExit(1)


if __name__ == "__main__":
    main()

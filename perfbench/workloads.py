"""The three closed-loop workloads.

Each workload is driven by one client that waits for every reply. Its
inputs come from the seed; the program only sees generated records,
tables and change batches. A workload has four parts the harness
calls:

- ``inputs()``: harness-side generation, excluded from ``setup_s``;
- ``fixtures(spark)``: tables the ops need, part of ``setup_s``;
- ``next_op()`` / ``run_op(op)``: draw an op (untimed), then run it
  (timed); ``run_op`` returns the user rows it handled;
- ``check(op, rows)``: the op's output check, untimed. A non-empty
  list of problems makes the op a failed op.
"""

from __future__ import annotations

import glob
import json
import os
import random
import sys

import pyarrow.parquet as pq

from perfbench import gen

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


class Op:
    __slots__ = ("kind", "payload", "result")

    def __init__(self, kind: str, payload) -> None:
        self.kind = kind
        self.payload = payload
        self.result = None


def _parquet_files(path: str) -> list[str]:
    return sorted(glob.glob(os.path.join(path, "*.parquet")))


def _schema_paths(api: list[dict], prefix: str = "") -> set[str]:
    out: set[str] = set()
    for f in api:
        p = prefix + f["name"]
        out.add(p)
        if f.get("fields"):
            out |= _schema_paths(f["fields"], p + ".")
    return out


class _Table:
    """Output-side bookkeeping shared by the two warehouse workloads."""

    files: set[str]
    bytes_written: int
    user_bytes: int

    def at_boundary(self) -> bool:
        return True

    def _new_files(self) -> list[str]:
        """Data files written since the last call; every write names its
        files afresh, so a merge's rewrite shows as all-new files."""
        new = [f for f in _parquet_files(self.data) if f not in self.files]
        self.files.update(new)
        self.bytes_written += sum(os.path.getsize(f) for f in new)
        return new

    def table_stats(self) -> dict[str, float]:
        files = _parquet_files(self.data)
        return {
            "files": len(files),
            "bytes": sum(os.path.getsize(f) for f in files),
            "rows": self.live_rows(),
            "fields": len(_schema_paths(self.wh.schema or [])),
            "user_bytes": self.user_bytes,
            "bytes_written": self.bytes_written,
        }


class IngestRecords(_Table):
    """Each op is one ``SparkWarehouse.load`` of a seeded batch of
    semi-structured records, appended to one table."""

    name = "ingest_records"
    kinds = 1
    batch_rows = 2000
    warmup_ops = 6

    def __init__(self, seed: int, work: str, tracer) -> None:
        self.rng = random.Random(seed)
        self.root = os.path.join(work, "warehouse")
        self.tr = tracer
        self.next_id = 0
        self.loaded_rows = 0
        self.paths: set[str] = set()
        self.files: set[str] = set()
        self.user_bytes = 0
        self.bytes_written = 0
        self.widened: list[bool] = []  # per checked load: did it add fields

    def inputs(self) -> None:
        pass  # batches are drawn per op by next_op

    def fixtures(self, spark) -> None:
        from load_datawarehouse_spark.warehouse import SparkWarehouse

        self.spark = spark
        self.wh = SparkWarehouse.new(spark, self.root, "customers")
        self.data = os.path.join(self.wh.path, "data")

    def next_op(self) -> Op:
        batch = gen.ingest_batch(self.rng, self.next_id, self.batch_rows, f"attr-{len(self.widened)}")
        self.next_id += len(batch)
        return Op("load", batch)

    def run_op(self, op: Op) -> int:
        self.wh.load(op.payload)
        return len(op.payload)

    def check(self, op: Op, rows: int) -> list[str]:
        problems = []
        self.loaded_rows += len(op.payload)
        before = len(self.paths)
        self.paths |= gen.field_paths(op.payload)
        self.widened.append(len(self.paths) > before)
        self.user_bytes += len(json.dumps(op.payload, default=str))
        new = self._new_files()
        got = sum(pq.read_metadata(f).num_rows for f in new)
        if got != len(op.payload):
            problems.append(f"load wrote {got} rows, batch had {len(op.payload)}")
        have = _schema_paths(self.wh.schema or [])
        if have != self.paths:
            problems.append(f"schema fields differ: missing {sorted(self.paths - have)}, extra {sorted(have - self.paths)}")
        return problems

    def final_check(self) -> list[str]:
        n = self.wh.df().count()
        if n != self.loaded_rows:
            return [f"table holds {n} rows, generator produced {self.loaded_rows}"]
        return []

    def live_rows(self) -> int:
        return self.loaded_rows

    def summary(self, timed: int) -> dict:
        return {"timed_loads_that_widened": sum(self.widened[-timed:]) if timed else 0, "schema_fields": len(self.paths)}


class CdcMerge(_Table):
    """A bulk-loaded ``orders`` table; each op is a ``merge()`` of a
    seeded change batch plus a read-back (one aggregate ``query()``
    and one sorted ``fetch()``)."""

    name = "cdc_merge"
    kinds = 1
    batch_rows = 300
    warmup_ops = 4
    AGG_SQL = (
        "SELECT COUNT(*) AS n, SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS cents "
        "FROM orders"
    )
    TOP = 20

    def __init__(self, seed: int, work: str, tracer) -> None:
        self.rng = random.Random(seed)
        self.seed = seed
        self.work = work
        self.root = os.path.join(work, "warehouse")
        self.tr = tracer
        self.files: set[str] = set()
        self.user_bytes = 0
        self.bytes_written = 0

    def inputs(self) -> None:
        table = gen.orders_table(self.seed)
        self.model = gen.OrdersModel(table)
        self.orders_path = os.path.join(self.work, "orders.parquet")
        pq.write_table(table, self.orders_path)

    def fixtures(self, spark) -> None:
        from load_datawarehouse_spark.warehouse import SparkWarehouse

        self.spark = spark
        self.wh = SparkWarehouse.new(spark, self.root, "orders")
        self.wh.load(spark.read.parquet(self.orders_path))
        self.data = os.path.join(self.wh.path, "data")
        self.files.update(_parquet_files(self.data))

    def next_op(self) -> Op:
        return Op("merge", self.model.change_batch(self.rng, self.batch_rows))

    def run_op(self, op: Op) -> int:
        from load_datawarehouse_spark.warehouse import QuerySort

        self.wh.merge(op.payload, keys=["o_orderkey"])
        with self.tr.span("warehouse.read", jobs=True):
            agg = self.wh.query(self.AGG_SQL).collect()[0]
            top = self.wh.fetch(
                fields=("o_orderkey", "o_totalprice"),
                sort=[("o_totalprice", QuerySort.DESCENDING), ("o_orderkey", QuerySort.ASCENDING)],
                count=self.TOP,
            ).collect()
        op.result = (agg, top)
        return len(op.payload)

    def check(self, op: Op, rows: int) -> list[str]:
        self.user_bytes += len(json.dumps(op.payload, default=str))
        self._new_files()
        agg, top = op.result
        problems = []
        want_n, want_cents = len(self.model.cents), sum(self.model.cents.values())
        if (agg["n"], agg["cents"]) != (want_n, want_cents):
            problems.append(f"aggregate {(agg['n'], agg['cents'])} != model {(want_n, want_cents)}")
        got = [(r["o_orderkey"], round(r["o_totalprice"] * 100)) for r in top]
        if got != self.model.top(self.TOP):
            problems.append("sorted fetch differs from the model's top orders")
        return problems

    def final_check(self) -> list[str]:
        return []  # every op already checked the whole table

    def live_rows(self) -> int:
        return len(self.model.cents)


def suite_expected_rows() -> dict[str, int]:
    """Each suite query with the row count it must return on the
    generated tables, in the order the queries are listed."""
    with open(os.path.join(HERE, "query_suite.json")) as fh:
        return json.load(fh)["expected_rows"]


class QuerySuite:
    """Passes over registered ``__spark_entry__.queries()`` ops on the
    generated sf0.1 tables, in a seeded order per pass. Each op is the
    op call plus ``.count()``, then ``release_lineage_cuts()``."""

    name = "query_suite"
    #: the oracle check in the warm-up phase already runs every query
    #: once more; further passes would not fit the run budget
    warmup_ops = 0

    def __init__(self, seed: int, work: str, tracer, expected: dict[str, int] | None = None) -> None:
        self.rng = random.Random(seed)
        self.tr = tracer
        self.expected = expected if expected is not None else suite_expected_rows()
        self.names = list(self.expected)
        self.kinds = len(self.names)
        self.work = work
        self.pass_queue: list[str] = []
        self.last_df = None

    def inputs(self) -> None:
        self.sf_dir = gen.sf01_tables(os.path.join(self.work, "sf0.1"))

    def fixtures(self, spark) -> None:
        import __spark_entry__
        from load_datawarehouse_spark.ops._util import release_lineage_cuts

        self.spark = spark
        registry = __spark_entry__.queries()
        self.queries = {n: registry[n] for n in self.names}
        self.oracles = {n: __spark_entry__.oracle_sql()[n] for n in self.names}
        self.release = release_lineage_cuts

    def next_op(self) -> Op:
        if not self.pass_queue:
            self.pass_queue = list(self.names)
            self.rng.shuffle(self.pass_queue)
        return Op(self.pass_queue.pop(), None)

    def at_boundary(self) -> bool:
        """Timing stops only between passes, so every pass is whole."""
        return not self.pass_queue

    def run_op(self, op: Op) -> int:
        with self.tr.span("ops.build", jobs=True):
            df = self.queries[op.kind](self.spark, self.sf_dir)
        with self.tr.span("ops.action", jobs=True):
            # ``df.count()`` as a DataFrame of its own, so the traced run
            # reads the Catalyst phases of the plan that was executed
            agg = df.groupBy().count()
            n = agg.collect()[0][0]
        with self.tr.span("ops.release_lineage_cuts"):
            self.release()
        self.last_df = agg
        op.result = n
        return n

    def check(self, op: Op, rows: int) -> list[str]:
        want = self.expected[op.kind]
        return [] if rows == want else [f"{op.kind}: {rows} rows, expected {want}"]

    def oracle_check(self) -> dict[str, str]:
        """Match each suite result against its DuckDB oracle; returns
        the mismatching queries with the reason."""
        sys.path.insert(0, os.path.join(ROOT, "tests"))
        from oracle_harness import compare_query, duckdb_connect

        con = duckdb_connect(self.sf_dir)
        bad = {}
        try:
            for n in self.names:
                try:
                    compare_query(self.queries[n](self.spark, self.sf_dir), con, self.oracles[n], n)
                except AssertionError as exc:
                    bad[n] = str(exc)[:300]
                finally:
                    self.release()
        finally:
            con.close()
        return bad

    def final_check(self) -> list[str]:
        return []

    def table_stats(self) -> dict[str, float]:
        return {"files": 0, "bytes": 0, "rows": 0, "fields": 0, "user_bytes": 0, "bytes_written": 0}


WORKLOADS = {w.name: w for w in (IngestRecords, CdcMerge, QuerySuite)}

"""Local replica of the driver's DuckDB-oracle comparison.

Runs a Spark query and its oracle SQL on the same parquet tables and
compares row-count + column names + order-insensitive values — a
stricter local gate than the driver's hash check (we diff actual
values, so mismatches are debuggable).
"""

from __future__ import annotations

import datetime as _dt
import math
import os
from decimal import Decimal

import duckdb
import numpy as _np

from load_datawarehouse_spark.session import TABLE_NAMES


def duckdb_connect(sf_dir: str) -> duckdb.DuckDBPyConnection:
    """One DuckDB view per table of ``sf_dir``: ``NAME.parquet`` is a
    single file (the driver's test data) or a Spark-written directory
    of part-files (``scalegen.py``'s scale data)."""
    con = duckdb.connect()
    for name in TABLE_NAMES:
        path = f"{sf_dir}/{name}.parquet"
        pattern = f"{path}/*.parquet" if os.path.isdir(path) else path
        con.execute(f"CREATE OR REPLACE VIEW {name} AS SELECT * FROM '{pattern}'")
    return con


class _CanonFloat:
    """Canonicalized float sentinel (NaN, signed zero).

    Equality demands ``isinstance(other, _CanonFloat)``, so a sentinel
    can never compare equal to any engine-produced value — a genuine
    VARCHAR "0.0"/"NaN" or an array spelling out a tuple form (the
    round-9 ADVICE false-match blind spot). Unlike an identity-unique
    tag object, it survives PICKLING with value semantics:
    ``scaleverify`` normalizes oracle rows in a child process and
    ships them to the parent for comparison, where an identity tag
    would unpickle as a different object and mismatch every zero/NaN
    row (found live: 7601 spurious bad rows at sf1)."""

    __slots__ = ("s",)

    def __init__(self, s: str) -> None:
        self.s = s

    def __eq__(self, other) -> bool:
        return isinstance(other, _CanonFloat) and other.s == self.s

    def __ne__(self, other) -> bool:
        return not self.__eq__(other)

    def __hash__(self) -> int:
        return hash(("__canon_float__", self.s))

    def __repr__(self) -> str:
        return f"CanonFloat({self.s})"


def _norm(v):
    if v is None:
        return None
    if isinstance(v, Decimal):
        v = float(v)  # fall through: Decimal("-0") -> -0.0 must stay signed
    if isinstance(v, _dt.datetime):
        return v.replace(tzinfo=None).isoformat()
    if isinstance(v, _dt.date):
        return v.isoformat()
    if isinstance(v, _np.floating):
        # np.float32 (DuckDB REAL / Spark FloatType via fetchdf or
        # toPandas) must reach the same NaN / signed-zero
        # canonicalization as Python floats — round-9 ADVICE blind spot
        v = float(v)
    if isinstance(v, float):
        if math.isnan(v):
            # tagged sentinel: a genuine VARCHAR "NaN" (or a real
            # array value like ['float', 'NaN']) must never compare
            # equal to a float NaN (round-9 ADVICE)
            return _CanonFloat("NaN")
        if v == 0.0:
            # The driver's formatted-value hash distinguishes IEEE -0.0
            # from 0.0, but Python `==` does not (-0.0 == 0.0 is True) —
            # exactly the blind spot that let the orders_revenue_bridge
            # divergence through CORRECTNESS_r08. Canonicalize zeros to
            # sign-carrying _CanonFloat sentinels (a bare string
            # sentinel would false-match a genuine VARCHAR "0.0") so
            # local sweeps see what the driver sees.
            return _CanonFloat("-0.0") if math.copysign(1.0, v) < 0.0 else _CanonFloat("0.0")
        return v
    if isinstance(v, (list, tuple, _np.ndarray)):
        return tuple(_norm(x) for x in v)
    if isinstance(v, dict):
        return tuple(sorted((k, _norm(x)) for k, x in v.items()))
    return v


# DuckDB type name -> integer bit-width. The driver's value hasher is
# type-width-aware: an oracle column that comes back HUGEINT (int128 —
# DuckDB's SUM-of-integer result type) hash-mismatches a Spark BIGINT
# even when every value is identical. Locking width parity here keeps
# that failure mode out of the driver run (VERDICT r1 "What's wrong" 1/2).
_DUCK_INT_WIDTH = {
    "TINYINT": 8, "SMALLINT": 16, "INTEGER": 32, "BIGINT": 64,
    "HUGEINT": 128, "UTINYINT": 8, "USMALLINT": 16, "UINTEGER": 32,
    "UBIGINT": 64,
}
_SPARK_INT_WIDTH = {"tinyint": 8, "smallint": 16, "int": 32, "bigint": 64}


def assert_int_width_parity(spark_df, con, sql: str, name: str = "?") -> None:
    rel = con.sql(sql)
    duck_types = dict(zip(rel.columns, (str(t).upper() for t in rel.types)))
    for f in spark_df.schema.fields:
        s_w = _SPARK_INT_WIDTH.get(f.dataType.simpleString())
        o_w = _DUCK_INT_WIDTH.get(duck_types.get(f.name, ""))
        if s_w is not None or o_w is not None:
            assert s_w == o_w, (
                f"{name}: integer width mismatch on '{f.name}': "
                f"spark={f.dataType.simpleString()} vs "
                f"oracle={duck_types.get(f.name)} — wrap the oracle "
                f"expression in CAST(... AS BIGINT) (driver hash is width-aware)"
            )


def compare_query(spark_df, con, sql: str, name: str = "?") -> None:
    try:
        _compare_query(spark_df, con, sql, name)
    finally:
        # per-query epilogue (mirrors bench/scalecheck/scaleverify):
        # release any cluster-mode lineage-cut persists the query
        # accumulated, so long oracle sweeps stay block-storage-flat
        from load_datawarehouse_spark.ops._util import release_lineage_cuts

        release_lineage_cuts()


def _compare_query(spark_df, con, sql: str, name: str = "?") -> None:
    assert_int_width_parity(spark_df, con, sql, name)
    sdf = spark_df.toPandas()
    odf = con.execute(sql).fetchdf()
    s_cols = sorted(sdf.columns)
    o_cols = sorted(odf.columns)
    assert s_cols == o_cols, f"{name}: column mismatch spark={s_cols} oracle={o_cols}"
    assert len(sdf) == len(odf), f"{name}: rowcount spark={len(sdf)} oracle={len(odf)}"

    s_rows = sorted(
        (tuple(_norm(v) for v in row) for row in sdf[s_cols].itertuples(index=False)),
        key=repr,
    )
    o_rows = sorted(
        (tuple(_norm(v) for v in row) for row in odf[o_cols].itertuples(index=False)),
        key=repr,
    )
    n_bad = 0
    first_bad = None
    for i, (a, b) in enumerate(zip(s_rows, o_rows)):
        if a != b:
            n_bad += 1
            if first_bad is None:
                first_bad = (i, a, b)
    assert n_bad == 0, (
        f"{name}: {n_bad}/{len(s_rows)} row mismatches; first at {first_bad[0]}:\n"
        f"  spark : {first_bad[1]}\n  oracle: {first_bad[2]}"
    )

"""SparkWarehouse: the platform-neutral table verb surface on Spark.

Re-expresses the reference's ``DataWarehouse`` ABC
(``/root/reference/src/load_datawarehouse/classes.py:18-64``: get /
select / new / rebuild / query / fetch / load / update / delete, with
``drop`` aliasing delete) and its BigQuery implementation
(``bigquery/__init__.py:103-700``) over Parquet tables in a warehouse
root directory. The verbs the reference left as ``pass`` stubs
(query / fetch / load body / update — ``bigquery/__init__.py:
463-499,654-685``) are implemented for real here.

Storage model: one directory per table holding parquet files plus a
``_ldw_meta.json`` sidecar (api_repr schema, expiry). A metadata
sidecar instead of a Hive metastore keeps the engine location-
agnostic — on a cluster the root is any shared filesystem / object
store prefix. Reads are plain ``spark.read.parquet``. DataFrame loads
and the ``update`` / ``merge`` rewrites are distributed
``df.write.parquet``; a record batch, which already sits on the
driver, is appended as one Arrow-built parquet file written by the
driver, with no Spark job; it is conformed column by column, so its
cost follows the fields its records carry, not the table's width.
"""

from __future__ import annotations

import contextlib
import datetime as _dt
import functools
import itertools
import json
import os
import shutil
import uuid
from enum import Enum
from typing import Any, Iterable

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.pandas.types import to_arrow_schema

from load_datawarehouse_spark import types as wtypes
from load_datawarehouse_spark.data import clean_dataframe_keys, prepare
from load_datawarehouse_spark.errors import (
    WarehouseInvalidInput,
    WarehouseTableNotFound,
    WarehouseTableRowsInvalid,
)
from load_datawarehouse_spark.schema_infer import (
    infer_schema,
    infer_schema_distributed,
)

META_FILE = "_ldw_meta.json"


class QuerySort(Enum):
    """Sort directions (classes.py:6-8)."""

    ASCENDING = "ASC"
    DESCENDING = "DESC"


def _as_utc(value: _dt.datetime) -> _dt.datetime:
    return value if value.tzinfo is not None else value.replace(tzinfo=_dt.timezone.utc)


def _conform_scalar(value: Any, ftype: str) -> Any:
    """Coerce one non-null value to the warehouse type ``ftype`` — the
    role BigQuery's ingestion plays for the reference (server-side
    coercion after inference)."""
    if ftype == wtypes.STRING:
        return value if isinstance(value, str) else str(value)
    if ftype == wtypes.FLOAT:
        return float(value)
    if ftype == wtypes.INTEGER:
        return int(value)
    if ftype == wtypes.BOOLEAN:
        return bool(value)
    if ftype in (wtypes.DATETIME, wtypes.TIMESTAMP):
        if not isinstance(value, _dt.datetime):
            if not isinstance(value, _dt.date):
                return value
            value = _dt.datetime(value.year, value.month, value.day)
        # Arrow ignores a datetime's UTC offset when the target type is
        # given, so normalise here with Spark's own rules: TIMESTAMP is
        # an instant (naive values are local time, as in
        # TimestampType.toInternal); DATETIME keeps the wall clock.
        if ftype == wtypes.TIMESTAMP:
            return value.astimezone(_dt.timezone.utc)
        return value.replace(tzinfo=None) if value.tzinfo is not None else value
    if ftype == wtypes.TIME:
        return value.isoformat() if isinstance(value, _dt.time) else str(value)
    return value


#: the exact Python type a scalar value of a warehouse type already has
#: when ``_conform_scalar`` would return it unchanged
_CONFORMED_TYPE = {
    wtypes.STRING: str,
    wtypes.FLOAT: float,
    wtypes.INTEGER: int,
    wtypes.BOOLEAN: bool,
}


def _conform_record(rows: list[dict], fields: list[dict], arrow: Iterable[pa.Field]) -> list[pa.Array]:
    """Conform a batch of records to ``fields`` column by column: one
    Arrow array per field, typed by its ``arrow`` field. A field no
    record carries is all nulls with no per-row work, so the cost
    follows the fields present, not the table's width. Keys are not
    cleaned again: ``prepare`` cleaned them at every depth.

    The name is fixed: the benchmark's trace wraps this module global
    by name for its ``warehouse.conform`` span, so every call, the
    recursion into RECORD fields included, goes through it."""
    n, present, columns = len(rows), set().union(*rows), []
    for f, af in zip(fields, arrow):
        name = f["name"]
        absent = name not in present
        values = None if absent else [r.get(name) for r in rows]
        # normalised as api_repr_to_struct_type does: a null in a
        # non-nullable Arrow column would be written as a zero
        required = str(f.get("mode", "")).upper() == wtypes.REQUIRED
        if required and n and (absent or any(v is None for v in values)):
            raise WarehouseTableRowsInvalid(
                f"field {name!r} is REQUIRED but the record has no value for it"
            )
        with _naming(name, af.type):
            columns.append(pa.nulls(n, af.type) if absent else _conform_column(values, f, af.type))
    return columns


@contextlib.contextmanager
def _naming(name: str, atype: pa.DataType):
    """Raise a failed conversion as ``WarehouseTableRowsInvalid``."""
    try:
        yield
    except (ValueError, TypeError, OverflowError, pa.ArrowException) as exc:
        raise WarehouseTableRowsInvalid(f"field {name!r} ({atype}): {exc}") from exc


def _conform_column(values: list, field: dict, atype: pa.DataType) -> pa.Array:
    """One field's values as an Arrow array of ``atype``. A value of
    exactly the field's Python type passes through. REPEATED wraps a
    scalar and reads a plain dict as its keys (the reference's quirk);
    REPEATED RECORD keeps only dict elements."""
    ftype = wtypes.normalize_type(field.get("type", wtypes.DEFAULT_TYPE))
    repeated = str(field.get("mode", "")).upper() == wtypes.REPEATED
    if ftype == wtypes.RECORD:  # built as lists; a RECORD is its one-element list
        if repeated:
            lists = [
                None if v is None else [
                    e for e in (v if isinstance(v, (list, tuple)) else (v,)) if isinstance(e, dict)
                ]
                for v in values
            ]
        elif all(isinstance(v, dict) for v in values if v is not None):
            lists = [None if v is None else [v] for v in values]
        else:
            raise TypeError("a value that is not a record")
        flat = [e for items in lists if items for e in items]
        offsets = itertools.accumulate((len(items or ()) for items in lists), initial=0)
        struct = atype.value_type if repeated else atype
        children = _conform_record(flat, field.get("fields", []), struct)
        array = pa.ListArray.from_arrays(
            pa.array(list(offsets), pa.int32()),
            pa.Array.from_buffers(struct, len(flat), [None], children=children),
            type=atype if repeated else None,
            mask=pa.array([items is None for items in lists]),
        )
        return array if repeated else pc.list_element(array, 0)
    exact = _CONFORMED_TYPE.get(ftype)
    if repeated:
        return pa.array([None if v is None else [
            x if type(x) is exact or x is None else _conform_scalar(x, ftype)
            for x in (list(v) if isinstance(v, dict) else v if isinstance(v, (list, tuple)) else (v,))
        ] for v in values], atype)
    return pa.array(
        [v if type(v) is exact or v is None else _conform_scalar(v, ftype) for v in values], atype
    )


def _struct(api: list[dict], op_col: str | None = None) -> T.StructType:
    """The table's Spark schema, plus a merge's string ``op_col``."""
    struct = wtypes.api_repr_to_struct_type(api)
    return struct.add(op_col, T.StringType()) if op_col else struct


def _conform_records(data, api_of, op_col: str | None = None) -> tuple[list[dict], pa.Table]:
    """Fit a record batch to the schema ``api_of(records)`` as one Arrow
    table typed by Spark's own Spark→Arrow map: a field missing at any
    depth is null, an unknown field drops, and a null REQUIRED field or
    a value that cannot convert raises ``WarehouseTableRowsInvalid``
    naming the field. ``op_col`` adds a merge's op column (``"U"``
    where a record has none). Returns ``(api, table)``."""
    records = prepare(data)
    if not isinstance(records, list):
        raise WarehouseInvalidInput(f"expected records or DataFrame, got {type(data).__name__}")
    api = api_of(records)
    schema = to_arrow_schema(_struct(api, op_col))
    rows = [r for r in records if isinstance(r, dict)]
    if rows and not len(schema):
        raise WarehouseTableRowsInvalid("records have no fields to write")
    columns = _conform_record(rows, api, schema)
    if op_col:
        with _naming(op_col, pa.string()):
            columns.append(pa.array([r.get(op_col, "U") for r in rows], pa.string()))
    return api, pa.Table.from_arrays(columns, schema=schema)


def _conform_expr(col: Column, src_type: T.DataType | None, dst_type: T.DataType) -> Column:
    """Conform one column (ADVICE r15 #1): a whole-struct ``cast``
    fails when the batch's struct misses (or adds) nested fields, while
    ``_conform_record`` backfills them with NULL and drops extras, so
    structs are rebuilt field by field."""
    if src_type is None:
        return F.lit(None).cast(dst_type)
    if isinstance(dst_type, T.StructType):
        if not isinstance(src_type, T.StructType):
            return col.cast(dst_type)  # loud, like the record path's type clash
        sub_have = {sf.name: sf.dataType for sf in src_type.fields}
        inner = [
            _conform_expr(
                col.getField(sub.name) if sub.name in sub_have else F.lit(None),
                sub_have.get(sub.name),
                sub.dataType,
            ).alias(sub.name)
            for sub in dst_type.fields
        ]
        # a NULL struct stays NULL (not a struct of NULLs)
        return F.when(col.isNotNull(), F.struct(*inner))
    if isinstance(dst_type, T.ArrayType):
        if isinstance(src_type, T.ArrayType):
            if isinstance(dst_type.elementType, T.StructType):
                return F.when(
                    col.isNotNull(),
                    F.transform(
                        col,
                        lambda x: _conform_expr(x, src_type.elementType, dst_type.elementType),
                    ),
                )
            return col.cast(dst_type)
        # reference quirk parity (_conform_record): a scalar arriving
        # for a REPEATED field wraps into a 1-element array; NULL stays
        # NULL
        elem = _conform_expr(col, src_type, dst_type.elementType)
        return F.when(col.isNotNull(), F.array(elem))
    return col.cast(dst_type)


def _required_paths(fields: list[dict], parent: tuple = ()):
    """Each REQUIRED field's path of ``(name, repeated)`` steps."""
    for f in fields:
        mode = str(f.get("mode", wtypes.DEFAULT_MODE)).upper()
        path = (*parent, (f["name"], mode == wtypes.REPEATED))
        if mode == wtypes.REQUIRED:
            yield path
        if f.get("type", wtypes.DEFAULT_TYPE) == wtypes.RECORD:
            yield from _required_paths(f.get("fields", []), path)


def _null_at(get, path) -> Column:
    """``_conform_record``'s REQUIRED rule: true where the field at
    ``path`` is null in a present parent (or REPEATED RECORD element)."""
    (name, repeated), rest = path[0], path[1:]
    col = get(name)
    if not rest:
        return col.isNull()
    if repeated:
        return F.exists(col, lambda x: x.isNotNull() & _null_at(x.getField, rest))
    return col.isNotNull() & _null_at(col.getField, rest)


def _conform_dataframe(
    data: DataFrame, api_of, op_col: str | None = None, require: Iterable[str] = ()
) -> tuple[list[dict], DataFrame]:
    """:func:`_conform_records`'s contract as one projection; the
    REQUIRED rule costs one Spark job, only if the schema has such a
    field. A ``require`` column (a rewrite's keys, a merge's op) must
    be present: backfilled null, every row would be a null-key append
    or a delete."""
    src = clean_dataframe_keys(data)
    have = {f.name: f.dataType for f in src.schema.fields}
    missing = [c for c in require if c not in have]
    if missing:
        raise WarehouseInvalidInput(f"DataFrame lacks required column(s) {missing}")
    api = api_of(src)
    out = src.select(
        *[
            _conform_expr(F.col(f.name) if f.name in have else F.lit(None),
                          have.get(f.name), f.dataType).alias(f.name)
            for f in _struct(api, op_col).fields
        ]
    )
    paths = list(_required_paths(api))
    if paths:
        nulls = [_null_at(F.col, p) for p in paths]
        hit = out.where(functools.reduce(Column.__or__, nulls)).select(
            *[n.alias(str(i)) for i, n in enumerate(nulls)]
        ).first()
        if hit is not None:
            name = next(p[-1][0] for p, v in zip(paths, hit) if v)
            raise WarehouseTableRowsInvalid(
                f"field {name!r} is REQUIRED but a row has no value for it"
            )
    return api, out


class SparkWarehouse:
    """One instance ≙ one warehouse table (classes.py:20-23)."""

    def __init__(self, spark: SparkSession, root: str, table: str):
        self.spark = spark
        self.root = root
        self.table = table

    # --- paths / metadata -------------------------------------------------

    @property
    def path(self) -> str:
        return os.path.join(self.root, self.table)

    @property
    def _meta_path(self) -> str:
        return os.path.join(self.path, META_FILE)

    def exists(self) -> bool:
        return os.path.isdir(self.path) and os.path.exists(self._meta_path)

    def _read_meta(self) -> dict:
        if not os.path.exists(self._meta_path):
            return {}
        with open(self._meta_path) as fh:
            return json.load(fh)

    def _write_meta(self, meta: dict) -> None:
        os.makedirs(self.path, exist_ok=True)
        tmp = self._meta_path + ".tmp"
        with open(tmp, "w") as fh:
            json.dump(meta, fh, default=str)
        os.replace(tmp, self._meta_path)

    @property
    def schema(self) -> list[dict] | None:
        return self._read_meta().get("schema")

    # --- lifecycle verbs --------------------------------------------------

    @classmethod
    def get(cls, spark: SparkSession, root: str, table: str) -> "SparkWarehouse":
        """Resolve an existing table; raises if absent
        (bigquery/__init__.py:519-544 raises through the falsy-error
        convention)."""
        wh = cls(spark, root, table)
        if not wh.exists():
            raise WarehouseTableNotFound(f"table {table!r} not found under {root!r}")
        return wh

    @classmethod
    def select(cls, spark: SparkSession, root: str, table: str) -> "SparkWarehouse":
        """Local reference without existence check (no 'network'),
        bigquery/__init__.py:103-119,546-565."""
        return cls(spark, root, table)

    @classmethod
    def new(
        cls,
        spark: SparkSession,
        root: str,
        table: str,
        data=None,
        schema: list[dict] | None = None,
        replace: bool = False,
        expires: _dt.datetime | None = None,
    ) -> "SparkWarehouse":
        """Create a table (bigquery/__init__.py:152-230,567-609);
        ``replace=False`` matches the OO default (:576)."""
        wh = cls(spark, root, table)
        if wh.exists():
            if not replace:
                raise WarehouseInvalidInput(
                    f"table {table!r} already exists; pass replace=True to rebuild"
                )
            wh.delete()
        wh._write_meta(
            {
                "schema": schema,
                "expires": expires.isoformat() if expires else None,
                "created_at": _dt.datetime.now(_dt.timezone.utc).isoformat(),
            }
        )
        if data is not None:
            wh.load(data, schema=schema)
        return wh

    def rebuild(self) -> "SparkWarehouse":
        """Drop and recreate empty, preserving the prior schema
        (bigquery/__init__.py:613-652)."""
        meta = self._read_meta()
        if not self.exists():
            raise WarehouseTableNotFound(f"table {self.table!r} not found")
        self.delete()
        self._write_meta({**meta, "rebuilt_at": _dt.datetime.now(_dt.timezone.utc).isoformat()})
        return self

    def delete(self, not_found_ok: bool = True) -> bool:
        """Drop the table (bigquery/__init__.py:327-361,687-700)."""
        if not os.path.isdir(self.path):
            if not_found_ok:
                return False
            raise WarehouseTableNotFound(f"table {self.table!r} not found")
        shutil.rmtree(self.path)
        return True

    drop = delete  # classes.py:60-64 alias

    def set_expiry(self, expires: _dt.datetime | None = None, update: bool = True) -> None:
        """Set/clear TTL (bigquery/__init__.py:248-284). ``update``
        parity: False stages the change for apply_changes."""
        self._pending = {**getattr(self, "_pending", {}), "expires": expires.isoformat() if expires else None}
        if update:
            self.apply_changes()

    def set_schema(self, schema: list[dict], update: bool = True) -> None:
        """Replace the declared schema (bigquery/__init__.py:286-324)."""
        self._pending = {**getattr(self, "_pending", {}), "schema": schema}
        if update:
            self.apply_changes()

    def apply_changes(self) -> None:
        """Push staged metadata mutations (bigquery/__init__.py:232-246)."""
        pending = getattr(self, "_pending", {})
        if pending:
            self._write_meta({**self._read_meta(), **pending})
            self._pending = {}

    def is_expired(self, now: _dt.datetime | None = None) -> bool:
        """Whether the stored expiry instant is at or before ``now``
        (default: the current time). Naive values count as UTC."""
        exp = self._read_meta().get("expires")
        if not exp:
            return False
        now = now or _dt.datetime.now(_dt.timezone.utc)
        return _as_utc(now) >= _as_utc(_dt.datetime.fromisoformat(exp))

    # --- data verbs -------------------------------------------------------

    def df(self) -> DataFrame:
        """Lazy scan of the table's parquet data."""
        if not self.exists():
            raise WarehouseTableNotFound(f"table {self.table!r} not found")
        return self._scan(os.path.join(self.path, "data"), self.schema)

    def _scan(self, path: str, api: list[dict] | None) -> DataFrame:
        """Lazy scan of ``path`` with the declared schema ``api``: files
        written before a schema-widening append lack the newer columns,
        and a bare read would surface whichever footer Spark samples
        first — the declared schema fills missing columns with null
        deterministically (cheaper than mergeSchema, which re-reads
        every footer)."""
        if not os.path.isdir(path) or not os.listdir(path):
            return self.spark.createDataFrame([], wtypes.api_repr_to_struct_type(api or []))
        if api:
            return self.spark.read.schema(wtypes.api_repr_to_struct_type(api)).parquet(path)
        return self.spark.read.parquet(path)

    def merge(self, changes, keys: Iterable[str], op_col: str = "op") -> bool:
        """Three-way CDC merge: apply a change batch whose ``op_col``
        holds ``I`` (insert), ``U`` (update), or ``D`` (delete) —
        the full MERGE INTO semantics ``update`` (upsert-only) lacks.
        ``changes`` (records or a DataFrame) is conformed as by
        ``load``; a record without ``op_col`` is an update, and a
        DataFrame must carry ``op_col`` and every key column. Plan:
        ``_rewrite``."""
        return self._rewrite(changes, keys, op_col)

    def _rewrite(self, data, keys: Iterable[str], op_col: str | None = None) -> bool:
        """The plan ``update`` and ``merge`` share: conform the change
        batch, then one LEFT ANTI join drops every existing row whose
        key it holds (updates, deletes, and colliding inserts alike)
        and its upserts (every row, or a merge's I/U rows) union back
        in — a single key shuffle regardless of the op mix — written to
        a temp path then atomically swapped in for ``data/``;
        single-writer assumption documented (SURVEY.md §7.5). At scale,
        partition the table by key prefix so the rewrite touches only
        affected partitions (or use a lakehouse format whose MERGE does
        file-level pruning)."""
        keys = list(keys)
        api = self.schema
        if api is None:
            raise WarehouseTableNotFound(f"table {self.table!r} has no schema")
        if isinstance(data, DataFrame):
            require = keys + [op_col] if op_col else keys
            _, ch = _conform_dataframe(data, lambda _: api, op_col, require)
        else:
            _, table = _conform_records(data, lambda _: api, op_col)
            ch = self.spark.createDataFrame(table, _struct(api, op_col))
        upserts = ch.filter(F.col(op_col).isin("I", "U")).drop(op_col) if op_col else ch
        merged = (
            self.df()
            .join(ch.select(*keys).distinct(), on=keys, how="left_anti")
            .unionByName(upserts)
        )
        data_path = os.path.join(self.path, "data")
        tmp_path = os.path.join(self.path, f".tmp_rewrite_{uuid.uuid4().hex}")
        merged.write.mode("overwrite").parquet(tmp_path)
        old_path = os.path.join(self.path, f".old_{uuid.uuid4().hex}")
        if os.path.isdir(data_path):
            os.replace(data_path, old_path)
        os.replace(tmp_path, data_path)
        if os.path.isdir(old_path):
            shutil.rmtree(old_path)
        return True

    # -- snapshots / time travel -------------------------------------------

    def snapshot(self) -> int:
        """Record the current table state as an immutable version and
        return its number (1-based). Snapshot-on-demand time travel:
        the data directory is hard-link-copied into
        ``snapshots/v{N}`` (parquet files are immutable once written,
        so links are safe and O(files), not O(bytes)) and the version
        is appended to the metadata sidecar with the schema it was
        taken under — reading an old version uses the schema of its
        time, not today's.

        Scale: lakehouse formats (Iceberg/Delta) get this from
        manifest metadata without copying; the hard-link copy is the
        plain-parquet equivalent with the same O(metadata) cost on a
        POSIX store. On object stores, snapshot by recording the file
        LIST instead of linking.
        """
        if not self.exists():
            raise WarehouseTableNotFound(f"table {self.table!r} not found")
        meta = self._read_meta()
        versions = meta.get("versions", [])
        # monotonic counter survives vacuum() so numbers are never reused
        n = meta.get("next_version", len(versions) + 1)
        data_path = os.path.join(self.path, "data")
        snap_path = os.path.join(self.path, "snapshots", f"v{n}")
        os.makedirs(os.path.dirname(snap_path), exist_ok=True)
        os.makedirs(snap_path)
        if os.path.isdir(data_path):
            for name in os.listdir(data_path):
                src = os.path.join(data_path, name)
                if os.path.isfile(src):
                    try:
                        os.link(src, os.path.join(snap_path, name))
                    except OSError:  # cross-device: fall back to copy
                        shutil.copy2(src, os.path.join(snap_path, name))
        versions.append(
            {
                "version": n,
                "taken_at": _dt.datetime.now(_dt.timezone.utc).isoformat(),
                "schema": meta.get("schema"),
            }
        )
        self._write_meta({**meta, "versions": versions, "next_version": n + 1})
        return n

    def versions(self) -> list[dict]:
        """Snapshot inventory (version number, timestamp, schema)."""
        return self._read_meta().get("versions", [])

    def df_at(self, version: int) -> DataFrame:
        """Lazy scan of snapshot ``version`` with the schema that was
        declared when the snapshot was taken (time travel)."""
        for v in self.versions():
            if v["version"] == version:
                return self._scan(
                    os.path.join(self.path, "snapshots", f"v{version}"), v.get("schema")
                )
        raise WarehouseTableNotFound(
            f"table {self.table!r} has no snapshot version {version}"
        )

    def vacuum(self, keep_last: int = 1) -> list[int]:
        """Drop all but the newest ``keep_last`` snapshot versions and
        return the version numbers removed. Retention GC for the
        time-travel surface: each hard-link snapshot pins its parquet
        files against deletion, so unbounded snapshot history holds
        every byte the table has ever contained.

        Scale: removal is O(files) metadata work per dropped version
        (unlink of hard links — data blocks free once the last link
        goes). Version numbers are never reused: the metadata keeps a
        monotonic counter, so ``df_at`` on a vacuumed version raises
        ``WarehouseTableNotFound`` rather than silently reading a
        different snapshot — reproducibility failures must be loud.
        """
        if keep_last < 0:
            raise ValueError("keep_last must be >= 0")
        meta = self._read_meta()
        versions = meta.get("versions", [])
        cut = len(versions) - keep_last
        dropped, kept = versions[:cut], versions[cut:]
        for v in dropped:
            shutil.rmtree(
                os.path.join(self.path, "snapshots", f"v{v['version']}"),
                ignore_errors=True,
            )
        self._write_meta(
            {**meta, "versions": kept, "next_version": len(versions) + 1}
        )
        return [v["version"] for v in dropped]

    def load(
        self,
        data,
        schema: list[dict] | None = None,
        full_schema: bool = False,
    ) -> bool:
        """The flagship load pipeline (bigquery/__init__.py:363-461,
        SURVEY.md §3.1): prepare → adopt-existing-schema → infer/merge
        (existing wins per field) → create-if-missing → append.

        The reference's chunked streaming-insert loop (:432-442)
        becomes one parquet file per batch, and parquet row-groups
        replace 20 MiB JSON chunks. A record batch is driver-resident
        by contract, so the driver writes it: the records are conformed
        column by column into one Arrow table, typed by Spark's own
        Spark→Arrow map, and appended as a single file with no Spark
        job. A field no record carries costs no per-row work, so the
        conform does not slow down as the table widens. A batch with
        no rows updates the schema and writes no file.

        ``data`` may also be a Spark DataFrame (VERDICT r14 #5): that
        is the BULK path — no records round-trip, no driver
        materialization. Key sanitation runs as a zero-copy projection
        (``clean_dataframe_keys``), the infer/merge stage runs
        distributed (``infer_schema_distributed``: per-partition
        observation + treeAggregate), and the append is a straight
        ``df.write`` — every stage scales with the cluster, closing
        the verb-decade finding that the record path's collect slope
        (6.02) is driver-bound by contract.

        Both input kinds share the schema steps above and, with
        ``update`` and ``merge``, one conform contract: a field missing
        at any depth is null, an unknown field drops, and a null
        REQUIRED field or a value that cannot convert raises
        ``WarehouseTableRowsInvalid`` before anything is written.
        """
        existing = self.schema if self.exists() else None
        if existing and schema is None:
            schema = existing  # :409-410 — adopt table schema

        def api_of(batch, infer) -> list[dict]:
            if full_schema and schema:
                api = schema  # caller asserts completeness (:413-417)
            else:
                api = infer(batch, schema=schema).schema
            return self._widen_only_merge(api, existing)

        if isinstance(data, DataFrame):
            api, out = _conform_dataframe(data, lambda src: api_of(src, infer_schema_distributed))
        else:
            api, out = _conform_records(data, lambda records: api_of(records, infer_schema))
        # schema first, data second: a crash in between leaves extra
        # nullable columns, never a data file the schema cannot read
        created = _dt.datetime.now(_dt.timezone.utc).isoformat()
        self._write_meta({"expires": None, "created_at": created, **self._read_meta(), "schema": api})
        if isinstance(out, DataFrame):
            out.write.mode("append").parquet(os.path.join(self.path, "data"))
        elif out.num_rows:
            self._append_file(out)
        return True

    def _append_file(self, table: pa.Table) -> None:
        """Append ``table`` to ``data/`` as one parquet file compressed
        with the session's parquet codec. It is written under a dot
        name, which Spark's reader skips, and renamed into place, so no
        reader sees a partial file."""
        codec = self.spark.conf.get("spark.sql.parquet.compression.codec").lower()
        if codec == "uncompressed":
            codec = "none"
        data_path = os.path.join(self.path, "data")
        os.makedirs(data_path, exist_ok=True)
        suffix = ".parquet" if codec == "none" else f".{codec}.parquet"
        name = f"part-{uuid.uuid4().hex}{suffix}"
        tmp = os.path.join(data_path, f".{name}.tmp")
        try:
            pq.write_table(table, tmp, compression=codec)
            os.replace(tmp, os.path.join(data_path, name))
        finally:
            if os.path.exists(tmp):
                os.remove(tmp)

    @staticmethod
    def _widen_only_merge(
        api: list[dict], existing: list[dict] | None
    ) -> list[dict]:
        """Widen-only, stable-order schema merge shared by both load
        paths: a batch that omits an existing column must not NARROW
        the table schema, and an append must not PERMUTE it either —
        keep every existing field in its declared position (merged
        definition if re-observed, else unchanged), then append
        genuinely new fields after (positional consumers see appends,
        never reorders)."""
        if not existing:
            return api
        by_name = {f["name"]: f for f in api}
        return [
            by_name.pop(f["name"], dict(f)) for f in existing
        ] + list(by_name.values())

    def query(self, query: str) -> DataFrame:
        """Raw SQL over the warehouse (R1, the reference's ``pass``
        stub bigquery/__init__.py:463-472) — the table is registered
        as a temp view under its own name, then Catalyst does the
        rest."""
        self.df().createOrReplaceTempView(self.table)
        return self.spark.sql(query)

    def fetch(
        self,
        fields: Iterable[str] | str = "*",
        sort: Iterable[tuple[str, QuerySort]] = (),
        count: int | None = 10,
    ) -> DataFrame:
        """Projection + sort + limit (R2, stub at
        bigquery/__init__.py:474-499)."""
        df = self.df()
        if isinstance(fields, str):
            # a bare column name must select that column, not its chars
            fields = [fields] if fields != "*" else "*"
        if fields != "*":
            df = df.select(*list(fields))
        order = [
            F.col(c).asc() if s in (QuerySort.ASCENDING, "ASC") else F.col(c).desc()
            for c, s in sort
        ]
        if order:
            df = df.orderBy(*order)
        return df.limit(count) if count is not None else df

    def update(self, data, keys: Iterable[str]) -> bool:
        """Upsert without a lakehouse dependency (R3, stub at
        classes.py:56-58): new rows replace existing rows that match
        on ``keys``. ``data`` (records, or a DataFrame such as a
        ``foreachBatch`` micro-batch) is conformed as by ``load``; a
        DataFrame must carry every key column. Plan: ``_rewrite``."""
        return self._rewrite(data, keys)

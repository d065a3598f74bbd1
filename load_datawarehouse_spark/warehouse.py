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
driver, with no Spark job.
"""

from __future__ import annotations

import datetime as _dt
import json
import os
import shutil
import uuid
from enum import Enum
from typing import Any, Iterable

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
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


def _conform_value(value: Any, field: dict) -> Any:
    """Coerce one record value to its condensed schema field — the
    role BigQuery's ingestion plays for the reference (server-side
    coercion after inference)."""
    ftype = field.get("type", wtypes.DEFAULT_TYPE)
    mode = field.get("mode", wtypes.DEFAULT_MODE)
    if mode == wtypes.REPEATED:
        if ftype == wtypes.RECORD:
            items = value if isinstance(value, (list, tuple)) else [value]
            sub = field.get("fields", [])
            return [
                _conform_record(v, sub) for v in items if isinstance(v, dict)
            ]
        if isinstance(value, dict):  # plain-dict quirk: keys as strings
            items: Iterable[Any] = list(value.keys())
        elif isinstance(value, (list, tuple)):
            items = value
        else:
            items = [value]
        return [_conform_scalar(v, ftype) for v in items]
    if ftype == wtypes.RECORD:
        if isinstance(value, dict):
            return _conform_record(value, field.get("fields", []))
        return value  # not a record: the Arrow build rejects it
    return _conform_scalar(value, ftype)


def _conform_scalar(value: Any, ftype: str) -> Any:
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


def _conform_record(record: dict, schema: list[dict]) -> dict:
    from load_datawarehouse_spark.data import clean_field_key

    cleaned = {clean_field_key(k): v for k, v in record.items()}
    out = {}
    for f in schema:
        name = f["name"]
        value = cleaned.get(name)
        if value is None:
            # normalised as api_repr_to_struct_type does: a null in a
            # non-nullable Arrow column would be written as a zero
            if str(f.get("mode", "")).upper() == wtypes.REQUIRED:
                raise WarehouseTableRowsInvalid(
                    f"field {name!r} is REQUIRED but the record has no value for it"
                )
            out[name] = None
        else:
            out[name] = _conform_value(value, f)
    return out


def _arrow_table(rows: list[dict], struct: T.StructType) -> pa.Table:
    """Conformed rows as one Arrow table typed by the table's schema
    (Spark's own Spark→Arrow type map). Built column by column so a
    value Arrow cannot convert is reported with its field's name."""
    schema = to_arrow_schema(struct)
    if rows and not len(schema):
        raise WarehouseTableRowsInvalid("records have no fields to write")
    columns = []
    for field in schema:
        try:
            columns.append(pa.array([r[field.name] for r in rows], type=field.type))
        except (pa.ArrowException, OverflowError) as exc:
            raise WarehouseTableRowsInvalid(
                f"field {field.name!r} ({field.type}): {exc}"
            ) from exc
    return pa.Table.from_arrays(columns, schema=schema)


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
        exp = self._read_meta().get("expires")
        if not exp:
            return False
        now = now or _dt.datetime.now(_dt.timezone.utc)
        return now.isoformat() >= exp

    # --- data verbs -------------------------------------------------------

    def df(self) -> DataFrame:
        """Lazy scan of the table's parquet data."""
        if not self.exists():
            raise WarehouseTableNotFound(f"table {self.table!r} not found")
        data_path = os.path.join(self.path, "data")
        if not os.path.isdir(data_path):
            api = self.schema or []
            return self.spark.createDataFrame([], wtypes.api_repr_to_struct_type(api))
        api = self.schema
        if api:
            # read with the DECLARED schema: files written before a
            # schema-widening append lack the newer columns, and a bare
            # read would surface whichever footer Spark samples first —
            # the declared schema fills missing columns with null
            # deterministically (cheaper than mergeSchema, which
            # re-reads every footer).
            return self.spark.read.schema(
                wtypes.api_repr_to_struct_type(api)
            ).parquet(data_path)
        return self.spark.read.parquet(data_path)

    def merge(self, changes, keys: Iterable[str], op_col: str = "op") -> bool:
        """Three-way CDC merge: apply a change batch whose ``op_col``
        holds ``I`` (insert), ``U`` (update), or ``D`` (delete) —
        the full MERGE INTO semantics ``update`` (upsert-only) lacks.

        Plan: one LEFT ANTI join drops every changed key (updates,
        deletes, and colliding inserts alike), then the I/U payload
        rows union back in — a single key shuffle regardless of the
        op mix, written via the same atomic temp-path swap as
        ``update``. At scale, partition the table by key prefix so
        the rewrite touches only affected partitions (or use a
        lakehouse format whose MERGE does file-level pruning).
        """
        keys = list(keys)
        api = self.schema
        if api is None:
            raise WarehouseTableNotFound(f"table {self.table!r} has no schema")
        struct = wtypes.api_repr_to_struct_type(api)
        if isinstance(changes, DataFrame):
            ch = changes
        else:
            records = prepare(changes)
            rows = []
            for r in records:
                if not isinstance(r, dict):
                    continue
                conformed = _conform_record(
                    {k: v for k, v in r.items() if k != op_col}, api
                )
                rows.append({**conformed, op_col: r.get(op_col, "U")})
            # StructType.add MUTATES the receiver — build a fresh copy
            # so the payload struct used below keeps only data fields
            ch_struct = T.StructType(list(struct.fields)).add(op_col, "string")
            ch = self.spark.createDataFrame(_arrow_table(rows, ch_struct), ch_struct)
        upserts = ch.filter(F.col(op_col).isin("I", "U")).select(
            *[F.col(f.name).cast(f.dataType).alias(f.name) for f in struct.fields]
        )
        changed_keys = ch.select(*keys).distinct()
        merged = (
            self.df()
            .join(changed_keys, on=keys, how="left_anti")
            .unionByName(upserts)
        )
        data_path = os.path.join(self.path, "data")
        tmp_path = os.path.join(self.path, f".tmp_merge_{uuid.uuid4().hex}")
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
                snap_path = os.path.join(self.path, "snapshots", f"v{version}")
                api = v.get("schema")
                if not os.path.isdir(snap_path) or not os.listdir(snap_path):
                    return self.spark.createDataFrame(
                        [], wtypes.api_repr_to_struct_type(api or [])
                    )
                if api:
                    return self.spark.read.schema(
                        wtypes.api_repr_to_struct_type(api)
                    ).parquet(snap_path)
                return self.spark.read.parquet(snap_path)
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
        by contract, so the driver writes it: the conformed records
        become one Arrow table, typed by Spark's own Spark→Arrow map,
        and are appended as a single file with no Spark job. A batch
        with no rows updates the schema and writes no file. A record
        that fails its schema (a null for a REQUIRED field, a value
        that cannot convert) raises ``WarehouseTableRowsInvalid``
        before anything is written.

        ``data`` may also be a Spark DataFrame (VERDICT r14 #5): that
        is the BULK path — no records round-trip, no driver
        materialization. Key sanitation runs as a zero-copy projection
        (``clean_dataframe_keys``), the infer/merge stage runs
        distributed (``infer_schema_distributed``: per-partition
        observation + treeAggregate), and the append is a straight
        ``df.write`` — every stage scales with the cluster, closing
        the verb-decade finding that the record path's collect slope
        (6.02) is driver-bound by contract. Semantics are identical to
        the records path: adopt-existing-schema, existing-wins field
        merge, widen-only stable-order append.
        """
        if isinstance(data, DataFrame):
            src = clean_dataframe_keys(data)
            existing = self.schema if self.exists() else None
            if existing and schema is None:
                schema = existing  # :409-410 — adopt table schema
            if full_schema and schema:
                api = schema  # caller asserts completeness (:413-417)
            else:
                api = infer_schema_distributed(src, schema=schema).schema
            api = self._widen_only_merge(api, existing)
            struct = wtypes.api_repr_to_struct_type(api)
            have = {f.name: f.dataType for f in src.schema.fields}

            def _conform_expr(col, src_type, dst_type):
                """Recursive per-field conform (ADVICE r15 #1): a
                whole-struct ``cast`` fails with an AnalysisException
                when the batch's struct misses (or adds) nested fields
                relative to the table schema, while the record path's
                ``_conform_record`` backfills missing nested fields
                with NULL and drops extras. Build struct columns
                field-by-field so the two load paths evolve nested
                schemas identically."""
                from pyspark.sql import types as T

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
                                    lambda x: _conform_expr(
                                        x, src_type.elementType, dst_type.elementType
                                    ),
                                ),
                            )
                        return col.cast(dst_type)
                    # reference quirk parity (_conform_record): a
                    # scalar arriving for a REPEATED field wraps into
                    # a 1-element array; NULL stays NULL
                    elem = _conform_expr(col, src_type, dst_type.elementType)
                    return F.when(col.isNotNull(), F.array(elem))
                return col.cast(dst_type)

            df = src.select(
                *[
                    _conform_expr(F.col(f.name) if f.name in have else F.lit(None),
                                  have.get(f.name), f.dataType).alias(f.name)
                    for f in struct.fields
                ]
            )
        else:
            records = prepare(data)
            if not isinstance(records, list):
                raise WarehouseInvalidInput(
                    f"expected records or DataFrame, got {type(data).__name__}"
                )
            existing = self.schema if self.exists() else None
            if existing and schema is None:
                schema = existing  # :409-410 — adopt table schema
            if full_schema and schema:
                api = schema  # caller asserts completeness (:413-417)
            else:
                api = infer_schema(records, schema=schema).schema
            api = self._widen_only_merge(api, existing)
            struct = wtypes.api_repr_to_struct_type(api)
            conformed = [
                _conform_record(r, api) for r in records if isinstance(r, dict)
            ]
            table = _arrow_table(conformed, struct)
        # schema first, data second: a crash in between leaves extra
        # nullable columns, never a data file the schema cannot read
        if not self.exists():
            self._write_meta(
                {"schema": api, "expires": None,
                 "created_at": _dt.datetime.now(_dt.timezone.utc).isoformat()}
            )
        else:
            self._write_meta({**self._read_meta(), "schema": api})
        if isinstance(data, DataFrame):
            df.write.mode("append").parquet(os.path.join(self.path, "data"))
        elif table.num_rows:
            self._append_file(table)
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
        on ``keys``.

        Plan: existing LEFT ANTI JOIN new (drop rows being replaced)
        UNION new, written to a temp path then atomically swapped —
        single-writer assumption documented (SURVEY.md §7.5). The
        anti-join shuffles once on the key; at scale, partition the
        table by the key prefix so the rewrite touches only affected
        partitions.
        """
        keys = list(keys)
        api = self.schema
        if api is None:
            raise WarehouseTableNotFound(f"table {self.table!r} has no schema")
        struct = wtypes.api_repr_to_struct_type(api)
        if isinstance(data, DataFrame):
            # Distributed fast path: a DataFrame source (e.g. a
            # foreachBatch micro-batch) is conformed to the declared
            # schema by projection+cast — no driver round-trip, so the
            # upsert scales with the cluster, not the driver.
            new_df = data.select(
                *[F.col(f.name).cast(f.dataType).alias(f.name) for f in struct.fields]
            )
        else:
            records = prepare(data)
            rows = [_conform_record(r, api) for r in records if isinstance(r, dict)]
            new_df = self.spark.createDataFrame(_arrow_table(rows, struct), struct)
        existing_df = self.df()
        merged = existing_df.join(new_df, on=keys, how="left_anti").unionByName(new_df)

        data_path = os.path.join(self.path, "data")
        tmp_path = os.path.join(self.path, f".tmp_update_{uuid.uuid4().hex}")
        merged.write.mode("overwrite").parquet(tmp_path)
        old_path = os.path.join(self.path, f".old_{uuid.uuid4().hex}")
        if os.path.isdir(data_path):
            os.replace(data_path, old_path)
        os.replace(tmp_path, data_path)
        if os.path.isdir(old_path):
            shutil.rmtree(old_path)
        return True

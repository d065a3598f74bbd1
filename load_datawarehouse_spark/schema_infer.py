"""Reference-faithful schema inference over semi-structured records.

Reproduces the observation -> condense lattice of
``/root/reference/src/load_datawarehouse/schema.py``:

- ``deconstruct_records`` (:486-773): walk every record and value,
  collecting the set of observed Python types per field path; non-dict
  rows land in ``type_errors``; a schema-stability factor counts the
  fraction of records that introduced new fields.
- ``condense_record_fields`` (:265-403): per field — existing-schema
  type wins verbatim (:359-375); else any sub-record observation wins
  (RECORD REPEATED, :376-378); else any list observation makes a
  REPEATED scalar whose type condenses ALL flattened element+scalar
  types (:379-380, :407-432); else scalar promotion.
- ``guess_warehouse_dtype`` (:434-482): priority switch
  bytes>datetime>date>time>str (datetime matches observed ``date``
  first because ``issubclass(datetime, date)`` — the verified
  date->DATETIME quirk), then numeric promotion
  (float>int>bool, the ``np.find_common_type`` lattice).

Fields the existing schema fixes are not observed: ``condense``
copies their entry verbatim whatever was seen, so only their presence
is recorded (which keeps field order and the stability factor
unchanged) and their values are never walked. ``infer_schema`` does
this in one pass over a batch it holds as a list: presence comes from
the batch's key union, each distinct key is cleaned once, and a row is
walked key by key only when it brings a key no earlier row had or
carries more than one key the schema leaves open.
``Observation.observe_row`` walks every key of every row; it serves
``infer_schema_distributed``, which streams a partition without
holding it.

Verified golden outputs: FIXTURES.md F1/F2 (executed against the
reference during the survey).

Known deliberate divergence: the reference re-initializes the type
set of a field whose raw name differs from its sanitized name on
every row (``schema.py:683-684`` checks the raw key against a
clean-keyed dict), silently keeping only the last row's observation
for dirty-named fields. This engine accumulates observations for all
fields; goldens are unaffected (they use clean names).

Scale path: ``infer_schema_distributed`` runs the same observation
per partition and merges with ``treeAggregate`` — the merge is an
associative ordered union, so the condensed schema is identical to
the sequential result (field order follows partition order; the
stability factor excludes each partition's first record rather than
only the global first — documented divergence).
"""

from __future__ import annotations

import datetime as _dt
from dataclasses import dataclass, field
from typing import Any, Iterable

from load_datawarehouse_spark import types as wtypes
from load_datawarehouse_spark.data import clean_field_key
from load_datawarehouse_spark.errors import WarehouseInvalidInput

try:  # numpy scalars observed in records map onto python kinds
    import numpy as _np

    _NP_SCALAR = (_np.generic,)
except Exception:  # pragma: no cover
    _np = None
    _NP_SCALAR = ()


# --- Observation IR --------------------------------------------------------


#: order key: (partition_id, row_index, intra_row_seq) of the FIRST
#: observation of a kind. "First observed" is thereby a GLOBAL property
#: — min() over keys is associative and commutative, so any
#: treeAggregate merge order reproduces the sequential result (the
#: reference's guess_warehouse_dtype returns the switch type of the
#: first-observed kind, so kind order is semantics, not bookkeeping).
#: The intra-row sequence makes keys TOTAL: without it, two kinds first
#: seen in the same row (e.g. ``[datetime, ""]``) tie, and the stable
#: sort in ``_kinds_in_order`` silently falls back to dict insertion
#: order — which depends on merge order (hypothesis-found
#: counterexample: ``[{'a': [dt, '']}, {'a': ['']}]`` condensed to
#: DATETIME or STRING depending on which partition merged first).
OrderKey = tuple


class _RowKeys:
    """Emits strictly increasing order keys for one row's walk."""

    __slots__ = ("part", "row", "i")

    def __init__(self, part: int, row: int) -> None:
        self.part, self.row, self.i = part, row, 0

    def next(self) -> OrderKey:
        key = (self.part, self.row, self.i)
        self.i += 1
        return key


def _first_add(d: dict, kind: str, key: OrderKey) -> None:
    prev = d.get(kind)
    if prev is None or key < prev:
        d[kind] = key


def _merge_keyed(into: dict, other: dict) -> None:
    for kind, key in other.items():
        _first_add(into, kind, key)


def _kinds_in_order(d: dict) -> list:
    return [k for k, _ in sorted(d.items(), key=lambda kv: kv[1])]


@dataclass
class FieldObs:
    """Merged observations for one field path (associative-mergeable)."""

    scalars: dict = field(default_factory=dict)  # kind -> first-seen OrderKey
    list_elems: dict = field(default_factory=dict)  # flattened list-element kinds
    has_list: bool = False
    record: "dict[str, FieldObs] | None" = None  # merged sub-record obs

    def merge(self, other: "FieldObs") -> "FieldObs":
        _merge_keyed(self.scalars, other.scalars)
        _merge_keyed(self.list_elems, other.list_elems)
        self.has_list = self.has_list or other.has_list
        if other.record is not None:
            if self.record is None:
                self.record = {}
            for k, v in other.record.items():
                if k in self.record:
                    self.record[k].merge(v)
                else:
                    self.record[k] = v
        return self


@dataclass
class Observation:
    """Per-partition / whole-input observation state.

    ``part_id`` orders this observation's rows against other
    partitions' rows: kind order keys are ``(part_id, row_index)``,
    so merging partition observations in ANY order yields the same
    first-observed kind ordering as one sequential pass in partition
    order.

    ``fixed`` names the top-level fields an existing schema already
    types: their presence is registered but their values are not
    observed. Skipping a field only shifts the intra-row sequence of
    later fields by a constant, so every field's own kind order is
    unchanged.
    """

    fields: "dict[str, FieldObs]" = field(default_factory=dict)
    n_rows: int = 0  # every enumerated row, incl. invalid
    n_records: int = 0  # dict rows only
    n_adding: int = 0  # rows (excl. the first record seen) adding new fields
    first_seen: bool = False
    type_errors: list = field(default_factory=list)  # sample of non-dict rows
    part_id: int = 0
    fixed: frozenset = frozenset()

    MAX_ERROR_SAMPLES = 20

    def observe_row(self, row: Any) -> None:
        order_key = _RowKeys(self.part_id, self.n_rows)
        self.n_rows += 1
        if not isinstance(row, dict):
            if len(self.type_errors) < self.MAX_ERROR_SAMPLES:
                self.type_errors.append(row)
            return
        added = _walk_row(self.fields, self.fixed, row, order_key)
        if self.first_seen and added:
            self.n_adding += 1
        self.first_seen = True
        self.n_records += 1

    def merge(self, other: "Observation") -> "Observation":
        for k, v in other.fields.items():
            if k in self.fields:
                self.fields[k].merge(v)
            else:
                self.fields[k] = v
        self.n_rows += other.n_rows
        self.n_records += other.n_records
        self.n_adding += other.n_adding
        self.first_seen = self.first_seen or other.first_seen
        for e in other.type_errors:
            if len(self.type_errors) < self.MAX_ERROR_SAMPLES:
                self.type_errors.append(e)
        return self

    @property
    def factor_of_records_adding_fields(self) -> float:
        # schema.py:753-755 — nonzero adding-rows / total enumerated rows
        return self.n_adding / self.n_rows if self.n_rows else 0.0


def _walk_row(fields: "dict[str, FieldObs]", fixed, row: dict, order_key: _RowKeys,
              clean=clean_field_key) -> bool:
    """Observe one dict row key by key, in its own order: register each
    ``clean``-ed name, and observe each non-None value of a name
    ``fixed`` does not hold. Returns whether the row added a field."""
    added = False
    for raw_key, value in row.items():
        key = clean(raw_key)
        obs = fields.get(key)
        if obs is None:
            obs = fields[key] = FieldObs()
            added = True
        if value is None or key in fixed:
            continue
        _observe_value(obs, value, order_key)
    return added


def _observe_value(obs: FieldObs, value: Any, order_key: "_RowKeys") -> None:
    """Observe one non-None value into a FieldObs (schema.py:687-720)."""
    kind = _EXACT_KINDS.get(type(value))
    if kind is not None:
        _first_add(obs.scalars, kind, order_key.next())
        return
    if type(value) is not dict and type(value) is not list:
        try:
            import pandas as _pd

            if isinstance(value, _pd.DataFrame):
                value = value.to_dict(orient="records")
            elif isinstance(value, _pd.Series):
                value = list(value)
        except Exception:  # pragma: no cover
            pass
        if _np is not None and isinstance(value, _np.ndarray):
            value = value.tolist()

    if isinstance(value, dict):
        # Plain dict degrades to a list of its KEYS (the verified
        # STRING-REPEATED quirk: deconstruct iterates dict keys,
        # schema.py:670,738-749).
        obs.has_list = True
        for k in value.keys():
            _first_add(obs.list_elems, _scalar_kind(k), order_key.next())
        return
    if isinstance(value, (list, tuple)):
        dict_elems = [e for e in value if isinstance(e, dict)]
        if dict_elems:
            # Sub-records: merge every dict element's fields; non-dict
            # elements are dropped (they're that level's type_errors).
            if obs.record is None:
                obs.record = {}
            for d in dict_elems:
                for raw_key, v in d.items():
                    key = clean_field_key(raw_key)
                    sub = obs.record.get(key)
                    if sub is None:
                        sub = obs.record[key] = FieldObs()
                    if v is not None:
                        _observe_value(sub, v, order_key)
            return
        obs.has_list = True
        for e in value:
            _first_add(obs.list_elems, _scalar_kind(e), order_key.next())
        return
    _first_add(obs.scalars, _scalar_kind(value), order_key.next())


#: kinds of the exact built-in scalar types, looked up before the
#: isinstance chain below (which subclasses and numpy scalars need)
_EXACT_KINDS = {
    bool: "bool",
    bytes: "bytes",
    _dt.datetime: "datetime",
    _dt.date: "date",
    _dt.time: "time",
    str: "str",
    int: "int",
    float: "float",
}


#: canonical scalar kinds (pickle-friendly strings, stable across
#: partitions): order of checks mirrors type identity, not promotion.
def _scalar_kind(value: Any) -> str:
    kind = _EXACT_KINDS.get(type(value))
    if kind is not None:
        return kind
    if isinstance(value, bool) or (_np is not None and isinstance(value, _np.bool_)):
        return "bool"
    if isinstance(value, bytes):
        return "bytes"
    if isinstance(value, _dt.datetime):
        return "datetime"
    if isinstance(value, _dt.date):
        return "date"
    if isinstance(value, _dt.time):
        return "time"
    if isinstance(value, str):
        return "str"
    if isinstance(value, int):
        return "int"
    if isinstance(value, float):
        return "float"
    if _np is not None and isinstance(value, _np.integer):
        return "int"
    if _np is not None and isinstance(value, _np.floating):
        return "float"
    return type(value).__name__  # unknown kinds -> no promotion -> default


# --- Condense lattice ------------------------------------------------------

#: priority switch, guess_warehouse_dtype schema.py:455-466. The
#: entries are (matcher, warehouse type); ``datetime`` also matches an
#: observed ``date`` (issubclass(datetime, date) quirk — verified
#: date->DATETIME golden).
_PRIORITY_SWITCH: tuple[tuple[tuple[str, ...], str], ...] = (
    (("bytes",), wtypes.BYTES),
    (("datetime", "date"), wtypes.DATETIME),
    ((), wtypes.DATE),  # unreachable faithfully; kept for strict_dates
    (("time",), wtypes.TIME),
    (("str",), wtypes.STRING),
)


def promote_scalars(kinds: Iterable[str], strict_dates: bool = False) -> str | None:
    """Condense a set of observed scalar kinds to one warehouse type.

    ``strict_dates=True`` maps a pure-date observation to DATE instead
    of the reference's DATETIME quirk (SURVEY.md §7.5).
    """
    kinds = list(kinds)
    if strict_dates and kinds and all(k == "date" for k in kinds):
        return wtypes.DATE
    # observed kinds OUTER, switch INNER — the reference returns the
    # switch type of the FIRST-OBSERVED matching kind
    # (guess_warehouse_dtype, schema.py:455-466), so {str-then-bytes}
    # condenses to STRING, not BYTES. The issubclass quirk survives:
    # an observed "date" still hits the ("datetime", "date") entry.
    for k in kinds:
        for matchers, wtype in _PRIORITY_SWITCH:
            if k in matchers:
                return wtype
    # numeric promotion lattice (np.find_common_type equivalent):
    if any(k == "float" for k in kinds):
        return wtypes.FLOAT
    if any(k == "int" for k in kinds):
        return wtypes.INTEGER
    if any(k == "bool" for k in kinds):
        return wtypes.BOOLEAN
    return None  # -> default STRING NULLABLE downstream


def _existing_by_name(schema: Iterable[dict] | None) -> dict[str, dict]:
    """Name -> the first existing-schema entry of that name, read in
    one pass (so a one-shot iterable works)."""
    out: dict[str, dict] = {}
    for f in schema or ():
        if isinstance(f, dict):
            out.setdefault(f.get("name"), f)
    return out


def condense(
    fields: "dict[str, FieldObs]",
    existing_schema: Iterable[dict] | None = None,
    strict_dates: bool = False,
) -> list[dict]:
    """Condensed observations -> api_repr list.

    Field precedence per reference: existing-schema verbatim >
    sub-record (RECORD REPEATED) > list (scalar REPEATED) > scalar.
    None-typed (all-None / unknown) fields get the STRING NULLABLE
    default (bigquery/schema.py:446-475).
    """
    by_name = _existing_by_name(existing_schema)
    out: list[dict] = []
    for name, obs in fields.items():
        existing = by_name.get(name)
        if existing is not None:
            entry = {
                "name": name,
                "type": wtypes.normalize_type(existing.get("type", wtypes.DEFAULT_TYPE)),
                "mode": existing.get("mode", wtypes.DEFAULT_MODE).upper(),
            }
            if existing.get("fields"):
                entry["fields"] = [dict(f) for f in existing["fields"]]
            out.append(entry)
            continue
        if obs.record is not None:  # record wins (schema.py:376-378)
            out.append(
                {
                    "name": name,
                    "type": wtypes.RECORD,
                    "mode": wtypes.REPEATED,
                    "fields": condense(obs.record, None, strict_dates),
                }
            )
            continue
        if obs.has_list:  # scalar REPEATED (schema.py:379-380)
            all_kinds = dict(obs.list_elems)
            _merge_keyed(all_kinds, obs.scalars)
            wtype = (
                promote_scalars(_kinds_in_order(all_kinds), strict_dates)
                or wtypes.DEFAULT_TYPE
            )
            out.append({"name": name, "type": wtype, "mode": wtypes.REPEATED})
            continue
        wtype = (
            promote_scalars(_kinds_in_order(obs.scalars), strict_dates)
            or wtypes.DEFAULT_TYPE
        )
        out.append({"name": name, "type": wtype, "mode": wtypes.NULLABLE})
    return out


# --- Public API ------------------------------------------------------------


@dataclass
class InferenceResult:
    schema: list[dict]  # api_repr
    type_errors: list
    factor_of_records_adding_fields: float
    n_records: int

    @property
    def struct_type(self):
        return wtypes.api_repr_to_struct_type(self.schema)


def infer_schema(
    records: Iterable[dict],
    schema: Iterable[dict] | None = None,
    strict_dates: bool = False,
) -> InferenceResult:
    """Sequential reference-faithful inference
    (= deconstruct_records + condense_record_fields +
    get_api_repr_from_record_fields), in one pass over the batch, which
    it holds in memory as a list. The result equals an
    ``Observation.observe_row`` loop's, at a cost that follows the keys
    the batch carries and the fields ``schema`` leaves open.

    Values of the fields ``schema`` already types are not observed:
    the existing entry wins verbatim, so observing them could not
    change the result. The batch's key union is taken once and each
    distinct key cleaned once. A row that brings a key no earlier row
    had is walked whole, as ``observe_row`` walks it, which gives field
    order and the stability factor; once every key has been seen, a
    row is read only through the keys ``schema`` leaves open, in its
    own key order only when it carries more than one of them (two keys
    of one row may name one field, and their order then decides the
    kinds). A dict subclass (its own ``items``) and a row with a key
    that is not a ``str`` are always walked whole: ``1`` and ``True``
    are one dict key but clean to two names.
    """
    if records is None or isinstance(records, (str, bytes, dict)):
        raise WarehouseInvalidInput(
            f"expected an iterable of records, got {type(records).__name__}"
        )
    # the schema first: ``records`` may be a generator that reads it
    existing = _existing_by_name(schema)
    rows = records if type(records) is list else list(records)
    keys = set().union(*[r for r in rows if type(r) is dict])
    name_of = {k: clean_field_key(k) for k in keys}
    odd = {k for k in keys if type(k) is not str}
    open_keys = {k for k, name in name_of.items() if name not in existing}
    fields: dict[str, FieldObs] = {}
    seen: set = set()  # keys whose field is registered
    type_errors: list = []
    n_records = n_adding = 0
    for i, row in enumerate(rows):
        if not isinstance(row, dict):
            if len(type_errors) < Observation.MAX_ERROR_SAMPLES:
                type_errors.append(row)
            continue
        if type(row) is not dict or (odd and row.keys() & odd):
            added = _walk_row(fields, existing, row, _RowKeys(0, i))
        elif len(seen) < len(keys) and not seen.issuperset(row):
            # a row that brings a key is walked whole; ``issuperset``
            # walks the row, where ``row.keys() - seen`` would walk ``seen``
            seen.update(row)
            added = _walk_row(fields, existing, row, _RowKeys(0, i), name_of.__getitem__)
        else:
            added = False
            hit = open_keys and row.keys() & open_keys
            if hit:
                order_key = _RowKeys(0, i)
                for k in hit if len(hit) == 1 else [k for k in row if k in hit]:
                    if row[k] is not None:
                        _observe_value(fields[name_of[k]], row[k], order_key)
        if added and n_records:
            n_adding += 1
        n_records += 1
    return InferenceResult(
        schema=condense(fields, list(existing.values()), strict_dates),
        type_errors=type_errors,
        factor_of_records_adding_fields=n_adding / len(rows) if rows else 0.0,
        n_records=n_records,
    )


def infer_schema_distributed(
    rdd_or_df,
    schema: Iterable[dict] | None = None,
    strict_dates: bool = False,
    depth: int = 2,
) -> InferenceResult:
    """Distributed inference via per-partition observation +
    ``treeAggregate`` merge — the scale path for 100 TB inputs.

    Accepts an RDD of dicts or a DataFrame (rows observed as nested
    dicts). The observation merge is associative and the condense
    happens once on the driver over the merged (small) type tree.
    As in ``infer_schema``, fields ``schema`` already types are not
    observed.
    """
    from pyspark.sql import DataFrame

    existing = _existing_by_name(schema)
    fixed = frozenset(existing)

    if isinstance(rdd_or_df, DataFrame):
        rdd = rdd_or_df.rdd.map(lambda r: r.asDict(recursive=True))
    else:
        rdd = rdd_or_df

    def per_partition(pid: int, rows):
        # partition id seeds the order keys: "first observed" is then
        # global (partition order x row order), so the treeReduce
        # merge order cannot change the condensed schema
        obs = Observation(part_id=pid, fixed=fixed)
        for row in rows:
            obs.observe_row(row)
        yield obs

    parts = rdd.mapPartitionsWithIndex(per_partition)
    # per_partition yields one Observation per partition (even empty
    # ones), so parts is empty exactly when the RDD has ZERO
    # partitions — a free driver-side check (isEmpty() would launch a
    # job that fully observes partition 0 just to discard it)
    if rdd.getNumPartitions() == 0:
        merged = Observation()
    else:
        merged = parts.treeReduce(lambda a, b: a.merge(b), depth=depth)
    return InferenceResult(
        schema=condense(merged.fields, list(existing.values()), strict_dates),
        type_errors=merged.type_errors,
        factor_of_records_adding_fields=merged.factor_of_records_adding_fields,
        n_records=merged.n_records,
    )


def extract(obj, schema: Iterable[dict] | None = None, **kw) -> InferenceResult:
    """Type-dispatched facade (bigquery/schema.py:615-639): list of
    records or pandas DataFrame -> inferred schema."""
    import pandas as pd

    if isinstance(obj, pd.DataFrame):
        return infer_schema(obj.to_dict(orient="records"), schema, **kw)
    if isinstance(obj, (list, tuple)):
        return infer_schema(obj, schema, **kw)
    raise WarehouseInvalidInput(
        f"cannot infer schema from {type(obj).__name__}; expected records or DataFrame"
    )

"""Data-shaping utilities: key sanitation, sizing, sampling, chunking.

Re-expresses ``/root/reference/src/load_datawarehouse/data.py`` for a
Spark-first engine. Local (records / pandas) variants keep reference
parity — same key-cleaning regex (``data.py:13-26``), same
``json_size`` metric (``sys.getsizeof`` of the serialized JSON,
``data.py:146-177``), same chunking invariants (lossless,
order-preserving, every chunk ≤ ``size_limit`` JSON bytes,
``data.py:227-317``). Distributed variants operate on DataFrames.

Known reference bug fixed here (SURVEY.md §7.5): a first-row-oversize
input raises the documented ``WarehouseRowOversize`` instead of the
reference's accidental ``UnboundLocalError`` (``data.py:293-307``).
"""

from __future__ import annotations

import datetime
import json
import random
import re
import sys
from collections import deque
from typing import Any, Generator, Iterable

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from load_datawarehouse_spark.errors import WarehouseRowOversize

_PROHIBITED = re.compile(r"\W")

#: str key -> cleaned key. A load sees a few dozen distinct keys but
#: cleans every key of every record, so each distinct key runs the
#: regex once. Bounded: a full cache is emptied and refills.
_CLEAN_KEYS: dict[str, str] = {}
_CLEAN_KEYS_MAX = 4096

#: exact leaf types ``clean_keys`` returns unchanged without further
#: dispatch (subclasses, e.g. ``pandas.Timestamp``, take the full path)
_LEAVES = frozenset(
    {str, int, float, bool, type(None), bytes, datetime.datetime, datetime.date, datetime.time}
)


def clean_field_key(key: Any) -> str:
    """Substitute all non-word characters in a field name with ``_``;
    non-string keys are stringified first (data.py:13-26)."""
    if not isinstance(key, str):
        key = str(key)
    clean = _CLEAN_KEYS.get(key)
    if clean is None:
        clean = _PROHIBITED.sub("_", key)
        if len(_CLEAN_KEYS) >= _CLEAN_KEYS_MAX:
            _CLEAN_KEYS.clear()
        _CLEAN_KEYS[key] = clean
    return clean


def clean_keys(obj: Any) -> Any:
    """Recursively sanitize keys through dict/list trees; Spark and
    pandas DataFrames dispatch to their column cleaners
    (data.py:29-46)."""
    if type(obj) in _LEAVES:
        return obj
    if isinstance(obj, dict):
        return {
            clean_field_key(k): v if type(v) in _LEAVES else clean_keys(v)
            for k, v in obj.items()
        }
    if isinstance(obj, (list, tuple)):
        return [v if type(v) in _LEAVES else clean_keys(v) for v in obj]
    if isinstance(obj, DataFrame):
        return clean_dataframe_keys(obj)
    try:
        import pandas as pd

        if isinstance(obj, pd.DataFrame):
            renamed = obj.rename(
                {c: clean_field_key(c) for c in obj.columns}, axis="columns"
            )
            for c in renamed.select_dtypes(include="object").columns:
                renamed[c] = renamed[c].map(clean_keys)
            return renamed
    except ImportError:  # pragma: no cover
        pass
    return obj


def _clean_spark_type(dtype: T.DataType) -> T.DataType:
    if isinstance(dtype, T.StructType):
        return T.StructType(
            [
                T.StructField(
                    clean_field_key(f.name),
                    _clean_spark_type(f.dataType),
                    f.nullable,
                    f.metadata,
                )
                for f in dtype.fields
            ]
        )
    if isinstance(dtype, T.ArrayType):
        return T.ArrayType(_clean_spark_type(dtype.elementType), dtype.containsNull)
    if isinstance(dtype, T.MapType):
        return T.MapType(
            dtype.keyType, _clean_spark_type(dtype.valueType), dtype.valueContainsNull
        )
    return dtype


def clean_dataframe_keys(df: DataFrame) -> DataFrame:
    """Sanitize column names at every nesting level of a Spark
    DataFrame.

    Top-level renames are metadata-only; nested struct-field renames
    are casts to an identically-shaped type, which Catalyst compiles
    to a zero-copy projection — no shuffle, no UDF, any scale.
    """
    out = df.toDF(*[clean_field_key(c) for c in df.columns])
    casts = []
    changed = False
    for fld in out.schema.fields:
        cleaned = _clean_spark_type(fld.dataType)
        if cleaned != fld.dataType:
            casts.append(F.col(fld.name).cast(cleaned).alias(fld.name))
            changed = True
        else:
            casts.append(F.col(fld.name))
    return out.select(*casts) if changed else out


def prepare(data) -> Any:
    """Ingest records / pandas / Spark DataFrame; sanitize keys;
    normalize pandas to records (data.py:123-144)."""
    try:
        import pandas as pd

        if isinstance(data, pd.DataFrame):
            return clean_keys(data).to_dict(orient="records")
    except ImportError:  # pragma: no cover
        pass
    return clean_keys(data)


# --- Sizing ---------------------------------------------------------------


def json_size(data) -> int:
    """Size of records serialized as JSON, using the reference's
    metric: ``sys.getsizeof`` of the dump string (data.py:146-177)."""
    if isinstance(data, DataFrame):
        return json_size_distributed(data)
    try:
        import pandas as pd

        if isinstance(data, pd.DataFrame):
            return sys.getsizeof(
                data.to_json(path_or_buf=None, orient="records", default_handler=str, indent=0)
            )
    except ImportError:  # pragma: no cover
        pass
    if isinstance(data, list):
        return sys.getsizeof(json.dumps(data, default=str))
    return sys.getsizeof(data)


def json_size_distributed(df: DataFrame) -> int:
    """Exact total JSON byte size of a Spark DataFrame, computed
    JVM-side in one pass: sum(length(to_json(struct(*))))."""
    row = df.select(
        F.sum(F.length(F.to_json(F.struct(*df.columns)))).alias("n")
    ).collect()[0]
    return int(row["n"] or 0)


# --- Sampling / slicing ---------------------------------------------------


def sample(data, size: int, seed: int | None = None):
    """Random no-replacement sample of n records (data.py:179-204).
    Spark variant returns *exactly* n rows (rand-sort + limit)."""
    if isinstance(data, DataFrame):
        # unseeded must be genuinely random per call (matches the
        # reference's random.sample and the pandas/list branches)
        rand = F.rand(seed) if seed is not None else F.rand()
        return data.orderBy(rand).limit(size)
    try:
        import pandas as pd

        if isinstance(data, pd.DataFrame):
            return data.sample(n=size, axis=0, random_state=seed)
    except ImportError:  # pragma: no cover
        pass
    rng = random.Random(seed) if seed is not None else random
    return rng.sample(data, size)


def subset(data, start: int, size: int):
    """Contiguous slice [start, start+size) (data.py:206-225). The
    Spark variant uses offset+limit (Spark >= 3.4, deterministic only
    over an ordered frame — caller supplies the order)."""
    if isinstance(data, DataFrame):
        return data.offset(start).limit(size)
    try:
        import pandas as pd

        if isinstance(data, pd.DataFrame):
            return data.iloc[start : start + size, :]
    except ImportError:  # pragma: no cover
        pass
    return data[start : start + size]


# --- Chunking -------------------------------------------------------------


def chunks(
    data,
    size_limit: int = 20 * (2**20),
    max_iteration: int = 6,  # accepted for signature parity; unused
) -> Generator[list, None, None]:
    """Yield order-preserving chunks each ≤ ``size_limit`` JSON bytes.

    Invariants (reference test test_load_datawarehouse.py:165-200):
    concatenation of chunks == input, every chunk's ``json_size`` ≤
    ``size_limit``, and an un-splittable oversize row raises
    ``WarehouseRowOversize``.

    The reference estimates chunk length by sampling then bisects
    (data.py:249-288); this implementation is exact single-pass
    greedy accumulation on per-row serialized sizes with a verify
    step against the real ``json_size`` metric — O(total bytes), no
    resampling, deterministic.
    """
    try:
        import pandas as pd

        if isinstance(data, pd.DataFrame):
            records = data.to_dict(orient="records")
            for chunk in chunks(records, size_limit):
                yield pd.DataFrame(chunk)
            return
    except ImportError:  # pragma: no cover
        pass

    # Streaming: only the chunk under construction is buffered, so
    # generator inputs (the 20 MiB upload-batching case) are never
    # fully materialized. The pop/rewind guard needs look-back over
    # the current chunk only; trimmed rows re-queue via ``pending``.
    it = iter(data)
    pending: deque = deque()  # rows rewound from a trimmed chunk, in order

    overhead = sys.getsizeof("")  # string-object overhead of the dump
    cur: list = []
    cur_len = 0  # sum of per-row dump lengths in cur
    i = 0  # running row index (error messages only)

    def cur_size(n_rows: int, body_len: int) -> int:
        # len('[' + ', '.join(parts) + ']') + string overhead
        return overhead + 2 + body_len + max(0, n_rows - 1) * 2

    exhausted = False
    while True:
        row, have_row = None, False
        if pending:
            row, have_row = pending.popleft(), True
        elif not exhausted:
            try:
                row = next(it)
                have_row = True
            except StopIteration:
                exhausted = True
        if have_row:
            row_len = len(json.dumps(row, default=str))
            if cur_size(1, row_len) > size_limit:
                raise WarehouseRowOversize(
                    f"Row #{i} has a size of {cur_size(1, row_len):d}, "
                    f"which exceeds size limit of {size_limit:,d} bytes."
                )
            if not (cur and cur_size(len(cur) + 1, cur_len + row_len) > size_limit):
                cur.append(row)
                cur_len += row_len
                i += 1
                continue
            pending.appendleft(row)  # flush first; retry this row next chunk
        elif not cur:
            return
        # flush. The width guard trims rows whose real (non-ASCII)
        # json_size exceeds the per-row estimate — trimmed rows are
        # NOT dropped: they re-queue so they lead the next chunk
        # (lossless-concatenation invariant).
        trimmed: list = []
        while cur and json_size(cur) > size_limit:  # pragma: no cover
            trimmed.append(cur.pop())  # estimate is exact for ASCII dumps
        i -= len(trimmed)
        pending.extendleft(trimmed)  # pop order reversed back to original
        if not cur:  # pragma: no cover — even one row over the real metric
            raise WarehouseRowOversize(
                f"Row #{i} exceeds size limit of {size_limit:,d} bytes."
            )
        yield cur
        cur, cur_len = [], 0


def with_chunk_ids(
    df: DataFrame,
    size_limit: int = 20 * (2**20),
    order_by: str | Column | None = None,
) -> DataFrame:
    """Distributed chunk assignment: adds ``chunk_id`` so that rows
    with the same id form contiguous, size-bounded batches.

    Uses a running cumulative sum of per-row JSON length over a total
    order — chunk k holds rows whose cumulative size lands in
    ``[k*limit, (k+1)*limit)``. Each chunk's payload is ≤ limit plus
    at most one straddling row (exact greedy chunking is inherently
    sequential; this one-pass window form is the scalable
    approximation — document at call sites). Oversize single rows are
    flagged in ``row_oversize`` for the caller to raise on.

    Scale: the window is unpartitioned (total order), so this is for
    bounded loads (the reference's use case: upload batching). For
    unbounded data, pre-partition by a load key and chunk within.
    """
    if order_by is None:
        df = df.withColumn("_ldw_idx", F.monotonically_increasing_id())
        order_col: Column = F.col("_ldw_idx")
    else:
        order_col = F.col(order_by) if isinstance(order_by, str) else order_by
    w = Window.orderBy(order_col).rowsBetween(Window.unboundedPreceding, Window.currentRow)
    size_col = F.length(F.to_json(F.struct(*[c for c in df.columns if c != "_ldw_idx"])))
    out = (
        df.withColumn("_ldw_row_size", size_col)
        .withColumn("row_oversize", F.col("_ldw_row_size") > F.lit(size_limit))
        .withColumn(
            "chunk_id",
            F.floor((F.sum("_ldw_row_size").over(w) - 1) / F.lit(size_limit)).cast("long"),
        )
        .drop("_ldw_row_size")
    )
    return out.drop("_ldw_idx") if order_by is None else out

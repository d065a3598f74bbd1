"""SparkWarehouse lifecycle round-trips — the local-catalog analog of
the reference's live-BigQuery integration tests
(test/test_bigquery.py:447-518)."""

from __future__ import annotations

import datetime as dt
import decimal
import glob
import os

import pyarrow.parquet as pq
import pytest

from load_datawarehouse_spark.errors import (
    WarehouseInvalidInput,
    WarehouseTableNotFound,
    WarehouseTableRowsInvalid,
)
from load_datawarehouse_spark.warehouse import QuerySort, SparkWarehouse

RECORDS = [
    {"id": 1, "name": "alpha", "score": 1.5, "tags": ["a", "b"]},
    {"id": 2, "name": "beta", "score": 2.5, "tags": ["c"]},
    {"id": 3, "name": "gamma", "score": None, "tags": []},
]


@pytest.fixture()
def root(tmp_path):
    return str(tmp_path / "wh")


def test_get_missing_raises(spark, root):
    with pytest.raises(WarehouseTableNotFound):
        SparkWarehouse.get(spark, root, "nope")


def test_create_load_fetch_query(spark, root):
    wh = SparkWarehouse.new(spark, root, "t1")
    assert wh.exists()
    assert wh.load(RECORDS) is True
    # inferred schema recorded in metadata
    types = {f["name"]: (f["type"], f["mode"]) for f in wh.schema}
    assert types["id"] == ("INTEGER", "NULLABLE")
    assert types["score"] == ("FLOAT", "NULLABLE")
    assert types["tags"] == ("STRING", "REPEATED")

    got = wh.fetch(fields=["id", "name"], sort=[("id", QuerySort.DESCENDING)], count=2).collect()
    assert [r["id"] for r in got] == [3, 2]

    out = wh.query("SELECT COUNT(*) AS n FROM t1").collect()
    assert out[0]["n"] == 3


def test_load_appends_and_reuses_schema(spark, root):
    wh = SparkWarehouse.new(spark, root, "t2")
    wh.load(RECORDS)
    # second load: ints arrive for a FLOAT column -> coerced by the
    # adopted schema (existing-schema-wins)
    wh.load([{"id": 4, "name": "delta", "score": 7, "tags": "solo"}])
    rows = {r["id"]: r for r in wh.df().collect()}
    assert rows[4]["score"] == 7.0
    assert rows[4]["tags"] == ["solo"]  # scalar wrapped into REPEATED
    assert wh.df().count() == 4


def test_load_append_never_narrows_schema(spark, root):
    # appending a batch that OMITS an existing column must keep the
    # column in both the metadata schema and the read path (older
    # files lack newer columns; the declared-schema read nulls them)
    wh = SparkWarehouse.new(spark, root, "t2n")
    wh.load(RECORDS)
    wh.load([{"id": 4, "name": "delta"}])  # no score, no tags
    names = {f["name"] for f in wh.schema}
    assert {"id", "name", "score", "tags"} <= names
    rows = {r["id"]: r for r in wh.df().collect()}
    assert rows[4]["score"] is None
    assert rows[1]["score"] == 1.5
    # and the widening direction still works: a NEW column appears
    wh.load([{"id": 5, "name": "eps", "flag": "x"}])
    assert "flag" in {f["name"] for f in wh.schema}
    rows = {r["id"]: r for r in wh.df().collect()}
    assert rows[5]["flag"] == "x"
    assert rows[1]["flag"] is None


def test_fetch_single_string_field(spark, root):
    # fetch(fields="name") must select the column, not its characters
    wh = SparkWarehouse.new(spark, root, "t2s")
    wh.load(RECORDS)
    got = wh.fetch(fields="name", sort=[("name", QuerySort.ASCENDING)], count=1).collect()
    assert got[0].asDict() == {"name": "alpha"}


def test_new_replace_semantics(spark, root):
    SparkWarehouse.new(spark, root, "t3", data=RECORDS)
    with pytest.raises(WarehouseInvalidInput):
        SparkWarehouse.new(spark, root, "t3")
    wh = SparkWarehouse.new(spark, root, "t3", replace=True)
    assert wh.df().count() == 0  # replaced empty, no data dir yet


def test_rebuild_preserves_schema(spark, root):
    wh = SparkWarehouse.new(spark, root, "t4")
    wh.load(RECORDS)
    schema_before = wh.schema
    wh.rebuild()
    assert wh.df().count() == 0
    assert wh.schema == schema_before


def test_update_upsert(spark, root):
    wh = SparkWarehouse.new(spark, root, "t5")
    wh.load(RECORDS)
    wh.update([{"id": 2, "name": "BETA2", "score": 9.0, "tags": []},
               {"id": 9, "name": "new", "score": 0.5, "tags": ["z"]}], keys=["id"])
    rows = {r["id"]: r for r in wh.df().collect()}
    assert set(rows) == {1, 2, 3, 9}
    assert rows[2]["name"] == "BETA2"
    assert rows[9]["score"] == 0.5


def test_delete_and_not_found_ok(spark, root):
    wh = SparkWarehouse.new(spark, root, "t6", data=RECORDS)
    assert wh.delete() is True
    assert wh.delete() is False  # not_found_ok default
    with pytest.raises(WarehouseTableNotFound):
        wh.delete(not_found_ok=False)


def test_expiry_round_trip(spark, root):
    wh = SparkWarehouse.new(spark, root, "t7")
    future = dt.datetime(2100, 1, 1, tzinfo=dt.timezone.utc)
    wh.set_expiry(future)
    assert not wh.is_expired()
    past = dt.datetime(2000, 1, 1, tzinfo=dt.timezone.utc)
    wh.set_expiry(past)
    assert wh.is_expired()
    # staged (update=False) not applied until apply_changes
    wh.set_expiry(None, update=False)
    assert wh.is_expired()
    wh.apply_changes()
    assert not wh.is_expired()


def test_expiry_compares_instants_across_offsets(spark, root):
    wh = SparkWarehouse.new(spark, root, "t7tz")
    now = dt.datetime(2024, 6, 1, 12, 0, tzinfo=dt.timezone.utc)
    plus2 = dt.timezone(dt.timedelta(hours=2))
    # 30 minutes past, written in +02:00 (lexically after ``now``)
    wh.set_expiry((now - dt.timedelta(minutes=30)).astimezone(plus2))
    assert wh.is_expired(now)
    # 30 minutes ahead, written in -05:00 (lexically before ``now``)
    wh.set_expiry((now + dt.timedelta(minutes=30)).astimezone(dt.timezone(dt.timedelta(hours=-5))))
    assert not wh.is_expired(now)
    # naive values, stored or given, count as UTC
    wh.set_expiry(dt.datetime(2024, 6, 1, 12, 30))
    assert not wh.is_expired(now)
    assert wh.is_expired(dt.datetime(2024, 6, 1, 12, 30))


def test_pandas_load(spark, root):
    import pandas as pd

    pdf = pd.DataFrame([{"a b": 1, "x": "u"}, {"a b": 2, "x": "v"}])
    wh = SparkWarehouse.new(spark, root, "t8", data=pdf)
    assert wh.df().columns == ["a_b", "x"]
    assert wh.df().count() == 2


def test_append_preserves_declared_column_order(spark, tmp_path):
    from load_datawarehouse_spark.warehouse import SparkWarehouse

    root = str(tmp_path / "wh_order")
    wh = SparkWarehouse.new(
        spark, root, "t",
        data=[{"id": 1, "score": 2.5, "name": "a"}],
    )
    first_order = [f["name"] for f in wh.schema]
    # append omitting 'score' and adding a new trailing field
    wh.load([{"id": 2, "name": "b", "extra": True}])
    after = [f["name"] for f in wh.schema]
    # existing fields keep their positions; only genuinely new fields append
    assert after[: len(first_order)] == first_order
    assert after[len(first_order):] == ["extra"]
    assert wh.df().columns[: len(first_order)] == first_order


def test_snapshot_time_travel_lifecycle(spark, tmp_path):
    from load_datawarehouse_spark.errors import WarehouseTableNotFound
    from load_datawarehouse_spark.warehouse import SparkWarehouse

    wh = SparkWarehouse.new(
        spark, str(tmp_path), "tt", data=[{"id": 1, "v": "a"}, {"id": 2, "v": "b"}]
    )
    v1 = wh.snapshot()
    wh.load([{"id": 3, "v": "c"}])
    v2 = wh.snapshot()
    wh.update([{"id": 1, "v": "A"}], keys=["id"])

    assert (v1, v2) == (1, 2)
    assert [v["version"] for v in wh.versions()] == [1, 2]
    assert wh.df_at(v1).count() == 2
    assert wh.df_at(v2).count() == 3
    # v2 predates the upsert: id 1 still lowercase there
    assert wh.df_at(v2).filter("id = 1").first()["v"] == "a"
    assert wh.df().filter("id = 1").first()["v"] == "A"

    with pytest.raises(WarehouseTableNotFound):
        wh.df_at(99)
    ghost = SparkWarehouse(spark, str(tmp_path), "nope")
    with pytest.raises(WarehouseTableNotFound):
        ghost.snapshot()


def test_vacuum_drops_old_snapshots_keeps_numbering(spark, tmp_path):
    from load_datawarehouse_spark.errors import WarehouseTableNotFound
    from load_datawarehouse_spark.warehouse import SparkWarehouse

    wh = SparkWarehouse.new(spark, str(tmp_path), "vc", data=[{"id": 1}])
    v1 = wh.snapshot()
    wh.load([{"id": 2}])
    v2 = wh.snapshot()
    wh.load([{"id": 3}])
    v3 = wh.snapshot()

    assert wh.vacuum(keep_last=1) == [v1, v2]
    assert [v["version"] for v in wh.versions()] == [v3]
    assert wh.df_at(v3).count() == 3
    for gone in (v1, v2):
        with pytest.raises(WarehouseTableNotFound):
            wh.df_at(gone)
    # version numbers are monotonic across vacuum, never reused
    assert wh.snapshot() == v3 + 1
    # keep_last larger than history is a no-op
    assert wh.vacuum(keep_last=10) == []
    with pytest.raises(ValueError):
        wh.vacuum(keep_last=-1)


def test_merge_applies_insert_update_delete(spark, tmp_path):
    from load_datawarehouse_spark.warehouse import SparkWarehouse

    wh = SparkWarehouse.new(
        spark, str(tmp_path), "m",
        data=[{"id": 1, "v": "a"}, {"id": 2, "v": "b"}, {"id": 3, "v": "c"}],
    )
    wh.merge(
        [
            {"id": 2, "v": "B", "op": "U"},
            {"id": 3, "v": "c", "op": "D"},
            {"id": 4, "v": "d", "op": "I"},
        ],
        keys=["id"],
    )
    got = {r["id"]: r["v"] for r in wh.df().collect()}
    assert got == {1: "a", 2: "B", 4: "d"}
    # schema sidecar must NOT have absorbed the op column
    assert [f["name"] for f in wh.schema] == ["id", "v"]


# --- DataFrame-native bulk load (VERDICT r14 #5) ---------------------------


def _records_as_df(spark):
    from pyspark.sql import types as T

    schema = T.StructType(
        [
            T.StructField("id", T.LongType()),
            T.StructField("name", T.StringType()),
            T.StructField("score", T.DoubleType()),
            T.StructField("tags", T.ArrayType(T.StringType())),
        ]
    )
    rows = [(r["id"], r["name"], r["score"], r["tags"]) for r in RECORDS]
    return spark.createDataFrame(rows, schema)


def test_load_dataframe_bulk_path_matches_records_goldens(spark, root):
    """The DataFrame-in load must land the SAME metadata schema and
    rows as the records path on equivalent input — distributed
    inference (treeAggregate) and driver inference share the
    observation lattice, so the condensed api_repr is identical."""
    a = SparkWarehouse.new(spark, root, "lr")
    a.load(RECORDS)
    b = SparkWarehouse.new(spark, root, "ld")
    assert b.load(_records_as_df(spark)) is True
    assert b.schema == a.schema
    key = lambda r: r["id"]
    got = sorted((r.asDict() for r in b.df().collect()), key=key)
    want = sorted((r.asDict() for r in a.df().collect()), key=key)
    assert got == want


def test_load_dataframe_append_widen_and_existing_wins(spark, root):
    # append a DataFrame batch onto a records-loaded table: the FLOAT
    # column coerces an int batch (existing-schema-wins), an omitted
    # column survives as NULL (never narrows), a new column appends
    # AFTER the existing fields (stable order), and a scalar arriving
    # for a REPEATED field wraps into a 1-element array
    wh = SparkWarehouse.new(spark, root, "ldw")
    wh.load(RECORDS)
    batch = spark.createDataFrame(
        [(4, "delta", 7, "solo", "x")],
        "id long, name string, score long, tags string, flag string",
    )
    wh.load(batch)
    names = [f["name"] for f in wh.schema]
    assert names[:4] == ["id", "name", "score", "tags"]
    assert "flag" in names and names.index("flag") == len(names) - 1
    rows = {r["id"]: r for r in wh.df().collect()}
    assert rows[4]["score"] == 7.0
    assert rows[4]["tags"] == ["solo"]
    assert rows[4]["flag"] == "x"
    assert rows[1]["flag"] is None
    assert wh.df().count() == 4


def test_load_dataframe_nested_struct_evolution_matches_records_path(spark, root):
    """ADVICE r15 #1: a DataFrame batch whose STRUCT column is missing
    nested fields (or carries extras) relative to the table schema
    must conform like the records path — missing nested fields
    backfill NULL, extras drop, NULL structs stay NULL — instead of
    failing the whole-struct cast. Both paths are driven with the
    same logical batches and must land identical rows."""
    rec_schema = [
        {"name": "id", "type": "INTEGER", "mode": "NULLABLE"},
        {"name": "meta", "type": "RECORD", "mode": "NULLABLE", "fields": [
            {"name": "a", "type": "STRING", "mode": "NULLABLE"},
            {"name": "b", "type": "INTEGER", "mode": "NULLABLE"},
        ]},
    ]
    base = [
        {"id": 1, "meta": {"a": "x", "b": 10}},
        {"id": 2, "meta": None},
    ]
    batch = [
        # missing nested 'b', extra nested 'z' (dropped by conform)
        {"id": 3, "meta": {"a": "y", "z": "extra"}},
    ]
    a = SparkWarehouse.new(spark, root, "nr")
    a.load(base, schema=rec_schema)
    a.load(batch)

    b = SparkWarehouse.new(spark, root, "nd")
    b.load(
        spark.createDataFrame(
            [(1, ("x", 10)), (2, None)],
            "id long, meta struct<a string, b long>",
        ),
        schema=rec_schema,
    )
    b.load(
        spark.createDataFrame(
            [(3, ("y", "extra"))],
            "id long, meta struct<a string, z string>",
        )
    )
    assert [f["name"] for f in b.schema] == [f["name"] for f in a.schema]
    key = lambda r: r["id"]
    got = sorted((r.asDict(recursive=True) for r in b.df().collect()), key=key)
    want = sorted((r.asDict(recursive=True) for r in a.df().collect()), key=key)
    assert got == want
    assert got[2]["meta"] == {"a": "y", "b": None}
    assert got[1]["meta"] is None


def test_load_dataframe_array_of_struct_nested_evolution(spark, root):
    """Nested evolution inside REPEATED RECORD columns: each array
    element conforms field-by-field (missing nested -> NULL), matching
    _conform_record's per-item recursion on the records path."""
    arr_schema = [
        {"name": "id", "type": "INTEGER", "mode": "NULLABLE"},
        {"name": "items", "type": "RECORD", "mode": "REPEATED", "fields": [
            {"name": "k", "type": "STRING", "mode": "NULLABLE"},
            {"name": "v", "type": "INTEGER", "mode": "NULLABLE"},
        ]},
    ]
    a = SparkWarehouse.new(spark, root, "anr")
    a.load(
        [{"id": 1, "items": [{"k": "a", "v": 1}, {"k": "b", "v": 2}]}],
        schema=arr_schema,
    )
    a.load([{"id": 2, "items": [{"k": "c"}]}])

    b = SparkWarehouse.new(spark, root, "and")
    b.load(
        spark.createDataFrame(
            [(1, [("a", 1), ("b", 2)])],
            "id long, items array<struct<k string, v long>>",
        ),
        schema=arr_schema,
    )
    b.load(
        spark.createDataFrame(
            [(2, [("c",)])], "id long, items array<struct<k string>>"
        )
    )
    key = lambda r: r["id"]
    got = sorted((r.asDict(recursive=True) for r in b.df().collect()), key=key)
    want = sorted((r.asDict(recursive=True) for r in a.df().collect()), key=key)
    assert got == want
    assert got[1]["items"] == [{"k": "c", "v": None}]


def test_load_dataframe_cleans_keys_like_records_path(spark, root):
    # dirty top-level column names sanitize identically to clean_keys
    # on the same records (metadata-only rename, no shuffle)
    dirty_records = [{"user id": 1, "amount$": 2.0}]
    a = SparkWarehouse.new(spark, root, "kr")
    a.load(dirty_records)
    df = spark.createDataFrame([(1, 2.0)], "`user id` long, `amount$` double")
    b = SparkWarehouse.new(spark, root, "kd")
    b.load(df)
    assert [f["name"] for f in b.schema] == [f["name"] for f in a.schema]


# --- driver-side record loads: one Arrow-built parquet file ---------------

_TZ2 = dt.timezone(dt.timedelta(hours=2))
_TIME_SCHEMA = [
    {"name": "id", "type": "INTEGER", "mode": "NULLABLE"},
    {"name": "ts", "type": "TIMESTAMP", "mode": "NULLABLE"},
    {"name": "dt", "type": "DATETIME", "mode": "NULLABLE"},
]


def _data_files(wh):
    return sorted(glob.glob(os.path.join(wh.path, "data", "*.parquet")))


def _data_listing(wh):
    data = os.path.join(wh.path, "data")
    return sorted(os.listdir(data)) if os.path.isdir(data) else []


def test_record_load_writes_one_file_and_runs_no_spark_job(spark, root):
    wh = SparkWarehouse.new(spark, root, "one")
    sc = spark.sparkContext
    sc.setJobGroup("record-load", "record load")
    try:
        wh.load(RECORDS)
        wh.load([{"id": 4, "name": "delta"}])
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert list(sc.statusTracker().getJobIdsForGroup("record-load")) == []
    files = _data_files(wh)
    assert len(files) == 2
    # nothing else in data/: no dot-named temp file, no Spark side files
    assert _data_listing(wh) == [os.path.basename(f) for f in files]
    assert sorted(pq.read_metadata(f).num_rows for f in files) == [1, 3]
    assert wh.df().count() == 4


def test_record_load_footer_types_and_codec(spark, root):
    wh = SparkWarehouse.new(spark, root, "footer", schema=_TIME_SCHEMA)
    wh.load([{"id": 1, "ts": dt.datetime(2024, 1, 1, 5), "dt": dt.datetime(2024, 1, 1, 5)}])
    (path,) = _data_files(wh)
    md = pq.read_metadata(path)
    cols = {md.schema.column(i).name: md.schema.column(i) for i in range(md.num_columns)}
    assert "isAdjustedToUTC=true" in str(cols["ts"].logical_type)
    assert "isAdjustedToUTC=false" in str(cols["dt"].logical_type)
    codec = spark.conf.get("spark.sql.parquet.compression.codec")
    assert md.row_group(0).column(0).compression == codec.upper()
    assert path.endswith(f".{codec}.parquet")


def test_record_load_uncompressed_codec(spark, root):
    key = "spark.sql.parquet.compression.codec"
    before = spark.conf.get(key)
    spark.conf.set(key, "uncompressed")
    try:
        wh = SparkWarehouse.new(spark, root, "plain", data=RECORDS)
    finally:
        spark.conf.set(key, before)
    (path,) = _data_files(wh)
    assert pq.read_metadata(path).row_group(0).column(0).compression == "UNCOMPRESSED"
    assert wh.df().count() == 3


def test_timestamp_and_datetime_keep_spark_semantics(spark, root):
    # TIMESTAMP is an instant: an aware value is converted to UTC and a
    # naive one is local time (as Spark's TimestampType.toInternal).
    # DATETIME keeps the wall clock and drops any offset.
    naive = dt.datetime(2024, 1, 1, 5)
    aware = dt.datetime(2024, 1, 1, 5, tzinfo=_TZ2)
    wh = SparkWarehouse.new(spark, root, "tz", schema=_TIME_SCHEMA)
    wh.load([{"id": 1, "ts": aware, "dt": aware}, {"id": 2, "ts": naive, "dt": naive}])
    want = {
        1: (1704078000, "2024-01-01 05:00:00"),
        2: (int(naive.timestamp()), "2024-01-01 05:00:00"),
    }
    got = wh.df().selectExpr("id", "CAST(ts AS BIGINT) AS s", "CAST(dt AS STRING) AS w").collect()
    assert {r["id"]: (r["s"], r["w"]) for r in got} == want
    # update() builds the same Arrow table, so it stores the same values
    wh.update([{"id": 1, "ts": aware, "dt": aware}], keys=["id"])
    got = wh.df().selectExpr("id", "CAST(ts AS BIGINT) AS s", "CAST(dt AS STRING) AS w").collect()
    assert {r["id"]: (r["s"], r["w"]) for r in got} == want


_STRICT_SCHEMA = [
    {"name": "id", "type": "INTEGER", "mode": "REQUIRED"},
    {"name": "day", "type": "DATE", "mode": "NULLABLE"},
    {"name": "amount", "type": "NUMERIC", "mode": "NULLABLE"},
    {"name": "meta", "type": "RECORD", "mode": "NULLABLE", "fields": [
        {"name": "k", "type": "STRING", "mode": "REQUIRED"},
    ]},
    {"name": "items", "type": "RECORD", "mode": "REPEATED", "fields": [
        {"name": "sku", "type": "STRING", "mode": "REQUIRED"},
    ]},
]


@pytest.mark.parametrize(
    "bad, field",
    [
        ({"id": None}, "id"),
        ({"meta": {"other": "x"}}, "k"),
        ({"items": [{"sku": "a"}, {"qty": 2}]}, "sku"),
        ({"day": "2024-01-01"}, "day"),
        ({"amount": 1.5}, "amount"),
    ],
    ids=["required-top", "required-nested", "required-repeated", "str-in-date", "float-in-numeric"],
)
def test_rejected_record_load_changes_nothing(spark, root, bad, field):
    good = {"id": 1, "day": dt.date(2024, 1, 1), "amount": decimal.Decimal("2.5"),
            "meta": {"k": "a"}, "items": [{"sku": "s"}]}
    wh = SparkWarehouse.new(spark, root, "strict", schema=_STRICT_SCHEMA, data=[good])
    meta_before = open(wh._meta_path).read()
    files_before = _data_listing(wh)
    with pytest.raises(WarehouseTableRowsInvalid, match=repr(field)):
        wh.load([{**good, "id": 2}, {**good, **bad}])
    assert open(wh._meta_path).read() == meta_before
    assert _data_listing(wh) == files_before
    assert wh.df().count() == 1


_TYPED_SCHEMA = [
    {"name": "id", "type": "INTEGER", "mode": "NULLABLE"},
    {"name": "n", "type": "INTEGER", "mode": "NULLABLE"},
    {"name": "f", "type": "FLOAT", "mode": "NULLABLE"},
    {"name": "meta", "type": "RECORD", "mode": "NULLABLE", "fields": [
        {"name": "k", "type": "STRING", "mode": "REQUIRED"},
    ]},
    {"name": "tag", "type": "RECORD", "mode": "NULLABLE", "fields": [
        {"name": "v", "type": "STRING", "mode": "NULLABLE"},
    ]},
]


@pytest.mark.parametrize("verb", ["load", "update", "merge"])
@pytest.mark.parametrize(
    "bad, field",
    [
        ({"n": "abc"}, "n"),
        ({"n": float("nan")}, "n"),
        ({"n": [1]}, "n"),
        ({"f": "abc"}, "f"),
        ({"f": {"a": 1}}, "f"),
        ({"meta": []}, "meta"),
        ({"tag": ""}, "tag"),  # Arrow alone reads an empty sequence as a record of nulls
    ],
    ids=["str-in-int", "nan-in-int", "list-in-int", "str-in-float", "dict-in-float",
         "list-in-record", "empty-str-in-record"],
)
def test_unconvertible_value_is_rejected_before_any_write(spark, root, verb, bad, field):
    """A value of another kind meets an existing typed field, which
    inference no longer observes: every verb rejects it naming the
    field, and the sidecar and data files stay as they were."""
    good = {"id": 1, "n": 1, "f": 1.0, "meta": {"k": "a"}}
    wh = SparkWarehouse.new(spark, root, "typed", schema=_TYPED_SCHEMA, data=[good])
    meta_before = open(wh._meta_path).read()
    files_before = _data_listing(wh)
    batch = [{**good, "id": 2}, {**good, "id": 3, **bad}]
    run = {
        "load": lambda: wh.load(batch),
        "update": lambda: wh.update(batch, keys=["id"]),
        "merge": lambda: wh.merge([{**r, "op": "I"} for r in batch], keys=["id"]),
    }[verb]
    with pytest.raises(WarehouseTableRowsInvalid, match=repr(field)):
        run()
    assert open(wh._meta_path).read() == meta_before
    assert _data_listing(wh) == files_before
    assert wh.df().count() == 1


def test_update_and_merge_reject_required_null(spark, root):
    wh = SparkWarehouse.new(spark, root, "strict_up", schema=_STRICT_SCHEMA, data=[{"id": 1}])
    with pytest.raises(WarehouseTableRowsInvalid, match="'id'"):
        wh.update([{"id": None}], keys=["id"])
    with pytest.raises(WarehouseTableRowsInvalid, match="'k'"):
        wh.merge([{"id": 2, "meta": {}, "op": "I"}], keys=["id"])
    assert wh.df().count() == 1


def test_empty_record_load_updates_schema_and_writes_no_file(spark, root):
    schema = [{"name": "id", "type": "INTEGER", "mode": "NULLABLE"}]
    fresh = SparkWarehouse(spark, root, "fresh")
    assert fresh.load([], schema=schema, full_schema=True) is True
    assert fresh.exists() and fresh.schema == schema
    assert _data_listing(fresh) == []
    assert fresh.df().count() == 0

    wh = SparkWarehouse.new(spark, root, "grown", data=RECORDS)
    files = _data_listing(wh)
    wider = wh.schema + [{"name": "flag", "type": "BOOLEAN", "mode": "NULLABLE"}]
    wh.load([], schema=wider, full_schema=True)
    assert [f["name"] for f in wh.schema] == [f["name"] for f in wider]
    assert _data_listing(wh) == files
    assert wh.df().count() == 3
    assert wh.df().filter("flag IS NOT NULL").count() == 0


def test_snapshot_reads_driver_written_files(spark, root):
    wh = SparkWarehouse.new(spark, root, "snap", data=RECORDS)
    v1 = wh.snapshot()
    wh.load([{"id": 4, "name": "delta", "extra": "x"}])
    v2 = wh.snapshot()
    snap = os.path.join(wh.path, "snapshots")
    assert len(glob.glob(os.path.join(snap, f"v{v1}", "*.parquet"))) == 1
    assert len(glob.glob(os.path.join(snap, f"v{v2}", "*.parquet"))) == 2
    assert wh.df_at(v1).count() == 3
    assert "extra" not in wh.df_at(v1).columns
    assert wh.df_at(v2).filter("extra = 'x'").count() == 1


def _conform_one(record, schema):
    """``record`` conformed alone through the batch pass, as a dict."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    from load_datawarehouse_spark.warehouse import _conform_record, _struct

    arrow = to_arrow_schema(_struct(schema))
    return pa.Table.from_arrays(_conform_record([record], schema, arrow), schema=arrow).to_pylist()[0]


def test_conform_alternating_schemas():
    from load_datawarehouse_spark.warehouse import _conform_scalar

    a = [
        {"name": "x", "type": "INTEGER", "mode": "NULLABLE"},
        {"name": "y", "type": "RECORD", "mode": "NULLABLE", "fields": [
            {"name": "k", "type": "STRING", "mode": "REQUIRED"},
        ]},
    ]
    b = [
        {"name": "y", "type": "RECORD", "mode": "REPEATED", "fields": [
            {"name": "k", "type": "INTEGER", "mode": "NULLABLE"},
        ]},
        {"name": "x", "type": "STRING", "mode": "NULLABLE"},
    ]
    want_a = {"x": 1, "y": {"k": "2"}}
    want_b = {"y": [{"k": 2}], "x": "True"}
    cases = [(a, want_a, 7), (b, want_b, "7.0")]
    for i in range(6):
        schema, want, x7 = cases[i % 2]
        got = _conform_one({"x": True, "y": {"k": 2}}, schema)
        assert got == want and type(got["x"]) is type(want["x"])
        assert _conform_one({"x": 7.0, "y": {"k": "2"}}, schema)["x"] == x7
    # the conversions themselves, before Arrow sees them
    assert type(_conform_scalar(True, "INTEGER")) is int
    assert _conform_scalar(True, "STRING") == "True"
    for y in ({"k": None}, {}):  # null, then absent from every record
        with pytest.raises(WarehouseTableRowsInvalid, match="'k'"):
            _conform_one({"x": 1, "y": y}, a)
    # the same nested field is nullable under the other schema
    assert _conform_one({"y": [{"k": None}]}, b) == {"y": [{"k": None}], "x": None}


# --- one conform contract for load, update and merge ------------------------

_CONFORM_SCHEMA = [
    {"name": "id", "type": "INTEGER", "mode": "NULLABLE"},
    {"name": "na_me", "type": "STRING", "mode": "NULLABLE"},
    {"name": "meta", "type": "RECORD", "mode": "NULLABLE", "fields": [
        {"name": "a", "type": "STRING", "mode": "NULLABLE"},
        {"name": "b", "type": "INTEGER", "mode": "NULLABLE"},
    ]},
]
_REQUIRED_SCHEMA = [
    {"name": "id", "type": "INTEGER", "mode": "REQUIRED"},
    {"name": "meta", "type": "RECORD", "mode": "NULLABLE", "fields": [
        {"name": "k", "type": "STRING", "mode": "REQUIRED"},
    ]},
    {"name": "items", "type": "RECORD", "mode": "REPEATED", "fields": [
        {"name": "sku", "type": "STRING", "mode": "REQUIRED"},
    ]},
]
_REQUIRED_DDL = "id long, meta struct<k:string>, items array<struct<sku:string>>"
_REQUIRED_GOOD = {"id": 1, "meta": {"k": "a"}, "items": [{"sku": "s"}]}
_ROW1 = {"id": 1, "na_me": "one", "meta": {"a": "p", "b": 1}}

# case -> (table schema, batch rows, DataFrame DDL, landed row 2 or the
# (error, field) the batch is rejected with)
_CONFORM_CASES = {
    "missing-nullable": (
        _CONFORM_SCHEMA, [{"id": 2, "meta": {"a": "x", "b": 3}}],
        "id long, meta struct<a:string,b:long>",
        {"id": 2, "na_me": None, "meta": {"a": "x", "b": 3}},
    ),
    "dirty-name": (
        _CONFORM_SCHEMA, [{"id": 2, "na me": "zz", "meta": {"a": "x", "b": 3}}],
        "id long, `na me` string, meta struct<a:string,b:long>",
        {"id": 2, "na_me": "zz", "meta": {"a": "x", "b": 3}},
    ),
    "nested-subset": (
        _CONFORM_SCHEMA, [{"id": 2, "na_me": "zz", "meta": {"a": "x"}}],
        "id long, na_me string, meta struct<a:string>",
        {"id": 2, "na_me": "zz", "meta": {"a": "x", "b": None}},
    ),
    "single-dict": (
        _CONFORM_SCHEMA, {"id": 2, "na_me": "zz"}, None, (WarehouseInvalidInput, None),
    ),
    "no-op-column": (
        _CONFORM_SCHEMA, [{"id": 2, "na_me": "zz"}], "id long, na_me string",
        (WarehouseInvalidInput, "op"),
    ),
    "no-key-column": (
        _CONFORM_SCHEMA, [{"na_me": "zz"}], "na_me string", (WarehouseInvalidInput, "id"),
    ),
    "required-top": (
        _REQUIRED_SCHEMA, [{**_REQUIRED_GOOD, "id": None}], _REQUIRED_DDL,
        (WarehouseTableRowsInvalid, "id"),
    ),
    "required-nested": (
        _REQUIRED_SCHEMA, [{**_REQUIRED_GOOD, "id": 2, "meta": {"k": None}}], _REQUIRED_DDL,
        (WarehouseTableRowsInvalid, "k"),
    ),
    "required-repeated": (
        _REQUIRED_SCHEMA,
        [{**_REQUIRED_GOOD, "id": 2, "items": [{"sku": "a"}, {"sku": None}]}],
        _REQUIRED_DDL, (WarehouseTableRowsInvalid, "sku"),
    ),
}


def _tuples(value):
    if isinstance(value, dict):
        return tuple(_tuples(v) for v in value.values())
    if isinstance(value, list):
        return [_tuples(v) for v in value]
    return value


@pytest.mark.parametrize(
    "verb, kind, case",
    [
        (verb, kind, case)
        for case in ("missing-nullable", "dirty-name", "nested-subset",
                     "required-top", "required-nested", "required-repeated")
        for verb in ("load", "update", "merge")
        for kind in ("records", "dataframe")
    ]
    + [("load", "records", "single-dict"), ("update", "records", "single-dict"),
       ("merge", "records", "single-dict"), ("merge", "dataframe", "no-op-column"),
       ("update", "dataframe", "no-key-column"), ("merge", "dataframe", "no-key-column")],
)
def test_verbs_share_one_conform_contract(spark, root, verb, kind, case):
    """load, update and merge conform records and DataFrames alike:
    the same batch lands the same row through every verb and input
    kind, and a batch one of them rejects is rejected by all before
    the table changes. A merge record without an op is an update; a
    merge DataFrame must carry its op column."""
    schema, rows, ddl, want = _CONFORM_CASES[case]
    first = _REQUIRED_GOOD if schema is _REQUIRED_SCHEMA else _ROW1
    wh = SparkWarehouse.new(spark, root, "conform", schema=schema, data=[first])
    if verb == "merge" and case != "no-op-column" and kind == "dataframe":
        rows, ddl = [{**r, "op": "U"} for r in rows], ddl + ", op string"
    batch = spark.createDataFrame([_tuples(r) for r in rows], ddl) if kind == "dataframe" else rows
    apply = {
        "load": lambda: wh.load(batch),
        "update": lambda: wh.update(batch, keys=["id"]),
        "merge": lambda: wh.merge(batch, keys=["id"]),
    }[verb]
    if isinstance(want, tuple):
        meta_before, files_before = open(wh._meta_path).read(), _data_listing(wh)
        error, field = want
        with pytest.raises(error, match=repr(field) if field else None):
            apply()
        assert open(wh._meta_path).read() == meta_before
        assert _data_listing(wh) == files_before
        assert wh.df().count() == 1
        return
    assert apply() is True
    assert wh.schema == schema
    got = {r["id"]: r.asDict(recursive=True) for r in wh.df().collect()}
    assert got == {1: first, 2: want}


def test_verbs_call_the_functions_the_trace_credits(spark, root, monkeypatch):
    """perfbench/trace.py times the loader's layers by wrapping these
    module and class attributes; each verb must still reach them, or
    a layer's metric would silently read 0."""
    from collections import Counter

    from load_datawarehouse_spark import warehouse

    calls = Counter()

    def counting(owner, name):
        fn = getattr(owner, name)

        def wrapper(*args, **kwargs):
            calls[name] += 1
            return fn(*args, **kwargs)

        monkeypatch.setattr(owner, name, wrapper)

    for name in ("prepare", "clean_dataframe_keys", "infer_schema",
                 "infer_schema_distributed", "_conform_record"):
        counting(warehouse, name)
    for name in ("load", "merge"):
        counting(SparkWarehouse, name)

    wh = SparkWarehouse.new(spark, root, "credits")
    expect = {
        "records load": (lambda: wh.load(RECORDS),
                         {"prepare", "infer_schema", "_conform_record", "load"}),
        "DataFrame load": (lambda: wh.load(_records_as_df(spark)),
                           {"clean_dataframe_keys", "infer_schema_distributed", "load"}),
        "records update": (lambda: wh.update(RECORDS[:1], keys=["id"]),
                           {"prepare", "_conform_record"}),
        "records merge": (lambda: wh.merge([{**RECORDS[0], "op": "U"}], keys=["id"]),
                          {"prepare", "_conform_record", "merge"}),
    }
    for what, (run, credited) in expect.items():
        calls.clear()
        run()
        missing = {n for n in credited if not calls[n]}
        assert not missing, f"{what} no longer calls {sorted(missing)}"
    # the conform pass runs once per batch, not once per record
    per_batch = []
    for n in (1, 200):
        calls.clear()
        wh.load([{"id": 10_000 + i, "name": f"n{i}", "score": 0.5, "tags": ["t"]} for i in range(n)])
        per_batch.append(calls["_conform_record"])
    assert per_batch == [1, 1]

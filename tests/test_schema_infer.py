"""Golden-schema tests from FIXTURES.md F1/F2 (verified against the
reference by executing it during the survey)."""

from __future__ import annotations

from datetime import date, datetime, time

import pytest

from load_datawarehouse_spark.errors import WarehouseInvalidInput
from load_datawarehouse_spark.schema_infer import extract, infer_schema, infer_schema_distributed

F1_RECORDS = [
    {"A": 1, "B": 2, "C": 3},
    {"A": 1.23, "B": True, "C": 56},
    {
        "A": 56,
        "B": "Google",
        "D": [
            {"D1": True, "D2": False, "D3": [{"D3a": 123}]},
            {"D1": True, "D2": False, "D3": [{"D3a": 456, "D3b": "Something"}]},
        ],
    },
    None,
    123,
    {"E": None, "FFF": 666},
    {"G": 123},
    {"G": [1, 2, 3, 4, 5, 6, 7, 8, 9, 10]},
    {"FFF": 456.123, "G": [2, 3, 4, 5, 6, 1]},
]

F1_EXPECTED = [
    {"name": "A", "type": "FLOAT", "mode": "NULLABLE"},
    {"name": "B", "type": "STRING", "mode": "NULLABLE"},
    {"name": "C", "type": "INTEGER", "mode": "NULLABLE"},
    {
        "name": "D",
        "type": "RECORD",
        "mode": "REPEATED",
        "fields": [
            {"name": "D1", "type": "BOOLEAN", "mode": "NULLABLE"},
            {"name": "D2", "type": "BOOLEAN", "mode": "NULLABLE"},
            {
                "name": "D3",
                "type": "RECORD",
                "mode": "REPEATED",
                "fields": [
                    {"name": "D3a", "type": "INTEGER", "mode": "NULLABLE"},
                    {"name": "D3b", "type": "STRING", "mode": "NULLABLE"},
                ],
            },
        ],
    },
    {"name": "E", "type": "STRING", "mode": "NULLABLE"},
    {"name": "FFF", "type": "FLOAT", "mode": "NULLABLE"},
    {"name": "G", "type": "INTEGER", "mode": "REPEATED"},
]


def _by_name(schema):
    return {f["name"]: f for f in schema}


def _assert_schema_equal(actual, expected):
    a, e = _by_name(actual), _by_name(expected)
    assert set(a) == set(e), f"field sets differ: {sorted(a)} vs {sorted(e)}"
    for name in e:
        af, ef = dict(a[name]), dict(e[name])
        asub, esub = af.pop("fields", None), ef.pop("fields", None)
        assert af == ef, f"field {name}: {af} != {ef}"
        if esub:
            _assert_schema_equal(asub, esub)


def test_f1_canonical_corpus():
    res = infer_schema(F1_RECORDS)
    _assert_schema_equal(res.schema, F1_EXPECTED)
    assert len(res.type_errors) == 2  # None and 123
    assert res.factor_of_records_adding_fields == pytest.approx(1 / 3)


def test_f1_distributed_matches(spark):
    rdd = spark.sparkContext.parallelize(F1_RECORDS, 3)
    res = infer_schema_distributed(rdd)
    _assert_schema_equal(res.schema, F1_EXPECTED)
    assert len(res.type_errors) == 2


#: an existing schema over F1: a non-normalised entry (lower-case type
#: alias and mode), a RECORD whose sub-fields disagree with the data,
#: and a name the data never has
F1_EXISTING = [
    {"name": "A", "type": "string", "mode": "required"},
    {"name": "D", "type": "RECORD", "mode": "REPEATED",
     "fields": [{"name": "D1", "type": "STRING", "mode": "NULLABLE"}]},
    {"name": "ZZ", "type": "INTEGER", "mode": "NULLABLE"},
]


def test_f1_distributed_matches_with_existing_schema(spark):
    # fixed fields are skipped on both paths; condense still
    # normalises their entries, and every other field is inferred
    # exactly as without a schema
    seq = infer_schema(F1_RECORDS, schema=F1_EXISTING)
    rdd = spark.sparkContext.parallelize(F1_RECORDS, 3)
    dist = infer_schema_distributed(rdd, schema=F1_EXISTING)
    assert dist.schema == seq.schema
    assert dist.n_records == seq.n_records
    by_name = _by_name(seq.schema)
    assert by_name["A"] == {"name": "A", "type": "STRING", "mode": "REQUIRED"}
    assert by_name["D"]["fields"] == F1_EXISTING[1]["fields"]
    assert "ZZ" not in by_name
    expected = _by_name(F1_EXPECTED)
    for name in ("B", "C", "E", "FFF", "G"):
        assert by_name[name] == expected[name]
    assert [f["name"] for f in seq.schema] == [f["name"] for f in F1_EXPECTED]
    assert seq.factor_of_records_adding_fields == pytest.approx(1 / 3)


@pytest.mark.parametrize(
    "records,expected",
    [
        ([{"d": date(2020, 1, 1)}, {"d": date(2021, 2, 2)}], ("d", "DATETIME", "NULLABLE")),
        ([{"t": time(1, 2, 3)}], ("t", "TIME", "NULLABLE")),
        ([{"dt": datetime(2020, 1, 1)}], ("dt", "DATETIME", "NULLABLE")),
        ([{"b": b"xx"}], ("b", "BYTES", "NULLABLE")),
        ([{"x": True}], ("x", "BOOLEAN", "NULLABLE")),
        ([{"n": {"k1": 1, "k2": 2}}], ("n", "STRING", "REPEATED")),
        ([{"x": 1}, {"x": True}, {"x": "s"}], ("x", "STRING", "NULLABLE")),
        ([{"x": 1}, {"x": 2.5}], ("x", "FLOAT", "NULLABLE")),
        ([{"x": None}, {"x": None}], ("x", "STRING", "NULLABLE")),
    ],
)
def test_f2_edge_goldens(records, expected):
    res = infer_schema(records)
    f = res.schema[0]
    assert (f["name"], f["type"], f["mode"]) == expected


def test_f2_record_wins_over_scalar():
    res = infer_schema([{"m": [{"a": 1}]}, {"m": 5}])
    f = res.schema[0]
    assert (f["type"], f["mode"]) == ("RECORD", "REPEATED")
    assert f["fields"] == [{"name": "a", "type": "INTEGER", "mode": "NULLABLE"}]


def test_f2_existing_schema_wins():
    existing = [{"name": "x", "type": "STRING", "mode": "NULLABLE"}]
    res = infer_schema([{"x": 1}, {"x": 2}], schema=existing)
    assert res.schema[0]["type"] == "STRING"


def test_existing_schema_may_be_an_iterator():
    # a one-shot iterable is read once: every field keeps its
    # existing type, not only those found before it ran out
    existing = iter([
        {"name": "a", "type": "STRING", "mode": "NULLABLE"},
        {"name": "b", "type": "INTEGER", "mode": "NULLABLE"},
    ])
    res = infer_schema([{"b": "x", "a": 1}], schema=existing)
    assert res.schema == [
        {"name": "b", "type": "INTEGER", "mode": "NULLABLE"},
        {"name": "a", "type": "STRING", "mode": "NULLABLE"},
    ]


def test_strict_dates_divergence_flag():
    res = infer_schema([{"d": date(2020, 1, 1)}], strict_dates=True)
    assert res.schema[0]["type"] == "DATE"


def test_promotion_is_first_observed():
    # the reference's guess_warehouse_dtype iterates OBSERVED kinds
    # outer, priority switch inner: a str-then-datetime field loads as
    # STRING (and the raw strings survive createDataFrame), while
    # datetime-then-str picks DATETIME
    got = infer_schema([{"x": "free text"}, {"x": datetime(2024, 1, 2, 3)}]).schema
    assert got == [{"name": "x", "type": "STRING", "mode": "NULLABLE"}]
    got = infer_schema([{"x": datetime(2024, 1, 2, 3)}, {"x": "free text"}]).schema
    assert got == [{"name": "x", "type": "DATETIME", "mode": "NULLABLE"}]
    got = infer_schema([{"x": "s"}, {"x": b"b"}]).schema
    assert got == [{"name": "x", "type": "STRING", "mode": "NULLABLE"}]


def test_dirty_keys_cleaned():
    res = infer_schema([{"b.2": 1, 123: "x", "b something": True}])
    names = [f["name"] for f in res.schema]
    assert names == ["b_2", "123", "b_something"]


def test_extract_dispatch_pandas():
    import pandas as pd

    res = extract(pd.DataFrame([{"a": 1}, {"a": 2}]))
    assert res.schema[0]["type"] == "INTEGER"
    with pytest.raises(WarehouseInvalidInput):
        extract("not records")


def test_scalar_plus_list_condenses_together():
    res = infer_schema([{"G": 123}, {"G": [1.5, 2.5]}])
    f = res.schema[0]
    assert (f["type"], f["mode"]) == ("FLOAT", "REPEATED")


# --- F3: the reference's flagship 26-field `articles` golden ---------------
# (FIXTURES.md F3; reference test/test_bigquery.py:210-358, asserted
# order-insensitively at :422-445). The fixture blob is synthesized
# deterministically: >=100 rows, ~20% nulls per nullable column, 0-5
# t_productfeature entries per row.

_F3_INT_COLS = ("pkm_familie", "u_ugr", "u_beleuchtungsstaerke_dl_sym_raster")
_F3_BOOL_COLS = ("b_neuheit",)
_F3_STR_COLS = (
    "s_familie", "led_module", "s_farbe_kombifeld_indirekt",
    "s_abblendraster", "s_control", "s_baugroesse_list_display_string",
    "power_singlefield_with_unit", "s_farbe_kombifeld", "s_montageart",
    "s_artikelbild", "s_leuchtenlichtstrom_display_unit",
    "lumens_with_unit", "artno_schoen", "pkm_artikel", "s_einbaudetail",
    "s_untertitel", "s_gehaeusefarbe", "s_leistung_display_unit",
    "s_lichtwerkzeug", "s_lichtaustritt", "product_image",
)


def _f3_records(n: int = 120) -> list[dict]:
    import random

    rng = random.Random(3)
    rows = []
    for i in range(n):
        r: dict = {}
        for c in _F3_INT_COLS:
            r[c] = None if rng.random() < 0.2 else rng.randint(0, 999)
        for c in _F3_BOOL_COLS:
            r[c] = None if rng.random() < 0.2 else rng.random() < 0.5
        for c in _F3_STR_COLS:
            r[c] = None if rng.random() < 0.2 else f"{c}-{i}"
        r["t_productfeature"] = [
            {
                "Kurztext": None if rng.random() < 0.2 else f"kt-{j}",
                "Text": None if rng.random() < 0.2 else f"tx-{j}",
                "ID": None if rng.random() < 0.2 else str(j),
            }
            for j in range(rng.randint(0, 5))
        ]
        rows.append(r)
    return rows


def test_f3_articles_golden_schema():
    got = infer_schema(_f3_records()).schema
    by_name = {f["name"]: f for f in got}
    assert len(got) == 26, sorted(by_name)
    for c in _F3_INT_COLS:
        assert by_name[c] == {"name": c, "type": "INTEGER", "mode": "NULLABLE"}
    for c in _F3_BOOL_COLS:
        assert by_name[c] == {"name": c, "type": "BOOLEAN", "mode": "NULLABLE"}
    for c in _F3_STR_COLS:
        assert by_name[c] == {"name": c, "type": "STRING", "mode": "NULLABLE"}
    pf = by_name["t_productfeature"]
    assert pf["type"] == "RECORD" and pf["mode"] == "REPEATED"
    sub = {f["name"]: f for f in pf["fields"]}
    assert set(sub) == {"Kurztext", "Text", "ID"}
    for f in sub.values():
        assert f["type"] == "STRING" and f["mode"] == "NULLABLE"


def test_f3_round_trips_through_spark(spark):
    # the inferred api_repr must produce a StructType Spark accepts,
    # and the conformed records must load losslessly
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    from load_datawarehouse_spark import types as wtypes
    from load_datawarehouse_spark.data import prepare
    from load_datawarehouse_spark.warehouse import _conform_record, _key_level

    records = _f3_records()
    api = infer_schema(records).schema
    struct = wtypes.api_repr_to_struct_type(api)
    arrow = to_arrow_schema(struct)
    table = pa.Table.from_arrays(_conform_record(_key_level(prepare(records)), api, arrow), schema=arrow)
    df = spark.createDataFrame(table, struct)
    assert df.count() == len(records)
    assert {f.name for f in df.schema.fields} == {f["name"] for f in api}

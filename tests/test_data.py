"""Key sanitation + chunking invariants (FIXTURES.md F5) + distributed
variants."""

from __future__ import annotations

import json

import pytest

from load_datawarehouse_spark.data import (
    chunks,
    clean_dataframe_keys,
    clean_field_key,
    clean_keys,
    json_size,
    json_size_distributed,
    prepare,
    sample,
    subset,
    with_chunk_ids,
)
from load_datawarehouse_spark.errors import WarehouseRowOversize


def f5_corpus(n=1000):
    return [
        {
            "a": i * 10,
            "b something": {
                "b 1": True,
                "b.2": {
                    i: "Something",
                    "List": list(range(10)),
                    "Dicts": {f"Item #{k}": k for k in range(i * 5 * (i % 3 + 1))},
                },
            },
        }
        for i in range(n)
    ]


def test_clean_field_key():
    assert clean_field_key("b.2") == "b_2"
    assert clean_field_key("b something") == "b_something"
    assert clean_field_key(123) == "123"
    assert clean_field_key("ok_name9") == "ok_name9"


def test_clean_field_key_cache(monkeypatch):
    from load_datawarehouse_spark import data

    monkeypatch.setattr(data, "_CLEAN_KEYS", {})
    monkeypatch.setattr(data, "_CLEAN_KEYS_MAX", 8)
    # equal-hashing keys of different types keep distinct entries
    for _ in range(2):
        assert clean_field_key(True) == "True"
        assert clean_field_key(1) == "1"
        assert clean_field_key(1.5) == "1_5"
        assert clean_field_key(("a", 1)) == "__a___1_"
    assert set(data._CLEAN_KEYS) == {"True", "1", "1.5", "('a', 1)"}
    for i in range(20):
        assert clean_field_key(f"k {i}") == f"k_{i}"
        assert len(data._CLEAN_KEYS) <= 8
    assert clean_field_key("k 0") == "k_0"


def test_clean_keys_recursive():
    out = clean_keys({"a.b": [{"c d": 1}], "e": {"f.g": {"h i": 2}}})
    assert out == {"a_b": [{"c_d": 1}], "e": {"f_g": {"h_i": 2}}}


def test_prepare_pandas_to_records():
    import pandas as pd

    recs = prepare(pd.DataFrame([{"a b": 1}, {"a b": 2}]))
    assert recs == [{"a_b": 1}, {"a_b": 2}]


def test_chunks_invariants_small_limit():
    corpus = f5_corpus(200)
    limit = 64 * 1024
    got = list(chunks(corpus, size_limit=limit))
    reconstructed = [r for c in got for r in c]
    assert reconstructed == corpus  # lossless + ordered
    for c in got:
        assert json_size(c) <= limit  # bounded
    assert len(got) > 1


def test_chunks_single_chunk():
    corpus = f5_corpus(5)
    got = list(chunks(corpus, size_limit=20 * 2**20))
    assert got == [corpus]


def test_chunks_oversize_row_raises():
    big = [{"x": "y" * 10_000}]
    with pytest.raises(WarehouseRowOversize):
        list(chunks(big, size_limit=1024))
    # first-row oversize also raises cleanly (reference bug fixed)
    mixed = [{"x": "y" * 10_000}, {"x": 1}]
    with pytest.raises(WarehouseRowOversize):
        list(chunks(mixed, size_limit=1024))


def test_chunks_pandas_round_trip():
    import pandas as pd

    df = pd.DataFrame([{"a": i, "b": "x" * 50} for i in range(100)])
    got = list(chunks(df, size_limit=2048))
    recon = pd.concat(got, ignore_index=True)
    pd.testing.assert_frame_equal(recon, df)


def test_sample_subset_local():
    data = [{"i": i} for i in range(100)]
    s = sample(data, 10, seed=7)
    assert len(s) == 10 and all(r in data for r in s)
    assert subset(data, 20, 5) == data[20:25]


def test_sample_spark_unseeded_is_random(spark):
    # seed=None must NOT pin a fixed seed: two unseeded plans carry
    # different rand(seed) expressions (seeded plans carry the same)
    import re

    def rand_seed(df):
        plan = str(df._jdf.queryExecution().analyzed())
        return re.search(r"rand\((-?\d+)\)", plan).group(1)

    df = spark.range(1000).selectExpr("id AS i")
    assert rand_seed(sample(df, 5)) != rand_seed(sample(df, 5))
    assert rand_seed(sample(df, 5, seed=9)) == rand_seed(sample(df, 5, seed=9)) == "9"


def test_spark_clean_dataframe_keys(spark):
    from pyspark.sql import types as T

    schema = T.StructType(
        [
            T.StructField("a b", T.LongType()),
            T.StructField(
                "c.d",
                T.StructType(
                    [
                        T.StructField("e f", T.LongType()),
                        T.StructField("g-h", T.ArrayType(T.LongType())),
                    ]
                ),
            ),
        ]
    )
    df = spark.createDataFrame([(1, (2, [3]))], schema)
    out = clean_dataframe_keys(df)
    assert out.columns == ["a_b", "c_d"]
    inner = out.schema["c_d"].dataType
    assert [f.name for f in inner.fields] == ["e_f", "g_h"]
    row = out.collect()[0]
    assert row["c_d"]["e_f"] == 2 and row["c_d"]["g_h"] == [3]


def test_json_size_distributed_matches_local(spark):
    rows = [{"a": 1, "b": "xy"}, {"a": 2, "b": "z"}]
    df = spark.createDataFrame(rows)
    total = json_size_distributed(df)
    expected = sum(len(json.dumps(r, separators=(",", ":"))) for r in rows)
    assert total == expected


def test_with_chunk_ids(spark):
    df = spark.range(1000).selectExpr("id", "repeat('x', 100) AS pad")
    out = with_chunk_ids(df, size_limit=8 * 1024, order_by="id").collect()
    assert not any(r["row_oversize"] for r in out)
    n_chunks = len({r["chunk_id"] for r in out})
    assert n_chunks > 1
    # contiguity: chunk_id is non-decreasing in id order
    by_id = sorted(out, key=lambda r: r["id"])
    ids = [r["chunk_id"] for r in by_id]
    assert ids == sorted(ids)

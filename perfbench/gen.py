"""Seeded input generators for the benchmark workloads.

Everything here is harness-side: it runs before the timed phases and
its cost is excluded from ``setup_s``. The program under test only
ever sees the generated records, tables and change batches.
"""

from __future__ import annotations

import datetime as dt
import os
import random
import re

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# --- ingest_records --------------------------------------------------------

_CITIES = ("Zurich", "Lagos", "Osaka", "Lima", "Oslo", "Pune", "Quito", "Perth")
_TAGS = ("new", "vip", "churn-risk", "beta", "mobile", "web", "b2b", "trial")
#: optional keys: ~5% of records carry one, drawn from these four or
#: the batch's own fresh key, so every load widens the table's schema
_EXTRAS = {
    "referrer url": lambda r: f"https://ref.example/{r.randrange(1000)}",
    "promo-code": lambda r: f"P{r.randrange(10**6):06d}",
    "Coupon %": lambda r: round(r.uniform(0, 50), 2),
    "device.type": lambda r: r.choice(("ios", "android", "desktop")),
}
_EPOCH = dt.datetime(2024, 1, 1)


def ingest_batch(rng: random.Random, first_id: int, n: int, fresh_key: str) -> list[dict]:
    """``n`` semi-structured records with nested and REPEATED records,
    dirty keys, int/float mixes and datetimes. About 1% of them carry
    ``fresh_key``, a key no earlier batch had."""
    extras = (*_EXTRAS, fresh_key)
    out = []
    for i in range(n):
        rec = {
            "id": first_id + i,
            "User Name": f"user{rng.randrange(50_000)}",
            "created-at": _EPOCH + dt.timedelta(seconds=rng.randrange(365 * 86400)),
            # int in half the records, float in the other half -> FLOAT
            "score": rng.randrange(1000) if rng.random() < 0.5 else round(rng.uniform(0, 1000), 3),
            "active": rng.random() < 0.7,
            # a nested record is a one-element list of dicts: the loader
            # follows the reference, which reads a bare dict as a list
            # of its keys
            "address": [{
                "city": rng.choice(_CITIES),
                "zip-code": f"{rng.randrange(100000):05d}",
                "geo": [{"lat": round(rng.uniform(-90, 90), 5), "lon": round(rng.uniform(-180, 180), 5)}],
            }],
            "items": [
                {
                    "sku": f"SKU-{rng.randrange(5000)}",
                    "qty": rng.randrange(1, 10),
                    "unit price": rng.randrange(100, 10000) if rng.random() < 0.5 else round(rng.uniform(1, 100), 2),
                }
                for _ in range(rng.randrange(1, 5))
            ],
            "tags": rng.sample(_TAGS, rng.randrange(1, 4)),
        }
        if rng.random() < 0.05:
            key = rng.choice(extras)
            rec[key] = _EXTRAS[key](rng) if key in _EXTRAS else rng.randrange(1000)
        out.append(rec)
    return out


def clean_key(key: str) -> str:
    """The sanitation rule the loader applies to field names: every
    non-word character becomes ``_``. Kept here, independent of the
    program, so the output check does not trust the code it checks."""
    return re.sub(r"\W", "_", key)


def field_paths(records: list[dict]) -> set[str]:
    """Dotted, sanitized field paths over a record batch: lists of
    records descend, every other value is a leaf."""
    paths: set[str] = set()

    def walk(obj: dict, prefix: str) -> None:
        for k, v in obj.items():
            p = prefix + clean_key(k)
            paths.add(p)
            if isinstance(v, list):
                for item in v:
                    if isinstance(item, dict):
                        walk(item, p + ".")

    for r in records:
        walk(r, "")
    return paths


# --- cdc_merge -------------------------------------------------------------

ORDER_STATUS = ("F", "O", "P")
ORDER_PRIORITY = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
_ORDER_DAY0 = np.datetime64("1995-01-01", "us")
_ORDER_DAYS = 2404  # 1995-01-01 .. 2001-08-01, as in the sf0.1 orders table


def orders_table(seed: int, n: int = 150_000) -> pa.Table:
    """sf0.1-shaped ``orders``: keys 0..n-1, prices as whole cents."""
    g = np.random.default_rng(seed)
    days = g.integers(0, _ORDER_DAYS, n)
    return pa.table(
        {
            "o_orderkey": np.arange(n, dtype=np.int64),
            "o_custkey": g.integers(0, 15_000, n, dtype=np.int64),
            "o_orderstatus": np.array(ORDER_STATUS)[g.integers(0, 3, n)],
            "o_totalprice": g.integers(100_000, 50_000_000, n) / 100.0,
            "o_orderdate": _ORDER_DAY0 + days.astype("timedelta64[D]"),
            "o_orderpriority": np.array(ORDER_PRIORITY)[g.integers(0, 5, n)],
        }
    )


class OrdersModel:
    """The live contents of the merged table, as the generator expects
    them: key -> price in cents. Change batches are drawn from it."""

    def __init__(self, table: pa.Table) -> None:
        keys = table.column("o_orderkey").to_pylist()
        cents = [round(p * 100) for p in table.column("o_totalprice").to_pylist()]
        self.cents = dict(zip(keys, cents))
        self.keys = list(keys)  # dense list for O(1) sampling
        self.pos = {k: i for i, k in enumerate(self.keys)}
        self.next_key = max(keys) + 1

    def _drop(self, k: int) -> None:
        i, last = self.pos.pop(k), self.keys.pop()
        if last != k:
            self.keys[i] = last
            self.pos[last] = i
        del self.cents[k]

    def change_batch(self, rng: random.Random, n: int = 300) -> list[dict]:
        """About 30% inserts, 40% updates, 30% deletes over distinct
        keys, applied to the model as it is drawn."""
        n_ins, n_upd = round(n * 0.3), round(n * 0.4)
        touched = rng.sample(self.keys, n - n_ins)
        batch = []
        for j, k in enumerate(touched):
            op = "U" if j < n_upd else "D"
            batch.append(self._row(rng, k, op))
        for _ in range(n_ins):
            batch.append(self._row(rng, self.next_key, "I"))
            self.next_key += 1
        for r in batch:
            if r["op"] == "D":
                self._drop(r["o_orderkey"])
            else:
                if r["o_orderkey"] not in self.pos:
                    self.pos[r["o_orderkey"]] = len(self.keys)
                    self.keys.append(r["o_orderkey"])
                self.cents[r["o_orderkey"]] = round(r["o_totalprice"] * 100)
        rng.shuffle(batch)
        return batch

    @staticmethod
    def _row(rng: random.Random, key: int, op: str) -> dict:
        return {
            "o_orderkey": key,
            "o_custkey": rng.randrange(15_000),
            "o_orderstatus": rng.choice(ORDER_STATUS),
            "o_totalprice": rng.randrange(100_000, 50_000_000) / 100.0,
            "o_orderdate": dt.datetime(1995, 1, 1) + dt.timedelta(days=rng.randrange(_ORDER_DAYS)),
            "o_orderpriority": rng.choice(ORDER_PRIORITY),
            "op": op,
        }

    def top(self, k: int) -> list[tuple[int, int]]:
        """(key, cents) of the k most expensive orders, ties by key."""
        import heapq

        best = heapq.nsmallest(k, self.cents.items(), key=lambda kv: (-kv[1], kv[0]))
        return [(key, c) for key, c in best]


# --- query_suite -----------------------------------------------------------

TABLES_SEED = 42
_WORDS = (
    "a the spark window merge table column vector stream value data small "
    "join filter big group hash customer sort order slow line part fast row "
    "agg key query scan batch"
).split()
_LANGS = ("en", "zh", "es", "fr", "de")
_LANG_P = (0.41, 0.15, 0.15, 0.15, 0.14)


def _tpch_tables(g: np.random.Generator) -> dict[str, pa.Table]:
    n_cust, n_ord, n_line, n_part, n_supp = 15_000, 150_000, 600_000, 20_000, 1_000
    segs = np.array(("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"))
    adj = np.array("blue cold hot large new old red small".split())
    noun = np.array("anvil bolt gear gizmo plate ring rod widget".split())
    t = {
        "region": pa.table({
            "r_regionkey": pa.array(range(5), pa.int32()),
            "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
        }),
        "nation": pa.table({
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        }),
        "customer": pa.table({
            "c_custkey": np.arange(n_cust, dtype=np.int64),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": g.integers(0, 25, n_cust).astype(np.int32),
            "c_acctbal": g.integers(-99_999, 1_000_000, n_cust) / 100.0,
            "c_mktsegment": segs[g.integers(0, 5, n_cust)],
        }),
        "supplier": pa.table({
            "s_suppkey": np.arange(n_supp, dtype=np.int64),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": g.integers(0, 25, n_supp).astype(np.int32),
            "s_acctbal": g.integers(-99_999, 1_000_000, n_supp) / 100.0,
        }),
        "part": pa.table({
            "p_partkey": np.arange(n_part, dtype=np.int64),
            "p_name": np.char.add(np.char.add(adj[g.integers(0, 8, n_part)], " "), noun[g.integers(0, 8, n_part)]),
            "p_brand": np.char.add("Brand#", g.integers(1, 26, n_part).astype(str)),
            "p_type": np.array("ECONOMY LARGE MEDIUM PROMO SMALL STANDARD".split())[g.integers(0, 6, n_part)],
            "p_size": g.integers(1, 51, n_part).astype(np.int32),
            "p_retailprice": 900 + (np.arange(n_part) % 1000) / 10.0,
        }),
        "orders": orders_table(int(g.integers(1 << 31)), n_ord),
    }
    qty = g.integers(1, 51, n_line).astype(np.float64)
    t["lineitem"] = pa.table({
        "l_orderkey": g.integers(0, n_ord, n_line, dtype=np.int64),
        "l_partkey": g.integers(0, n_part, n_line, dtype=np.int64),
        "l_suppkey": g.integers(0, n_supp, n_line, dtype=np.int64),
        "l_linenumber": g.integers(1, 8, n_line).astype(np.int32),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * g.integers(90_000, 210_000, n_line) / 100.0, 2),
        "l_discount": g.integers(0, 11, n_line) / 100.0,
        "l_tax": g.integers(0, 9, n_line) / 100.0,
        "l_returnflag": np.array(("A", "N", "R"))[g.integers(0, 3, n_line)],
        "l_linestatus": np.array(("F", "O"))[g.integers(0, 2, n_line)],
        "l_shipdate": np.datetime64("1995-01-02", "us")
        + g.integers(0, 2800, n_line).astype("timedelta64[D]"),
    })
    return t


def _corpus_tables(g: np.random.Generator) -> dict[str, pa.Table]:
    n_docs, n_vec, n_ev = 5_000, 2_000, 100_000
    words = np.array(_WORDS)
    texts = [" ".join(words[g.integers(0, len(words), g.integers(10, 101))]) for _ in range(n_docs)]
    # plant ~5% near-duplicates of earlier documents (a few exact)
    for i in g.choice(np.arange(100, n_docs), 250, replace=False):
        src = texts[int(g.integers(0, i))]
        texts[i] = src if g.random() < 0.05 else src + " dup"
    docs = pa.table({
        "doc_id": np.arange(n_docs, dtype=np.int64),
        "text": texts,
        "lang": np.array(_LANGS)[g.choice(5, n_docs, p=_LANG_P)],
        "source": [f"src{i % 20}" for i in range(n_docs)],
        "n_chars": np.array([len(s) for s in texts], dtype=np.int64),
    })
    labels = g.integers(0, 10, n_vec)
    centers = g.normal(size=(10, 64))
    vec = centers[labels] * 0.5 + g.normal(size=(n_vec, 64))
    vec = (vec / np.linalg.norm(vec, axis=1, keepdims=True)).astype(np.float32)
    emb = pa.table({
        "vec_id": np.arange(n_vec, dtype=np.int64),
        "embedding": pa.array(list(vec), pa.list_(pa.float32())),
        "label": labels.astype(np.int32),
    })
    secs = np.sort(g.uniform(0, 30 * 86400, n_ev))
    ev = pa.table({
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": np.datetime64("2024-01-01", "us") + (secs * 1e6).astype("timedelta64[us]"),
        "user_id": g.integers(0, 1500, n_ev, dtype=np.int64),
        "event_type": np.array(("click", "error", "purchase", "signup", "view"))[g.integers(0, 5, n_ev)],
        "value": np.round(g.exponential(50.0, n_ev), 2),
        "props": [f'{{"k": {k}}}' for k in g.integers(0, 100, n_ev)],
    })
    return {"documents": docs, "embeddings": emb, "events": ev}


def sf01_tables(out: str) -> str:
    """Write the sf0.1-shaped tables under ``out`` and return it. The
    tables use a fixed seed so the recorded row counts hold; the
    workload seed varies the order the queries run in."""
    os.makedirs(out, exist_ok=True)
    g = np.random.default_rng(TABLES_SEED)
    for name, table in {**_tpch_tables(g), **_corpus_tables(g)}.items():
        pq.write_table(table, os.path.join(out, f"{name}.parquet"))
    return out

"""Seeded TPC-H-ish tables in the shape of the engine's test data:
``region nation customer supplier part orders lineitem events
documents embeddings``, one parquet file each, at scale factor ``sf``.

Row counts, column names, types, value domains and distributions are
fitted to the seed-42 test data the registry queries and their DuckDB
oracles are written against: independent uniform columns and keys, a
30-word vocabulary with 5% of documents near-copies of another, events
over 30 days stored in microseconds, and isotropic embeddings whose
labels carry no signal. ``tests/test_sfgen_fit.py`` compares the output
with the committed profile of that data (``dataprofile.py``). Every
value comes from ``numpy.random.default_rng(seed)``, so one seed gives
one data set.
"""

from __future__ import annotations

import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

WORDS = ("a agg batch big column customer data fast filter group hash "
         "join key line merge order part query row scan slow small sort "
         "spark stream table the value vector window").split()
SEGMENTS = ("FURNITURE", "MACHINERY", "AUTOMOBILE", "BUILDING", "HOUSEHOLD")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
PART_ADJ = ("blue", "cold", "hot", "large", "new", "old", "red", "small")
PART_NOUN = ("anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget")
PART_TYPES = ("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")
EVENT_TYPES = ("click", "error", "purchase", "signup", "view")
LANGS = ("en", "de", "es", "fr", "zh")
LANG_P = (0.4, 0.15, 0.15, 0.15, 0.15)
EMBED_DIM = 64

_EPOCH = dt.date(1970, 1, 1)
_DAY_US = 86_400 * 1_000_000


def _days(d: dt.date) -> int:
    return (d - _EPOCH).days


def _named(prefix: str, keys: np.ndarray, width: int) -> pa.Array:
    digits = pc.utf8_lpad(pc.cast(pa.array(keys), pa.string()), width, "0")
    return pc.binary_join_element_wise(prefix, digits, "")


def _pick(rng, values, n, p=None) -> pa.Array:
    return pa.array(np.array(values, dtype=object)[rng.choice(len(values), n, p=p)],
                    pa.string())


def _money(rng, lo: float, hi: float, n: int) -> np.ndarray:
    return rng.integers(int(lo * 100), int(hi * 100), n) / 100.0


def _midnights(rng, start: dt.date, end: dt.date, n: int) -> pa.Array:
    day = rng.integers(_days(start), _days(end), n)
    return pa.array(day.astype(np.int64) * _DAY_US, pa.timestamp("us"))


def _documents(rng, n: int) -> pa.Table:
    """Texts of 10-99 words drawn uniformly from a 30-word vocabulary.
    One document in twenty is then replaced by a copy of another one
    with the word ``dup`` appended, so the dedup and similarity queries
    find near-duplicate pairs (a copy of a copy ends in ``dup dup``)."""
    vocab = np.array(WORDS, dtype=object)
    lengths = rng.integers(10, 100, n)
    texts = [" ".join(vocab[rng.integers(0, len(vocab), k)]) for k in lengths]
    for i in rng.choice(n, n // 20, replace=False):
        j = (i + rng.integers(1, n)) % n
        texts[i] = texts[j] + " dup"
    text = pa.array(texts, pa.string())
    return pa.table({
        "doc_id": pa.array(np.arange(n, dtype=np.int64)),
        "text": text,
        "lang": _pick(rng, LANGS, n, p=np.array(LANG_P)),
        "source": _named("src", np.arange(n) % 20, 1),
        "n_chars": pc.cast(pc.utf8_length(text), pa.int64()),
    })


def _embeddings(rng, n: int) -> pa.Table:
    """Isotropic unit vectors; the ten labels are drawn independently
    of them, as in the test data."""
    v = rng.normal(size=(n, EMBED_DIM))
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
    return pa.table({
        "vec_id": pa.array(np.arange(n, dtype=np.int64)),
        "embedding": pa.FixedSizeListArray.from_arrays(pa.array(v.ravel()), EMBED_DIM)
        .cast(pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n).astype(np.int32)),
    })


def row_counts(sf: float) -> dict[str, int]:
    """Rows per table at scale factor ``sf``, as in the test data."""
    n_ord = max(1_500, int(1_500_000 * sf))
    return {
        "customer": max(150, int(150_000 * sf)),
        "supplier": max(10, int(10_000 * sf)),
        "part": max(200, int(200_000 * sf)),
        "orders": n_ord,
        "lineitem": 4 * n_ord,
        "events": max(1_000, int(1_000_000 * sf)),
        "users": max(15, int(15_000 * sf)),
        "documents": max(500, int(50_000 * sf)),
        "embeddings": max(500, int(20_000 * sf)),
    }


def generate(seed: int, sf: float) -> dict[str, pa.Table]:
    rng = np.random.default_rng(seed)
    n = row_counts(sf)
    n_cust, n_supp, n_part = n["customer"], n["supplier"], n["part"]
    n_ord, n_line, n_ev, n_users = n["orders"], n["lineitem"], n["events"], n["users"]
    t: dict[str, pa.Table] = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
        "r_name": pa.array(["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]),
    })
    t["nation"] = pa.table({
        "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
        "n_name": _named("NATION_", np.arange(25), 1),
        "n_regionkey": pa.array((np.arange(25) % 5).astype(np.int32)),
    })
    t["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(n_cust, dtype=np.int64)),
        "c_name": _named("Customer#", np.arange(n_cust), 9),
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust).astype(np.int32)),
        "c_acctbal": pa.array(_money(rng, -999.99, 9999.99, n_cust)),
        "c_mktsegment": _pick(rng, SEGMENTS, n_cust),
    })
    t["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(n_supp, dtype=np.int64)),
        "s_name": _named("Supplier#", np.arange(n_supp), 9),
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp).astype(np.int32)),
        "s_acctbal": pa.array(_money(rng, -999.99, 9999.99, n_supp)),
    })
    pk = np.arange(n_part, dtype=np.int64)
    t["part"] = pa.table({
        "p_partkey": pa.array(pk),
        "p_name": pc.binary_join_element_wise(
            _pick(rng, PART_ADJ, n_part), _pick(rng, PART_NOUN, n_part), " "),
        "p_brand": _named("Brand#", rng.integers(1, 26, n_part), 1),
        "p_type": _pick(rng, PART_TYPES, n_part),
        "p_size": pa.array(rng.integers(1, 51, n_part).astype(np.int32)),
        "p_retailprice": pa.array(900.0 + (pk % 1000) / 10.0),
    })
    t["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(n_ord, dtype=np.int64)),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord)),
        "o_orderstatus": _pick(rng, ("O", "F", "P"), n_ord),
        "o_totalprice": pa.array(_money(rng, 1000, 500000, n_ord)),
        "o_orderdate": _midnights(rng, dt.date(1995, 1, 1), dt.date(2001, 8, 2), n_ord),
        "o_orderpriority": _pick(rng, PRIORITIES, n_ord),
    })
    t["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_line)),
        "l_partkey": pa.array(rng.integers(0, n_part, n_line)),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_line)),
        "l_linenumber": pa.array(rng.integers(1, 8, n_line).astype(np.int32)),
        "l_quantity": pa.array(rng.integers(1, 51, n_line).astype(np.float64)),
        "l_extendedprice": pa.array(_money(rng, 900, 105000, n_line)),
        "l_discount": pa.array(np.round(rng.uniform(0.0, 0.10, n_line), 2)),
        "l_tax": pa.array(np.round(rng.uniform(0.0, 0.08, n_line), 2)),
        "l_returnflag": _pick(rng, ("N", "A", "R"), n_line),
        "l_linestatus": _pick(rng, ("O", "F"), n_line),
        "l_shipdate": _midnights(rng, dt.date(1995, 1, 2), dt.date(2001, 11, 5), n_line),
    })
    start_us = _days(dt.date(2024, 1, 1)) * _DAY_US
    ts = np.sort(rng.integers(start_us, start_us + 30 * _DAY_US, n_ev))
    t["events"] = pa.table({
        "event_id": pa.array(np.arange(n_ev, dtype=np.int64)),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, n_users, n_ev)),
        "event_type": _pick(rng, EVENT_TYPES, n_ev),
        "value": pa.array(np.round(rng.exponential(50.0, n_ev), 2)),
        "props": pc.binary_join_element_wise(
            "{\"k\": ", pc.cast(pa.array(rng.integers(0, 100, n_ev)), pa.string()), "}", ""),
    })
    t["documents"] = _documents(rng, n["documents"])
    t["embeddings"] = _embeddings(rng, n["embeddings"])
    return t


def write(tables: dict[str, pa.Table], out_dir: str) -> None:
    os.makedirs(out_dir, exist_ok=True)
    for name, table in tables.items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))

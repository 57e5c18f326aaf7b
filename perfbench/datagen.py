"""Seeded fixture generator for the benchmark.

Writes the ten tables the engine's queries read (``region nation
customer supplier part orders lineitem events documents embeddings``),
one parquet file each, with the column names, Arrow types and value
distributions of the engine's standard test fixtures: uniform keys with
referential integrity, ~5% of documents a near-copy of another one
(the other's text plus the token ``dup``), and unit-norm 64-d
embeddings. The same ``(sf, seed)`` always yields the same bytes.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLES = (
    "region nation customer supplier part orders lineitem events "
    "documents embeddings"
).split()

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PART_ADJ = ["large", "hot", "blue", "old", "cold", "small", "red", "new"]
PART_NOUN = ["ring", "bolt", "plate", "gear", "nut", "pipe", "valve", "spring"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["de", "en", "es", "fr", "zh"]
LANG_P = [0.14, 0.41, 0.15, 0.15, 0.15]
WORDS = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
DIM = 64

DAY_US = 86_400_000_000
EPOCH_1995 = np.datetime64("1995-01-01", "us").astype(np.int64)
EPOCH_2024 = np.datetime64("2024-01-01", "us").astype(np.int64)


def sizes(sf: float) -> dict[str, int]:
    """Row counts: TPC-H proportions for the star schema; the text and
    vector corpora grow sub-linearly (500 rows at sf0.001, 5,000
    documents and 2,000 vectors at sf0.1)."""
    ratio = sf / 0.001
    return {
        "customer": max(10, int(150_000 * sf)),
        "supplier": max(5, int(10_000 * sf)),
        "part": max(10, int(200_000 * sf)),
        "orders": max(10, int(1_500_000 * sf)),
        "lineitem": max(40, int(6_000_000 * sf)),
        "events": max(100, int(1_000_000 * sf)),
        "documents": int(round(500 * ratio ** 0.5)),
        "embeddings": int(round(500 * ratio ** 0.30103)),
    }


def _money(rng, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _names(prefix: str, keys: np.ndarray) -> pa.Array:
    return pa.array([f"{prefix}#{k:09d}" for k in keys.tolist()])


def _ts(us: np.ndarray) -> pa.Array:
    return pa.array(us, type=pa.int64()).cast(pa.timestamp("us"))


def _pick(rng, values: list[str], n: int, p=None) -> pa.Array:
    idx = rng.choice(len(values), n, p=p)
    return pa.DictionaryArray.from_arrays(
        pa.array(idx, pa.int32()), pa.array(values)
    ).cast(pa.string())


def _customer(rng, n) -> pa.Table:
    ck = np.arange(n["customer"], dtype=np.int64)
    return pa.table({
        "c_custkey": pa.array(ck),
        "c_name": _names("Customer", ck),
        "c_nationkey": pa.array(rng.integers(0, 25, len(ck)).astype(np.int32)),
        "c_acctbal": pa.array(_money(rng, -999.99, 9999.99, len(ck))),
        "c_mktsegment": _pick(rng, SEGMENTS, len(ck)),
    })


def _supplier(rng, n) -> pa.Table:
    sk = np.arange(n["supplier"], dtype=np.int64)
    return pa.table({
        "s_suppkey": pa.array(sk),
        "s_name": _names("Supplier", sk),
        "s_nationkey": pa.array(rng.integers(0, 25, len(sk)).astype(np.int32)),
        "s_acctbal": pa.array(_money(rng, -999.99, 9999.99, len(sk))),
    })


def _part(rng, n) -> pa.Table:
    pk = np.arange(n["part"], dtype=np.int64)
    adj = rng.integers(0, len(PART_ADJ), len(pk))
    noun = rng.integers(0, len(PART_NOUN), len(pk))
    return pa.table({
        "p_partkey": pa.array(pk),
        "p_name": pa.array(
            [f"{PART_ADJ[a]} {PART_NOUN[b]}" for a, b in zip(adj.tolist(), noun.tolist())]
        ),
        "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, len(pk)).tolist()]),
        "p_type": _pick(rng, PART_TYPES, len(pk)),
        "p_size": pa.array(rng.integers(1, 51, len(pk)).astype(np.int32)),
        "p_retailprice": pa.array(np.round(900.0 + (pk % 1000) * 0.1, 2)),
    })


def _orders(rng, n) -> pa.Table:
    no = n["orders"]
    return pa.table({
        "o_orderkey": pa.array(np.arange(no, dtype=np.int64)),
        "o_custkey": pa.array(rng.integers(0, n["customer"], no)),
        "o_orderstatus": _pick(rng, ["F", "O", "P"], no),
        "o_totalprice": pa.array(_money(rng, 1000.0, 500000.0, no)),
        "o_orderdate": _ts(EPOCH_1995 + rng.integers(0, 2404, no) * DAY_US),
        "o_orderpriority": _pick(rng, PRIORITIES, no),
    })


def _lineitem(rng, n) -> pa.Table:
    nl = n["lineitem"]
    return pa.table({
        "l_orderkey": pa.array(rng.integers(0, n["orders"], nl)),
        "l_partkey": pa.array(rng.integers(0, n["part"], nl)),
        "l_suppkey": pa.array(rng.integers(0, n["supplier"], nl)),
        "l_linenumber": pa.array(rng.integers(1, 8, nl).astype(np.int32)),
        "l_quantity": pa.array(rng.integers(1, 51, nl).astype(np.float64)),
        "l_extendedprice": pa.array(_money(rng, 900.0, 105000.0, nl)),
        "l_discount": pa.array(rng.integers(0, 11, nl) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, nl) / 100.0),
        "l_returnflag": _pick(rng, ["A", "N", "R"], nl),
        "l_linestatus": _pick(rng, ["F", "O"], nl),
        "l_shipdate": _ts(EPOCH_1995 + rng.integers(1, 2500, nl) * DAY_US),
    })


def _events(rng, n) -> pa.Table:
    ne = n["events"]
    ts = np.sort(rng.integers(0, 30 * DAY_US, ne)) + EPOCH_2024
    return pa.table({
        "event_id": pa.array(np.arange(ne, dtype=np.int64)),
        "ts": _ts(ts),
        "user_id": pa.array(rng.integers(0, max(10, ne // 66), ne)),
        "event_type": _pick(rng, EVENT_TYPES, ne),
        "value": pa.array(np.round(rng.exponential(50.0, ne), 2)),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, ne).tolist()]),
    })


def _documents(rng, sizes_: dict) -> pa.Table:
    n = sizes_["documents"]
    lens = rng.integers(10, 101, n)
    words = np.array(WORDS)
    text = [" ".join(words[rng.integers(0, len(WORDS), m)]) for m in lens.tolist()]
    # near-duplicates: another document's text with one token appended
    n_dup = n // 20
    dups = rng.choice(n, n_dup, replace=False)
    for i in dups.tolist():
        j = int(rng.integers(0, n))
        if j == i:
            j = (i + 1) % n
        text[i] = text[j] + " dup"
    ids = np.arange(n, dtype=np.int64)
    return pa.table({
        "doc_id": pa.array(ids),
        "text": pa.array(text),
        "lang": _pick(rng, LANGS, n, LANG_P),
        "source": pa.array([f"src{i % 20}" for i in range(n)]),
        "n_chars": pa.array([len(t) for t in text], pa.int64()),
    })


def _embeddings(rng, sizes_: dict) -> pa.Table:
    n = sizes_["embeddings"]
    v = rng.standard_normal((n, DIM))
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    flat = pa.array(v.astype(np.float32).ravel())
    offsets = pa.array(np.arange(0, (n + 1) * DIM, DIM, dtype=np.int32))
    return pa.table({
        "vec_id": pa.array(np.arange(n, dtype=np.int64)),
        "embedding": pa.ListArray.from_arrays(offsets, flat),
        "label": pa.array(rng.integers(0, 10, n).astype(np.int32)),
    })


def generate(sf: float, seed: int, tables=TABLES) -> dict[str, pa.Table]:
    """``tables`` (default: all ten) for scale ``sf`` from ``seed``. Each
    table draws from its own stream, so a subset equals the same tables
    of the full set; foreign keys only need the parents' row counts."""
    n = sizes(sf)
    return {name: _BUILD[name](_rng(seed, sf, name), n) for name in tables}


def _rng(seed: int, sf: float, table: str) -> np.random.Generator:
    return np.random.default_rng([seed, int(round(sf * 1e6)), TABLES.index(table)])


def _region(rng, n) -> pa.Table:
    return pa.table({
        "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
        "r_name": pa.array(REGIONS),
    })


def _nation(rng, n) -> pa.Table:
    return pa.table({
        "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
        "n_regionkey": pa.array((np.arange(25) % 5).astype(np.int32)),
    })


_BUILD = {
    "region": _region, "nation": _nation, "customer": _customer,
    "supplier": _supplier, "part": _part, "orders": _orders,
    "lineitem": _lineitem, "events": _events, "documents": _documents,
    "embeddings": _embeddings,
}


def write(out_dir: str, sf: float, seed: int, tables=TABLES) -> str:
    """Generate and write ``<out_dir>/<table>.parquet``; returns out_dir."""
    os.makedirs(out_dir, exist_ok=True)
    for name, table in generate(sf, seed, tables).items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
    return out_dir

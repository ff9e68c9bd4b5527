"""Seeded generator for the ten warehouse tables the engine's queries read.

The tables follow the layout ``sources.tables.load_table`` expects: one
parquet file per table, ``{sf_dir}/{name}.parquet``, with the column
names, types and value domains of the engine's fixture schema (a
TPC-H-like star schema plus ``events``, ``documents`` and
``embeddings``). Row counts scale with ``sf`` the way the fixture
scales: ``lineitem`` has 6,000,000 * sf rows.

Everything is drawn from one ``numpy`` generator, so the same seed
writes byte-identical values. No Spark is involved: generating the
inputs never warms the engine.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
PART_ADJ = ("blue", "old", "small", "new", "large", "hot", "cold", "red")
PART_NOUN = ("widget", "gizmo", "ring", "gear", "bolt", "plate", "rod", "anvil")
PART_TYPES = ("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")
EVENT_TYPES = ("click", "error", "purchase", "signup", "view")
LANGS = ("de", "en", "es", "fr", "zh")
VOCAB = (
    "a agg batch big column customer data dup fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream table "
    "the value vector window"
).split()
EMBED_DIM = 64

DAY_US = 86_400_000_000


def _days(start: str, end: str, rng: np.random.Generator, n: int) -> np.ndarray:
    lo = np.datetime64(start, "D").astype(np.int64)
    hi = np.datetime64(end, "D").astype(np.int64)
    return (rng.integers(lo, hi + 1, n) * DAY_US).astype("datetime64[us]")


def _pick(values: tuple[str, ...], rng: np.random.Generator, n: int) -> pa.Array:
    idx = rng.integers(0, len(values), n).astype(np.int32)
    return pa.DictionaryArray.from_arrays(idx, pa.array(values)).cast(pa.string())


def _money(lo: float, hi: float, rng: np.random.Generator, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _documents(rng: np.random.Generator, n: int) -> list[str]:
    """Random token streams, with about 5% near-duplicates (an earlier
    document with one or two tokens replaced) and a few exact copies,
    so dedup operators find pairs."""
    texts: list[str] = []
    lengths = rng.integers(10, 101, n)
    for i in range(n):
        roll = rng.random()
        if i > 0 and roll < 0.002:
            texts.append(texts[int(rng.integers(0, i))])
            continue
        if i > 0 and roll < 0.05:
            toks = texts[int(rng.integers(0, i))].split(" ")
            for _ in range(int(rng.integers(1, 3))):
                toks[int(rng.integers(0, len(toks)))] = VOCAB[int(rng.integers(0, len(VOCAB)))]
        else:
            toks = [VOCAB[j] for j in rng.integers(0, len(VOCAB), lengths[i])]
        texts.append(" ".join(toks))
    return texts


def table_sizes(sf: float) -> dict[str, int]:
    return {
        "region": len(REGIONS),
        "nation": 25,
        "customer": round(150_000 * sf),
        "supplier": round(10_000 * sf),
        "part": round(200_000 * sf),
        "orders": round(1_500_000 * sf),
        "lineitem": round(6_000_000 * sf),
        "events": round(1_000_000 * sf),
        "documents": round(50_000 * sf),
        "embeddings": round(max(500, 20_000 * sf)),
    }


def build_tables(sf: float, seed: int) -> dict[str, pa.Table]:
    rng = np.random.default_rng(seed)
    n = table_sizes(sf)
    t: dict[str, pa.Table] = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(range(len(REGIONS)), pa.int32()),
        "r_name": list(REGIONS),
    })
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array(rng.integers(0, len(REGIONS), 25), pa.int32()),
    })
    c = n["customer"]
    t["customer"] = pa.table({
        "c_custkey": np.arange(c, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(c)],
        "c_nationkey": pa.array(rng.integers(0, 25, c), pa.int32()),
        "c_acctbal": _money(-999.99, 9999.99, rng, c),
        "c_mktsegment": _pick(SEGMENTS, rng, c),
    })
    s = n["supplier"]
    t["supplier"] = pa.table({
        "s_suppkey": np.arange(s, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(s)],
        "s_nationkey": pa.array(rng.integers(0, 25, s), pa.int32()),
        "s_acctbal": _money(-999.99, 9999.99, rng, s),
    })
    p = n["part"]
    names = tuple(f"{a} {b}" for a in PART_ADJ for b in PART_NOUN)
    t["part"] = pa.table({
        "p_partkey": np.arange(p, dtype=np.int64),
        "p_name": _pick(names, rng, p),
        "p_brand": _pick(tuple(f"Brand#{i}" for i in range(1, 26)), rng, p),
        "p_type": _pick(PART_TYPES, rng, p),
        "p_size": pa.array(rng.integers(1, 51, p), pa.int32()),
        "p_retailprice": np.round(900.0 + rng.integers(0, 1000, p) / 10.0, 1),
    })
    o = n["orders"]
    t["orders"] = pa.table({
        "o_orderkey": np.arange(o, dtype=np.int64),
        "o_custkey": rng.integers(0, c, o, dtype=np.int64),
        "o_orderstatus": _pick(("F", "O", "P"), rng, o),
        "o_totalprice": _money(1000.0, 500000.0, rng, o),
        "o_orderdate": _days("1995-01-01", "2001-08-01", rng, o),
        "o_orderpriority": _pick(PRIORITIES, rng, o),
    })
    li = n["lineitem"]
    t["lineitem"] = pa.table({
        "l_orderkey": rng.integers(0, o, li, dtype=np.int64),
        "l_partkey": rng.integers(0, p, li, dtype=np.int64),
        "l_suppkey": rng.integers(0, s, li, dtype=np.int64),
        "l_linenumber": pa.array(rng.integers(1, 8, li), pa.int32()),
        "l_quantity": rng.integers(1, 51, li).astype(np.float64),
        "l_extendedprice": _money(900.0, 105000.0, rng, li),
        "l_discount": rng.integers(0, 11, li) / 100.0,
        "l_tax": rng.integers(0, 9, li) / 100.0,
        "l_returnflag": _pick(("A", "N", "R"), rng, li),
        "l_linestatus": _pick(("F", "O"), rng, li),
        "l_shipdate": _days("1995-01-02", "2001-11-04", rng, li),
    })
    e = n["events"]
    start = np.datetime64("2024-01-01", "us").astype(np.int64)
    ts = np.sort(rng.integers(start, start + 30 * DAY_US, e))
    t["events"] = pa.table({
        "event_id": np.arange(e, dtype=np.int64),
        "ts": ts.astype("datetime64[us]"),
        "user_id": rng.integers(0, max(1, c // 10), e, dtype=np.int64),
        "event_type": _pick(EVENT_TYPES, rng, e),
        "value": np.round(rng.exponential(50.0, e), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, e)],
    })
    d = n["documents"]
    texts = _documents(rng, d)
    t["documents"] = pa.table({
        "doc_id": np.arange(d, dtype=np.int64),
        "text": texts,
        "lang": _pick(LANGS, rng, d),
        "source": _pick(tuple(f"src{i}" for i in range(20)), rng, d),
        "n_chars": np.array([len(x) for x in texts], dtype=np.int64),
    })
    m = n["embeddings"]
    vecs = rng.standard_normal((m, EMBED_DIM)).astype(np.float32)
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    t["embeddings"] = pa.table({
        "vec_id": np.arange(m, dtype=np.int64),
        "embedding": pa.FixedSizeListArray.from_arrays(vecs.ravel(), EMBED_DIM).cast(
            pa.list_(pa.float32())
        ),
        "label": pa.array(rng.integers(0, 10, m), pa.int32()),
    })
    return t


def write_tables(sf_dir: str, sf: float, seed: int) -> int:
    """Write every table under ``sf_dir``; returns the total row count."""
    os.makedirs(sf_dir, exist_ok=True)
    rows = 0
    for name, table in build_tables(sf, seed).items():
        pq.write_table(table, os.path.join(sf_dir, f"{name}.parquet"))
        rows += table.num_rows
    return rows

"""Seeded synthetic tables in the shape of the engine's sf-scaled testdata.

The benchmark reads nothing outside its checkout, so it makes its own
inputs: the ten tables ``sources.catalog.TABLES`` names, one parquet file
each, with the column names, types, cardinalities and value ranges of the
star-schema testdata the registry queries were written against (sf0.1:
600k lineitem rows, 150k orders, 100k events, 5k documents, 2k
embeddings). The same ``(seed, sf)`` always gives byte-identical values.
"""

from __future__ import annotations

import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
PART_NOUN = ["anvil", "bolt", "gear", "nut", "plate", "ring", "rod", "widget"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
LANGS = ["en", "zh", "es", "fr", "de"]
LANG_P = [0.41, 0.15, 0.15, 0.15, 0.14]
EMBED_DIM = 64

_US_PER_DAY = 86_400_000_000


def row_counts(sf: float) -> dict[str, int]:
    """Rows per table at scale factor ``sf`` (TPC-H proportions for the
    star schema; the text and vector tables keep a 500-row floor)."""
    return {
        "region": 5,
        "nation": 25,
        "customer": max(10, round(150_000 * sf)),
        "supplier": max(5, round(10_000 * sf)),
        "part": max(10, round(200_000 * sf)),
        "orders": max(50, round(1_500_000 * sf)),
        "lineitem": max(200, round(6_000_000 * sf)),
        "events": max(100, round(1_000_000 * sf)),
        "documents": max(500, round(50_000 * sf)),
        "embeddings": max(500, round(20_000 * sf)),
    }


def _days(rng, n: int, lo: dt.date, hi: dt.date) -> pa.Array:
    base = (lo - dt.date(1970, 1, 1)).days
    span = (hi - lo).days
    days = base + rng.integers(0, span + 1, n)
    return pa.array(days.astype(np.int64) * _US_PER_DAY, pa.timestamp("us"))


def _money(rng, n: int, lo: float, hi: float) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _pick(rng, values: list[str], n: int, p=None) -> pa.Array:
    return pa.array(np.asarray(values, dtype=object)[rng.choice(len(values), n, p=p)])


def _names(prefix: str, n: int) -> pa.Array:
    return pa.array([f"{prefix}#{i:09d}" for i in range(n)])


def _documents(rng, n: int) -> pa.Table:
    """Word-salad documents over a 30-word vocabulary, 10-100 tokens.
    5% are near-duplicates of an earlier document (one token changed,
    then ``dup`` appended) and 0.2% exact copies, which is what the
    dedup, LSH and contamination queries look for."""
    vocab = np.asarray(VOCAB, dtype=object)
    texts: list[str] = []
    for i in range(n):
        r = rng.random()
        if i > 10 and r < 0.05:
            words = texts[int(rng.integers(0, i))].split()
            words[int(rng.integers(0, len(words)))] = vocab[int(rng.integers(0, len(vocab)))]
            texts.append(" ".join(words) + " dup")
        elif i > 10 and r < 0.052:
            texts.append(texts[int(rng.integers(0, i))])
        else:
            k = int(rng.integers(10, 101))
            texts.append(" ".join(vocab[rng.integers(0, len(vocab), k)]))
    return pa.table({
        "doc_id": pa.array(np.arange(n, dtype=np.int64)),
        "text": pa.array(texts),
        "lang": _pick(rng, LANGS, n, LANG_P),
        "source": pa.array([f"src{i % 20}" for i in range(n)]),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def _embeddings(rng, n: int) -> pa.Table:
    """Unit vectors around ten weak cluster centres; ``label`` is the
    centre each vector was drawn from."""
    centres = rng.normal(size=(10, EMBED_DIM))
    centres /= np.linalg.norm(centres, axis=1, keepdims=True)
    label = rng.integers(0, 10, n).astype(np.int32)
    vecs = rng.normal(size=(n, EMBED_DIM)) + 0.6 * centres[label]
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    flat = pa.array(vecs.reshape(-1), pa.float32())
    offsets = pa.array(np.arange(0, (n + 1) * EMBED_DIM, EMBED_DIM, dtype=np.int32))
    return pa.table({
        "vec_id": pa.array(np.arange(n, dtype=np.int64)),
        "embedding": pa.ListArray.from_arrays(offsets, flat),
        "label": pa.array(label),
    })


def make_tables(seed: int, sf: float) -> dict[str, pa.Table]:
    """Every catalog table as an Arrow table; deterministic in ``seed``."""
    rng = np.random.default_rng([seed, 0x5F])
    n = row_counts(sf)
    nc, ns, npart, no, nl = (n[k] for k in ("customer", "supplier", "part", "orders", "lineitem"))
    out: dict[str, pa.Table] = {}
    out["region"] = pa.table({
        "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
        "r_name": pa.array(REGIONS),
    })
    out["nation"] = pa.table({
        "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
        "n_regionkey": pa.array(np.arange(25, dtype=np.int32) % 5),
    })
    out["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(nc, dtype=np.int64)),
        "c_name": _names("Customer", nc),
        "c_nationkey": pa.array(rng.integers(0, 25, nc).astype(np.int32)),
        "c_acctbal": pa.array(_money(rng, nc, -999.99, 9999.99)),
        "c_mktsegment": _pick(rng, SEGMENTS, nc),
    })
    out["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(ns, dtype=np.int64)),
        "s_name": _names("Supplier", ns),
        "s_nationkey": pa.array(rng.integers(0, 25, ns).astype(np.int32)),
        "s_acctbal": pa.array(_money(rng, ns, -999.99, 9999.99)),
    })
    keys = np.arange(npart, dtype=np.int64)
    adj = np.asarray(PART_ADJ, dtype=object)[rng.integers(0, 8, npart)]
    noun = np.asarray(PART_NOUN, dtype=object)[rng.integers(0, 8, npart)]
    out["part"] = pa.table({
        "p_partkey": pa.array(keys),
        "p_name": pa.array(adj + " " + noun),
        "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, npart)]),
        "p_type": _pick(rng, PART_TYPES, npart),
        "p_size": pa.array(rng.integers(1, 51, npart).astype(np.int32)),
        "p_retailprice": pa.array(np.round(900 + (keys % 1000) / 10, 1)),
    })
    out["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(no, dtype=np.int64)),
        "o_custkey": pa.array(rng.integers(0, nc, no).astype(np.int64)),
        "o_orderstatus": _pick(rng, ["F", "O", "P"], no),
        "o_totalprice": pa.array(_money(rng, no, 1000.0, 500_000.0)),
        "o_orderdate": _days(rng, no, dt.date(1995, 1, 1), dt.date(2001, 8, 1)),
        "o_orderpriority": _pick(rng, PRIORITIES, no),
    })
    out["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, no, nl).astype(np.int64)),
        "l_partkey": pa.array(rng.integers(0, npart, nl).astype(np.int64)),
        "l_suppkey": pa.array(rng.integers(0, ns, nl).astype(np.int64)),
        "l_linenumber": pa.array(rng.integers(1, 8, nl).astype(np.int32)),
        "l_quantity": pa.array(rng.integers(1, 51, nl).astype(np.float64)),
        "l_extendedprice": pa.array(_money(rng, nl, 900.0, 105_000.0)),
        "l_discount": pa.array(rng.integers(0, 11, nl) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, nl) / 100.0),
        "l_returnflag": _pick(rng, ["A", "N", "R"], nl),
        "l_linestatus": _pick(rng, ["F", "O"], nl),
        "l_shipdate": _days(rng, nl, dt.date(1995, 1, 2), dt.date(2001, 11, 4)),
    })
    ne = n["events"]
    start_us = (dt.date(2024, 1, 1) - dt.date(1970, 1, 1)).days * _US_PER_DAY
    gaps = rng.exponential(30 * _US_PER_DAY / ne, ne)
    out["events"] = pa.table({
        "event_id": pa.array(np.arange(ne, dtype=np.int64)),
        "ts": pa.array(start_us + np.cumsum(gaps).astype(np.int64), pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, max(10, nc // 10), ne).astype(np.int64)),
        "event_type": _pick(rng, EVENT_TYPES, ne),
        "value": pa.array(np.round(rng.exponential(50.0, ne), 2)),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, ne)]),
    })
    out["documents"] = _documents(rng, n["documents"])
    out["embeddings"] = _embeddings(rng, n["embeddings"])
    return out


def write_tables(root: str, seed: int, sf: float) -> str:
    """Write every table to ``<root>/sf<sf>/<name>.parquet`` (one row
    group per file, as the testdata has) and return that directory."""
    sf_dir = os.path.join(root, f"sf{sf:g}")
    os.makedirs(sf_dir, exist_ok=True)
    for name, table in make_tables(seed, sf).items():
        pq.write_table(table, os.path.join(sf_dir, f"{name}.parquet"),
                       row_group_size=max(1, table.num_rows))
    return sf_dir

"""Seeded generator for the star-schema parquet tables the query workloads read.

The layout and value ranges follow the engine's test tables (TESTDATA.md):
``region nation customer supplier part orders lineitem events documents
embeddings``, one parquet file each, row counts proportional to the scale
factor.  Every value comes from one ``numpy`` generator seeded by the
benchmark's ``--seed``, so one seed always yields the same bytes.
"""

from __future__ import annotations

import datetime
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["de", "en", "es", "fr", "zh"]
LANG_P = [0.14, 0.41, 0.15, 0.15, 0.15]
WORDS = (
    "a agg batch big column customer data fast filter group hash join key line "
    "merge order part query row scan slow small sort spark stream table the value "
    "vector window"
).split()
N_SOURCES = 20
DOC_VOCAB = 1000
EMB_DIM = 64

_EPOCH = datetime.datetime(1970, 1, 1)


def _days(d: datetime.date) -> int:
    return (datetime.datetime(d.year, d.month, d.day) - _EPOCH).days


def _day_ts(rng, lo: datetime.date, hi: datetime.date, n: int) -> pa.Array:
    """Midnight timestamps drawn uniformly from [lo, hi]."""
    days = rng.integers(_days(lo), _days(hi) + 1, n)
    return pa.array(days.astype("int64") * 86_400_000_000, pa.timestamp("us"))


def _money(rng, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _pick(rng, values: list[str], n: int, p=None) -> pa.Array:
    return pa.array(np.asarray(values, dtype=object)[rng.choice(len(values), n, p=p)].tolist(), pa.string())


def _i32(a) -> pa.Array:
    return pa.array(np.asarray(a, dtype=np.int32))


def _i64(a) -> pa.Array:
    return pa.array(np.asarray(a, dtype=np.int64))


def make_tables(sf: float, seed: int) -> dict[str, pa.Table]:
    rng = np.random.default_rng(seed)
    n_cust = max(1, round(150_000 * sf))
    n_supp = max(1, round(10_000 * sf))
    n_part = max(1, round(200_000 * sf))
    n_ord = max(1, round(1_500_000 * sf))
    n_line = 4 * n_ord
    n_ev = max(1, round(1_000_000 * sf))
    n_users = max(1, round(15_000 * sf))
    n_docs = max(500, round(50_000 * sf))
    n_emb = max(500, round(20_000 * sf))

    out: dict[str, pa.Table] = {}
    out["region"] = pa.table({"r_regionkey": _i32(range(5)), "r_name": pa.array(REGIONS)})
    out["nation"] = pa.table(
        {
            "n_nationkey": _i32(range(25)),
            "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
            "n_regionkey": _i32([i % 5 for i in range(25)]),
        }
    )
    out["customer"] = pa.table(
        {
            "c_custkey": _i64(np.arange(n_cust)),
            "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)]),
            "c_nationkey": _i32(rng.integers(0, 25, n_cust)),
            "c_acctbal": pa.array(_money(rng, -999.99, 9999.99, n_cust)),
            "c_mktsegment": _pick(rng, SEGMENTS, n_cust),
        }
    )
    out["supplier"] = pa.table(
        {
            "s_suppkey": _i64(np.arange(n_supp)),
            "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n_supp)]),
            "s_nationkey": _i32(rng.integers(0, 25, n_supp)),
            "s_acctbal": pa.array(_money(rng, -999.99, 9999.99, n_supp)),
        }
    )
    names = np.char.add(
        np.char.add(np.asarray(PART_ADJ)[rng.integers(0, len(PART_ADJ), n_part)], " "),
        np.asarray(PART_NOUN)[rng.integers(0, len(PART_NOUN), n_part)],
    )
    out["part"] = pa.table(
        {
            "p_partkey": _i64(np.arange(n_part)),
            "p_name": pa.array(names.tolist(), pa.string()),
            "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, n_part)]),
            "p_type": _pick(rng, PART_TYPES, n_part),
            "p_size": _i32(rng.integers(1, 51, n_part)),
            "p_retailprice": pa.array(np.round(900.0 + (np.arange(n_part) % 1000) * 0.1, 2)),
        }
    )
    out["orders"] = pa.table(
        {
            "o_orderkey": _i64(np.arange(n_ord)),
            "o_custkey": _i64(rng.integers(0, n_cust, n_ord)),
            "o_orderstatus": _pick(rng, ["F", "O", "P"], n_ord),
            "o_totalprice": pa.array(_money(rng, 1000.0, 500_000.0, n_ord)),
            "o_orderdate": _day_ts(rng, datetime.date(1995, 1, 1), datetime.date(2001, 8, 1), n_ord),
            "o_orderpriority": _pick(rng, PRIORITIES, n_ord),
        }
    )
    out["lineitem"] = pa.table(
        {
            "l_orderkey": _i64(rng.integers(0, n_ord, n_line)),
            "l_partkey": _i64(rng.integers(0, n_part, n_line)),
            "l_suppkey": _i64(rng.integers(0, n_supp, n_line)),
            "l_linenumber": _i32(rng.integers(1, 8, n_line)),
            "l_quantity": pa.array(rng.integers(1, 51, n_line).astype(np.float64)),
            "l_extendedprice": pa.array(_money(rng, 900.0, 105_000.0, n_line)),
            "l_discount": pa.array(rng.integers(0, 11, n_line) / 100.0),
            "l_tax": pa.array(rng.integers(0, 9, n_line) / 100.0),
            "l_returnflag": _pick(rng, ["A", "N", "R"], n_line),
            "l_linestatus": _pick(rng, ["F", "O"], n_line),
            "l_shipdate": _day_ts(rng, datetime.date(1995, 1, 2), datetime.date(2001, 11, 4), n_line),
        }
    )
    # events: strictly increasing microsecond stamps over 30 days
    span_us = 30 * 86_400_000_000
    ts = np.sort(rng.choice(span_us, n_ev, replace=False)) + _days(datetime.date(2024, 1, 1)) * 86_400_000_000
    out["events"] = pa.table(
        {
            "event_id": _i64(np.arange(n_ev)),
            "ts": pa.array(ts.astype("int64"), pa.timestamp("us")),
            "user_id": _i64(rng.integers(0, n_users, n_ev)),
            "event_type": _pick(rng, EVENT_TYPES, n_ev),
            "value": pa.array(np.round(rng.exponential(50.0, n_ev), 2)),
            "props": pa.array([json.dumps({"k": int(k)}) for k in rng.integers(0, 100, n_ev)]),
        }
    )
    out["documents"] = _documents(rng, n_docs)
    emb = rng.normal(size=(n_emb, EMB_DIM)).astype(np.float32)
    emb /= np.linalg.norm(emb, axis=1, keepdims=True)
    out["embeddings"] = pa.table(
        {
            "vec_id": _i64(np.arange(n_emb)),
            "embedding": pa.array(list(emb), pa.list_(pa.float32())),
            "label": _i32(rng.integers(0, 10, n_emb)),
        }
    )
    return out


def _documents(rng, n: int) -> pa.Table:
    """Random-word documents with a fixed near-duplicate structure.

    Words come from a vocabulary large enough that two independent documents
    almost never reach the 0.8 Jaccard similarity of the dedup queries.  In
    every block of ``4 * N_SOURCES`` documents, the last three rows of each
    source copy the row ``N_SOURCES`` earlier (same source) with one word
    swapped for ``dup``, so every seed yields chains of four near copies and
    the iterative dedup queries run the same number of rounds."""
    vocab = WORDS + [f"w{i:03d}" for i in range(DOC_VOCAB - len(WORDS))]
    texts: list[str] = []
    for i in range(n):
        if (i // N_SOURCES) % 4 != 0:
            words = texts[i - N_SOURCES].split(" ")
            words[int(rng.integers(0, len(words)))] = "dup"
        else:
            words = [vocab[w] for w in rng.integers(0, len(vocab), int(rng.integers(12, 100)))]
        texts.append(" ".join(words))
    return pa.table(
        {
            "doc_id": _i64(np.arange(n)),
            "text": pa.array(texts),
            "lang": _pick(rng, LANGS, n, p=LANG_P),
            "source": pa.array([f"src{i % N_SOURCES}" for i in range(n)]),
            "n_chars": _i64([len(t) for t in texts]),
        }
    )


def write_tables(sf: float, seed: int, out_dir: str) -> str:
    """Write every table as ``<out_dir>/<name>.parquet``; returns ``out_dir``."""
    os.makedirs(out_dir, exist_ok=True)
    for name, table in make_tables(sf, seed).items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
    return out_dir

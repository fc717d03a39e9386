"""Seeded TPC-H-shaped tables for the ``query_mix`` workload.

Writes the eight parquet files the ad-hoc queries read (``region``,
``nation``, ``customer``, ``supplier``, ``part``, ``orders``,
``lineitem``, ``documents``, ``embeddings``, ``events``) with the same
column names and physical types as the engine's reference test tables,
so the queries and their DuckDB oracles run unchanged. Everything is
drawn from one ``numpy`` generator seeded by the workload seed: the
same seed writes the same bytes.

Scale follows TPC-H row ratios (``sf=1`` → 6M lineitems); the document
and embedding tables stay small because the near-duplicate and cosine
oracles are quadratic in DuckDB.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

NATIONS = [
    "ALGERIA", "ARGENTINA", "BRAZIL", "CANADA", "EGYPT", "ETHIOPIA", "FRANCE",
    "GERMANY", "INDIA", "INDONESIA", "IRAN", "IRAQ", "JAPAN", "JORDAN", "KENYA",
    "MOROCCO", "MOZAMBIQUE", "PERU", "CHINA", "ROMANIA", "SAUDI ARABIA",
    "VIETNAM", "RUSSIA", "UNITED KINGDOM", "UNITED STATES",
]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_ADJ = ["red", "blue", "small", "large", "hot", "old", "green", "shiny"]
PART_NOUN = ["ring", "widget", "bolt", "plate", "rod", "gear", "valve", "pipe"]
PART_TYPES = ["ECONOMY", "STANDARD", "PROMO", "SMALL", "MEDIUM", "LARGE"]
EVENT_TYPES = ["view", "click", "purchase", "signup", "error"]
LANGS = ["en", "es", "de", "fr", "zh"]
WORDS = (
    "a the data query small row slow fast filter value sort hash stream batch "
    "big group order column part table join window agg line key scan spark "
    "merge vector customer"
).split()
# Per-language stopwords so the text operators see realistic votes.
LANG_WORDS = {
    "en": ["the", "and", "of", "to"],
    "es": ["el", "la", "de", "que"],
    "de": ["der", "die", "und", "das"],
    "fr": ["le", "les", "et", "des"],
    "zh": [],
}

EPOCH_1995 = np.datetime64("1995-01-01T00:00:00", "us")
EPOCH_2024 = np.datetime64("2024-01-01T00:00:00", "us")
DAY_US = 86_400_000_000


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _write(out_dir: str, name: str, cols: dict) -> None:
    pq.write_table(pa.table(cols), os.path.join(out_dir, f"{name}.parquet"))


def _documents(rng: np.random.Generator, n: int) -> dict:
    """Bag-of-words documents with planted exact copies (~4 %) and
    near-copies (~8 %, one word of a long document replaced) for the
    dedup queries."""
    texts: list[str] = []
    for i in range(n):
        r = rng.random()
        if i > 10 and r < 0.04:
            texts.append(texts[int(rng.integers(0, i))])
            continue
        if i > 10 and r < 0.12:
            # one word replaced in a long document: Jaccard stays >= 0.9
            words = texts[int(rng.integers(0, i))].split(" ")
            if len(words) >= 50:
                words[int(rng.integers(0, len(words)))] = str(rng.choice(WORDS))
            texts.append(" ".join(words))
            continue
        lang = LANGS[int(rng.integers(0, len(LANGS)))]
        vocab = WORDS + LANG_WORDS[lang] * 3
        n_words = int(rng.integers(8, 90))
        texts.append(" ".join(vocab[j] for j in rng.integers(0, len(vocab), n_words)))
    langs = [LANGS[j] for j in rng.integers(0, len(LANGS), n)]
    return {
        "doc_id": np.arange(n, dtype=np.int64),
        "text": texts,
        "lang": langs,
        "source": [f"src{j}" for j in rng.integers(0, 20, n)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    }


def generate(out_dir: str, sf: float, seed: int, n_docs: int = 500,
             n_vectors: int = 500) -> dict[str, int]:
    """Write every table under *out_dir*; returns row counts by table."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(seed)
    n_cust = max(150, int(150_000 * sf))
    n_supp = max(10, int(10_000 * sf))
    n_part = max(200, int(200_000 * sf))
    n_ord = max(1500, int(1_500_000 * sf))
    n_user = max(20, int(15_000 * sf))
    n_event = max(1000, int(1_000_000 * sf))

    _write(out_dir, "region", {
        "r_regionkey": np.arange(len(REGIONS), dtype=np.int32),
        "r_name": REGIONS,
    })
    _write(out_dir, "nation", {
        "n_nationkey": np.arange(len(NATIONS), dtype=np.int32),
        "n_name": NATIONS,
        "n_regionkey": (np.arange(len(NATIONS)) % len(REGIONS)).astype(np.int32),
    })
    _write(out_dir, "customer", {
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": [SEGMENTS[j] for j in rng.integers(0, 5, n_cust)],
    })
    _write(out_dir, "supplier", {
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
    })
    adj = rng.integers(0, len(PART_ADJ), n_part)
    noun = rng.integers(0, len(PART_NOUN), n_part)
    _write(out_dir, "part", {
        "p_partkey": np.arange(n_part, dtype=np.int64),
        "p_name": [f"{PART_ADJ[a]} {PART_NOUN[b]}" for a, b in zip(adj, noun)],
        "p_brand": [f"Brand#{j}" for j in rng.integers(1, 26, n_part)],
        "p_type": [PART_TYPES[j] for j in rng.integers(0, len(PART_TYPES), n_part)],
        "p_size": rng.integers(1, 51, n_part).astype(np.int32),
        "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) / 10.0, 2),
    })
    order_day = rng.integers(0, 2404, n_ord)  # 1995-01-01 .. 2001-08-01
    _write(out_dir, "orders", {
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord).astype(np.int64),
        "o_orderstatus": [("F", "O", "P")[j] for j in rng.integers(0, 3, n_ord)],
        "o_totalprice": _money(rng, 1000.0, 500_000.0, n_ord),
        "o_orderdate": EPOCH_1995 + order_day.astype("timedelta64[D]"),
        "o_orderpriority": [PRIORITIES[j] for j in rng.integers(0, 5, n_ord)],
    })
    lines_per_order = rng.integers(1, 8, n_ord)
    l_order = np.repeat(np.arange(n_ord, dtype=np.int64), lines_per_order)
    n_line = len(l_order)
    l_linenumber = np.concatenate([np.arange(1, k + 1) for k in lines_per_order])
    quantity = rng.integers(1, 51, n_line).astype(np.float64)
    ship_day = order_day[l_order] + rng.integers(1, 122, n_line)
    _write(out_dir, "lineitem", {
        "l_orderkey": l_order,
        "l_partkey": rng.integers(0, n_part, n_line).astype(np.int64),
        "l_suppkey": rng.integers(0, n_supp, n_line).astype(np.int64),
        "l_linenumber": l_linenumber.astype(np.int32),
        "l_quantity": quantity,
        "l_extendedprice": np.round(quantity * rng.uniform(900.0, 2100.0, n_line), 2),
        "l_discount": np.round(rng.integers(0, 11, n_line) / 100.0, 2),
        "l_tax": np.round(rng.integers(0, 9, n_line) / 100.0, 2),
        "l_returnflag": [("R", "A", "N")[j] for j in rng.integers(0, 3, n_line)],
        "l_linestatus": [("O", "F")[j] for j in rng.integers(0, 2, n_line)],
        "l_shipdate": EPOCH_1995 + ship_day.astype("timedelta64[D]"),
    })
    _write(out_dir, "documents", _documents(rng, n_docs))
    emb = rng.standard_normal((n_vectors, 64)).astype(np.float32)
    _write(out_dir, "embeddings", {
        "vec_id": np.arange(n_vectors, dtype=np.int64),
        "embedding": pa.array(list(emb), type=pa.list_(pa.float32())),
        "label": rng.integers(0, 10, n_vectors).astype(np.int32),
    })
    ts = EPOCH_2024 + np.sort(rng.integers(0, 30 * DAY_US, n_event)).astype("timedelta64[us]")
    _write(out_dir, "events", {
        "event_id": np.arange(n_event, dtype=np.int64),
        "ts": ts,
        "user_id": rng.integers(0, n_user, n_event).astype(np.int64),
        "event_type": [EVENT_TYPES[j] for j in rng.integers(0, 5, n_event)],
        "value": _money(rng, 0.01, 500.0, n_event),
        "props": [f'{{"k": {j}}}' for j in rng.integers(0, 100, n_event)],
    })
    return {
        "customer": n_cust, "supplier": n_supp, "part": n_part, "orders": n_ord,
        "lineitem": n_line, "documents": n_docs, "embeddings": n_vectors,
        "events": n_event,
    }

"""Seeded generator of the TPC-H-ish parquet tables the registered queries read.

Same tables, column names and parquet types as the project's synthetic test
tables (TESTDATA.md): ``region nation customer supplier part orders lineitem
events documents embeddings``, one parquet file (one row group) each. Row
counts scale with ``sf`` the way the test tables do (lineitem 6M x sf,
orders 1.5M x sf, documents 50k x sf, embeddings 20k x sf, ...); values are
drawn uniformly from the same ranges, so query selectivities match.

The text and embedding tables take everything but their words and signs
from a fixed seed (``LAYOUT_SEED``). ``seed`` relabels words of equal length
and flips vector dimensions, which keeps every token equality, character
count and dot product; it draws all columns of the other tables. So the work a query does barely moves from seed to seed,
while its inputs and outputs do.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
PART_ADJ = ("blue", "cold", "hot", "large", "old", "red", "small", "tiny")
PART_NOUN = ("bolt", "gear", "nut", "plate", "ring", "screw", "valve", "widget")
PART_TYPES = ("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
EVENT_TYPES = ("click", "error", "purchase", "signup", "view")
LANGS = ("en", "en", "de", "es", "fr", "zh")  # en twice: ~40% of documents
WORDS = ("a", "agg", "batch", "big", "column", "customer", "data", "fast",
         "filter", "group", "hash", "join", "key", "line", "merge", "order",
         "part", "query", "row", "scan", "slow", "small", "sort", "spark",
         "stream", "table", "the", "value", "vector", "window")
STOPWORDS = ("a", "the")
EMBED_DIM = 64
LAYOUT_SEED = 20_240_101


def _days(start: str, stop: str, rng, n: int) -> np.ndarray:
    lo, hi = np.datetime64(start, "D"), np.datetime64(stop, "D")
    span = int((hi - lo).astype(int))
    return (lo + rng.integers(0, span + 1, n)).astype("datetime64[us]")


def _money(rng, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _pick(rng, choices, n: int) -> np.ndarray:
    return np.asarray(choices, dtype=object)[rng.integers(0, len(choices), n)]


def _write(out_dir: str, name: str, cols: dict) -> None:
    pq.write_table(pa.table(cols), os.path.join(out_dir, f"{name}.parquet"),
                   compression="snappy")


def _documents(rng, n: int) -> dict:
    """Everything but the words comes from the layout: lengths, token
    positions, duplicates, language and source. The seed relabels the words
    within each word length (a bijection, so token equality, every shingle
    overlap and every character count stay the same)."""
    layout = np.random.default_rng(LAYOUT_SEED)
    relabel = {w: w for w in STOPWORDS}
    for size in sorted({len(w) for w in WORDS}):
        same = [w for w in WORDS if len(w) == size and w not in STOPWORDS]
        relabel.update(zip(same, rng.permutation(same)))
    vocab = np.array([relabel[w] for w in WORDS], dtype=object)
    texts = []
    for i in range(n):
        r, k = layout.random(), int(layout.integers(10, 101))
        earlier = int(layout.integers(0, max(i, 1)))
        tokens = layout.integers(0, len(WORDS), k)
        if i and r < 0.002:  # exact duplicate of an earlier document
            texts.append(texts[earlier])
        elif i and r < 0.05:  # near duplicate: an earlier one + "dup"
            texts.append(texts[earlier] + " dup")
        else:
            texts.append(" ".join(vocab[tokens]))
    return {
        "doc_id": np.arange(n, dtype=np.int64),
        "text": texts,
        "lang": _pick(layout, LANGS, n),
        "source": np.array([f"src{k}" for k in layout.integers(0, 20, n)]),
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    }


def _embeddings(rng, n: int) -> dict:
    """Unit vectors and labels from the layout; the seed flips the sign of
    whole dimensions, which leaves every dot product bit-identical."""
    layout = np.random.default_rng(LAYOUT_SEED)
    vecs = layout.standard_normal((n, EMBED_DIM))
    vecs = vecs / np.linalg.norm(vecs, axis=1, keepdims=True)
    vecs = (vecs * rng.choice([-1.0, 1.0], EMBED_DIM)).astype(np.float32)
    return {
        "vec_id": np.arange(n, dtype=np.int64),
        "embedding": pa.FixedSizeListArray.from_arrays(
            pa.array(vecs.ravel()), EMBED_DIM).cast(pa.list_(pa.float32())),
        "label": layout.integers(0, 10, n).astype(np.int32),
    }


def generate(out_dir: str, seed: int, sf: float) -> None:
    """Write the ten tables at scale factor ``sf`` under ``out_dir``."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(seed)
    n_cust, n_supp, n_part = int(150_000 * sf), max(int(10_000 * sf), 10), int(200_000 * sf)
    n_ord, n_li = int(1_500_000 * sf), int(6_000_000 * sf)
    n_ev, n_users = int(1_000_000 * sf), max(int(15_000 * sf), 10)
    n_doc, n_vec = int(50_000 * sf), int(20_000 * sf)

    _write(out_dir, "region", {
        "r_regionkey": np.arange(5, dtype=np.int32), "r_name": list(REGIONS)})
    _write(out_dir, "nation", {
        "n_nationkey": np.arange(25, dtype=np.int32),
        "n_name": [f"NATION_{k}" for k in range(25)],
        "n_regionkey": (np.arange(25) % 5).astype(np.int32)})
    _write(out_dir, "customer", {
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{k:09d}" for k in range(n_cust)],
        "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": _pick(rng, SEGMENTS, n_cust)})
    _write(out_dir, "supplier", {
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{k:09d}" for k in range(n_supp)],
        "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp)})
    _write(out_dir, "part", {
        "p_partkey": np.arange(n_part, dtype=np.int64),
        "p_name": [f"{a} {b}" for a, b in zip(_pick(rng, PART_ADJ, n_part),
                                              _pick(rng, PART_NOUN, n_part))],
        "p_brand": [f"Brand#{k}" for k in rng.integers(1, 26, n_part)],
        "p_type": _pick(rng, PART_TYPES, n_part),
        "p_size": rng.integers(1, 51, n_part).astype(np.int32),
        "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) / 10.0, 1)})
    _write(out_dir, "orders", {
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord),
        "o_orderstatus": _pick(rng, ("F", "O", "P"), n_ord),
        "o_totalprice": _money(rng, 1000.0, 500_000.0, n_ord),
        "o_orderdate": _days("1995-01-01", "2001-08-01", rng, n_ord),
        "o_orderpriority": _pick(rng, PRIORITIES, n_ord)})
    _write(out_dir, "lineitem", {
        "l_orderkey": rng.integers(0, n_ord, n_li),
        "l_partkey": rng.integers(0, n_part, n_li),
        "l_suppkey": rng.integers(0, n_supp, n_li),
        "l_linenumber": rng.integers(1, 8, n_li).astype(np.int32),
        "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 105_000.0, n_li),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": _pick(rng, ("A", "N", "R"), n_li),
        "l_linestatus": _pick(rng, ("F", "O"), n_li),
        "l_shipdate": _days("1995-01-02", "2001-11-04", rng, n_li)})
    start = np.datetime64("2024-01-01T00:00:00", "us")
    offsets = np.sort(rng.integers(0, 30 * 86_400_000_000, n_ev))
    _write(out_dir, "events", {
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": start + offsets.astype("timedelta64[us]"),
        "user_id": rng.integers(0, n_users, n_ev),
        "event_type": _pick(rng, EVENT_TYPES, n_ev),
        "value": np.round(rng.exponential(50.0, n_ev), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]})
    _write(out_dir, "documents", _documents(rng, n_doc))
    _write(out_dir, "embeddings", _embeddings(rng, n_vec))

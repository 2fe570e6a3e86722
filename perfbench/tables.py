"""Seeded generator for the ten query tables the registered queries read.

The query workloads (``graph_iterative``, ``analytics_mix``) call
``registry.QUERIES[qid](spark, sf_dir)``, and every query reads the
fixed table set ``region nation supplier customer part orders lineitem
events documents embeddings`` from ``sf_dir/<table>.parquet``. The
benchmark writes that directory itself, so it needs nothing outside
its own checkout. Schemas, physical types and value domains follow
FIXTURES.md: 0-based dense keys, two-decimal money, midnight
timestamps for orders/lineitem, ``timestamp[us]`` event times in file
order, unit-normalised 64-dim float embeddings and a document corpus
with near-duplicates (``<text> dup``) and a few exact duplicates.

The tables are a pure function of ``(sf, seed)``: the expected query
hashes in ``expected.json`` are computed on ``TABLE_SF`` / ``TABLE_SEED``.
"""

from __future__ import annotations

import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLE_SF = 0.01
TABLE_SEED = 42

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_ADJ = ["small", "large", "red", "blue", "hot", "cold", "old", "new"]
PART_NOUN = ["ring", "widget", "bolt", "plate", "gear", "rod", "anvil", "spring"]
PART_TYPES = ["ECONOMY", "PROMO", "LARGE", "MEDIUM", "STANDARD", "SMALL"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "view", "signup", "purchase", "error"]
LANGS = ["en", "fr", "es", "zh", "de"]
LANG_P = [0.4, 0.15, 0.15, 0.15, 0.15]
VOCAB = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
EMBEDDING_DIM = 64


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _days(rng: np.random.Generator, first: str, last: str, n: int) -> pa.Array:
    lo = np.datetime64(first, "D")
    span = int((np.datetime64(last, "D") - lo).astype(int)) + 1
    days = lo + rng.integers(0, span, n).astype("timedelta64[D]")
    return pa.array(days.astype("datetime64[us]"), pa.timestamp("us"))


def _pick(rng: np.random.Generator, values: list[str], n: int, p=None) -> pa.Array:
    return pa.array(np.asarray(values, dtype=object)[rng.choice(len(values), n, p=p)])


def _documents(rng: np.random.Generator, n: int) -> list[str]:
    texts: list[str] = []
    for i in range(n):
        r = rng.random()
        if i > 10 and r < 0.05:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        elif i > 10 and r < 0.052:
            texts.append(texts[int(rng.integers(0, i))])
        else:
            words = rng.choice(len(VOCAB), int(rng.integers(10, 101)))
            texts.append(" ".join(VOCAB[w] for w in words))
    return texts


def build_tables(sf: float, seed: int) -> dict[str, pa.Table]:
    """All ten tables at scale ``sf`` (sf1 ≙ 6M lineitem rows)."""
    rng = np.random.default_rng(seed)
    n_supp = max(10, int(10_000 * sf))
    n_cust = max(150, int(150_000 * sf))
    n_part = max(200, int(200_000 * sf))
    n_ord = max(1_500, int(1_500_000 * sf))
    n_line = 4 * n_ord
    n_ev = max(1_000, int(1_000_000 * sf))
    n_users = max(15, int(15_000 * sf))
    n_docs = max(500, int(50_000 * sf))
    n_vec = max(500, int(20_000 * sf))

    t: dict[str, pa.Table] = {}
    t["region"] = pa.table(
        {
            "r_regionkey": pa.array(range(5), pa.int32()),
            "r_name": REGIONS,
        }
    )
    t["nation"] = pa.table(
        {
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        }
    )
    t["supplier"] = pa.table(
        {
            "s_suppkey": np.arange(n_supp, dtype=np.int64),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
            "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
        }
    )
    t["customer"] = pa.table(
        {
            "c_custkey": np.arange(n_cust, dtype=np.int64),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
            "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
            "c_mktsegment": _pick(rng, SEGMENTS, n_cust),
        }
    )
    adj = rng.integers(0, len(PART_ADJ), n_part)
    noun = rng.integers(0, len(PART_NOUN), n_part)
    t["part"] = pa.table(
        {
            "p_partkey": np.arange(n_part, dtype=np.int64),
            "p_name": [f"{PART_ADJ[a]} {PART_NOUN[b]}" for a, b in zip(adj, noun)],
            "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
            "p_type": _pick(rng, PART_TYPES, n_part),
            "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
            "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) / 10.0, 2),
        }
    )
    t["orders"] = pa.table(
        {
            "o_orderkey": np.arange(n_ord, dtype=np.int64),
            "o_custkey": rng.integers(0, n_cust, n_ord),
            "o_orderstatus": _pick(rng, ["F", "O", "P"], n_ord),
            "o_totalprice": _money(rng, 1000.0, 500_000.0, n_ord),
            "o_orderdate": _days(rng, "1995-01-01", "2001-08-01", n_ord),
            "o_orderpriority": _pick(rng, PRIORITIES, n_ord),
        }
    )
    # lines land on random orders; (l_orderkey, l_linenumber) stays unique
    okey = np.sort(rng.integers(0, n_ord, n_line))
    first = np.searchsorted(okey, okey, side="left")
    t["lineitem"] = pa.table(
        {
            "l_orderkey": okey,
            "l_partkey": rng.integers(0, n_part, n_line),
            "l_suppkey": rng.integers(0, n_supp, n_line),
            "l_linenumber": pa.array(np.arange(n_line) - first + 1, pa.int32()),
            "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
            "l_extendedprice": _money(rng, 900.0, 105_000.0, n_line),
            "l_discount": rng.integers(0, 11, n_line) / 100.0,
            "l_tax": rng.integers(0, 9, n_line) / 100.0,
            "l_returnflag": _pick(rng, ["A", "N", "R"], n_line),
            "l_linestatus": _pick(rng, ["F", "O"], n_line),
            "l_shipdate": _days(rng, "1995-01-02", "2001-11-04", n_line),
        }
    )
    start = np.datetime64("2024-01-01T00:00:00", "us")
    span_us = 30 * 86_400 * 1_000_000
    ts = start + np.sort(rng.integers(0, span_us, n_ev)).astype("timedelta64[us]")
    t["events"] = pa.table(
        {
            "event_id": np.arange(n_ev, dtype=np.int64),
            "ts": pa.array(ts, pa.timestamp("us")),
            "user_id": rng.integers(0, n_users, n_ev),
            "event_type": _pick(rng, EVENT_TYPES, n_ev),
            "value": np.round(rng.exponential(50.0, n_ev), 2),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
        }
    )
    texts = _documents(rng, n_docs)
    t["documents"] = pa.table(
        {
            "doc_id": np.arange(n_docs, dtype=np.int64),
            "text": texts,
            "lang": _pick(rng, LANGS, n_docs, p=LANG_P),
            "source": [f"src{s}" for s in rng.integers(0, 20, n_docs)],
            "n_chars": np.array([len(x) for x in texts], dtype=np.int64),
        }
    )
    vec = rng.standard_normal((n_vec, EMBEDDING_DIM))
    vec = (vec / np.linalg.norm(vec, axis=1, keepdims=True)).astype(np.float32)
    t["embeddings"] = pa.table(
        {
            "vec_id": np.arange(n_vec, dtype=np.int64),
            "embedding": pa.array(list(vec), pa.list_(pa.float32())),
            "label": pa.array(rng.integers(0, 10, n_vec), pa.int32()),
        }
    )
    return t


def write_tables(out_dir: str, sf: float = TABLE_SF, seed: int = TABLE_SEED) -> str:
    """Write ``out_dir/<table>.parquet`` once; a ``_DONE`` marker makes
    later calls (and later runs in the same checkout) reuse the files."""
    done = os.path.join(out_dir, "_DONE")
    if os.path.exists(done):
        return out_dir
    os.makedirs(out_dir, exist_ok=True)
    for name, table in build_tables(sf, seed).items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
    with open(done, "w") as fh:
        fh.write(f"sf={sf} seed={seed} at {dt.datetime.now(dt.timezone.utc).isoformat()}\n")
    return out_dir

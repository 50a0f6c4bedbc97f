"""Seeded input generation for the benchmark.

Two kinds of input:

- ``write_tables`` writes the ten parquet tables the registered queries read
  (a TPC-H-like star schema plus ``events``, ``documents`` and
  ``embeddings``), with the same schemas and value distributions as the
  project's sf0.01 test fixtures. The curation workload reads these. They are generated from a fixed seed, so every run measures the same
  tables and ``minhash_dedup_pairs`` (which has no oracle) can be pinned by
  row count.
- ``directory_listing`` is the ``mapreduce`` workload's input: a synthetic
  directory listing, the input of the reference ``Search`` client, with
  Zipf-skewed name tokens. It is generated from the run's ``--seed``.
"""

from __future__ import annotations

import datetime as dt
from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLE_SEED = 42

# sf0.01 row counts; documents and embeddings keep the fixture's 500 rows
ROWS = {
    "customer": 1_500,
    "supplier": 100,
    "part": 2_000,
    "orders": 15_000,
    "lineitem": 60_000,
    "events": 10_000,
    "documents": 500,
    "embeddings": 500,
}
EVENT_USERS = 150
EMBEDDING_DIM = 64

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
DOC_VOCAB = (
    "a agg batch big column customer data fast filter group hash join key line "
    "merge order part query row scan slow small sort spark stream table the "
    "value vector window"
).split()
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.4, 0.15, 0.15, 0.15, 0.15]
N_SOURCES = 20
DUP_SHARE = 0.05

ORDER_EPOCH = dt.datetime(1995, 1, 1)
SHIP_EPOCH = dt.datetime(1995, 1, 2)
EVENT_EPOCH = dt.datetime(2024, 1, 1)
TS = pa.timestamp("us")


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    """Uniform amounts with two decimals, as the fixtures store them."""
    return rng.integers(round(lo * 100), round(hi * 100) + 1, n) / 100.0


def _days(epoch: dt.datetime, offsets: np.ndarray) -> pa.Array:
    base = np.datetime64(epoch, "us")
    return pa.array(base + offsets.astype("timedelta64[D]"), TS)


def _pick(rng: np.random.Generator, values: list[str], n: int, p=None) -> list[str]:
    return [values[i] for i in rng.choice(len(values), n, p=p)]


def build_tables() -> dict[str, pa.Table]:
    rng = np.random.default_rng(TABLE_SEED)
    n = ROWS
    tables: dict[str, pa.Table] = {}
    tables["region"] = pa.table(
        {"r_regionkey": pa.array(range(5), pa.int32()), "r_name": REGIONS}
    )
    tables["nation"] = pa.table(
        {
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        }
    )
    tables["customer"] = pa.table(
        {
            "c_custkey": np.arange(n["customer"], dtype=np.int64),
            "c_name": [f"Customer#{i:09d}" for i in range(n["customer"])],
            "c_nationkey": rng.integers(0, 25, n["customer"]).astype(np.int32),
            "c_acctbal": _money(rng, -999.99, 9999.99, n["customer"]),
            "c_mktsegment": _pick(rng, SEGMENTS, n["customer"]),
        }
    )
    tables["supplier"] = pa.table(
        {
            "s_suppkey": np.arange(n["supplier"], dtype=np.int64),
            "s_name": [f"Supplier#{i:09d}" for i in range(n["supplier"])],
            "s_nationkey": rng.integers(0, 25, n["supplier"]).astype(np.int32),
            "s_acctbal": _money(rng, -999.99, 9999.99, n["supplier"]),
        }
    )
    n_part = n["part"]
    tables["part"] = pa.table(
        {
            "p_partkey": np.arange(n_part, dtype=np.int64),
            "p_name": [
                f"{PART_ADJ[a]} {PART_NOUN[b]}"
                for a, b in zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))
            ],
            "p_brand": [f"Brand#{k}" for k in rng.integers(1, 26, n_part)],
            "p_type": _pick(rng, PART_TYPES, n_part),
            "p_size": rng.integers(1, 51, n_part).astype(np.int32),
            "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) / 10.0, 1),
        }
    )
    n_ord = n["orders"]
    tables["orders"] = pa.table(
        {
            "o_orderkey": np.arange(n_ord, dtype=np.int64),
            "o_custkey": rng.integers(0, n["customer"], n_ord),
            "o_orderstatus": _pick(rng, ["F", "O", "P"], n_ord),
            "o_totalprice": _money(rng, 1000.0, 500000.0, n_ord),
            "o_orderdate": _days(ORDER_EPOCH, rng.integers(0, 2404, n_ord)),
            "o_orderpriority": _pick(rng, PRIORITIES, n_ord),
        }
    )
    n_li = n["lineitem"]
    tables["lineitem"] = pa.table(
        {
            "l_orderkey": rng.integers(0, n_ord, n_li),
            "l_partkey": rng.integers(0, n_part, n_li),
            "l_suppkey": rng.integers(0, n["supplier"], n_li),
            "l_linenumber": rng.integers(1, 8, n_li).astype(np.int32),
            "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
            "l_extendedprice": _money(rng, 900.0, 105000.0, n_li),
            "l_discount": rng.integers(0, 11, n_li) / 100.0,
            "l_tax": rng.integers(0, 9, n_li) / 100.0,
            "l_returnflag": _pick(rng, ["A", "N", "R"], n_li),
            "l_linestatus": _pick(rng, ["F", "O"], n_li),
            "l_shipdate": _days(SHIP_EPOCH, rng.integers(0, 2499, n_li)),
        }
    )
    n_ev = n["events"]
    # arrivals spread over 30 days, strictly increasing, microsecond resolution
    span_us = 30 * 86_400 * 1_000_000
    offsets = np.sort(rng.choice(span_us, n_ev, replace=False))
    tables["events"] = pa.table(
        {
            "event_id": np.arange(n_ev, dtype=np.int64),
            "ts": pa.array(np.datetime64(EVENT_EPOCH, "us") + offsets.astype("timedelta64[us]"), TS),
            "user_id": rng.integers(0, EVENT_USERS, n_ev),
            "event_type": _pick(rng, EVENT_TYPES, n_ev),
            "value": np.maximum(np.round(rng.exponential(50.0, n_ev), 2), 0.01),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
        }
    )
    tables["documents"] = _documents(rng, n["documents"])
    n_emb = n["embeddings"]
    vec = rng.standard_normal((n_emb, EMBEDDING_DIM)).astype(np.float32)
    vec /= np.linalg.norm(vec, axis=1, keepdims=True)
    tables["embeddings"] = pa.table(
        {
            "vec_id": np.arange(n_emb, dtype=np.int64),
            "embedding": pa.array(list(vec), pa.list_(pa.float32())),
            "label": rng.integers(0, 10, n_emb).astype(np.int32),
        }
    )
    return tables


def _documents(rng: np.random.Generator, n_docs: int) -> pa.Table:
    """Random-word documents; a share of them copy an earlier document's text
    and append `` dup``, so the dedup queries have near-duplicates to find."""
    texts: list[str] = []
    for i in range(n_docs):
        if i > 10 and rng.random() < DUP_SHARE:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            words = rng.choice(len(DOC_VOCAB), int(rng.integers(10, 101)))
            texts.append(" ".join(DOC_VOCAB[w] for w in words))
    return pa.table(
        {
            "doc_id": np.arange(n_docs, dtype=np.int64),
            "text": texts,
            "lang": _pick(rng, LANGS, n_docs, p=LANG_P),
            "source": [f"src{i % N_SOURCES}" for i in range(n_docs)],
            "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
        }
    )


def write_tables(out_dir: Path) -> Path:
    out_dir.mkdir(parents=True, exist_ok=True)
    for name, table in build_tables().items():
        pq.write_table(table, out_dir / f"{name}.parquet")
    return out_dir


# --- mapreduce workload input -------------------------------------------------

N_FILES = 50_000
N_DIRS = 400
N_TOKENS = 300
ZIPF_A = 1.3
SEARCH_TOKEN = "tok3"


def directory_listing(seed: int) -> dict[str, np.ndarray]:
    """A listing of ``N_FILES`` files in ``N_DIRS`` directories. Each file
    name joins three tokens drawn from a Zipf law over ``N_TOKENS`` tokens,
    so a few tokens are hot keys for the word count. Directory sizes are
    uniform, so the search job has many small groups."""
    rng = np.random.default_rng(seed)
    dirs = rng.integers(0, N_DIRS, N_FILES)
    toks = (rng.zipf(ZIPF_A, (N_FILES, 3)) - 1) % N_TOKENS
    names = np.array(
        [f"tok{a}_tok{b}_tok{c}.dat" for a, b, c in toks], dtype=object
    )
    return {
        "dir": np.array([f"/data/d{d:05d}" for d in dirs], dtype=object),
        "name": names,
    }

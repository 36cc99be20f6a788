"""Seeded synthetic copies of the engine's query tables.

The registry's queries read ten parquet tables (``region nation
customer supplier part orders lineitem events documents embeddings``,
FIXTURES.md §A).  ``write_tables`` generates all ten from a seed at a
given scale factor, so the benchmark reads no data from outside its
own working directory.  The seven TPC-H-style tables and ``events``
reproduce the repo's fixture tables: schema (timestamps stored as
microseconds), row counts, keys and value domains (uniform keys,
``NATION_<i>`` names, price, date and timestamp ranges, category
shares); ``tests/test_perfbench.py`` checks them against the fixture
tables when those are present.

The curation corpus (``documents`` + ``embeddings``) is sized
separately: documents are base texts plus seeded near-duplicates
(word substitutions, insertions, deletions and a ``dup`` marker, the
property dedup operators depend on), and embeddings are unit vectors
drawn around seeded cluster centres, labelled with their cluster.
"""

from __future__ import annotations

import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["de", "en", "es", "fr", "zh"]
LANG_SHARE = [0.14, 0.44, 0.14, 0.14, 0.14]
VOCAB = (
    "a agg batch big column customer data fast filter group hash join key line merge "
    "order part query row scan slow small sort spark stream table the value vector window"
).split()
TABLES = ("region", "nation", "customer", "supplier", "part", "orders", "lineitem", "events", "documents", "embeddings")


def _write(path: str, table: pa.Table) -> None:
    # one row group per file, like the fixture tables
    pq.write_table(table, path, row_group_size=max(1, table.num_rows))


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _days(rng: np.random.Generator, start: str, span: int, n: int) -> pa.Array:
    base = np.datetime64(start, "us")
    offs = rng.integers(0, span, n).astype("timedelta64[D]").astype("timedelta64[us]")
    return pa.array(base + offs, pa.timestamp("us"))


def corpus(rng: np.random.Generator, n_docs: int, near_dup_share: float) -> dict:
    """Documents: base texts plus near-duplicates made by seeded edits
    of an earlier document; ``near_dup_share`` of all rows are edits."""
    texts: list[str] = []
    n_base = max(1, int(round(n_docs * (1 - near_dup_share))))
    for _ in range(n_base):
        n = int(rng.integers(8, 90))
        texts.append(" ".join(VOCAB[i] for i in rng.integers(0, len(VOCAB), n)))
    order = rng.permutation(n_docs)
    for _ in range(n_docs - n_base):
        words = texts[int(rng.integers(0, n_base))].split()
        for _ in range(int(rng.integers(1, 4))):
            op = rng.random()
            pos = int(rng.integers(0, len(words)))
            if op < 0.4:
                words[pos] = VOCAB[int(rng.integers(0, len(VOCAB)))]
            elif op < 0.7:
                words.insert(pos, VOCAB[int(rng.integers(0, len(VOCAB)))])
            elif len(words) > 8:
                del words[pos]
        if rng.random() < 0.5:
            words.append("dup")
        texts.append(" ".join(words))
    texts = [texts[i] for i in order]  # duplicates scattered among bases
    return {
        "doc_id": pa.array(np.arange(n_docs), pa.int64()),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array([LANGS[i] for i in rng.choice(len(LANGS), n_docs, p=LANG_SHARE)], pa.string()),
        "source": pa.array([f"src{i % 20}" for i in range(n_docs)], pa.string()),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    }


def clustered_embeddings(rng: np.random.Generator, n: int, dim: int = 64, k: int = 10) -> dict:
    """Unit vectors around ``k`` seeded centres; ``label`` is the centre."""
    centres = rng.normal(size=(k, dim))
    centres /= np.linalg.norm(centres, axis=1, keepdims=True)
    labels = rng.integers(0, k, n)
    x = centres[labels] + rng.normal(scale=0.12, size=(n, dim))
    x = (x / np.linalg.norm(x, axis=1, keepdims=True)).astype(np.float32)
    return {
        "vec_id": pa.array(np.arange(n), pa.int64()),
        "embedding": pa.array(list(x), pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32()),
    }


def write_tables(
    out_dir: str,
    seed: int,
    sf: float,
    n_docs: int | None = None,
    n_vecs: int | None = None,
    near_dup_share: float = 0.3,
) -> None:
    """Write all ten tables for ``seed`` at scale ``sf``."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(seed % 2**63)
    n_cust, n_supp, n_part = int(150_000 * sf), max(10, int(10_000 * sf)), int(200_000 * sf)
    n_ord = int(1_500_000 * sf)
    n_li, n_ev = 4 * n_ord, int(1_000_000 * sf)
    n_docs = n_docs if n_docs is not None else int(50_000 * sf)
    n_vecs = n_vecs if n_vecs is not None else int(20_000 * sf)
    t: dict[str, dict] = {}
    t["region"] = {"r_regionkey": pa.array(range(5), pa.int32()), "r_name": REGIONS}
    t["nation"] = {
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    }
    t["customer"] = {
        "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": [SEGMENTS[i] for i in rng.integers(0, 5, n_cust)],
    }
    t["supplier"] = {
        "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
    }
    t["part"] = {
        "p_partkey": pa.array(np.arange(n_part), pa.int64()),
        "p_name": [f"{PART_ADJ[a]} {PART_NOUN[b]}" for a, b in zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))],
        "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, n_part)],
        "p_type": [PART_TYPES[i] for i in rng.integers(0, 6, n_part)],
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900 + (np.arange(n_part) % 1000) * 0.1, 2),
    }
    t["orders"] = {
        "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": [("F", "O", "P")[i] for i in rng.integers(0, 3, n_ord)],
        "o_totalprice": _money(rng, 1000, 500000, n_ord),
        "o_orderdate": _days(rng, "1995-01-01", 2405, n_ord),
        "o_orderpriority": [PRIORITIES[i] for i in rng.integers(0, 5, n_ord)],
    }
    t["lineitem"] = {
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_li), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_part, n_li), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_li), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n_li), pa.int32()),
        "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
        "l_extendedprice": _money(rng, 900, 105000, n_li),
        "l_discount": _money(rng, 0, 0.10, n_li),
        "l_tax": _money(rng, 0, 0.08, n_li),
        "l_returnflag": [("A", "N", "R")[i] for i in rng.integers(0, 3, n_li)],
        "l_linestatus": [("F", "O")[i] for i in rng.integers(0, 2, n_li)],
        "l_shipdate": _days(rng, "1995-01-02", 2499, n_li),
    }
    start_us = int(dt.datetime(2024, 1, 1).timestamp() * 1_000_000)
    ts_us = np.sort(rng.integers(start_us, start_us + 30 * 86_400_000_000, n_ev))
    t["events"] = {
        "event_id": pa.array(np.arange(n_ev), pa.int64()),
        "ts": pa.array(ts_us, pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, max(10, int(15_000 * sf)), n_ev), pa.int64()),
        "event_type": [EVENT_TYPES[i] for i in rng.integers(0, 5, n_ev)],
        "value": np.round(rng.exponential(50, n_ev), 2),
        "props": [f'{{"k": {i}}}' for i in rng.integers(0, 100, n_ev)],
    }
    t["documents"] = corpus(rng, n_docs, near_dup_share)
    t["embeddings"] = clustered_embeddings(rng, n_vecs)
    for name in TABLES:
        _write(os.path.join(out_dir, f"{name}.parquet"), pa.table(t[name]))

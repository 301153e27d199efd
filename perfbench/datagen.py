"""Deterministic generator for the benchmark's input tables.

The engine's operators read ten parquet tables (``session.TABLES``). The
benchmark cannot rely on a fixture directory outside its checkout, so it
writes its own: the same schemas, key relationships and value domains as
the TPC-H-like fixture the operators were built against (FIXTURES.md),
one single-row-group parquet file per table.

The data seed is fixed (``DATA_SEED``): every run at one scale reads the
same bytes, so run-to-run spread comes from the host, not the data. The
workload seed (``--seed``) only picks call order and query literals.
"""

from __future__ import annotations

import os
import shutil

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

DATA_SEED = 42
TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)
#: Bumped whenever the generated bytes change, so stale caches rebuild.
VERSION = 1

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
LANGS = ["de", "en", "es", "fr", "zh"]
LANG_P = [0.14, 0.41, 0.15, 0.15, 0.15]
EMBED_DIM = 64


def _dates(rng, n, start, end):
    days = (pd.Timestamp(end) - pd.Timestamp(start)).days
    off = rng.integers(0, days + 1, n)
    return (np.datetime64(start, "us") + off.astype("timedelta64[D]")).astype("datetime64[us]")


def _write(df: pd.DataFrame, path: str) -> None:
    table = pa.Table.from_pandas(df, preserve_index=False)
    pq.write_table(table, path, row_group_size=max(len(df), 1))


def _frames(sf: float) -> dict[str, pd.DataFrame]:
    rng = np.random.default_rng(DATA_SEED)
    n_cust = int(round(150_000 * sf))
    n_supp = int(round(10_000 * sf))
    n_part = int(round(200_000 * sf))
    n_ord = int(round(1_500_000 * sf))
    n_li = int(round(6_000_000 * sf))
    n_ev = int(round(1_000_000 * sf))
    n_users = max(n_cust // 10, 15)
    n_docs = 5000 if sf >= 0.1 else 500
    n_vec = 2000 if sf >= 0.1 else 500
    out: dict[str, pd.DataFrame] = {}

    out["region"] = pd.DataFrame(
        {"r_regionkey": np.arange(5, dtype=np.int32), "r_name": REGIONS}
    )
    nk = np.arange(25, dtype=np.int32)
    out["nation"] = pd.DataFrame(
        {"n_nationkey": nk, "n_name": [f"NATION_{i}" for i in nk], "n_regionkey": nk % 5}
    )
    ck = np.arange(n_cust, dtype=np.int64)
    out["customer"] = pd.DataFrame({
        "c_custkey": ck,
        "c_name": [f"Customer#{i:09d}" for i in ck],
        "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_cust), 2),
        "c_mktsegment": rng.choice(SEGMENTS, n_cust),
    })
    sk = np.arange(n_supp, dtype=np.int64)
    out["supplier"] = pd.DataFrame({
        "s_suppkey": sk,
        "s_name": [f"Supplier#{i:09d}" for i in sk],
        "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
        "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_supp), 2),
    })
    pk = np.arange(n_part, dtype=np.int64)
    names = np.array([f"{a} {n}" for a in PART_ADJ for n in PART_NOUN])
    out["part"] = pd.DataFrame({
        "p_partkey": pk,
        "p_name": names[rng.integers(0, len(names), n_part)],
        "p_brand": np.array([f"Brand#{i}" for i in range(1, 26)])[rng.integers(0, 25, n_part)],
        "p_type": rng.choice(PART_TYPES, n_part),
        "p_size": rng.integers(1, 51, n_part).astype(np.int32),
        "p_retailprice": np.round(900 + (pk % 1000) / 10, 2),
    })
    ok = np.arange(n_ord, dtype=np.int64)
    out["orders"] = pd.DataFrame({
        "o_orderkey": ok,
        "o_custkey": rng.integers(0, n_cust, n_ord).astype(np.int64),
        "o_orderstatus": rng.choice(["F", "O", "P"], n_ord),
        "o_totalprice": np.round(rng.uniform(1000, 500_000, n_ord), 2),
        "o_orderdate": _dates(rng, n_ord, "1995-01-01", "2001-08-01"),
        "o_orderpriority": rng.choice(PRIORITIES, n_ord),
    })
    out["lineitem"] = pd.DataFrame({
        "l_orderkey": rng.integers(0, n_ord, n_li).astype(np.int64),
        "l_partkey": rng.integers(0, n_part, n_li).astype(np.int64),
        "l_suppkey": rng.integers(0, n_supp, n_li).astype(np.int64),
        "l_linenumber": rng.integers(1, 8, n_li).astype(np.int32),
        "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
        "l_extendedprice": np.round(rng.uniform(900, 105_000, n_li), 2),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": rng.choice(["A", "N", "R"], n_li),
        "l_linestatus": rng.choice(["F", "O"], n_li),
        "l_shipdate": _dates(rng, n_li, "1995-01-02", "2001-11-04"),
    })
    span_us = 30 * 86_400 * 1_000_000
    ts = np.sort(rng.integers(0, span_us, n_ev))
    out["events"] = pd.DataFrame({
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": np.datetime64("2024-01-01", "us") + ts.astype("timedelta64[us]"),
        "user_id": rng.integers(0, n_users, n_ev).astype(np.int64),
        "event_type": rng.choice(EVENT_TYPES, n_ev),
        "value": np.round(rng.exponential(50.0, n_ev), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
    })
    # Documents: word soup over a 30-word vocabulary; the last 5% are
    # exact copies of an earlier text plus a trailing "dup" token, so
    # near-duplicate operators have real clusters to find.
    vocab = np.array(VOCAB)
    n_dup = n_docs // 20
    texts = [
        " ".join(vocab[rng.integers(0, len(vocab), rng.integers(10, 101))])
        for _ in range(n_docs - n_dup)
    ]
    src = rng.integers(0, len(texts), n_dup)
    texts += [texts[i] + " dup" for i in src]
    order = rng.permutation(n_docs)
    texts = [texts[i] for i in order]
    did = np.arange(n_docs, dtype=np.int64)
    out["documents"] = pd.DataFrame({
        "doc_id": did,
        "text": texts,
        "lang": rng.choice(LANGS, n_docs, p=LANG_P),
        "source": [f"src{i % 20}" for i in did],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })
    labels = rng.integers(0, 10, n_vec)
    centroids = rng.normal(0, 1, (10, EMBED_DIM))
    centroids /= np.linalg.norm(centroids, axis=1, keepdims=True)
    vecs = rng.normal(0, 1, (n_vec, EMBED_DIM)) / np.sqrt(EMBED_DIM)
    vecs += 0.07 * centroids[labels]
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    vecs = vecs.astype(np.float32)
    out["embeddings"] = pd.DataFrame({
        "vec_id": np.arange(n_vec, dtype=np.int64),
        "embedding": list(vecs),
        "label": labels.astype(np.int32),
    })
    return out


def ensure(cache_root: str, sf: float) -> str:
    """Return a directory holding the ten tables at ``sf``, generating
    them on first use. Generation writes to a private directory and
    renames it into place, so concurrent runs never read a half-written
    table set."""
    final = os.path.join(cache_root, f"sf{sf:g}-v{VERSION}")
    if all(os.path.exists(os.path.join(final, f"{t}.parquet")) for t in TABLES):
        return final
    os.makedirs(cache_root, exist_ok=True)
    tmp = f"{final}.tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    for name, df in _frames(sf).items():
        _write(df, os.path.join(tmp, f"{name}.parquet"))
    try:
        os.rename(tmp, final)
    except OSError:  # another run won the race; its copy is identical
        shutil.rmtree(tmp, ignore_errors=True)
    return final

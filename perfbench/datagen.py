"""Seeded synthetic inputs in the layout of the engine's sf test tables.

``events`` is the span source (one user = one trace, one event_type = one
service); ``documents`` and ``embeddings`` feed the datapipe lines of the
registry list; the TPC-H tables are one-row placeholders so the DuckDB
oracle harness can bind every table view it declares. The same seed
always gives byte-identical tables.
"""

from __future__ import annotations

import json
from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

EVENT_TYPES = ("click", "view", "purchase", "signup", "error")
T0_US = 1_704_067_200_000_000  # 2024-01-01 00:00:00 UTC
SPAN_US = 30 * 86_400 * 1_000_000
WORDS = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window lakehouse"
).split()
LANGS = ("en", "en", "zh", "es", "fr", "de")

_PLACEHOLDERS = {
    "region": {"r_regionkey": [0], "r_name": ["r"]},
    "nation": {"n_nationkey": [0], "n_name": ["n"], "n_regionkey": [0]},
    "customer": {"c_custkey": [0], "c_name": ["c"], "c_nationkey": [0],
                 "c_acctbal": [0.0], "c_mktsegment": ["m"]},
    "supplier": {"s_suppkey": [0], "s_name": ["s"], "s_nationkey": [0],
                 "s_acctbal": [0.0]},
    "part": {"p_partkey": [0], "p_name": ["p"], "p_brand": ["b"],
             "p_type": ["t"], "p_size": [0], "p_retailprice": [0.0]},
    "orders": {"o_orderkey": [0], "o_custkey": [0], "o_orderstatus": ["o"],
               "o_totalprice": [0.0], "o_orderdate": ["2024-01-01"],
               "o_orderpriority": ["1"]},
    "lineitem": {"l_orderkey": [0], "l_partkey": [0], "l_suppkey": [0],
                 "l_linenumber": [0], "l_quantity": [0.0],
                 "l_extendedprice": [0.0], "l_discount": [0.0],
                 "l_tax": [0.0], "l_returnflag": ["r"], "l_linestatus": ["l"],
                 "l_shipdate": ["2024-01-01"]},
}


def events_table(seed: int, n_events: int, n_users: int) -> pa.Table:
    """Events over 30 days of January 2024; every user id in
    [0, n_users) appears at least once, so there are exactly n_users
    traces."""
    rng = np.random.default_rng([seed, 1])
    users = np.concatenate(
        [np.arange(n_users), rng.integers(0, n_users, n_events - n_users)]
    )
    rng.shuffle(users)
    ts = np.sort(T0_US + rng.integers(0, SPAN_US, n_events))
    types = np.array(EVENT_TYPES)[rng.integers(0, len(EVENT_TYPES), n_events)]
    value = np.round(rng.exponential(50.0, n_events), 2)
    props = [json.dumps({"k": int(k)}) for k in rng.integers(0, 100, n_events)]
    return pa.table({
        "event_id": pa.array(np.arange(n_events, dtype=np.int64)),
        "ts": pa.array(ts, type=pa.timestamp("us")),
        "user_id": pa.array(users.astype(np.int64)),
        "event_type": pa.array(types.tolist()),
        "value": pa.array(value),
        "props": pa.array(props),
    })


def documents_table(seed: int, n_docs: int) -> pa.Table:
    """Word-salad documents; about a fifth are exact or one-word-edited
    copies of earlier ones so the dedup stages find real duplicates."""
    rng = np.random.default_rng([seed, 2])
    texts: list[str] = []
    for i in range(n_docs):
        if i > 10 and rng.random() < 0.2:
            words = texts[int(rng.integers(0, i))].split()
            if rng.random() < 0.5:
                words[int(rng.integers(0, len(words)))] = WORDS[int(rng.integers(0, len(WORDS)))]
            texts.append(" ".join(words))
        else:
            n = int(rng.integers(8, 90))
            texts.append(" ".join(WORDS[j] for j in rng.integers(0, len(WORDS), n)))
    return pa.table({
        "doc_id": pa.array(np.arange(n_docs, dtype=np.int64)),
        "text": pa.array(texts),
        "lang": pa.array([LANGS[j] for j in rng.integers(0, len(LANGS), n_docs)]),
        "source": pa.array([f"src{i % 20}" for i in range(n_docs)]),
        "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
    })


def embeddings_table(seed: int, n_vecs: int, dim: int = 64, labels: int = 10) -> pa.Table:
    """Unit vectors scattered around one centroid per label."""
    rng = np.random.default_rng([seed, 3])
    centroids = rng.normal(size=(labels, dim))
    label = rng.integers(0, labels, n_vecs).astype(np.int32)
    vecs = centroids[label] + rng.normal(scale=0.8, size=(n_vecs, dim))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    return pa.table({
        "vec_id": pa.array(np.arange(n_vecs, dtype=np.int64)),
        "embedding": pa.array(list(vecs), type=pa.list_(pa.float32())),
        "label": pa.array(label),
    })


def write_tables(out_dir: Path, seed: int, n_events: int, n_users: int,
                 n_docs: int = 0, n_vecs: int = 0) -> Path:
    """Write one parquet file per table under ``out_dir`` (an sf-style
    directory the registry queries and the oracle harness both read)."""
    out_dir.mkdir(parents=True, exist_ok=True)
    pq.write_table(events_table(seed, n_events, n_users), out_dir / "events.parquet")
    if n_docs:
        pq.write_table(documents_table(seed, n_docs), out_dir / "documents.parquet")
    if n_vecs:
        pq.write_table(embeddings_table(seed, n_vecs), out_dir / "embeddings.parquet")
    for name, cols in _PLACEHOLDERS.items():
        pq.write_table(pa.table(cols), out_dir / f"{name}.parquet")
    return out_dir

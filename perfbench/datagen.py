"""Seeded input generators for the benchmark workloads.

Pure numpy + pyarrow, so making the inputs starts no Spark job and the
program under test only ever sees finished parquet files. The same seed
always writes the same bytes.
"""

from __future__ import annotations

import hashlib
import os
from datetime import datetime

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Parquet row groups per generated fact table. Spark splits a file scan
# along row groups, so a single-group file would scan on one core.
ROW_GROUPS = 8


def _write(table: pa.Table, path: str) -> str:
    rows_per_group = max(1, -(-table.num_rows // ROW_GROUPS))
    pq.write_table(table, path, row_group_size=rows_per_group)
    return path


def write_zipf_join_inputs(
    out_dir: str,
    seed: int,
    n_left: int,
    n_keys: int = 5000,
    exponent: float = 12.0,
    hot_keys: int = 10,
    fanout: int = 8,
) -> dict[str, str]:
    """Left: ``n_left`` rows with ``k = floor(u**exponent * n_keys) + 1``
    for uniform ``u``, so key 1 holds a ``(1/n_keys)**(1/exponent)`` share
    of the rows (0.49 at the defaults). Right: one row per key, with keys
    ``1..hot_keys`` repeated ``fanout`` times, so both sides are hot."""
    rng = np.random.default_rng(seed)
    k = np.floor(rng.random(n_left) ** exponent * n_keys).astype(np.int64) + 1
    left = pa.table({"k": k, "v": np.arange(n_left, dtype=np.int64)})
    rk = np.concatenate(
        [np.arange(1, n_keys + 1, dtype=np.int64)]
        + [np.arange(1, hot_keys + 1, dtype=np.int64)] * (fanout - 1)
    )
    payload = [hashlib.md5(f"{key}:{i}".encode()).hexdigest() for i, key in enumerate(rk)]
    right = pa.table({"k": rk, "payload": pa.array(payload, pa.string())})
    os.makedirs(out_dir, exist_ok=True)
    return {
        "left": _write(left, os.path.join(out_dir, "left.parquet")),
        "right": _write(right, os.path.join(out_dir, "right.parquet")),
    }


# The document vocabulary and shape follow the repository's documents
# fixture: ~30 short words, 10-100 words per doc, 20 sources, and 5% of
# docs a near-duplicate of an earlier doc (its text plus " dup").
VOCAB = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
LANGS = ("en", "zh", "es", "fr", "de")
LANG_P = (0.41, 0.15, 0.15, 0.15, 0.14)
N_SOURCES = 20
NEAR_DUP_SHARE = 0.05


def _documents(n_docs: int, seed: int) -> pa.Table:
    rng = np.random.default_rng(seed)
    texts: list[str] = []
    for i in range(n_docs):
        if i >= 20 and rng.random() < NEAR_DUP_SHARE:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
            continue
        n_words = int(rng.integers(10, 101))
        texts.append(" ".join(VOCAB[j] for j in rng.integers(0, len(VOCAB), n_words)))
    ids = np.arange(n_docs, dtype=np.int64)
    return pa.table(
        {
            "doc_id": ids,
            "text": pa.array(texts, pa.string()),
            "lang": pa.array(
                [LANGS[j] for j in rng.choice(len(LANGS), n_docs, p=LANG_P)], pa.string()
            ),
            "source": pa.array([f"src{i % N_SOURCES}" for i in range(n_docs)], pa.string()),
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )


def _stub_tables() -> dict[str, pa.Table]:
    """One-row tables with the schemas ``sources.tables.load_tables``
    expects, for the tables the document workload never reads."""
    ts = pa.array([datetime(2024, 1, 1)], pa.timestamp("us"))
    return {
        "region": pa.table({"r_regionkey": pa.array([0], pa.int32()), "r_name": ["AFRICA"]}),
        "nation": pa.table(
            {
                "n_nationkey": pa.array([0], pa.int32()),
                "n_name": ["NATION_0"],
                "n_regionkey": pa.array([0], pa.int32()),
            }
        ),
        "customer": pa.table(
            {
                "c_custkey": pa.array([0], pa.int64()),
                "c_name": ["Customer#0"],
                "c_nationkey": pa.array([0], pa.int32()),
                "c_acctbal": [0.0],
                "c_mktsegment": ["BUILDING"],
            }
        ),
        "supplier": pa.table(
            {
                "s_suppkey": pa.array([0], pa.int64()),
                "s_name": ["Supplier#0"],
                "s_nationkey": pa.array([0], pa.int32()),
                "s_acctbal": [0.0],
            }
        ),
        "part": pa.table(
            {
                "p_partkey": pa.array([0], pa.int64()),
                "p_name": ["red bolt"],
                "p_brand": ["Brand#1"],
                "p_type": ["SMALL"],
                "p_size": pa.array([1], pa.int32()),
                "p_retailprice": [900.0],
            }
        ),
        "orders": pa.table(
            {
                "o_orderkey": pa.array([0], pa.int64()),
                "o_custkey": pa.array([0], pa.int64()),
                "o_orderstatus": ["O"],
                "o_totalprice": [1.0],
                "o_orderdate": ts,
                "o_orderpriority": ["1-URGENT"],
            }
        ),
        "lineitem": pa.table(
            {
                "l_orderkey": pa.array([0], pa.int64()),
                "l_partkey": pa.array([0], pa.int64()),
                "l_suppkey": pa.array([0], pa.int64()),
                "l_linenumber": pa.array([1], pa.int32()),
                "l_quantity": [1.0],
                "l_extendedprice": [1.0],
                "l_discount": [0.0],
                "l_tax": [0.0],
                "l_returnflag": ["N"],
                "l_linestatus": ["O"],
                "l_shipdate": ts,
            }
        ),
        "events": pa.table(
            {
                "event_id": pa.array([0], pa.int64()),
                "ts": ts,
                "user_id": pa.array([0], pa.int64()),
                "event_type": ["view"],
                "value": [1.0],
                "props": ['{"k": 1}'],
            }
        ),
        "embeddings": pa.table(
            {
                "vec_id": pa.array([0], pa.int64()),
                "embedding": pa.array([[0.0] * 8], pa.list_(pa.float32())),
                "label": pa.array([0], pa.int32()),
            }
        ),
    }


def write_doc_tables(sf_dir: str, n_docs: int, seed: int) -> str:
    """A table directory in the layout ``load_tables`` reads: the
    generated ``documents`` table plus one-row stubs for the rest."""
    os.makedirs(sf_dir, exist_ok=True)
    _write(_documents(n_docs, seed), os.path.join(sf_dir, "documents.parquet"))
    for name, table in _stub_tables().items():
        pq.write_table(table, os.path.join(sf_dir, f"{name}.parquet"))
    return sf_dir

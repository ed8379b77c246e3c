"""Seeded tables for the headline operator queries.

Writes the six tables the 13 ``bench.py`` headline queries read, with the
schemas of the TPC-H-ish test data (TESTDATA.md): ``customer``, ``orders``,
``lineitem``, ``documents``, ``embeddings`` and ``events``. ``scale`` plays
the role of the scale factor (lineitem has about ``6e6 * scale`` rows). The
same seed gives the same tables.
"""

from __future__ import annotations

from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = (
    "row the query stream fast spark line small customer group value hash batch "
    "sort data big filter dup key agg scan slow table part a merge window order "
    "column join vector"
).split()
SEGMENTS = ("HOUSEHOLD", "MACHINERY", "BUILDING", "AUTOMOBILE", "FURNITURE")
EVENT_TYPES = ("click", "signup", "error", "view", "purchase")
LANGS = ("en", "en", "en", "de", "fr", "es", "zh")


def _ts_us(days_from_epoch: np.ndarray) -> pa.Array:
    return pa.array((days_from_epoch * 86_400_000_000).astype("int64"),
                    type=pa.timestamp("us"))


def write_tables(out_dir: str | Path, seed: int, scale: float) -> dict[str, int]:
    """Write the tables as ``<out_dir>/<name>.parquet``; returns row counts."""
    rng = np.random.default_rng(seed)
    out = Path(out_dir)
    out.mkdir(parents=True, exist_ok=True)
    n_cust = max(100, int(150_000 * scale))
    n_orders = max(100, int(1_500_000 * scale))
    n_docs = max(50, int(50_000 * scale))
    n_emb = max(50, int(50_000 * scale))
    n_events = max(100, int(1_000_000 * scale))
    tables: dict[str, pa.Table] = {}

    tables["customer"] = pa.table({
        "c_custkey": np.arange(n_cust, dtype="int64"),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": rng.integers(0, 25, n_cust).astype("int32"),
        "c_acctbal": np.round(rng.uniform(-999, 9999, n_cust), 2),
        "c_mktsegment": rng.choice(SEGMENTS, n_cust),
    })

    epoch_1995 = 9131  # 1995-01-01 in days since 1970-01-01
    tables["orders"] = pa.table({
        "o_orderkey": np.arange(n_orders, dtype="int64"),
        "o_custkey": rng.integers(0, n_cust, n_orders).astype("int64"),
        "o_orderstatus": rng.choice(("O", "F", "P"), n_orders),
        "o_totalprice": np.round(rng.uniform(1000, 500_000, n_orders), 2),
        "o_orderdate": _ts_us(epoch_1995 + rng.integers(0, 2400, n_orders)),
        "o_orderpriority": rng.choice(
            ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"), n_orders),
    })

    lines_per_order = rng.integers(1, 8, n_orders)
    n_lines = int(lines_per_order.sum())
    order_of_line = np.repeat(np.arange(n_orders, dtype="int64"), lines_per_order)
    starts = np.repeat(np.cumsum(lines_per_order) - lines_per_order, lines_per_order)
    linenumber = (np.arange(n_lines) - starts + 1).astype("int32")
    quantity = rng.integers(1, 51, n_lines).astype("float64")
    tables["lineitem"] = pa.table({
        "l_orderkey": order_of_line,
        "l_partkey": rng.integers(0, max(200, int(200_000 * scale)), n_lines).astype("int64"),
        "l_suppkey": rng.integers(0, 100, n_lines).astype("int64"),
        "l_linenumber": linenumber,
        "l_quantity": quantity,
        "l_extendedprice": np.round(quantity * rng.uniform(900, 2100, n_lines), 2),
        "l_discount": np.round(rng.integers(0, 11, n_lines) / 100.0, 2),
        "l_tax": np.round(rng.integers(0, 9, n_lines) / 100.0, 2),
        "l_returnflag": rng.choice(("A", "N", "R"), n_lines),
        "l_linestatus": rng.choice(("O", "F"), n_lines),
        "l_shipdate": _ts_us(epoch_1995 + rng.integers(1, 2500, n_lines)),
    })

    texts = []
    for _ in range(n_docs):
        words = rng.choice(VOCAB, int(rng.integers(8, 100)))
        texts.append(" ".join(words))
    tables["documents"] = pa.table({
        "doc_id": np.arange(n_docs, dtype="int64"),
        "text": texts,
        "lang": rng.choice(LANGS, n_docs),
        "source": [f"src{i}" for i in rng.integers(0, 20, n_docs)],
        "n_chars": np.array([len(t) for t in texts], dtype="int64"),
    })

    centers = rng.normal(0, 1, (10, 64))
    labels = rng.integers(0, 10, n_emb)
    vecs = (centers[labels] + rng.normal(0, 1.5, (n_emb, 64))) * 0.05
    tables["embeddings"] = pa.table({
        "vec_id": np.arange(n_emb, dtype="int64"),
        "embedding": pa.array(list(vecs.astype("float32")), type=pa.list_(pa.float32())),
        "label": labels.astype("int32"),
    })

    span_us = 30 * 86_400_000_000
    ts = np.sort(rng.integers(0, span_us, n_events)) + 19723 * 86_400_000_000
    tables["events"] = pa.table({
        "event_id": np.arange(n_events, dtype="int64"),
        "ts": pa.array(ts.astype("int64"), type=pa.timestamp("us")),
        "user_id": rng.integers(0, n_cust, n_events).astype("int64"),
        "event_type": rng.choice(EVENT_TYPES, n_events),
        "value": np.round(rng.exponential(50, n_events) + 0.01, 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_events)],
    })

    for name, table in tables.items():
        pq.write_table(table, out / f"{name}.parquet")
    return {name: t.num_rows for name, t in tables.items()}

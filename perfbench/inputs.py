"""Deterministic benchmark inputs, generated inside the checkout.

The benchmark reads nothing outside its checkout, so instead of reading the
fixture tables it generates tables with their schemas and value domains
(FIXTURES.md section A) from fixed numpy seeds:

- ``events``: 100k rows shaped like the sf0.1 events table. Each event is
  replayed as the reference's socket wire line ``channel,user,text``
  (``channel <- event_type``, ``user <- user_id``, ``text <- props``, the
  mapping of ``sparksent.tables.messages`` and ``parse.to_raw_lines``).
  The workload seed picks the contiguous event-id slice that is replayed.
- ``documents``, ``embeddings`` and ``lineitem`` at about sf0.01 size for
  the registry queries. These never depend on the workload seed, so the
  expected oracle digests in ``digests.json`` stay valid; the seed only
  picks the query order.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

EVENT_ROWS = 100_000
EVENT_TYPES = ("view", "click", "purchase", "signup", "error")
EVENT_USERS = 1500
EPOCH_2024_US = 1_704_067_200_000_000  # 2024-01-01T00:00:00Z
EVENT_SPAN_US = 30 * 86_400 * 1_000_000  # the fixture's 30 days

# The documents fixture's 31-token vocabulary (FIXTURES.md, sparksent/nlp.py).
VOCAB = (
    "a agg batch big column customer data filter group hash join key line "
    "merge order part query row scan slow small sort spark stream table the "
    "value vector window fast dup"
).split()


def _events(rng: np.random.Generator) -> dict[str, np.ndarray]:
    ids = np.arange(EVENT_ROWS, dtype=np.int64)
    ts = EPOCH_2024_US + np.sort(rng.integers(0, EVENT_SPAN_US, EVENT_ROWS))
    return {
        "event_id": ids,
        "ts": ts,
        "user_id": rng.integers(0, EVENT_USERS, EVENT_ROWS),
        "event_type": rng.integers(0, len(EVENT_TYPES), EVENT_ROWS),
        "k": rng.integers(0, 100, EVENT_ROWS),
    }


def event_lines(seed: int, n_lines: int) -> pa.Table:
    """The replayed slice: ``n_lines`` consecutive events as wire lines.

    Columns ``line``, ``ts`` (UTC microseconds) and ``event_id`` are the
    ``(line, ts, event_id)`` surface every sparksent source produces."""
    ev = _events(np.random.default_rng(42))
    lo = int(np.random.default_rng(seed).integers(0, EVENT_ROWS - n_lines + 1))
    sl = slice(lo, lo + n_lines)
    lines = [
        f'{EVENT_TYPES[t]},{u},{{"k": {k}}}'
        for t, u, k in zip(ev["event_type"][sl], ev["user_id"][sl], ev["k"][sl])
    ]
    return pa.table(
        {
            "line": pa.array(lines, pa.string()),
            "ts": pa.array(ev["ts"][sl], pa.timestamp("us", tz="UTC")),
            "event_id": pa.array(ev["event_id"][sl], pa.int64()),
        }
    )


def write_chunks(table: pa.Table, out_dir: str, rows_per_file: int) -> list[str]:
    """Split ``table`` into contiguous flat parquet files of
    ``rows_per_file`` rows, in event order: the file-per-trigger replay
    layout of ``streaming.sources.write_replay_chunks``."""
    os.makedirs(out_dir, exist_ok=True)
    paths = []
    for i, lo in enumerate(range(0, table.num_rows, rows_per_file)):
        path = os.path.join(out_dir, f"chunk_{i:05d}.parquet")
        pq.write_table(table.slice(lo, rows_per_file), path)
        paths.append(path)
    return paths


def _documents(rng: np.random.Generator, n: int = 500) -> pa.Table:
    texts = []
    for i in range(n):
        if i >= 20 and rng.random() < 0.08:
            # near-duplicate of an earlier document: a few tokens edited
            words = texts[int(rng.integers(0, i))].split()
            for j in rng.integers(0, len(words), max(1, len(words) // 20)):
                words[j] = VOCAB[int(rng.integers(0, len(VOCAB)))]
        else:
            n_words = int(rng.integers(8, 90))
            words = [VOCAB[j] for j in rng.integers(0, len(VOCAB), n_words)]
        texts.append(" ".join(words))
    return pa.table(
        {
            "doc_id": pa.array(np.arange(n), pa.int64()),
            "text": pa.array(texts, pa.string()),
            "lang": pa.array(
                [("en", "es", "de", "fr", "zh")[j] for j in rng.integers(0, 5, n)]
            ),
            "source": pa.array([f"src{i % 20}" for i in range(n)]),
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )


def _embeddings(rng: np.random.Generator, n: int = 1000, dim: int = 64) -> pa.Table:
    labels = rng.integers(0, 10, n)
    centers = rng.normal(size=(10, dim))
    vecs = (centers[labels] + 0.6 * rng.normal(size=(n, dim))).astype(np.float32)
    return pa.table(
        {
            "vec_id": pa.array(np.arange(n), pa.int64()),
            "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
            "label": pa.array(labels, pa.int32()),
        }
    )


def _lineitem(rng: np.random.Generator, n_orders: int = 15_000) -> pa.Table:
    per_order = rng.integers(1, 8, n_orders)
    n = int(per_order.sum())
    orderkey = np.repeat(np.arange(1, n_orders + 1), per_order)
    linenumber = np.concatenate([np.arange(1, k + 1) for k in per_order])
    quantity = rng.integers(1, 51, n).astype(np.float64)
    price = np.round(quantity * rng.uniform(900, 2000, n), 2)
    ship = np.datetime64("1995-01-01") + rng.integers(0, 6 * 365, n).astype("timedelta64[D]")
    return pa.table(
        {
            "l_orderkey": pa.array(orderkey, pa.int64()),
            "l_partkey": pa.array(rng.integers(1, 2001, n), pa.int64()),
            "l_suppkey": pa.array(rng.integers(1, 101, n), pa.int64()),
            "l_linenumber": pa.array(linenumber, pa.int32()),
            "l_quantity": pa.array(quantity),
            "l_extendedprice": pa.array(price),
            "l_discount": pa.array(rng.integers(0, 11, n) / 100.0),
            "l_tax": pa.array(rng.integers(0, 9, n) / 100.0),
            "l_returnflag": pa.array([("N", "A", "R")[j] for j in rng.integers(0, 3, n)]),
            "l_linestatus": pa.array([("O", "F")[j] for j in rng.integers(0, 2, n)]),
            "l_shipdate": pa.array(ship.astype("datetime64[ms]"), pa.timestamp("ms")),
        }
    )


REGISTRY_TABLES = {"documents": _documents, "embeddings": _embeddings, "lineitem": _lineitem}


def write_registry_tables(out_dir: str) -> None:
    """One parquet file per table, named as ``tables.load_table`` expects."""
    os.makedirs(out_dir, exist_ok=True)
    for i, (name, make) in enumerate(sorted(REGISTRY_TABLES.items())):
        pq.write_table(make(np.random.default_rng(1000 + i)), os.path.join(out_dir, f"{name}.parquet"))

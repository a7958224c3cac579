"""Seeded benchmark inputs: the same seed writes byte-identical parquet.

Every generator is pure numpy + pyarrow (no Spark), so inputs exist
before the engine starts and the engine sees only these files.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

EPOCH_S = 1_704_067_200  # 2024-01-01T00:00:00Z
SOURCES = np.array(["web", "books", "code", "wiki", "forum"])
EVENT_TYPES = np.array(["click", "view", "purchase", "signup", "error"])


def _write(tbl: pa.Table, path: str) -> str:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(tbl, path, row_group_size=1_048_576, compression="snappy")
    return path


def events(path: str, seed: int, n_rows: int = 100_000, n_users: int = 1_500,
           days: int = 30) -> str:
    """The contract ``events`` table at the sf0.1 shape: uniform users,
    five event types, exponential values with two decimals, and
    time-ordered ``event_id``s over ``days`` days from 2024-01-01."""
    rng = np.random.default_rng([seed, 1])
    gaps = rng.exponential(1.0, n_rows)
    us = np.cumsum(gaps) / gaps.sum() * (days * 86_400 - 1) * 1_000_000
    tbl = pa.table({
        "event_id": pa.array(np.arange(n_rows, dtype=np.int64)),
        "ts": pa.array(EPOCH_S * 1_000_000 + us.astype(np.int64),
                       type=pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, n_users, n_rows, dtype=np.int64)),
        "event_type": pa.array(EVENT_TYPES[rng.integers(0, 5, n_rows)]),
        "value": pa.array(np.round(rng.exponential(50.0, n_rows), 2)),
        "props": pa.array(
            np.char.add(np.char.add('{"k": ', rng.integers(0, 100, n_rows).astype("U2")), "}")
        ),
    })
    return _write(tbl, path)


def token_facts(path: str, seed: int, n_rows: int, n_docs: int, day_lo: int,
                day_hi: int, seq_start: int = 0, zipf_a: float = 1.2) -> str:
    """Token facts in ``sources.benchgen``'s shape without the token
    arrays: Zipf-skewed ``doc_id``, ``n_tok`` in 1..8, five sources,
    ``event_time`` uniform in [day_lo, day_hi) days after 2024-01-01
    and ``seq`` numbered from ``seq_start``."""
    rng = np.random.default_rng([seed, 2, seq_start])
    doc_idx = (rng.zipf(zipf_a, n_rows) - 1) % n_docs
    secs = rng.integers(day_lo * 86_400, day_hi * 86_400, n_rows, dtype=np.int64)
    tbl = pa.table({
        "doc_id": pa.array(np.char.add("doc_", doc_idx.astype("U7"))),
        "n_tok": pa.array(rng.integers(1, 9, n_rows).astype(np.int32)),
        "source": pa.array(SOURCES[rng.integers(0, len(SOURCES), n_rows)]),
        "event_time": pa.array((EPOCH_S + secs) * 1_000_000, type=pa.timestamp("us")),
        "seq": pa.array(np.arange(seq_start, seq_start + n_rows, dtype=np.int64)),
    })
    return _write(tbl, path)

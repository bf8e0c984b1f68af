"""Seeded input generator for the benchmark.

Everything the program reads is written here from ``--seed`` alone: the
same seed gives identical inputs. Two input sets exist:

- ``log``: the ``events`` table as an append-only event log, split into
  several parquet files in offset (``event_id``) order. Its schema and
  event-type mix follow the engine's ``events`` test table (five types
  at ~20% each, ``ts`` as microsecond ``TIMESTAMP_NTZ`` rising with the
  offset, ``props`` a small JSON payload). ``value`` holds whole numbers
  so every SUM compares exactly across engines.
- ``documents``: the ``documents`` table in the shape the registry's
  corpus queries read (``doc_id``, ``text``, ``lang``, ``source``,
  ``n_chars``), one parquet file.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

EVENT_TYPES = ("click", "error", "purchase", "signup", "view")
N_USERS = 1500
TS_START_US = 1_704_067_200_000_000  # 2024-01-01 00:00:00
MEAN_GAP_US = 2_000_000

WORDS = (
    "a the data spark stream table row column key value query join filter "
    "group agg sort hash scan batch window merge part line order customer "
    "vector fast slow big small"
).split()
LANGS = ("en", "en", "de", "es", "fr", "zh")


def _rng(seed: int, stream: str) -> np.random.Generator:
    """One independent generator per (seed, stream): adding a table never
    shifts the values of another."""
    return np.random.default_rng([seed, *stream.encode()])


def _ts(micros: np.ndarray) -> pa.Array:
    return pa.array(micros, type=pa.int64()).cast(pa.timestamp("us"))


def event_columns(seed: int, n: int) -> dict[str, np.ndarray]:
    """The log's columns as numpy arrays (``ts`` in epoch microseconds)."""
    rng = _rng(seed, "events")
    gaps = rng.integers(1, 2 * MEAN_GAP_US, size=n, dtype=np.int64)
    return {
        "event_id": np.arange(n, dtype=np.int64),
        "ts": TS_START_US + np.cumsum(gaps),
        "user_id": rng.integers(0, N_USERS, size=n, dtype=np.int64),
        "event_type": rng.integers(0, len(EVENT_TYPES), size=n, dtype=np.int8),
        "value": np.floor(rng.exponential(50.0, size=n)),
        "k": rng.integers(0, 100, size=n, dtype=np.int64),
    }


def write_log(out_dir: str, seed: int, n_events: int, file_events: int) -> str:
    """Write ``events.parquet/part-NNNNN.parquet`` under ``out_dir``, each
    file a contiguous offset range. Returns the table directory."""
    cols = event_columns(seed, n_events)
    table_dir = os.path.join(out_dir, "events.parquet")
    os.makedirs(table_dir, exist_ok=True)
    types = pa.array(EVENT_TYPES)
    for i, lo in enumerate(range(0, n_events, file_events)):
        hi = min(n_events, lo + file_events)
        part = pa.table(
            {
                "event_id": cols["event_id"][lo:hi],
                "ts": _ts(cols["ts"][lo:hi]),
                "user_id": cols["user_id"][lo:hi],
                "event_type": types.take(pa.array(cols["event_type"][lo:hi])),
                "value": cols["value"][lo:hi],
                "props": pa.array([f'{{"k": {k}}}' for k in cols["k"][lo:hi]]),
            }
        )
        pq.write_table(part, os.path.join(table_dir, f"part-{i:05d}.parquet"))
    return table_dir


def _documents(seed: int, n: int) -> pa.Table:
    """Whitespace-token documents over a small vocabulary; one in ten is a
    near-duplicate (one token changed) of an earlier document, so the
    dedup stages have real pairs to find."""
    rng = _rng(seed, "documents")
    words = np.array(WORDS)
    texts: list[str] = []
    for i in range(n):
        if i >= 10 and rng.random() < 0.1:
            toks = texts[int(rng.integers(0, i))].split(" ")
            toks[int(rng.integers(0, len(toks)))] = str(words[rng.integers(0, len(words))])
        else:
            toks = list(words[rng.integers(0, len(words), size=int(rng.integers(8, 90)))])
        texts.append(" ".join(toks))
    return pa.table(
        {
            "doc_id": np.arange(n, dtype=np.int64),
            "text": texts,
            "lang": [LANGS[j] for j in rng.integers(0, len(LANGS), size=n)],
            "source": [f"src{j}" for j in rng.integers(0, 20, size=n)],
            "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
        }
    )


def write_documents(out_dir: str, seed: int, n_docs: int) -> None:
    """Write ``documents.parquet`` under ``out_dir``."""
    os.makedirs(out_dir, exist_ok=True)
    pq.write_table(_documents(seed, n_docs), os.path.join(out_dir, "documents.parquet"))


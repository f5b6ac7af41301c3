"""Seeded input generator for the benchmark.

Produces the two source tables the engine's streaming and read paths
consume, shaped like the sf0.1 test corpus (same schema, same value
distributions), from ``--seed`` alone:

- ``events``: ``event_id`` dense from 0, ``ts`` as microsecond
  TIMESTAMP (no zone) with exponential gaps, ``user_id`` uniform over
  ``n_users`` accounts, five event types uniformly, ``value`` exponential
  with mean 50 rounded to cents, ``props`` = ``{"k": 0..99}``.
- ``documents``: tokens drawn uniformly from a 30-word vocabulary,
  10-100 tokens per document; 5 % are near-duplicates (an existing
  document plus a trailing ``dup`` token, placed before or after the
  original) and a handful are exact copies.

Everything is written with pyarrow only: staging through Spark writes
varied by seconds from run to run and sat inside the timed region.
The engine sees only the files; it never learns the seed.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

EVENT_TYPES = np.array(["click", "error", "purchase", "signup", "view"])
VOCAB = np.array(
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch".split()
)
LANGS = np.array(["en", "zh", "de", "fr", "es"])
LANG_P = np.array([0.41, 0.15, 0.14, 0.15, 0.15])


def events_table(rng: np.random.Generator, n_events: int, n_users: int) -> pa.Table:
    gaps = rng.exponential(25_900_000.0, n_events).astype(np.int64) + 1
    ts = 1_704_067_200_000_000 + np.cumsum(gaps)
    # every account appears at least once, so n_users = max(user_id) + 1
    # holds for the generated input as it does for the test corpus
    users = rng.integers(0, n_users, n_events)
    users[rng.choice(n_events, n_users, replace=False)] = np.arange(n_users)
    ks = rng.integers(0, 100, n_events)
    return pa.table(
        {
            "event_id": pa.array(np.arange(n_events, dtype=np.int64)),
            "ts": pa.array(ts, type=pa.timestamp("us")),
            "user_id": pa.array(users.astype(np.int64)),
            "event_type": pa.array(EVENT_TYPES[rng.integers(0, 5, n_events)]),
            "value": pa.array(np.round(rng.exponential(50.0, n_events), 2)),
            "props": pa.array([f'{{"k": {k}}}' for k in ks.tolist()]),
        }
    )


def documents_table(rng: np.random.Generator, n_docs: int) -> pa.Table:
    texts = [
        " ".join(VOCAB[rng.integers(0, len(VOCAB), rng.integers(10, 101))])
        for _ in range(n_docs)
    ]
    ids = rng.permutation(n_docs)
    n_near = n_docs // 20
    n_exact = max(1, n_docs // 600)
    # disjoint (original, copy) pairs: copies never chain onto copies
    for orig, copy in ids[: 2 * n_near].reshape(-1, 2):
        texts[copy] = texts[orig] + " dup"
    for orig, copy in ids[2 * n_near : 2 * (n_near + n_exact)].reshape(-1, 2):
        texts[copy] = texts[orig]
    doc_ids = np.arange(n_docs, dtype=np.int64)
    return pa.table(
        {
            "doc_id": pa.array(doc_ids),
            "text": pa.array(texts),
            "lang": pa.array(LANGS[rng.choice(5, n_docs, p=LANG_P)]),
            "source": pa.array([f"src{i % 20}" for i in range(n_docs)]),
            "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
        }
    )


def write_table(table: pa.Table, path: str) -> None:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(table, path)


def split_by_rows(
    table: pa.Table, out_dir: str, rows_per_file: int, prefix: str = "part"
) -> list[str]:
    """Write ``table`` as consecutive ``rows_per_file`` slices, one parquet
    file each, named in order; returns the paths. With the file source's
    ``maxFilesPerTrigger=1`` each file becomes one micro-batch."""
    os.makedirs(out_dir, exist_ok=True)
    paths = []
    for i, lo in enumerate(range(0, table.num_rows, rows_per_file)):
        path = os.path.join(out_dir, f"{prefix}-{i:05d}.parquet")
        pq.write_table(table.slice(lo, rows_per_file), path)
        paths.append(path)
    return paths


def n_users_of(table: pa.Table) -> int:
    """The account-universe size the streaming ingest needs up front,
    derived from the generated input itself."""
    return int(pc.max(table["user_id"]).as_py()) + 1

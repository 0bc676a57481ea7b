"""Seeded batch inputs that mirror the columns and statistics of the
repository's sf0.1 test tables, written as one Parquet file per table:

- events: event_id, ts (timestamp[us], ascending over 30 days), user_id
  (1,500 users per 100,000 events), event_type (5 kinds, uniform), value
  (2 decimals, exponential around 50), props ('{"k": n}')
- documents: doc_id, text (10-100 words, uniform, from a 30-word
  vocabulary; 5% of the documents after the first 11 are an earlier
  document plus the word "dup", as in sf0.1: 250 of 5,000), lang (41% en,
  the rest spread over 4 others), source (20, round robin), n_chars

At sf0.1 sizes (100,000 events, 5,000 documents) the shapes match the
test tables: the weather aggregate has 3,600 groups, and the MinHash dedup
finds the planted pairs.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

EVENT_TYPES = ("view", "click", "purchase", "signup", "error")
VOCAB = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
LANGS = ("en", "zh", "es", "fr", "de")
LANG_P = (0.41, 0.15, 0.15, 0.15, 0.14)
T0_US = 1_704_067_200_000_000  # 2024-01-01 00:00:00 UTC
SPAN_US = 30 * 86_400 * 1_000_000


def events(rng: np.random.Generator, n: int, users: int) -> pa.Table:
    ts = np.sort(T0_US + rng.integers(0, SPAN_US, n))
    return pa.table(
        {
            "event_id": pa.array(np.arange(n, dtype=np.int64)),
            "ts": pa.array(ts, type=pa.timestamp("us")),
            "user_id": pa.array(rng.integers(0, users, n, dtype=np.int64)),
            "event_type": pa.array(
                [EVENT_TYPES[i] for i in rng.integers(0, 5, n)]
            ),
            "value": pa.array(np.round(rng.exponential(50.0, n), 2)),
            "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n)]),
        }
    )


def documents(rng: np.random.Generator, n: int) -> pa.Table:
    texts: list[str] = []
    for i in range(n):
        if i > 10 and rng.random() < 0.05:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
            continue
        words = rng.integers(0, len(VOCAB), int(rng.integers(10, 101)))
        texts.append(" ".join(VOCAB[w] for w in words))
    return pa.table(
        {
            "doc_id": pa.array(np.arange(n, dtype=np.int64)),
            "text": pa.array(texts),
            "lang": pa.array([LANGS[i] for i in rng.choice(5, n, p=LANG_P)]),
            "source": pa.array([f"src{i % 20}" for i in range(n)]),
            "n_chars": pa.array([len(t) for t in texts], type=pa.int64()),
        }
    )


def write_tables(out_dir: str, seed: int, n_events: int, n_docs: int) -> None:
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng([seed, 23])
    # Documents go in row groups of 250, so the DuckDB oracle check spreads
    # its per-document MinHash work over every core (9 s instead of 18 s at
    # 5,000 documents). Spark reads the 0.7 MB file as one split either way.
    for name, table, row_group in (
        ("events", events(rng, n_events, users=max(10, n_events * 3 // 200)), None),
        ("documents", documents(rng, n_docs), 250),
    ):
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"), row_group_size=row_group)

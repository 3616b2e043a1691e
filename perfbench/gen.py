"""Seeded synthetic inputs for the benchmark, written as parquet in the
shape of the repository's `events` and `documents` fixtures.

The same seed always gives the same files. Event times never decrease.
Gaps between them are exponential with the mean gap of the sf0.1
`events` fixture (25.92 s), so, as there, about 2% of neighbouring
events share a whole second.
"""
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

N_EVENTS = 100_000
N_USERS = 1_500
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
N_DOCS = 5_000
LANGS = ["de", "en", "es", "fr", "zh"]
VOCAB = ("a agg batch big column customer data fast filter group hash join key line "
         "order part query scan slow small sort spark stream table the value vector "
         "window").split()


def events_table(seed: int) -> pa.Table:
    rng = np.random.default_rng([seed, 1])
    gaps_s = rng.exponential(25.92, N_EVENTS)
    start_s = 1_704_067_200 + rng.uniform(0.0, 60.0)  # 2024-01-01 UTC
    ts_us = np.round((start_s + np.cumsum(gaps_s)) * 1e6).astype(np.int64)
    return pa.table({
        "event_id": pa.array(np.arange(N_EVENTS, dtype=np.int64)),
        "ts": pa.array(ts_us, type=pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, N_USERS, N_EVENTS, dtype=np.int64)),
        "event_type": pa.array(np.array(EVENT_TYPES)[rng.integers(0, 5, N_EVENTS)]),
        "value": pa.array(np.round(rng.exponential(50.0, N_EVENTS), 2)),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, N_EVENTS)]),
    })


def documents_table(seed: int) -> pa.Table:
    rng = np.random.default_rng([seed, 2])
    vocab = np.array(VOCAB)
    texts = []
    for i in range(N_DOCS):
        if i > 0 and rng.random() < 0.2:
            # near-duplicate of an earlier document: a few words replaced
            words = texts[rng.integers(0, i)].split(" ")
            for j in rng.integers(0, len(words), 1 + len(words) // 20):
                words[j] = vocab[rng.integers(0, len(vocab))]
        else:
            words = list(vocab[rng.integers(0, len(vocab), rng.integers(8, 90))])
        texts.append(" ".join(words))
    return pa.table({
        "doc_id": pa.array(np.arange(N_DOCS, dtype=np.int64)),
        "text": pa.array(texts),
        "lang": pa.array(np.array(LANGS)[rng.integers(0, len(LANGS), N_DOCS)]),
        "source": pa.array([f"src{k}" for k in rng.integers(0, 20, N_DOCS)]),
        "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
    })


def write_tables(out_dir: str, seed: int, documents: bool) -> None:
    os.makedirs(out_dir, exist_ok=True)
    pq.write_table(events_table(seed), os.path.join(out_dir, "events.parquet"))
    if documents:
        pq.write_table(documents_table(seed), os.path.join(out_dir, "documents.parquet"))

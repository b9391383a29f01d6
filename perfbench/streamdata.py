"""Seeded `documents` and `events` tables for the stream_stores workload.

Same schema and size as the sf0.1 harness tables the streaming
pipelines are registered against: 5,000 documents (word-bag text over
a small vocabulary with Zipf word frequencies, five languages, twenty
sources) and 100,000 events over 30 days (1,500 users, five event
types). Written as parquet with DuckDB, so timestamps are naive
microsecond TIMESTAMPs as in the harness tables.
"""
import os
import statistics
import time

import duckdb
import numpy as np
import pandas as pd

DOCUMENTS = 5000
EVENTS = 100000
USERS = 1500
DAYS = 30
VOCAB = np.array(("spark batch stream table row column key value query filter group agg "
                  "sort hash join scan merge window part line order data vector index "
                  "fast slow big small a the of to in fresh stale dense sparse").split())
LANGS = np.array(["en", "zh", "de", "es", "fr"])
LANG_WEIGHTS = np.array([41, 15, 14, 15, 15]) / 100
EVENT_TYPES = np.array(["view", "click", "signup", "purchase", "error"])
WARM_DOCUMENTS = 200
WARM_EVENTS = 2000
REPS = 3


def documents(rng, n):
    zipf = 1.0 / np.arange(1, len(VOCAB) + 1)
    words = rng.choice(VOCAB, size=n * 60, p=zipf / zipf.sum()).reshape(n, 60)
    lengths = rng.integers(5, 61, size=n)
    text = [" ".join(w[:k]) for w, k in zip(words, lengths)]
    return pd.DataFrame({
        "doc_id": np.arange(n, dtype=np.int64),
        "text": text,
        "lang": rng.choice(LANGS, size=n, p=LANG_WEIGHTS),
        "source": [f"src{i % 20}" for i in range(n)],
        "n_chars": np.array([len(t) for t in text], dtype=np.int64),
    })


def events(rng, n):
    offsets = np.sort(rng.integers(0, DAYS * 86400 * 1_000_000, size=n))
    return pd.DataFrame({
        "event_id": np.arange(n, dtype=np.int64),
        "ts": (np.datetime64("2024-01-01T00:00:00", "us") + offsets.astype("timedelta64[us]")),
        "user_id": rng.integers(0, USERS, size=n, dtype=np.int64),
        "event_type": rng.choice(EVENT_TYPES, size=n),
        "value": np.round(rng.uniform(0, 200, size=n), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, size=n)],
    })


def write_once(sf_dir, seed, n_documents, n_events):
    os.makedirs(sf_dir, exist_ok=True)
    rng = np.random.default_rng(seed)
    con = duckdb.connect()
    for name, df in (("documents", documents(rng, n_documents)),
                     ("events", events(rng, n_events))):
        con.register("t", df)
        con.execute(f"COPY (SELECT * FROM t) TO '{sf_dir}/{name}.parquet' (FORMAT PARQUET)")
        con.unregister("t")
    con.close()


def write_tables(sf_dir, warm_dir, seed):
    """Write the tables REPS times, and a small copy that warms the JVM
    before timing; returns the median seconds."""
    secs = []
    for _ in range(REPS):
        t = time.perf_counter()
        write_once(sf_dir, seed, DOCUMENTS, EVENTS)
        write_once(warm_dir, seed + 1, WARM_DOCUMENTS, WARM_EVENTS)
        secs.append(time.perf_counter() - t)
    return statistics.median(secs)

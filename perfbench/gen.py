"""Seeded generator for the benchmark's input tables.

Writes the two parquet tables the workloads' queries read, events and
documents, with the same column names and types as the shipped sf test
tables, so the registry queries and their DuckDB oracles run unchanged on
them. The same seed and sizes give byte-identical tables.

Statistical character follows the shipped tables: events are unique,
strictly increasing microsecond timestamps over 2024-01-01..01-31 with two
-decimal values; documents are word sequences over a small vocabulary, 5%
of them a near-duplicate (an earlier text plus " dup").
"""
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

T0_US = 1_704_067_200_000_000  # 2024-01-01T00:00:00Z
DAY_US = 86_400_000_000
SPAN_US = 30 * DAY_US
EVENT_TYPES = ["click", "view", "purchase", "signup", "error"]
WORDS = ("a agg batch big column customer data fast filter group hash join "
         "key line merge order part query row scan slow small sort spark "
         "stream table the value vector window").split()
LANGS = ["en", "zh", "es", "de", "fr"]
LANG_P = [0.42, 0.15, 0.15, 0.14, 0.14]
US = pa.timestamp("us")


def _write(path, arrays, schema):
    pq.write_table(pa.Table.from_arrays(arrays, schema=schema), path,
                   compression="snappy")


def events(rng, n, users):
    ts = np.sort(rng.integers(0, SPAN_US - n, n)) + np.arange(n) + T0_US
    value = np.round(np.maximum(rng.exponential(50.0, n), 0.01), 2)
    schema = pa.schema([("event_id", pa.int64()), ("ts", US),
                        ("user_id", pa.int64()), ("event_type", pa.string()),
                        ("value", pa.float64()), ("props", pa.string())])
    return [pa.array(np.arange(n, dtype=np.int64)),
            pa.array(ts.astype("datetime64[us]"), US),
            pa.array(rng.integers(0, users, n)),
            pa.array(np.array(EVENT_TYPES)[rng.integers(0, 5, n)]),
            pa.array(value),
            pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n)])], schema


def documents(rng, n):
    texts = []
    for i in range(n):
        if i >= 20 and rng.random() < 0.05:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            texts.append(" ".join(np.array(WORDS)[
                rng.integers(0, len(WORDS), int(rng.integers(10, 100)))]))
    schema = pa.schema([("doc_id", pa.int64()), ("text", pa.string()),
                        ("lang", pa.string()), ("source", pa.string()),
                        ("n_chars", pa.int64())])
    return [pa.array(np.arange(n, dtype=np.int64)), pa.array(texts),
            pa.array(np.array(LANGS)[rng.choice(5, n, p=LANG_P)]),
            pa.array([f"src{i % 20}" for i in range(n)]),
            pa.array([len(t) for t in texts], pa.int64())], schema


def generate(out_dir, seed, n_events, n_users, n_docs):
    """Write every table into out_dir. Each table draws from its own child
    stream of `seed`, so resizing one table leaves the other unchanged."""
    os.makedirs(out_dir, exist_ok=True)
    ss = np.random.SeedSequence(seed).spawn(2)
    rng = [np.random.default_rng(s) for s in ss]
    tables = {"events": events(rng[0], n_events, n_users),
              "documents": documents(rng[1], n_docs)}
    for name, (arrays, schema) in tables.items():
        _write(os.path.join(out_dir, f"{name}.parquet"), arrays, schema)

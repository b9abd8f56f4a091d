"""Seeded benchmark inputs.

Everything a workload reads is built here from ``--seed``; the program
under test only ever sees the generated corpus or tables.

- ``narrow_corpus``: the Python-built crawl corpus (real robots.txt,
  redirects, dual domains, a hot host) at the shape the repository's
  crawl benchmarks have always used.
- ``write_query_tables``: the three tables the sentinel queries read
  (``documents``, ``events``, ``embeddings``), with the column types and
  value distributions of the repository's test tables, written as one
  parquet file each.
"""

from __future__ import annotations

import datetime as dt
import json
import os

# 48 hosts and about 750 pages, every host seeded, so round 0 starts at
# full width. A round costs about the same ~36 Spark jobs at any corpus
# size, so a small corpus keeps the run short without changing what bounds it
NARROW_CORPUS_KW = dict(n_agencies=30, n_govcms=1, n_state=2, n_sections=3,
                        pages_per_section=4, hot_hosts=1, hot_multiplier=3,
                        n_seeds=60)

# query-table sizes: 250 documents keep the near-dup oracles to seconds
# while 10,000 events give a dense 200-node link graph, so the iterative
# graph operators run the same number of rounds for every seed
QUERY_TABLE_ROWS = dict(documents=250, events=10_000, embeddings=500)

VOCAB = ("a agg batch big column customer data fast filter group hash join "
         "key line merge order part query row scan slow small sort spark "
         "stream table the value vector window").split()
LANGS = ("en", "es", "zh", "de", "fr")
LANG_P = (0.4, 0.15, 0.15, 0.15, 0.15)
EVENT_TYPES = ("click", "signup", "error", "view", "purchase")
NEAR_DUP_SHARE = 0.05
EMBED_DIM = 64


def narrow_corpus(seed: int):
    from disco_crawl_spark import corpus
    return corpus.generate(seed=seed, **NARROW_CORPUS_KW)


def query_tables(seed: int) -> dict:
    """{table name: pyarrow.Table}, a pure function of ``seed``."""
    import numpy as np
    import pyarrow as pa

    rows = QUERY_TABLE_ROWS
    rng = np.random.default_rng(seed)

    n = rows["documents"]
    texts = [" ".join(rng.choice(VOCAB, size=int(rng.integers(10, 101))))
             for _ in range(n)]
    # near-duplicates: a copy of another document plus a marker token
    for i in rng.choice(n, size=int(n * NEAR_DUP_SHARE), replace=False):
        src = int(rng.integers(0, n))
        if src != i:
            texts[i] = texts[src] + " dup"
    documents = pa.table({
        "doc_id": pa.array(np.arange(n), pa.int64()),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array(rng.choice(LANGS, size=n, p=LANG_P), pa.string()),
        "source": pa.array([f"src{k}" for k in rng.integers(0, 20, size=n)],
                           pa.string()),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })

    n = rows["events"]
    start = dt.datetime(2024, 1, 1)
    offs = np.sort(rng.uniform(0, 30 * 86400, size=n))
    events = pa.table({
        "event_id": pa.array(np.arange(n), pa.int64()),
        "ts": pa.array([start + dt.timedelta(seconds=float(s)) for s in offs],
                       pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, max(2, n * 3 // 200), size=n),
                            pa.int64()),
        "event_type": pa.array(rng.choice(EVENT_TYPES, size=n), pa.string()),
        "value": pa.array(np.round(rng.exponential(50.0, size=n), 2),
                          pa.float64()),
        "props": pa.array([json.dumps({"k": int(k)})
                           for k in rng.integers(0, 100, size=n)],
                          pa.string()),
    })

    n = rows["embeddings"]
    vec = rng.standard_normal((n, EMBED_DIM)).astype(np.float32)
    vec /= np.linalg.norm(vec, axis=1, keepdims=True)
    embeddings = pa.table({
        "vec_id": pa.array(np.arange(n), pa.int64()),
        "embedding": pa.array(list(vec), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, size=n), pa.int32()),
    })
    return {"documents": documents, "events": events,
            "embeddings": embeddings}


def write_query_tables(seed: int, out_dir: str) -> str:
    """Write the seeded tables as ``<out_dir>/<name>.parquet``."""
    import pyarrow.parquet as pq

    os.makedirs(out_dir, exist_ok=True)
    for name, table in query_tables(seed).items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
    return out_dir

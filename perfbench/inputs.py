"""Seeded inputs for the batch_llm workload.

Writes the two tables its keys read, documents and embeddings, with the
schemas, value shapes and cardinalities of the repository's fixture data:

  documents(doc_id bigint, text string, lang string, source string, n_chars bigint)
      10-100 vocabulary words per text; ~1.5% of rows are exact copies of
      another row's text (whose source is itself not a copy);
  embeddings(vec_id bigint, embedding array<float>, label int)
      64 dims in [-1, 1); ~2% of rows are near-copies of another vector
      (plus up to +-0.01 per dim).

The same seed always gives the same files. The program only reads them.
"""
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = [
    "spark", "batch", "part", "line", "column", "order", "small", "sort",
    "fast", "value", "scan", "hash", "slow", "group", "agg", "filter",
    "stream", "table", "key", "query", "window", "join", "vector", "data",
    "the", "a", "customer", "large", "index", "merge", "shuffle", "plan",
    "read", "write", "cache", "disk", "row", "page", "block", "node"]
LANGS = ["de", "en", "en", "es", "fr", "zh"]
TABLES = ["documents", "embeddings"]


def _copies(rng, n, one_in):
    """Index of the row each row copies: itself, or for ~1/one_in of rows a
    row in the first half that is not itself a copy."""
    src = rng.integers(0, max(1, n // 2), n)
    marked = rng.integers(0, one_in, n) == 0
    of = np.arange(n)
    pick = marked & ~marked[src]
    of[pick] = src[pick]
    return of


def generate(out_dir, sf, seed):
    rng = np.random.default_rng(seed)
    n_docs = max(1, round(5000 * sf / 0.1))
    n_vecs = max(1, round(2000 * sf / 0.1))

    dup = _copies(rng, n_docs, 64)
    own = [" ".join(rng.choice(VOCAB, 10 + int(rng.integers(0, 91))))
           for _ in range(n_docs)]
    text = [own[j] for j in dup]
    docs = pa.table({
        "doc_id": pa.array(np.arange(n_docs), pa.int64()),
        "text": pa.array(text, pa.string()),
        "lang": pa.array(rng.choice(LANGS, n_docs), pa.string()),
        "source": pa.array([f"src{i}" for i in rng.integers(0, 20, n_docs)], pa.string()),
        "n_chars": pa.array([len(t) for t in text], pa.int64()),
    })

    near = _copies(rng, n_vecs, 50)
    base = (rng.integers(0, 2001, (n_vecs, 64)) - 1000) / 1000.0
    jitter = (rng.integers(0, 21, (n_vecs, 64)) - 10) / 1000.0
    vecs = base[near] + np.where((near != np.arange(n_vecs))[:, None], jitter, 0.0)
    emb = pa.table({
        "vec_id": pa.array(np.arange(n_vecs), pa.int64()),
        "embedding": pa.array([row.astype(np.float32) for row in vecs],
                              pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n_vecs), pa.int32()),
    })

    for name, table in (("documents", docs), ("embeddings", emb)):
        d = os.path.join(out_dir, f"{name}.parquet")
        os.makedirs(d)
        pq.write_table(table, os.path.join(d, "part-00000.parquet"))

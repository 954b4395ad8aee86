"""Fixed input tables for the train_pipelines workload.

The eight pipelines read only `documents` and `embeddings`. The tables
are the same for every --seed, so each query's output digest can be
committed (expected.json); the seed only orders the queries within a
pass. The shape follows the repository's test tables: documents are
bags of words over a small vocabulary with planted near-duplicates,
embeddings are unit vectors with a class label.
"""
import random

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

DATA_SEED = 42
N_DOCS = 500
N_VECS = 500
DIM = 64
VOCAB = ("a the data spark stream batch row column table key value hash join "
         "group agg sort merge filter scan order line part customer query "
         "vector window small big fast slow").split()
LANGS = ["en", "en", "en", "de", "fr", "es", "zh"]


def write(out_dir):
    r = random.Random(DATA_SEED)
    texts, langs = [], []
    for i in range(N_DOCS):
        if i > 10 and r.random() < 0.05:
            text = texts[r.randrange(i)] + " dup"      # near-duplicate
        elif i > 10 and r.random() < 0.01:
            text = texts[r.randrange(i)]               # exact duplicate
        else:
            text = " ".join(r.choice(VOCAB) for _ in range(r.randint(10, 100)))
        texts.append(text)
        langs.append(r.choice(LANGS))
    pq.write_table(pa.table({
        "doc_id": pa.array(range(N_DOCS), pa.int64()),
        "text": texts,
        "lang": langs,
        "source": ["src%d" % (i % 20) for i in range(N_DOCS)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    }), "%s/documents.parquet" % out_dir)
    g = np.random.default_rng(DATA_SEED)
    v = g.standard_normal((N_VECS, DIM)).astype(np.float32)
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    pq.write_table(pa.table({
        "vec_id": pa.array(range(N_VECS), pa.int64()),
        "embedding": pa.array(list(v), pa.list_(pa.float32())),
        "label": pa.array(g.integers(0, 10, N_VECS), pa.int32()),
    }), "%s/embeddings.parquet" % out_dir)

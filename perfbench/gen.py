"""Seeded generator for the base tables the benchmark reads.

`documents` and `embeddings` get the same schemas, parquet writer and value
distributions as the tier-2 tables (sf0.01): 500 documents drawn from a
30-word vocabulary with ~5 % near-duplicates, and 500 unit-norm 64-d
embeddings weakly clustered by one of 10 labels. `documents` gives the
corpus its texts; both feed the graft.ops queries of the traced run. The
same seed gives byte-identical files.

    python3 perfbench/gen.py <out_dir> <seed>
"""
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VERSION = "gen-v2"
N_DOCS = 500
N_VECS = 500
DIM = 64
WORDS = ("the a key agg row scan slow fast table value part hash merge batch spark "
         "window line sort order join small big data query group column filter "
         "stream vector customer").split()
LANGS = ["en", "zh", "de", "fr", "es"]
LANG_P = [0.44, 0.14, 0.14, 0.14, 0.14]


def documents(rng):
    texts = []
    for i in range(N_DOCS):
        if i > 0 and rng.random() < 0.05:
            # near-duplicate: an earlier document plus a marker word
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            n = int(rng.integers(10, 100))
            texts.append(" ".join(WORDS[j] for j in rng.integers(0, len(WORDS), n)))
    langs = [LANGS[j] for j in rng.choice(len(LANGS), N_DOCS, p=LANG_P)]
    return pa.table({
        "doc_id": pa.array(range(N_DOCS), pa.int64()),
        "text": texts,
        "lang": langs,
        "source": [f"src{i}" for i in range(N_DOCS)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def embeddings(rng):
    centers = rng.standard_normal((10, DIM))
    centers /= np.linalg.norm(centers, axis=1, keepdims=True)
    labels = rng.integers(0, 10, N_VECS)
    vecs = 0.146 * centers[labels] + rng.standard_normal((N_VECS, DIM)) / np.sqrt(DIM)
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    return pa.table({
        "vec_id": pa.array(range(N_VECS), pa.int64()),
        "embedding": pa.array([list(v) for v in vecs.astype(np.float32)],
                              pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32()),
    })


def generate(out_dir, seed):
    """Write the tables under out_dir unless a marker says they are there."""
    marker = os.path.join(out_dir, "tables.marker")
    tag = f"{VERSION} seed={seed}"
    if os.path.exists(marker) and open(marker).read() == tag:
        return
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng([seed, 1])
    for name, make in (("documents", documents), ("embeddings", embeddings)):
        pq.write_table(make(rng), os.path.join(out_dir, f"{name}.parquet"))
    with open(marker, "w") as f:
        f.write(tag)


if __name__ == "__main__":
    generate(sys.argv[1], int(sys.argv[2]))

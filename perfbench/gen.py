"""Seeded input generator for the `retrieval_serve` workload.

Everything is a pure function of the seed: the same seed writes the same
parquet bytes. Only numpy and pyarrow are used. The corpus is documents
over a Zipfian vocabulary (with a share of near-duplicates) and clustered
64-d unit vectors; the query pool is fresh draws from the same mixtures.
"""
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# The default seed, and a hold-out seed that no tuning of the benchmark or
# of the program should look at, so a claim can be re-checked on inputs it
# has not seen.
DEFAULT_SEED = 1
HOLDOUT_SEED = 8191

DIM = 64


def _rng(seed, stream):
    return np.random.default_rng([seed, stream])


def _write(path, cols):
    pq.write_table(pa.table(cols), path)


def _texts(rng, n, vocab, probs, lo, hi, dup_frac):
    lens = rng.integers(lo, hi, n)
    words = rng.choice(len(vocab), size=int(lens.sum()), p=probs)
    vocab = np.asarray(vocab, dtype=object)
    out, pos = [], 0
    for ln in lens:
        out.append(" ".join(vocab[words[pos:pos + ln]]))
        pos += ln
    # near-duplicates: a copy of an earlier document with one word appended
    n_dup = int(n * dup_frac)
    for i in rng.choice(np.arange(1, n), size=n_dup, replace=False):
        out[i] = out[rng.integers(0, i)] + " dup"
    return out


def zipf_vocab(v=5000):
    probs = 1.0 / np.arange(1, v + 1) ** 1.05
    return [f"t{i}" for i in range(v)], probs / probs.sum()


def documents(seed, n):
    """`n` documents with ids 0..n-1 over a Zipfian vocabulary: a few
    frequent terms and a long tail of rare ones, so BM25 scores separate
    and top-k ties stay rare."""
    vocab, probs = zipf_vocab()
    text = _texts(_rng(seed, 8), n, vocab, probs, 8, 60, 0.05)
    return {"doc_id": np.arange(n, dtype=np.int64), "text": text}


def vectors(seed, n, clusters=32, stream=10):
    """`n` clustered unit vectors: (ids, list<float> column). The
    cluster centres are fixed, so every seed draws from one distribution
    (and the index the benchmark builds has the same shape); the seed and
    `stream` pick the draws."""
    centers = _rng(0, 9).normal(size=(clusters, DIM))
    r = _rng(seed, stream)
    labels = r.integers(0, clusters, n, dtype=np.int32)
    x = centers[labels] + 0.35 * r.normal(size=(n, DIM))
    x = (x / np.linalg.norm(x, axis=1, keepdims=True)).astype(np.float32)
    col = pa.FixedSizeListArray.from_arrays(pa.array(x.ravel()), DIM)
    return np.arange(n, dtype=np.int64), col.cast(pa.list_(pa.float32()))


def write_corpus(out_dir, seed, n_docs, n_vecs):
    """The retrieval corpus as `docs.parquet` and `vecs.parquet`."""
    os.makedirs(out_dir, exist_ok=True)
    _write(os.path.join(out_dir, "docs.parquet"), documents(seed, n_docs))
    ids, vecs = vectors(seed, n_vecs)
    _write(os.path.join(out_dir, "vecs.parquet"),
           {"vec_id": ids, "embedding": vecs})


def write_queries(out_dir, seed, batches, per_batch, tune):
    """The serving query pool: `batches` batches of `per_batch` query
    vectors (`qvecs.parquet`) and query texts (`qtexts.parquet`), plus a
    held-out panel of `tune` vectors for the dial tuner (`tune.parquet`).
    Query vectors are fresh draws from the corpus' cluster mixture. A
    query text has one term from each of three frequency bands of the
    corpus vocabulary (ranks 20-199, 200-999, 1000-4999), so the postings
    a batch reads have the same profile under every seed."""
    n = batches * per_batch
    batch = np.repeat(np.arange(batches, dtype=np.int32), per_batch)
    ids, vecs = vectors(seed, n, stream=11)
    _write(os.path.join(out_dir, "qvecs.parquet"),
           {"q_id": ids, "batch": batch, "embedding": vecs})
    ids, vecs = vectors(seed, tune, stream=12)
    _write(os.path.join(out_dir, "tune.parquet"),
           {"vec_id": ids, "embedding": vecs})
    r = _rng(seed, 13)
    vocab, _ = zipf_vocab()
    bands = [(20, 200), (200, 1000), (1000, len(vocab))]
    texts = [" ".join(vocab[r.integers(lo, hi)] for lo, hi in bands)
             for _ in range(n)]
    _write(os.path.join(out_dir, "qtexts.parquet"),
           {"q_id": np.arange(n, dtype=np.int64), "batch": batch,
            "qtext": texts})

"""Seeded input generators for the three workloads.

Everything here is numpy/pandas only: the program under test receives
the generated frames or parquet files, never the generator. The same
seed always yields the same inputs.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

LANGS = ("de", "en", "es", "fr", "zh")
SOURCES = ("books", "code", "forum", "web")
STOPWORDS = ("the", "a", "of", "and", "is", "in", "to")


def _vocab(n: int) -> np.ndarray:
    return np.array([f"w{i:05d}" for i in range(n)])


def random_texts(rng: np.random.Generator, n: int, vocab: np.ndarray,
                 min_words: int, max_words: int,
                 stop_p: float = 0.2) -> list[str]:
    """``n`` texts of uniformly drawn length; each word is a stopword
    with probability ``stop_p``, else a uniform vocabulary word."""
    sizes = rng.integers(min_words, max_words + 1, n)
    total = int(sizes.sum())
    words = vocab[rng.integers(0, len(vocab), total)]
    stops = np.array(STOPWORDS)[rng.integers(0, len(STOPWORDS), total)]
    words = np.where(rng.random(total) < stop_p, stops, words)
    bounds = np.concatenate([[0], np.cumsum(sizes)])
    return [" ".join(words[bounds[i]:bounds[i + 1]]) for i in range(n)]


def _docs_frame(ids, texts, rng: np.random.Generator) -> pd.DataFrame:
    n = len(texts)
    return pd.DataFrame(
        {
            "doc_id": np.asarray(ids, dtype=np.int64),
            "text": texts,
            "lang": np.array(LANGS)[rng.integers(0, len(LANGS), n)],
            "source": np.array(SOURCES)[rng.integers(0, len(SOURCES), n)],
            "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
        }
    )


# -- medallion_incremental --------------------------------------------------


def medallion_batches(seed: int, n_batches: int, batch_size: int,
                      resend_p: float = 0.1) -> list[pd.DataFrame]:
    """Document batches in increasing ``doc_id`` order, as a serial-key
    watermark extract delivers them. A share ``resend_p`` of each batch
    re-sends a text seen earlier (in an earlier batch or earlier in the
    same batch) under a new, higher id with fresh ``lang``/``source``,
    so the keyed dedup has work and picking the wrong row shows in gold."""
    rng = np.random.default_rng([seed, 1])
    vocab = _vocab(4000)
    seen: list[str] = []
    out = []
    next_id = 1
    for _ in range(n_batches):
        fresh = random_texts(rng, batch_size, vocab, 12, 40)
        texts = []
        for i in range(batch_size):
            if (seen or texts) and rng.random() < resend_p:
                pool_n = len(seen) + len(texts)
                j = int(rng.integers(0, pool_n))
                texts.append(seen[j] if j < len(seen) else texts[j - len(seen)])
            else:
                texts.append(fresh[i])
        ids = np.arange(next_id, next_id + batch_size)
        next_id += batch_size
        out.append(_docs_frame(ids, texts, rng))
        seen.extend(texts)
    return out


def medallion_ranges(seed: int, batches: list[pd.DataFrame],
                     width: int) -> list[tuple[int, int]]:
    """One inclusive ``doc_id`` range per batch for the consumer's silver
    range read, drawn over the ids committed so far."""
    rng = np.random.default_rng([seed, 2])
    out = []
    for b in batches:
        hi_id = int(b["doc_id"].max())
        lo = int(rng.integers(1, max(2, hi_id - width)))
        out.append((lo, lo + width - 1))
    return out


# -- cdc_upsert_mor -----------------------------------------------------------


class ChangeStream:
    """Keyed change batches over an integer key space, leaning toward
    recent keys: updates and tombstones pick ``hi - 1 - Exp(scale)``
    where ``hi`` is the next unused key, and every batch also inserts a
    run of new keys. Values are small integers so sums stay exact."""

    def __init__(self, seed: int, initial_keys: int, batch_size: int,
                 insert_share: float = 0.1, delete_share: float = 0.1):
        self.rng = np.random.default_rng([seed, 3])
        self.n0 = initial_keys
        self.hi = initial_keys
        self.batch_size = batch_size
        self.n_insert = int(batch_size * insert_share)
        self.delete_share = delete_share

    def initial(self) -> pd.DataFrame:
        return pd.DataFrame(
            {
                "k": np.arange(self.n0, dtype=np.int64),
                "v": self.rng.integers(0, 1000, self.n0).astype(np.int64),
                "deleted": np.zeros(self.n0, dtype=bool),
            }
        )

    def next_batch(self) -> pd.DataFrame:
        rng = self.rng
        n_touch = self.batch_size - self.n_insert
        back = rng.exponential(self.n0 / 4, n_touch).astype(np.int64)
        keys = np.unique(np.clip(self.hi - 1 - back, 0, self.hi - 1))
        deleted = rng.random(len(keys)) < self.delete_share
        new = np.arange(self.hi, self.hi + self.n_insert, dtype=np.int64)
        self.hi += self.n_insert
        k = np.concatenate([keys, new])
        v = rng.integers(0, 1000, len(k)).astype(np.int64)
        d = np.concatenate([deleted, np.zeros(len(new), dtype=bool)])
        return pd.DataFrame({"k": k, "v": np.where(d, 0, v), "deleted": d})

    def key_range(self, width: int) -> tuple[int, int]:
        lo = int(self.rng.integers(0, max(1, self.hi - width)))
        return lo, lo + width - 1

    def point_key(self) -> int:
        back = int(self.rng.exponential(self.n0 / 4))
        return max(0, self.hi - 1 - back)


# -- corpus_curation ----------------------------------------------------------

SHINGLE_K = 3  # word shingles, as operators.dedup uses


def shingles(text: str, k: int = SHINGLE_K) -> set[str]:
    w = text.split(" ")
    return {" ".join(w[i:i + k]) for i in range(max(len(w) - k + 1, 1))}


def jaccard(a: str, b: str) -> float:
    sa, sb = shingles(a), shingles(b)
    return len(sa & sb) / len(sa | sb)


def _near_copy(rng: np.random.Generator, text: str, vocab: np.ndarray,
               lo: float, hi: float) -> str:
    """Replace words of ``text`` one at a time until the word-shingle
    Jaccard to the original falls into ``[lo, hi]``."""
    words = text.split(" ")
    while True:
        w = list(words)
        for _ in range(64):
            w[int(rng.integers(0, len(w)))] = str(
                vocab[rng.integers(0, len(vocab))]
            )
            j = jaccard(text, " ".join(w))
            if j < lo:
                break
            if j <= hi:
                return " ".join(w)


NEAR_PROBE_SEED = 0  # the planted near-duplicate pairs ignore --seed


def corpus(seed: int, n_base: int, n_exact: int, n_near: int,
           near_lo: float, near_hi: float) -> dict:
    """Documents with planted exact and near duplicates, under shuffled
    ids. Returns the frame plus the planted pairs as ``(lo_id, hi_id)``
    and the exact Jaccard of every planted near pair.

    The base texts and exact copies come from ``seed``; the near pairs
    (an original and its edited copy) always come from
    ``NEAR_PROBE_SEED``, so whether MinHash-LSH finds them does not
    depend on ``seed``: a signature depends only on its own text."""
    rng = np.random.default_rng([seed, 4])
    vocab = _vocab(6000)
    base = random_texts(rng, n_base, vocab, 30, 60, stop_p=0.25)
    src_exact = rng.choice(n_base, n_exact, replace=False)
    probe = np.random.default_rng([NEAR_PROBE_SEED, 7])
    near_src = random_texts(probe, n_near, vocab, 30, 60, stop_p=0.25)
    near_copy = [_near_copy(probe, t, vocab, near_lo, near_hi)
                 for t in near_src]
    texts = base + [base[i] for i in src_exact] + near_src + near_copy
    ids = rng.permutation(len(texts)).astype(np.int64)
    docs = _docs_frame(ids, texts, rng)

    def pairs(a_pos, b_pos):
        return [tuple(sorted((int(ids[a]), int(ids[b]))))
                for a, b in zip(a_pos, b_pos)]

    n_fixed = n_base + n_exact
    return {
        "docs": docs,
        "exact_pairs": pairs(src_exact, range(n_base, n_fixed)),
        "near_pairs": pairs(range(n_fixed, n_fixed + n_near),
                            range(n_fixed + n_near, n_fixed + 2 * n_near)),
        "near_jaccard": [jaccard(a, b) for a, b in zip(near_src, near_copy)],
    }


def embeddings(seed: int, n: int, dim: int, n_cells: int,
               spread: float) -> tuple[np.ndarray, np.ndarray]:
    """``n`` float32 vectors around ``n_cells`` random centres; the
    centre index is the IVF cell ``label`` the table carries."""
    rng = np.random.default_rng([seed, 5])
    centres = rng.normal(size=(n_cells, dim))
    labels = rng.integers(0, n_cells, n).astype(np.int32)
    vecs = centres[labels] + spread * rng.normal(size=(n, dim))
    return vecs.astype(np.float32), labels


def queries(seed: int, n: int, vecs: np.ndarray, labels: np.ndarray,
            spread: float) -> list[tuple[np.ndarray, int]]:
    """Query vectors near randomly chosen corpus vectors, each with the
    label of the vector it was drawn near."""
    rng = np.random.default_rng([seed, 6])
    out = []
    for i in rng.choice(len(vecs), n, replace=False):
        q = vecs[i] + spread * rng.normal(size=vecs.shape[1])
        out.append((q.astype(np.float32), int(labels[i])))
    return out


def write_documents(docs: pd.DataFrame, sf_dir: str) -> int:
    """Write ``sf_dir/documents.parquet`` in the program's declared
    column types; returns its size in bytes."""
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    os.makedirs(sf_dir, exist_ok=True)
    schema = pa.schema([("doc_id", pa.int64()), ("text", pa.string()),
                        ("lang", pa.string()), ("source", pa.string()),
                        ("n_chars", pa.int64())])
    path = os.path.join(sf_dir, "documents.parquet")
    pq.write_table(pa.Table.from_pandas(docs, schema=schema,
                                        preserve_index=False), path)
    return os.path.getsize(path)


def write_embeddings(ids: np.ndarray, vecs: np.ndarray, labels: np.ndarray,
                     sf_dir: str) -> int:
    """Write ``sf_dir/embeddings.parquet`` (``array<float>`` vectors)."""
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    os.makedirs(sf_dir, exist_ok=True)
    flat = pa.array(vecs.reshape(-1), type=pa.float32())
    offsets = pa.array(np.arange(0, vecs.size + 1, vecs.shape[1],
                                 dtype=np.int32))
    table = pa.table({
        "vec_id": pa.array(ids.astype(np.int64)),
        "embedding": pa.ListArray.from_arrays(offsets, flat),
        "label": pa.array(labels.astype(np.int32)),
    })
    path = os.path.join(sf_dir, "embeddings.parquet")
    pq.write_table(table, path)
    return os.path.getsize(path)

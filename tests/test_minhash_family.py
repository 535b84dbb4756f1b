"""MinHash hash family: the 8 affine members ``(a_i·h + b_i) mod p``
must be independent, or the 4 LSH bands collide together and the
near-duplicate recall falls below what the banding promises."""

from __future__ import annotations

import math
import random

from apache_iceberg_exploration_spark.operators.dedup import (
    BAND_SIZE,
    MINHASH_A,
    MINHASH_B,
    MINHASH_P,
    NUM_MINHASH,
    SHINGLE_K,
    minhash_band_rows,
)


def _small_ratio(x: int, y: int, bound: int = 10_000) -> tuple | None:
    """``(u, v)`` with ``x ≡ (u/v)·y (mod p)`` and ``|u|, v <= bound``,
    or None: two multipliers related by a small rational make their
    hashes near-multiples of each other over small inputs."""
    r = x * pow(y, -1, MINHASH_P) % MINHASH_P
    for v in range(1, bound + 1):
        u = r * v % MINHASH_P
        if u <= bound or MINHASH_P - u <= bound:
            return u, v
    return None


def test_family_members_are_independent():
    assert len(MINHASH_A) == len(MINHASH_B) == NUM_MINHASH
    assert len(set(MINHASH_A)) == NUM_MINHASH
    for a, b in zip(MINHASH_A, MINHASH_B):
        assert 0 < a < MINHASH_P and 0 <= b < MINHASH_P
        # the largest affine value stays inside int64 arithmetic
        assert a * (MINHASH_P - 1) + b < 2**62
    pairs = [
        (i, j, _small_ratio(MINHASH_A[i], MINHASH_A[j]))
        for i in range(NUM_MINHASH)
        for j in range(i + 1, NUM_MINHASH)
    ]
    assert [p for p in pairs if p[2] is not None] == []


def _shingles(text: str) -> set[str]:
    w = text.split(" ")
    return {
        " ".join(w[i : i + SHINGLE_K])
        for i in range(max(len(w) - SHINGLE_K + 1, 1))
    }


def _planted_pairs(n_pairs: int, seed: int = 7):
    """Documents of 40 words over a 4,000-word vocabulary, each with a
    near copy that has 1 or 2 words replaced (shingle Jaccard ~0.7-0.9)."""
    rng = random.Random(seed)
    vocab = [f"w{i}" for i in range(4000)]
    docs, pairs = [], []
    for p in range(n_pairs):
        words = [rng.choice(vocab) for _ in range(40)]
        near = list(words)
        for pos in rng.sample(range(3, 37), rng.choice((1, 2))):
            near[pos] = rng.choice(vocab)
        a, b = 2 * p, 2 * p + 1
        docs += [(a, " ".join(words)), (b, " ".join(near))]
        pairs.append((a, b))
    return docs, pairs


def test_planted_near_pair_recall_reaches_lsh_floor(spark):
    docs, pairs = _planted_pairs(200)
    text = dict(docs)
    df = spark.createDataFrame(docs, "doc_id long, text string")
    bands = minhash_band_rows(df).toPandas()
    hit = set()
    for _, grp in bands.groupby(["band", "sig"]):
        ids = sorted(grp["doc_id"])
        hit |= {(x, y) for i, x in enumerate(ids) for y in ids[i + 1 :]}
    found = sum(p in hit for p in pairs) / len(pairs)
    # LSH banding: a pair of Jaccard s shares some band with probability
    # 1 - (1 - s^r)^b; the floor is the expected recall minus 4 sigma
    n_bands = NUM_MINHASH // BAND_SIZE
    probs = []
    for a, b in pairs:
        sa, sb = _shingles(text[a]), _shingles(text[b])
        s = len(sa & sb) / len(sa | sb)
        probs.append(1 - (1 - s**BAND_SIZE) ** n_bands)
    mean = sum(probs) / len(probs)
    sigma = math.sqrt(sum(q * (1 - q) for q in probs)) / len(probs)
    assert found >= mean - 4 * sigma, (found, mean, sigma)

"""Correctness checks: every expected value is computed here with
pandas/numpy, apart from the program, and every check raises
:class:`CheckFailed` on the first mismatch.
"""

from __future__ import annotations

import math

import numpy as np
import pandas as pd

from .gen import STOPWORDS, shingles


class CheckFailed(AssertionError):
    pass


def expect(cond: bool, what: str) -> None:
    if not cond:
        raise CheckFailed(what)


def check_equal(what: str, got, want) -> None:
    expect(got == want, f"{what}: got {got!r}, want {want!r}")


def check_ids(what: str, got, want) -> None:
    """Same multiset of ids (order ignored)."""
    g, w = np.sort(np.asarray(got, dtype=np.int64)), np.sort(
        np.asarray(want, dtype=np.int64)
    )
    if len(g) != len(w) or not np.array_equal(g, w):
        extra = np.setdiff1d(g, w)[:5].tolist()
        missing = np.setdiff1d(w, g)[:5].tolist()
        raise CheckFailed(
            f"{what}: {len(g)} ids vs {len(w)} expected; "
            f"unexpected {extra}, missing {missing}"
        )


# -- medallion_incremental --------------------------------------------------


def silver_of(docs: pd.DataFrame) -> pd.DataFrame:
    """Keyed dedup: the lowest ``doc_id`` row of every distinct text."""
    return docs.sort_values("doc_id").drop_duplicates("text", keep="first")


def gold_of(silver: pd.DataFrame) -> pd.DataFrame:
    return (
        silver.groupby(["lang", "source"])
        .agg(total_count=("doc_id", "size"), n_sum=("n_chars", "sum"))
        .reset_index()
    )


def medallion_expected(batches: list[pd.DataFrame]) -> list[dict]:
    """What the three layers must hold after each batch."""
    out = []
    for i in range(len(batches)):
        seen = pd.concat(batches[: i + 1], ignore_index=True)
        silver = silver_of(seen)
        prev = (
            pd.concat(batches[:i], ignore_index=True)["doc_id"]
            if i
            else pd.Series([], dtype=np.int64)
        )
        out.append(
            {
                "bronze_rows": len(seen),
                "silver_ids": np.sort(silver["doc_id"].to_numpy()),
                "gold": gold_of(silver),
                "prev_bronze": (len(prev), int(prev.sum())),
            }
        )
    return out


def check_gold(got: pd.DataFrame, want: pd.DataFrame) -> None:
    """Gold rows: one per (lang, source), exact counts, and ``avg_chars``
    within the 2-decimal rounding the pipeline applies."""
    g = got.set_index(["lang", "source"]).sort_index()
    w = want.set_index(["lang", "source"]).sort_index()
    check_equal("gold groups", list(g.index), list(w.index))
    bad = g["total_count"].to_numpy() != w["total_count"].to_numpy()
    expect(not bad.any(), f"gold total_count differs at {list(g.index[bad])[:3]}")
    mean = w["n_sum"].to_numpy() / w["total_count"].to_numpy()
    off = np.abs(g["avg_chars"].to_numpy(dtype=float) - mean) > 0.005 + 1e-9
    expect(not off.any(), f"gold avg_chars differs at {list(g.index[off])[:3]}")


def ids_in(ids: np.ndarray, lo: int, hi: int) -> np.ndarray:
    return ids[(ids >= lo) & (ids <= hi)]


# -- cdc_upsert_mor -----------------------------------------------------------


class Replay:
    """In-benchmark replay of the change stream: the latest live value
    of every key, with tombstones removing keys."""

    def __init__(self):
        self.live = np.zeros(0, dtype=bool)
        self.val = np.zeros(0, dtype=np.int64)

    def apply(self, batch: pd.DataFrame) -> None:
        k = batch["k"].to_numpy()
        need = int(k.max()) + 1 if len(k) else 0
        if need > len(self.live):
            grow = need - len(self.live)
            self.live = np.concatenate([self.live, np.zeros(grow, bool)])
            self.val = np.concatenate([self.val, np.zeros(grow, np.int64)])
        dead = batch["deleted"].to_numpy()
        self.live[k] = ~dead
        self.val[k] = np.where(dead, 0, batch["v"].to_numpy())

    def count(self) -> int:
        return int(self.live.sum())

    def total(self) -> int:
        return int(self.val[self.live].sum())

    def keys_in(self, lo: int, hi: int) -> np.ndarray:
        idx = np.nonzero(self.live)[0]
        return ids_in(idx, lo, hi)


def check_state(count: int, total: int, replay: Replay) -> None:
    check_equal("target row count", int(count), replay.count())
    check_equal("target value sum", int(total), replay.total())


# -- corpus_curation ----------------------------------------------------------


def exact_survivors(docs: pd.DataFrame) -> np.ndarray:
    return np.sort(silver_of(docs)["doc_id"].to_numpy())


def check_pairs_found(what: str, candidates: set, pairs) -> None:
    missing = [p for p in pairs if tuple(p) not in candidates]
    expect(not missing, f"{what}: {len(missing)} planted pairs not candidates, "
           f"e.g. {missing[:3]}")


def lsh_rate(s: float, bands: int = 4, rows: int = 2) -> float:
    """Probability that a pair of Jaccard ``s`` shares at least one band
    under ``bands`` bands of ``rows`` min-hashes."""
    return 1.0 - (1.0 - s**rows) ** bands


NEAR_SLACK_SIGMAS = 4.0


def near_recall_floor(jaccards) -> float:
    """Lowest acceptable share of planted near pairs found: the mean LSH
    rate over the pairs, less ``NEAR_SLACK_SIGMAS`` binomial standard
    deviations."""
    p = np.array([lsh_rate(s) for s in jaccards])
    sd = math.sqrt(float((p * (1 - p)).sum())) / len(p)
    return float(p.mean()) - NEAR_SLACK_SIGMAS * sd


def near_recall(candidates: set, near_pairs) -> float:
    """Share of the planted near pairs that are candidates."""
    return sum(tuple(p) in candidates for p in near_pairs) / len(near_pairs)


def check_near_recall(candidates: set, near_pairs, jaccards) -> float:
    found = near_recall(candidates, near_pairs)
    floor = near_recall_floor(jaccards)
    expect(found >= floor, f"near-duplicate recall {found:.3f} < floor {floor:.3f}")
    return found


def candidate_precision(candidates, text_of: dict, level: float) -> float:
    if not candidates:
        return 1.0
    hit = 0
    for a, b in candidates:
        sa, sb = shingles(text_of[a]), shingles(text_of[b])
        hit += len(sa & sb) / len(sa | sb) >= level
    return hit / len(candidates)


def quality_bp(docs: pd.DataFrame) -> np.ndarray:
    """The quality formula of ``operators.text.text_quality_score``,
    evaluated in float64 with the same operation order."""
    words = docs["text"].str.split(" ")
    n_tok = words.map(len).to_numpy(dtype=np.float64)
    sw = words.map(lambda w: sum(x in STOPWORDS for x in w)).to_numpy(
        dtype=np.float64
    )
    avg_len = docs["n_chars"].to_numpy(dtype=np.float64) / n_tok
    score = (
        np.minimum(1.0, n_tok / 100.0) * 0.5
        + np.minimum(1.0, sw / n_tok * 5) * 0.3
        + np.where((avg_len >= 3) & (avg_len <= 10), 0.2, 0.0)
    )
    return np.floor(score * 10000 + 0.5).astype(np.int64)


def check_quality(got: pd.DataFrame, docs: pd.DataFrame) -> None:
    want = pd.Series(quality_bp(docs), index=docs["doc_id"].to_numpy())
    g = got.set_index("doc_id")["quality_score_bp"]
    check_equal("quality rows", len(g), len(want))
    diff = g.sort_index().to_numpy() != want.sort_index().to_numpy()
    expect(not diff.any(), f"quality_score_bp differs for {int(diff.sum())} docs")


def cosine_scores(vecs: np.ndarray, q: np.ndarray) -> np.ndarray:
    """Cosine in float64 with strictly sequential accumulation, the
    order ``functions.vectors.cosine_similarity`` uses."""
    a = vecs.astype(np.float64)
    b = q.astype(np.float64)
    dot = np.zeros(len(a))
    na = np.zeros(len(a))
    nb = 0.0
    for i in range(a.shape[1]):
        dot = dot + a[:, i] * b[i]
        na = na + a[:, i] * a[:, i]
        nb = nb + b[i] * b[i]
    return dot / (np.sqrt(na) * math.sqrt(nb))


def topk(ids: np.ndarray, scores: np.ndarray, k: int) -> np.ndarray:
    """Top ``k`` ids by score, ties to the lower id."""
    order = np.lexsort((ids, -scores))
    return ids[order[:k]]


def check_topk(got, want) -> None:
    check_equal("top-k ids", [int(x) for x in got], [int(x) for x in want])


def recall(got, exact) -> float:
    return len(set(map(int, got)) & set(map(int, exact))) / len(exact)

"""The benchmark's correctness checks accept right outputs and reject
corrupted ones. Pure pandas/numpy: no Spark session is started.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest

from perfbench import checks, gen


@pytest.fixture(scope="module")
def medallion():
    batches = gen.medallion_batches(seed=3, n_batches=2, batch_size=300)
    return batches, checks.medallion_expected(batches)


def _gold_as_pipeline_writes(want: pd.DataFrame) -> pd.DataFrame:
    got = want[["lang", "source", "total_count"]].copy()
    got["avg_chars"] = (want["n_sum"] / want["total_count"]).round(2)
    return got


def test_gold_accepts_the_pipeline_shape(medallion):
    _, expected = medallion
    want = expected[-1]["gold"]
    checks.check_gold(_gold_as_pipeline_writes(want).sample(frac=1, random_state=0), want)


def test_gold_count_off_by_one_is_rejected(medallion):
    _, expected = medallion
    want = expected[-1]["gold"]
    got = _gold_as_pipeline_writes(want)
    got.loc[got.index[0], "total_count"] += 1
    with pytest.raises(checks.CheckFailed, match="total_count"):
        checks.check_gold(got, want)


def test_gold_counts_lowest_id_row_of_resent_texts(medallion):
    """Re-sent texts carry other lang/source values: keeping the newest
    row instead of the lowest doc_id changes gold."""
    batches, expected = medallion
    seen = pd.concat(batches, ignore_index=True)
    wrong = seen.sort_values("doc_id").drop_duplicates("text", keep="last")
    with pytest.raises(checks.CheckFailed):
        checks.check_gold(_gold_as_pipeline_writes(checks.gold_of(wrong)),
                          expected[-1]["gold"])


def test_medallion_expectations_follow_batches(medallion):
    batches, expected = medallion
    assert expected[0]["prev_bronze"] == (0, 0)
    first = batches[0]["doc_id"]
    assert expected[1]["prev_bronze"] == (len(first), int(first.sum()))
    assert expected[1]["bronze_rows"] == sum(map(len, batches))
    n_texts = pd.concat(batches)["text"].nunique()
    assert len(expected[1]["silver_ids"]) == n_texts < expected[1]["bronze_rows"]


def _replayed(seed=5):
    stream = gen.ChangeStream(seed, initial_keys=500, batch_size=100)
    replay = checks.Replay()
    frames = [stream.initial()] + [stream.next_batch() for _ in range(4)]
    for f in frames:
        replay.apply(f)
    return frames, replay


def _state_by_upsert(frames) -> pd.DataFrame:
    """Latest-state table computed the slow way: last row per key, then
    tombstones removed."""
    last = pd.concat(frames, ignore_index=True).drop_duplicates("k", keep="last")
    return last[~last["deleted"]]


def test_replay_matches_last_write_wins():
    frames, replay = _replayed()
    state = _state_by_upsert(frames)
    checks.check_state(len(state), int(state["v"].sum()), replay)
    checks.check_ids("range", state.loc[state.k.between(100, 400), "k"],
                     replay.keys_in(100, 400))


def test_dropped_cdc_key_is_rejected():
    frames, replay = _replayed()
    state = _state_by_upsert(frames)
    dropped = state.iloc[1:]
    with pytest.raises(checks.CheckFailed, match="row count"):
        checks.check_state(len(dropped), int(dropped["v"].sum()), replay)
    lo, hi = int(state.k.iloc[0]), int(state.k.iloc[0]) + 50
    with pytest.raises(checks.CheckFailed, match="missing"):
        checks.check_ids("range", dropped.loc[dropped.k.between(lo, hi), "k"],
                         replay.keys_in(lo, hi))


def test_tombstones_remove_keys():
    replay = checks.Replay()
    replay.apply(pd.DataFrame({"k": [0, 1, 2], "v": [5, 6, 7],
                               "deleted": [False] * 3}))
    replay.apply(pd.DataFrame({"k": [1, 3], "v": [0, 9],
                               "deleted": [True, False]}))
    assert replay.keys_in(0, 10).tolist() == [0, 2, 3]
    assert (replay.count(), replay.total()) == (3, 21)


@pytest.fixture(scope="module")
def corpus():
    return gen.corpus(seed=2, n_base=200, n_exact=10, n_near=40,
                      near_lo=0.7, near_hi=0.9)


def test_planted_pairs_have_their_jaccard(corpus):
    docs = corpus["docs"]
    text_of = dict(zip(docs.doc_id, docs.text))
    for a, b in corpus["exact_pairs"]:
        assert text_of[a] == text_of[b]
    for (a, b), j in zip(corpus["near_pairs"], corpus["near_jaccard"]):
        assert 0.7 <= gen.jaccard(text_of[a], text_of[b]) == j <= 0.9
    assert len(checks.exact_survivors(docs)) == len(docs) - len(corpus["exact_pairs"])


def test_near_pairs_ignore_the_seed(corpus):
    other = gen.corpus(seed=9, n_base=200, n_exact=10, n_near=40,
                       near_lo=0.7, near_hi=0.9)
    assert other["near_jaccard"] == corpus["near_jaccard"]


def test_missing_planted_exact_pair_is_rejected(corpus):
    cands = set(corpus["exact_pairs"]) | set(corpus["near_pairs"])
    checks.check_pairs_found("exact", cands, corpus["exact_pairs"])
    cands.discard(corpus["exact_pairs"][0])
    with pytest.raises(checks.CheckFailed, match="1 planted pairs"):
        checks.check_pairs_found("exact", cands, corpus["exact_pairs"])


def test_near_recall_floor(corpus):
    near, js = corpus["near_pairs"], corpus["near_jaccard"]
    assert checks.near_recall(set(near[:10]), near) == 10 / len(near)
    assert checks.check_near_recall(set(near), near, js) == 1.0
    floor = checks.near_recall_floor(js)
    keep = int(np.floor(floor * len(near))) - 1
    with pytest.raises(checks.CheckFailed, match="recall"):
        checks.check_near_recall(set(near[:keep]), near, js)


def test_lsh_rate():
    assert checks.lsh_rate(1.0) == 1.0
    assert checks.lsh_rate(0.0) == 0.0
    assert checks.lsh_rate(0.8) == pytest.approx(1 - (1 - 0.64) ** 4)


def test_quality_formula_matches_a_scalar_evaluation(corpus):
    docs = corpus["docs"].head(50)
    got = checks.quality_bp(docs)
    for (_, d), bp in zip(docs.iterrows(), got):
        words = d.text.split(" ")
        n = len(words)
        sw = sum(w in gen.STOPWORDS for w in words)
        avg = d.n_chars / n
        score = (min(1.0, n / 100.0) * 0.5 + min(1.0, sw / n * 5) * 0.3
                 + (0.2 if 3 <= avg <= 10 else 0.0))
        assert bp == int(np.floor(score * 10000 + 0.5))


def test_quality_mismatch_is_rejected(corpus):
    docs = corpus["docs"]
    got = pd.DataFrame({"doc_id": docs.doc_id, "quality_score_bp": checks.quality_bp(docs)})
    checks.check_quality(got, docs)
    got.loc[3, "quality_score_bp"] += 1
    with pytest.raises(checks.CheckFailed):
        checks.check_quality(got, docs)


def test_topk_with_one_neighbour_swapped_is_rejected():
    vecs, labels = gen.embeddings(seed=4, n=400, dim=8, n_cells=4, spread=1.0)
    ids = np.arange(1, 401)
    (q, _), = gen.queries(seed=4, n=1, vecs=vecs, labels=labels, spread=1.0)
    scores = checks.cosine_scores(vecs, q)
    exact = checks.topk(ids, scores, 10)
    assert np.allclose(
        scores, vecs @ q / (np.linalg.norm(vecs, axis=1) * np.linalg.norm(q)),
        rtol=1e-5)
    checks.check_topk(exact, exact)
    outside = checks.topk(ids, scores, 11)[-1]
    swapped = exact.copy()
    swapped[4] = outside
    with pytest.raises(checks.CheckFailed, match="top-k"):
        checks.check_topk(swapped, exact)
    assert checks.recall(swapped, exact) == 0.9


def test_seeds_make_inputs():
    a = gen.medallion_batches(7, 2, 50)
    b = gen.medallion_batches(7, 2, 50)
    c = gen.medallion_batches(8, 2, 50)
    assert all(x.equals(y) for x, y in zip(a, b))
    assert not a[0].equals(c[0])
    ids = pd.concat(a)["doc_id"]
    assert ids.is_monotonic_increasing and ids.is_unique

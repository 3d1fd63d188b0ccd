"""The references for the two lines without a usable DuckDB twin: the
exact Jaccard join for dedup_minhash_lsh, against a brute-force
all-pairs join, and the ANN invariants for similarity_ann_lsh."""

import random

import numpy as np

from perfbench import checks


def test_prefix_filtered_join_equals_all_pairs():
    rng = random.Random(3)
    words = "a b c d e f g h".split()
    docs = []
    for i in range(150):
        if i > 10 and rng.random() < 0.3:
            base = docs[rng.randrange(i)][1]
            text = base + (" x" if rng.random() < 0.5 else "")
        else:
            text = " ".join(rng.choice(words) for _ in range(rng.randrange(1, 12)))
        docs.append((i, text))
    sets = {d: checks.shingles(t) for d, t in docs}
    for threshold in (0.5, 0.8):
        brute = []
        for a, _ in docs:
            for b, _ in docs:
                if a < b:
                    inter = len(sets[a] & sets[b])
                    jac = float(inter) / (len(sets[a]) + len(sets[b]) - inter)
                    if jac >= threshold:
                        brute.append((a, b, jac))
        assert sorted(checks.jaccard_pairs(docs, threshold)) == sorted(brute)
        assert brute


def test_shingles_match_the_oracle_definition():
    assert checks.shingles(" a b ") == {"a", "b"}
    assert checks.shingles("a b c a b c") == {"a b c", "b c a", "c a b"}


def _ann_frame(vectors, k):
    import pandas as pd

    rows = []
    sims = vectors @ vectors.T
    for q in range(len(vectors)):
        order = [int(i) for i in np.argsort(-sims[q]) if i != q][:k]
        rows += [(q, n, float(sims[q, n]), r + 1) for r, n in enumerate(order)]
    return pd.DataFrame(rows, columns=checks.ANN_COLUMNS)


def test_ann_invariants():
    rng = np.random.default_rng(0)
    vectors = rng.standard_normal((30, 8))
    vectors /= np.linalg.norm(vectors, axis=1, keepdims=True)
    ids = list(range(30))
    good = _ann_frame(vectors, 5)
    assert checks.ann_problems(good, ids, vectors) == []
    bad = good.copy()
    bad.loc[0, "cos_sim"] += 0.01
    assert checks.ann_problems(bad, ids, vectors)
    bad = good.copy()
    bad.loc[0, "neighbor_id"] = bad.loc[0, "query_id"]
    assert checks.ann_problems(bad, ids, vectors)
    bad = good.copy()
    bad.loc[1, "rank"] = 7
    assert checks.ann_problems(bad, ids, vectors)
    assert checks.ann_problems(good.iloc[:0], ids, vectors)
    assert checks.ann_problems(good.rename(columns={"rank": "r"}), ids, vectors)

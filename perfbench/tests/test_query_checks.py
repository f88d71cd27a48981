"""The similarity-query checks catch empty and partial results."""

import numpy as np

import checks

TEXTS = {
    0: "a b c d e f g h i j",
    1: "a b c d e f g h i x",  # near-duplicate of 0
    2: "k l m n o p q r s t",
    3: "k l m n o p q r s u",  # near-duplicate of 2
    4: "u v w x y z aa bb cc dd",
}


def _pair(a, b):
    j = checks.exact_jaccard_pairs(TEXTS, 0.5)[(a, b)]
    return {"doc_a": a, "doc_b": b, "jaccard": round(j, 6)}


def test_minhash_needs_recall():
    assert set(checks.exact_jaccard_pairs(TEXTS, 0.5)) == {(0, 1), (2, 3)}
    assert checks.minhash_problems([_pair(0, 1), _pair(2, 3)], TEXTS) == []
    assert checks.minhash_problems([], TEXTS)
    assert checks.minhash_problems([_pair(0, 1)], TEXTS)  # recall 0.5
    assert checks.minhash_problems([_pair(0, 1), _pair(0, 1), _pair(2, 3)], TEXTS)
    wrong = {**_pair(0, 1), "jaccard": 0.99}
    assert checks.minhash_problems([wrong, _pair(2, 3)], TEXTS)


def test_lsh_needs_recall():
    rng = np.random.default_rng(0)
    vecs = {i: list(v) for i, v in enumerate(rng.normal(size=(30, 8)))}
    mat = np.asarray([vecs[i] for i in range(30)])
    mat /= np.linalg.norm(mat, axis=1, keepdims=True)
    rows = []
    for q in (0, 1):
        cos = mat @ mat[q]
        cos[q] = -np.inf
        for rank, n in enumerate(np.argsort(-cos)[:3], start=1):
            rows.append({"query_id": q, "neighbor_id": int(n), "cosine": float(cos[n]), "rank": rank})
    assert checks.lsh_problems(rows, vecs, [0, 1]) == []
    assert checks.lsh_problems([], vecs, [0, 1])
    assert checks.lsh_problems([r for r in rows if r["query_id"] == 0], vecs, [0, 1])

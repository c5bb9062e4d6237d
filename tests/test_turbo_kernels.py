"""The turbo tier's array kernels — ``turbo_topk`` (threshold top-k),
``group_docs`` (the one doc-grouping helper) and ``sorted_member`` — as
pure functions over hand-built arrays (no Spark; the turbo≡plan and
result-dump tests cover them end to end).  Each is checked against the
formulation it replaced, with ``==`` on result dicts and ``.tobytes()``
on float sums."""

import numpy as np
import pytest

from elasticsearch_spark.operators.query import (
    group_docs,
    sorted_member,
    turbo_topk,
)


def _old_topk(docs, scores, k, total=None, query=None):
    """The full-lexsort top-k ``turbo_topk`` replaced."""
    order = np.lexsort((docs, -scores))[:k]
    return {
        "query": query,
        "total_hits": total,
        "results": [
            {"doc_id": int(docs[i]), "score": float(scores[i])} for i in order
        ],
    }


def _rows(rng, n, n_docs=50, base=0):
    docs = base + rng.choice(n_docs, size=n, replace=False).astype(np.int64)
    return docs, rng.random(n)


@pytest.mark.parametrize("k", [1, 3, 10, 39, 40, 41, 100])
def test_topk_matches_full_lexsort(k):
    rng = np.random.default_rng(k)
    docs, scores = _rows(rng, 40)
    assert turbo_topk(docs, scores, k, 40, "q") == _old_topk(docs, scores, k, 40, "q")


def test_topk_ties_at_the_cutoff_are_kept():
    # 7 docs share the k-th best score: the cut-off keeps every tie
    # and the doc-id tie-break picks among them exactly like a full sort
    docs = np.array([90, 12, 55, 3, 71, 40, 8, 66, 21, 5], dtype=np.int64)
    scores = np.array([9.0, 2.5, 2.5, 2.5, 7.0, 2.5, 2.5, 2.5, 2.5, 1.0])
    for k in range(0, 12):
        assert turbo_topk(docs, scores, k, None) == _old_topk(docs, scores, k)
    got = turbo_topk(docs, scores, 4, None)["results"]
    assert [r["doc_id"] for r in got] == [90, 71, 3, 8]


def test_topk_k0_empty_and_types():
    docs = np.array([4, 2], dtype=np.int64)
    scores = np.array([1.0, 2.0])
    assert turbo_topk(docs, scores, 0, 2)["results"] == []
    empty = turbo_topk(np.empty(0, np.int64), np.empty(0), 10, 0, "q")
    assert empty == {"query": "q", "total_hits": 0, "results": []}
    r = turbo_topk(docs, scores, 5, None)["results"]
    assert r == [{"doc_id": 2, "score": 2.0}, {"doc_id": 4, "score": 1.0}]
    assert all(type(x["doc_id"]) is int and type(x["score"]) is float for x in r)


def test_topk_huge_doc_ids():
    rng = np.random.default_rng(7)
    docs, scores = _rows(rng, 30, base=2**62 - 25)
    scores[::3] = 0.5  # ties across ids that differ only in low bits
    for k in (1, 5, 10, 30):
        got = turbo_topk(docs, scores, k, None)
        assert got == _old_topk(docs, scores, k)
        assert all(r["doc_id"] >= 2**62 - 25 for r in got["results"])


def _terms_rows(rng, n_terms, base=0):
    """Concatenated per-term rows: each term doc-unique and ascending,
    terms overlapping on docs (the shape of a multi-term query)."""
    docs, vals = [], []
    for t in range(n_terms):
        d = np.sort(base + rng.choice(60, size=rng.integers(1, 40),
                                      replace=False)).astype(np.int64)
        docs.append(d)
        vals.append(rng.random(d.size) * (t + 1) * 3.7)
    return np.concatenate(docs), np.concatenate(vals)


@pytest.mark.parametrize("seed", range(6))
def test_group_docs_bit_identical_to_unique_bincount(seed):
    rng = np.random.default_rng(seed)
    doc, vals = _terms_rows(rng, 2 + seed % 4, base=(2**62 if seed % 2 else 0))
    docs_u, sums, counts, maxes = group_docs(doc, vals, with_max=True)
    ref_u, inv = np.unique(doc, return_inverse=True)
    assert docs_u.tolist() == ref_u.tolist()
    assert sums.tobytes() == np.bincount(inv, weights=vals).tobytes()
    assert counts.tolist() == np.bincount(inv).tolist()
    ref_max = np.full(ref_u.size, -np.inf)
    np.maximum.at(ref_max, inv, vals)
    assert maxes.tobytes() == ref_max.tobytes()
    assert group_docs(doc, vals)[3] is None


def test_group_docs_sums_in_input_order():
    # float addition is not associative: (a + b) + c != a + (c + b) here,
    # so only a stable grouping reproduces the input-order sum
    doc = np.array([5, 5, 5, 1], dtype=np.int64)
    vals = np.array([1e16, 1.0, -1e16, 2.0])
    _, sums, counts, _ = group_docs(doc, vals)
    assert sums.tolist() == [2.0, (1e16 + 1.0) - 1e16]
    assert counts.tolist() == [1, 3]


def test_group_docs_empty():
    docs_u, sums, counts, maxes = group_docs(
        np.empty(0, np.int64), np.empty(0), with_max=True
    )
    assert docs_u.size == sums.size == counts.size == maxes.size == 0


def test_sorted_member():
    b = np.array([2, 5, 9, 2**62], dtype=np.int64)
    a = np.array([1, 2, 3, 5, 9, 10, 2**62, 2**62 + 1], dtype=np.int64)
    assert sorted_member(a, b).tolist() == np.isin(a, b).tolist()
    assert sorted_member(a, b[:0]).tolist() == [False] * a.size
    assert sorted_member(a[:0], b).size == 0

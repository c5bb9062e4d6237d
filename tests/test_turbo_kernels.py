"""The turbo tier's array kernels — ``turbo_topk`` (threshold top-k),
``group_docs`` (the one doc-grouping helper) and ``sorted_member`` — as
pure functions over hand-built arrays (no Spark; the turbo≡plan and
result-dump tests cover them end to end).  Each is checked against the
formulation it replaced, with ``==`` on result dicts and ``.tobytes()``
on float sums.  The positional matcher both tiers share
(``decode_positional_rows`` + ``match_slots``) is checked the same way,
against the per-doc ``*_starts`` kernels and a brute adjacency scan."""

import numpy as np
import pytest

from elasticsearch_spark.functions import codec as C
from elasticsearch_spark.operators.phrase import (
    decode_positional_rows,
    match_slots,
    movable_starts,
    sloppy_starts,
    unordered_starts,
)
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


# ------------------------------------------------- positional matcher

def _token_docs(seed, n_docs=40, vocab="abcd", max_len=14):
    """doc -> token list over a tiny vocabulary (dense repeats, so
    every mode has real matches), doc ids sparse and unsorted."""
    rng = np.random.default_rng(seed)
    ids = rng.choice(10_000, size=n_docs, replace=False).tolist()
    return {
        d: list(rng.choice(list(vocab), size=rng.integers(0, max_len)))
        for d in ids
    }


def _per_term(docs):
    """{term: {doc: sorted int64 positions}} — the decoder's output."""
    out = {}
    for d, toks in docs.items():
        for i, t in enumerate(toks):
            out.setdefault(t, {}).setdefault(d, []).append(i)
    return {
        t: {d: np.asarray(p, dtype=np.int64) for d, p in m.items()}
        for t, m in out.items()
    }


def _per_doc(per_term, slots, starts_fn, slop):
    """Reference: the mode's per-doc kernel over every doc holding all
    slots, a slot's positions the sorted union of its alternatives."""
    out = []
    docs = set().union(*(m.keys() for m in per_term.values()))
    for d in sorted(docs):
        slot_pos = []
        for alts in slots:
            ps = [per_term[t][d] for t in alts if d in per_term.get(t, {})]
            if not ps:
                break
            slot_pos.append(np.unique(np.concatenate(ps)))
        else:
            p = np.sort(np.asarray(starts_fn(slot_pos, slop)))
            if p.size:
                out.append((d, int(p.size), p.tolist()))
    return out


SLOT_CASES = [
    [["a"], ["b"]],
    [["a"], ["b"], ["c"]],
    [["a"], ["a"]],                 # repeated term
    [["b"], ["a", "c"]],            # alternatives (match_phrase_prefix)
    [["a", "d"], ["b"], ["a"]],
    [["c"]],                        # one slot
]


@pytest.mark.parametrize("seed", range(3))
@pytest.mark.parametrize("slots", SLOT_CASES)
def test_match_slots_modes_match_per_doc_kernels(seed, slots):
    per_term = _per_term(_token_docs(seed))
    for mode, fn, slops in (
        ("ordered", sloppy_starts, (1, 2, 3)),
        ("moves", movable_starts, (1, 2, 3)),
        ("unordered", unordered_starts, (0, 1, 2)),
    ):
        for slop in slops:
            got = [
                (d, n, p.tolist())
                for d, n, p in match_slots(per_term, slots, slop, mode)
            ]
            assert got == _per_doc(per_term, slots, fn, slop), (mode, slop)


@pytest.mark.parametrize("seed", range(3))
@pytest.mark.parametrize("slots", SLOT_CASES)
def test_match_slots_exact_is_adjacency(seed, slots):
    """slop 0 (ordered or moves): the shifted intersection equals a
    brute scan of the token streams and the slop-0 chain kernel."""
    docs = _token_docs(seed)
    per_term = _per_term(docs)
    want = []
    for d in sorted(docs):
        toks = docs[d]
        k = len(slots)
        starts = [
            i for i in range(len(toks) - k + 1)
            if all(toks[i + j] in alts for j, alts in enumerate(slots))
        ]
        if starts:
            want.append((d, len(starts), starts))
    for mode in ("ordered", "moves"):
        got = [
            (d, n, p.tolist())
            for d, n, p in match_slots(per_term, slots, 0, mode)
        ]
        assert got == want, mode
    assert want == _per_doc(per_term, slots, sloppy_starts, 0)
    assert want  # real matches, not an empty-set agreement


def test_match_slots_dead_slot_and_no_slots():
    per_term = _per_term({3: list("abab"), 9: list("ba")})
    assert match_slots(per_term, [["a"], ["zz"]]) == []
    assert match_slots(per_term, [["zz", "b"], ["a"]]) != []
    assert match_slots(per_term, []) == []
    with pytest.raises(ValueError):
        match_slots(per_term, [["a"]], 1, "sideways")


def test_decode_positional_rows_round_trip_and_tombstones():
    """Encoded block rows decode to the positions they were built from;
    a term split over two rows (base + delta) merges, tombstoned docs
    drop."""
    docs = {5: list("abca"), 17: list("ccab"), 40: list("b"), 41: list("aa")}
    per_term = _per_term(docs)
    rows = []
    for t, m in sorted(per_term.items()):
        ids = sorted(m)
        for part in (ids[:1], ids[1:]):  # two rows per term when possible
            if not part:
                continue
            tf = [m[d].size for d in part]
            blobs = C.encode_block(part, tf, [len(docs[d]) for d in part])
            flat = np.concatenate([m[d] for d in part])
            rows.append((t, *blobs, C.encode_positions(flat, tf)))
    got = decode_positional_rows(rows, "vbyte")
    assert {t: {d: p.tolist() for d, p in m.items()} for t, m in got.items()} == {
        t: {d: p.tolist() for d, p in m.items()} for t, m in per_term.items()
    }
    dropped = decode_positional_rows(rows, "vbyte", [17, 41])
    assert sorted(dropped["a"]) == [5]
    assert sorted(dropped["c"]) == [5]

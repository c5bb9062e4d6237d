"""The turbo tier's array kernels — ``turbo_topk`` (threshold top-k),
``group_docs`` (the one doc-grouping helper), ``combine_maps`` (the one
score-map combine), ``live_bag`` and ``sorted_lookup``/``sorted_member``
— as pure functions over hand-built arrays (no Spark; the turbo≡plan
and result-dump tests cover them end to end).  Each is checked against the
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
    combine_maps,
    group_docs,
    live_bag,
    sorted_lookup,
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
    pos, hit = sorted_lookup(a, b)
    assert hit.tolist() == np.isin(a, b).tolist()
    assert b[pos[hit]].tolist() == a[hit].tolist()
    pos, hit = sorted_lookup(a, b[:0])
    assert pos.size == hit.size == a.size and not hit.any()


# ------------------------------------------------------ score-map combine
def _old_combine(parts, tie_breaker=None, required=0):
    """The per-caller recipe ``combine_maps`` replaced: np.unique +
    bincount sums in input order, ``np.maximum.at`` for dis_max's best,
    a matched-part count gate."""
    doc = np.concatenate([d for d, _s in parts])
    vals = np.concatenate([s for _d, s in parts])
    docs_u, inv = np.unique(doc, return_inverse=True)
    tot = np.bincount(inv, weights=vals)
    if tie_breaker is not None:
        best = np.full(docs_u.size, -np.inf)
        np.maximum.at(best, inv, vals)
        tot = best + float(tie_breaker) * (tot - best)
    keep = np.bincount(inv) >= required
    return docs_u[keep], tot[keep]


def _parts(rng, n_parts, base=0):
    out = []
    for p in range(n_parts):
        d = np.sort(base + rng.choice(60, size=rng.integers(1, 40),
                                      replace=False)).astype(np.int64)
        out.append((d, rng.random(d.size) * (p + 1) * 3.7))
    return out


@pytest.mark.parametrize("seed", range(8))
def test_combine_maps_bit_identical_to_old_recipe(seed):
    rng = np.random.default_rng(seed)
    parts = _parts(rng, 2 + seed % 4, base=(2**62 if seed % 2 else 0))
    for tb in (None, 0.0, 0.3, 1.0):
        for required in (0, 1, 2, 3, 7):
            got = combine_maps(parts, tb, required)
            want = _old_combine(parts, tb, required)
            assert got[0].tolist() == want[0].tolist()
            assert got[1].tobytes() == want[1].tobytes()


def test_combine_maps_one_part_and_empty():
    d = np.array([3, 8, 2**62], dtype=np.int64)
    s = np.array([0.5, 2.0, 1.25])
    for tb in (None, 0.3):
        for required in (0, 1):
            got = combine_maps([(d, s)], tb, required)
            assert got[0] is d and got[1] is s  # returned as it is
            want = _old_combine([(d, s)], tb, required)
            assert got[1].tobytes() == want[1].tobytes()
    assert combine_maps([(d, s)], required=2)[0].size == 0
    for tb in (None, 0.3):
        docs_u, scores = combine_maps([], tb, 1)
        assert docs_u.dtype == np.int64 and scores.dtype == np.float64
        assert docs_u.size == scores.size == 0
    empty = (np.empty(0, np.int64), np.empty(0))
    docs_u, scores = combine_maps([empty, (d, s)])
    assert docs_u.tolist() == d.tolist() and scores.tobytes() == s.tobytes()


def test_combine_maps_two_level_huge_doc_ids():
    """cross_fields' shape — per term a dis_max across fields, then a
    sum across terms gated on the matched-term count — for doc ids near
    2^62, where a packed ``code * dmax + doc`` key wraps int64: equal,
    bit for bit, to the (term code, doc) lexsort grouping it replaced,
    and to a pure-Python groupby summing in input order."""
    import itertools

    rng = np.random.default_rng(7)
    offsets = np.array([0, 1, 5, 2**40, 2**61 + 3], dtype=np.int64)
    n_terms, n_fields, tb = 5, 3, 0.35
    # per (term, field): doc-unique ascending rows
    per_tf = [
        [
            (np.unique(2**62 + rng.choice(offsets, size=rng.integers(0, 6))),)
            for _f in range(n_fields)
        ]
        for _t in range(n_terms)
    ]
    per_tf = [
        [(d, rng.random(d.size)) for (d,) in fields] for fields in per_tf
    ]
    for required in (0, 1, 2, 3):
        term_maps = [
            combine_maps([p for p in fields if p[0].size], tb)
            for fields in per_tf
            if any(p[0].size for p in fields)
        ]
        got = combine_maps(term_maps, required=required)

        # the replaced recipe: rows field-major, grouped by (code, doc)
        codes = np.concatenate([
            np.full(d.size, t, dtype=np.int64)
            for f in range(n_fields)
            for t, fields in enumerate(per_tf)
            for d in (fields[f][0],)
        ])
        doc = np.concatenate(
            [per_tf[t][f][0] for f in range(n_fields) for t in range(n_terms)]
        )
        s = np.concatenate(
            [per_tf[t][f][1] for f in range(n_fields) for t in range(n_terms)]
        )
        order = np.lexsort((doc, codes))
        c_s, d_s = codes[order], doc[order]
        new = np.ones(order.size, dtype=bool)
        new[1:] = (c_s[1:] != c_s[:-1]) | (d_s[1:] != d_s[:-1])
        inv = np.empty(order.size, dtype=np.int64)
        inv[order] = np.cumsum(new) - 1
        kdoc = d_s[new]
        tot = np.bincount(inv, weights=s)
        best = np.full(kdoc.size, -np.inf)
        np.maximum.at(best, inv, s)
        ts = best + tb * (tot - best)
        docs_u, scores, n, _ = group_docs(kdoc, ts)
        keep = n >= required
        assert got[0].tolist() == docs_u[keep].tolist()
        assert got[1].tobytes() == scores[keep].tobytes()

        # pure Python: per (term, doc) dis_max over fields in field
        # order, then per doc the sum over terms in term order
        rows = [
            (t, int(dd), float(v))
            for f in range(n_fields)
            for t in range(n_terms)
            for dd, v in zip(*per_tf[t][f])
        ]
        keyed = sorted(rows, key=lambda r: (r[0], r[1]))  # stable
        per_key = []
        for (t, dd), grp in itertools.groupby(keyed, key=lambda r: r[:2]):
            vals = [r[2] for r in grp]
            b = max(vals)
            per_key.append((dd, b + tb * (sum(vals, 0.0) - b)))
        want = {}
        for dd, v in per_key:
            want.setdefault(dd, []).append(v)
        want = sorted(
            (dd, sum(vs, 0.0)) for dd, vs in want.items()
            if len(vs) >= required
        )
        assert list(zip(got[0].tolist(), got[1].tolist())) == want
        assert all(dd >= 2**62 for dd, _v in want)


def test_live_bag():
    idf = {"a": 1.5, "b": 0.0, "c": 0.2, "d": 3.0}
    bag = live_bag(["d", "a", "b", "zz", "a", "c", "d", "a"], idf)
    assert list(bag.items()) == [("a", 3), ("c", 1), ("d", 2)]
    assert live_bag([], idf) == {} and live_bag(["b", "zz"], idf) == {}


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

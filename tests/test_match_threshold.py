"""``match_threshold`` — the one matched-distinct-term threshold behind
``match`` operator/msm, ``match_bool_prefix`` and cross_fields /
combined_fields — as a pure function over hand-built df/idf maps (no
Spark; the oracle and turbo≡plan tests cover it end to end)."""

import math

import pytest

from elasticsearch_spark.operators.query import QueryEngine, match_threshold

N = 10
DF = {"rare": 2, "mid": 5, "every": N, "also_every": N}
IDF = {t: (math.log((N + 1) / (d + 1)) if d < N else 0.0) for t, d in DF.items()}


def test_and_with_unindexed_term_never_matches():
    assert match_threshold(["rare", "ghost"], DF, IDF, "and", None) is None
    # unindexed terms do not block operator=or
    assert match_threshold(["rare", "ghost"], DF, IDF, "or", None) == 0


def test_and_counts_distinct_live_terms():
    assert match_threshold(["rare", "mid", "rare"], DF, IDF, "and", None) == 2


def test_zero_idf_terms_drop_out_of_and_and_lower_msm():
    # df == N => idf 0: never scored, auto-matches every candidate
    assert match_threshold(["rare", "every"], DF, IDF, "and", None) == 1
    assert match_threshold(["every", "also_every"], DF, IDF, "and", None) == 0
    assert match_threshold(["rare", "mid", "every"], DF, IDF, "or", 3) == 2
    # an unindexed term is not an auto-match: it lowers nothing
    assert match_threshold(["rare", "mid", "ghost"], DF, IDF, "or", 3) == 3


def test_msm_never_below_zero():
    assert match_threshold(["every", "also_every"], DF, IDF, "or", 1) == 0
    assert match_threshold(["rare"], DF, IDF, "or", 0) == 0
    assert match_threshold(["rare"], DF, IDF, "or", None) == 0


def test_unknown_operator_raises():
    with pytest.raises(ValueError):
        match_threshold(["rare"], DF, IDF, "xor", None)


def _bool_prefix(full, exp, operator, msm):
    """``QueryEngine._bool_prefix_clauses``' threshold on a bare engine
    whose analysis, prefix expansion and df/idf lookups are stubbed
    (the last query token is the prefix; ``exp`` its expansions)."""
    eng = object.__new__(QueryEngine)
    eng._terms = lambda q: q.split()
    eng.prefix_expand = lambda pre, max_expansions, order: list(exp)
    eng._df_cache = dict(DF)
    eng.term_idf = lambda ts: {t: IDF.get(t, 0.0) for t in ts}
    got = eng._bool_prefix_clauses(" ".join([*full, "pre"]), 50, operator, msm)
    assert got[:2] == (list(full), list(exp))
    return got[2]


def test_bool_prefix_and_adds_the_prefix_clause():
    assert _bool_prefix(["rare", "mid"], ["pre1"], "and", None) == 3
    assert _bool_prefix([], ["pre1", "pre2"], "and", None) == 1
    assert _bool_prefix(["rare", "every"], ["pre1"], "and", None) == 2


def test_bool_prefix_without_expansions():
    # and: the prefix clause can never match
    assert _bool_prefix(["rare"], [], "and", None) is None
    assert _bool_prefix([], [], "and", None) is None
    # or: only the full-term clauses count
    assert _bool_prefix(["rare", "mid"], [], "or", 2) == 2
    # and with an unindexed full term stays None either way
    assert _bool_prefix(["ghost"], ["pre1"], "and", None) is None


def test_blended_cross_fields_maps():
    # cross_fields: blended df = max over fields, idf from the shared N;
    # every distinct query term is a key of both maps
    bdf = {"title_only": 3, "both": N, "nowhere": 0}
    blended = {t: (math.log((N + 1) / (d + 1)) if d > 0 else 0.0)
               for t, d in bdf.items()}
    blended["both"] = 0.0  # df == N in some field
    terms = ["title_only", "both", "nowhere"]
    assert match_threshold(terms, bdf, blended, "and", None) is None
    assert match_threshold(terms[:2], bdf, blended, "and", None) == 1
    assert match_threshold(terms, bdf, blended, "or", 2) == 1
    assert match_threshold(terms, bdf, blended, "or", None) == 0

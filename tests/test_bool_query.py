"""ES ``bool`` query DSL (must/should/filter/must_not +
minimum_should_match) and the ``regexp`` term-level query: pure-Python
oracle parity, turbo≡plan tier identity, and algebraic reductions to
the already-proven ranked/boolean paths."""

import os

import pytest

from elasticsearch_spark.operators.build import IndexBuilder, IndexConfig
from elasticsearch_spark.operators.query import QueryEngine
from elasticsearch_spark.oracle.engine import OracleIndex
from elasticsearch_spark.sources.webtext import corpus_rows, gen_corpus
from tests.test_spark_engine import INPUT_SCHEMA

N_DOCS = 240


@pytest.fixture(scope="module")
def index_dir(spark, tmp_index_root):
    d = os.path.join(tmp_index_root, "bool_query")
    corpus = spark.createDataFrame(corpus_rows(N_DOCS), INPUT_SCHEMA)
    m = IndexBuilder(spark, d, IndexConfig(n_buckets=8, doc_range_bits=6)).build(corpus)
    assert m["finalized"]
    return d


@pytest.fixture(scope="module")
def turbo(spark, index_dir):
    return QueryEngine(spark, index_dir, turbo=True)


@pytest.fixture(scope="module")
def plan_eng(spark, index_dir):
    return QueryEngine(spark, index_dir, turbo=False)


@pytest.fixture(scope="module")
def oracle():
    docs = [
        (i, d["text"])
        for i, d in enumerate(
            sorted(
                (d for d in gen_corpus(N_DOCS) if d["lang"] == "en"),
                key=lambda d: d["url"],
            )
        )
    ]
    return OracleIndex.build(docs)


# clause combos: (must, should, filter_, must_not, msm) — terms are
# live mid/high-frequency webtext vocabulary ("zo" df~74, "ta" df~56,
# "sazo" df~200, "sparkhead" df~5 at 240 docs); "faducafib" appears in
# EVERY doc, so its idf is 0: dead in scoring context, live in filter
# context — the ES distinction the combos below pin down
COMBOS = [
    (["zo ta"], [], [], [], None),
    (["zo"], ["ta sazo", "sparkhead"], [], [], None),
    ([], ["zo", "ta", "sazo"], [], [], 2),
    ([], ["zo", "ta"], [], [], None),                # default msm=1
    (["zo"], [], ["ta"], ["sparkhead"], None),
    ([], [], ["zo"], ["ta"], None),                  # filter-only
    ([], [], [], ["zo"], None),                      # pure must_not
    (["zo", "nonexistentterm"], [], [], [], None),   # dead must
    (["zo"], [], ["nonexistentterm"], [], None),     # dead filter
    (["zo"], [], [], ["nonexistentterm"], None),     # dead must_not
    ([], ["zo", "ta"], ["sazo"], [], 0),             # msm=0 + filter
    (["faducafib"], [], [], [], None),               # idf-0 must -> empty
    (["zo"], [], ["faducafib"], [], None),           # idf-0 filter matches
    (["zo"], [], [], ["faducafib"], None),           # idf-0 must_not kills all
]


def _cmp(got, want):
    assert got["total_hits"] == want["total_hits"]
    assert [r["doc_id"] for r in got["results"]] == [
        r["doc_id"] for r in want["results"]
    ]
    for a, b in zip(got["results"], want["results"]):
        assert abs(a["score"] - b["score"]) < 1e-9


@pytest.mark.parametrize("must,should,filter_,must_not,msm", COMBOS)
def test_bool_oracle_parity(turbo, oracle, must, should, filter_, must_not, msm):
    got = turbo.bool_search(
        must=must, should=should, filter_=filter_, must_not=must_not,
        minimum_should_match=msm, k=50,
    )
    want = oracle.bool_search(
        must=must, should=should, filter_=filter_, must_not=must_not,
        minimum_should_match=msm, k=50,
    )
    _cmp(got, want)


@pytest.mark.parametrize("must,should,filter_,must_not,msm", COMBOS)
def test_bool_turbo_matches_plan(turbo, plan_eng, must, should, filter_,
                                 must_not, msm):
    got = turbo.bool_search(
        must=must, should=should, filter_=filter_, must_not=must_not,
        minimum_should_match=msm, k=50,
    )
    want = plan_eng.bool_search(
        must=must, should=should, filter_=filter_, must_not=must_not,
        minimum_should_match=msm, k=50,
    )
    _cmp(got, want)


def test_some_combo_has_hits(turbo):
    """Guard against vacuous parity: the main combos must match docs."""
    assert turbo.bool_search(must=["zo ta"], k=5)["total_hits"] > 0
    assert (
        turbo.bool_search(
            should=["zo", "ta", "sazo"],
            minimum_should_match=2, k=5,
        )["total_hits"] > 0
    )
    assert turbo.bool_search(filter_=["zo"], k=5)["total_hits"] > 0
    assert (
        turbo.bool_search(must=["zo"], filter_=["faducafib"], k=5)["total_hits"]
        > 0
    )


def test_bool_single_must_equals_ranked(turbo):
    """bool(must=[q]) degenerates to the plain ranked query.  On the
    turbo tier every one-clause entry point — batch_ranked([q]),
    dis_max([q]), bool(should=[q]) and bool(must=[q]) — scores q's
    live term bag in the same (sorted) term order as ranked(q), so its
    results equal ranked's exactly, scores bit for bit, whatever order
    the terms are typed in (repeated and idf-0 terms included)."""
    got = turbo.bool_search(must=["zo ta"], k=20)
    want = turbo.ranked("zo ta", k=20)
    _cmp(got, want)
    for q in ("zo ta", "ta zo sazo sparkhead", "sparkhead zo ta zo sazo",
              "sazo faducafib ta zo", "nonexistentterm ta zo"):
        want = turbo.ranked(q, k=1000)["results"]
        assert want, q
        assert turbo.batch_ranked([q], k=1000)[q] == want, q
        assert turbo.dis_max([q], k=1000)["results"] == want, q
        assert turbo.bool_search(should=[q], k=1000)["results"] == want, q
        assert turbo.bool_search(must=[q], k=1000)["results"] == want, q


def test_bool_should_default_msm_equals_ranked_intersection_free(turbo):
    """Should-only bool defaults to msm=1 = plain OR scoring = ranked
    over the concatenated query (scores are additive per clause)."""
    got = turbo.bool_search(should=["zo", "ta"], k=30)
    want = turbo.ranked("zo ta", k=30)
    _cmp(got, want)


def test_bool_filter_only_equals_boolean_set(turbo, oracle):
    """Filter-context bool == the boolean set path (AND/NOT algebra),
    with every score 0."""
    res = turbo.bool_search(filter_=["zo"], must_not=["ta"], k=500)
    want = oracle.boolean_query("zo NOT ta")
    assert res["total_hits"] == len(want)
    assert {r["doc_id"] for r in res["results"]} == set(want)
    assert all(r["score"] == 0.0 for r in res["results"])


def test_bool_no_clauses_is_empty(turbo, plan_eng):
    """No clauses at all: msm defaults to 1 with nothing to satisfy."""
    for eng in (turbo, plan_eng):
        assert eng.bool_search()["total_hits"] == 0


def test_bool_pure_must_not_complements_universe(turbo, oracle):
    from elasticsearch_spark.functions.tokenizer import preprocess_query

    res = turbo.bool_search(must_not=["zo"], minimum_should_match=0,
                            k=10_000)
    matched = set()
    for t in preprocess_query("zo"):
        matched |= {d for d, _tf in oracle.postings.get(t, ())}
    want = oracle.all_docs - matched
    assert res["total_hits"] == len(want)
    assert {r["doc_id"] for r in res["results"]} == set(want)


# ---------------------------------------------------------------- regexp

def test_regexp_expand_matches_dictionary(spark, turbo, index_dir):
    """Expansion == dictionary full-match with live df > 0, ordered
    (df desc, term asc), capped — recomputed independently from the
    dictionary table."""
    import os
    import re

    rows = (
        spark.read.parquet(os.path.join(index_dir, "dictionary"))
        .select("term", "df").collect()
    )
    df_map = {}
    for r in rows:
        df_map[r["term"]] = df_map.get(r["term"], 0) + r["df"]
    rx = re.compile(r"[a-z]*o")
    want_all = sorted(
        ((t, d) for t, d in df_map.items() if d > 0 and rx.fullmatch(t)),
        key=lambda x: (-x[1], x[0]),
    )
    assert len(want_all) > 10, "corpus should contain plenty of *o terms"
    got = turbo.regexp_expand("[a-z]*o", max_expansions=10)
    assert got == [t for t, _d in want_all[:10]]
    # anchoring: a literal pattern matches only the exact term
    assert turbo.regexp_expand("zo", max_expansions=1000) == ["zo"]


def test_regexp_matches_wildcard_equivalent(turbo):
    """A regexp stated as the equivalent wildcard must expand to the
    same terms (s?z* == s.z.*, around the live term 'sazo')."""
    got = turbo.regexp_expand("s.z.*", max_expansions=200)
    assert "sazo" in got
    assert got == turbo.wildcard_expand("s?z*", max_expansions=200)


def test_regexp_ranked_equals_terms_bypass(turbo):
    terms = turbo.regexp_expand("s.z.*")
    assert terms
    got = turbo.regexp_ranked("s.z.*", k=15)
    want = turbo.ranked("ignored", k=15, terms=terms)
    assert [r["doc_id"] for r in got["results"]] == [
        r["doc_id"] for r in want["results"]
    ]
    assert got["total_hits"] == want["total_hits"]


# ----------------------------- collapse / rescore / function_score (ES)

@pytest.fixture(scope="module")
def dims(spark, index_dir):
    """External attribute table: collapse key (url-hash group) and a
    numeric field (doc_len), one row per live doc."""
    from pyspark.sql import functions as F

    from elasticsearch_spark.operators.reader import live_docs

    df = live_docs(spark, index_dir).select(
        "doc_id",
        (F.abs(F.hash("url")) % 4).alias("grp"),
        F.col("doc_len").alias("val"),
    ).cache()
    yield df
    # the shared session's cache must stay empty across modules
    # (test_update_hardening asserts it)
    df.unpersist()


def test_collapse_one_per_key_and_best(plan_eng, dims):
    rows = plan_eng.collapse_plan("zo ta", dims, col="grp").collect()
    keys = [r["grp"] for r in rows]
    assert len(keys) == len(set(keys)), "one representative per key"
    # representative == argmax (score_r desc, doc_id asc) of its group
    full = (
        plan_eng.score_plan("zo ta")
        .join(dims, "doc_id")
        .selectExpr("doc_id", "grp", "round(score, 6) AS score_r")
        .collect()
    )
    best = {}
    for r in sorted(full, key=lambda r: (-r["score_r"], r["doc_id"])):
        best.setdefault(r["grp"], (r["doc_id"], r["score_r"]))
    assert {r["grp"]: (r["doc_id"], r["score_r"]) for r in rows} == best


def test_rescore_zero_weight_is_first_pass_window(plan_eng):
    got = {
        r["doc_id"]: r["score"]
        for r in plan_eng.rescore_plan(
            "zo ta", "sazo", window_size=15, rescore_weight=0.0
        ).collect()
    }
    want_rows = (
        plan_eng.score_plan("zo ta")
        .selectExpr("doc_id", "round(score, 6) AS s1")
        .collect()
    )
    want = {
        r["doc_id"]: r["s1"]
        for r in sorted(want_rows, key=lambda r: (-r["s1"], r["doc_id"]))[:15]
    }
    assert got == want


def test_rescore_combines_secondary(plan_eng):
    rows = plan_eng.rescore_plan(
        "zo ta", "sazo", window_size=10, query_weight=0.5, rescore_weight=2.0
    ).collect()
    assert 0 < len(rows) <= 10
    s1 = {
        r["doc_id"]: r["s1"]
        for r in plan_eng.score_plan("zo ta")
        .selectExpr("doc_id", "round(score, 6) AS s1").collect()
    }
    s2 = {
        r["doc_id"]: r["s2"]
        for r in plan_eng.score_plan("sazo")
        .selectExpr("doc_id", "round(score, 6) AS s2").collect()
    }
    for r in rows:
        want = 0.5 * s1[r["doc_id"]] + 2.0 * s2.get(r["doc_id"], 0.0)
        assert abs(r["score"] - want) < 1e-9


def test_rescore_dead_secondary_keeps_first_pass(plan_eng):
    got = {
        r["doc_id"]: r["score"]
        for r in plan_eng.rescore_plan(
            "zo ta", "nonexistentterm", window_size=12
        ).collect()
    }
    assert got and all(v >= 0 for v in got.values())


@pytest.mark.parametrize("modifier,boost_mode", [
    ("none", "multiply"), ("ln1p", "multiply"), ("log1p", "sum"),
    ("sqrt", "multiply"), ("square", "sum"),
])
def test_function_score_formula(plan_eng, dims, modifier, boost_mode):
    import math

    rows = plan_eng.function_score_plan(
        "zo ta", dims, field="val", modifier=modifier, factor=0.5,
        boost_mode=boost_mode,
    ).collect()
    assert rows
    base = {
        r["doc_id"]: r["score"]
        for r in plan_eng.score_plan("zo ta").collect()
    }
    vals = {r["doc_id"]: r["val"] for r in dims.collect()}
    mod = {
        "none": lambda x: x,
        "ln1p": lambda x: math.log(1 + x),
        "log1p": lambda x: math.log10(1 + x),
        "sqrt": math.sqrt,
        "square": lambda x: x * x,
    }[modifier]
    for r in rows:
        fv = mod(0.5 * vals[r["doc_id"]])
        want = base[r["doc_id"]] * fv if boost_mode == "multiply" \
            else base[r["doc_id"]] + fv
        assert abs(r["score"] - want) < 1e-9


def test_function_score_missing_substitutes(spark, plan_eng, dims):
    """Docs absent from the attribute table score with the ``missing``
    value (ES parameter) instead of dropping out."""
    some = dims.limit(3)
    rows = plan_eng.function_score_plan(
        "zo ta", some, field="val", modifier="none", factor=1.0,
        boost_mode="multiply", missing=7.0,
    ).collect()
    present = {r["doc_id"] for r in some.collect()}
    base = {
        r["doc_id"]: r["score"]
        for r in plan_eng.score_plan("zo ta").collect()
    }
    assert {r["doc_id"] for r in rows} == set(base)
    for r in rows:
        if r["doc_id"] not in present:
            assert abs(r["score"] - base[r["doc_id"]] * 7.0) < 1e-9


# ---------------------------------------------------------- explain (ES)

@pytest.mark.parametrize("method", ["bm25", "tfidf"])
def test_explain_total_equals_ranked_score(turbo, method):
    res = turbo.ranked("zo ta", k=3, method=method)
    assert res["results"]
    for r in res["results"]:
        exp = turbo.explain("zo ta", r["doc_id"], method=method)
        assert abs(exp["total"] - r["score"]) < 1e-9
        assert exp["matched"]
        assert abs(
            sum(t["contribution"] for t in exp["terms"]) - exp["total"]
        ) < 1e-12


def test_explain_term_details_match_oracle(turbo, oracle):
    doc = turbo.ranked("zo ta", k=1)["results"][0]["doc_id"]
    exp = turbo.explain("zo ta", doc)
    assert {t["term"] for t in exp["terms"]} == {"zo", "ta"}
    for t in exp["terms"]:
        assert t["df"] == oracle.df(t["term"])
        assert abs(t["idf"] - oracle.idf[t["term"]]) < 1e-12
        want_tf = dict(oracle.postings[t["term"]]).get(doc, 0)
        assert t["tf"] == want_tf


def test_explain_nonmatching_doc(turbo, oracle):
    # a doc with neither term: any doc outside the OR set
    hit_docs = {d for t in ("zo", "ta") for d, _ in oracle.postings[t]}
    miss = sorted(oracle.all_docs - hit_docs)[0]
    exp = turbo.explain("zo ta", miss)
    assert exp["total"] == 0.0 and not exp["matched"]
    assert all(t["contribution"] == 0.0 for t in exp["terms"])


def test_explain_unknown_query(turbo):
    exp = turbo.explain("nonexistentterm", 0)
    assert exp["total"] == 0.0 and not exp["matched"]
    assert exp["terms"][0]["df"] == 0

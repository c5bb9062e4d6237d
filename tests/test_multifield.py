"""Multi-field index + ES multi_match vs the pure-Python oracle.

The reference's actual ES ground-truth query is ``multi_match`` with
``type: best_fields`` over ``fields: ["title^2", "text"]``
(/root/reference/elasticsearch_indexer.py:122-149; boosted-title mapping
:54-62).  These tests build a two-field index (title = leading words of
each doc, text = the full doc) through the full preprocessing pipeline
and require rank identity + 1e-9 score equality against per-field
OracleIndexes combined by the oracle's multi_match, for best_fields
(tie_breaker 0 and 0.35) and most_fields; plus turbo ≡ plan identity,
byte-identity of a ``fields/<f>/`` sub-index with a standalone
single-field build, and O(delta) update ≡ rebuild.
"""

import hashlib
import os

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from elasticsearch_spark.operators.build import IndexBuilder, IndexConfig
from elasticsearch_spark.operators.multifield import (
    MultiFieldIndexBuilder,
    MultiMatchEngine,
    parse_fields,
)
from elasticsearch_spark.oracle.engine import OracleIndex, multi_match_query
from elasticsearch_spark.sources.webtext import gen_corpus

N_DOCS = 150

SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("url", T.StringType()),
        T.StructField("title", T.StringType()),
        T.StructField("text", T.StringType()),
    ]
)

QUERIES = [
    "machine learning",
    "sparkhead",
    "running studies dying",
    "zo ta ne",
    "nonexistentterm",
]

VARIANTS = [
    ("best_fields", 0.0),
    ("best_fields", 0.35),
    ("most_fields", 0.0),
]

CFG = IndexConfig(n_buckets=8, doc_range_bits=6, lang=None,
                  pretokenized=False, use_html=False, positional=True)


REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _field_rows(n):
    """(doc_id, url, title, text) with the reference queryset's vocab
    mixed into the corpus so the golden-queryset run below has hits."""
    from elasticsearch_spark.sources.webtext import query_vocab

    pool = query_vocab(os.path.join(REPO, "fixtures", "queryset.json"))
    rows = []
    for i, d in enumerate(gen_corpus(n, mix_words=pool)):
        words = d["text"].split()
        rows.append((i, d["url"], " ".join(words[:4]), d["text"]))
    return rows


@pytest.fixture(scope="module")
def rows():
    return _field_rows(N_DOCS)


@pytest.fixture(scope="module")
def mf_dir(spark, tmp_index_root, rows):
    d = os.path.join(tmp_index_root, "multifield")
    MultiFieldIndexBuilder(spark, d, ["title", "text"], CFG).build(
        spark.createDataFrame(rows, SCHEMA)
    )
    return d


@pytest.fixture(scope="module")
def mf_engine(spark, mf_dir):
    return MultiMatchEngine(spark, mf_dir)


@pytest.fixture(scope="module")
def oracles(rows):
    return {
        "title": OracleIndex.build([(i, t) for i, _u, t, _x in rows]),
        "text": OracleIndex.build([(i, x) for i, _u, _t, x in rows]),
    }


BOOSTS = {"title": 2.0, "text": 1.0}


def _assert_same(got: dict, want: dict, ctx: str):
    assert [r["doc_id"] for r in got["results"]] == [
        r["doc_id"] for r in want["results"]
    ], ctx
    for g, w in zip(got["results"], want["results"]):
        assert abs(g["score"] - w["score"]) < 1e-9, ctx
    assert got["total_hits"] == want["total_hits"], ctx


@pytest.mark.parametrize("query", QUERIES)
@pytest.mark.parametrize("match_type,tie", VARIANTS)
def test_multi_match_matches_oracle(mf_engine, oracles, query, match_type, tie):
    got = mf_engine.multi_match(
        query, k=10, fields=["title^2", "text"],
        match_type=match_type, tie_breaker=tie,
    )
    want = multi_match_query(
        oracles, BOOSTS, query, k=10, match_type=match_type, tie_breaker=tie
    )
    _assert_same(got, want, f"{query!r} {match_type} tb={tie}")


@pytest.mark.parametrize("match_type,tie", VARIANTS)
def test_turbo_matches_plan(spark, mf_dir, oracles, match_type, tie):
    """The driver-side turbo combine must be result-identical to the
    distributed plan path (same doc ids, scores to 1e-9, total_hits)."""
    turbo = MultiMatchEngine(spark, mf_dir, turbo=True)
    plan = MultiMatchEngine(spark, mf_dir, turbo=False)
    for query in ("machine learning", "running studies dying"):
        got_t = turbo.multi_match(query, k=10, fields=BOOSTS,
                                  match_type=match_type, tie_breaker=tie)
        got_p = plan.multi_match(query, k=10, fields=BOOSTS,
                                 match_type=match_type, tie_breaker=tie)
        _assert_same(got_t, got_p, f"{query!r} {match_type} tb={tie}")


def _tree_content_hashes(root: str):
    """Sorted sha256 of every data file under a table tree, name-blind
    (Spark part-file names embed job UUIDs; the CONTENT must match)."""
    out = []
    for r, _dirs, files in os.walk(root):
        for f in files:
            if f.startswith(("_", ".")):
                continue  # _SUCCESS, CRC sidecars
            with open(os.path.join(r, f), "rb") as fh:
                out.append(
                    (os.path.relpath(r, root), hashlib.sha256(fh.read()).hexdigest())
                )
    return sorted(out)


def test_field_subindex_byte_identical_to_standalone(
    spark, tmp_index_root, rows, mf_dir
):
    """The multi-field build reuses IndexBuilder untouched: the
    ``fields/text/`` tree must be byte-identical (per partition-dir
    file contents) to a standalone single-field build of the same
    column — proof the single-field layout is unchanged."""
    solo = os.path.join(tmp_index_root, "solo_text")
    IndexBuilder(spark, solo, CFG).build(
        spark.createDataFrame(rows, SCHEMA).select("doc_id", "url", "text")
    )
    for table in ("postings", "dictionary", "blocks", "docs"):
        a = _tree_content_hashes(os.path.join(mf_dir, "fields", "text", table))
        b = _tree_content_hashes(os.path.join(solo, table))
        assert a == b, table


def test_update_add_matches_rebuild(spark, tmp_index_root, rows, oracles):
    """O(delta) multi-field update: base build on the first 100 docs +
    update_index(add=last 50) must score multi_match identically to the
    full-corpus oracle (both fields' deltas + live df merge)."""
    d = os.path.join(tmp_index_root, "multifield_inc")
    base = spark.createDataFrame(rows[:100], SCHEMA)
    delta = spark.createDataFrame(rows[100:], SCHEMA)
    b = MultiFieldIndexBuilder(spark, d, ["title", "text"], CFG)
    b.build(base)
    MultiFieldIndexBuilder.open(spark, d).update_index(add=delta, compact=False)
    eng = MultiMatchEngine(spark, d)
    for query in ("machine learning", "running studies dying"):
        got = eng.multi_match(query, k=10, fields=BOOSTS)
        want = multi_match_query(oracles, BOOSTS, query, k=10)
        _assert_same(got, want, query)


@pytest.mark.parametrize("phrase,slop,mode", [
    ("machine learning", 0, "ordered"),
    ("machine learning", 2, "ordered"),
    ("learning machine", 2, "moves"),
])
def test_multi_match_phrase_matches_oracle(mf_engine, oracles, phrase,
                                           slop, mode):
    """multi_match type=phrase: per-field scored match_phrase combined
    dis_max-style ≡ the per-field oracle composition."""
    from elasticsearch_spark.oracle.engine import multi_match_phrase_query

    got = mf_engine.multi_match(
        phrase, k=10, fields=["title^2", "text"], match_type="phrase",
        slop=slop, slop_mode=mode,
    )
    want = multi_match_phrase_query(
        oracles, BOOSTS, phrase, k=10, slop=slop, slop_mode=mode
    )
    _assert_same(got, want, f"{phrase!r} slop={slop} {mode}")


def test_multi_match_phrase_title_hits_nonvacuous(mf_engine, oracles, rows):
    """Non-vacuous phrase coverage: find a bigram that actually occurs
    inside titles in this corpus and require engine ≡ oracle on it
    (both fields contributing, boost applied)."""
    from elasticsearch_spark.oracle.engine import multi_match_phrase_query

    found = None
    for _i, _u, title, _x in rows[:100]:
        words = title.split()
        for j in range(len(words) - 1):
            cand = f"{words[j]} {words[j + 1]}"
            if oracles["title"].phrase_bm25_scores(cand):
                found = cand
                break
        if found:
            break
    assert found, "no title bigram survives the pipeline — fixture drifted"
    got = mf_engine.multi_match(
        found, k=1000, fields=["title^2", "text"], match_type="phrase"
    )
    want = multi_match_phrase_query(oracles, BOOSTS, found, k=1000)
    assert want["results"]
    _assert_same(got, want, found)


def test_reference_queryset_multi_match(mf_engine, oracles):
    """Golden-suite extension (boosted-title cases): every ranked query
    from the reference's own queryset fixture, served as ES would serve
    it — multi_match best_fields over title^2/text — must be
    rank-identical to the per-field oracle with 1e-9 scores."""
    import json
    import re

    with open(os.path.join(REPO, "fixtures", "queryset.json")) as f:
        queries = json.load(f)["queries"]
    ranked = [
        q for q in queries
        if not re.search(r"\b(AND|OR|NOT)\b", q) and "(" not in q
    ]
    assert len(ranked) >= 50
    n_hits = 0
    for q in ranked:
        got = mf_engine.multi_match(q, k=10, fields=["title^2", "text"])
        want = multi_match_query(oracles, BOOSTS, q, k=10)
        _assert_same(got, want, q)
        n_hits += bool(want["results"])
    assert n_hits >= len(ranked) // 2  # the mix made most queries real


def test_parse_fields():
    assert parse_fields(["title^2", "text"]) == {"title": 2.0, "text": 1.0}
    assert parse_fields(["a^1.5"]) == {"a": 1.5}
    assert parse_fields({"x": 3}) == {"x": 3.0}
    assert parse_fields(None, default=["p", "q"]) == {"p": 1.0, "q": 1.0}


def test_unknown_field_raises(mf_engine):
    with pytest.raises(KeyError):
        mf_engine.multi_match_plan("machine", fields=["body"])
    with pytest.raises(KeyError):
        mf_engine.multi_match("machine", fields={"body": 1.0})


def test_unindexed_query_empty(mf_engine):
    got = mf_engine.multi_match("nonexistentterm", k=10, fields=BOOSTS)
    assert got["results"] == [] and got["total_hits"] == 0
    assert mf_engine.multi_match_plan("nonexistentterm", BOOSTS) is None


def test_unsupported_type_raises(mf_engine):
    with pytest.raises(ValueError):
        mf_engine.multi_match_plan("machine", BOOSTS, match_type="nope")
    with pytest.raises(ValueError):
        mf_engine.multi_match("machine", fields=BOOSTS, match_type="nope")


def test_multi_match_bool_prefix_matches_oracle(mf_engine, oracles):
    """ES multi_match type=bool_prefix (search-as-you-type): per-field
    match_bool_prefix (scored full terms + constant-score trailing
    prefix, expanded against each field's own dictionary) SUMMED across
    fields (ES documents bool_prefix scoring as most_fields-style)
    ≡ the oracle, incl. operator=and and minimum_should_match."""
    from elasticsearch_spark.oracle.engine import (
        multi_match_bool_prefix_query,
    )

    cases = [
        ("machine le", "or", None),
        ("machine learning st", "or", 2),
        ("machine le", "and", None),
        ("le", "or", None),              # pure prefix clause
        ("nonexistentterm xx", "or", None),
    ]
    hit_any = False
    for q, op, msm in cases:
        got = mf_engine.multi_match(
            q, k=1000, fields=["title^2", "text"], match_type="bool_prefix",
            operator=op, minimum_should_match=msm,
        )
        want = multi_match_bool_prefix_query(
            oracles, BOOSTS, q, k=1000, operator=op,
            minimum_should_match=msm,
        )
        _assert_same(got, want, (q, op, msm))
        hit_any = hit_any or bool(got["results"])
    assert hit_any, "bool_prefix suite never hit — fixture drifted"


def test_combined_fields_matches_oracle(spark, mf_dir, mf_engine, oracles):
    """ES ``combined_fields`` (Lucene CombinedFieldQuery — merged-stats
    BM25F: combined tf/norm/avgdl, max-df idf, ONE saturation per term)
    ≡ the oracle on BOTH serving tiers, incl. operator=and and
    minimum_should_match."""
    from elasticsearch_spark.oracle.engine import combined_fields_query

    plan_eng = MultiMatchEngine(spark, mf_dir, turbo=False)
    cases = [
        ("machine learning", "or", None),
        ("running studies dying", "or", 2),
        ("machine learning", "and", None),
        ("nonexistentterm machine", "and", None),   # unmatchable MUST
        ("nonexistentterm", "or", None),
    ]
    hit_any = False
    for q, op, msm in cases:
        want = combined_fields_query(
            oracles, BOOSTS, q, k=1000, operator=op,
            minimum_should_match=msm,
        )
        for eng in (mf_engine, plan_eng):
            got = eng.combined_fields(
                q, k=1000, fields=["title^2", "text"], operator=op,
                minimum_should_match=msm,
            )
            _assert_same(got, want, (q, op, msm, eng is mf_engine))
        hit_any = hit_any or bool(want["results"])
    assert hit_any, "combined_fields suite never hit — fixture drifted"


def test_combined_fields_differs_from_cross_fields(mf_engine, oracles):
    """combined_fields is a DIFFERENT scoring family than cross_fields
    (one merged saturation vs per-field dis_max): on a query hitting
    both fields with boost 2 the two must disagree on at least one
    score — guards against one being silently implemented as the
    other."""
    q = "machine learning"
    cf = mf_engine.combined_fields(q, k=10, fields=["title^2", "text"])
    xf = mf_engine.multi_match(q, k=10, fields=["title^2", "text"],
                               match_type="cross_fields")
    assert cf["results"] and xf["results"]
    cf_scores = {r["doc_id"]: r["score"] for r in cf["results"]}
    xf_scores = {r["doc_id"]: r["score"] for r in xf["results"]}
    common = set(cf_scores) & set(xf_scores)
    assert any(abs(cf_scores[d] - xf_scores[d]) > 1e-9 for d in common)


def test_streaming_update_multifield(spark, tmp_index_root, rows, oracles):
    """Continuous multi-field ingestion: base build on the first 100
    docs, the last 50 streamed in as micro-batch delta segments (one
    shared segment name across fields per batch) — multi_match on the
    live merged view must equal the full-corpus oracle."""
    from elasticsearch_spark.oracle.engine import multi_match_query as mmq
    from elasticsearch_spark.streaming.ingest import stream_update_multifield

    d = os.path.join(tmp_index_root, "multifield_stream")
    MultiFieldIndexBuilder(spark, d, ["title", "text"], CFG).build(
        spark.createDataFrame(rows[:100], SCHEMA)
    )
    inp = os.path.join(tmp_index_root, "mf_stream_input")
    (
        spark.createDataFrame(rows[100:], SCHEMA)
        .repartition(2)
        .write.mode("overwrite")
        .parquet(inp)
    )
    out = stream_update_multifield(
        spark, inp, d, SCHEMA, max_files_per_trigger=1, compact=False
    )
    assert out["fields"] == ["title", "text"]
    eng = MultiMatchEngine(spark, d)
    for query in ("machine learning", "running studies dying"):
        got = eng.multi_match(query, k=10, fields=BOOSTS)
        want = mmq(oracles, BOOSTS, query, k=10)
        _assert_same(got, want, query)
    # replayed stream (same input, same checkpoint) is a no-op
    again = stream_update_multifield(
        spark, inp, d, SCHEMA, max_files_per_trigger=1, compact=False
    )
    assert again["fields"] == ["title", "text"]
    eng2 = MultiMatchEngine(spark, d)
    got = eng2.multi_match("machine learning", k=10, fields=BOOSTS)
    want = mmq(oracles, BOOSTS, "machine learning", k=10)
    _assert_same(got, want, "replay")


def test_update_url_only_rows_get_noncolliding_ids(
    spark, tmp_index_root, rows, oracles
):
    """update_index(add=<rows WITHOUT a doc_id column>) must offset the
    freshly assigned ids past every field's live id range — a dense
    from-0 assignment would collide with base ids and (because the
    per-field update preserves a doc_id column verbatim) silently
    corrupt the index.  Checked by id-disjointness of the docs table
    AND score identity (via url) with the full-corpus oracle."""
    url_schema = T.StructType([f for f in SCHEMA if f.name != "doc_id"])
    d = os.path.join(tmp_index_root, "multifield_urlonly")
    base = spark.createDataFrame(
        [(u, t, x) for _i, u, t, x in rows[:100]], url_schema
    )
    delta = spark.createDataFrame(
        [(u, t, x) for _i, u, t, x in rows[100:]], url_schema
    )
    b = MultiFieldIndexBuilder(spark, d, ["title", "text"], CFG)
    b.build(base)
    MultiFieldIndexBuilder.open(spark, d).update_index(add=delta, compact=False)
    from elasticsearch_spark.operators.reader import live_docs

    docs = live_docs(spark, os.path.join(d, "fields", "text"))
    n_ids = docs.select("doc_id").distinct().count()
    assert docs.count() == len(rows) and n_ids == len(rows)
    id2url = {r["doc_id"]: r["url"] for r in docs.collect()}
    url2oid = {u: i for i, u, _t, _x in rows}
    eng = MultiMatchEngine(spark, d)
    for query in ("machine learning", "running studies dying"):
        got = eng.multi_match(query, k=10, fields=BOOSTS)
        want = multi_match_query(oracles, BOOSTS, query, k=10)
        assert got["total_hits"] == want["total_hits"], query
        assert [url2oid[id2url[r["doc_id"]]] for r in got["results"]] == [
            r["doc_id"] for r in want["results"]
        ], query
        for g, w in zip(got["results"], want["results"]):
            assert abs(g["score"] - w["score"]) < 1e-9, query


# ----------------------------------- cross_fields / phrase_prefix (round 5)

@pytest.mark.parametrize("query", [
    "machine learning",
    "sparkhead",
    "running studies dying",
    "nonexistentterm",
])
@pytest.mark.parametrize("tie,operator,msm", [
    (0.0, "or", None),
    (0.35, "or", None),
    (0.0, "and", None),
    (0.0, "or", 2),
])
def test_multi_match_cross_fields_matches_oracle(mf_engine, oracles, query,
                                                 tie, operator, msm):
    """ES multi_match type=cross_fields (term-centric BlendedTermQuery:
    max-df blended idf, field-local norms, per-term dis_max, sum over
    terms, operator/msm on distinct matched terms) ≡ the oracle."""
    from elasticsearch_spark.oracle.engine import cross_fields_query

    got = mf_engine.multi_match(
        query, k=10, fields=["title^2", "text"], match_type="cross_fields",
        tie_breaker=tie, operator=operator, minimum_should_match=msm,
    )
    want = cross_fields_query(
        oracles, BOOSTS, query, k=10, tie_breaker=tie, operator=operator,
        minimum_should_match=msm,
    )
    _assert_same(got, want, f"{query!r} tb={tie} {operator} msm={msm}")


@pytest.mark.parametrize("tie,operator,msm", [
    (0.0, "or", None), (0.35, "and", None), (0.0, "or", 2),
])
def test_cross_fields_turbo_matches_plan(spark, mf_dir, tie, operator, msm):
    """cross_fields turbo twin ≡ plan tier."""
    t_eng = MultiMatchEngine(spark, mf_dir, turbo=True)
    p_eng = MultiMatchEngine(spark, mf_dir, turbo=False)
    for query in ("machine learning", "running studies dying"):
        got_t = t_eng.multi_match(
            query, k=10, fields=BOOSTS, match_type="cross_fields",
            tie_breaker=tie, operator=operator, minimum_should_match=msm,
        )
        got_p = p_eng.multi_match(
            query, k=10, fields=BOOSTS, match_type="cross_fields",
            tie_breaker=tie, operator=operator, minimum_should_match=msm,
        )
        _assert_same(got_t, got_p, f"{query!r} tb={tie} {operator} msm={msm}")


def test_multi_match_phrase_prefix_matches_oracle(mf_engine, oracles, rows):
    """ES multi_match type=phrase_prefix: per-field SCORED
    match_phrase_prefix (last token expands against each field's own
    dictionary, MultiPhraseQuery sum-idf scoring) combined
    dis_max-style ≡ the oracle.  Uses a title bigram's leading word +
    a 2-char prefix of its trailing word so the title field genuinely
    expands and matches."""
    from elasticsearch_spark.oracle.engine import (
        multi_match_phrase_prefix_query,
    )

    found = None
    for _i, _u, title, _x in rows[:100]:
        words = title.split()
        for j in range(len(words) - 1):
            if oracles["title"].phrase_bm25_scores(
                f"{words[j]} {words[j + 1]}"
            ):
                found = f"{words[j]} {words[j + 1][:2]}"
                break
        if found:
            break
    assert found, "no title bigram survives the pipeline — fixture drifted"
    queries = [found, "machine le", "nonexistentterm xx"]
    for q in queries:
        got = mf_engine.multi_match(
            q, k=1000, fields=["title^2", "text"], match_type="phrase_prefix"
        )
        want = multi_match_phrase_prefix_query(oracles, BOOSTS, q, k=1000)
        _assert_same(got, want, q)
    # non-vacuous: the derived query must actually hit
    got = mf_engine.multi_match(
        found, k=10, fields=["title^2", "text"], match_type="phrase_prefix"
    )
    assert got["total_hits"] > 0


def test_mpp_scored_plan_matches_oracle_single_field(spark, mf_dir, oracles):
    """Single-field scored match_phrase_prefix plan ≡ oracle mpp_scores
    (doc set, counts, scores)."""
    from elasticsearch_spark.operators.query import QueryEngine

    eng = QueryEngine(spark, os.path.join(mf_dir, "fields", "text"))
    for q in ("machine le", "running stu"):
        plan = eng.match_phrase_prefix_scored_plan(q)
        got = ({} if plan is None else {
            r["doc_id"]: (r["n_occurrences"], r["score"])
            for r in plan.collect()
        })
        want = oracles["text"].mpp_scores(q)
        assert set(got) == set(want), q
        for d in want:
            assert got[d][0] == want[d][0], (q, d)
            assert abs(got[d][1] - want[d][1]) < 1e-9, (q, d)


def test_multi_match_fetch_source(spark, mf_engine, rows):
    """multi_match(source=...) attaches _source (url + fields) through
    the shared doc-id space."""
    src = spark.createDataFrame(
        [(u, t) for _i, u, t, _x in rows], "url string, title string"
    )
    res = mf_engine.multi_match(
        "machine learning", k=5, fields=["title^2", "text"],
        source=src, source_fields=["title"],
    )
    assert res["results"]
    url_of = {i: u for i, u, _t, _x in rows}
    title_of = {u: t for _i, u, t, _x in rows}
    for hit in res["results"]:
        s = hit["_source"]
        assert s["url"] == url_of[hit["doc_id"]]
        assert s["title"] == title_of[s["url"]]


@pytest.mark.parametrize("match_type,tie", VARIANTS)
def test_multi_match_wand_matches_plan(spark, mf_dir, match_type, tie):
    """Multi-field block-max WAND ≡ the exhaustive plan tier (doc ids
    and scores) for best_fields (tb 0/0.35) and most_fields — the
    lossless UB algebra: best_fields UB = (1−tb)·max_f UB_f +
    tb·Σ_f UB_f, most_fields UB = Σ_f UB_f."""
    from elasticsearch_spark.operators.multifield import MultiMatchWand

    mmw = MultiMatchWand(spark, mf_dir)
    plan = MultiMatchEngine(spark, mf_dir, turbo=False)
    for query in ("machine learning", "running studies dying",
                  "sparkhead", "nonexistentterm"):
        got = mmw.topk(query, k=10, fields=BOOSTS, match_type=match_type,
                       tie_breaker=tie, with_stats=True)
        want = plan.multi_match(query, k=10, fields=BOOSTS,
                                match_type=match_type, tie_breaker=tie,
                                with_total_hits=False)
        assert [r["doc_id"] for r in got["results"]] == [
            r["doc_id"] for r in want["results"]
        ], (query, match_type, tie)
        for g, w in zip(got["results"], want["results"]):
            assert abs(g["score"] - w["score"]) < 1e-9, (query, match_type)
        st = got["stats"]
        assert st["blocks_decoded"] == st["blocks_total"]
        assert st["ranges_scored"] == st["ranges_total"]
        assert (st["blocks_total"] > 0) == bool(want["results"]), query


def test_multi_match_wand_cutover_serves_plan(spark, mf_dir, monkeypatch):
    """Above QueryEngine's turbo cutover MultiMatchWand must serve from
    the distributed plan — Spark jobs run, the result equals the plan
    tier's, and the work stats equal the turbo tier's count."""
    from elasticsearch_spark.operators.multifield import MultiMatchWand
    from elasticsearch_spark.operators.query import QueryEngine

    query = "machine learning"
    turbo_stats = MultiMatchWand(spark, mf_dir).topk(
        query, k=10, fields=BOOSTS, with_stats=True
    )["stats"]
    monkeypatch.setattr(QueryEngine, "TURBO_MAX_POSTINGS", 0)
    mmw = MultiMatchWand(spark, mf_dir)
    sc = spark.sparkContext
    group = "multi_match_wand_cutover"
    sc.setLocalProperty("spark.jobGroup.id", group)
    try:
        got = mmw.topk(query, k=10, fields=BOOSTS, with_stats=True)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert len(sc.statusTracker().getJobIdsForGroup(group)) >= 1
    want = MultiMatchEngine(spark, mf_dir, turbo=False).multi_match(
        query, k=10, fields=BOOSTS, with_total_hits=False
    )
    assert got.pop("stats") == turbo_stats
    assert want["results"] and got == want


def test_multi_match_wand_rejects_bad_args(spark, mf_dir):
    from elasticsearch_spark.operators.multifield import MultiMatchWand

    mmw = MultiMatchWand(spark, mf_dir)
    with pytest.raises(ValueError):
        mmw.topk("machine", match_type="phrase")
    with pytest.raises(ValueError):
        mmw.topk("machine", tie_breaker=1.5)
    with pytest.raises(KeyError):
        mmw.topk("machine", fields=["nosuchfield"])


def test_multi_match_operator_msm_best_most(mf_engine, oracles):
    """ES honors operator/minimum_should_match on best_fields and
    most_fields by applying them to EACH per-field match — previously
    these knobs were silently ignored for those types."""
    from elasticsearch_spark.oracle.engine import multi_match_query

    cases = [
        ("machine learning", "best_fields", "and", None),
        ("machine learning studies", "most_fields", "or", 2),
        ("machine nonexistentterm", "best_fields", "and", None),  # empty
    ]
    hit_any = False
    for q, mt, op, msm in cases:
        got = mf_engine.multi_match(
            q, k=1000, fields=["title^2", "text"], match_type=mt,
            operator=op, minimum_should_match=msm,
        )
        want = multi_match_query(
            oracles, BOOSTS, q, k=1000, match_type=mt, operator=op,
            minimum_should_match=msm,
        )
        _assert_same(got, want, (q, mt, op, msm))
        hit_any = hit_any or bool(want["results"])
    assert hit_any, "operator/msm multi_match suite never hit"

"""End-to-end Spark engine vs pure-Python oracle (SURVEY.md §5.2).

Builds the index over the synthetic webtext corpus with the Spark engine
and requires rank-identical top-k with scores equal to 1e-9 against the
oracle, for ranked (BM25 + TF-IDF) and boolean queries; plus doc-id
determinism and the segment-checkpoint resume property.
"""

import os

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from elasticsearch_spark.operators.build import IndexBuilder, IndexConfig, assign_doc_ids
from elasticsearch_spark.operators.query import QueryEngine
from elasticsearch_spark.oracle.engine import OracleIndex
from elasticsearch_spark.sources.webtext import corpus_rows, gen_corpus

N_DOCS = 400

INPUT_SCHEMA = T.StructType(
    [
        T.StructField("url", T.StringType()),
        T.StructField("warc_ts", T.TimestampType()),
        T.StructField("html", T.BinaryType()),
        T.StructField("text", T.StringType()),
        T.StructField("lang", T.StringType()),
    ]
)

RANKED_QUERIES = [
    "ba",  # likely head term (short, may be filtered by len<2 -> empty)
    "machine learning",
    "sparkhead",  # the skew head token
    "zo ta ne",
    "running studies dying",
    "nonexistentterm",
    "AT&T cannot",
]

BOOLEAN_QUERIES = [
    "sparkhead AND visit",
    "visit OR mail",
    "visit NOT mail",
    "(visit OR mail) AND sparkhead",
    "NOT sparkhead",
    "visit mail",  # implicit AND
]


@pytest.fixture(scope="module")
def corpus(spark):
    return spark.createDataFrame(corpus_rows(N_DOCS), INPUT_SCHEMA)


@pytest.fixture(scope="module")
def oracle_index():
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


@pytest.fixture(scope="module")
def index_dir(spark, corpus, tmp_index_root):
    d = os.path.join(tmp_index_root, "webtext_e2e")
    builder = IndexBuilder(spark, d, IndexConfig(n_buckets=8, doc_range_bits=6))
    manifest = builder.build(corpus)
    assert manifest["finalized"]
    return d


@pytest.fixture(scope="module")
def engine(spark, index_dir):
    return QueryEngine(spark, index_dir)


def test_doc_id_assignment_matches_url_order(spark, corpus):
    df = assign_doc_ids(corpus.select("url"), "url", num_partitions=4)
    got = [r["url"] for r in df.orderBy("doc_id").collect()]
    expected = sorted(r["url"] for r in corpus.select("url").collect())
    assert got == expected
    ids = [r["doc_id"] for r in df.orderBy("doc_id").collect()]
    assert ids == list(range(len(expected)))


def test_corpus_stats_match(engine, oracle_index):
    assert engine.doc_count == oracle_index.doc_count
    assert abs(engine.avg_doc_len - oracle_index.avg_doc_len) < 1e-9
    assert engine.stats["n_terms"] == len(oracle_index.postings)
    assert engine.stats["n_postings"] == sum(
        len(p) for p in oracle_index.postings.values()
    )


def test_idf_parity(engine, oracle_index):
    some_terms = list(oracle_index.idf)[:50]
    got = engine.term_idf(some_terms)
    for t in some_terms:
        assert abs(got[t] - oracle_index.idf[t]) < 1e-12, t


@pytest.mark.parametrize("query", RANKED_QUERIES)
@pytest.mark.parametrize("method", ["bm25", "tfidf"])
def test_ranked_rank_identity(engine, oracle_index, query, method):
    got = engine.ranked(query, k=10, method=method)
    want = oracle_index.query(query, k=10, method=method)
    assert got["total_hits"] == want["total_hits"], query
    got_ids = [r["doc_id"] for r in got["results"]]
    want_ids = [r["doc_id"] for r in want["results"]]
    assert got_ids == want_ids, f"{query}: {got_ids} != {want_ids}"
    for g, w in zip(got["results"], want["results"]):
        assert abs(g["score"] - w["score"]) < 1e-9, query


@pytest.mark.parametrize("query", BOOLEAN_QUERIES)
def test_boolean_parity(engine, oracle_index, query):
    assert engine.boolean(query) == sorted(oracle_index.boolean_query(query))


@pytest.mark.parametrize("query", BOOLEAN_QUERIES)
def test_boolean_topk_bounded(engine, oracle_index, query):
    """The production boolean path returns at most k rows (no unbounded
    driver collect) with the EXACT total count from the same single job,
    even for corpus-sized results like `NOT <rare>`."""
    k = 5
    got = engine.boolean_topk(query, k=k)
    want = sorted(oracle_index.boolean_query(query))
    assert len(got["results"]) <= k
    assert got["total_hits"] == len(want), query
    assert [r["doc_id"] for r in got["results"]] == want[:k], query
    assert all(r["score"] == 1.0 for r in got["results"])


def test_router_dispatch(engine, oracle_index):
    res = engine.query("visit AND mail")
    assert all(r["score"] == 1.0 for r in res["results"])
    res2 = engine.query("machine learning")
    want = oracle_index.query("machine learning")
    assert [r["doc_id"] for r in res2["results"]] == [
        r["doc_id"] for r in want["results"]
    ]


def test_segmented_build_resume_identical(spark, corpus, tmp_index_root, engine):
    """Kill-and-resume: build 2 of 4 segments, 'crash', resume; the final
    index must be identical to the one-shot build."""
    d = os.path.join(tmp_index_root, "webtext_seg")
    cfg = IndexConfig(n_buckets=8, doc_range_bits=6, segment_docs=100)
    b1 = IndexBuilder(spark, d, cfg)
    m1 = b1.build(corpus, max_segments=2)
    assert not m1.get("finalized")
    assert len(m1["segments"]) == 2

    b2 = IndexBuilder(spark, d, cfg)  # fresh builder = restarted process
    m2 = b2.build(corpus)
    assert m2["finalized"]
    assert len(m2["segments"]) == 4

    seg_engine = QueryEngine(spark, d)
    full = engine.ranked("machine learning", k=10)
    seg = seg_engine.ranked("machine learning", k=10)
    assert [r["doc_id"] for r in full["results"]] == [r["doc_id"] for r in seg["results"]]
    assert seg_engine.stats["n_postings"] == engine.stats["n_postings"]
    assert seg_engine.stats["n_terms"] == engine.stats["n_terms"]


def test_blocks_roundtrip(spark, index_dir, oracle_index):
    """Compressed block-max runs decode back to the exact postings."""
    from elasticsearch_spark.functions.codec import decode_block

    blocks = spark.read.parquet(os.path.join(index_dir, "blocks")).collect()
    got = {}
    for r in blocks:
        d, t, ln = decode_block(r["doc_blob"], r["tf_blob"], r["len_blob"])
        assert r["n"] == len(d) and r["first_doc"] == d[0] and r["last_doc"] == d[-1]
        got.setdefault(r["term"], []).extend(zip(d.tolist(), t.tolist()))
    assert len(got) == len(oracle_index.postings)
    for term, plist in oracle_index.postings.items():
        assert sorted(got[term]) == plist, term


def test_tfidf_x3_variant_matches_recompute(spark, tmp_index_root):
    """x=3 build mode (store_tfidf): persisted scores must equal
    (tf/dl)*ln(N/df) recomputed from the plain postings + dictionary."""
    import math

    corpus = spark.createDataFrame(corpus_rows(150), INPUT_SCHEMA)
    d = os.path.join(tmp_index_root, "x3_idx")
    b = IndexBuilder(spark, d, IndexConfig(n_buckets=4, doc_range_bits=6, store_tfidf=True))
    m = b.build(corpus)
    n = m["stats"]["doc_count"]

    post = {
        (r["term"], r["doc_id"]): (r["tf"], r["doc_len"])
        for r in spark.read.parquet(os.path.join(d, "postings")).collect()
    }
    df_ = {
        r["term"]: r["df"]
        for r in spark.read.parquet(os.path.join(d, "dictionary")).collect()
    }
    got = {
        (r["term"], r["doc_id"]): r["score"]
        for r in spark.read.parquet(os.path.join(d, "tfidf")).collect()
    }
    assert set(got) == {k for k, (tf, dl) in post.items() if dl > 0}
    for (term, doc), score in got.items():
        tf, dl = post[(term, doc)]
        want = (tf / dl) * math.log(n / df_[term])
        assert abs(score - want) < 1e-12, (term, doc)


@pytest.mark.parametrize("method", ["bm25", "tfidf"])
@pytest.mark.parametrize("query", RANKED_QUERIES)
def test_turbo_path_matches_distributed_plan(spark, index_dir, query, method):
    """The driver-side turbo path (pyarrow pruned read + numpy scoring,
    zero Spark jobs) must be result-identical to the distributed plan."""
    turbo_eng = QueryEngine(spark, index_dir, turbo=True)
    plan_eng = QueryEngine(spark, index_dir, turbo=False)
    got = turbo_eng.ranked(query, k=10, method=method)
    want = plan_eng.ranked(query, k=10, method=method)
    assert got["total_hits"] == want["total_hits"], query
    assert [r["doc_id"] for r in got["results"]] == [
        r["doc_id"] for r in want["results"]
    ], query
    for g, w in zip(got["results"], want["results"]):
        assert abs(g["score"] - w["score"]) < 1e-9, query


def test_turbo_cutover_falls_back_to_plan(spark, index_dir, monkeypatch):
    """Above the Σdf cutover the turbo path must decline (return None)
    so the distributed plan serves the query."""
    eng = QueryEngine(spark, index_dir, turbo=True)
    monkeypatch.setattr(QueryEngine, "TURBO_MAX_POSTINGS", 0)
    from elasticsearch_spark.functions.tokenizer import tokenize

    cands = [
        r["term"]
        for r in eng._dictionary.filter(F.col("idf") != 0)
        .orderBy(F.col("df").desc())
        .limit(20)
        .collect()
    ]
    term = next(t for t in cands if tokenize(t) == [t])
    assert eng._turbo_ranked(term, 10, "bm25", True) is None
    # and the public API still answers via the plan
    res = eng.ranked(term, k=10)
    assert res["total_hits"] > 0 and len(res["results"]) > 0


@pytest.mark.parametrize("query", BOOLEAN_QUERIES)
def test_turbo_boolean_matches_plan(spark, index_dir, query):
    """Driver-side boolean set algebra must equal the DataFrame plan
    exactly (ids, truncation, and total count)."""
    turbo = QueryEngine(spark, index_dir, turbo=True).boolean_topk(query, k=7)
    plan = QueryEngine(spark, index_dir, turbo=False).boolean_topk(query, k=7)
    assert turbo == plan, query


def test_turbo_batch_matches_plan(spark, index_dir):
    """Driver-side batch scoring must equal the broadcast-join batch
    plan (ids and scores) for every query in one call."""
    qs = RANKED_QUERIES + BOOLEAN_QUERIES[:0]
    turbo = QueryEngine(spark, index_dir, turbo=True).batch_ranked(qs, k=10)
    plan = QueryEngine(spark, index_dir, turbo=False).batch_ranked(qs, k=10)
    assert set(turbo) == set(plan)
    for q in qs:
        assert [r["doc_id"] for r in turbo[q]] == [r["doc_id"] for r in plan[q]], q
        for g, w in zip(turbo[q], plan[q]):
            assert abs(g["score"] - w["score"]) < 1e-9, q


def test_turbo_lru_never_evicts_current_call_terms(spark, index_dir):
    """Under a full cache, the LRU eviction loop must never pop a term
    the CURRENT call is reading (previously: cached hits kept their old
    LRU slot until after eviction, so a full cache could evict them
    mid-call -> KeyError from unguarded callers like explain()).  The
    slices a call gets back are the raw read's rows, with the impacts
    of the requested method over their doc_len > 0 rows."""
    eng = QueryEngine(spark, index_dir, turbo=True)
    dict_terms = [
        r["term"]
        for r in spark.read.parquet(os.path.join(index_dir, "dictionary"))
        .orderBy(F.col("df").desc())
        .limit(8)
        .collect()
    ]
    assert len(dict_terms) >= 6
    # force perpetual over-budget so the eviction loop always runs
    eng.TURBO_CACHE_MAX_POSTINGS = 0
    # warm a, b; then read (a, c): a is a cache hit that eviction
    # must not pop while c is being inserted
    a, b, c = dict_terms[:3]
    eng._term_slices([a])
    eng._term_slices([b], "bm25")
    got = eng._term_slices([a, c], "bm25")
    # correctness of the returned slices (not just no-crash)
    raw = eng._postings_point_read_raw([a, c])
    for t, sl in zip([a, c], got):
        doc, tf, dl = raw[t]
        assert doc.size > 0, t
        assert sl.doc.tolist() == doc.tolist(), t
        assert sl.tf.tolist() == tf.tolist(), t
        assert sl.dl.tolist() == dl.tolist(), t
        assert sl.sdoc.tolist() == doc[dl > 0].tolist(), t
        assert sl.impact["bm25"].size == sl.sdoc.size, t
    # repeated overlapping reads under zero budget never KeyError, and
    # only the current call's terms stay cached
    for pair in [(a, b), (b, c), (c, a), (a, b)]:
        eng._term_slices(list(pair), "tfidf")
        assert set(eng._term_postings_cache) == set(pair)
    # an unindexed term's empty entry still counts against the ceiling
    assert eng._term_slices(["zzznotaterm"])[0].rows > 0
    # the charge counter is exactly what the cached entries hold
    assert eng._term_cache_rows == sum(
        sl.rows for sl in eng._term_postings_cache.values()
    )


def test_point_read_term_slices_own_their_memory(spark, index_dir):
    """A multi-term cache miss reads every term in ONE pyarrow pass, but
    each term's cached arrays must own their memory — views into the
    shared read would keep the whole read alive while any sibling term
    stays cached, so evicting a term would free nothing and the cache
    ceiling would undercount the RAM actually held.  (Disjoint views of
    one buffer do not overlap, so ``shares_memory`` alone cannot see
    them; ``owndata`` can.)"""
    import numpy as np

    eng = QueryEngine(spark, index_dir, turbo=True)
    a, b = [
        r["term"]
        for r in spark.read.parquet(os.path.join(index_dir, "dictionary"))
        .orderBy(F.col("df").desc(), F.col("term"))
        .limit(2)
        .collect()
    ]
    sa, sb = eng._term_slices([a, b], "bm25")  # one two-term miss
    assert sa.doc.size and sb.doc.size
    for x in (sa.doc, sa.tf, sa.dl):
        for y in (sb.doc, sb.tf, sb.dl):
            assert not np.shares_memory(x, y)
    for arr in (sa.doc, sa.tf, sa.dl, sb.doc, sb.tf, sb.dl):
        assert arr.flags.owndata


def test_turbo_zero_budget_results_identical(spark, index_dir):
    """Eviction churn must not serve stale or mismatched derived data:
    a WARM engine switched to a zero cache budget (every call evicts
    everything but its own terms, so impacts are recomputed over fresh
    slices) answers every turbo entry point exactly (==, not within
    1e-9) like a default-budget engine — and stays on the turbo tier
    (zero Spark jobs)."""
    ranked_q = [q for q in RANKED_QUERIES if q.strip()]

    def run(eng):
        out = {}
        for q in ranked_q:
            for m in ("bm25", "tfidf"):
                out[("ranked", q, m)] = eng.ranked(q, k=10, method=m)
            for op, msm in (("and", None), ("or", None), ("or", 2)):
                out[("match", q, op, msm)] = eng.match_search(
                    q, k=10, operator=op, minimum_should_match=msm
                )
            out[("mbp", q)] = eng.match_bool_prefix(q, k=10)
            for h in out[("ranked", q, "bm25")]["results"][:2]:
                out[("explain", q, h["doc_id"])] = eng.explain(q, h["doc_id"])
        for q in BOOLEAN_QUERIES:
            out[("boolean", q)] = eng.boolean_topk(q, k=10)
        out["batch"] = eng.batch_ranked(ranked_q, k=10)
        out["dis_max"] = eng.dis_max(ranked_q[:3], k=10, tie_breaker=0.3)
        out["bool"] = eng.bool_search(
            must=[ranked_q[1]], should=ranked_q[2:4],
            must_not=[ranked_q[4]], k=10,
        )
        return out

    want = run(QueryEngine(spark, index_dir, turbo=True))
    eng = QueryEngine(spark, index_dir, turbo=True)
    run(eng)  # warm at the default budget
    assert eng._term_cache_rows > 0
    eng.TURBO_CACHE_MAX_POSTINGS = 0
    sc = spark.sparkContext
    group = "turbo_zero_budget"
    sc.setLocalProperty("spark.jobGroup.id", group)
    try:
        got = run(eng)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert got == want
    assert list(sc.statusTracker().getJobIdsForGroup(group)) == []


def _vm_rss_mb() -> float:
    with open("/proc/self/status") as f:
        for line in f:
            if line.startswith("VmRSS:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError("no VmRSS")


def test_turbo_warm_loop_memory_budget(spark, index_dir):
    """Turbo-tier memory receipt: a 100-query warm loop must stay
    inside a stated driver budget — the LRU caches are size-bounded by
    construction (postings-row / byte accounting), and the Python
    driver's resident set must not grow past the budget across the
    loop (the caches are the only per-query state the tier keeps)."""
    import itertools

    from elasticsearch_spark.operators.wand import WandEngine

    eng = QueryEngine(spark, index_dir, turbo=True)
    wand = WandEngine(spark, index_dir)
    vocab = [
        r["term"]
        for r in spark.read.parquet(os.path.join(index_dir, "dictionary"))
        .orderBy(F.col("df").desc())
        .limit(40)
        .collect()
    ]
    queries = [
        " ".join(pair) for pair in itertools.combinations(vocab[:20], 2)
    ][:100]
    assert len(queries) == 100
    # warm once so JVM/py4j startup noise is outside the measurement
    eng.ranked(queries[0], k=10)
    wand.topk(queries[0], k=10)
    rss0 = _vm_rss_mb()
    for q in queries:
        eng.ranked(q, k=10)
    for q in queries[:25]:
        wand.topk(q, k=10)
    rss1 = _vm_rss_mb()
    growth = rss1 - rss0
    # stated budget: the cache ceiling (5M 24-byte postings-rows ~
    # 120 MB of arrays) dominates; the warm loop on this corpus touches
    # a fraction of it — growth must stay far below the ceiling and
    # never scale with query count.
    assert eng._term_cache_rows <= eng.TURBO_CACHE_MAX_POSTINGS
    assert growth < 192.0, f"driver RSS grew {growth:.1f} MB over 125 warm queries"


# --------------------------------------- ES match operator / msm (round 5)

MATCH_OPT_QUERIES = [
    "machine learning",
    "running studies dying",
    "machine nonexistentterm",
    "zo ta ne",
]


def _assert_match_same(got: dict, want: dict, ctx: str):
    assert [r["doc_id"] for r in got["results"]] == [
        r["doc_id"] for r in want["results"]
    ], ctx
    for g, w in zip(got["results"], want["results"]):
        assert abs(g["score"] - w["score"]) < 1e-9, ctx
    assert got["total_hits"] == want["total_hits"], ctx


@pytest.mark.parametrize("query", MATCH_OPT_QUERIES)
@pytest.mark.parametrize("operator,msm", [
    ("and", None), ("or", 2), ("or", 3), ("or", None),
])
def test_match_operator_msm_matches_oracle(engine, oracle_index, query,
                                           operator, msm):
    """ES match with operator=and / minimum_should_match ≡ the oracle's
    match_query spec (matched-distinct-term threshold; and with an
    unindexed term ⇒ zero hits)."""
    got = engine.match_search(query, k=10, operator=operator,
                              minimum_should_match=msm)
    want = oracle_index.match_query(query, k=10, operator=operator,
                                    minimum_should_match=msm)
    _assert_match_same(got, want, f"{query!r} {operator} msm={msm}")


@pytest.mark.parametrize("operator,msm", [("and", None), ("or", 2)])
def test_match_operator_turbo_matches_plan(spark, index_dir, operator, msm):
    """match_search turbo twin ≡ the plan tier (doc ids, scores 1e-9,
    total_hits)."""
    turbo = QueryEngine(spark, index_dir, turbo=True)
    plan = QueryEngine(spark, index_dir, turbo=False)
    for query in ("machine learning", "running studies dying"):
        got_t = turbo.match_search(query, k=10, operator=operator,
                                   minimum_should_match=msm)
        got_p = plan.match_search(query, k=10, operator=operator,
                                  minimum_should_match=msm)
        _assert_match_same(got_t, got_p, f"{query!r} {operator} msm={msm}")


def test_match_or_default_equals_ranked(engine):
    """operator=or with no msm is exactly the plain ranked match."""
    for query in ("machine learning", "zo ta ne"):
        assert engine.match_search(query, k=10) == engine.ranked(query, k=10)


# ------------------------------------------------ fetch phase (round 5)

def test_search_fetch_source(spark, engine, corpus):
    """ES fetch phase: search(source=...) resolves each hit's doc_id →
    url (live docs view) → stored fields from the source table; url
    mapping must equal the build's url-order id assignment."""
    urls = sorted(
        r["url"] for r in corpus.filter(F.col("lang") == "en")
        .select("url").collect()
    )
    lang_of = {r["url"]: r["lang"] for r in corpus.collect()}
    res = engine.search("sparkhead visit", k=5, source=corpus,
                        source_fields=["lang"])
    assert res["results"], "query must hit for a non-vacuous fetch test"
    for hit in res["results"]:
        src = hit["_source"]
        assert src["url"] == urls[hit["doc_id"]]
        assert src["lang"] == lang_of[src["url"]] == "en"
    # rank part identical to plain ranked
    plain = engine.ranked("sparkhead visit", k=5)
    assert [(h["doc_id"], h["score"]) for h in res["results"]] == [
        (h["doc_id"], h["score"]) for h in plain["results"]
    ]


# ------------------------------------------ match_bool_prefix (round 5)

BOOL_PREFIX_CASES = [
    ("visit spark", "or", None),
    ("visit spark", "and", None),
    ("mail vi", "or", None),
    ("sparkhead visit ru", "or", 2),
    ("vi", "or", None),            # pure prefix query (single term)
    ("qqqzzz vi", "and", None),    # unindexed MUST term -> empty
    ("visit qqqq", "or", None),    # prefix expands to nothing
]


@pytest.mark.parametrize("query,operator,msm", BOOL_PREFIX_CASES)
def test_match_bool_prefix_matches_oracle(spark, index_dir, oracle_index,
                                          query, operator, msm):
    """ES match_bool_prefix: scored full-term clauses + constant-score
    prefix clause — engine ≡ oracle on BOTH serving tiers (doc ids and
    1e-9 scores), including operator=and and minimum_should_match."""
    want = oracle_index.match_bool_prefix_query(
        query, k=10, operator=operator, minimum_should_match=msm
    )
    for turbo in (True, False):
        got = QueryEngine(spark, index_dir, turbo=turbo).match_bool_prefix(
            query, k=10, operator=operator, minimum_should_match=msm
        )
        assert [r["doc_id"] for r in got["results"]] == [
            r["doc_id"] for r in want["results"]
        ], (query, operator, msm, turbo)
        for g, w in zip(got["results"], want["results"]):
            assert abs(g["score"] - w["score"]) < 1e-9, (query, turbo)
        assert got["total_hits"] == want["total_hits"], (query, turbo)


def test_match_bool_prefix_nonvacuous(engine, oracle_index):
    """The suite must exercise real hits: the prefix clause alone
    ('vi') matches docs at constant score 1.0."""
    res = engine.match_bool_prefix("vi", k=10)
    assert res["results"], "prefix 'vi' must expand and hit"
    exp = oracle_index.prefix_expansions("vi", 50)
    assert exp, "oracle must expand 'vi' too"
    # every hit scores exactly 1.0 (constant-score prefix clause only)
    for r in res["results"]:
        assert abs(r["score"] - 1.0) < 1e-12


def test_fetch_plan_matches_fetch_source(spark, index_dir, corpus):
    """The plan-shaped fetch join ≡ the driver point-read fetch."""
    eng = QueryEngine(spark, index_dir)
    res = eng.ranked("sparkhead visit", k=5)
    assert res["results"], "query must hit for a non-vacuous plan-fetch test"
    driver = eng.fetch_source(res["results"], corpus, ["lang"])

    top = spark.createDataFrame(
        [(h["doc_id"], h["score"]) for h in res["results"]],
        "doc_id long, score double",
    )
    rows = eng.fetch_plan(top, corpus, ["lang"]).collect()
    got = {r["doc_id"]: (r["url"], r["lang"]) for r in rows}
    assert got == {
        h["doc_id"]: (h["_source"]["url"], h["_source"]["lang"])
        for h in driver
    }


# ---------------------------------------------- composite agg (round 5)

def test_composite_agg_pagination_exhaustive(engine):
    """Walking every composite page through after_key cursors must
    reproduce the single-shot bucket stream exactly, end with
    after_key=None, and never repeat or skip a key."""
    sources = [("len8", "histogram", "doc_len", 8)]
    full = engine.composite(["visit", "spark", "mail"], sources, size=10_000)
    assert full["buckets"] and full["after_key"] is None
    walked, after, pages = [], None, 0
    while True:
        page = engine.composite(["visit", "spark", "mail"], sources,
                                size=3, after=after)
        walked.extend(page["buckets"])
        pages += 1
        if page["after_key"] is None:
            break
        after = page["after_key"]
    assert walked == full["buckets"]
    assert pages >= 2, "fixture too small to exercise pagination"
    keys = [tuple(b["key"].values()) for b in walked]
    assert keys == sorted(set(keys)), "pages repeated or disordered keys"


# ----------------------------------------------- rank_feature (round 5)

def test_rank_feature_semantics(spark, engine):
    """rank_feature hand-math: saturation/log/sigmoid values, ES
    default pivot = geometric mean of positive values, docs with
    missing/non-positive features keep matching unboosted (LEFT join),
    and the standalone rank_feature query only matches feature docs."""
    import math

    base = engine.score_plan("visit spark")
    assert base is not None
    ids = sorted(r["doc_id"] for r in base.collect())
    assert len(ids) >= 3
    # features: first doc 9.0, second doc 0 (non-positive -> no boost),
    # third doc missing entirely
    feat = spark.createDataFrame(
        [(ids[0], 9.0), (ids[1], 0.0)] + [(ids[i], 3.0) for i in range(3, len(ids))],
        "doc_id long, quality double",
    )
    pivot = engine.rank_feature_pivot(feat, "quality")
    vals = [9.0] + [3.0] * max(len(ids) - 3, 0)
    want_pivot = math.exp(sum(math.log(v) for v in vals) / len(vals))
    assert abs(pivot - want_pivot) < 1e-9

    plan = engine.match_rank_feature_plan(
        "visit spark", feat, "quality", boost=2.0
    )
    got = {r["doc_id"]: r["score"] for r in plan.collect()}
    base_s = {r["doc_id"]: r["score"] for r in base.collect()}
    assert set(got) == set(base_s)          # must-match gating unchanged
    assert abs(got[ids[0]] - (base_s[ids[0]] + 2.0 * 9.0 / (9.0 + pivot))) < 1e-9
    assert abs(got[ids[1]] - base_s[ids[1]]) < 1e-12   # 0-feature: no boost
    assert abs(got[ids[2]] - base_s[ids[2]]) < 1e-12   # missing: no boost

    # log + sigmoid functions, hand-computed on one doc
    for fn, kw, expect in [
        ("log", {"scaling_factor": 1.0}, math.log(1.0 + 9.0)),
        ("sigmoid", {"pivot": 3.0, "exponent": 2.0},
         81.0 / (81.0 + 9.0)),
    ]:
        rf = engine.rank_feature_plan(feat, "quality", function=fn, **kw)
        m = {r["doc_id"]: r["score"] for r in rf.collect()}
        assert ids[1] not in m              # standalone: positive-only
        assert abs(m[ids[0]] - expect) < 1e-9, fn


def test_distance_feature_semantics(spark, engine):
    """distance_feature hand-math: boost×pivot/(pivot+|x−origin|),
    missing feature ⇒ matching unboosted, standalone ⇒ feature docs
    only."""
    base = engine.score_plan("visit spark")
    ids = sorted(r["doc_id"] for r in base.collect())
    feat = spark.createDataFrame(
        [(ids[0], 790.0)] + [(d, 400.0) for d in ids[2:]],
        "doc_id long, ts double",
    )
    plan = engine.match_distance_feature_plan(
        "visit spark", feat, "ts", origin=800.0, pivot=100.0, boost=3.0
    )
    got = {r["doc_id"]: r["score"] for r in plan.collect()}
    base_s = {r["doc_id"]: r["score"] for r in base.collect()}
    assert set(got) == set(base_s)
    assert abs(got[ids[0]] - (base_s[ids[0]] + 3.0 * 100.0 / 110.0)) < 1e-9
    assert abs(got[ids[1]] - base_s[ids[1]]) < 1e-12   # missing feature
    rf = engine.distance_feature_plan(feat, "ts", 800.0, 100.0)
    assert ids[1] not in {r["doc_id"] for r in rf.collect()}


def test_composite_agg_null_keys_paginate(spark, engine):
    """Null key components must not truncate composite pagination: a
    dims column with nulls forms a null bucket that sorts FIRST and
    pages through cleanly (null-safe lexicographic cursor)."""
    base = engine.match_plan(["visit", "spark", "mail"])
    ids = [r["doc_id"] for r in base.select("doc_id").collect()]
    assert len(ids) >= 6
    dims = spark.createDataFrame(
        [(d, None if i % 3 == 0 else f"g{i % 2}") for i, d in enumerate(ids)],
        "doc_id long, grp string",
    )
    sources = [("grp", "terms", "grp"), ("len8", "histogram", "doc_len", 8)]
    full = engine.composite(["visit", "spark", "mail"], sources, dims,
                            size=10_000)
    assert full["buckets"][0]["key"]["grp"] is None  # nulls sort first
    walked, after = [], None
    while True:
        page = engine.composite(["visit", "spark", "mail"], sources, dims,
                                size=2, after=after)
        walked.extend(page["buckets"])
        if page["after_key"] is None:
            break
        after = page["after_key"]
    assert walked == full["buckets"]


def test_fetch_plan_keeps_hits_missing_from_source(spark, engine, corpus):
    """A hit whose url is absent from the source table keeps its row
    with null stored fields (fetch_source semantics) instead of being
    dropped by the fetch join."""
    res = engine.ranked("visit spark", k=5)
    assert len(res["results"]) >= 2
    topk = spark.createDataFrame(
        [(r["doc_id"], r["score"]) for r in res["results"]],
        "doc_id long, score double",
    )
    urls = set(engine.doc_urls([r["doc_id"] for r in res["results"]]).values())
    drop = sorted(urls)[0]
    src = corpus.filter(F.col("url") != drop).select("url", "lang")
    rows = engine.fetch_plan(topk, src, ["lang"]).collect()
    assert len(rows) == len(res["results"])
    by_url = {r["url"]: r["lang"] for r in rows}
    assert by_url[drop] is None
    assert all(v is not None for u, v in by_url.items() if u != drop)

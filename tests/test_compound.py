"""ES compound queries (dis_max / constant_score / boosting):
tier identity, algebraic invariants, and brute-force recomputes."""

import os

import pytest
from pyspark.sql import functions as F

from elasticsearch_spark.operators.build import IndexBuilder, IndexConfig
from elasticsearch_spark.operators.query import QueryEngine
from elasticsearch_spark.sources.webtext import corpus_rows
from tests.test_spark_engine import INPUT_SCHEMA

N_DOCS = 240


@pytest.fixture(scope="module")
def index_dir(spark, tmp_index_root):
    d = os.path.join(tmp_index_root, "compound")
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
def mid_terms(spark, index_dir, turbo):
    """Four live mid-frequency terms (df strictly below N so idf != 0)
    that re-analyze to themselves."""
    rows = (
        spark.read.parquet(os.path.join(index_dir, "dictionary"))
        .select("term", "df").collect()
    )
    n_docs = turbo.stats["doc_count"]
    df_map = {}
    for r in rows:
        df_map[r["term"]] = df_map.get(r["term"], 0) + r["df"]
    picks = [
        t for t, d in sorted(df_map.items(), key=lambda x: (-x[1], x[0]))
        if 4 < d < n_docs and turbo._terms(t) == [t]
    ][:4]
    assert len(picks) == 4
    return picks


@pytest.mark.parametrize("tb", [0.0, 0.3, 1.0])
def test_dis_max_turbo_matches_plan(turbo, plan_eng, mid_terms, tb):
    q1 = " ".join(mid_terms[:2])
    q2 = " ".join(mid_terms[1:])
    got = turbo.dis_max([q1, q2], k=50, tie_breaker=tb)
    want = plan_eng.dis_max([q1, q2], k=50, tie_breaker=tb)
    assert got["total_hits"] == want["total_hits"]
    assert [r["doc_id"] for r in got["results"]] == [
        r["doc_id"] for r in want["results"]
    ]
    for a, b in zip(got["results"], want["results"]):
        assert abs(a["score"] - b["score"]) < 1e-9


def test_dis_max_tb1_equals_bool_sum(turbo, mid_terms):
    """tie_breaker=1.0 degenerates to the bool-query sum: scoring is
    additive per term occurrence, so dis_max(q1, q2, tb=1) ==
    ranked(q1 + ' ' + q2) — including the shared middle term counted
    once per subquery."""
    q1 = " ".join(mid_terms[:2])
    q2 = " ".join(mid_terms[1:])
    got = turbo.dis_max([q1, q2], k=30, tie_breaker=1.0)
    want = turbo.ranked(q1 + " " + q2, k=30)
    assert got["total_hits"] == want["total_hits"]
    assert [r["doc_id"] for r in got["results"]] == [
        r["doc_id"] for r in want["results"]
    ]
    for a, b in zip(got["results"], want["results"]):
        assert abs(a["score"] - b["score"]) < 1e-9


def test_dis_max_brute(turbo, mid_terms):
    """dis_max == per-doc max + tb*(rest) over the per-subquery full
    score maps (recomputed independently via huge-k ranked calls)."""
    q1, q2 = " ".join(mid_terms[:2]), " ".join(mid_terms[2:])
    tb = 0.3
    s1 = {r["doc_id"]: r["score"]
          for r in turbo.ranked(q1, k=10_000)["results"]}
    s2 = {r["doc_id"]: r["score"]
          for r in turbo.ranked(q2, k=10_000)["results"]}
    want = {}
    for d in set(s1) | set(s2):
        vals = [v for v in (s1.get(d), s2.get(d)) if v is not None]
        best, tot = max(vals), sum(vals)
        want[d] = best + tb * (tot - best)
    got = turbo.dis_max([q1, q2], k=10_000, tie_breaker=tb)
    assert got["total_hits"] == len(want)
    for r in got["results"]:
        assert abs(r["score"] - want[r["doc_id"]]) < 1e-9


def test_dis_max_dead_subquery(turbo, plan_eng, mid_terms):
    """A subquery with no live terms contributes nothing; all-dead
    queries yield zero hits on both tiers."""
    q1 = " ".join(mid_terms[:2])
    got = turbo.dis_max([q1, "zzzznothere"], k=10, tie_breaker=0.5)
    want = turbo.ranked(q1, k=10)
    assert [r["doc_id"] for r in got["results"]] == [
        r["doc_id"] for r in want["results"]
    ]
    dead_t = turbo.dis_max(["zzzznothere"], k=10)
    dead_p = plan_eng.dis_max(["zzzznothere"], k=10)
    assert dead_t["total_hits"] == dead_p["total_hits"] == 0
    assert dead_t["results"] == dead_p["results"] == []


def test_constant_score_semantics(spark, plan_eng, mid_terms):
    """Every matching doc scores exactly the boost; the hit set is the
    ANY-term match set from the forward tokens — and filter context
    matches idf==0 (df==N) terms that the scoring paths skip."""
    from elasticsearch_spark.operators.reader import live_tokens

    q = " ".join(mid_terms[:2])
    plan = plan_eng.constant_score_plan(q, boost=2.5)
    got = {r["doc_id"]: r["score"] for r in plan.collect()}
    qt = set(plan_eng._terms(q))
    want = {
        r["doc_id"]
        for r in live_tokens(spark, plan_eng.index_dir).collect()
        if qt & set(r["tokens"])
    }
    assert set(got) == want
    assert all(v == 2.5 for v in got.values())
    # a term in EVERY doc: idf 0, ranked() finds nothing, filter context
    # matches all docs
    rows = (
        spark.read.parquet(os.path.join(plan_eng.index_dir, "dictionary"))
        .select("term", "df").collect()
    )
    n_docs = plan_eng.stats["doc_count"]
    ubiq = [r["term"] for r in rows if r["df"] == n_docs
            and plan_eng._terms(r["term"]) == [r["term"]]]
    if ubiq:
        assert plan_eng.ranked(ubiq[0], k=5)["total_hits"] == 0
        cs = plan_eng.constant_score_plan(ubiq[0], boost=1.0)
        assert cs.count() == n_docs


def test_boosting_semantics(turbo, plan_eng, mid_terms):
    """Positive scores pass through untouched unless the doc matches
    the negative filter, where they are multiplied by negative_boost."""
    pos, neg = " ".join(mid_terms[:2]), mid_terms[2]
    base = {r["doc_id"]: r["score"]
            for r in turbo.ranked(pos, k=10_000)["results"]}
    neg_docs = {
        r["doc_id"] for r in plan_eng.match_plan([neg]).collect()
    }
    plan = plan_eng.boosting_plan(pos, neg, negative_boost=0.4)
    got = {r["doc_id"]: r["score"] for r in plan.collect()}
    assert set(got) == set(base)
    for d, s in got.items():
        want = base[d] * 0.4 if d in neg_docs else base[d]
        assert abs(s - want) < 1e-9
    # dead negative: plan reduces to the positive score plan
    plan2 = plan_eng.boosting_plan(pos, "zzzznothere", negative_boost=0.4)
    got2 = {r["doc_id"]: round(r["score"], 9) for r in plan2.collect()}
    assert got2 == {d: round(s, 9) for d, s in base.items()}


# --------------------------------------------------- aggregations (ES)

def test_stats_and_range_facets(plan_eng, mid_terms):
    """stats/extended_stats and range aggs vs a python recompute over
    the hit set's doc_len."""
    import statistics

    terms = mid_terms[:2]
    lens = [r["doc_len"] for r in plan_eng.match_plan(terms).collect()]
    row = plan_eng.stats_doc_len(terms, extended=True).collect()[0]
    assert row["n_docs"] == len(lens)
    assert row["min_len"] == min(lens) and row["max_len"] == max(lens)
    assert abs(row["avg_len"] - sum(lens) / len(lens)) < 1e-9
    assert row["sum_len"] == sum(lens)
    assert abs(row["var_len"] - statistics.pvariance(lens)) < 1e-6
    assert abs(row["std_len"] - statistics.pstdev(lens)) < 1e-6
    edges = [0, 40, 80]
    got = {
        r["range_lo"]: r["n_docs"]
        for r in plan_eng.range_facet_doc_len(terms, edges).collect()
    }
    want = {}
    for ln in lens:
        lo = max((e for e in edges if ln >= e), default=-1)
        want[lo] = want.get(lo, 0) + 1
    assert got == want


def test_cardinality_exact_and_hll(spark, plan_eng, mid_terms):
    """Exact distinct vs a recompute; the HLL++ variant (the 100-TB
    shape) lands within a loose bound of the exact count."""
    terms = mid_terms[:2]
    hit_ids = [r["doc_id"] for r in plan_eng.match_plan(terms).collect()]
    dims = spark.range(0, 100_000).select(
        F.col("id").alias("doc_id"), (F.col("id") % 13).alias("attr")
    )
    want = len({d % 13 for d in hit_ids})
    exact = plan_eng.cardinality(terms, dims, col="attr", exact=True).collect()[0][0]
    assert exact == want
    approx = plan_eng.cardinality(
        terms, dims, col="attr", exact=False, rsd=0.02
    ).collect()[0][0]
    assert abs(approx - want) <= max(1, int(0.1 * want))


def test_top_hits_by_matches_recompute(spark, turbo, plan_eng, mid_terms):
    """top_hits per bucket == per-attr (rounded score desc, doc_id)
    top-n from the full ranked result."""
    q = " ".join(mid_terms[:2])
    dims = spark.range(0, 100_000).select(
        F.col("id").alias("doc_id"), (F.col("id") % 3).alias("attr")
    )
    rows = plan_eng.top_hits_by(q, dims, col="attr", n=2).collect()
    got = sorted((r["attr"], r["rank"], r["doc_id"]) for r in rows)
    full = turbo.ranked(q, k=100_000)["results"]
    buckets = {}
    for r in full:
        buckets.setdefault(r["doc_id"] % 3, []).append(
            (round(r["score"], 6), r["doc_id"])
        )
    want = []
    for attr, lst in buckets.items():
        lst.sort(key=lambda x: (-x[0], x[1]))
        for i, (_s, d) in enumerate(lst[:2], start=1):
            want.append((attr, i, d))
    assert got == sorted(want)


@pytest.mark.parametrize(
    "entry", ["ranked", "ranked_after", "match_search", "dis_max", "bool_search"]
)
def test_plan_tier_without_total_hits(plan_eng, mid_terms, entry):
    """The plan-tier top-k with ``with_total_hits=False`` (turbo=False
    engine, so the Spark collect runs) returns exactly the page of the
    counted call, with ``total_hits`` None."""
    q1 = " ".join(mid_terms[:2])
    q2 = " ".join(mid_terms[1:])
    first = plan_eng.ranked(q1, k=3)["results"]
    cursor = (first[-1]["score"], first[-1]["doc_id"])
    call = {
        "ranked": lambda wt: plan_eng.ranked(q1, k=15, with_total_hits=wt),
        "ranked_after": lambda wt: plan_eng.ranked(
            q1, k=15, search_after=cursor, with_total_hits=wt
        ),
        "match_search": lambda wt: plan_eng.match_search(
            q2, k=15, minimum_should_match=2, with_total_hits=wt
        ),
        "dis_max": lambda wt: plan_eng.dis_max(
            [q1, q2], k=15, tie_breaker=0.3, with_total_hits=wt
        ),
        "bool_search": lambda wt: plan_eng.bool_search(
            must=[q1], should=[q2], k=15, with_total_hits=wt
        ),
    }[entry]
    counted, bare = call(True), call(False)
    assert counted["total_hits"] > 0 and counted["results"]
    assert bare["total_hits"] is None
    assert bare["query"] == counted["query"]
    assert bare["results"] == counted["results"]

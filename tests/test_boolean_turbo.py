"""The turbo tier's boolean reads (sorted arrays with complement flags)
against the plan tier, over the 40 boolean queries of the reference
queryset, on a static, an updated (delta segment + tombstones) and a
``shuffle_salt=3`` index; and their admission, which charges the doc
universe only for a complemented result."""

import json
import os

import pytest

from elasticsearch_spark.functions.tokenizer import is_boolean_query
from elasticsearch_spark.operators.build import IndexBuilder, IndexConfig
from elasticsearch_spark.operators.query import QueryEngine, parse_boolean
from elasticsearch_spark.sources.webtext import corpus_rows, query_vocab
from tests.test_spark_engine import INPUT_SCHEMA
from tests.test_wand import _spark_jobs

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
QUERYSET = os.path.join(REPO, "fixtures", "queryset.json")

with open(QUERYSET) as _f:
    BOOLEAN = [q for q in json.load(_f)["queries"] if is_boolean_query(q)]

@pytest.fixture(scope="module")
def indexes(spark, tmp_index_root):
    """name -> index dir: static, updated, salted."""
    pool = query_vocab(QUERYSET)
    rows = corpus_rows(300, mix_words=pool)
    base = spark.createDataFrame(rows[:240], INPUT_SCHEMA)
    extra = spark.createDataFrame(rows[240:], INPUT_SCHEMA)
    out = {}
    for name, salt in (("static", 1), ("updated", 1), ("salted", 3)):
        d = os.path.join(tmp_index_root, f"boolean_turbo_{name}")
        b = IndexBuilder(
            spark, d,
            IndexConfig(n_buckets=4, doc_range_bits=6, shuffle_salt=salt),
        )
        b.build(base)
        if name == "updated":
            removed = [
                r["url"]
                for r in spark.read.parquet(os.path.join(d, "docs"))
                .orderBy("doc_id").limit(7).collect()
            ]
            b.update_index(add=extra, remove_urls=removed, compact=False)
        out[name] = d
    return out


@pytest.fixture(scope="module")
def plan_results(spark, indexes):
    """name -> {query: plan-tier boolean_topk at k=1000} (every hit:
    the corpus has 300 docs)."""
    return {
        name: {q: QueryEngine(spark, d, turbo=False).boolean_topk(q, k=1000)
               for q in BOOLEAN}
        for name, d in indexes.items()
    }


def _truncated(res, k):
    # boolean hits rank in doc-id order, so top-k is a prefix
    return dict(res, results=res["results"][:k])


@pytest.mark.parametrize("name", ["static", "updated", "salted"])
def test_boolean_turbo_equals_plan(spark, indexes, plan_results, name):
    """Turbo answers every boolean query of the queryset exactly like
    the plan tier (k = 10 and 1000, totals included), cold and warm,
    with 0 Spark jobs."""
    want = plan_results[name]
    assert sum(w["total_hits"] > 0 for w in want.values()) >= 30
    eng = QueryEngine(spark, indexes[name])

    def run():
        return {(q, k): eng.boolean_topk(q, k=k)
                for q in BOOLEAN for k in (10, 1000)}

    for phase in ("cold", "warm"):
        got, jobs = _spark_jobs(spark, f"boolean_{name}_{phase}", run)
        assert jobs == 0, phase
        for (q, k), res in got.items():
            assert res == _truncated(want[q], k), (phase, q, k)


def test_not_admitted_without_the_universe(spark, indexes, plan_results):
    """``A NOT B`` needs no doc universe: it is served by turbo (0 Spark
    jobs) with TURBO_MAX_POSTINGS = Σdf, below Σdf + doc_count, and
    never reads the universe."""
    q = next(
        q for q in BOOLEAN
        if " NOT " in q and "AND" not in q and "OR" not in q
        and plan_results["static"][q]["total_hits"] > 0
    )
    _rpn, terms, negated = parse_boolean(q, True)
    assert not negated and len(terms) == 2
    eng = QueryEngine(spark, indexes["static"])
    eng.term_idf(terms)
    sigma = sum(eng._df_cache[t] for t in terms)
    assert all(eng._df_cache[t] > 0 for t in terms)
    eng.TURBO_MAX_POSTINGS = sigma
    got, jobs = _spark_jobs(spark, "boolean_not_admit",
                            eng.boolean_topk, q, k=1000)
    assert jobs == 0
    assert got == plan_results["static"][q]
    assert eng._doc_len_cache is None  # the doc universe was never read
    # a complemented result does charge the universe: over budget here
    assert parse_boolean(f"NOT ( {q} )", True)[2]
    assert eng._turbo_boolean(f"NOT ( {q} )", 10) is None

"""The WAND entry point must return exactly the exhaustive-scoring
top-k: its turbo tier IS ``QueryEngine``'s (whole result dicts ``==``),
and its distributed block-max plan is rank-identical with scores to
1e-9 — the pruning is provably lossless."""

import os

import pytest

from elasticsearch_spark.operators.build import IndexBuilder, IndexConfig
from elasticsearch_spark.operators.query import QueryEngine
from elasticsearch_spark.operators.wand import WandEngine
from elasticsearch_spark.oracle.engine import OracleIndex
from elasticsearch_spark.sources.webtext import corpus_rows, gen_corpus

N_DOCS = 300

QUERIES = [
    "machine learning",
    "sparkhead",
    "running studies dying agreed",
    "visit mail cannot",
    "zo",
]


@pytest.fixture(scope="module")
def index_dir(spark, tmp_index_root):
    import pyspark.sql.types as T

    schema = T.StructType(
        [
            T.StructField("url", T.StringType()),
            T.StructField("warc_ts", T.TimestampType()),
            T.StructField("html", T.BinaryType()),
            T.StructField("text", T.StringType()),
            T.StructField("lang", T.StringType()),
        ]
    )
    corpus = spark.createDataFrame(corpus_rows(N_DOCS), schema)
    d = os.path.join(tmp_index_root, "wand_idx")
    IndexBuilder(spark, d, IndexConfig(n_buckets=8, doc_range_bits=5)).build(corpus)
    return d


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


@pytest.mark.parametrize("query", QUERIES)
def test_wand_matches_oracle(spark, index_dir, oracle_index, query):
    wand = WandEngine(spark, index_dir)
    got = wand.topk(query, k=10)
    want = oracle_index.query(query, k=10)
    assert [r["doc_id"] for r in got["results"]] == [
        r["doc_id"] for r in want["results"]
    ], query
    for g, w in zip(got["results"], want["results"]):
        assert abs(g["score"] - w["score"]) < 1e-9, query


def test_wand_matches_taat_plan(spark, index_dir):
    taat = QueryEngine(spark, index_dir)
    wand = WandEngine(spark, index_dir)
    for query in QUERIES:
        for total in (False, True):
            assert wand.topk(query, k=10, with_total_hits=total) == taat.ranked(
                query, k=10, with_total_hits=total
            ), (query, total)


def test_wand_empty_query(spark, index_dir):
    wand = WandEngine(spark, index_dir)
    assert wand.topk("the and of", k=10)["results"] == []
    assert wand.topk("notindexedterm", k=10)["results"] == []


@pytest.fixture(scope="module")
def zlib_index_dir(spark, tmp_index_root):
    """Same corpus, z=2 (zlib) posting-run codec."""
    import pyspark.sql.types as T

    schema = T.StructType(
        [
            T.StructField("url", T.StringType()),
            T.StructField("warc_ts", T.TimestampType()),
            T.StructField("html", T.BinaryType()),
            T.StructField("text", T.StringType()),
            T.StructField("lang", T.StringType()),
        ]
    )
    corpus = spark.createDataFrame(corpus_rows(N_DOCS), schema)
    d = os.path.join(tmp_index_root, "wand_idx_zlib")
    IndexBuilder(
        spark, d, IndexConfig(n_buckets=8, doc_range_bits=5, codec="zlib")
    ).build(corpus)
    return d


@pytest.mark.parametrize("query", QUERIES[:3])
def test_zlib_codec_rank_identity(spark, zlib_index_dir, oracle_index, query):
    """z=2 index answers rank-identically to the oracle (and hence to
    the z=1 index) — verify_compression's cross-codec agreement at the
    whole-engine level."""
    wand = WandEngine(spark, zlib_index_dir)
    got = wand.topk(query, k=10)
    want = oracle_index.query(query, k=10)
    assert [r["doc_id"] for r in got["results"]] == [
        r["doc_id"] for r in want["results"]
    ], query
    for g, w in zip(got["results"], want["results"]):
        assert abs(g["score"] - w["score"]) < 1e-9


def test_zlib_blocks_decode(spark, zlib_index_dir, oracle_index):
    from elasticsearch_spark.functions.codec import decode_block

    blocks = spark.read.parquet(os.path.join(zlib_index_dir, "blocks")).collect()
    got = {}
    for r in blocks:
        d, t, _l = decode_block(r["doc_blob"], r["tf_blob"], r["len_blob"], "zlib")
        got.setdefault(r["term"], []).extend(zip(d.tolist(), t.tolist()))
    assert len(got) == len(oracle_index.postings)
    for term, plist in oracle_index.postings.items():
        assert sorted(got[term]) == plist, term


@pytest.mark.parametrize("query", QUERIES)
def test_three_phase_path_rank_identity(spark, index_dir, oracle_index, query):
    """Force the 3-phase UB-pruned path (the small-corpus heuristic
    would normally take the single-phase shortcut) — must still be
    rank-identical to the oracle."""
    wand = WandEngine(spark, index_dir)
    wand.SINGLE_PHASE_RANGES = 0  # instance override
    got = wand.topk(query, k=10)
    want = oracle_index.query(query, k=10)
    assert [r["doc_id"] for r in got["results"]] == [
        r["doc_id"] for r in want["results"]
    ], query
    for g, w in zip(got["results"], want["results"]):
        assert abs(g["score"] - w["score"]) < 1e-9


@pytest.mark.parametrize("query", QUERIES)
def test_wand_turbo_matches_spark_phases(spark, index_dir, query):
    """The turbo tier (``topk`` on a small corpus) must equal the
    distributed topk_df phases exactly."""
    wand = WandEngine(spark, index_dir)
    results = wand.topk(query, 10)["results"]
    want = wand.topk_df(query, 10).collect()
    assert [r["doc_id"] for r in results] == [r["doc_id"] for r in want], query
    for g, w in zip(results, want):
        assert abs(g["score"] - w["score"]) < 1e-9, query


def _spark_jobs(spark, group, fn, *args, **kwargs):
    """``fn(*args, **kwargs)`` and the number of Spark jobs it ran
    (counted under the job group ``group``, unique per call)."""
    sc = spark.sparkContext
    sc.setLocalProperty("spark.jobGroup.id", group)
    try:
        out = fn(*args, **kwargs)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def test_wand_turbo_cutover_declines(spark, index_dir, monkeypatch):
    """Above QueryEngine's cutover, topk serves from the distributed
    plan: Spark jobs run and the results are unchanged."""
    wand = WandEngine(spark, index_dir)
    q = "sparkhead"  # the planted head token: live df > 0
    want, jobs = _spark_jobs(spark, "wand_cutover_turbo", wand.topk, q, 10)
    assert jobs == 0 and want["results"]
    monkeypatch.setattr(QueryEngine, "TURBO_MAX_POSTINGS", 0)
    got, jobs = _spark_jobs(spark, "wand_cutover_plan", wand.topk, q, 10)
    assert jobs >= 1
    assert [r["doc_id"] for r in got["results"]] == [
        r["doc_id"] for r in want["results"]
    ]
    for g, w in zip(got["results"], want["results"]):
        assert abs(g["score"] - w["score"]) < 1e-9


@pytest.mark.parametrize("query", QUERIES)
def test_wand_total_hits_matches_taat(spark, index_dir, query, monkeypatch):
    """with_total_hits=True must return the TAAT Observation count —
    from BOTH tiers: the turbo tier and the distributed pair (plan
    top-k + bounded count-distinct job)."""
    eng = QueryEngine(spark, index_dir)
    want = eng.ranked(query, k=10)["total_hits"]

    wand = WandEngine(spark, index_dir)
    got_turbo = wand.topk(query, k=10, with_total_hits=True)
    assert got_turbo["total_hits"] == want, query

    # force the distributed path
    monkeypatch.setattr(QueryEngine, "TURBO_MAX_POSTINGS", -1)
    got_plan = WandEngine(spark, index_dir).topk(query, k=10, with_total_hits=True)
    assert got_plan["total_hits"] == want, query
    assert [r["doc_id"] for r in got_plan["results"]] == [
        r["doc_id"] for r in got_turbo["results"]
    ], query

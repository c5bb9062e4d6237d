"""Phrase retrieval: Spark positional index vs pure-Python oracle
(PHRASE from the reference grammar ``README.md:39-48`` — spec'd there,
implemented here; positional build per
``selfindex_z1_simple_compression.py:141,162-165``)."""

import os

import pytest
from pyspark.sql import functions as F

from elasticsearch_spark.operators.build import IndexBuilder, IndexConfig
from elasticsearch_spark.operators.phrase import (
    phrase_match,
    phrase_match_slots,
    phrase_query,
    positional_postings,
)
from elasticsearch_spark.operators.query import QueryEngine
from elasticsearch_spark.oracle.engine import OracleIndex
from elasticsearch_spark.sources.webtext import corpus_rows, gen_corpus
from tests.test_spark_engine import INPUT_SCHEMA, N_DOCS

PHRASES = [
    "machine learning",
    "machine learning studies",
    "sparkhead",
    "nonexistentterm machine",
    "the machine learning",  # stopword dropped -> same as "machine learning"
]


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
def pos_engine(spark, tmp_index_root):
    corpus = spark.createDataFrame(corpus_rows(N_DOCS), INPUT_SCHEMA)
    d = os.path.join(tmp_index_root, "webtext_positional")
    builder = IndexBuilder(
        spark, d, IndexConfig(n_buckets=8, doc_range_bits=6, positional=True)
    )
    assert builder.build(corpus)["finalized"]
    return QueryEngine(spark, d)


def _join_postings_for(spark, eng, terms):
    """``postings_for`` over the live tokens table's positional
    postings: the input of the join fold (``phrase_match`` /
    ``phrase_match_slots``) that serves ``phrase_query``, built from
    the forward index rather than the compressed blocks."""
    from elasticsearch_spark.operators.reader import live_tokens

    post = positional_postings(
        live_tokens(spark, eng.index_dir), sorted(set(terms))
    )
    return lambda t: post.filter(F.col("term") == t).select(
        "doc_id", "positions"
    )


def _match_rows(df):
    return {
        r["doc_id"]: (r["n_occurrences"], list(r["start_positions"]))
        for r in df.collect()
    }


@pytest.mark.parametrize("phrase", PHRASES + ["machine machine"])
def test_phrase_parity(pos_engine, oracle_index, phrase):
    want = oracle_index.phrase_query(phrase)
    got = {
        r["doc_id"]: list(r["start_positions"])
        for r in pos_engine.phrase_plan(phrase).collect()
    }
    assert got == want, phrase


def test_phrase_result_shape(pos_engine, oracle_index):
    res = pos_engine.phrase("machine learning", k=5)
    want = oracle_index.phrase_query("machine learning")
    assert res["total_hits"] == len(want)
    assert len(res["results"]) <= 5
    # ranked by occurrence count desc then doc_id
    occs = [r["score"] for r in res["results"]]
    assert occs == sorted(occs, reverse=True) or len(set(occs)) > 1


def test_phrase_requires_positional_index(spark, tmp_index_root):
    """Every positional entry point refuses a non-positional index, on
    both tiers, whatever the phrase analyzes to."""
    d = os.path.join(tmp_index_root, "phrase_non_positional")
    IndexBuilder(spark, d, IndexConfig(n_buckets=4, doc_range_bits=6)).build(
        spark.createDataFrame(corpus_rows(30), INPUT_SCHEMA)
    )
    for turbo in (True, False):
        eng = QueryEngine(spark, d, turbo=turbo)
        for call in (
            lambda: eng.phrase_plan("machine learning"),
            lambda: eng.phrase_plan("the"),
            lambda: eng.phrase("machine learning"),
            lambda: eng.phrase("machine learning", slop=2, slop_mode="moves"),
            lambda: eng.span_near_plan(["machin", "learn"]),
            lambda: eng.span_near(["machin", "learn"]),
            lambda: eng.match_phrase_prefix_plan("machine lea"),
            lambda: eng.match_phrase_prefix("machine lea"),
        ):
            with pytest.raises(ValueError):
                call()


def test_phrase_query_on_tokens_df(spark):
    rows = [
        (0, ["a", "b", "c", "a", "b"]),
        (1, ["b", "a", "b", "c"]),
        (2, ["c", "c", "c"]),
    ]
    df = spark.createDataFrame(rows, "doc_id long, tokens array<string>")
    got = {
        r["doc_id"]: (r["n_occurrences"], list(r["start_positions"]))
        for r in phrase_query(df, ["a", "b"]).collect()
    }
    assert got == {0: (2, [0, 3]), 1: (1, [1])}
    got3 = {
        r["doc_id"]: list(r["start_positions"])
        for r in phrase_query(df, ["a", "b", "c"]).collect()
    }
    assert got3 == {0: [0], 1: [1]}


def test_phrase_served_from_compressed_blocks(spark, pos_engine):
    """The phrase path must read position streams from the block layout
    (pos_blob present and non-null), and the block-decoded positions
    (``decode_positional_rows``, the decoder both tiers call) must
    equal the postings table's ``positions`` column."""
    from elasticsearch_spark.operators.phrase import decode_positional_rows

    blocks = spark.read.parquet(os.path.join(pos_engine.index_dir, "blocks"))
    assert "pos_blob" in blocks.columns
    assert blocks.filter(F.col("pos_blob").isNull()).count() == 0

    term = (
        pos_engine._dictionary.filter(F.col("df") > 1)
        .orderBy(F.col("df").desc())
        .first()["term"]
    )
    cols = ["term", "doc_blob", "tf_blob", "len_blob", "pos_blob"]
    rows = [
        tuple(r)
        for r in blocks.filter(F.col("term") == term).select(*cols).collect()
    ]
    decoded = decode_positional_rows(
        rows, pos_engine.stats["config"].get("codec", "vbyte")
    )
    got = {doc: pos.tolist() for doc, pos in decoded[term].items()}
    want = {
        r["doc_id"]: list(r["positions"])
        for r in pos_engine._pruned_postings([term])
        .select("doc_id", "positions")
        .collect()
    }
    assert got == want and len(got) > 0


def test_positional_blocks_carry_pos_blob_through_update_and_compact(
        spark, tmp_index_root):
    """A positional index writes ``pos_blob`` into every block it ever
    writes — the base build, a delta segment and a compaction — so the
    block layout alone serves every positional query."""
    from elasticsearch_spark.operators.reader import delta_segments, load_manifest

    rows = corpus_rows(140)
    d = os.path.join(tmp_index_root, "phrase_pos_blob")
    bld = IndexBuilder(
        spark, d, IndexConfig(n_buckets=4, doc_range_bits=6, positional=True)
    )
    bld.build(spark.createDataFrame(rows[:110], INPUT_SCHEMA))
    rm = [
        r["url"]
        for r in spark.read.parquet(os.path.join(d, "docs"))
        .orderBy("doc_id").limit(3).collect()
    ]
    bld.update_index(
        add=spark.createDataFrame(rows[110:], INPUT_SCHEMA), remove_urls=rm,
        compact=False,
    )

    def null_pos_blobs(path):
        blocks = spark.read.parquet(path)
        assert blocks.count() > 0, path
        return blocks.filter(F.col("pos_blob").isNull()).count()

    segs = delta_segments(load_manifest(d))
    assert segs
    for seg in segs:
        assert null_pos_blobs(os.path.join(d, "segments", seg, "blocks")) == 0
    before = QueryEngine(spark, d).phrase("machine learning", k=1000)
    bld.compact()
    assert not delta_segments(load_manifest(d))
    assert null_pos_blobs(os.path.join(d, "blocks")) == 0
    assert QueryEngine(spark, d).phrase("machine learning", k=1000) == before


def test_phrase_on_updated_index_matches_rebuild(spark, tmp_index_root):
    """Phrase over base + delta positional block sources (tombstone-
    filtered) must equal a full rebuild of the post-update corpus."""
    from elasticsearch_spark.sources.webtext import corpus_rows as _rows

    rows = _rows(260)
    base = spark.createDataFrame(rows[:220], INPUT_SCHEMA)
    extra = spark.createDataFrame(rows[220:], INPUT_SCHEMA)
    cfg = IndexConfig(n_buckets=4, doc_range_bits=6, positional=True)
    d = os.path.join(tmp_index_root, "phrase_inc")
    bld = IndexBuilder(spark, d, cfg)
    bld.build(base)
    rm = [
        r["url"]
        for r in spark.read.parquet(os.path.join(d, "docs"))
        .orderBy("doc_id").limit(4).collect()
    ]
    bld.update_index(add=extra, remove_urls=rm)

    rb = os.path.join(tmp_index_root, "phrase_inc_rb")
    IndexBuilder(spark, rb, cfg).build(
        base.filter(~F.col("url").isin(rm)).unionByName(extra)
    )

    from elasticsearch_spark.operators.reader import live_docs

    def by_url(idx_dir, phrase):
        eng = QueryEngine(spark, idx_dir)
        urls = {r["doc_id"]: r["url"] for r in live_docs(spark, idx_dir).collect()}
        return {
            urls[r["doc_id"]]: (r["n_occurrences"], list(r["start_positions"]))
            for r in eng.phrase_plan(phrase).collect()
        }

    for phrase in ["machine learning", "sparkhead", "zo ta"]:
        assert by_url(d, phrase) == by_url(rb, phrase), phrase


@pytest.mark.parametrize("phrase", PHRASES + ["machine machine"])
def test_phrase_kernel_matches_join_plan(spark, pos_engine, phrase):
    """The doc-range positional kernel (one shuffle, numpy shifted
    intersection over the compressed blocks) must equal the k-1 join
    fold over the tokens table exactly — including a repeated-term
    phrase, where the same position list is intersected under two
    different shifts."""
    terms = pos_engine._terms(phrase)
    want = phrase_match(_join_postings_for(spark, pos_engine, terms), terms)
    assert _match_rows(pos_engine.phrase_plan(phrase)) == _match_rows(want), phrase


@pytest.mark.parametrize("phrase", PHRASES)
def test_turbo_phrase_matches_plan(spark, pos_engine, phrase):
    """Driver-side phrase (block decode + shifted intersection in numpy)
    must equal the DataFrame plan path exactly."""
    turbo_eng = QueryEngine(spark, pos_engine.index_dir, turbo=True)
    plan_eng = QueryEngine(spark, pos_engine.index_dir, turbo=False)
    assert turbo_eng.phrase(phrase, k=10) == plan_eng.phrase(phrase, k=10), phrase


# ---------------------------------------------- match_phrase_prefix (ES)

MPP_PHRASES = [
    # the "running studies flies died lying agreed plastered motoring"
    # edge snippet plants real adjacencies (stems: run studi fli die
    # lie agre plaster motor)
    "running stud",        # [run] + stud* -> studi
    "agreed plast",        # [agre] + plast* -> plaster
    "stud",                # single-token prefix phrase
    "running zzzz",        # dead prefix -> zero hits
    "the running stud",    # stopword dropped, same as "running stud"
    "running s",           # broad prefix: every live s* term competes
]


def _brute_mpp(spark, eng, phrase):
    """Independent recompute over the live forward tokens: positions
    where the leading analyzed terms match exactly and the next token
    starts with the analyzed prefix."""
    from elasticsearch_spark.operators.reader import live_tokens

    terms = eng._terms(phrase)
    if not terms:
        return {}
    first, prefix = terms[:-1], terms[-1]
    k = len(first)
    out = {}
    for r in live_tokens(spark, eng.index_dir).collect():
        toks = list(r["tokens"])
        starts = [
            i
            for i in range(len(toks) - k)
            if toks[i:i + k] == first and toks[i + k].startswith(prefix)
        ]
        if starts:
            out[r["doc_id"]] = (len(starts), starts)
    return out


@pytest.mark.parametrize("phrase", MPP_PHRASES)
def test_match_phrase_prefix_plan_matches_brute(spark, pos_engine, phrase):
    """Slots-kernel plan ≡ forward-index recompute (the synthetic
    vocabulary expands well under the 50-term cap, so startswith over
    the token stream equals the capped dictionary expansion)."""
    got = {
        r["doc_id"]: (r["n_occurrences"], list(r["start_positions"]))
        for r in pos_engine.match_phrase_prefix_plan(phrase).collect()
    }
    assert got == _brute_mpp(spark, pos_engine, phrase), phrase


@pytest.mark.parametrize("phrase", MPP_PHRASES)
def test_match_phrase_prefix_kernel_matches_join_slots(spark, pos_engine,
                                                       phrase):
    """phrase_slots_kernel ≡ the join-fold slots twin over the tokens
    table."""
    slots = pos_engine._mpp_slots(phrase, 50)
    if slots is None:
        pytest.skip("phrase expands to nothing at this corpus")
    postings_for = _join_postings_for(
        spark, pos_engine, [t for s in slots for t in s]
    )
    got = _match_rows(pos_engine.match_phrase_prefix_plan(phrase))
    assert got == _match_rows(phrase_match_slots(postings_for, slots)), phrase


@pytest.mark.parametrize("phrase", MPP_PHRASES)
def test_match_phrase_prefix_turbo_matches_plan(spark, pos_engine, phrase):
    """Driver-side slots kernel ≡ distributed plan path, full result
    shape (ranking, total_hits)."""
    turbo_eng = QueryEngine(spark, pos_engine.index_dir, turbo=True)
    plan_eng = QueryEngine(spark, pos_engine.index_dir, turbo=False)
    assert turbo_eng.match_phrase_prefix(phrase, k=10) == plan_eng.match_phrase_prefix(
        phrase, k=10
    ), phrase


# ------------------------------------------------- sloppy phrase (slop)

def test_sloppy_starts_hand_cases():
    """Greedy-chain kernel on hand-built position lists (ordered ES
    match_phrase slop semantics; operators/phrase.py sloppy_starts)."""
    from elasticsearch_spark.operators.phrase import sloppy_starts

    # "a b" with one gap: a@0, b@2 -> slop 0 misses, slop 1 hits
    assert sloppy_starts([[0], [2]], 1).tolist() == [0]
    from elasticsearch_spark.operators.phrase import sloppy_starts as ss
    import numpy as np

    assert ss([np.array([0]), np.array([2])], 1).tolist() == [0]
    # at slop=0 the span check reduces to exact adjacency
    assert ss([[0, 5], [1, 6]], 0).tolist() == [0, 5]
    assert ss([[0, 5], [2, 6]], 0).tolist() == [5]
    # ordered only: b@0, a@1 gives no "a b" match at any slop
    assert ss([[1], [0]], 3).tolist() == []
    # greedy must not over-commit: a@0, b@[1, 9], c@[2]
    # greedy b=1 then c=2, span 2 <= 2+0 -> matches at slop 0 via slop path
    assert ss([[0], [1, 9], [2]], 1).tolist() == [0]
    # span too wide: a@0 b@4 c@8, k-1=2, span 8 needs slop >= 6
    assert ss([[0], [4], [8]], 5).tolist() == []
    assert ss([[0], [4], [8]], 6).tolist() == [0]
    # empty slot kills everything
    assert ss([[0, 1], [], [2]], 9).tolist() == []


SLOPPY_CASES = [
    # live webtext vocabulary with heavy proximity co-occurrence
    # (faducafib/pu/gahabutew head terms; ~350 matching docs each at
    # slop 2) so parity is over real matches, not empty sets
    ("pu faducafib", 1),
    ("pu faducafib", 3),
    ("zo sazo", 2),
    ("gahabutew pu", 2),
    ("faducafib gahabutew pu", 4),       # 3-term chain
    ("sparkhead sparkhead", 2),          # repeated term, increasing chain
    ("machine learning", 1),             # dead phrase: parity on empty set
]


def test_sloppy_cases_have_matches(oracle_index):
    """Guard against vacuous parity: the main sloppy cases must match
    real docs in the oracle."""
    hits = [
        len(oracle_index.sloppy_phrase_query(p, s))
        for p, s in SLOPPY_CASES[:4]
    ]
    assert all(h > 0 for h in hits), hits


@pytest.mark.parametrize("phrase,slop", SLOPPY_CASES)
def test_sloppy_phrase_parity(pos_engine, oracle_index, phrase, slop):
    """Kernel (vectorized greedy chain) vs the oracle's brute-force
    tuple enumeration — agreement exercises the greedy-optimality
    argument, not just the implementation."""
    want = oracle_index.sloppy_phrase_query(phrase, slop)
    got = {
        r["doc_id"]: list(r["start_positions"])
        for r in pos_engine.phrase_plan(phrase, slop=slop).collect()
    }
    assert got == want, (phrase, slop)


@pytest.mark.parametrize("phrase,slop", SLOPPY_CASES)
def test_sloppy_kernel_matches_join_plan(spark, pos_engine, phrase, slop):
    """Doc-range kernel ≡ the higher-order-function join fold over the
    tokens table."""
    terms = pos_engine._terms(phrase)
    want = phrase_match(
        _join_postings_for(spark, pos_engine, terms), terms, slop
    )
    assert _match_rows(pos_engine.phrase_plan(phrase, slop=slop)) == (
        _match_rows(want)
    ), (phrase, slop)


@pytest.mark.parametrize("phrase", PHRASES)
def test_slop_zero_is_exact_phrase(pos_engine, phrase):
    def rows(df):
        return {
            r["doc_id"]: list(r["start_positions"]) for r in df.collect()
        }

    assert rows(pos_engine.phrase_plan(phrase, slop=0)) == rows(
        pos_engine.phrase_plan(phrase)
    ), phrase


@pytest.mark.parametrize("phrase,slop", SLOPPY_CASES[:3])
def test_turbo_sloppy_matches_plan(spark, pos_engine, phrase, slop):
    turbo_eng = QueryEngine(spark, pos_engine.index_dir, turbo=True)
    plan_eng = QueryEngine(spark, pos_engine.index_dir, turbo=False)
    assert turbo_eng.phrase(phrase, k=10, slop=slop) == plan_eng.phrase(
        phrase, k=10, slop=slop
    ), (phrase, slop)


def test_sloppy_phrase_query_on_tokens_df(spark):
    """Join-fold slop path on a hand-built corpus."""
    rows = [
        (0, ["a", "x", "b"]),        # gap 1 -> slop>=1
        (1, ["a", "b"]),             # exact
        (2, ["b", "a"]),             # reversed -> never (ordered)
        (3, ["a", "x", "x", "b"]),   # gap 2 -> slop>=2
    ]
    df = spark.createDataFrame(rows, "doc_id long, tokens array<string>")

    def got(slop):
        return {
            r["doc_id"]: list(r["start_positions"])
            for r in phrase_query(df, ["a", "b"], slop=slop).collect()
        }

    assert got(0) == {1: [0]}
    assert got(1) == {0: [0], 1: [0]}
    assert got(2) == {0: [0], 1: [0], 3: [0]}


# ---------------------------------------- move-based (Lucene/ES) slop

def test_movable_starts_hand_cases():
    """Transposition-aware kernel on hand-built positions
    (operators/phrase.py movable_starts: max-min of slot-adjusted
    offsets <= slop, distinct positions)."""
    from elasticsearch_spark.operators.phrase import movable_starts as ms

    # transposed bigram: query "a b", doc "b a" -> slop 2 hits, 1 misses
    assert ms([[1], [0]], 2).tolist() == [1]
    assert ms([[1], [0]], 1).tolist() == []
    # ordered cases agree with sloppy_starts (spread == span - (k-1))
    assert ms([[0], [2]], 1).tolist() == [0]
    assert ms([[0], [2]], 0).tolist() == []
    assert ms([[0, 5], [1, 6]], 0).tolist() == [0, 5]
    assert ms([[0], [4], [8]], 6).tolist() == [0]
    assert ms([[0], [4], [8]], 5).tolist() == []
    # rotation "a b c" vs doc "c a b": offsets (1, 1, -2) -> spread 3
    assert ms([[1], [2], [0]], 3).tolist() == [1]
    assert ms([[1], [2], [0]], 2).tolist() == []
    # repeated term needs DISTINCT positions
    assert ms([[3], [3]], 9).tolist() == []
    assert ms([[3, 4], [3, 4]], 0).tolist() == [3]
    assert ms([[3, 4], [3, 4]], 2).tolist() == [3, 4]
    # empty slot kills everything
    assert ms([[0, 1], [], [2]], 9).tolist() == []


MOVES_CASES = [
    ("faducafib pu", 2),        # reversed live bigram: transpositions real
    ("pu faducafib", 3),
    ("sazo zo", 2),
    ("gahabutew pu", 2),
    ("pu gahabutew faducafib", 4),
    ("sparkhead sparkhead", 2),  # repeated term: distinctness matters
    ("machine learning", 1),     # parity on (near-)empty set
]


@pytest.mark.parametrize("phrase,slop", MOVES_CASES)
def test_movable_phrase_parity(pos_engine, oracle_index, phrase, slop):
    """Kernel (greedy interval matching) vs the oracle's brute-force
    assignment enumeration — agreement exercises the greedy-optimality
    argument for the move-based semantics."""
    want = oracle_index.movable_phrase_query(phrase, slop)
    got = {
        r["doc_id"]: list(r["start_positions"])
        for r in pos_engine.phrase_plan(
            phrase, slop=slop, slop_mode="moves"
        ).collect()
    }
    assert got == want, (phrase, slop)


def test_moves_strictly_widens_ordered(oracle_index):
    """Non-vacuous transposition coverage: at slop >= 2 the move-based
    match set must be a superset of ordered, strictly bigger for at
    least one case (docs with swapped word order)."""
    strictly = 0
    for phrase, slop in MOVES_CASES[:5]:
        ordered = oracle_index.sloppy_phrase_query(phrase, slop)
        moves = oracle_index.movable_phrase_query(phrase, slop)
        for doc, starts in ordered.items():
            assert set(starts) <= set(moves.get(doc, [])), (phrase, doc)
        if moves.keys() - ordered.keys():
            strictly += 1
    assert strictly > 0


@pytest.mark.parametrize("phrase", ["pu faducafib", "gahabutew pu"])
def test_moves_equals_ordered_at_low_slop(pos_engine, phrase):
    """At slop <= 1 a transposition (cost 2) cannot fire: the two modes
    must return identical plans."""
    for slop in (0, 1):
        a = sorted(
            (r["doc_id"], tuple(r["start_positions"]))
            for r in pos_engine.phrase_plan(phrase, slop=slop).collect()
        )
        b = sorted(
            (r["doc_id"], tuple(r["start_positions"]))
            for r in pos_engine.phrase_plan(
                phrase, slop=slop, slop_mode="moves"
            ).collect()
        )
        assert a == b, (phrase, slop)


@pytest.mark.parametrize("phrase,slop", MOVES_CASES[:4])
def test_turbo_moves_matches_plan(spark, pos_engine, phrase, slop):
    """Driver-side turbo phrase with slop_mode='moves' ≡ the kernel
    plan (same docs, same occurrence counts)."""
    turbo = QueryEngine(spark, pos_engine.index_dir, turbo=True)
    res = turbo.phrase(phrase, k=1000, slop=slop, slop_mode="moves")
    plan = {
        r["doc_id"]: r["n_occurrences"]
        for r in pos_engine.phrase_plan(
            phrase, slop=slop, slop_mode="moves"
        ).collect()
    }
    got = {r["doc_id"]: int(r["score"]) for r in res["results"]}
    assert got == plan, (phrase, slop)
    assert res["total_hits"] == len(plan)


# ----------------------------------------- ES-scored match_phrase (BM25)

@pytest.mark.parametrize("phrase,slop,mode", [
    ("machine learning", 0, "ordered"),
    ("pu faducafib", 2, "ordered"),
    ("faducafib pu", 2, "moves"),
    ("sparkhead sparkhead", 2, "moves"),
])
def test_phrase_bm25_scores_match_oracle(pos_engine, oracle_index, phrase,
                                         slop, mode):
    """phrase_scored_plan (Lucene pseudo-term scoring: summed idf x
    BM25 saturation of phrase frequency) ≡ the oracle recompute."""
    want = oracle_index.phrase_bm25_scores(phrase, slop, mode)
    got = {
        r["doc_id"]: (r["n_occurrences"], r["score"])
        for r in pos_engine.phrase_scored_plan(
            phrase, slop=slop, slop_mode=mode
        ).collect()
    }
    assert set(got) == set(want), (phrase, slop, mode)
    for d, (pf, s) in want.items():
        assert got[d][0] == pf, (phrase, d)
        assert abs(got[d][1] - s) < 1e-9, (phrase, d)


def test_phrase_bm25_tfidf_variant(pos_engine, oracle_index):
    want = oracle_index.phrase_bm25_scores("machine learning", method="tfidf")
    got = {
        r["doc_id"]: r["score"]
        for r in pos_engine.phrase_scored_plan(
            "machine learning", method="tfidf"
        ).collect()
    }
    assert set(got) == set(want)
    for d, (_pf, s) in want.items():
        assert abs(got[d] - s) < 1e-9


# ------------------------------------------------ span_near (round 5)

def _span_terms(phrase: str):
    """span_term clauses are INDEX terms (verbatim, no analysis) — run
    the words through the pipeline once so the tests query real
    dictionary entries."""
    from elasticsearch_spark.functions.tokenizer import preprocess_query

    return preprocess_query(phrase)


SPAN_CASES = [
    # live webtext vocabulary (the SLOPPY_CASES head terms) so parity
    # runs over real matches, not empty sets
    ("pu faducafib", 0, False),
    ("faducafib pu", 1, False),         # reversed: unordered still hits
    ("faducafib gahabutew pu", 2, False),
    ("faducafib gahabutew pu", 2, True),
    ("faducafib faducafib", 3, False),  # repeated clause: DISTINCT positions
    ("pu nonexistentterm", 5, False),   # dead clause: parity on empty set
]


@pytest.mark.parametrize("phrase,slop,in_order", SPAN_CASES)
def test_span_near_parity(pos_engine, oracle_index, phrase, slop, in_order):
    """Kernel (window matching / greedy chain) vs the oracle's
    brute-force tuple enumeration — doc ids AND start positions."""
    terms = _span_terms(phrase)
    want = oracle_index.span_near_query(terms, slop, in_order)
    got = {
        r["doc_id"]: list(r["start_positions"])
        for r in pos_engine.span_near_plan(terms, slop, in_order).collect()
    }
    assert got == want, (phrase, slop, in_order)


def test_span_cases_have_matches(oracle_index):
    """The parity suite must exercise real matches (except the
    deliberate miss case)."""
    hits = [
        len(oracle_index.span_near_query(_span_terms(p), s, o))
        for p, s, o in SPAN_CASES[:5]
    ]
    assert all(h > 0 for h in hits), hits


def test_span_near_result_both_tiers(spark, pos_engine, oracle_index):
    """span_near() through BOTH serving tiers ≡ the oracle's counts and
    (n_occ desc, doc_id) ranking."""
    terms = _span_terms("faducafib gahabutew pu")
    want = oracle_index.span_near_query(terms, 2, False)
    exp = sorted(((d, len(s)) for d, s in want.items()),
                 key=lambda x: (-x[1], x[0]))
    plan_eng = QueryEngine(spark, pos_engine.index_dir, turbo=False)
    for eng in (pos_engine, plan_eng):
        res = eng.span_near(terms, k=10, slop=2, in_order=False)
        assert res["total_hits"] == len(want)
        assert [(r["doc_id"], r["score"]) for r in res["results"]] == [
            (d, float(n)) for d, n in exp[:10]
        ]


def test_span_near_unordered_widens_ordered(oracle_index):
    """Reversed clause order: unordered matching is order-symmetric and
    strictly wider than ordered — guards against unordered silently
    running the ordered matcher."""
    terms = _span_terms("pu faducafib")
    rev = terms[::-1]
    u_fwd = oracle_index.span_near_query(terms, 3, False)
    u_rev = oracle_index.span_near_query(rev, 3, False)
    assert u_fwd == u_rev and u_fwd
    o_rev = oracle_index.span_near_query(rev, 3, True)
    assert sum(map(len, u_rev.values())) > sum(map(len, o_rev.values()))

"""Incremental index update (B14): add-segment + tombstone merge must be
query-equivalent to a full rebuild of the post-update corpus (reference
interface ``index_base.py:65-67``; the ES backend's delete+bulk-add,
``elasticsearch_indexer.py:151-180``, is the semantic model)."""

import os

import pytest
from pyspark.sql import functions as F

from elasticsearch_spark.operators.build import (
    IndexBuilder,
    IndexConfig,
    delete_index,
    list_indexes,
)
from elasticsearch_spark.operators.query import QueryEngine
from elasticsearch_spark.sources.webtext import corpus_rows
from tests.test_spark_engine import INPUT_SCHEMA

QUERIES = ["machine learning", "sparkhead", "zo ta ne"]


@pytest.fixture(scope="module")
def corpora(spark):
    rows = corpus_rows(300)
    base = spark.createDataFrame(rows[:240], INPUT_SCHEMA)
    extra = spark.createDataFrame(rows[240:], INPUT_SCHEMA)
    return base, extra


def _postings_by_url(spark, index_dir):
    """(url, term, tf) set — the id-agnostic content of the LIVE index
    view (base ∪ delta segments − tombstones)."""
    from elasticsearch_spark.operators.reader import live_docs, live_postings

    postings = live_postings(spark, index_dir)
    docs = live_docs(spark, index_dir)
    rows = postings.join(docs, "doc_id").select("url", "term", "tf").collect()
    return {(r["url"], r["term"], r["tf"]) for r in rows}


def _ranked_urls(spark, index_dir, query):
    from elasticsearch_spark.operators.reader import live_docs

    eng = QueryEngine(spark, index_dir)
    res = eng.ranked(query, k=10)
    docs = {
        r["doc_id"]: r["url"] for r in live_docs(spark, index_dir).collect()
    }
    return [(docs[r["doc_id"]], round(r["score"], 9)) for r in res["results"]]


def _tree_file_states(path):
    """{relpath: (size, mtime_ns)} for every data file under a table."""
    out = {}
    for root, _dirs, files in os.walk(path):
        for f in files:
            p = os.path.join(root, f)
            st = os.stat(p)
            out[os.path.relpath(p, path)] = (st.st_size, st.st_mtime_ns)
    return out


def test_update_add_and_remove_matches_rebuild(spark, corpora, tmp_index_root):
    base, extra = corpora
    cfg = IndexConfig(n_buckets=4, doc_range_bits=6)

    # incremental: build on base, then add `extra` and remove 10 urls
    inc_dir = os.path.join(tmp_index_root, "inc")
    b = IndexBuilder(spark, inc_dir, cfg)
    m = b.build(base)
    assert m["finalized"]
    # pick urls that are actually indexed (non-en docs are filtered at
    # build; removing an unindexed url is a no-op)
    removed = [
        r["url"]
        for r in spark.read.parquet(os.path.join(inc_dir, "docs"))
        .orderBy("doc_id")
        .limit(10)
        .collect()
    ]
    m = b.update_index(add=extra, remove_urls=removed)
    assert m["finalized"] and len(m["segments"]) == 2
    assert len(m["tombstones"]) == 10

    # rebuild: one-shot build on (base - removed) + extra
    target = base.filter(~F.col("url").isin(removed)).unionByName(extra)
    rb_dir = os.path.join(tmp_index_root, "rebuild")
    IndexBuilder(spark, rb_dir, cfg).build(target)

    assert _postings_by_url(spark, inc_dir) == _postings_by_url(spark, rb_dir)

    inc_stats = QueryEngine(spark, inc_dir).stats
    rb_stats = QueryEngine(spark, rb_dir).stats
    assert inc_stats["doc_count"] == rb_stats["doc_count"]
    assert abs(inc_stats["avg_doc_len"] - rb_stats["avg_doc_len"]) < 1e-9
    # n_terms stays the last exact value between compactions (no O(vocab)
    # job per update); the explicit live count must match the rebuild
    assert inc_stats["n_terms_exact"] is False
    assert b.live_term_count() == rb_stats["n_terms"]
    assert inc_stats["n_postings"] == rb_stats["n_postings"]

    for q in QUERIES:
        assert _ranked_urls(spark, inc_dir, q) == _ranked_urls(spark, rb_dir, q), q


def test_remove_max_id_then_add_matches_rebuild(spark, tmp_index_root):
    """Regression: removing the highest-id doc(s) then adding must not
    recycle tombstoned doc_ids (which finalize's anti-join would silently
    delete).  next_doc_id must advance past tombstones."""
    rows = corpus_rows(240)
    base = spark.createDataFrame(rows[:200], INPUT_SCHEMA)
    extra = spark.createDataFrame(rows[200:], INPUT_SCHEMA)
    cfg = IndexConfig(n_buckets=4, doc_range_bits=6)

    inc_dir = os.path.join(tmp_index_root, "inc_maxid")
    bld = IndexBuilder(spark, inc_dir, cfg)
    bld.build(base)
    # remove the HIGHEST-id urls (the uncovered direction)
    removed = [
        r["url"]
        for r in spark.read.parquet(os.path.join(inc_dir, "docs"))
        .orderBy(F.col("doc_id").desc())
        .limit(3)
        .collect()
    ]
    bld.update_index(remove_urls=removed)
    n_before = QueryEngine(spark, inc_dir).stats["doc_count"]
    # engine created BEFORE the next update: its idf cache + stats must
    # invalidate on the manifest mtime change (staleness regression)
    live = QueryEngine(spark, inc_dir)
    live.ranked(QUERIES[0], k=10)
    # second update: add fresh docs — every indexable one must survive
    m = bld.update_index(add=extra)
    assert m["finalized"]
    fresh = QueryEngine(spark, inc_dir)
    for q in QUERIES:
        assert live.ranked(q, k=10) == fresh.ranked(q, k=10), q
    added_stats = m["segments"][sorted(m["segments"])[-1]]
    assert QueryEngine(spark, inc_dir).stats["doc_count"] == (
        n_before + added_stats["n_docs"]
    )

    target = base.filter(~F.col("url").isin(removed)).unionByName(extra)
    rb_dir = os.path.join(tmp_index_root, "rebuild_maxid")
    IndexBuilder(spark, rb_dir, cfg).build(target)
    assert _postings_by_url(spark, inc_dir) == _postings_by_url(spark, rb_dir)
    for q in QUERIES:
        assert _ranked_urls(spark, inc_dir, q) == _ranked_urls(spark, rb_dir, q), q


def test_update_add_is_o_delta_not_o_index(spark, tmp_index_root):
    """Adding a small segment must NOT rewrite the base index: every
    postings/blocks/dictionary/docs file of the large base must be
    byte-for-byte untouched (same size + mtime) after update_index —
    the property that makes appends O(delta) at web scale."""
    rows = corpus_rows(260)
    base = spark.createDataFrame(rows[:240], INPUT_SCHEMA)
    extra = spark.createDataFrame(rows[240:], INPUT_SCHEMA)
    d = os.path.join(tmp_index_root, "odelta")
    bld = IndexBuilder(spark, d, IndexConfig(n_buckets=4, doc_range_bits=6))
    bld.build(base)

    before = {
        t: _tree_file_states(os.path.join(d, t))
        for t in ("postings", "blocks", "dictionary", "docs")
    }
    m = bld.update_index(add=extra)
    after = {
        t: _tree_file_states(os.path.join(d, t))
        for t in ("postings", "blocks", "dictionary", "docs")
    }
    assert before == after, "update_index(add) rewrote base table files"
    assert m["delta_segments"], "expected a pending delta segment"
    # the delta segment is self-contained: postings + dictionary + blocks
    seg = m["delta_segments"][-1]
    for t in ("postings", "dictionary", "blocks", "docs"):
        assert os.path.exists(os.path.join(d, "segments", seg, t, "_SUCCESS")), t

    # ...and the live view serves the merged corpus
    target = base.unionByName(extra)
    rb = os.path.join(tmp_index_root, "odelta_rb")
    IndexBuilder(spark, rb, IndexConfig(n_buckets=4, doc_range_bits=6)).build(target)
    assert _postings_by_url(spark, d) == _postings_by_url(spark, rb)
    for q in QUERIES:
        assert _ranked_urls(spark, d, q) == _ranked_urls(spark, rb, q), q


def test_compaction_folds_deltas_and_preserves_results(spark, tmp_index_root):
    """compact() merges base ∪ delta − tombstones into fresh base tables;
    results identical before and after, bookkeeping cleared, and a
    SECOND compaction cycle must not resurrect previously removed docs."""
    rows = corpus_rows(300)
    a = spark.createDataFrame(rows[:200], INPUT_SCHEMA)
    b = spark.createDataFrame(rows[200:260], INPUT_SCHEMA)
    c = spark.createDataFrame(rows[260:], INPUT_SCHEMA)
    d = os.path.join(tmp_index_root, "compact_idx")
    cfg = IndexConfig(n_buckets=4, doc_range_bits=6)
    bld = IndexBuilder(spark, d, cfg)
    bld.build(a)
    rm1 = [
        r["url"]
        for r in spark.read.parquet(os.path.join(d, "docs"))
        .orderBy("doc_id").limit(4).collect()
    ]
    bld.update_index(add=b, remove_urls=rm1)
    before = {q: _ranked_urls(spark, d, q) for q in QUERIES}
    pre_stats = QueryEngine(spark, d).stats
    pre_live_terms = bld.live_term_count()

    m = bld.compact()
    assert m["delta_segments"] == [] and m["tombstones"] == [] and m["dict_deltas"] == []
    after = {q: _ranked_urls(spark, d, q) for q in QUERIES}
    assert before == after
    post_stats = QueryEngine(spark, d).stats
    for k in ("doc_count", "n_postings"):
        assert pre_stats[k] == post_stats[k], k
    # compaction restores exactness; the pre-compaction live count must
    # already agree with the compacted dictionary's term count
    assert post_stats["n_terms_exact"] is True
    assert pre_live_terms == post_stats["n_terms"]
    assert abs(pre_stats["avg_doc_len"] - post_stats["avg_doc_len"]) < 1e-12

    # second cycle: remove from the compacted base, add, compact again —
    # docs removed in cycle 1 must NOT come back
    from elasticsearch_spark.operators.reader import live_docs

    rm2 = [
        r["url"]
        for r in live_docs(spark, d).orderBy("doc_id").limit(3).collect()
    ]
    bld.update_index(add=c, remove_urls=rm2)
    bld.compact()
    target = (
        a.unionByName(b).unionByName(c).filter(~F.col("url").isin(rm1 + rm2))
    )
    rb = os.path.join(tmp_index_root, "compact_rb")
    IndexBuilder(spark, rb, cfg).build(target)
    assert _postings_by_url(spark, d) == _postings_by_url(spark, rb)
    for q in QUERIES:
        assert _ranked_urls(spark, d, q) == _ranked_urls(spark, rb, q), q


def test_wand_on_updated_index_matches_taat(spark, tmp_index_root):
    """WAND over base + delta segments with tombstones must return the
    exact TAAT result dicts, with and without total hits."""
    from elasticsearch_spark.operators.wand import WandEngine

    rows = corpus_rows(280)
    base = spark.createDataFrame(rows[:220], INPUT_SCHEMA)
    extra = spark.createDataFrame(rows[220:], INPUT_SCHEMA)
    d = os.path.join(tmp_index_root, "wand_inc")
    bld = IndexBuilder(spark, d, IndexConfig(n_buckets=4, doc_range_bits=6))
    bld.build(base)
    rm = [
        r["url"]
        for r in spark.read.parquet(os.path.join(d, "docs"))
        .orderBy("doc_id").limit(5).collect()
    ]
    bld.update_index(add=extra, remove_urls=rm)

    eng = QueryEngine(spark, d)
    wand = WandEngine(spark, d)
    for q in QUERIES:
        for total in (False, True):
            assert wand.topk(q, k=10, with_total_hits=total) == eng.ranked(
                q, k=10, with_total_hits=total
            ), (q, total)


def test_warm_turbo_caches_invalidate_on_update(spark, tmp_index_root):
    """The hot-term LRU caches (QueryEngine._term_postings_cache /
    _universe_cache, also behind WandEngine) must be dropped on the
    manifest-mtime bump an update_index causes: engines WARMED before the
    update must answer identically to engines created after it."""
    from elasticsearch_spark.operators.wand import WandEngine

    rows = corpus_rows(280)
    base = spark.createDataFrame(rows[:220], INPUT_SCHEMA)
    extra = spark.createDataFrame(rows[220:], INPUT_SCHEMA)
    d = os.path.join(tmp_index_root, "warm_inval")
    bld = IndexBuilder(spark, d, IndexConfig(n_buckets=4, doc_range_bits=6))
    bld.build(base)

    # query terms that actually occur (high-df dictionary entries), so
    # the warm engines really populate their postings/block caches — but
    # df < doc_count, else idf = log(1) = 0 and WAND drops the term
    n_docs = spark.read.parquet(os.path.join(d, "docs")).count()
    t1, t2 = [
        r["term"]
        for r in spark.read.parquet(os.path.join(d, "dictionary"))
        .filter(F.col("df") < n_docs)
        .orderBy(F.col("df").desc(), "term").limit(2).collect()
    ]
    query, not_query = f"{t1} {t2}", f"{t1} NOT {t2}"

    warm_q = QueryEngine(spark, d)
    warm_w = WandEngine(spark, d)

    def derived(eng):
        # served from the cached per-term impacts, which depend on
        # avg_doc_len — an update changes it
        return {
            "batch": eng.batch_ranked([query, t2, t1], k=10),
            "and": eng.match_search(query, k=10, operator="and"),
            "tfidf": eng.ranked(query, k=10, method="tfidf"),
        }

    before = {
        "ranked": warm_q.ranked(query, k=10),
        "not": warm_q.boolean_topk(not_query, k=10),  # warms _universe_cache
        "wand": warm_w.topk(query, k=10),
        # warms _doc_len_cache (the combined_fields norms array)
        "lens": warm_q._turbo_doc_lens()[0].tolist(),
        **derived(warm_q),
    }
    assert warm_q._term_postings_cache and warm_w.engine._term_postings_cache
    assert warm_q._doc_len_cache is not None

    rm = [
        r["url"]
        for r in spark.read.parquet(os.path.join(d, "docs"))
        .orderBy("doc_id").limit(5).collect()
    ]
    bld.update_index(add=extra, remove_urls=rm)

    fresh_q = QueryEngine(spark, d)
    fresh_w = WandEngine(spark, d)
    after = {
        "ranked": warm_q.ranked(query, k=10),
        "not": warm_q.boolean_topk(not_query, k=10),
        "wand": warm_w.topk(query, k=10),
        "lens": warm_q._turbo_doc_lens()[0].tolist(),
        **derived(warm_q),
    }
    assert after["lens"] == fresh_q._turbo_doc_lens()[0].tolist()
    fresh_derived = derived(fresh_q)
    for key in ("batch", "and", "tfidf"):
        assert after[key] == fresh_derived[key], key
        assert after[key] != before[key], key
    assert after["ranked"] == fresh_q.ranked(query, k=10)
    assert after["not"] == fresh_q.boolean_topk(not_query, k=10)
    assert after["wand"] == fresh_w.topk(query, k=10)
    # the update must be observable (otherwise stale caches pass trivially)
    assert after != before


def test_update_requires_existing_index(spark, corpora, tmp_index_root):
    base, _ = corpora
    b = IndexBuilder(spark, os.path.join(tmp_index_root, "nonexistent"))
    with pytest.raises(ValueError):
        b.update_index(add=base)


def test_compression_stats(spark, corpora, tmp_index_root):
    b = IndexBuilder(spark, os.path.join(tmp_index_root, "inc"))
    stats = b.compression_stats()
    assert stats["n_postings"] > 0
    assert 0 < stats["compressed_bytes"] < stats["uncompressed_bytes"]
    assert stats["ratio"] < 1.0


def test_list_and_delete_index(spark, corpora, tmp_index_root):
    names = list_indexes(tmp_index_root)
    assert "inc" in names and "rebuild" in names
    assert delete_index(os.path.join(tmp_index_root, "rebuild"))
    assert "rebuild" not in list_indexes(tmp_index_root)
    assert not delete_index(os.path.join(tmp_index_root, "rebuild"))


def test_salted_build_identical_index(spark, corpora, tmp_index_root):
    """shuffle_salt splits buckets into doc-range sub-runs; the logical
    index (postings set, stats, top-k) must be unchanged."""
    base, _ = corpora
    plain_dir = os.path.join(tmp_index_root, "plain")
    salted_dir = os.path.join(tmp_index_root, "salted")
    IndexBuilder(spark, plain_dir, IndexConfig(n_buckets=4, doc_range_bits=6)).build(base)
    IndexBuilder(
        spark, salted_dir, IndexConfig(n_buckets=4, doc_range_bits=6, shuffle_salt=3)
    ).build(base)
    assert _postings_by_url(spark, plain_dir) == _postings_by_url(spark, salted_dir)
    for q in QUERIES:
        assert _ranked_urls(spark, plain_dir, q) == _ranked_urls(spark, salted_dir, q), q
    ps = QueryEngine(spark, plain_dir).stats
    ss = QueryEngine(spark, salted_dir).stats
    assert (ps["n_postings"], ps["n_terms"]) == (ss["n_postings"], ss["n_terms"])


def test_two_sequential_updates_match_rebuild(spark, tmp_index_root):
    """Repeated update_index (add, then add+remove) keeps the index
    query-equivalent to a one-shot rebuild of the final corpus."""
    rows = corpus_rows(260)
    a = spark.createDataFrame(rows[:160], INPUT_SCHEMA)
    b = spark.createDataFrame(rows[160:210], INPUT_SCHEMA)
    c = spark.createDataFrame(rows[210:], INPUT_SCHEMA)
    cfg = IndexConfig(n_buckets=4, doc_range_bits=6)

    inc_dir = os.path.join(tmp_index_root, "inc2")
    bld = IndexBuilder(spark, inc_dir, cfg)
    bld.build(a)
    bld.update_index(add=b)
    removed = [
        r["url"]
        for r in spark.read.parquet(os.path.join(inc_dir, "docs"))
        .orderBy("doc_id").limit(5).collect()
    ]
    m = bld.update_index(add=c, remove_urls=removed)
    assert m["finalized"] and len(m["segments"]) == 3

    target = (
        a.unionByName(b).unionByName(c).filter(~F.col("url").isin(removed))
    )
    rb_dir = os.path.join(tmp_index_root, "rebuild2")
    IndexBuilder(spark, rb_dir, cfg).build(target)

    assert _postings_by_url(spark, inc_dir) == _postings_by_url(spark, rb_dir)
    for q in QUERIES:
        assert _ranked_urls(spark, inc_dir, q) == _ranked_urls(spark, rb_dir, q), q


def test_remove_by_doc_ids_equals_remove_by_urls(spark, corpora, tmp_index_root):
    """The reference's update API removes by doc id
    (elasticsearch_indexer.py:151-166): remove_doc_ids must produce the
    byte-equivalent live state as remove_urls for the same docs."""
    base, _extra = corpora
    cfg = IndexConfig(n_buckets=4, doc_range_bits=6)

    a_dir = os.path.join(tmp_index_root, "rm_by_url")
    b_dir = os.path.join(tmp_index_root, "rm_by_id")
    ba = IndexBuilder(spark, a_dir, cfg)
    bb = IndexBuilder(spark, b_dir, cfg)
    ba.build(base)
    bb.build(base)
    docs = (
        spark.read.parquet(os.path.join(a_dir, "docs"))
        .orderBy("doc_id").limit(8).collect()
    )
    urls = [r["url"] for r in docs]
    ids = [int(r["doc_id"]) for r in docs]
    ma = ba.update_index(remove_urls=urls, compact=False)
    mb = bb.update_index(remove_doc_ids=ids, compact=False)
    assert ma["tombstones"] == mb["tombstones"] == sorted(ids)
    assert _postings_by_url(spark, a_dir) == _postings_by_url(spark, b_dir)
    sa = QueryEngine(spark, a_dir).stats
    sb = QueryEngine(spark, b_dir).stats
    assert sa["doc_count"] == sb["doc_count"]
    assert abs(sa["avg_doc_len"] - sb["avg_doc_len"]) < 1e-12
    # mixed removal: urls and ids of DISJOINT docs in one call
    c_dir = os.path.join(tmp_index_root, "rm_mixed")
    bc = IndexBuilder(spark, c_dir, cfg)
    bc.build(base)
    mc = bc.update_index(remove_urls=urls[:4], remove_doc_ids=ids[4:],
                         compact=False)
    assert mc["tombstones"] == sorted(ids)

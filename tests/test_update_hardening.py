"""Crash-safety + O(delta) job guarantees of the incremental update path.

Covers the round-3 hardening work:
* config validation: updating an index under a different layout config
  must raise (delta segments written with e.g. another n_buckets would
  silently vanish from pruned reads — wrong results, no error);
* manifest.json as the single atomic commit point: a crash between the
  manifest and stats.json writes must neither double-count a replayed
  micro-batch nor serve stale corpus stats;
* update_index(add) must not run ANY job that reads the base index
  tables — job-level O(delta), not just file-level (which
  test_incremental.py::test_update_add_is_o_delta_not_o_index covers);
* compact() crash recovery: a crash after the compaction commit point
  (tables half-swapped or not swapped at all) is rolled forward on the
  next index open, never leaving a missing or mixed-generation table.
"""

import json
import os
import shutil

import pytest
from pyspark.sql import functions as F

from elasticsearch_spark.operators import build as B
from elasticsearch_spark.operators.build import IndexBuilder, IndexConfig
from elasticsearch_spark.operators.query import QueryEngine
from elasticsearch_spark.sources.webtext import corpus_rows
from tests.test_spark_engine import INPUT_SCHEMA

CFG = IndexConfig(n_buckets=4, doc_range_bits=6)


@pytest.fixture(scope="module")
def corpora(spark):
    rows = corpus_rows(240)
    base = spark.createDataFrame(rows[:200], INPUT_SCHEMA)
    extra = spark.createDataFrame(rows[200:], INPUT_SCHEMA)
    return base, extra


def test_update_config_mismatch_raises(spark, corpora, tmp_index_root):
    base, extra = corpora
    d = os.path.join(tmp_index_root, "cfg_mismatch")
    IndexBuilder(spark, d, CFG).build(base)
    wrong = IndexBuilder(spark, d, IndexConfig(n_buckets=8, doc_range_bits=6))
    with pytest.raises(ValueError, match="n_buckets"):
        wrong.update_index(add=extra)
    # build-only knobs may differ (shuffle_salt shapes the write, not
    # the logical layout)
    ok = IndexBuilder(
        spark, d, IndexConfig(n_buckets=4, doc_range_bits=6, shuffle_salt=2)
    )
    m = ok.update_index(add=extra, compact=False)
    assert m["delta_segments"]


def test_builder_open_adopts_stored_config(spark, corpora, tmp_index_root):
    base, _ = corpora
    cfg = IndexConfig(n_buckets=4, doc_range_bits=5, positional=True)
    d = os.path.join(tmp_index_root, "open_cfg")
    IndexBuilder(spark, d, cfg).build(base)
    opened = IndexBuilder.open(spark, d)
    assert opened.config == cfg
    assert IndexBuilder.open(spark, d, shuffle_salt=3).config.shuffle_salt == 3


def test_crash_between_manifest_and_stats_writes(spark, corpora, tmp_index_root):
    """manifest.json is the commit point: if the follow-up stats.json
    write is lost to a crash, (a) a replayed micro-batch is still a
    no-op, (b) engines serve the committed stats via the manifest
    overlay, (c) the next update starts from the committed values —
    no double-counting, no stale idf inputs."""
    base, extra = corpora
    d = os.path.join(tmp_index_root, "crash_ms")
    bld = IndexBuilder(spark, d, CFG)
    bld.build(base)
    with open(os.path.join(d, "stats.json")) as f:
        stats_before = f.read()

    m = bld.update_index(add=extra, segment_name="seg_crash", compact=False)
    committed = dict(m["stats"])
    # simulate the crash: the manifest write survived, stats.json didn't
    with open(os.path.join(d, "stats.json"), "w") as f:
        f.write(stats_before)

    # (a) replay of the same micro-batch: guard keys on the manifest
    replay = IndexBuilder.open(spark, d)
    m2 = replay.update_index(add=extra, segment_name="seg_crash", compact=False)
    assert m2["stats"] == committed
    assert len(m2["delta_segments"]) == 1

    # (b) engines see the committed stats, not the stale file
    eng = QueryEngine(spark, d)
    assert eng.doc_count == committed["doc_count"]
    assert eng.avg_doc_len == pytest.approx(committed["avg_doc_len"], abs=1e-12)

    # (c) a subsequent removal decrements from the committed values
    rm = [eng._docs.orderBy("doc_id").limit(1).collect()[0]["url"]]
    m3 = replay.update_index(remove_urls=rm, compact=False)
    assert m3["stats"]["doc_count"] == committed["doc_count"] - 1


def test_update_add_runs_no_job_over_base_tables(spark, corpora, tmp_index_root, monkeypatch):
    """JOB-level O(delta): update_index(add) must not issue a single
    parquet read of the base postings/dictionary/blocks/docs/tokens —
    every scan it triggers belongs to the new delta segment.  (The
    removed _recount_terms O(vocabulary) job is exactly what this
    guards against; file-mtime identity is covered separately.)"""
    base, extra = corpora
    d = os.path.join(tmp_index_root, "odelta_jobs")
    bld = IndexBuilder(spark, d, CFG)
    bld.build(base)

    from pyspark.sql.readwriter import DataFrameReader

    orig = DataFrameReader.parquet
    seen: list = []

    def spy(self, *paths, **kw):
        seen.extend(paths)
        return orig(self, *paths, **kw)

    monkeypatch.setattr(DataFrameReader, "parquet", spy)
    m = bld.update_index(add=extra, compact=False)
    assert m["delta_segments"]
    base_reads = [
        p
        for p in seen
        if d in p
        and f"{os.sep}segments{os.sep}" not in p
        and f"{os.sep}_scratch{os.sep}" not in p  # delta-sized id scratch
    ]
    assert base_reads == [], f"update_index(add) read base tables: {base_reads}"
    assert not os.path.exists(os.path.join(d, "_scratch")), "scratch leaked"


def test_continuous_ingest_leaks_no_cache_entries(spark, corpora, tmp_index_root):
    """10+ streaming micro-batches through the O(delta) update path must
    leave ZERO new persisted RDD / cached-plan entries and no scratch
    dirs — the r2 verdict found assign_doc_ids leaking one cache entry
    per micro-batch forever (operators/build.py r2:145)."""
    from elasticsearch_spark.streaming.ingest import stream_update

    def n_persistent() -> int:
        return spark.sparkContext._jsc.getPersistentRDDs().size()

    base, extra = corpora
    d = os.path.join(tmp_index_root, "noleak_idx")
    bld = IndexBuilder(spark, d, CFG)
    bld.build(base)

    before = n_persistent()
    stream_in = os.path.join(tmp_index_root, "noleak_in")
    extra.repartition(10).write.mode("overwrite").parquet(stream_in)
    m = stream_update(spark, stream_in, d, max_files_per_trigger=1, compact=False)
    assert len(m["delta_segments"]) >= 10
    assert n_persistent() == before, "micro-batches leaked persisted RDDs"
    assert not os.path.exists(os.path.join(d, "_scratch")), "scratch leaked"
    # DataFrame-plan cache (CacheManager) must be empty too
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty()


def test_zip_with_rank_leaves_no_cache(spark):
    from elasticsearch_spark.operators.rank import zip_with_rank

    before = spark.sparkContext._jsc.getPersistentRDDs().size()
    df = spark.range(0, 1000).withColumn("v", F.col("id") % 37)
    out = zip_with_rank(df, [F.col("v").desc(), F.col("id")], "rnk")
    rows = out.orderBy("rnk").collect()
    assert [r["rnk"] for r in rows] == list(range(1, 1001))
    want = sorted(
        [(r["v"], r["id"]) for r in df.collect()], key=lambda t: (-t[0], t[1])
    )
    assert [(r["v"], r["id"]) for r in rows] == want
    assert spark.sparkContext._jsc.getPersistentRDDs().size() == before


def _ranked(spark, d, q="machine learning"):
    return [
        (r["doc_id"], round(r["score"], 9))
        for r in QueryEngine(spark, d).ranked(q, k=10)["results"]
    ]


def test_compaction_crash_after_commit_rolls_forward(spark, corpora, tmp_index_root):
    """Kill compact() right after its commit record (before any table
    swap): the next index open must roll the swap forward; results and
    bookkeeping equal an uninterrupted compaction; no .new/.old/commit
    leftovers."""
    base, extra = corpora
    d = os.path.join(tmp_index_root, "compact_crash1")
    bld = IndexBuilder(spark, d, CFG)
    bld.build(base)
    bld.update_index(add=extra, compact=False)
    want = _ranked(spark, d)

    real_apply = B._apply_compaction_commit
    B._apply_compaction_commit = lambda index_dir, commit: None  # crash
    try:
        bld.compact()
    finally:
        B._apply_compaction_commit = real_apply
    assert os.path.exists(os.path.join(d, "compact_commit.json"))
    assert os.path.isdir(os.path.join(d, "postings.new"))

    # any reader/builder open recovers (load_manifest -> recover)
    m = IndexBuilder.open(spark, d)._load_manifest()
    assert m["delta_segments"] == [] and m["tombstones"] == []
    assert not os.path.exists(os.path.join(d, "compact_commit.json"))
    for t in ("postings", "dictionary", "docs", "blocks"):
        assert os.path.isdir(os.path.join(d, t)), t
        assert not os.path.exists(os.path.join(d, t + ".new")), t
        assert not os.path.exists(os.path.join(d, t + ".old")), t
    assert not os.path.isdir(os.path.join(d, "deltas"))
    assert _ranked(spark, d) == want
    stats = QueryEngine(spark, d).stats
    assert stats["n_terms_exact"] is True


def test_compaction_crash_mid_swap_rolls_forward(spark, corpora, tmp_index_root):
    """Kill compact() between the two renames of one table (the state
    the old rmtree+replace code could strand: table dir MISSING): the
    next open must complete the swap for that table and the rest."""
    base, extra = corpora
    d = os.path.join(tmp_index_root, "compact_crash2")
    bld = IndexBuilder(spark, d, CFG)
    bld.build(base)
    bld.update_index(add=extra, compact=False)
    want = _ranked(spark, d)

    real_apply = B._apply_compaction_commit
    B._apply_compaction_commit = lambda index_dir, commit: None
    try:
        bld.compact()
    finally:
        B._apply_compaction_commit = real_apply
    # simulate the crash window inside the swap of "postings":
    # cur -> .old done, .new -> cur not yet
    os.rename(os.path.join(d, "postings"), os.path.join(d, "postings.old"))
    assert not os.path.exists(os.path.join(d, "postings"))

    assert _ranked(spark, d) == want  # engine open triggers recovery
    for t in ("postings", "dictionary", "docs", "blocks"):
        assert os.path.isdir(os.path.join(d, t)), t
        assert not os.path.exists(os.path.join(d, t + ".new")), t
        assert not os.path.exists(os.path.join(d, t + ".old")), t
    assert not os.path.exists(os.path.join(d, "compact_commit.json"))

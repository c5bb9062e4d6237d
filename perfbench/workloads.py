"""The two workloads, their output checks and their metrics.

Both workloads run the same program shape -- set-up, reads, and commits
that are each followed by reads -- so that every metric exists on both.
They differ in the read/write mix and so in which layers do the work
(see perfbench/README.md):

* ``serve``: a long read phase over a static index with warm turbo
  caches, then a tail of two delete-only commits, the second
  compacting.
* ``churn``: three commits (two add + delete, then delete +
  compaction), each followed by a cold pass and fifteen warm passes of
  the whole queryset over the live base + deltas - tombstones view, and
  batch calls.

Every loop is count-bounded and drawn from the seed.  One client thread
issues each operation after the previous one returns (closed loop).
"""

from __future__ import annotations

import os
import resource
import sys
import time
import traceback
from contextlib import nullcontext

import numpy as np

from elasticsearch_spark.functions.tokenizer import is_boolean_query
from elasticsearch_spark.operators import reader
from elasticsearch_spark.operators.build import IndexBuilder, IndexConfig
from elasticsearch_spark.operators.multifield import MultiFieldIndexBuilder, MultiMatchWand
from elasticsearch_spark.operators.query import QueryEngine
from elasticsearch_spark.operators.wand import WandEngine

import inputs as I
from spans import HARNESS, READS

SERVE_OPS_PER_SECOND = 800   # read-phase operations per --seconds
SERVE_BATCHES = 80           # turbo batch_ranked calls (of the 60 ranked queries) in serve's read phase
PLAN_WARMUP = 1              # untimed plan-tier queries in set-up
SERVE_PLAN = (6, 2)          # serve: plan-tier (ranked, boolean) on the static index
SERVE_COMMITS = 2            # serve: delete-only commits, the last one compacts
CHURN_PLAN = (2, 1)          # churn: plan-tier (ranked, boolean) at the most deltas
CHURN_ROUNDS = 15            # churn: warm passes of the queryset per commit,
CHURN_BATCHES = 4            # each followed by this many batch_ranked calls of the 60 ranked queries
CHURN_ADDS = 2               # churn: add + delete commits before the compacting one
MULTIFIELD_CHECKS = 10       # churn: MultiMatchWand calls at the end (traced runs)
OVERHEAD_QUERIES, OVERHEAD_ROUNDS = 200, 4
K = 10

RANKED_KINDS = ("query.ranked", "wand.topk", "multifield.topk")
READ_KINDS = RANKED_KINDS + ("query.boolean",)
# the end-to-end query population: QueryEngine's turbo tier, whose
# reads form one latency cluster (~0.1-1 ms).  WandEngine reads spread
# over 0.5-12 ms, so in a pooled mix the p90 falls on their slope; they
# are the per-layer wand.topk_p50_ms
TURBO_KINDS = ("query.ranked", "query.boolean")
PLAN_KINDS = ("plan.ranked", "plan.boolean")


def log(msg: str) -> None:
    print(f"# {msg}", file=sys.stderr, flush=True)


def _pct(values, q) -> float:
    if not values:
        raise RuntimeError("no samples")
    return float(np.percentile(values, q))


def tree_bytes(path: str) -> int:
    """On-disk bytes under ``path`` (the benchmark keeps its own copy
    rather than import a private engine helper)."""
    total = 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            total += os.path.getsize(os.path.join(root, f))
    return total


def _same_hits(a: list, b: list, scored: bool = True) -> bool:
    if [h["doc_id"] for h in a] != [h["doc_id"] for h in b]:
        return False
    return not scored or all(
        abs(x["score"] - y["score"]) <= 1e-9 * max(1.0, abs(x["score"]))
        for x, y in zip(a, b)
    )


class Run:
    def __init__(self, root: str, work: str, workload: str, seed: int, seconds: int,
                 traced: bool):
        self.work = work
        self.workload = workload
        self.seconds = seconds
        self.traced = traced
        self.inp = I.Inputs(root, seed)
        self.idx = os.path.join(work, "index")
        self.slice_idx = os.path.join(work, "slice")
        self.spark = None
        self.tracer = None
        self.lat: dict = {}          # kind -> [seconds]
        self.attempted = 0
        self.failed = 0
        self.commit_s: list = []     # commits that did not compact
        self.compact_s: list = []    # commits that compacted
        self.batch_queries = 0
        self.batch_seconds = 0.0
        self.deltas: list = []       # live delta segments after each commit
        self.tombstones: list = []   # live tombstones after each commit
        self.removed: set = set()
        self.n_commits = 0
        self.mm_blocks = [0, 0]      # decoded, total (traced runs)
        self.compact_bytes = 0
        self.plan_ranked = self.plan_boolean = 0  # plan_sample positions

    # ------------------------------------------------------------ helpers
    def timed(self, kind: str, fn, *args, **kwargs):
        """Run one operation; its latency goes to ``lat[kind]``.  An
        exception counts as a failed operation."""
        self.attempted += 1
        try:
            with (self.tracer.op(kind, count_jobs=kind not in READ_KINDS)
                  if self.tracer else nullcontext()):
                t = time.perf_counter()
                out = fn(*args, **kwargs)
                dt = time.perf_counter() - t
        except Exception:
            traceback.print_exc()
            self.failed += 1
            return None
        self.lat.setdefault(kind, []).append(dt)
        return out

    def check(self, ok: bool, what: str) -> None:
        self.attempted += 1
        if not ok:
            self.failed += 1
            log(f"check failed: {what}")

    def phase(self, group: str) -> None:
        """Charge the Spark jobs of uncounted operations to ``group``."""
        if self.tracer:
            self.tracer.set_group(group)

    def ms(self, *kinds) -> list:
        return [1000.0 * v for k in kinds for v in self.lat.get(k, ())]

    def _input_dir(self, name: str) -> str:
        return os.path.join(self.work, "input", name)

    # ------------------------------------------------------------- set-up
    def prepare(self) -> None:
        """Generate and write the set-up inputs.  Needs no Spark, so it
        runs while the JVM starts."""
        inp = self.inp
        I.write_rows(self._input_dir("warmup"), inp.warmup_docs())
        base = inp.docs(0, I.BASE_DOCS)
        I.write_rows(self._input_dir("base"), base)
        self.text_bytes = I.text_bytes(base)
        self.live_urls = [d["url"] for d in base if d["lang"] == "en"]
        if self.traced:
            I.write_rows(self._input_dir("slice"), inp.slice_docs())

    def setup(self, spark, tracer, t0: float) -> None:
        """Untimed warm-up build, timed base build, engines, then (serve
        only) one cold pass that fills the turbo caches, and a few
        plan-tier queries.  JVM start and ``prepare`` came before."""
        self.spark, self.tracer = spark, tracer
        config = IndexConfig(n_buckets=8, doc_range_bits=8)
        inp = self.inp
        self.phase("setup")
        t = time.perf_counter()
        IndexBuilder(spark, os.path.join(self.work, "warmup"), config).build(
            spark.read.parquet(self._input_dir("warmup")))
        self.warmup_s = time.perf_counter() - t
        log(f"warm-up build {self.warmup_s:.2f}s")

        builder = IndexBuilder(spark, self.idx, config)
        raw = spark.read.parquet(self._input_dir("base"))
        t = time.perf_counter()
        manifest = builder.build(raw)
        self.build_s = time.perf_counter() - t
        log(f"base build {self.build_s:.2f}s")
        self.build_stages = {m["stage"]: m["seconds"] for m in builder.metrics}
        self.built_docs = manifest["stats"]["doc_count"]
        self.expected_docs = self.built_docs
        self.check(self.built_docs == len(self.live_urls), "base doc_count")

        self.turbo = QueryEngine(spark, self.idx)
        self.plan = QueryEngine(spark, self.idx, turbo=False)
        self.wand = WandEngine(spark, self.idx)
        self.mm = None
        if self.workload == "serve":
            for q in inp.queries:
                t = time.perf_counter()
                self.query(q)
                self.lat.setdefault("query.cold", []).append(time.perf_counter() - t)
                if not is_boolean_query(q):
                    self.wand.topk(q, k=K)
        for q in inp.distinct(PLAN_WARMUP):
            if is_boolean_query(q):
                self.plan.boolean_topk(q, k=K)
            else:
                self.plan.ranked(q, k=K, with_total_hits=False)
        self.setup_s = time.monotonic() - t0
        log(f"set-up {self.setup_s:.2f}s")
        if tracer:
            self.jobs_setup = tracer.jobs_in_group("setup")
            self.phase(HARNESS)
            # the two-field slice costs a second build, so only the
            # traced run (per-layer metrics) builds and queries it
            MultiFieldIndexBuilder(
                spark, self.slice_idx, ["title", "body"],
                IndexConfig(n_buckets=4, doc_range_bits=6),
            ).build(spark.read.parquet(self._input_dir("slice")))
            self.mm = MultiMatchWand(spark, self.slice_idx)
            for q in inp.ranked:
                self.mm.topk(q, k=K)
            tracer.enabled = True

    def query(self, q: str) -> dict:
        if is_boolean_query(q):
            return self.turbo.boolean_topk(q, k=K)
        return self.turbo.ranked(q, k=K, with_total_hits=False)

    def multifield(self, q: str) -> dict:
        res = self.mm.topk(q, k=K, with_stats=self.traced)
        if self.traced:
            self.mm_blocks[0] += res["stats"]["blocks_decoded"]
            self.mm_blocks[1] += res["stats"]["blocks_total"]
        return res

    # --------------------------------------------------------- operations
    def batch(self, queries: list) -> None:
        if self.timed("query.batch", self.turbo.batch_ranked, queries, k=K) is not None:
            self.batch_queries += len(queries)
            self.batch_seconds += self.lat["query.batch"][-1]

    def plan_check(self, q: str) -> list:
        """One plan-tier query, checked against the turbo tier (and, for
        ranked queries, against WandEngine.topk)."""
        if is_boolean_query(q):
            got = self.timed("plan.boolean", self.plan.boolean_topk, q, k=K)
            if got is not None:
                ref = self.turbo.boolean_topk(q, k=K)
                self.check(got["total_hits"] == ref["total_hits"]
                           and _same_hits(got["results"], ref["results"], scored=False),
                           f"boolean plan != turbo: {q!r}")
        else:
            got = self.timed("plan.ranked", self.plan.ranked, q, k=K, with_total_hits=False)
            if got is not None:
                ref = self.turbo.ranked(q, k=K, with_total_hits=False)
                self.check(_same_hits(got["results"], ref["results"]),
                           f"ranked plan != turbo: {q!r}")
                w = self.timed("wand.check", self.wand.topk, q, k=K)
                if w is not None:
                    self.check(_same_hits(w["results"], ref["results"]),
                               f"wand != ranked: {q!r}")
        return got["results"] if got else []

    def plan_queries(self, n_ranked: int, n_boolean: int) -> list:
        """The next queries of the queryset, in its own order: the plan
        tier costs one Spark job per query, so a few samples per run are
        all it can afford, and a seed-drawn choice would move the median
        more than the code does."""
        inp = self.inp
        qs = [inp.ranked[(self.plan_ranked + i) % len(inp.ranked)] for i in range(n_ranked)]
        qs += [inp.boolean[(self.plan_boolean + i) % len(inp.boolean)] for i in range(n_boolean)]
        self.plan_ranked += n_ranked
        self.plan_boolean += n_boolean
        return qs

    def plan_sample(self, n_ranked: int, n_boolean: int) -> list:
        hits = []
        for q in self.plan_queries(n_ranked, n_boolean):
            hits += self.plan_check(q)
        return hits

    def plan_batch_check(self) -> None:
        """Plan-tier batch_ranked against the turbo batch (traced runs
        only: one plan batch costs ~1.5 s)."""
        qs = self.inp.ranked
        got = self.timed("plan.batch", self.plan.batch_ranked, qs, k=K)
        if got is not None:
            ref = self.turbo.batch_ranked(qs, k=K)
            self.check(all(_same_hits(got[q], ref[q]) for q in qs),
                       "plan batch_ranked != turbo batch_ranked")

    def commit(self, add: bool, compact: bool) -> list:
        """One update_index commit (removals, plus new docs when ``add``),
        then the first query through the long-lived engine; returns that
        query's hits."""
        inp = self.inp
        rows = inp.new_docs() if add else []
        removed = inp.pick_removals(self.live_urls)
        added = [r["url"] for r in rows if r["lang"] == "en"]
        new = None
        if rows:
            path = self._input_dir(f"add_{self.n_commits}")
            I.write_rows(path, rows)
            new = self.spark.read.parquet(path)
        self.n_commits += 1
        builder = IndexBuilder.open(self.spark, self.idx)
        ok = self.timed("commit", builder.update_index, add=new, remove_urls=removed,
                        compact=True if compact else "auto") is not None
        if ok:
            (self.compact_s if compact else self.commit_s).append(self.lat["commit"][-1])
        self.text_bytes += I.text_bytes(rows)
        self.live_urls.extend(added)
        self.removed.update(removed)
        self.expected_docs += len(added) - len(removed)

        manifest = reader.load_manifest(self.idx)
        self.deltas.append(len(manifest.get("delta_segments", [])))
        self.tombstones.append(len(manifest.get("tombstones", [])))
        if compact:
            self.compact_bytes = sum(
                tree_bytes(os.path.join(self.idx, t))
                for t in ("postings", "blocks", "dictionary", "docs")
            )
        self.check(reader.load_stats(self.idx)["doc_count"] == self.expected_docs,
                   f"doc_count after commit {self.n_commits}")
        res = self.timed("visible", self.turbo.ranked, inp.ranked[0], k=K,
                         with_total_hits=False)
        return res["results"] if res else []

    def queryset_pass(self, prefix: str) -> list:
        """Every query of the queryset once, in its own order, through
        the turbo tier (ranked -> ``<prefix>.ranked``, boolean ->
        ``<prefix>.boolean``); returns all their hits."""
        hits = []
        for q in self.inp.queries:
            kind = f"{prefix}.{'boolean' if is_boolean_query(q) else 'ranked'}"
            res = self.timed(kind, self.query, q)
            if res is not None:
                hits += res["results"]
        return hits

    def check_removed(self, hits: list) -> None:
        """Every hit is a live doc, and none has a removed url."""
        ids = {h["doc_id"] for h in hits}
        urls = self.turbo.doc_urls(list(ids))
        self.check(set(urls) == ids and not (set(urls.values()) & self.removed),
                   f"removed doc in hits after commit {self.n_commits}")

    # ---------------------------------------------------------- workloads
    def serve(self) -> None:
        """Reads drawn from the queryset (see ``Inputs.draw``): a boolean
        query goes to ``boolean_topk``, a ranked one to one of the ranked
        engines, each equally likely."""
        inp = self.inp
        n = SERVE_OPS_PER_SECOND * self.seconds
        queries = inp.draw(inp.queries, n)
        engines = inp.draw([k for k in RANKED_KINDS if self.mm or k != "multifield.topk"], n)
        every = n // SERVE_BATCHES
        # the plan-tier checks are spread through the reads, so that the
        # reads span seconds rather than one burst: how fast the machine
        # runs the driver moves from one moment to the next, and a
        # longer window averages it
        plan = self.plan_queries(*SERVE_PLAN)
        per_plan = n // (len(plan) + 1)
        self.phase(READS)
        for i, q in enumerate(queries):
            if i % every == 0:
                self.batch(inp.ranked)
            if i and i % per_plan == 0 and plan:
                self.phase(HARNESS)
                self.plan_check(plan.pop(0))
                self.phase(READS)
            kind = "query.boolean" if is_boolean_query(q) else engines[i]
            if kind == "query.ranked":
                self.timed(kind, self.turbo.ranked, q, k=K, with_total_hits=False)
            elif kind == "query.boolean":
                self.timed(kind, self.turbo.boolean_topk, q, k=K)
            elif kind == "wand.topk":
                self.timed(kind, self.wand.topk, q, k=K)
            else:
                self.timed(kind, self.multifield, q)
        self.phase(HARNESS)
        if self.traced:
            self.plan_batch_check()
        for c in range(SERVE_COMMITS):
            hits = self.commit(add=False, compact=c == SERVE_COMMITS - 1)
            # a pass of the whole queryset after each commit checks
            # every removal so far (the tombstones accumulate)
            hits += self.queryset_pass("after")
            self.check_removed(hits)

    def churn(self) -> None:
        inp = self.inp
        for c in range(CHURN_ADDS + 1):
            compact = c == CHURN_ADDS
            peak = c == CHURN_ADDS - 1  # most delta segments of the cycle
            hits = self.commit(add=not compact, compact=compact)
            # the whole queryset cold (the refresh emptied the caches),
            # then warm passes and batch calls in turns: one warm pass
            # takes ~30 ms, and the driver's speed moves within seconds,
            # so several short windows per commit average it
            self.phase(READS)
            hits += self.queryset_pass("cold")
            for _ in range(CHURN_ROUNDS):
                self.phase(READS)
                hits += self.queryset_pass("query")
                self.phase(HARNESS)
                for _ in range(CHURN_BATCHES):
                    self.batch(inp.ranked)
            if peak:
                hits += self.plan_sample(*CHURN_PLAN)
            self.check_removed(hits)
        if self.traced:
            self.plan_batch_check()
        if self.mm:
            for q in inp.draw(inp.ranked, MULTIFIELD_CHECKS):
                self.timed("multifield.topk", self.multifield, q)

    # ------------------------------------------------------------ metrics
    def end_to_end(self) -> dict:
        """name -> (value, unit, samples).  The query population is the
        warm turbo-tier reads: ``serve``'s read phase; on ``churn``, the
        warm passes of the queryset after each commit, over the live
        base + deltas - tombstones view.  The first (cold) pass is the
        per-layer ``query.cold_ms_p50``, and the write path (build,
        commits, compaction, first query after a commit) is per-layer
        too: on a shared host their times move with host CPU steal by
        more than any bound this benchmark can hold (see
        perfbench/REPEATABILITY.md)."""
        q = self.ms(*TURBO_KINDS)
        return {
            "setup_s": (self.setup_s, "s", 1),
            "query_p50_ms": (_pct(q, 50), "ms", len(q)),
            "query_p90_ms": (_pct(q, 90), "ms", len(q)),
            "batch_qps": (self.batch_queries / self.batch_seconds, "1/s",
                          len(self.lat["query.batch"])),
            "index_bytes_per_text_byte": (tree_bytes(self.idx) / self.text_bytes, "ratio", 1),
            "driver_rss_mb": (resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024.0,
                              "MB", 1),
        }

    def overhead_pct(self) -> float:
        """Traced vs untraced latency of the same warm ranked queries,
        in alternating rounds.  The untraced rounds run with the
        wrappers removed, as an untraced run does."""
        tr = self.tracer
        qs = self.inp.draw(self.inp.ranked, OVERHEAD_QUERIES)
        for q in qs:
            self.turbo.ranked(q, k=K, with_total_hits=False)
        lat = {False: [], True: []}
        for _ in range(OVERHEAD_ROUNDS):
            for on in (False, True):
                tr.patch(on)
                tr.enabled = on
                for q in qs:
                    with tr.op("overhead", count_jobs=False) if on else nullcontext():
                        t = time.perf_counter()
                        self.turbo.ranked(q, k=K, with_total_hits=False)
                        lat[on].append(time.perf_counter() - t)
        tr.enabled = False
        return 100.0 * (_pct(lat[True], 50) / _pct(lat[False], 50) - 1.0)

    def per_layer(self) -> dict:
        """name -> (value, unit), from the spans and job counts."""
        tr = self.tracer
        overhead = self.overhead_pct()
        ops = list(tr.ops.values())

        def mean_jobs(*kinds):
            js = [o["jobs"] for o in ops if o["kind"] in kinds and o["jobs"] is not None]
            return sum(js) / len(js)

        # read ops are not counted one by one (see Tracer.op): each job in
        # the read loops is charged to a different read op, so this is a
        # lower bound on the share served with zero Spark jobs
        n_reads = sum(o["kind"] in READ_KINDS for o in ops)
        counted = [o for o in ops if o["kind"] == "visible" or o["kind"].startswith("cold.")]
        turbo_share = (
            n_reads - min(n_reads, tr.jobs_in_group(READS))
            + sum(o["jobs"] == 0 for o in counted)
        ) / (n_reads + len(counted))
        # reader calls under each first-query-after-commit: the refresh
        names = {s[0]: s[3] for s in tr.spans}
        refresh: dict = {}
        for _sid, parent, op, name, start, end in tr.spans:
            if (name.startswith("reader.") and tr.ops[op]["kind"] == "visible"
                    and not names.get(parent, "").startswith("reader.")):
                refresh[op] = refresh.get(op, 0.0) + (end - start)
        analyze = [1e6 * d for d in tr.durations("functions.preprocess_query", READ_KINDS)]
        # first reads after the engine loaded the index: serve's set-up
        # pass, churn's cold passes after each commit
        cold = self.ms("query.cold", "cold.ranked", "cold.boolean")
        stages = self.build_stages
        decoded, total = self.mm_blocks

        def size(table):
            return tree_bytes(os.path.join(self.idx, table))

        return {
            "spark.jobs_per_query": (mean_jobs(*PLAN_KINDS), "count"),
            "spark.jobs_per_update": (mean_jobs("commit"), "count"),
            "spark.jobs_setup": (self.jobs_setup, "count"),
            "functions.analyze_us_p50": (_pct(analyze, 50), "us"),
            "build.docs_per_s": (self.built_docs / self.build_s, "1/s"),
            "build.update_p50_s": (_pct(self.commit_s, 50), "s"),
            "build.compact_s": (_pct(self.compact_s, 50), "s"),
            "build.warmup_s": (self.warmup_s, "s"),
            "build.tokenize_s": (stages["tokenize"], "s"),
            "build.postings_s": (stages["seg_00000/postings"], "s"),
            "build.blocks_s": (stages["finalize/blocks"], "s"),
            "build.dictionary_s": (stages["finalize/dictionary"], "s"),
            "build.merge_s": (stages["finalize/merge_postings"], "s"),
            "compact.bytes_rewritten": (self.compact_bytes, "bytes"),
            "compact.count": (len(self.compact_s), "count"),
            "reader.visible_p50_ms": (_pct(self.ms("visible"), 50), "ms"),
            "reader.refresh_ms_p50": (_pct([1000.0 * v for v in refresh.values()], 50), "ms"),
            "reader.delta_segments_mean": (sum(self.deltas) / len(self.deltas), "count"),
            "reader.tombstones": (max(self.tombstones), "count"),
            "query.ranked_p50_ms": (_pct(self.ms("query.ranked"), 50), "ms"),
            "query.boolean_p50_ms": (_pct(self.ms("query.boolean"), 50), "ms"),
            "query.batch_ms_p50": (_pct(self.ms("query.batch"), 50), "ms"),
            "query.turbo_share": (turbo_share, "ratio"),
            "query.cold_ms_p50": (_pct(cold, 50), "ms"),
            "plan.ranked_p50_ms": (_pct(self.ms("plan.ranked"), 50), "ms"),
            "plan.boolean_p50_ms": (_pct(self.ms("plan.boolean"), 50), "ms"),
            "plan.batch_ms_p50": (_pct(self.ms("plan.batch"), 50), "ms"),
            "wand.topk_p50_ms": (_pct(self.ms("wand.topk", "wand.check"), 50), "ms"),
            "multifield.wand_p50_ms": (_pct(self.ms("multifield.topk"), 50), "ms"),
            "multifield.blocks_decoded": (decoded, "count"),
            "multifield.blocks_total": (total, "count"),
            "multifield.decode_ratio": (decoded / total, "ratio"),
            "index.postings_bytes": (size("postings"), "bytes"),
            "index.blocks_bytes": (size("blocks"), "bytes"),
            "index.dictionary_bytes": (size("dictionary"), "bytes"),
            "index.tokens_bytes": (size("tokens"), "bytes"),
            "trace.overhead_pct": (overhead, "%"),
        }

"""Ranked top-k through the WAND entry point (SURVEY.md §4; reference
skip-pointer optimization ``selfindex_i1_skip_pointers.py`` upgraded to
score-aware skipping).

:class:`WandEngine` wraps one :class:`~.query.QueryEngine` on the same
index dir: reader state, live df/idf, the hot-term ``TermSlice`` cache
and the turbo cutover are that engine's.  Below the cutover
:meth:`WandEngine.topk` IS ``QueryEngine._turbo_ranked`` — exhaustive
numpy scoring over the cached per-term impacts, which measured faster
than a driver-side block-max loop on every corpus tried.  Above it
serves the distributed block-max plan: three small jobs, no wide
shuffle, provably the same top-k as exhaustive scoring:

  phase 0  metadata-only aggregation: per doc-range upper bound
           UB(range) = Σ_t weight_t · max_impact_t,range  (weight =
           idf · query-term multiplicity).  Runs entirely on block
           metadata columns — the blobs are never read (parquet column
           pruning).
  phase 1  exact scoring kernel on the top-S highest-UB ranges ->
           initial threshold θ0 = k-th best score among them.
  phase 2  kernel on every range with UB ≥ θ0 (ranges below θ0 cannot
           place a doc in the top-k: UB is a per-doc upper bound), then
           global (score desc, doc_id asc) limit k.

The kernel (applyInPandas per doc-range) decodes the delta-VByte runs
and accumulates scores into a dense numpy array over the 2^range_bits
doc slots — vectorized, no per-row Python.  Lossless: pruning uses
UB ≥ θ0 (not >), so boundary ties survive to the exact final sort.
"""

from __future__ import annotations

from collections import Counter
from typing import Dict

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..functions import codec
# unused here; kept as a module name because perfbench/spans.py wraps it
from ..functions.tokenizer import preprocess_query
from ..functions.udfs import term_bucket
from .query import QueryEngine

RESULT_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("score", T.DoubleType()),
    ]
)


def _make_kernel(weights: Dict[str, float], avg_doc_len: float, k1: float, b: float,
                 range_bits: int, k: int, codec_name: str = "vbyte",
                 tombstones=None):
    """Build the per-range scoring kernel closure (pickled to executors).
    ``tombstones``: doc ids to skip at decode time (incremental deletes
    whose postings still sit in not-yet-compacted block runs; the set
    size is bounded by the compaction policy)."""
    tomb_arr = (
        np.asarray(sorted(tombstones), dtype=np.int64)
        if tombstones
        else np.empty(0, dtype=np.int64)
    )

    def kernel(pdf: pd.DataFrame) -> pd.DataFrame:
        if pdf.empty:
            return pd.DataFrame({"doc_id": [], "score": []}).astype(
                {"doc_id": "int64", "score": "float64"}
            )
        base = int(pdf["range_id"].iloc[0]) << range_bits
        arr = np.zeros(1 << range_bits, dtype=np.float64)
        # fixed term order => deterministic accumulation order
        pdf = pdf.sort_values("term")
        for row in pdf.itertuples(index=False):
            w = weights.get(row.term)
            if not w:
                continue
            doc_ids, tfs, lens = codec.decode_block(
                row.doc_blob, row.tf_blob, row.len_blob, codec_name
            )
            ok = lens > 0
            if tomb_arr.size:
                ok &= ~np.isin(doc_ids, tomb_arr)
            imp = codec.bm25_impact(tfs[ok], lens[ok], avg_doc_len, k1, b)
            np.add.at(arr, doc_ids[ok] - base, w * imp)
        nz = np.nonzero(arr)[0]
        if nz.size > k:
            # local top-k with (score desc, doc_id asc): lexsort is
            # stable, secondary key = -score, primary (minor) = index
            order = np.lexsort((nz, -arr[nz]))[:k]
            nz = nz[order]
        return pd.DataFrame({"doc_id": (nz + base).astype(np.int64), "score": arr[nz]})

    return kernel


class WandEngine:
    """Top-k ranked retrieval: the turbo tier of one wrapped
    :class:`~.query.QueryEngine` below its cutover, the distributed
    block-max plan (:meth:`topk_df` + :meth:`total_hits`) above it."""

    def __init__(self, spark: SparkSession, index_dir: str):
        self.spark = spark
        self.index_dir = index_dir
        self.engine = QueryEngine(spark, index_dir)
        self._blocks_manifest = None

    @property
    def _block_sources(self):
        """Live block sources ``[(blocks_df, ub_scale)]`` — base + delta
        segments, each with its avgdl-drift correction factor so the
        stored block-max bounds stay valid upper bounds (reader.py).
        Read on first plan-tier use and re-read when the engine loads a
        new manifest generation."""
        from .reader import live_blocks

        eng = self.engine
        eng._refresh_if_stale()
        if self._blocks_manifest is not eng._manifest:
            self._blocks = live_blocks(
                self.spark, self.index_dir, eng._manifest, eng.stats
            )
            self._blocks_manifest = eng._manifest
        return self._blocks

    def _term_weights(self, query: str) -> Dict[str, float]:
        """term -> idf × multiplicity from the engine's live idf;
        0-idf terms dropped, like the reference."""
        eng = self.engine
        counts = Counter(eng._terms(query))
        idf = eng.term_idf(list(counts))
        return {t: idf[t] * c for t, c in counts.items() if idf[t] != 0.0}

    # below this many doc-ranges the 3-phase UB dance costs more in job
    # scheduling than it saves in decode work — run the kernel once over
    # every candidate range (still partition/term-pruned)
    SINGLE_PHASE_RANGES = 256
    # how many top-UB ranges seed the phase-1 threshold
    SEED_RANGES = 4

    def topk_df(self, query: str, k: int = 10) -> DataFrame:
        weights = self._term_weights(query)
        empty = self.spark.createDataFrame([], RESULT_SCHEMA)
        if not weights:
            return empty
        eng = self.engine
        cfg = eng.stats["config"]
        range_bits = cfg["doc_range_bits"]
        terms = sorted(weights)
        buckets = sorted({term_bucket(t, eng.n_buckets) for t in terms})

        # prune each live source (base + delta segments), tag it with
        # its avgdl-drift UB scale, then union for the kernel phases —
        # partition pruning + term pushdown apply per union branch
        kernel_cols = ["range_id", "term", "doc_blob", "tf_blob", "len_blob"]
        pruned = []
        for src, ub_scale in self._block_sources:
            pruned.append(
                (
                    src.filter(
                        F.col("bucket").isin(buckets) & F.col("term").isin(terms)
                    ),
                    ub_scale,
                )
            )
        blocks = pruned[0][0].select(*kernel_cols)
        for src, _s in pruned[1:]:
            blocks = blocks.unionByName(src.select(*kernel_cols))

        # corpus-derived range count — known without a job.  The id
        # space upper bound must cover tombstoned ids too (delta blocks
        # can hold ids past doc_count after removals).
        max_id = max(
            eng.doc_count - 1,
            int(eng._manifest.get("next_doc_id", 0)) - 1,
            0,
        )
        n_ranges_max = (max_id >> range_bits) + 1
        kernel = _make_kernel(
            weights, eng.avg_doc_len, eng.k1, eng.b, range_bits, k,
            cfg.get("codec", "vbyte"), eng._tombstones,
        )
        if n_ranges_max <= self.SINGLE_PHASE_RANGES:
            scored = blocks.groupBy("range_id").applyInPandas(
                lambda pdf: kernel(pdf), schema=RESULT_SCHEMA
            )
            return scored.orderBy(F.col("score").desc(), F.col("doc_id")).limit(k)

        # phase 0: metadata-only per-range upper bounds (per-source UB
        # scale corrects for avgdl drift since that source was encoded)
        w_items: list = []
        for t in terms:
            w_items += [F.lit(t), F.lit(float(weights[t]))]
        w_col = F.create_map(*w_items)[F.col("term")]
        ub_parts = []
        for src, ub_scale in pruned:
            ub_parts.append(
                src.select(
                    "range_id",
                    (w_col * F.col("max_impact") * F.lit(float(ub_scale))).alias("ub"),
                )
            )
        ub_all = ub_parts[0]
        for p in ub_parts[1:]:
            ub_all = ub_all.unionByName(p)
        range_ub = ub_all.groupBy("range_id").agg(F.sum("ub").alias("ub"))
        # collect ALL (range_id, ub) pairs when the range count is
        # moderate: one row per candidate doc-range of the QUERY TERMS
        # (bounded by Σ df / range size, far below the corpus range
        # count), so the phase-0 job yields the seeds AND lets phase 2
        # filter survivors by a driver-side isin instead of recomputing
        # the metadata agg in a broadcast join.  Falls back to the
        # join-shaped plan above the collect cap.
        UB_COLLECT_MAX = 100_000
        ub_rows = None
        if n_ranges_max <= UB_COLLECT_MAX:
            ub_rows = {r["range_id"]: r["ub"] for r in range_ub.collect()}
            seed_rids = sorted(ub_rows, key=lambda r: -ub_rows[r])[: self.SEED_RANGES]
        else:
            seed_rids = [
                r["range_id"]
                for r in range_ub.orderBy(F.col("ub").desc())
                .limit(self.SEED_RANGES)
                .collect()
            ]
        if not seed_rids:
            return empty

        # phase 1: exact threshold from the seed ranges
        seed = (
            blocks.filter(F.col("range_id").isin(seed_rids))
            .groupBy("range_id")
            .applyInPandas(lambda pdf: kernel(pdf), schema=RESULT_SCHEMA)
            .orderBy(F.col("score").desc(), F.col("doc_id"))
            .limit(k)
            .collect()
        )
        theta0 = seed[-1]["score"] if len(seed) >= k else 0.0

        # phase 2: kernel on surviving ranges only (UB >= theta0 keeps
        # boundary ties — lossless).  With the collected UB map the
        # survivor set is a literal isin filter (partition/row-group
        # prunable, no second metadata aggregation); otherwise the
        # broadcast-join shape re-derives it in-plan.
        if ub_rows is not None and (
            len(surviving := [r for r, u in ub_rows.items() if u >= theta0]) <= 5000
        ):
            cand = blocks.filter(F.col("range_id").isin(surviving))
        elif ub_rows is not None:
            survivors_df = self.spark.createDataFrame(
                [(int(r),) for r in surviving], "range_id long"
            )
            cand = blocks.join(F.broadcast(survivors_df), "range_id")
        else:
            survivors = range_ub.filter(F.col("ub") >= theta0).select("range_id")
            cand = blocks.join(F.broadcast(survivors), "range_id")
        scored = cand.groupBy("range_id").applyInPandas(
            lambda pdf: kernel(pdf), schema=RESULT_SCHEMA
        )
        return scored.orderBy(F.col("score").desc(), F.col("doc_id")).limit(k)

    def total_hits(self, query: str) -> int:
        """EXACT hit count: live docs containing ≥1 scoring term.  WAND
        pruning cannot produce this for free (pruned ranges never decode
        their doc ids), so it is one extra bounded job — a
        count-distinct over the bucket/term-pruned live postings scan,
        the same count the TAAT path's Observation yields
        (``QueryEngine.ranked``).  Reference result shape includes
        total_hits (``selfindex_q_taat.py:203-209``)."""
        weights = self._term_weights(query)
        if not weights:
            return 0
        p = self.engine._pruned_postings(sorted(weights)).filter(
            F.col("doc_len") > 0
        )
        from ..session import interactive_aqe_off

        with interactive_aqe_off(self.spark):
            return int(p.agg(F.countDistinct("doc_id")).collect()[0][0])

    def topk(self, query: str, k: int = 10, with_total_hits: bool = False) -> dict:
        """Reference result shape; ``with_total_hits`` adds the exact
        hit count (default off: above the cutover it costs the extra
        count job of :meth:`total_hits`)."""
        res = self.engine._turbo_ranked(query, k, "bm25", with_total_hits)
        if res is not None:
            return res
        # AQE off for the small interactive job (see QueryEngine._interactive)
        from ..session import interactive_aqe_off

        with interactive_aqe_off(self.spark):
            rows = self.topk_df(query, k).collect()
        total = self.total_hits(query) if with_total_hits else None
        return {
            "query": query,
            "total_hits": total,
            "results": [{"doc_id": r["doc_id"], "score": r["score"]} for r in rows],
        }

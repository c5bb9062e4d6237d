"""Block-max WAND top-k over the compressed block index (SURVEY.md §4;
reference skip-pointer optimization ``selfindex_i1_skip_pointers.py``
upgraded to score-aware skipping).

Three small jobs, no wide shuffle, provably the same top-k as exhaustive
scoring:

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

import json
import os
from collections import Counter
from typing import Dict, List, Optional

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..functions import codec
from ..functions.tokenizer import preprocess_query
from ..functions.udfs import term_bucket
from .query import turbo_topk

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
    """Top-k ranked retrieval over the ``blocks`` table."""

    def __init__(self, spark: SparkSession, index_dir: str):
        self.spark = spark
        self.index_dir = index_dir
        self._load()

    def _load(self) -> None:
        from . import reader as R

        index_dir = self.index_dir
        self.stats = R.load_stats(index_dir)
        cfg = self.stats["config"]
        self.n_buckets = cfg["n_buckets"]
        self.range_bits = cfg["doc_range_bits"]
        self.k1 = cfg.get("k1", 1.2)
        self.b = cfg.get("b", 0.75)
        self.pretokenized = cfg.get("pretokenized", False)
        self.codec = cfg.get("codec", "vbyte")
        self.avg_doc_len = self.stats["avg_doc_len"]
        self.doc_count = self.stats["doc_count"]
        # live block sources: [(blocks_df, ub_scale)] — base + delta
        # segments, each with its avgdl-drift correction factor so the
        # stored block-max bounds stay valid upper bounds (reader.py)
        try:
            self._manifest = R.load_manifest(index_dir)
        except OSError:
            self._manifest = {"segments": {}}
        self._tombstones = R.tombstones(self._manifest)
        self._block_sources = R.live_blocks(
            self.spark, index_dir, self._manifest, self.stats
        )
        self._dictionary = self.spark.read.parquet(os.path.join(index_dir, "dictionary"))
        self._idf_cache: Dict[str, float] = {}  # B6 idf cache (misses as 0.0)
        self._df_cache: Dict[str, int] = {}
        # hot-term block-row cache for the turbo kernel (see
        # _term_block_rows) — invalidated here with every other cache
        from collections import OrderedDict

        self._block_row_cache: "OrderedDict[str, list]" = OrderedDict()
        self._block_cache_bytes = 0
        try:
            self._manifest_mtime = os.path.getmtime(
                os.path.join(index_dir, "manifest.json")
            )
        except OSError:
            self._manifest_mtime = None

    def _refresh_if_stale(self) -> None:
        """Drop idf memo + stats + cached file listings when the index
        changed on disk (see QueryEngine._refresh_if_stale)."""
        try:
            m = os.path.getmtime(os.path.join(self.index_dir, "manifest.json"))
        except OSError:
            return
        if m != self._manifest_mtime:
            self._load()

    def _terms(self, query: str) -> List[str]:
        return query.split() if self.pretokenized else preprocess_query(query)

    def _weights(self, query: str) -> Dict[str, float]:
        """term -> idf * multiplicity (0-idf terms dropped, like the
        reference); dictionary lookups memoized across queries."""
        self._refresh_if_stale()
        terms = self._terms(query)
        counts = Counter(terms)
        missing = sorted(t for t in counts if t not in self._idf_cache)
        if missing:
            import math

            from .reader import live_df_lookup

            dfs = live_df_lookup(
                self.spark, self.index_dir, missing, self.n_buckets, self._manifest
            )
            n1 = float(self.doc_count + 1)
            for t in missing:
                df_v = dfs.get(t, 0)
                self._df_cache[t] = int(df_v) if df_v > 0 else 0
                self._idf_cache[t] = (
                    math.log(n1 / (df_v + 1)) if df_v > 0 else 0.0
                )
        return {
            t: self._idf_cache[t] * c
            for t, c in counts.items()
            if self._idf_cache[t] != 0.0
        }

    # below this many doc-ranges the 3-phase UB dance costs more in job
    # scheduling than it saves in decode work — run the kernel once over
    # every candidate range (still partition/term-pruned)
    SINGLE_PHASE_RANGES = 256
    # how many top-UB ranges seed the phase-1 threshold
    SEED_RANGES = 4

    def topk_df(self, query: str, k: int = 10) -> DataFrame:
        weights = self._weights(query)
        empty = self.spark.createDataFrame([], RESULT_SCHEMA)
        if not weights:
            return empty
        terms = sorted(weights)
        buckets = sorted({term_bucket(t, self.n_buckets) for t in terms})

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
            self.stats["doc_count"] - 1,
            int(self._manifest.get("next_doc_id", 0)) - 1,
            0,
        )
        n_ranges_max = (max_id >> self.range_bits) + 1
        if n_ranges_max <= self.SINGLE_PHASE_RANGES:
            kernel = _make_kernel(
                weights, self.avg_doc_len, self.k1, self.b, self.range_bits, k,
                self.codec, self._tombstones,
            )
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

        kernel = _make_kernel(
            weights, self.avg_doc_len, self.k1, self.b, self.range_bits, k,
            self.codec, self._tombstones,
        )

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
        weights = self._weights(query)
        if not weights:
            return 0
        terms = sorted(weights)
        buckets = sorted({term_bucket(t, self.n_buckets) for t in terms})
        from .reader import live_postings

        p = live_postings(self.spark, self.index_dir, self._manifest).filter(
            F.col("bucket").isin(buckets)
            & F.col("term").isin(terms)
            & (F.col("doc_len") > 0)
        )
        from ..session import interactive_aqe_off

        with interactive_aqe_off(self.spark):
            return int(p.agg(F.countDistinct("doc_id")).collect()[0][0])

    # turbo cutover: max Σ df served by the driver-side kernel
    TURBO_MAX_POSTINGS = 2_000_000

    def _turbo_topk(self, query: str, k: int,
                    with_total_hits: bool = False) -> Optional[tuple]:
        """Block-max WAND evaluated ON THE DRIVER for small slices: a
        pyarrow pruned read of the term's block runs (bucket partition
        pruning + term predicate; blob columns only for surviving
        ranges' rows), then the same UB-prune + decode-score algorithm
        in numpy.  Identical results to the distributed phases —
        lossless pruning with the per-source avgdl-drift UB scale and
        tombstone skip.  Returns None above the cutover or on read
        failure (callers fall back to the Spark path), else
        ``(results, total_hits-or-None)``."""
        if os.environ.get("SPARK_GRAFT_TURBO", "1") == "0":
            return None
        weights = self._weights(query)
        if not weights:
            return [], (0 if with_total_hits else None)
        terms = sorted(weights)
        if sum(self._df_cache.get(t, 0) for t in terms) > self.TURBO_MAX_POSTINGS:
            return None
        buckets = sorted({term_bucket(t, self.n_buckets) for t in terms})
        return self._turbo_topk_impl(terms, weights, buckets, k, with_total_hits)

    # LRU blob-byte budget for the hot-term block cache (driver RAM; the
    # reference holds the whole compressed index in RAM)
    TURBO_CACHE_MAX_BYTES = 256 * 1024 * 1024

    def _term_block_rows(self, terms) -> list:
        """Block rows (ub_scale, term, range_id, max_impact, doc_blob,
        tf_blob, len_blob) for ``terms`` across the live sources — LRU-
        cached per term, because the pyarrow block point-read dominates
        turbo WAND latency exactly as the postings read dominates ranked
        latency (QueryEngine._term_slices).  Cached rows ARE the
        raw read's rows, so results are identical by construction;
        invalidated with every other cache on manifest-mtime change."""
        import pyarrow.dataset as pads

        from . import reader as R

        cache = self._block_row_cache
        # MRU-mark this call's cache hits BEFORE the eviction loop below:
        # under a full cache the LRU pop could otherwise evict a term
        # this very call is about to read (same hazard as
        # QueryEngine._term_slices)
        for t in terms:
            if t in cache:
                cache.move_to_end(t)
        missing = sorted({t for t in terms if t not in cache})
        if missing:
            cols = ["term", "range_id", "max_impact", "doc_blob", "tf_blob", "len_blob"]
            sources = [
                (os.path.join(self.index_dir, "blocks"), self._block_sources[0][1])
            ]
            for seg, (_df, scale) in zip(
                R.delta_segments(self._manifest), self._block_sources[1:]
            ):
                sources.append(
                    (os.path.join(self.index_dir, "segments", seg, "blocks"), scale)
                )
            buckets = sorted({term_bucket(t, self.n_buckets) for t in missing})
            found: Dict[str, list] = {t: [] for t in missing}
            for path, scale in sources:
                ds = pads.dataset(path, partitioning="hive")
                expr = pads.field("bucket").isin(buckets) & pads.field(
                    "term"
                ).isin(missing)
                tbl = ds.to_table(columns=cols, filter=expr)
                for i in range(tbl.num_rows):
                    row = (scale, *[tbl.column(c)[i].as_py() for c in cols])
                    found[row[1]].append(row)
            for t in missing:
                rows_t = found[t]
                cache[t] = rows_t
                self._block_cache_bytes += sum(
                    len(r[4]) + len(r[5]) + len(r[6]) for r in rows_t
                )
            while (
                self._block_cache_bytes > self.TURBO_CACHE_MAX_BYTES
                and len(cache) > len(set(terms))
            ):
                _t, old = cache.popitem(last=False)
                self._block_cache_bytes -= sum(
                    len(r[4]) + len(r[5]) + len(r[6]) for r in old
                )
        out: list = []
        for t in terms:
            cache.move_to_end(t)
            out.extend(cache[t])
        return out

    def _turbo_topk_impl(self, terms, weights, buckets, k,
                         with_total_hits: bool = False) -> Optional[tuple]:
        try:
            rows = self._term_block_rows(terms)
        except Exception:
            return None

        # phase 0 (driver): per-range upper bounds with per-source scale;
        # rows grouped by range ONCE (score_range used to re-filter the
        # full row list per range — O(ranges x blocks))
        ub: Dict[int, float] = {}
        by_range: Dict[int, list] = {}
        for row in rows:
            scale, term, rid, mi = row[0], row[1], row[2], row[3]
            ub[rid] = ub.get(rid, 0.0) + weights[term] * mi * scale
            by_range.setdefault(rid, []).append(row)
        if not ub:
            return [], (0 if with_total_hits else None)
        for group in by_range.values():
            group.sort(key=lambda x: x[1])  # fixed term order, deterministic
        tomb = (
            np.asarray(sorted(self._tombstones), dtype=np.int64)
            if self._tombstones
            else np.empty(0, dtype=np.int64)
        )

        def score_range(rid) -> tuple:
            base = rid << self.range_bits
            arr = np.zeros(1 << self.range_bits, dtype=np.float64)
            for scale, term, r, _mi, db, tb, lb in by_range[rid]:
                w = weights[term]
                d, t, l = codec.decode_block(db, tb, lb, self.codec)
                ok = l > 0
                if tomb.size:
                    ok &= ~np.isin(d, tomb)
                imp = codec.bm25_impact(t[ok], l[ok], self.avg_doc_len, self.k1, self.b)
                np.add.at(arr, d[ok] - base, w * imp)
            nz = np.nonzero(arr)[0]
            return nz + base, arr[nz]

        def range_doc_count(rid) -> int:
            # live doc count of a range WITHOUT scoring it (total_hits
            # for pruned ranges): decode doc+len streams only
            ids = []
            for _scale, _term, _r, _mi, db, tb, lb in by_range[rid]:
                d, _t, l = codec.decode_block(db, tb, lb, self.codec)
                ok = l > 0
                if tomb.size:
                    ok &= ~np.isin(d, tomb)
                ids.append(d[ok])
            merged = np.concatenate(ids) if ids else np.empty(0, np.int64)
            return int(np.unique(merged).size)

        # phase 1: threshold from the top-S UB ranges
        by_ub = sorted(ub, key=lambda r: -ub[r])
        docs_all, scores_all = [], []
        scored_rids = set()
        for rid in by_ub[: self.SEED_RANGES]:
            d, s = score_range(rid)
            scored_rids.add(rid)
            docs_all.append(d)
            scores_all.append(s)
        cand_d = np.concatenate(docs_all) if docs_all else np.empty(0, np.int64)
        cand_s = np.concatenate(scores_all) if scores_all else np.empty(0)
        if cand_d.size >= k:
            theta0 = np.sort(cand_s)[::-1][k - 1]
        else:
            theta0 = 0.0

        # phase 2: only surviving ranges (UB >= theta0, lossless)
        for rid in by_ub[self.SEED_RANGES:]:
            if ub[rid] < theta0:
                continue
            d, s = score_range(rid)
            scored_rids.add(rid)
            docs_all.append(d)
            scores_all.append(s)
        total = None
        if with_total_hits:
            # docs partition by range, so the exact count is the sum of
            # per-range unique live doc counts: scored ranges already
            # yield theirs (every decoded doc scores > 0), pruned ranges
            # pay a doc/len-stream decode (no tf, no scoring) — the
            # honest cost of an exact count under pruning
            total = int(sum(len(d) for d in docs_all)) + sum(
                range_doc_count(rid) for rid in by_ub if rid not in scored_rids
            )
        top = turbo_topk(np.concatenate(docs_all), np.concatenate(scores_all),
                         k, total)
        return top["results"], total

    def topk(self, query: str, k: int = 10, with_total_hits: bool = False) -> dict:
        """Reference result shape; ``with_total_hits`` adds the exact
        hit count (default off: it costs decode/count work that WAND
        pruning exists to avoid — see :meth:`total_hits`)."""
        turbo = self._turbo_topk(query, k, with_total_hits)
        if turbo is not None:
            results, total = turbo
            return {"query": query, "total_hits": total, "results": results}
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

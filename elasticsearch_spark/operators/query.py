"""Query engine: ranked BM25/TF-IDF retrieval + boolean set queries
(SURVEY.md §2.4, §2.5, §3.1-3.2).

Query lifecycle (no shuffle on the ranked fast path):

  query string -> driver-side tokenizer (same module as the build UDF)
  -> driver computes the term buckets (crc32 twin of the build's bucket
  expression) -> partition-pruned scan of the postings table, with the
  ``term IN (...)`` predicate pushed into parquet row-group stats
  -> per-row BM25/TF-IDF column expression (idf injected as a literal
  term->idf MAP, i.e. the broadcast term-dictionary slice)
  -> groupBy(doc_id) partial-agg sum
  -> TakeOrderedAndProject (per-partition bounded heap, driver merge) via
  ``orderBy(score desc, doc_id).limit(k)`` — physically exactly the
  reference's heap top-k (R5) distributed.

Boolean queries compose DataFrame set ops from the RPN plan: AND = inner
join on doc_id, OR = union+distinct, NOT = anti join against the doc
dictionary (Q1-Q6).  The formulas live textually in
``functions/scoring.py``; this module builds the identical Column
expressions.
"""

from __future__ import annotations

import json
import os
from contextlib import contextmanager
from functools import lru_cache
from typing import Dict, List, Optional, Sequence, Tuple

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from ..functions.scoring import B_DEFAULT, K1_DEFAULT
from ..functions.tokenizer import (
    is_boolean_query,
    preprocess_boolean_query,
    preprocess_query,
)
from ..functions.udfs import term_bucket
from ..oracle.engine import to_rpn

# bytes of one charged row of the turbo hot-term cache
# (QueryEngine.TURBO_CACHE_MAX_POSTINGS), and the Python-object
# overhead charged per entry (slots object, impact dict, array headers,
# key: measured 0.9-1.0 KB) so that entries with few or no rows — e.g.
# unindexed boolean terms — still count against the ceiling
_CACHE_ROW_BYTES = 24
_CACHE_ENTRY_BYTES = 1024


class TermSlice:
    """One term's entry in the turbo hot-term cache: the raw postings
    rows ``(doc, tf, dl)`` in read order; ``sdoc`` = the doc_len > 0
    rows (the scoring rows; ``pos`` is their mask, None when every row
    qualifies and ``sdoc`` IS ``doc``); ``impact`` = method -> per-row
    BM25/TF-IDF impact over the ``sdoc`` rows, computed once per index
    generation.  ``rows`` is what the entry is charged against the
    cache ceiling: its array bytes plus a fixed per-entry overhead, in
    24-byte rows."""

    __slots__ = ("doc", "tf", "dl", "pos", "sdoc", "impact", "rows")

    def __init__(self, doc, tf, dl):
        self.doc, self.tf, self.dl = doc, tf, dl
        pos = dl > 0
        self.pos = None if pos.all() else pos
        self.sdoc = doc if self.pos is None else doc[pos]
        self.impact = {}
        self.rows = self._charge()

    def _charge(self) -> int:
        held = [self.doc, self.tf, self.dl, *self.impact.values()]
        if self.pos is not None:
            held += [self.pos, self.sdoc]
        nbytes = _CACHE_ENTRY_BYTES + sum(a.nbytes for a in held)
        return -(-nbytes // _CACHE_ROW_BYTES)

    def add_impact(self, method: str, impact) -> int:
        """Store ``method``'s impacts; returns the added charge."""
        self.impact[method] = impact
        old, self.rows = self.rows, self._charge()
        return self.rows - old


def group_code_doc(codes, doc):
    """Group rows by ``(code, doc)`` without packing both into one
    scalar key (``codes * dmax + doc`` wraps int64 for sparse or huge
    doc ids): one stable lexsort, groups in ascending (code, doc)
    order.  Returns ``(g_code, g_doc, inv)`` with ``inv`` the group of
    each input row, so ``np.bincount(inv, weights=…)`` sums each
    group's rows in input order."""
    import numpy as np

    order = np.lexsort((doc, codes))
    c_s, d_s = codes[order], doc[order]
    new = np.ones(order.size, dtype=bool)
    new[1:] = (c_s[1:] != c_s[:-1]) | (d_s[1:] != d_s[:-1])
    inv = np.empty(order.size, dtype=np.int64)
    inv[order] = np.cumsum(new) - 1
    return c_s[new], d_s[new], inv


def turbo_topk(docs, scores, k: int, total: Optional[int],
               query: Optional[str] = None) -> dict:
    """Driver-side top-k in the reference result shape: the ``k`` best
    rows of the parallel ``docs``/``scores`` arrays under the (score
    desc, doc_id asc) tie-break — the ONE turbo-tier top-k (its plan
    twin is :meth:`QueryEngine._collect_topk`)."""
    import numpy as np

    order = np.lexsort((docs, -scores))[:k]
    return {
        "query": query,
        "total_hits": total,
        "results": [
            {"doc_id": int(docs[i]), "score": float(scores[i])} for i in order
        ],
    }


def empty_result(query: Optional[str], want_total: bool = True) -> dict:
    """Zero hits in the reference result shape."""
    return {
        "query": query,
        "total_hits": 0 if want_total else None,
        "results": [],
    }


def impact_col(method: str, tf, doc_len, avg_doc_len: float,
               k1: float, b: float):
    """Idf-free per-posting BM25/TF-IDF impact as a Column expression —
    the ONE plan-side copy of the saturation formula (the numpy twin is
    ``codec.bm25_impact``).  Callers weight it as ``idf × impact`` (×
    multiplicity) or ``w × impact``."""
    if method == "bm25":
        return (tf * (k1 + 1)) / (
            tf + k1 * (1 - b + b * (doc_len / F.lit(avg_doc_len)))
        )
    if method == "tfidf":
        return tf / doc_len
    raise ValueError(f"unknown scoring method {method!r}")


def match_threshold(terms: Sequence[str], df: Dict[str, int],
                    idf: Dict[str, float], operator: str,
                    minimum_should_match) -> Optional[int]:
    """Matched-distinct-term threshold for ES ``match``
    ``operator``/``minimum_should_match`` over a df map and an idf map
    (one index's live statistics, or cross_fields' blended ones).
    None ⇒ the query can never match (operator=and with an unindexed
    term — Lucene: a MUST TermQuery over a non-existent term matches
    nothing).

    Terms with df>0 but idf==0 occur in EVERY doc under this idf
    formula (df==N): they are skipped from scoring (reference
    semantics) and auto-match every candidate, so they drop out of the
    ``and`` count and lower ``minimum_should_match`` — the same spec as
    the oracle's ``match_query``."""
    if operator not in ("or", "and"):
        raise ValueError(f"unknown match operator {operator!r}")
    distinct = set(terms)
    if operator == "and":
        if any(df.get(t, 0) == 0 for t in distinct):
            return None
        return sum(1 for t in distinct if idf.get(t, 0.0) != 0.0)
    if minimum_should_match is None:
        return 0
    n_zero_idf = sum(
        1 for t in distinct if df.get(t, 0) > 0 and idf.get(t, 0.0) == 0.0
    )
    return max(int(minimum_should_match) - n_zero_idf, 0)


class QueryEngine:
    """Answers queries against an index built by ``IndexBuilder``.

    Two serving paths, identical results:

    * the DISTRIBUTED plan (pruned scan -> score -> agg -> TakeOrdered)
      — the canonical path, correct at any slice size, runs unchanged on
      a 1000-executor cluster; this is what the driver gates check.
    * a TURBO path for interactive queries whose candidate posting count
      (Σ live df over query terms) is small: the driver reads the pruned
      postings slice directly via pyarrow (hive bucket pruning + term
      predicate against row-group stats) and scores it in numpy — zero
      Spark jobs, ~10-30 ms instead of the ~150 ms/job scheduling floor.
      The same head-term/size cutover a production engine uses for its
      document-routing cache; disable with ``turbo=False`` or
      ``SPARK_GRAFT_TURBO=0``.
    """

    # turbo cutover: max Σ df (candidate postings) served driver-side
    TURBO_MAX_POSTINGS = 2_000_000

    def __init__(self, spark: SparkSession, index_dir: str, turbo: bool = True):
        self.spark = spark
        self.index_dir = index_dir
        self.turbo = turbo and os.environ.get("SPARK_GRAFT_TURBO", "1") != "0"
        self._load()

    def _load(self) -> None:
        from . import reader as R

        index_dir = self.index_dir
        # load_stats reconciles from the manifest (the atomic commit
        # point) in case a crash separated an update's two file writes
        self.stats = R.load_stats(index_dir)
        cfg = self.stats["config"]
        self.n_buckets = cfg["n_buckets"]
        self.k1 = cfg.get("k1", K1_DEFAULT)
        self.b = cfg.get("b", B_DEFAULT)
        self.pretokenized = cfg.get("pretokenized", False)
        self.doc_count = self.stats["doc_count"]
        self.avg_doc_len = self.stats["avg_doc_len"]
        # live view: compacted base ∪ delta segments − tombstones
        # (operators/reader.py); collapses to the plain base tables when
        # no incremental updates are pending
        try:
            self._manifest = R.load_manifest(index_dir)
        except OSError:
            self._manifest = {"segments": {}}
        self._tombstones = R.tombstones(self._manifest)
        self._postings = R.live_postings(self.spark, index_dir, self._manifest)
        self._docs = R.live_docs(self.spark, index_dir, self._manifest)
        self._dictionary = self.spark.read.parquet(os.path.join(index_dir, "dictionary"))
        # reference's idf cache (B6, selfindex_q_daat.py:114-117): terms
        # looked up once per engine lifetime; misses cached as 0.0 so an
        # unindexed term never re-queries the dictionary
        self._idf_cache: Dict[str, float] = {}
        self._df_cache: Dict[str, int] = {}
        # hot-term postings cache for the turbo tier: term -> TermSlice
        # (rows + derived impacts, see _term_slices) — recreated with
        # every other cache on manifest-mtime change
        from collections import OrderedDict

        self._term_postings_cache: "OrderedDict[str, TermSlice]" = OrderedDict()
        self._term_cache_rows = 0
        self._universe_cache = None  # live doc-id array (boolean NOT)
        self._doc_len_cache = None   # live (doc_id, doc_len) arrays
        if hasattr(self, "_tfidf"):
            # the engine_tfidf_x3 gate caches the variant table here;
            # lazy re-read after index update
            del self._tfidf
        if hasattr(self, "_blocks_df"):
            del self._blocks_df
        try:
            self._manifest_mtime = os.path.getmtime(
                os.path.join(index_dir, "manifest.json")
            )
        except OSError:
            self._manifest_mtime = None

    def _refresh_if_stale(self) -> None:
        """Invalidate caches (idf memo, stats, cached file listings) when
        the index was rebuilt/updated under a live engine — keyed on the
        manifest mtime (update_index rewrites it last), one os.stat per
        query."""
        try:
            m = os.path.getmtime(os.path.join(self.index_dir, "manifest.json"))
        except OSError:
            return
        if m != self._manifest_mtime:
            self._load()

    # ---------------------------------------------------------------- util
    @contextmanager
    def _interactive(self):
        """Disable AQE for a single small query action: adaptive stage
        materialization costs ~30-40% latency on jobs whose shuffles are
        a few KB (measured p50 97->74ms, p95 178->103ms).  Build and
        batch jobs keep AQE (skew splitting, coalescing).  Reentrant and
        thread-safe via the session-level depth counter."""
        from ..session import interactive_aqe_off

        with interactive_aqe_off(self.spark):
            yield

    def _terms(self, query: str) -> List[str]:
        if self.pretokenized:
            return query.split()
        return preprocess_query(query)

    def _pruned_postings(self, terms: Sequence[str]) -> DataFrame:
        """Bucket partition pruning + term predicate pushdown."""
        buckets = sorted({term_bucket(t, self.n_buckets) for t in terms})
        return self._postings.filter(
            F.col("bucket").isin(buckets) & F.col("term").isin(list(terms))
        )

    def term_idf(self, terms: Sequence[str]) -> Dict[str, float]:
        """term -> idf ln((N+1)/(df+1)), memoized across queries (the
        reference's idf_cache).  df is the LIVE document frequency —
        driver-side pyarrow point reads over the signed dictionary
        sources (base + delta-segment partials − removed-doc partials;
        no Spark job), idf computed here from the live doc count, which
        keeps scores exact across incremental updates."""
        import math

        self._refresh_if_stale()
        missing = sorted({t for t in terms if t not in self._idf_cache})
        if missing:
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
        # unindexed terms carry 0.0 — callers treat 0-idf and missing
        # identically (reference semantics)
        return {t: self._idf_cache[t] for t in set(terms)}

    # --------------------------------------------------- turbo fast path
    # LRU budget for the hot-term postings cache, in cached posting rows
    # of 24 B: doc_id int64 + tf/doc_len int32 + one float64 impact.  A
    # term entry is charged its array bytes plus a fixed per-entry
    # overhead in that unit (raw-only rows cost 2/3 row, a second
    # method's impacts 1/3 more), so 5M ≈ 120 MB of driver RAM all
    # told.  Measured on a 1,200-doc index (~85 postings per entry):
    # 33 B per cached posting with one method's impacts, 40 B with both,
    # object overhead included — the reference holds its WHOLE postings
    # dict in RAM, 263-389 MB at 50k docs
    TURBO_CACHE_MAX_POSTINGS = 5_000_000

    def _term_slices(self, terms: Sequence[str],
                     method: Optional[str] = None) -> List["TermSlice"]:
        """Per-term postings slices for ``terms`` (in order), with
        ``method``'s impacts filled in — served from an in-RAM LRU
        cache of hot terms; misses fall through to
        :meth:`_postings_point_read_raw` (driver-side pyarrow pruned
        read).  The cache is the turbo-tier analogue of the reference's
        fully-in-RAM postings dict (``selfindex_q_daat.py``): the
        pyarrow point read IS the interactive latency, so repeat-term
        queries drop to numpy-only sub-ms.  Identical results by
        construction (slices are the raw read's rows, keyed per term)
        and invalidated with every other engine cache on manifest-mtime
        change (_refresh_if_stale -> _load)."""
        cache = self._term_postings_cache
        missing = sorted({t for t in terms if t not in cache})
        if missing:
            for t, cols in self._postings_point_read_raw(missing).items():
                sl = cache[t] = TermSlice(*cols)
                self._term_cache_rows += sl.rows
        out = []
        for t in terms:
            cache.move_to_end(t)
            sl = cache[t]
            if method is not None and method not in sl.impact:
                self._term_cache_rows += sl.add_impact(
                    method, self._impact(sl, method)
                )
            out.append(sl)
        # every term of this call is most-recently-used by now, so the
        # LRU pop never evicts one while it is being read
        while (
            self._term_cache_rows > self.TURBO_CACHE_MAX_POSTINGS
            and len(cache) > len(set(terms))
        ):
            _t, old = cache.popitem(last=False)
            self._term_cache_rows -= old.rows
        return out

    def _turbo_admits(self, terms: Sequence[str], extra: int = 0) -> bool:
        """The turbo cutover: the tier is on and Σ live df over the
        distinct ``terms`` plus ``extra`` rows (boolean NOT's doc
        universe) is within TURBO_MAX_POSTINGS.  Live df comes from
        ``_df_cache``, so callers run :meth:`term_idf` over ``terms``
        first."""
        return self.turbo and (
            sum(self._df_cache.get(t, 0) for t in terms) + extra
            <= self.TURBO_MAX_POSTINGS
        )

    def _turbo_slices(self, terms: Sequence[str],
                      method: Optional[str] = None,
                      extra: int = 0) -> Optional[Dict[str, "TermSlice"]]:
        """The ONE turbo admission gate: term -> cached slice (with
        ``method``'s impacts) for ``terms``, or None when
        :meth:`_turbo_admits` declines or the point read fails — the
        caller then falls back to the distributed plan."""
        if not self._turbo_admits(terms, extra):
            return None
        try:
            return dict(zip(terms, self._term_slices(terms, method)))
        except Exception:
            return None

    def _impact(self, sl: "TermSlice", method: str):
        """Per-row BM25/TF-IDF impact (idf-free) over a slice's
        doc_len > 0 rows — every turbo caller reads it from the slice
        (the BM25 saturation is ``codec.bm25_impact``; the plan-side
        twin is :func:`impact_col`)."""
        import numpy as np

        from ..functions.codec import bm25_impact

        tf, dl = sl.tf, sl.dl
        if sl.pos is not None:
            tf, dl = tf[sl.pos], dl[sl.pos]
        if method == "bm25":
            return bm25_impact(tf, dl, self.avg_doc_len, self.k1, self.b)
        if method == "tfidf":
            return tf.astype(np.float64) / dl.astype(np.float64)
        raise ValueError(f"unknown scoring method {method!r}")

    def _postings_point_read_raw(self, terms: Sequence[str]):
        """Driver-side pyarrow read of the pruned postings slice across
        the LIVE sources (base + delta segments): hive partition pruning
        on ``bucket=`` plus a ``term IN`` predicate against row-group
        stats (postings are (term, doc_id)-sorted per bucket, so the
        min/max stats prune tightly).  Returns ``{term: (doc_id int64,
        tf int32, doc_len int32)}`` for every requested term (empty
        arrays when absent), tombstone-filtered, rows of a term in read
        order; each term's arrays own their memory (copies, not views
        of the one read), so evicting a term frees its bytes.

        Streams pyarrow record batches: each batch maps its term column
        to codes with ``pc.index_in`` and is tombstone-filtered at once,
        so peak driver memory is the numpy output plus ONE record
        batch; one stable argsort of the codes then splits the rows
        into per-term slices."""
        import numpy as np
        import pyarrow as pa
        import pyarrow.compute as pc
        import pyarrow.dataset as pads

        from .reader import delta_segments

        terms = list(terms)
        buckets = sorted({term_bucket(t, self.n_buckets) for t in terms})
        paths = [os.path.join(self.index_dir, "postings")] + [
            os.path.join(self.index_dir, "segments", s, "postings")
            for s in delta_segments(self._manifest)
        ]
        cols = ["term", "doc_id", "tf", "doc_len"]
        types = [np.int64, np.int64, np.int32, np.int32]
        value_set = pa.array(terms, type=pa.string())
        tomb = (
            np.asarray(self._tombstones, dtype=np.int64)
            if self._tombstones
            else None
        )
        parts: List[list] = [[], [], [], []]
        for p in paths:
            ds = pads.dataset(p, partitioning="hive")
            expr = pads.field("bucket").isin(buckets) & pads.field("term").isin(terms)
            for batch in ds.to_batches(columns=cols, filter=expr):
                if batch.num_rows == 0:
                    continue
                arrs = [pc.index_in(batch.column(0), value_set=value_set)] + [
                    batch.column(i) for i in (1, 2, 3)
                ]
                arrs = [
                    a.to_numpy(zero_copy_only=False).astype(ty)
                    for a, ty in zip(arrs, types)
                ]
                if tomb is not None:
                    keep = ~np.isin(arrs[1], tomb)
                    arrs = [a[keep] for a in arrs]
                for part, a in zip(parts, arrs):
                    part.append(a)
        code, doc, tf, dl = (
            np.concatenate(part) if part else np.empty(0, dtype=ty)
            for part, ty in zip(parts, types)
        )
        order = np.argsort(code, kind="stable")
        doc, tf, dl = doc[order], tf[order], dl[order]
        counts = np.bincount(code, minlength=len(terms))
        ends = np.cumsum(counts)
        return {
            t: (doc[e - n:e].copy(), tf[e - n:e].copy(), dl[e - n:e].copy())
            for t, n, e in zip(terms, counts.tolist(), ends.tolist())
        }

    def _turbo_scored_rows(self, terms: List[str], method: str,
                           idf_map: Optional[Dict[str, float]] = None):
        """The SHARED turbo scoring kernel — every driver-side ranked
        tier (ranked, multi_match per-field maps, match operator/msm,
        cross_fields) scores from here, over the cached per-term
        impacts of :meth:`_term_slices`.

        ``terms`` are ANALYZED query terms (duplicates = per-occurrence
        multiplicity, like the reference's TAAT loop); ``idf_map``
        overrides the live per-index idf (cross_fields passes BLENDED
        statistics) — liveness (idf != 0) is judged against whichever
        map applies.

        Returns None when the turbo tier does not apply (disabled,
        Σ df over budget, point-read failure) — callers fall back to
        the distributed plan.  Otherwise ``(uniq_terms, codes, doc, s)``
        posting rows (one per (term, doc), doc_len>0 filtered) where
        ``s = idf × multiplicity × impact``; all arrays empty when no
        term is live or nothing matches."""
        if not self.turbo:
            return None
        import numpy as np
        from collections import Counter

        live_idf = self.term_idf(terms) if idf_map is None else idf_map
        live = [t for t in terms if live_idf.get(t, 0.0) != 0.0]
        uniq = sorted(set(live))
        empty = (
            uniq,
            np.empty(0, dtype=np.int64),
            np.empty(0, dtype=np.int64),
            np.empty(0, dtype=np.float64),
        )
        if not live:
            return empty
        if idf_map is not None:
            # blended-idf callers: the budget check needs THIS index's
            # live df — populate the cache (cheap driver point lookup)
            self.term_idf(uniq)
        got = self._turbo_slices(uniq, method)
        if got is None:
            return None
        slices = list(got.values())
        lens = [sl.sdoc.size for sl in slices]
        if not sum(lens):
            return empty
        counts = Counter(live)
        weights = np.array(
            [live_idf[t] * float(counts[t]) for t in uniq], dtype=np.float64
        )
        codes = np.repeat(np.arange(len(uniq), dtype=np.int64), lens)
        doc = np.concatenate([sl.sdoc for sl in slices])
        impact = np.concatenate([sl.impact[method] for sl in slices])
        return uniq, codes, doc, weights[codes] * impact

    @staticmethod
    def _turbo_accum(counts, idf_map: Dict[str, float],
                     slices: Dict[str, "TermSlice"], method: str):
        """Per-doc ``(docs_u, scores)`` of one weighted term bag
        (``counts``: term -> multiplicity) over cached slices: Σ idf ×
        multiplicity × impact, summed in ``counts`` order.  None when no
        live term has postings (a dead clause)."""
        import numpy as np

        segs_d, segs_s = [], []
        for t, mult in counts.items():
            w = idf_map.get(t, 0.0)
            sl = slices.get(t)
            if w == 0.0 or sl is None or not sl.doc.size:
                continue
            segs_d.append(sl.sdoc)
            segs_s.append((w * float(mult)) * sl.impact[method])
        if not segs_d:
            return None
        du, inv = np.unique(np.concatenate(segs_d), return_inverse=True)
        return du, np.bincount(inv, weights=np.concatenate(segs_s))

    def _turbo_score_map(self, query: str, method: str = "bm25",
                         terms: Optional[List[str]] = None,
                         idf_map: Optional[Dict[str, float]] = None):
        """Full per-doc score map ``(docs_u, scores)`` on the driver —
        the multi_match per-field building block (result-identical to
        :meth:`score_plan`).  None -> caller falls back to the plan."""
        import numpy as np

        if terms is None:
            terms = self._terms(query)
        got = self._turbo_scored_rows(terms, method, idf_map)
        if got is None:
            return None
        _uniq, _codes, doc, s = got
        if doc.size == 0:
            return (np.empty(0, dtype=np.int64), np.empty(0, dtype=np.float64))
        docs_u, inv = np.unique(doc, return_inverse=True)
        return docs_u, np.bincount(inv, weights=s)

    def _turbo_ranked(self, query: str, k: int, method: str,
                      want_total: bool,
                      terms: Optional[List[str]] = None,
                      search_after: Optional[Tuple[float, int]] = None,
                      exclude_docs: Optional[Sequence[int]] = None,
                      filter_docs=None,
                      ) -> Optional[dict]:
        """Serve a ranked query entirely on the driver when the candidate
        slice is small (:meth:`_turbo_admits`): pyarrow pruned
        read + vectorized numpy scoring, zero Spark jobs.  Returns None
        when not applicable — the caller falls back to the distributed
        plan.  Result values are identical to the plan path (same
        formula, float64; rank-identity enforced by tests).

        ``terms`` bypasses tokenization — used by the multi-term
        expansion queries (prefix/fuzzy), whose dictionary terms are
        already analyzed."""
        if isinstance(filter_docs, DataFrame):
            # plan-valued filter clause (attribute predicate): the
            # allowlist lives in the cluster — distributed plan only
            return None
        import numpy as np

        if terms is None:
            terms = self._terms(query)
        got = self._turbo_scored_rows(terms, method)
        if got is None:
            return None
        _uniq, _codes, doc, s = got
        if doc.size == 0:
            return empty_result(query, want_total)
        docs_u, inv = np.unique(doc, return_inverse=True)
        scores = np.bincount(inv, weights=s)
        if filter_docs is not None:
            allow = np.asarray(sorted({int(d) for d in filter_docs}),
                               dtype=np.int64)
            keep = np.isin(docs_u, allow)
            docs_u, scores = docs_u[keep], scores[keep]
        if exclude_docs:
            keep = ~np.isin(docs_u, np.asarray(sorted(exclude_docs), dtype=np.int64))
            docs_u, scores = docs_u[keep], scores[keep]
        total = int(docs_u.size)
        if search_after is not None:
            sa_score, sa_doc = float(search_after[0]), int(search_after[1])
            keep = (scores < sa_score) | (
                (scores == sa_score) & (docs_u > sa_doc)
            )
            docs_u, scores = docs_u[keep], scores[keep]
        return turbo_topk(docs_u, scores, k, total if want_total else None,
                          query)

    # -------------------------------------------------------------- ranked
    def _scored_postings_rows(self, terms: List[str],
                              method: str) -> Optional[DataFrame]:
        """Per-(term, doc) scored posting rows ``(doc_id, score)`` — the
        ONE plan-side source of the BM25/TF-IDF scoring expression (the
        distributed twin of :meth:`_turbo_scored_rows`): score = idf ×
        multiplicity × impact per row, doc_len>0 filtered.  None when
        no analyzed term is live (missing or idf==0, reference
        semantics).  Rows are unique per (term, doc), so a downstream
        ``count(*)`` in the scoring groupBy IS the matched-distinct-term
        count."""
        idf_map = self.term_idf(terms)
        live = [t for t in terms if idf_map.get(t, 0.0) != 0.0]
        if not live:
            return None
        idf_items: list = []
        for t in sorted(set(live)):
            idf_items += [F.lit(t), F.lit(float(idf_map[t]))]
        idf_col = F.create_map(*idf_items)[F.col("term")]

        # duplicated query terms accumulate once per occurrence, exactly
        # like the reference's per-term TAAT loop
        from collections import Counter

        mult_items: list = []
        for t, c in Counter(live).items():
            mult_items += [F.lit(t), F.lit(float(c))]
        mult_col = F.create_map(*mult_items)[F.col("term")]

        p = self._pruned_postings(sorted(set(live)))
        score = idf_col * impact_col(
            method, F.col("tf"), F.col("doc_len"), self.avg_doc_len,
            self.k1, self.b,
        )
        return p.filter(F.col("doc_len") > 0).select(
            "doc_id", (score * mult_col).alias("score")
        )

    def score_plan(self, query: str, method: str = "bm25",
                   terms: Optional[List[str]] = None) -> Optional[DataFrame]:
        """The full scoring DataFrame (doc_id, score) for a free-text
        query — no top-k truncation.  None if no query term is indexed.
        ``terms`` bypasses tokenization (prefix/fuzzy expansions)."""
        if terms is None:
            terms = self._terms(query)
        rows = self._scored_postings_rows(terms, method)
        if rows is None:
            return None
        return rows.groupBy("doc_id").agg(F.sum("score").alias("score"))

    def ranked(self, query: str, k: int = 10, method: str = "bm25",
               with_total_hits: bool = True,
               terms: Optional[List[str]] = None,
               search_after: Optional[Tuple[float, int]] = None,
               exclude_docs: Optional[Sequence[int]] = None,
               filter_docs=None) -> dict:
        """Reference result shape ``{query, total_hits, results:[{doc_id,
        score}]}`` with the deterministic (score desc, doc_id asc)
        tie-break.

        The literal-map plan (driver looks up ≤|query| idf values, then
        one scan→score→agg→TakeOrdered job) measured 2-3x faster than a
        broadcast join of the dictionary slice — the join adds an AQE
        broadcast stage for a slice that is tiny at any corpus scale.

        Small candidate slices are served by the driver-side turbo path
        (zero Spark jobs, identical results — see class docstring)."""
        res = self._turbo_ranked(
            query, k, method, with_total_hits, terms=terms,
            search_after=search_after, exclude_docs=exclude_docs,
            filter_docs=filter_docs,
        )
        if res is not None:
            return res
        plan = self.score_plan(query, method, terms=terms)
        if plan is None:
            return empty_result(query, with_total_hits)
        # total_hits counts the FULL match set (ES semantics; doc
        # exclusion is part of the query, the pagination cursor is not)
        plan = self._apply_exclude(
            self._apply_filter(plan, filter_docs), exclude_docs
        )
        return self._collect_topk(plan, query, k, with_total_hits,
                                  search_after)

    def _collect_topk(self, plan: DataFrame, query, k: int,
                      want_total: bool,
                      search_after: Optional[Tuple[float, int]] = None
                      ) -> dict:
        """The ONE plan-tier top-k: a (doc_id, score) plan → the
        reference result shape in ONE job, ``orderBy(score desc,
        doc_id asc).limit(k)`` (TakeOrderedAndProject).  With
        ``want_total`` the hit count rides that job as an Observation
        placed BELOW the ``search_after`` cursor filter — TakeOrdered
        consumes every child row, so the count is exact and covers the
        whole match set, not the page."""
        obs = None
        if want_total:
            obs = Observation()
            plan = plan.observe(obs, F.count(F.lit(1)).alias("n"))
        plan = self._apply_search_after(plan, search_after)
        with self._interactive():
            top = (
                plan.orderBy(F.col("score").desc(), F.col("doc_id").asc())
                .limit(k)
                .collect()
            )
            total = int(obs.get["n"]) if obs is not None else None
        return {
            "query": query,
            "total_hits": total,
            "results": [{"doc_id": r["doc_id"], "score": r["score"]} for r in top],
        }

    @staticmethod
    def _apply_filter(plan: DataFrame, filter_docs) -> DataFrame:
        """ES bool-query ``filter`` clause: restrict hits to an
        allowlist without touching scores (non-scoring context —
        total_hits counts the FILTERED set).  Accepts a driver-side
        id sequence (both tiers) or a DataFrame with a ``doc_id``
        column (distributed plan only): the attribute predicate runs as
        a semi-join, broadcast by Catalyst/AQE when the filter side is
        small — attributes never leave their own table."""
        if filter_docs is None:
            return plan
        if isinstance(filter_docs, DataFrame):
            return plan.join(
                filter_docs.select("doc_id").distinct(), "doc_id", "semi"
            )
        return plan.filter(
            F.col("doc_id").isin([int(d) for d in filter_docs])
        )

    @staticmethod
    def _apply_exclude(plan: DataFrame,
                       exclude_docs: Optional[Sequence[int]]) -> DataFrame:
        """Drop explicitly excluded doc_ids (e.g. more_like_this's
        source doc) — part of the query, so total_hits excludes them."""
        if not exclude_docs:
            return plan
        return plan.filter(~F.col("doc_id").isin([int(d) for d in exclude_docs]))

    @staticmethod
    def _apply_search_after(plan: DataFrame,
                            search_after: Optional[Tuple[float, int]]
                            ) -> DataFrame:
        """ES ``search_after`` keyset pagination: keep rows strictly
        after the (score, doc_id) cursor in (score desc, doc_id asc)
        order.  Stateless deep pagination — each page is one bounded
        top-k job, never an OFFSET scan-and-discard.  Cursors carry the
        exact float64 sort values of the previous page (valid within a
        serving tier; the tiers agree to 1e-9)."""
        if search_after is None:
            return plan
        sa_score, sa_doc = float(search_after[0]), int(search_after[1])
        return plan.filter(
            (F.col("score") < sa_score)
            | ((F.col("score") == sa_score) & (F.col("doc_id") > sa_doc))
        )

    # ------------------------------------------------- fetch phase (ES)
    def doc_urls(self, doc_ids: Sequence[int]) -> Dict[int, str]:
        """Bounded docID → url point lookup over the LIVE docs view —
        the Lucene stored-field indirection (ES resolves hits to
        ``_source`` through exactly this map).  The ids literal is
        pushed into the parquet scan (row-group min/max pruning; docs
        files are written in doc_id order), so the read touches
        O(hit-count) row groups, never the corpus."""
        ids = sorted({int(d) for d in doc_ids})
        if not ids:
            return {}
        from .reader import live_docs

        self._refresh_if_stale()
        rows = (
            live_docs(self.spark, self.index_dir, self._manifest)
            .filter(F.col("doc_id").isin(ids))
            .select("doc_id", "url")
            .collect()
        )
        return {r["doc_id"]: r["url"] for r in rows}

    def fetch_source(self, results: List[dict], source: DataFrame,
                     fields: Sequence[str],
                     url_col: str = "url") -> List[dict]:
        """ES fetch phase for an already-ranked hit list: enrich each
        ``{doc_id, score}`` with ``_source`` = {url, <fields>} from the
        caller's source table (the lake table the index was built from
        — this engine's ``_source`` store; reference consumes
        ``hit["_source"]``, elasticsearch_indexer.py:135-148).

        Two bounded steps, both k-sized: docID → url via
        :meth:`doc_urls`, then the url literals pushed into the source
        scan (predicate + column pruning — a top-10 fetch reads ~10 row
        groups of the 100-TB table, not the table)."""
        ids = [r["doc_id"] for r in results]
        id2url = self.doc_urls(ids)
        urls = sorted(set(id2url.values()))
        src_rows = {}
        if urls:
            for r in (
                source.filter(F.col(url_col).isin(urls))
                .select(url_col, *fields)
                .collect()
            ):
                src_rows[r[url_col]] = {f: r[f] for f in fields}
        out = []
        for r in results:
            url = id2url.get(r["doc_id"])
            src = {"url": url}
            src.update(src_rows.get(url, {f: None for f in fields}))
            out.append({**r, "_source": src})
        return out

    def fetch_plan(self, topk: DataFrame, source: DataFrame,
                   fields: Sequence[str],
                   url_col: str = "url") -> DataFrame:
        """Plan-shaped fetch (for composing into larger jobs): the tiny
        top-k side BROADCASTS into both joins — docID → url against the
        live docs view, then url → stored fields against the source
        table — so neither large table shuffles.  Interactive queries
        use :meth:`fetch_source` instead (ids pushed into the scan)."""
        from .reader import live_docs

        self._refresh_if_stale()
        d = live_docs(self.spark, self.index_dir, self._manifest).select(
            "doc_id", "url"
        )
        j = d.join(F.broadcast(topk), "doc_id")
        src = source.select(F.col(url_col).alias("url"), *fields)
        found = src.join(F.broadcast(j), "url")
        # hits whose url is missing from the caller's source table keep
        # their row with null stored fields — fetch_source's behavior
        # (an inner join would silently shrink the hit list when the
        # lake table lags the index)
        missed = j.join(src.select("url"), "url", "left_anti").select(
            "url", *[F.lit(None).cast(src.schema[f].dataType).alias(f)
                     for f in fields],
            *[c for c in j.columns if c != "url"],
        )
        return found.unionByName(missed)

    def search(self, query: str, k: int = 10, method: str = "bm25",
               source: Optional[DataFrame] = None,
               source_fields: Sequence[str] = (), **kwargs) -> dict:
        """:meth:`ranked` + the ES fetch phase: with ``source`` given,
        every hit gains ``_source`` = {url, <source_fields>} resolved
        through the bounded point-read fetch (:meth:`fetch_source`) —
        the full ES result shape the reference consumes
        (``hit["_source"]``, elasticsearch_indexer.py:135-148).  Works
        identically over both serving tiers (the fetch runs on the hit
        LIST, after ranking)."""
        res = self.ranked(query, k, method, **kwargs)
        if source is not None:
            res["results"] = self.fetch_source(
                res["results"], source, source_fields
            )
        return res

    # ------------------------------------------ match operator / msm (ES)
    def match_scored_plan(self, query: str, method: str = "bm25",
                          operator: str = "or",
                          minimum_should_match=None) -> Optional[DataFrame]:
        """ES ``match`` with ``operator=and`` / ``minimum_should_match``
        as a (doc_id, score) plan: the usual TAAT scoring plan
        (:meth:`score_plan`) with a matched-distinct-term count riding
        the SAME groupBy — the msm filter adds zero extra shuffles
        (posting rows are unique per (term, doc), so ``count(*)`` IS
        the distinct matched-term count).  None when no term is live;
        an empty plan when operator=and can never match."""
        terms = self._terms(query)
        if not terms:
            return None
        idf = self.term_idf(terms)  # refreshes, then fills _df_cache
        required = match_threshold(terms, self._df_cache, idf, operator,
                                   minimum_should_match)
        if required is None:
            return self._empty_scored_plan()
        rows = self._scored_postings_rows(terms, method)
        if rows is None:
            return None
        return (
            rows.groupBy("doc_id")
            .agg(F.sum("score").alias("score"),
                 F.count(F.lit(1)).alias("_nt"))
            .filter(F.col("_nt") >= F.lit(int(required)))
            .select("doc_id", "score")
        )

    def _turbo_match(self, query: str, k: int, method: str, operator: str,
                     minimum_should_match, want_total: bool) -> Optional[dict]:
        """Driver-side twin of :meth:`match_scored_plan` + top-k
        (result-identical; shares :meth:`_turbo_scored_rows`)."""
        if not self.turbo:
            return None
        import numpy as np

        terms = self._terms(query)
        if not terms:
            return empty_result(query, want_total)
        idf = self.term_idf(terms)  # refreshes, then fills _df_cache
        required = match_threshold(terms, self._df_cache, idf, operator,
                                   minimum_should_match)
        if required is None:
            return empty_result(query, want_total)
        got = self._turbo_scored_rows(terms, method)
        if got is None:
            return None
        _uniq, _codes, doc, s = got
        if doc.size == 0:
            return empty_result(query, want_total)
        docs_u, inv = np.unique(doc, return_inverse=True)
        scores = np.bincount(inv, weights=s)
        keep = np.bincount(inv) >= required
        docs_u, scores = docs_u[keep], scores[keep]
        return turbo_topk(docs_u, scores, k,
                          int(docs_u.size) if want_total else None, query)

    def match_search(self, query: str, k: int = 10, operator: str = "or",
                     minimum_should_match=None, method: str = "bm25",
                     with_total_hits: bool = True) -> dict:
        """ES ``match`` with ``operator`` / ``minimum_should_match`` in
        the reference result shape (``operator="or"`` with no msm is
        exactly :meth:`ranked`).  Two tiers like every query path."""
        res = self._turbo_match(
            query, k, method, operator, minimum_should_match, with_total_hits
        )
        if res is not None:
            return res
        plan = self.match_scored_plan(query, method, operator,
                                      minimum_should_match)
        if plan is None:
            return empty_result(query, with_total_hits)
        return self._collect_topk(plan, query, k, with_total_hits)

    # ------------------------------------------- match_bool_prefix (ES)
    def _bool_prefix_clauses(self, query: str, max_expansions: int,
                             operator: str, minimum_should_match):
        """``(full, exp, required)`` for ES ``match_bool_prefix``: the
        analyzed terms but the last are full-term clauses, the last
        term's first ``max_expansions`` dictionary continuations (index-
        term order) form ONE prefix clause, and ``required`` is the
        matched-CLAUSE threshold (:func:`match_threshold` over the full
        terms; operator=and also needs the prefix clause, so it never
        matches without expansions).  None when the query analyzes to
        nothing; ``required`` None ⇒ it can never match."""
        terms = self._terms(query)
        if not terms:
            return None
        full, pre = terms[:-1], terms[-1]
        exp = self.prefix_expand(pre, max_expansions, order="term")
        idf = self.term_idf(full)  # refreshes, then fills _df_cache
        required = match_threshold(full, self._df_cache, idf, operator,
                                   minimum_should_match)
        if operator == "and" and required is not None:
            required = required + 1 if exp else None
        return full, exp, required

    def match_bool_prefix_scored_plan(self, query: str,
                                      max_expansions: int = 50,
                                      method: str = "bm25",
                                      operator: str = "or",
                                      minimum_should_match=None
                                      ) -> Optional[DataFrame]:
        """ES ``match_bool_prefix`` as a (doc_id, score) plan: every
        analyzed term except the last is a normally-scored term clause
        (:meth:`_scored_postings_rows`); the LAST term is a
        CONSTANT-SCORE prefix clause (Lucene's PrefixQuery rewrite
        scores 1.0 inside the bool) matching any of its first
        ``max_expansions`` dictionary continuations in index-term
        order.  The two clause kinds union before ONE groupBy(doc_id)
        — the matched-clause count rides the same aggregate, so
        operator/minimum_should_match add zero extra shuffles.  None
        when nothing can match at all (ES: zero hits)."""
        clauses = self._bool_prefix_clauses(
            query, max_expansions, operator, minimum_should_match
        )
        if clauses is None:
            return None
        full, exp, required = clauses
        if required is None:
            return self._empty_scored_plan()
        parts = []
        if full:
            rows = self._scored_postings_rows(full, method)
            if rows is not None:
                parts.append(rows)
        if exp:
            parts.append(
                self._pruned_postings(sorted(set(exp)))
                .filter(F.col("doc_len") > 0)
                .select("doc_id")
                .distinct()
                .withColumn("score", F.lit(1.0))
            )
        if not parts:
            return None
        u = parts[0]
        for p in parts[1:]:
            u = u.unionByName(p)
        return (
            u.groupBy("doc_id")
            .agg(F.sum("score").alias("score"),
                 F.count(F.lit(1)).alias("_nt"))
            .filter(F.col("_nt") >= F.lit(int(required)))
            .select("doc_id", "score")
        )

    def _turbo_match_bool_prefix(self, query: str, k: int,
                                 max_expansions: int, method: str,
                                 operator: str, minimum_should_match,
                                 want_total: bool) -> Optional[dict]:
        """Driver-side twin of :meth:`match_bool_prefix_scored_plan` +
        top-k (result-identical; full-term clauses share
        :meth:`_turbo_scored_rows`, the prefix clause is a pruned
        point read)."""
        if not self.turbo:
            return None
        import numpy as np

        clauses = self._bool_prefix_clauses(
            query, max_expansions, operator, minimum_should_match
        )
        if clauses is None or clauses[2] is None:
            return empty_result(query, want_total)
        full, exp, required = clauses
        if full:
            got = self._turbo_scored_rows(full, method)
            if got is None:
                return None  # over budget: the distributed plan serves
            _uniq, _codes, doc, s = got
        else:
            doc = np.empty(0, dtype=np.int64)
            s = np.empty(0, dtype=np.float64)
        pdocs = np.empty(0, dtype=np.int64)
        if exp:
            uniq_exp = sorted(set(exp))
            self.term_idf(uniq_exp)  # populate the live df cache
            slices = self._turbo_slices(uniq_exp)
            if slices is None:
                return None
            pdocs = np.unique(
                np.concatenate([sl.sdoc for sl in slices.values()])
            )
        all_doc = np.concatenate([doc, pdocs])
        if all_doc.size == 0:
            return empty_result(query, want_total)
        all_s = np.concatenate([s, np.ones(pdocs.size, dtype=np.float64)])
        docs_u, inv = np.unique(all_doc, return_inverse=True)
        scores = np.bincount(inv, weights=all_s)
        keep = np.bincount(inv) >= required
        docs_u, scores = docs_u[keep], scores[keep]
        return turbo_topk(docs_u, scores, k,
                          int(docs_u.size) if want_total else None, query)

    def match_bool_prefix(self, query: str, k: int = 10,
                          max_expansions: int = 50, method: str = "bm25",
                          operator: str = "or", minimum_should_match=None,
                          with_total_hits: bool = True) -> dict:
        """ES ``match_bool_prefix`` in the reference result shape: the
        search-as-you-type bool query — full terms scored normally,
        trailing prefix as a constant-score clause (score 1.0 per the
        Lucene constant-score prefix rewrite).  Two tiers like every
        query path."""
        res = self._turbo_match_bool_prefix(
            query, k, max_expansions, method, operator,
            minimum_should_match, with_total_hits,
        )
        if res is not None:
            return res
        plan = self.match_bool_prefix_scored_plan(
            query, max_expansions, method, operator, minimum_should_match
        )
        if plan is None:
            return empty_result(query, with_total_hits)
        return self._collect_topk(plan, query, k, with_total_hits)

    def explain(self, query: str, doc_id: int,
                method: str = "bm25") -> dict:
        """ES ``explain`` API: per-term score breakdown for one (query,
        doc) pair — ``{query, doc_id, total, matched, terms: [{term,
        multiplicity, df, idf, tf, doc_len, contribution}]}``.  The
        total is EXACTLY the score :meth:`ranked` gives this doc (same
        per-row impact and weight, same summation order).

        Served driver-side from the live df sources + the hot-term
        postings cache (zero Spark jobs).  A head-term explain reads
        that term's postings once and caches them; the doc-range block
        layout would allow a single-range pruned read if explain ever
        became a hot path."""
        import numpy as np
        from collections import Counter

        self._refresh_if_stale()
        doc_id = int(doc_id)
        out = {
            "query": query, "doc_id": doc_id, "method": method,
            "total": 0.0, "matched": False, "terms": [],
        }
        terms = self._terms(query)
        if not terms:
            return out
        idf_map = self.term_idf(terms)
        counts = Counter(terms)
        uniq = sorted(counts)
        for t, sl in zip(uniq, self._term_slices(uniq, method)):
            idf_v = float(idf_map.get(t, 0.0))
            detail = {
                "term": t,
                "multiplicity": int(counts[t]),
                "df": int(self._df_cache.get(t, 0)),
                "idf": idf_v,
                "tf": 0,
                "doc_len": None,
                "contribution": 0.0,
            }
            idx = np.nonzero(sl.doc == doc_id)[0]
            if idx.size:
                detail["tf"] = int(sl.tf[idx[0]])
                detail["doc_len"] = int(sl.dl[idx[0]])
            # reference semantics: idf==0 terms and empty docs
            # contribute nothing (score_plan filters both)
            idx = np.nonzero(sl.sdoc == doc_id)[0]
            if idf_v != 0.0 and idx.size:
                detail["contribution"] = float(
                    idf_v * float(counts[t]) * sl.impact[method][idx[0]]
                )
                out["total"] += detail["contribution"]
                out["matched"] = True
            out["terms"].append(detail)
        return out

    def scan(self, query: str, page_size: int = 100, method: str = "bm25",
             terms: Optional[List[str]] = None):
        """ES scroll / point-in-time analogue: iterate the ENTIRE hit
        set in (score desc, doc_id asc) order as ``{doc_id, score}``
        dicts, fetched in ``page_size`` pages via :meth:`search_after
        <ranked>` keyset cursors — every page is one bounded top-k job
        (never an OFFSET scan-and-discard), so deep iteration costs
        O(pages · top-k), not O(n²).  Unlike ES scroll there is no
        server-side context to expire; the cursor is the last row's
        exact sort key."""
        cursor = None
        while True:
            res = self.ranked(
                query, k=page_size, method=method, with_total_hits=False,
                terms=terms, search_after=cursor,
            )
            rows = res["results"]
            if not rows:
                return
            yield from rows
            if len(rows) < page_size:
                return
            cursor = (rows[-1]["score"], rows[-1]["doc_id"])

    def topk_df(self, query: str, k: int = 10, method: str = "bm25") -> DataFrame:
        """Top-k as a DataFrame (for the driver correctness harness)."""
        plan = self.score_plan(query, method)
        if plan is None:
            return self._docs.select(
                F.col("doc_id"), F.lit(0.0).alias("score")
            ).limit(0)
        return plan.orderBy(F.col("score").desc(), F.col("doc_id").asc()).limit(k)

    # -------------------------------------------------------------- phrase
    def _positional_term_postings(self, term: str) -> DataFrame:
        """``(doc_id, positions)`` for one term, served from the
        COMPRESSED block layout: bucket-partition-pruned + term-predicate
        scan of the blocks table, then an Arrow-batched kernel decodes
        the delta-VByte doc/tf/position streams (positions split
        per-posting by the tf counts).  Falls back to the uncompressed
        positional postings for indexes built before pos_blob existed."""
        blocks = self._blocks()
        if blocks is None or "pos_blob" not in blocks.columns:
            return (
                self._pruned_postings([term])
                .filter(F.col("term") == term)
                .select("doc_id", "positions")
            )
        codec_name = self.stats["config"].get("codec", "vbyte")
        bucket = term_bucket(term, self.n_buckets)
        pruned = blocks.filter(
            (F.col("bucket") == bucket) & (F.col("term") == term)
        ).select("doc_blob", "tf_blob", "len_blob", "pos_blob")

        def decode(batches):
            import numpy as np
            import pandas as pd

            from ..functions import codec as C

            for pdf in batches:
                doc_ids: list = []
                pos_lists: list = []
                for r in pdf.itertuples(index=False):
                    d, t, _l = C.decode_block(
                        r.doc_blob, r.tf_blob, r.len_blob, codec_name
                    )
                    flat = C.decode_positions(r.pos_blob, t, codec_name)
                    doc_ids.extend(d.tolist())
                    pos_lists.extend(
                        a.astype(np.int32) for a in np.split(flat, np.cumsum(t)[:-1])
                    )
                yield pd.DataFrame({"doc_id": doc_ids, "positions": pos_lists})

        decoded = pruned.mapInPandas(decode, schema="doc_id long, positions array<int>")
        from .reader import filter_tombstones

        return filter_tombstones(decoded, self._tombstones)

    def _blocks(self) -> Optional[DataFrame]:
        """Live blocks view (base ∪ delta segments).  Returns None when
        any source lacks pos_blob (pre-position-codec index) so phrase
        falls back to the uncompressed positional postings."""
        if not hasattr(self, "_blocks_df"):
            from .reader import live_blocks

            sources = [
                df for df, _scale in live_blocks(
                    self.spark, self.index_dir, self._manifest, self.stats
                )
            ]
            if any("pos_blob" not in s.columns for s in sources):
                self._blocks_df = None
            else:
                merged = sources[0]
                for s in sources[1:]:
                    merged = merged.unionByName(s)
                self._blocks_df = merged
        return self._blocks_df

    def phrase_plan(self, phrase: str, slop: int = 0,
                    slop_mode: str = "ordered") -> DataFrame:
        """Exact-phrase match plan ``(doc_id, n_occurrences,
        start_positions)`` over the positional index (requires the index
        to be built with ``IndexConfig(positional=True)``).  Adjacency is
        over processed-token positions (operators/phrase.py).  With
        ``slop`` the match is the sloppy phrase in one of two modes:

        * ``slop_mode="ordered"`` (default) — in-order matches only
          (operators/phrase.py ``sloppy_starts``), the engine's
          historical semantics;
        * ``slop_mode="moves"`` — Lucene/ES ``match_phrase`` move-based
          slop (``movable_starts``): a transposed bigram matches at
          slop 2; identical to ordered at slop ≤ 1.

        Served by the doc-range POSITIONAL KERNEL over the compressed
        blocks (one bounded shuffle of the phrase terms' block runs,
        shifted-position intersection in numpy) — a k-term phrase used
        to cost k−1 distributed joins.  Falls back to the join cascade
        (:meth:`phrase_plan_join`) for pre-position-codec indexes
        (ordered mode only — move-based slop needs the block layout)."""
        self._refresh_if_stale()
        terms = self._phrase_terms_checked(phrase)
        if not terms:
            return self._empty_phrase_plan()
        blocks = self._blocks()
        if blocks is None:
            if slop and slop_mode == "moves":
                raise ValueError(
                    "move-based slop requires the positional block layout"
                )
            return self.phrase_plan_join(phrase, slop)
        from .phrase import phrase_match_kernel

        buckets = sorted({term_bucket(t, self.n_buckets) for t in set(terms)})
        pruned = blocks.filter(
            F.col("bucket").isin(buckets) & F.col("term").isin(sorted(set(terms)))
        ).select("term", "range_id", "doc_blob", "tf_blob", "len_blob", "pos_blob")
        return phrase_match_kernel(
            pruned, terms, self.stats["config"].get("codec", "vbyte"),
            self._tombstones, slop, slop_mode,
        )

    def phrase_plan_join(self, phrase: str, slop: int = 0) -> DataFrame:
        """The join-cascade phrase plan (k−1 doc_id-equi joins over
        per-term positional postings) — kept as the semantics oracle for
        the kernel (identity pytest-enforced) and as the fallback for
        indexes whose blocks predate the position codec."""
        from .phrase import phrase_match

        self._refresh_if_stale()
        terms = self._phrase_terms_checked(phrase)
        if not terms:
            return self._empty_phrase_plan()
        return phrase_match(self._positional_term_postings, terms, slop)

    def _phrase_terms_checked(self, phrase: str) -> List[str]:
        if not self.stats["config"].get("positional"):
            raise ValueError("index was not built with positional=True")
        return self._terms(phrase)

    def _empty_phrase_plan(self) -> DataFrame:
        return self._docs.select(
            "doc_id",
            F.lit(0).cast("long").alias("n_occurrences"),
            F.array().cast("array<int>").alias("start_positions"),
        ).limit(0)

    def _turbo_phrase(self, slots: List[List[str]], k: int,
                      slop: int = 0,
                      slop_mode: str = "ordered") -> Optional[dict]:
        """Driver-side phrase evaluation for small slices: pyarrow
        pruned read of the slots' block runs, decode doc/tf/position
        streams in numpy, shifted-position intersection per candidate
        doc (identical adjacency semantics to operators/phrase.py).
        Each slot is a set of alternative terms (singletons for a plain
        phrase; the last slot carries the expansions for
        match_phrase_prefix) — a slot's per-doc positions are the union
        over its live alternatives."""
        if not self.turbo:
            return None
        all_terms = sorted({t for s in slots for t in s})
        self.term_idf(all_terms)  # populate live df cache
        live_slots = [
            [t for t in s if self._df_cache.get(t, 0) > 0] for s in slots
        ]
        if any(not s for s in live_slots):
            return empty_result(None)
        uniq = sorted({t for s in live_slots for t in s})
        if not self._turbo_admits(uniq):
            return None
        try:
            import numpy as np
            import pyarrow.dataset as pads

            from ..functions import codec as C
            from .reader import delta_segments

            codec_name = self.stats["config"].get("codec", "vbyte")
            buckets = sorted({term_bucket(t, self.n_buckets) for t in uniq})
            paths = [os.path.join(self.index_dir, "blocks")] + [
                os.path.join(self.index_dir, "segments", s, "blocks")
                for s in delta_segments(self._manifest)
            ]
            cols = ["term", "doc_blob", "tf_blob", "len_blob", "pos_blob"]
            per_term: Dict[str, Dict[int, "np.ndarray"]] = {t: {} for t in uniq}
            tombs = set(self._tombstones)
            for p in paths:
                ds = pads.dataset(p, partitioning="hive")
                expr = pads.field("bucket").isin(buckets) & pads.field("term").isin(
                    uniq
                )
                tbl = ds.to_table(columns=cols, filter=expr)
                for i in range(tbl.num_rows):
                    t = tbl.column("term")[i].as_py()
                    pos_blob = tbl.column("pos_blob")[i].as_py()
                    if pos_blob is None:
                        return None  # pre-position-codec blocks: use plan
                    d, tf, _l = C.decode_block(
                        tbl.column("doc_blob")[i].as_py(),
                        tbl.column("tf_blob")[i].as_py(),
                        tbl.column("len_blob")[i].as_py(),
                        codec_name,
                    )
                    flat = C.decode_positions(pos_blob, tf, codec_name)
                    splits = np.split(flat, np.cumsum(tf)[:-1])
                    for doc, pos in zip(d.tolist(), splits):
                        if doc not in tombs:
                            per_term[t][doc] = pos
        except Exception:
            return None

        slot_maps = []
        for alts in live_slots:
            if len(alts) == 1:
                slot_maps.append(per_term.get(alts[0], {}))
            else:
                m: Dict[int, "np.ndarray"] = {}
                for t in alts:
                    for doc, pos in per_term.get(t, {}).items():
                        prev = m.get(doc)
                        m[doc] = pos if prev is None else np.union1d(prev, pos)
                slot_maps.append(m)
        cand = set(slot_maps[0])
        for m in slot_maps[1:]:
            cand &= m.keys()
        results = []
        from .phrase import _starts_fn

        starts_fn = _starts_fn(slop, slop_mode)
        sloppy = bool(slop) or slop_mode == "unordered"
        for doc in cand:
            if sloppy:
                p = starts_fn([m[doc] for m in slot_maps], slop)
            else:
                p = slot_maps[0][doc]
                for i, m in enumerate(slot_maps[1:], start=1):
                    p = np.intersect1d(p, m[doc] - i)
                    if p.size == 0:
                        break
            if p.size:
                results.append((doc, int(p.size), np.sort(p).tolist()))
        results.sort(key=lambda r: (-r[1], r[0]))
        return {
            "query": None,
            "total_hits": len(results),
            "results": [
                {"doc_id": int(d), "score": float(n)} for d, n, _p in results[:k]
            ],
        }

    def phrase(self, phrase: str, k: int = 10, slop: int = 0,
               slop_mode: str = "ordered") -> dict:
        """Reference result shape; phrase hits ranked by occurrence
        count then doc_id (no BM25 — the grammar's PHRASE op is set-
        valued, README.md:39-48).  ``slop`` gives the sloppy phrase:
        ``slop_mode="ordered"`` (in-order, the default) or ``"moves"``
        (Lucene/ES transposition-aware — see :meth:`phrase_plan`).
        Small slices are served by the driver-side turbo path (zero
        Spark jobs)."""
        self._refresh_if_stale()
        if self.stats["config"].get("positional"):
            terms = self._terms(phrase)
            if terms:
                res = self._turbo_phrase([[t] for t in terms], k, slop,
                                         slop_mode)
                if res is not None:
                    res["query"] = phrase
                    return res
        plan = self.phrase_plan(phrase, slop, slop_mode)
        return self._collect_topk(self._occurrence_scored(plan), phrase, k, True)

    @staticmethod
    def _occurrence_scored(plan: DataFrame) -> DataFrame:
        """A match-shaped (doc_id, n_occurrences, …) plan as (doc_id,
        score): phrase-shaped hits rank by occurrence count."""
        return plan.select(
            "doc_id", F.col("n_occurrences").cast("double").alias("score")
        )

    def phrase_scored_plan(self, phrase: str, slop: int = 0,
                           slop_mode: str = "ordered",
                           method: str = "bm25") -> DataFrame:
        """ES-scored ``match_phrase``: Lucene treats the phrase as one
        pseudo-term whose idf is the SUM of the member terms' idfs (one
        contribution per phrase POSITION, so a repeated term counts
        each time) and whose tf is the per-doc phrase frequency
        (``n_occurrences``); the usual BM25/TF-IDF saturation applies
        on top.  Returns (doc_id, n_occurrences, score) — the scoring
        twin of :meth:`phrase_plan` (same match set).

        Plan shape: the doc-range phrase kernel (bounded shuffle of the
        phrase terms' block runs) → broadcast-sized join to the live
        docs table for doc_len — match sets are hit-set-sized, never
        corpus-sized."""
        self._refresh_if_stale()
        terms = self._phrase_terms_checked(phrase)
        base = self.phrase_plan(phrase, slop, slop_mode)
        idf_map = self.term_idf(sorted(set(terms)))
        sum_idf = float(sum(idf_map.get(t, 0.0) for t in terms))
        return self._pseudo_term_scored(base, sum_idf, method)

    def _pseudo_term_scored(self, base: DataFrame, sum_idf: float,
                            method: str) -> DataFrame:
        """Score a (doc_id, n_occurrences, …) match plan as ONE Lucene
        pseudo-term: idf ``sum_idf``, tf = n_occurrences, the doc's
        norm from a hit-set-sized join to the live docs table."""
        dl = self._docs.select("doc_id", "doc_len")
        j = base.join(dl, "doc_id").filter(F.col("doc_len") > 0)
        score = F.lit(sum_idf) * impact_col(
            method, F.col("n_occurrences").cast("double"), F.col("doc_len"),
            self.avg_doc_len, self.k1, self.b,
        )
        return j.select("doc_id", "n_occurrences", score.alias("score"))

    def _mpp_slots(self, phrase: str,
                   max_expansions: int) -> Optional[List[List[str]]]:
        """Slots for ES ``match_phrase_prefix``: analyzed phrase terms
        as singleton slots, the LAST analyzed token replaced by its
        live-dictionary prefix expansions — capped in INDEX-TERM order
        (term asc), exactly ES's behavior of taking the first
        ``max_expansions`` continuations in term order (an indexed term
        equal to the prefix is included — startswith covers equality).
        None when the phrase analyzes to nothing or the prefix expands
        to nothing (zero hits)."""
        terms = self._phrase_terms_checked(phrase)
        if not terms:
            return None
        exp = self.prefix_expand(terms[-1], max_expansions, order="term")
        if not exp:
            return None
        return [[t] for t in terms[:-1]] + [sorted(exp)]

    # -------------------------------------------------- span_near (Lucene)
    def span_near_plan(self, terms: Sequence[str], slop: int = 0,
                       in_order: bool = False) -> DataFrame:
        """Lucene/ES ``span_near`` over ``span_term`` clauses as a
        ``(doc_id, n_occurrences, start_positions)`` plan.  ``terms``
        are INDEX terms, used verbatim (ES ``span_term`` is a term-level
        query — no analysis), one clause per list element.

        * ``in_order=True``: positions strictly increase in clause
          order with total gap ≤ slop — exactly the ordered
          sloppy-phrase spec (:func:`~.phrase.sloppy_starts`; a phrase
          IS an in-order span_near of its terms), so it reuses that
          kernel verbatim.
        * ``in_order=False`` (the Lucene default): one DISTINCT
          position per clause, any order, span ≤ (k−1)+slop
          (:func:`~.phrase.unordered_starts`) — this differs from
          adjacency even at slop=0, the genuinely new surface.

        Same doc-range kernel shape as every positional query: prune
        the clauses' block runs, ONE bounded shuffle, per-range numpy
        matching; no cross-range state (a match spans one doc)."""
        self._refresh_if_stale()
        if not self.stats["config"].get("positional"):
            raise ValueError("index was not built with positional=True")
        terms = [str(t) for t in terms]
        if not terms:
            return self._empty_phrase_plan()
        blocks = self._blocks()
        if blocks is None:
            raise ValueError("span_near requires the positional block layout")
        from .phrase import phrase_match_kernel

        mode = "ordered" if in_order else "unordered"
        buckets = sorted({term_bucket(t, self.n_buckets) for t in set(terms)})
        pruned = blocks.filter(
            F.col("bucket").isin(buckets)
            & F.col("term").isin(sorted(set(terms)))
        ).select("term", "range_id", "doc_blob", "tf_blob", "len_blob",
                 "pos_blob")
        return phrase_match_kernel(
            pruned, terms, self.stats["config"].get("codec", "vbyte"),
            self._tombstones, slop, mode,
        )

    def span_near(self, terms: Sequence[str], k: int = 10, slop: int = 0,
                  in_order: bool = False) -> dict:
        """``span_near`` in the reference result shape, ranked by
        occurrence count then doc_id (span queries are match-shaped
        like :meth:`phrase`; n_occurrences counts distinct match START
        positions).  Small slices serve from the driver turbo kernel
        (shared with phrase), the plan otherwise.

        Unordered matching gives every clause a DISTINCT position
        (:func:`~.phrase.unordered_starts`); Lucene's sub-spans may
        overlap, so a repeated clause such as ``["a", "a"]`` matches a
        single ``a`` in Lucene but needs two occurrences here."""
        self._refresh_if_stale()
        terms = [str(t) for t in terms]
        query_label = " ".join(terms)
        if not terms:
            return empty_result(query_label)
        mode = "ordered" if in_order else "unordered"
        if self.stats["config"].get("positional"):
            res = self._turbo_phrase([[t] for t in terms], k, slop, mode)
            if res is not None:
                res["query"] = query_label
                return res
        plan = self.span_near_plan(terms, slop, in_order)
        return self._collect_topk(self._occurrence_scored(plan), query_label,
                                  k, True)

    def match_phrase_prefix_plan(self, phrase: str,
                                 max_expansions: int = 50) -> DataFrame:
        """ES ``match_phrase_prefix`` plan ``(doc_id, n_occurrences,
        start_positions)``: the phrase must match with the last
        position holding ANY expansion of the last token's prefix.
        Served by the slots kernel (one bounded shuffle of all slot
        terms' block runs — the k−1-join cascade would pay the shared
        prefix terms once PER expansion); join-cascade fallback for
        pre-position-codec indexes."""
        self._refresh_if_stale()
        slots = self._mpp_slots(phrase, max_expansions)
        if slots is None:
            return self._empty_phrase_plan()
        blocks = self._blocks()
        all_terms = sorted({t for s in slots for t in s})
        if blocks is None:
            from .phrase import phrase_match_slots

            return phrase_match_slots(self._positional_term_postings, slots)
        from .phrase import phrase_slots_kernel

        buckets = sorted({term_bucket(t, self.n_buckets) for t in all_terms})
        pruned = blocks.filter(
            F.col("bucket").isin(buckets) & F.col("term").isin(all_terms)
        ).select("term", "range_id", "doc_blob", "tf_blob", "len_blob", "pos_blob")
        return phrase_slots_kernel(
            pruned, slots, self.stats["config"].get("codec", "vbyte"),
            self._tombstones,
        )

    def match_phrase_prefix(self, phrase: str, k: int = 10,
                            max_expansions: int = 50) -> dict:
        """ES ``match_phrase_prefix`` in the reference result shape,
        ranked by occurrence count then doc_id (phrase ops are
        set-valued, like :meth:`phrase`).  Small slices are served by
        the driver-side turbo kernel; the count rides the top-k job via
        Observation otherwise."""
        self._refresh_if_stale()
        if self.stats["config"].get("positional"):
            slots = self._mpp_slots(phrase, max_expansions)
            if slots is None:
                return empty_result(phrase)
            res = self._turbo_phrase(slots, k)
            if res is not None:
                res["query"] = phrase
                return res
        plan = self.match_phrase_prefix_plan(phrase, max_expansions)
        return self._collect_topk(self._occurrence_scored(plan), phrase, k, True)

    def match_phrase_prefix_scored_plan(self, phrase: str,
                                        max_expansions: int = 50,
                                        method: str = "bm25"
                                        ) -> Optional[DataFrame]:
        """SCORED ES ``match_phrase_prefix`` — the scoring twin of
        :meth:`match_phrase_prefix_plan`, Lucene MultiPhraseQuery
        style: pseudo-term idf = SUM of idf over ALL terms in ALL
        positions (each prefix expansion of the last token contributes,
        one per phrase position for repeats), tf = the per-doc count of
        matching start positions, BM25/TF-IDF saturation on top.
        Returns (doc_id, n_occurrences, score); None when the phrase
        analyzes to nothing or the prefix expands to nothing (ES: zero
        hits).  Shares the slots kernel's single bounded shuffle; the
        doc_len join is hit-set-sized."""
        self._refresh_if_stale()
        slots = self._mpp_slots(phrase, max_expansions)
        if slots is None:
            return None
        base = self.match_phrase_prefix_plan(phrase, max_expansions)
        all_terms = [t for s in slots for t in s]
        idf_map = self.term_idf(sorted(set(all_terms)))
        sum_idf = float(sum(idf_map.get(t, 0.0) for t in all_terms))
        return self._pseudo_term_scored(base, sum_idf, method)

    # ------------------------------------------------------------- boolean
    def boolean_plan(self, query: str) -> DataFrame:
        """RPN -> DataFrame set-algebra plan over doc_ids (Q1-Q4)."""
        from .boolean import evaluate_rpn_df

        self._refresh_if_stale()

        rpn = to_rpn(
            preprocess_boolean_query(query, stem_tokens=not self.pretokenized)
        )
        return evaluate_rpn_df(
            rpn,
            lambda t: self._pruned_postings([t]).select("doc_id").distinct(),
            self._docs.select("doc_id"),
        )

    def boolean(self, query: str) -> List[int]:
        """EXHAUSTIVE result set collected to the driver — oracle-parity
        testing only.  Production callers (router, bench) use
        :meth:`boolean_topk`: `boolean_or` / `NOT rare_term` results are
        corpus-sized, an unbounded collect at 10^12 docs."""
        return sorted(r["doc_id"] for r in self.boolean_plan(query).collect())

    def _turbo_boolean(self, query: str, k: int) -> Optional[dict]:
        """Driver-side boolean evaluation for small slices: per-term
        doc-id sets from a pyarrow pruned postings read, Python set
        algebra mirroring ``evaluate_rpn_df`` exactly (NOT pops one
        operand and subtracts from the doc universe, missing operands
        are the empty set).  Declines (None) when Σ df — plus the doc
        universe, if NOT is present — exceeds the cutover."""
        if not self.turbo:
            return None
        rpn = to_rpn(
            preprocess_boolean_query(query, stem_tokens=not self.pretokenized)
        )
        terms = sorted({t for t in rpn if t not in ("AND", "OR", "NOT")})
        self.term_idf(terms)  # populate the df cache (live, signed)
        needs_universe = "NOT" in rpn
        slices = self._turbo_slices(
            terms, extra=self.doc_count if needs_universe else 0
        )
        if slices is None:
            return None
        import numpy as np

        empty = np.empty(0, dtype=np.int64)
        # sorted-unique doc-id array per term: postings rows are unique
        # per (term, doc)
        term_arrays = {t: np.sort(sl.doc) for t, sl in slices.items()}
        universe = empty
        if needs_universe:
            try:
                universe = self._doc_universe()
            except Exception:
                return None

        # numpy set algebra over sorted-unique arrays, mirroring
        # evaluate_rpn_df (NOT pops one operand; missing operand = empty)
        stack: list = []

        def pop() -> "np.ndarray":
            return stack.pop() if stack else empty

        for tok in rpn:
            if tok == "AND":
                b_a, a_a = pop(), pop()
                stack.append(np.intersect1d(a_a, b_a, assume_unique=True))
            elif tok == "OR":
                b_a, a_a = pop(), pop()
                stack.append(np.union1d(a_a, b_a))
            elif tok == "NOT":
                a_a = pop()
                stack.append(np.setdiff1d(universe, a_a, assume_unique=True))
            else:
                stack.append(term_arrays.get(tok, empty))
        ids = stack[0] if stack else empty  # already sorted ascending
        return {
            "query": query,
            "total_hits": int(ids.size),
            "results": [{"doc_id": int(d), "score": 1.0} for d in ids[:k]],
        }

    def _doc_universe(self):
        """Sorted live doc-id array (NOT's complement universe) — read
        once per index generation via pyarrow and cached (invalidated in
        _load with the other caches; ~8 B/doc driver RAM, the same
        doc-id dictionary the reference holds in RAM)."""
        if getattr(self, "_universe_cache", None) is not None:
            return self._universe_cache
        import numpy as np
        import pyarrow.dataset as pads

        from .reader import delta_segments

        paths = [os.path.join(self.index_dir, "docs")] + [
            os.path.join(self.index_dir, "segments", s, "docs")
            for s in delta_segments(self._manifest)
        ]
        parts = []
        for p in paths:
            tbl = pads.dataset(p).to_table(columns=["doc_id"])
            parts.append(tbl.column("doc_id").to_numpy(zero_copy_only=False))
        universe = np.unique(np.concatenate(parts).astype(np.int64))
        if self._tombstones:
            universe = np.setdiff1d(
                universe,
                np.asarray(self._tombstones, dtype=np.int64),
                assume_unique=True,
            )
        self._universe_cache = universe
        return universe

    def _turbo_doc_lens(self):
        """Sorted live ``(doc_id, doc_len)`` arrays — the driver-side
        norms table (Lucene keeps exactly this per-field array in RAM).
        Read once per index generation via pyarrow across base + delta
        docs tables, tombstone-filtered, cached with the other turbo
        caches (recreated in ``_load``; ~16 B/doc driver RAM).  Used by
        tiers that need a doc's length WITHOUT a posting hit in this
        field (``combined_fields``: the combined norm sums every queried
        field's length even where the term matched elsewhere)."""
        self._refresh_if_stale()
        if getattr(self, "_doc_len_cache", None) is not None:
            return self._doc_len_cache
        import numpy as np
        import pyarrow.dataset as pads

        from .reader import delta_segments

        paths = [os.path.join(self.index_dir, "docs")] + [
            os.path.join(self.index_dir, "segments", s, "docs")
            for s in delta_segments(self._manifest)
        ]
        ids_parts, len_parts = [], []
        for p in paths:
            tbl = pads.dataset(p).to_table(columns=["doc_id", "doc_len"])
            ids_parts.append(
                tbl.column("doc_id").to_numpy(zero_copy_only=False)
            )
            len_parts.append(
                tbl.column("doc_len").to_numpy(zero_copy_only=False)
            )
        ids = np.concatenate(ids_parts).astype(np.int64)
        lens = np.concatenate(len_parts).astype(np.int64)
        order = np.argsort(ids, kind="stable")
        ids, lens = ids[order], lens[order]
        if self._tombstones:
            keep = ~np.isin(
                ids, np.asarray(sorted(self._tombstones), dtype=np.int64)
            )
            ids, lens = ids[keep], lens[keep]
        self._doc_len_cache = (ids, lens)
        return self._doc_len_cache

    def boolean_topk(self, query: str, k: int = 10) -> dict:
        """Bounded boolean query: ONE job computes the exact hit count
        (an ``Observation`` on the set plan — TakeOrdered consumes every
        child row, so the count is total) and collects only the k
        smallest doc_ids.  Nothing corpus-sized reaches the driver.
        Matches the reference's truncate-to-k result shape
        (``selfindex_i0_no_optimization.py:187-203``).  Small slices are
        served by the driver-side turbo path (zero Spark jobs)."""
        res = self._turbo_boolean(query, k)
        if res is not None:
            return res
        # unranked: every hit scores 1.0, so the shared (score desc,
        # doc_id asc) order is doc_id order
        plan = self.boolean_plan(query).select(
            "doc_id", F.lit(1.0).alias("score")
        )
        return self._collect_topk(plan, query, k, True)

    # --------------------------------------------------------------- batch
    def _turbo_batch(self, queries: Sequence[str], k: int,
                     method: str) -> Optional[Dict[str, list]]:
        """Driver-side batch scoring: ONE pyarrow pruned read over the
        union of all queries' terms, per-term (doc, impact) slices from
        the hot-term cache, then per-query weighted accumulation in
        numpy (:meth:`_turbo_accum`).
        Declines (None) above the cutover on Σ df over all live terms."""
        if not self.turbo:
            return None
        import numpy as np
        from collections import Counter

        per_query = {q: Counter(self._terms(q)) for q in queries}
        all_terms = sorted({t for c in per_query.values() for t in c})
        idf_map = self.term_idf(all_terms)
        live = sorted(t for t in all_terms if idf_map.get(t, 0.0) != 0.0)
        out: Dict[str, list] = {q: [] for q in queries}
        if not live:
            return out
        slices = self._turbo_slices(live, method)
        if slices is None:
            return None
        for q in queries:
            acc = self._turbo_accum(per_query[q], idf_map, slices, method)
            if acc is not None:
                out[q] = turbo_topk(*acc, k, None)["results"]
        return out

    def batch_ranked(self, queries: Sequence[str], k: int = 10,
                     method: str = "bm25") -> Dict[str, list]:
        """Score MANY free-text queries in one Spark job — the query-
        throughput path.  Driver tokenizes all queries, broadcasts one
        (query_id, term, weight=idf*multiplicity) table, joins it to the
        pruned postings scan, aggregates per (query, doc), and takes
        top-k per query with a window.  Shuffle volume is bounded by
        candidate postings, independent of query count.

        Returns {query: [{doc_id, score}, ...]} (ranked, reference
        tie-break).  Queries with no indexed terms map to [].

        Small total slices are served by the driver-side turbo batch
        (one pruned read, per-query numpy accumulation — zero Spark
        jobs); above the cutover the broadcast-join plan below runs.
        """
        res = self._turbo_batch(queries, k, method)
        if res is not None:
            return res
        from collections import Counter

        per_query_terms = {q: Counter(self._terms(q)) for q in queries}
        all_terms = sorted({t for c in per_query_terms.values() for t in c})
        idf_map = self.term_idf(all_terms)

        weight_rows = []
        for qid, q in enumerate(queries):
            for t, mult in per_query_terms[q].items():
                idf_v = idf_map.get(t, 0.0)
                if idf_v != 0.0:
                    weight_rows.append((qid, t, float(idf_v), float(mult)))
        out: Dict[str, list] = {q: [] for q in queries}
        if not weight_rows:
            return out

        weights = F.broadcast(
            self.spark.createDataFrame(
                weight_rows, "qid int, term string, idf double, mult double"
            )
        )
        live_terms = sorted({r[1] for r in weight_rows})
        p = self._pruned_postings(live_terms).filter(F.col("doc_len") > 0)
        base_score = F.col("idf") * impact_col(
            method, F.col("tf"), F.col("doc_len"), self.avg_doc_len,
            self.k1, self.b,
        )
        scored = (
            p.join(weights, "term")
            .withColumn("s", base_score * F.col("mult"))
            .groupBy("qid", "doc_id")
            .agg(F.sum("s").alias("score"))
        )
        from pyspark.sql import Window

        w = Window.partitionBy("qid").orderBy(F.col("score").desc(), F.col("doc_id"))
        top = (
            scored.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") <= k)
            .orderBy("qid", "rn")
            .collect()
        )
        for r in top:
            out[queries[r["qid"]]].append({"doc_id": r["doc_id"], "score": r["score"]})
        return out

    # ------------------------------------- term-level expansion queries
    def prefix_expand(self, prefix: str,
                      max_expansions: int = 50,
                      order: str = "df") -> List[str]:
        """Indexed terms starting with ``prefix`` — live df > 0, ordered
        (df desc, term asc), capped at ``max_expansions`` (ES prefix
        expansion; see operators/expand.py for semantics + scale notes).
        ``order="term"`` caps in index-term order instead (the ES
        match_phrase_prefix behavior).  Term-level: ``prefix`` is NOT
        analyzed (ES behavior)."""
        from . import expand as X

        self._refresh_if_stale()
        return X.prefix_terms(
            self.spark, self.index_dir, self._manifest, prefix,
            max_expansions, order=order,
        )

    def fuzzy_expand(self, term: str, max_edits: int = 1,
                     prefix_length: int = 1,
                     max_expansions: int = 50) -> List[str]:
        """Indexed terms within ``max_edits`` levenshtein of ``term``
        sharing its first ``prefix_length`` chars (ES fuzzy)."""
        from . import expand as X

        self._refresh_if_stale()
        return X.fuzzy_terms(
            self.spark, self.index_dir, self._manifest, term,
            max_edits, prefix_length, max_expansions,
        )

    def prefix_ranked(self, prefix: str, k: int = 10, method: str = "bm25",
                      max_expansions: int = 50,
                      with_total_hits: bool = True) -> dict:
        """ES ``prefix`` query with ``rewrite: scoring_boolean``: expand
        against the live dictionary, then score the expanded terms as a
        multi-term OR (each with its own idf) — both serving tiers of
        :meth:`ranked` apply unchanged."""
        terms = self.prefix_expand(prefix, max_expansions)
        label = f"{prefix}*"
        if not terms:
            return empty_result(label, with_total_hits)
        return self.ranked(label, k, method, with_total_hits, terms=terms)

    def fuzzy_ranked(self, term: str, k: int = 10, max_edits: int = 1,
                     prefix_length: int = 1, method: str = "bm25",
                     max_expansions: int = 50,
                     with_total_hits: bool = True) -> dict:
        """ES ``fuzzy`` query, scoring_boolean rewrite (see
        :meth:`prefix_ranked`)."""
        terms = self.fuzzy_expand(term, max_edits, prefix_length, max_expansions)
        label = f"{term}~{max_edits}"
        if not terms:
            return empty_result(label, with_total_hits)
        return self.ranked(label, k, method, with_total_hits, terms=terms)

    def wildcard_expand(self, pattern: str,
                        max_expansions: int = 50) -> List[str]:
        """Indexed terms matching the ES ``wildcard`` pattern (``*`` any
        sequence, ``?`` one char) — live df > 0, (df desc, term asc),
        capped.  The literal prefix before the first wildcard prunes
        the dictionary scan; term-level, NOT analyzed (ES behavior)."""
        from . import expand as X

        self._refresh_if_stale()
        return X.wildcard_terms(
            self.spark, self.index_dir, self._manifest, pattern, max_expansions
        )

    def wildcard_ranked(self, pattern: str, k: int = 10,
                        method: str = "bm25", max_expansions: int = 50,
                        with_total_hits: bool = True) -> dict:
        """ES ``wildcard`` query, scoring_boolean rewrite (see
        :meth:`prefix_ranked`)."""
        terms = self.wildcard_expand(pattern, max_expansions)
        if not terms:
            return empty_result(pattern, with_total_hits)
        return self.ranked(pattern, k, method, with_total_hits, terms=terms)

    def regexp_expand(self, pattern: str,
                      max_expansions: int = 50) -> List[str]:
        """Indexed terms fully matching the ES ``regexp`` pattern
        (anchored) — live df > 0, (df desc, term asc), capped; the
        literal prefix prunes the dictionary scan (operators/expand.py).
        Term-level: NOT analyzed (ES behavior)."""
        from . import expand as X

        self._refresh_if_stale()
        return X.regexp_terms(
            self.spark, self.index_dir, self._manifest, pattern, max_expansions
        )

    def regexp_ranked(self, pattern: str, k: int = 10,
                      method: str = "bm25", max_expansions: int = 50,
                      with_total_hits: bool = True) -> dict:
        """ES ``regexp`` query, scoring_boolean rewrite (see
        :meth:`prefix_ranked`)."""
        terms = self.regexp_expand(pattern, max_expansions)
        label = f"/{pattern}/"
        if not terms:
            return empty_result(label, with_total_hits)
        return self.ranked(label, k, method, with_total_hits, terms=terms)

    # ------------------------------------------------------ term suggester
    def suggest(self, text: str, size: int = 5, max_edits: int = 2,
                prefix_length: int = 1,
                mode: str = "missing") -> Dict[str, List[dict]]:
        """ES term suggester ("did you mean"): for each analyzed token
        of ``text``, live dictionary terms sharing its first
        ``prefix_length`` chars within ``max_edits`` levenshtein, ranked
        (distance asc, df desc, term asc), capped at ``size``.

        ``mode='missing'`` (the ES default) suggests only for tokens
        NOT in the live index; ``'always'`` suggests for every token.
        Each suggestion is ``{text, distance, freq}`` — freq is the
        live df, the reference surface a UI ranks corrections by."""
        from . import expand as X
        from .reader import live_df_lookup

        self._refresh_if_stale()
        tokens = self._terms(text)
        out: Dict[str, List[dict]] = {}
        seen = set()
        dfs = live_df_lookup(
            self.spark, self.index_dir, sorted(set(tokens)),
            self.n_buckets, self._manifest,
        ) if mode == "missing" else {}
        for tok in tokens:
            if tok in seen:
                continue
            seen.add(tok)
            if mode == "missing" and dfs.get(tok, 0) > 0:
                out[tok] = []
                continue
            out[tok] = [
                {"text": t, "distance": d, "freq": df}
                for t, d, df in X.suggest_terms(
                    self.spark, self.index_dir, self._manifest, tok,
                    size, max_edits, prefix_length,
                )
            ]
        return out

    # ----------------------------------------------- facets (aggregations)
    # ------------------------------------------------- compound queries (ES)
    def dis_max_plan(self, queries: Sequence[str],
                     tie_breaker: float = 0.0,
                     method: str = "bm25") -> Optional[DataFrame]:
        """ES ``dis_max``: per doc, the BEST subquery score plus
        ``tie_breaker`` times the rest — ``best + tb * (total − best)``
        — instead of the bool-query sum.  Each subquery contributes its
        own :meth:`score_plan`; the union shuffles once on doc_id for
        the max/sum aggregate, and every scan underneath stays
        bucket-pruned per subquery.  None when no subquery has a live
        term."""
        plans = [self.score_plan(q, method) for q in queries]
        live = [p for p in plans if p is not None]
        if not live:
            return None
        u = live[0].select("doc_id", "score")
        for p in live[1:]:
            u = u.unionByName(p.select("doc_id", "score"))
        return (
            u.groupBy("doc_id")
            .agg(F.max("score").alias("best"), F.sum("score").alias("tot"))
            .select(
                "doc_id",
                (
                    F.col("best")
                    + F.lit(float(tie_breaker)) * (F.col("tot") - F.col("best"))
                ).alias("score"),
            )
        )

    def _turbo_dis_max(self, queries: Sequence[str], k: int,
                       tie_breaker: float, method: str,
                       want_total: bool) -> Optional[dict]:
        """Driver-side dis_max twin: one pruned point read over the
        union of subquery terms, per-subquery numpy accumulation, then
        per-doc max/sum combine.  Result-identical to the plan path
        (same formula, float64)."""
        if not self.turbo:
            return None
        import numpy as np
        from collections import Counter

        per_query = [Counter(self._terms(q)) for q in queries]
        all_terms = sorted({t for c in per_query for t in c})
        idf_map = self.term_idf(all_terms)
        live = sorted(t for t in all_terms if idf_map.get(t, 0.0) != 0.0)
        if not live:
            return empty_result(None, want_total)
        slices = self._turbo_slices(live, method)
        if slices is None:
            return None
        q_docs, q_scores = [], []
        for counts in per_query:
            acc = self._turbo_accum(counts, idf_map, slices, method)
            if acc is not None:
                q_docs.append(acc[0])
                q_scores.append(acc[1])
        if not q_docs:
            return empty_result(None, want_total)
        D = np.concatenate(q_docs)
        S = np.concatenate(q_scores)
        docs_u, inv = np.unique(D, return_inverse=True)
        tot = np.bincount(inv, weights=S)
        best = np.zeros(docs_u.size, dtype=np.float64)
        np.maximum.at(best, inv, S)
        score = best + float(tie_breaker) * (tot - best)
        return turbo_topk(docs_u, score, k,
                          int(docs_u.size) if want_total else None)

    def dis_max(self, queries: Sequence[str], k: int = 10,
                tie_breaker: float = 0.0, method: str = "bm25",
                with_total_hits: bool = True) -> dict:
        """ES ``dis_max`` in the reference result shape; ``total_hits``
        counts docs matching ANY subquery.  Small slices are served by
        the driver-side twin; the distributed plan carries the count on
        the top-k job via Observation."""
        self._refresh_if_stale()
        label = " | ".join(queries)
        res = self._turbo_dis_max(queries, k, tie_breaker, method,
                                  with_total_hits)
        if res is not None:
            res["query"] = label
            return res
        plan = self.dis_max_plan(queries, tie_breaker, method)
        if plan is None:
            return empty_result(label, with_total_hits)
        return self._collect_topk(plan, label, k, with_total_hits)

    def constant_score_plan(self, query: str,
                            boost: float = 1.0) -> Optional[DataFrame]:
        """ES ``constant_score``: every doc matching the filter-context
        match query scores exactly ``boost``.  Filter context means
        LIVE-df membership, NOT idf weighting — a term present in every
        doc (idf 0) still matches here, unlike the scoring paths."""
        terms = self._terms(query)
        if not terms:
            return None
        self.term_idf(terms)  # populate the live df cache
        live = sorted({t for t in terms if self._df_cache.get(t, 0) > 0})
        if not live:
            return None
        return (
            self.match_plan(live)
            .select("doc_id")
            .withColumn("score", F.lit(float(boost)))
        )

    def boosting_plan(self, positive: str, negative: str,
                      negative_boost: float = 0.5,
                      method: str = "bm25") -> Optional[DataFrame]:
        """ES ``boosting`` query: docs score the positive query
        normally, demoted by ``negative_boost`` when they ALSO match
        the (filter-context) negative query.  Left join against the
        negative hit set — at scale the negative side is the rarer one
        and Catalyst broadcasts it under AQE."""
        pos = self.score_plan(positive, method)
        if pos is None:
            return None
        neg_terms = self._terms(negative)
        self.term_idf(neg_terms)
        neg_live = sorted({t for t in neg_terms if self._df_cache.get(t, 0) > 0})
        if not neg_live:
            return pos
        neg = (
            self.match_plan(neg_live)
            .select("doc_id")
            .withColumn("_neg", F.lit(1))
        )
        return pos.join(neg, "doc_id", "left").select(
            "doc_id",
            F.when(
                F.col("_neg").isNotNull(),
                F.col("score") * F.lit(float(negative_boost)),
            )
            .otherwise(F.col("score"))
            .alias("score"),
        )

    @staticmethod
    def _resolve_msm(minimum_should_match, must, filter_) -> int:
        """ES default: ``minimum_should_match`` is 1 when the bool has
        neither ``must`` nor ``filter`` clauses (should-only bools must
        match something), else 0 (should is purely optional scoring)."""
        if minimum_should_match is not None:
            return int(minimum_should_match)
        return 1 if not must and not filter_ else 0

    def _filter_context_docs_plan(self, query: str) -> Optional[DataFrame]:
        """Hit set (doc_id) of a filter-context match clause: docs
        containing ANY live-df term of the analyzed query (membership,
        not idf weighting — same convention as constant_score).  None
        when the clause cannot match anything (no live terms — ES
        ``zero_terms_query: none``)."""
        terms = self._terms(query)
        if not terms:
            return None
        self.term_idf(terms)  # populate the live df cache
        live = sorted({t for t in terms if self._df_cache.get(t, 0) > 0})
        if not live:
            return None
        return self.match_plan(live).select("doc_id")

    def _empty_scored_plan(self) -> DataFrame:
        return self._docs.select(
            F.col("doc_id"), F.lit(0.0).alias("score")
        ).limit(0)

    def bool_plan(self, must: Sequence[str] = (),
                  should: Sequence[str] = (),
                  filter_: Sequence[str] = (),
                  must_not: Sequence[str] = (),
                  minimum_should_match: Optional[int] = None,
                  method: str = "bm25") -> DataFrame:
        """ES ``bool`` query over match clauses: ``must`` clauses all
        match and contribute their :meth:`score_plan` scores, ``should``
        clauses contribute when matched (gated by
        ``minimum_should_match``), ``filter`` / ``must_not`` restrict
        without scoring (filter context, live-df membership).  Scores
        sum across clauses (ES bool semantics).  The reference grammar's
        AND/OR/NOT is the set-valued subset (operators/boolean.py); this
        is the scored structured superset an ES user expects.

        Plan shape: every scoring clause is one bucket-pruned scan →
        per-doc aggregate; the clause union shuffles ONCE on doc_id for
        the combined (score, n_must, n_should) aggregate, then filter
        context applies as semi/anti joins (broadcast by AQE when the
        hit sets are small).  A bool with no scoring gate (no must,
        msm=0) falls back to the live docs table as the candidate
        universe — ES match_all semantics for filter-only bools."""
        self._refresh_if_stale()
        must, should = list(must), list(should)
        filter_, must_not = list(filter_), list(must_not)
        msm = self._resolve_msm(minimum_should_match, must, filter_)
        m = len(must)
        parts = []
        for q in must:
            p = self.score_plan(q, method)
            if p is None:  # a must clause that can match nothing
                return self._empty_scored_plan()
            parts.append(p.select(
                "doc_id", "score",
                F.lit(1).alias("nm"), F.lit(0).alias("ns"),
            ))
        live_should = 0
        for q in should:
            p = self.score_plan(q, method)
            if p is not None:
                parts.append(p.select(
                    "doc_id", "score",
                    F.lit(0).alias("nm"), F.lit(1).alias("ns"),
                ))
                live_should += 1
        if msm > live_should:  # unsatisfiable should gate
            return self._empty_scored_plan()
        if must or msm > 0:
            u = parts[0]
            for p in parts[1:]:
                u = u.unionByName(p)
            base = (
                u.groupBy("doc_id")
                .agg(
                    F.sum("score").alias("score"),
                    F.sum("nm").alias("nm"),
                    F.sum("ns").alias("ns"),
                )
                .filter((F.col("nm") == m) & (F.col("ns") >= msm))
                .select("doc_id", "score")
            )
        else:
            # no scoring gate: candidate universe is every live doc
            base = self._docs.select("doc_id")
            if parts:  # optional should scores (msm=0)
                u = parts[0]
                for p in parts[1:]:
                    u = u.unionByName(p)
                sc = u.groupBy("doc_id").agg(F.sum("score").alias("s_sh"))
                base = base.join(sc, "doc_id", "left").select(
                    "doc_id", F.coalesce("s_sh", F.lit(0.0)).alias("score")
                )
            else:
                base = base.withColumn("score", F.lit(0.0))
        for q in filter_:
            fd = self._filter_context_docs_plan(q)
            if fd is None:
                return self._empty_scored_plan()
            base = base.join(fd, "doc_id", "semi")
        for q in must_not:
            nd = self._filter_context_docs_plan(q)
            if nd is not None:
                base = base.join(nd, "doc_id", "left_anti")
        return base

    def _turbo_bool(self, must, should, filter_, must_not, msm: int,
                    k: int, method: str,
                    want_total: bool) -> Optional[dict]:
        """Driver-side bool twin: ONE pruned point read over the union
        of every clause's terms, per-clause numpy accumulation, then
        vectorized (n_must, n_should, membership) gating over the
        combined doc universe.  Result-identical to the plan path."""
        if not self.turbo:
            return None
        import numpy as np
        from collections import Counter

        must_t = [self._terms(q) for q in must]
        should_t = [self._terms(q) for q in should]
        filt_t = [self._terms(q) for q in filter_]
        not_t = [self._terms(q) for q in must_not]
        all_terms = sorted(
            {t for c in must_t + should_t + filt_t + not_t for t in c}
        )
        idf_map = self.term_idf(all_terms)  # also populates _df_cache
        scoring_live = {
            t
            for c in must_t + should_t
            for t in c
            if idf_map.get(t, 0.0) != 0.0
        }
        member_live = {
            t for c in filt_t + not_t for t in c
            if self._df_cache.get(t, 0) > 0
        }
        read_terms = sorted(scoring_live | member_live)
        slices = self._turbo_slices(read_terms, method)
        if slices is None:
            return None
        universe = None
        if not must_t and msm == 0:
            # candidate universe = all live docs (filter-only bool)
            try:
                universe = self._doc_universe()
            except Exception:
                return None

        def accum(terms):
            """(docs_u, scores) of one scoring clause; None = dead."""
            return self._turbo_accum(Counter(terms), idf_map, slices, method)

        def member(terms):
            """Sorted unique docs containing ANY live term (filter
            context — no idf/doc_len gating: membership keeps the
            doc_len == 0 rows scoring drops)."""
            segs = [slices[t].doc for t in set(terms) if t in slices]
            if not segs:
                return np.array([], dtype=np.int64)
            return np.unique(np.concatenate(segs))

        must_acc = []
        for c in must_t:
            a = accum(c)
            if a is None:
                return empty_result(None, want_total)
            must_acc.append(a)
        should_acc = [a for a in (accum(c) for c in should_t) if a is not None]
        if msm > len(should_acc):
            return empty_result(None, want_total)
        if universe is None:
            segs = [a[0] for a in must_acc + should_acc]
            if not segs:
                return empty_result(None, want_total)
            U = np.unique(np.concatenate(segs))
        else:
            U = universe
        score = np.zeros(U.size, dtype=np.float64)
        nm = np.zeros(U.size, dtype=np.int64)
        ns = np.zeros(U.size, dtype=np.int64)

        def add(acc, flag):
            du, sc = acc
            pos = np.searchsorted(du, U)
            pos_c = np.minimum(pos, du.size - 1)
            hit = (pos < du.size) & (du[pos_c] == U)
            score[hit] += sc[pos_c[hit]]
            flag[hit] += 1

        for a in must_acc:
            add(a, nm)
        for a in should_acc:
            add(a, ns)
        keep = (nm == len(must_acc)) & (ns >= msm)
        for c in filt_t:
            fd = member(c)
            keep &= np.isin(U, fd, assume_unique=True)
        for c in not_t:
            nd = member(c)
            if nd.size:
                keep &= ~np.isin(U, nd, assume_unique=True)
        return turbo_topk(U[keep], score[keep], k,
                          int(keep.sum()) if want_total else None)

    def bool_search(self, must: Sequence[str] = (),
                    should: Sequence[str] = (),
                    filter_: Sequence[str] = (),
                    must_not: Sequence[str] = (),
                    minimum_should_match: Optional[int] = None,
                    k: int = 10, method: str = "bm25",
                    with_total_hits: bool = True) -> dict:
        """ES ``bool`` query in the reference result shape (see
        :meth:`bool_plan` for semantics).  Small slices are served by
        the driver-side twin; the distributed plan carries total_hits
        on the top-k job via Observation."""
        self._refresh_if_stale()
        must, should = list(must), list(should)
        filter_, must_not = list(filter_), list(must_not)
        msm = self._resolve_msm(minimum_should_match, must, filter_)
        label = " AND ".join(
            ["+" + q for q in must]
            + list(should)
            + ["#" + q for q in filter_]
            + ["-" + q for q in must_not]
        )
        res = self._turbo_bool(must, should, filter_, must_not, msm, k,
                               method, with_total_hits)
        if res is not None:
            res["query"] = label
            return res
        plan = self.bool_plan(must, should, filter_, must_not, msm, method)
        return self._collect_topk(plan, label, k, with_total_hits)

    def match_plan(self, terms: Sequence[str]) -> DataFrame:
        """Distinct (doc_id, doc_len) matching ANY of the analyzed
        ``terms`` — the hit set an ES aggregation runs over.  Pruned
        postings scan (bucket partitions + term predicate), one
        distinct; composes into facet plans without materializing hits
        on the driver."""
        self._refresh_if_stale()
        return (
            self._pruned_postings(sorted(set(terms)))
            .select("doc_id", "doc_len")
            .distinct()
        )

    def facet_doc_len(self, terms: Sequence[str],
                      bin_width: int = 16) -> DataFrame:
        """ES histogram aggregation over the hit set: (bin_lo, n_docs)
        with bin_lo = floor(doc_len / bin_width) * bin_width.  Entirely
        index-resident (doc_len rides the postings rows) — scan + one
        partial-agg shuffle, no join."""
        return (
            self.match_plan(terms)
            .groupBy(
                (F.floor(F.col("doc_len") / bin_width) * bin_width)
                .cast("long")
                .alias("bin_lo")
            )
            .agg(F.count(F.lit(1)).cast("long").alias("n_docs"))
        )

    def facet_counts(self, terms: Sequence[str], dims: DataFrame,
                     on: str = "doc_id", col: str = "source") -> DataFrame:
        """ES terms aggregation over an external attribute table (the
        data-lake pattern: the index holds the search structure, doc
        attributes stay in their parquet table): hit set ⋈ dims on
        ``on``, count per ``col``.  The hit set is the small side —
        Catalyst/AQE broadcasts it when it fits."""
        return (
            self.match_plan(terms)
            .select(on)
            .join(dims, on)
            .groupBy(col)
            .agg(F.count(F.lit(1)).cast("long").alias("n_docs"))
        )

    def stats_doc_len(self, terms: Sequence[str],
                      extended: bool = False) -> DataFrame:
        """ES ``stats`` / ``extended_stats`` aggregation over the hit
        set's ``doc_len`` — entirely index-resident (doc_len rides the
        postings rows): one pruned scan, one partial-agg shuffle to a
        single row.  ``extended`` adds population variance / stddev
        (ES's definition)."""
        aggs = [
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.min("doc_len").cast("long").alias("min_len"),
            F.max("doc_len").cast("long").alias("max_len"),
            F.avg("doc_len").cast("double").alias("avg_len"),
            F.sum("doc_len").cast("long").alias("sum_len"),
        ]
        if extended:
            aggs += [
                F.var_pop("doc_len").cast("double").alias("var_len"),
                F.stddev_pop("doc_len").cast("double").alias("std_len"),
            ]
        return self.match_plan(terms).agg(*aggs)

    def percentiles_doc_len(self, terms: Sequence[str],
                            percentiles: Sequence[float] = (25, 50, 75, 95),
                            exact: bool = True) -> DataFrame:
        """ES ``percentiles`` aggregation over the hit set's
        ``doc_len``.  ``exact=True`` is the linear-interpolation exact
        percentile (Spark ``percentile`` ≡ DuckDB ``quantile_cont`` —
        the hash-comparable oracle twin); ``exact=False`` is
        ``percentile_approx`` — the bounded-memory sketch that is the
        100-TB path, exactly as ES serves t-digest approximations
        (pytest bounds it against the exact twin).  One pruned scan,
        one partial-agg shuffle to a single row."""
        fracs = "array(" + ",".join(str(p / 100.0) for p in percentiles) + ")"
        fn = "percentile" if exact else "percentile_approx"
        agg = F.expr(f"{fn}(doc_len, {fracs})").alias("qs")
        row = self.match_plan(terms).agg(agg)
        cols = [
            F.col("qs")[i].cast("double").alias(f"p{str(p).replace('.', '_')}")
            for i, p in enumerate(percentiles)
        ]
        return row.select(*cols)

    def range_facet_doc_len(self, terms: Sequence[str],
                            edges: Sequence[int]) -> DataFrame:
        """ES ``range`` aggregation over the hit set's ``doc_len``:
        buckets are [edges[i], edges[i+1]) plus an open last bucket
        [edges[-1], ∞), keyed by the bucket's lower edge (−1 below the
        first edge, matching ES's explicit-from behavior of dropping
        out-of-range docs — we keep them visible instead of silent)."""
        edges = sorted(int(e) for e in edges)
        # chained whens from the top edge down: the last matching
        # (largest) lower edge wins
        expr = F.lit(-1).cast("long")
        for lo in edges:
            expr = F.when(F.col("doc_len") >= lo, F.lit(lo).cast("long")).otherwise(expr)
        return (
            self.match_plan(terms)
            .groupBy(expr.alias("range_lo"))
            .agg(F.count(F.lit(1)).cast("long").alias("n_docs"))
        )

    def cardinality(self, terms: Sequence[str], dims: DataFrame,
                    col: str = "source", on: str = "doc_id",
                    exact: bool = True, rsd: float = 0.05) -> DataFrame:
        """ES ``cardinality`` aggregation over an external attribute:
        distinct ``col`` values among the hit set.  ``exact=False``
        uses HyperLogLog++ (``approx_count_distinct``, the same sketch
        family ES uses) — the 100-TB shape, since exact distinct
        shuffles every value and HLL merges fixed-size sketches
        map-side; the exact variant is the gate oracle twin."""
        hits = self.match_plan(terms).select(on).join(dims, on)
        agg = (
            F.countDistinct(col) if exact
            else F.approx_count_distinct(col, rsd)
        )
        return hits.agg(agg.cast("long").alias("n_distinct"))

    def composite_agg(self, terms: Sequence[str],
                      sources: Sequence[tuple], dims: Optional[DataFrame] = None,
                      size: int = 10, after: Optional[dict] = None,
                      on: str = "doc_id") -> DataFrame:
        """ES ``composite`` aggregation over the hit set: paginated
        multi-source buckets, one row per composite key, ascending key
        order (the ES default), keyset-paginated by ``after`` (the
        previous page's last key — ES's ``after_key``).

        ``sources``: ``(name, "terms", col)`` or ``(name, "histogram",
        col, interval)`` tuples; ``col`` is ``doc_len`` (index-resident,
        rides the postings rows) or an attribute of ``dims`` (hit set ⋈
        attribute table, the data-lake pattern).

        Scale shape: the ``after`` cursor compiles to a LEXICOGRAPHIC
        key filter applied BELOW the aggregation — a bucket's key is a
        pure function of the row, so rows at-or-before the cursor can
        never reach a later bucket and are dropped at the scan, which
        is exactly why ES recommends composite over deep terms-agg
        pagination: each page is one bounded
        aggregate + TakeOrderedAndProject, state never accumulates."""
        base = self.match_plan(terms)
        if dims is not None:
            base = base.join(dims, on)
        names: List[str] = []
        key_cols = []
        for spec in sources:
            name, kind, col = spec[0], spec[1], spec[2]
            if kind == "terms":
                key_cols.append(F.col(col).alias(name))
            elif kind == "histogram":
                interval = int(spec[3])
                key_cols.append(
                    (F.floor(F.col(col) / interval) * interval)
                    .cast("long").alias(name)
                )
            else:
                raise ValueError(f"unknown composite source kind {kind!r}")
            names.append(name)
        keyed = base.select(*key_cols)
        if after is not None:
            # NULL-safe lexicographic "key > after": a null key component
            # sorts FIRST (the explicit asc_nulls_first order below), so
            # null < any value both as a cursor component and as a row
            # component — without this, a null anywhere turns the
            # comparison NULL and silently truncates pagination
            cond = F.lit(False)
            for n in reversed(names):
                v = after.get(n)
                if v is None:
                    gt = F.col(n).isNotNull()
                    eq = F.col(n).isNull()
                else:
                    gt = F.coalesce(F.col(n) > F.lit(v), F.lit(False))
                    eq = F.coalesce(F.col(n) == F.lit(v), F.lit(False))
                cond = gt | (eq & cond)
            keyed = keyed.filter(cond)
        return (
            keyed.groupBy(*[F.col(n) for n in names])
            .agg(F.count(F.lit(1)).cast("long").alias("n_docs"))
            .orderBy(*[F.col(n).asc_nulls_first() for n in names])
            .limit(int(size))
        )

    def composite(self, terms: Sequence[str], sources: Sequence[tuple],
                  dims: Optional[DataFrame] = None, size: int = 10,
                  after: Optional[dict] = None, on: str = "doc_id") -> dict:
        """ES composite result shape: ``{buckets: [{key: {...},
        doc_count}], after_key}`` — feed ``after_key`` back as ``after``
        for the next page (None when the stream is exhausted)."""
        names = [s[0] for s in sources]
        with self._interactive():
            rows = self.composite_agg(
                terms, sources, dims, size, after, on
            ).collect()
        buckets = [
            {"key": {n: r[n] for n in names}, "doc_count": r["n_docs"]}
            for r in rows
        ]
        return {
            "buckets": buckets,
            "after_key": buckets[-1]["key"] if len(buckets) == int(size)
            else None,
        }

    def top_hits_by(self, query: str, dims: DataFrame,
                    col: str = "source", n: int = 3,
                    method: str = "bm25", on: str = "doc_id"
                    ) -> Optional[DataFrame]:
        """ES ``top_hits`` inside a terms aggregation: the n
        best-scoring docs per ``col`` bucket.  Score plan ⋈ dims, then
        a per-bucket window rank — the window partitions by the facet
        value, so no global sort exists and buckets rank in parallel.
        Ties break (rounded score desc, doc_id asc), the engine-wide
        deterministic order."""
        from pyspark.sql import Window

        plan = self.score_plan(query, method)
        if plan is None:
            return None
        scored = plan.join(dims, on).withColumn(
            "score_r", F.round("score", 6)
        )
        w = Window.partitionBy(col).orderBy(
            F.col("score_r").desc(), F.col(on).asc()
        )
        return (
            scored.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= int(n))
            .select(col, "rank", on, "score_r")
        )

    def collapse_plan(self, query: str, dims: DataFrame,
                      col: str = "source", method: str = "bm25",
                      on: str = "doc_id") -> Optional[DataFrame]:
        """ES field collapsing: the hit list keeps only the BEST-scoring
        doc per ``col`` value (the group representative), globally
        ranked by that score.  Score plan ⋈ dims, then a window
        partitioned by the collapse key — groups rank in parallel, no
        global sort exists until the caller's bounded top-k.  Ordering
        uses the engine-wide deterministic (6-dp rounded score desc,
        doc_id asc) tie-break.  None when no query term is live."""
        from pyspark.sql import Window

        plan = self.score_plan(query, method)
        if plan is None:
            return None
        scored = plan.join(dims, on).withColumn(
            "score_r", F.round("score", 6)
        )
        w = Window.partitionBy(col).orderBy(
            F.col("score_r").desc(), F.col(on).asc()
        )
        return (
            scored.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") == 1)
            .select(on, col, "score_r")
        )

    def rescore_plan(self, query: str, rescore_query: str,
                     window_size: int = 50, query_weight: float = 1.0,
                     rescore_weight: float = 1.0,
                     method: str = "bm25") -> Optional[DataFrame]:
        """ES ``rescore``: re-rank only the top ``window_size`` hits of
        the cheap first pass with a second scorer — final = qw·orig +
        rw·secondary (ES ``score_mode: total``; docs outside the window
        never rescore).  The bounded window is broadcast into the join
        against the secondary score plan, so the second pass scans only
        its own pruned postings and the shuffle is window-sized.  Window
        selection uses the deterministic rounded ordering.  None when
        the first-pass query has no live term."""
        first = self.score_plan(query, method)
        if first is None:
            return None
        window = (
            first.select("doc_id", F.round("score", 6).alias("s1"))
            .orderBy(F.col("s1").desc(), F.col("doc_id").asc())
            .limit(int(window_size))
        )
        sec = self.score_plan(rescore_query, method)
        if sec is not None:
            window = F.broadcast(window).join(
                sec.select("doc_id", F.round("score", 6).alias("s2")),
                "doc_id", "left",
            )
        else:
            window = window.withColumn("s2", F.lit(None).cast("double"))
        return window.select(
            "doc_id",
            (
                F.lit(float(query_weight)) * F.col("s1")
                + F.lit(float(rescore_weight))
                * F.coalesce(F.col("s2"), F.lit(0.0))
            ).alias("score"),
        )

    # ---------------------------------------------------- rank_feature (ES)
    def rank_feature_pivot(self, dims: DataFrame, field: str,
                           on: str = "doc_id") -> float:
        """ES's default ``rank_feature`` pivot: approximately the
        geometric mean of the field's positive values — one bounded
        aggregate (exp∘avg∘ln) over the attribute table."""
        row = (
            dims.select(F.col(field).cast("double").alias("_x"))
            .filter(F.col("_x") > 0)
            .agg(F.exp(F.avg(F.log("_x"))).alias("p"))
            .collect()[0]["p"]
        )
        return float(row) if row is not None else 1.0

    def rank_feature_plan(self, dims: DataFrame, field: str,
                          function: str = "saturation",
                          pivot: Optional[float] = None,
                          exponent: float = 2.5,
                          scaling_factor: float = 1.0,
                          boost: float = 1.0,
                          on: str = "doc_id") -> DataFrame:
        """ES ``rank_feature`` as a standalone scoring query: matches
        every doc with a POSITIVE feature value (the rank_feature field
        contract), scored boost × S(x) with ES's function set —
        saturation x/(x+pivot) (pivot defaults to
        :meth:`rank_feature_pivot`), log ln(scaling_factor + x),
        sigmoid x^e/(x^e + pivot^e).  The feature stays in its own
        attribute table (the data-lake pattern)."""
        feat = dims.select(
            on, F.col(field).cast("double").alias("_x")
        ).filter(F.col("_x") > 0)
        if function in ("saturation", "sigmoid") and pivot is None:
            pivot = self.rank_feature_pivot(dims, field, on)
        if function == "saturation":
            s = F.col("_x") / (F.col("_x") + F.lit(float(pivot)))
        elif function == "log":
            s = F.log(F.lit(float(scaling_factor)) + F.col("_x"))
        elif function == "sigmoid":
            e = float(exponent)
            s = F.pow(F.col("_x"), F.lit(e)) / (
                F.pow(F.col("_x"), F.lit(e)) + F.lit(float(pivot) ** e)
            )
        else:
            raise ValueError(f"unknown rank_feature function {function!r}")
        return feat.select(on, (F.lit(float(boost)) * s).alias("score"))

    def match_rank_feature_plan(self, query: str, dims: DataFrame,
                                field: str, function: str = "saturation",
                                pivot: Optional[float] = None,
                                exponent: float = 2.5,
                                scaling_factor: float = 1.0,
                                boost: float = 1.0, method: str = "bm25",
                                on: str = "doc_id") -> Optional[DataFrame]:
        """The canonical ES use: ``bool { must: match, should:
        rank_feature }`` — the match gates relevance, the feature adds
        boost × S(x) where present (LEFT join + coalesce 0, docs keep
        matching without the feature).  One broadcastable join on top
        of the proven match plan."""
        base = self.score_plan(query, method)
        if base is None:
            return None
        rf = self.rank_feature_plan(
            dims, field, function, pivot, exponent, scaling_factor,
            boost, on,
        )
        return self._add_should_boost(base, rf, on)

    @staticmethod
    def _add_should_boost(base: DataFrame, booster: DataFrame,
                          on: str = "doc_id") -> DataFrame:
        """bool { must: <base>, should: <booster> } score combine: the
        base gates matching, the booster's score adds where present
        (LEFT join + coalesce 0) — shared by rank_feature and
        distance_feature."""
        b = booster.withColumnRenamed("score", "_boost")
        return base.join(b, on, "left").select(
            on,
            (F.col("score") + F.coalesce(F.col("_boost"), F.lit(0.0)))
            .alias("score"),
        )

    def distance_feature_plan(self, dims: DataFrame, field: str,
                              origin: float, pivot: float,
                              boost: float = 1.0,
                              on: str = "doc_id") -> DataFrame:
        """ES ``distance_feature`` as a standalone scoring query: score
        = boost × pivot / (pivot + |field − origin|) for docs HAVING
        the field (ES computes the same shape for date distances in
        millis and geo distances in meters; any numeric/castable column
        works here — the data-lake attribute-table pattern)."""
        feat = dims.select(
            on, F.col(field).cast("double").alias("_x")
        ).filter(F.col("_x").isNotNull())
        p = float(pivot)
        score = F.lit(float(boost)) * F.lit(p) / (
            F.lit(p) + F.abs(F.col("_x") - F.lit(float(origin)))
        )
        return feat.select(on, score.alias("score"))

    def match_distance_feature_plan(self, query: str, dims: DataFrame,
                                    field: str, origin: float, pivot: float,
                                    boost: float = 1.0,
                                    method: str = "bm25",
                                    on: str = "doc_id"
                                    ) -> Optional[DataFrame]:
        """``bool { must: match, should: distance_feature }`` — recency
        / proximity boosting in one LEFT join over the match plan."""
        base = self.score_plan(query, method)
        if base is None:
            return None
        return self._add_should_boost(
            base,
            self.distance_feature_plan(dims, field, origin, pivot, boost, on),
            on,
        )

    def function_score_plan(self, query: str, dims: DataFrame,
                            field: str, modifier: str = "none",
                            factor: float = 1.0,
                            boost_mode: str = "multiply",
                            missing: float = 1.0,
                            method: str = "bm25",
                            on: str = "doc_id") -> Optional[DataFrame]:
        """ES ``function_score`` with ``field_value_factor``: the query
        score combines with a per-doc function of an external numeric
        attribute — fval = modifier(factor · field) with ES's modifier
        set (none / log1p base-10 / ln1p / sqrt / square), combined by
        ``boost_mode`` multiply or sum.  Attributes stay in their own
        table (left join; ``missing`` substitutes for absent rows, the
        ES parameter of the same name)."""
        plan = self.score_plan(query, method)
        if plan is None:
            return None
        j = plan.join(dims.select(on, field), on, "left")
        val = (
            F.coalesce(F.col(field).cast("double"), F.lit(float(missing)))
            * F.lit(float(factor))
        )
        if modifier == "none":
            fval = val
        elif modifier == "log1p":  # ES log modifiers are base-10
            fval = F.log10(val + F.lit(1.0))
        elif modifier == "ln1p":
            fval = F.log(val + F.lit(1.0))
        elif modifier == "sqrt":
            fval = F.sqrt(val)
        elif modifier == "square":
            fval = val * val
        else:
            raise ValueError(f"unknown modifier {modifier!r}")
        if boost_mode == "multiply":
            score = F.col("score") * fval
        elif boost_mode == "sum":
            score = F.col("score") + fval
        else:
            raise ValueError(f"unknown boost_mode {boost_mode!r}")
        return j.select(on, score.alias("score"))

    # ------------------------------------------------------ more-like-this
    def mlt_terms(self, doc_id: int, max_query_terms: int = 25) -> List[str]:
        """ES more_like_this term selection: the source doc's terms
        ranked by tf·idf (live idf; idf==0 terms dropped, mirroring the
        scoring semantics), ties broken by term asc, capped at
        ``max_query_terms`` (ES default 25).  The source doc's tokens
        are one forward-index row — a single pruned read."""
        from .reader import live_tokens

        self._refresh_if_stale()
        rows = (
            live_tokens(self.spark, self.index_dir, self._manifest)
            .filter(F.col("doc_id") == int(doc_id))
            .select("tokens")
            .collect()
        )
        if not rows:
            return []
        from collections import Counter

        tf = Counter(rows[0]["tokens"])
        idf = self.term_idf(sorted(tf))
        scored = [
            (t, c * idf[t]) for t, c in tf.items() if idf.get(t, 0.0) != 0.0
        ]
        scored.sort(key=lambda x: (-x[1], x[0]))
        return [t for t, _s in scored[:max_query_terms]]

    def more_like_this(self, doc_id: int, k: int = 10,
                       max_query_terms: int = 25, method: str = "bm25",
                       with_total_hits: bool = True) -> dict:
        """ES ``more_like_this``: rank docs similar to ``doc_id`` by
        running its top tf·idf terms as a multi-term OR (each with its
        own idf), excluding the source doc.  Both serving tiers of
        :meth:`ranked` apply."""
        terms = self.mlt_terms(doc_id, max_query_terms)
        label = f"mlt:{doc_id}"
        if not terms:
            return empty_result(label, with_total_hits)
        return self.ranked(
            label, k, method, with_total_hits,
            terms=terms, exclude_docs=[doc_id],
        )

    # ------------------------------------------------- significant terms
    def significant_terms_plan(self, query: str, top_terms: int = 20,
                               min_fg: int = 3,
                               sample_size: Optional[int] = None) -> DataFrame:
        """ES ``significant_terms`` aggregation over the query's hit
        set: terms overrepresented in matching docs vs the corpus,
        scored by lift = (fg_df / fg_total) / (bg_df / N); returns
        (term, fg_df, bg_df, score_r) — top ``top_terms`` by (score
        desc, term asc), fg_df >= ``min_fg``.

        ``sample_size`` is the ES ``sampler`` aggregation (its
        ``shard_size``): the foreground pass runs over only the top
        ``sample_size`` hits by BM25 relevance instead of the whole hit
        set — the scale guard for head-term queries, where the hit set
        ≈ df and an unsampled fg pass explodes the hit set's entire
        token mass.  Sampling order is (round(score, 6) desc, doc_id) —
        deterministic across engines, so the DuckDB gate oracle selects
        the identical sample.  ``fg_total`` becomes the sampled doc
        count, exactly the sampler's ``doc_count`` in ES.  ``None``
        keeps the unsampled semantics (small/filtered queries).

        Plan shape: hit set (pruned postings scan; sampled: the BM25
        score plan + in-plan TakeOrdered, so only ``sample_size`` doc
        ids survive) ⋈ forward index -> explode distinct (doc, term) ->
        fg counts; bg df from the LIVE signed dictionary sources.  With
        sampling the explode is bounded by sample_size × avg doc_len
        regardless of df."""
        from .reader import live_dictionary, live_tokens

        self._refresh_if_stale()
        terms = sorted(set(self._terms(query)))
        if sample_size is not None:
            scored = self.score_plan(query)
            if scored is None:
                return self.spark.createDataFrame(
                    [], "term string, fg_df long, bg_df long, score_r double"
                )
            hits = (
                scored.orderBy(
                    F.round("score", 6).desc(), F.col("doc_id").asc()
                )
                .limit(int(sample_size))
                .select("doc_id")
            )
        else:
            hits = (
                self._pruned_postings(terms).select("doc_id").distinct()
            )
        toks = live_tokens(self.spark, self.index_dir, self._manifest)
        fg_pairs = (
            toks.join(hits, "doc_id")
            .select("doc_id", F.explode("tokens").alias("term"))
            .distinct()
        )
        fg = fg_pairs.groupBy("term").agg(
            F.count(F.lit(1)).cast("long").alias("fg_df")
        )
        fg_total = hits.agg(F.count(F.lit(1)).cast("long").alias("fg_total"))
        bg = live_dictionary(self.spark, self.index_dir, self._manifest)
        n = float(self.doc_count)
        return (
            fg.join(bg.withColumnRenamed("df", "bg_df"), "term")
            .crossJoin(F.broadcast(fg_total))
            .filter(F.col("fg_df") >= min_fg)
            .select(
                "term",
                "fg_df",
                "bg_df",
                F.round(
                    (F.col("fg_df") / F.col("fg_total"))
                    / (F.col("bg_df") / F.lit(n)),
                    6,
                ).alias("score_r"),
            )
            .orderBy(F.col("score_r").desc(), F.col("term"))
            .limit(top_terms)
        )

    # -------------------------------------------------------- highlighting
    def highlight_plan(self, query: str, k: int = 10, window: int = 10,
                       method: str = "bm25") -> DataFrame:
        """ES highlighting: top-k docs + the best ``window``-token
        snippet per doc — the window anchored at a match position with
        the most query-term hits (ties: earliest anchor), rendered from
        the live forward index (``tokens`` tables).

        Plan shape: bounded top-k (k rows) broadcast-joined to the
        forward index, positions exploded for the k docs only, window
        density via a bounded positions self-join — nothing corpus-sized
        shuffles, so the plan survives any corpus scale.  Returns
        (doc_id, score, snippet)."""
        from .reader import live_tokens

        self._refresh_if_stale()
        terms = sorted(set(self._terms(query)))
        empty = self.spark.createDataFrame(
            [], "doc_id long, score double, snippet string"
        )
        if not terms:
            return empty
        plan = self.score_plan(query, method)
        if plan is None:
            return empty
        top = plan.orderBy(F.col("score").desc(), F.col("doc_id").asc()).limit(k)
        toks = live_tokens(self.spark, self.index_dir, self._manifest)
        hit_toks = toks.join(F.broadcast(top), "doc_id").select(
            "doc_id", "score", "tokens"
        )
        pos = (
            hit_toks.select(
                "doc_id", F.posexplode("tokens").alias("pos", "tok")
            )
            .filter(F.col("tok").isin(terms))
            .select("doc_id", "pos")
        )
        a = pos.select(
            F.col("doc_id").alias("a_doc"), F.col("pos").alias("anchor")
        )
        b = pos.select(F.col("doc_id").alias("b_doc"), F.col("pos").alias("p"))
        density = (
            a.join(
                b,
                (F.col("a_doc") == F.col("b_doc"))
                & (F.col("p") >= F.col("anchor"))
                & (F.col("p") <= F.col("anchor") + (window - 1)),
            )
            .groupBy("a_doc", "anchor")
            .agg(F.count(F.lit(1)).alias("hits"))
        )
        from pyspark.sql import Window as W

        best = (
            density.withColumn(
                "rn",
                F.row_number().over(
                    W.partitionBy("a_doc").orderBy(
                        F.col("hits").desc(), F.col("anchor").asc()
                    )
                ),
            )
            .filter(F.col("rn") == 1)
            .select(F.col("a_doc").alias("doc_id"), "anchor")
        )
        return hit_toks.join(best, "doc_id").select(
            "doc_id",
            "score",
            F.array_join(
                F.slice(F.col("tokens"), F.col("anchor") + 1, window), " "
            ).alias("snippet"),
        )

    def highlight(self, query: str, k: int = 10, window: int = 10,
                  method: str = "bm25") -> List[dict]:
        """Collected :meth:`highlight_plan`, ordered (score desc,
        doc_id asc) — the user-facing result list."""
        rows = (
            self.highlight_plan(query, k, window, method)
            .orderBy(F.col("score").desc(), F.col("doc_id").asc())
            .collect()
        )
        return [
            {"doc_id": r["doc_id"], "score": r["score"], "snippet": r["snippet"]}
            for r in rows
        ]

    # -------------------------------------------------------------- router
    def query(self, query: str, k: int = 10, method: str = "bm25") -> dict:
        """Dispatch boolean vs ranked exactly like the reference
        (``selfindex_i0_no_optimization.py:126-132``), plus the Lucene
        term-level suffixes ES users expect: a single-token ``foo*``
        routes to :meth:`prefix_ranked`, ``foo~`` / ``foo~1`` /
        ``foo~2`` to :meth:`fuzzy_ranked`.  Boolean results carry score
        1.0, unranked, truncated to k."""
        q = query.strip()
        if q and " " not in q:
            if q.endswith("*") and len(q) > 1 and not q.endswith("**"):
                return self.prefix_ranked(q[:-1], k, method)
            import re as _re

            m = _re.fullmatch(r"(.+?)~([012])?", q)
            if m and not m.group(1).endswith("~"):
                return self.fuzzy_ranked(
                    m.group(1), k, int(m.group(2) or 1), method=method
                )
        if is_boolean_query(query):
            return self.boolean_topk(query, k)
        return self.ranked(query, k, method)

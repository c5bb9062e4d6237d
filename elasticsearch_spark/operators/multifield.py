"""Multi-field indexes + ES ``multi_match`` (the reference's actual
ground-truth query: ``multi_match`` with ``type: best_fields`` over
``fields: ["title^2", "text"]`` — ``/root/reference/
elasticsearch_indexer.py:122-149``, boosted-title mapping
``elasticsearch_indexer.py:54-62``).

Architecture: **Lucene-style per-field postings** — every field is a
complete single-field index under ``<index_dir>/fields/<name>/`` built
by the UNTOUCHED :class:`~.build.IndexBuilder`.  That yields ES's
per-field statistics for free (each field has its own df, idf, avgdl,
doc_len — exactly how Lucene scores a per-field ``match``), and keeps
single-field index layouts byte-identical (tests/test_multifield.py
proves a ``fields/<f>/`` tree equals a standalone build of that field).
Doc ids are assigned ONCE on the parent input and passed through as
caller-provided ids, so every field shares one doc-id space.

``multi_match`` composition (ES semantics):

* ``best_fields`` — per doc, the best per-field ``match`` score plus
  ``tie_breaker`` × the rest (ES compiles this to a ``dis_max`` over
  per-field matches); ``tie_breaker=0`` (the ES default) is a pure max.
* ``most_fields`` — per doc, the SUM of per-field match scores.

Field boosts use the ES caret syntax (``"title^2"``) or an explicit
``{field: boost}`` map; a field's match score is multiplied by its
boost before the combine, as Lucene does.

Scale shape (100 TB): each per-field score plan is the proven single
BM25 plan — bucket+term-pruned parquet scan → partial aggregate → one
exchange — and the combine is ONE extra shuffle on doc_id sized by the
union of per-field hit sets (never the corpus).  Nothing is collected
to the driver except the final top-k.  The turbo tier serves warm
interactive queries with per-field numpy score maps merged on the
driver, result-identical to the plan (pytest-enforced).
"""

from __future__ import annotations

import json
import os
import re
import shutil
from dataclasses import asdict
from typing import Dict, List, Optional, Sequence, Union

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .build import IndexBuilder, IndexConfig, assign_doc_ids
from .query import (
    combine_maps,
    combine_plan,
    empty_result,
    impact_col,
    live_bag,
    match_threshold,
    sorted_lookup,
    turbo_topk,
)

MULTIFIELD_MANIFEST = "multifield.json"

FieldsArg = Union[None, Sequence[str], Dict[str, float]]


def parse_fields(fields: FieldsArg,
                 default: Sequence[str] = ()) -> Dict[str, float]:
    """ES field-list syntax -> {field: boost}.  Accepts ``["title^2",
    "text"]`` (caret boosts, default 1.0) or an explicit map."""
    if fields is None:
        return {f: 1.0 for f in default}
    if isinstance(fields, dict):
        return {str(f): float(b) for f, b in fields.items()}
    out: Dict[str, float] = {}
    for spec in fields:
        m = re.match(r"^(.*?)(?:\^(\d+(?:\.\d+)?))?$", spec)
        out[m.group(1)] = float(m.group(2)) if m.group(2) else 1.0
    return out


class MultiFieldIndexBuilder:
    """Builds one single-field index per field under
    ``<index_dir>/fields/<name>/`` from a shared doc-id assignment.

    The per-field builds are plain :class:`IndexBuilder` runs — all of
    its machinery (segments, resume, O(delta) updates, compaction,
    codecs) applies per field unchanged.
    """

    def __init__(self, spark: SparkSession, index_dir: str,
                 fields: Sequence[str],
                 config: IndexConfig = IndexConfig()):
        if not fields:
            raise ValueError("multi-field index needs at least one field")
        self.spark = spark
        self.index_dir = index_dir
        self.fields = list(fields)
        self.config = config

    @classmethod
    def open(cls, spark: SparkSession, index_dir: str) -> "MultiFieldIndexBuilder":
        """Builder bound to an existing multi-field index, fields +
        config loaded from its manifest (the safe update constructor,
        mirroring ``IndexBuilder.open``)."""
        meta = _load_meta(index_dir)
        return cls(spark, index_dir, meta["fields"], _meta_config(meta))

    def field_dir(self, fname: str) -> str:
        return os.path.join(self.index_dir, "fields", fname)

    # ------------------------------------------------------------- build
    def _shared_ids(self, raw: DataFrame) -> DataFrame:
        """(doc_id, url, <field columns>) with ONE id assignment shared
        by every field (ids dense by url order, same recipe as
        ``IndexBuilder.prepare_docs``)."""
        cfg = self.config
        df = raw
        if cfg.lang is not None and "lang" in df.columns:
            df = df.filter(F.col("lang") == cfg.lang)
        if "doc_id" in df.columns:
            url = (F.col("url") if "url" in df.columns
                   else F.col("doc_id")).cast("string")
            return df.select(
                F.col("doc_id").cast("long").alias("doc_id"),
                url.alias("url"),
                *[F.col(f).cast("string").alias(f) for f in self.fields],
            )
        base = df.withColumn("url", F.col("url").cast("string"))
        scratch = os.path.join(self.index_dir, "_scratch_mf")
        os.makedirs(scratch, exist_ok=True)
        ids = assign_doc_ids(
            base.select("url"), "url", cfg.id_partitions, scratch_dir=scratch
        )
        return base.join(ids, "url").select(
            "doc_id", "url",
            *[F.col(f).cast("string").alias(f) for f in self.fields],
        )

    def build(self, raw: DataFrame) -> dict:
        """Build every field's index from one pass-shaped input.  The
        shared (doc_id, url, fields...) projection is materialized to
        scratch once so the id assignment and any upstream UDFs never
        re-run per field."""
        shared = self._shared_ids(raw)
        scratch = os.path.join(self.index_dir, "_scratch_mf_docs")
        shared.write.mode("overwrite").parquet(scratch)
        shared = self.spark.read.parquet(scratch)
        manifests = {}
        try:
            for fname in self.fields:
                sub = shared.select(
                    "doc_id", "url", F.col(fname).alias("text")
                )
                b = IndexBuilder(self.spark, self.field_dir(fname), self.config)
                manifests[fname] = b.build(sub)
        finally:
            shutil.rmtree(scratch, ignore_errors=True)
            shutil.rmtree(os.path.join(self.index_dir, "_scratch_mf"),
                          ignore_errors=True)
        self._save_meta()
        return {"fields": {f: m.get("stats") for f, m in manifests.items()}}

    def _save_meta(self) -> None:
        meta = {"fields": self.fields, "config": asdict(self.config)}
        tmp = os.path.join(self.index_dir, MULTIFIELD_MANIFEST + ".tmp")
        with open(tmp, "w") as f:
            json.dump(meta, f, indent=2)
        os.replace(tmp, os.path.join(self.index_dir, MULTIFIELD_MANIFEST))

    # ------------------------------------------------------- incremental
    def update_index(self, add: Optional[DataFrame] = None,
                     remove_urls: Optional[List[str]] = None,
                     compact: object = "auto",
                     segment_name: Optional[str] = None,
                     remove_doc_ids: Optional[List[int]] = None) -> dict:
        """O(delta) update applied to EVERY field index.  ``add`` rows
        need the field columns (+ doc_id/url like build); removals are
        by url or doc_id — both shared keys across fields."""
        out = {}
        add_shared = None
        if add is not None:
            add_shared = self._shared_ids(add)
            if "doc_id" not in add.columns:
                # _shared_ids assigned DENSE ids from 0 (build-time
                # recipe), but per-field update_index preserves a
                # doc_id column VERBATIM — without an offset the fresh
                # ids would collide with live ids and silently corrupt
                # every field sub-index.  Offset past the max
                # next_doc_id across fields (they share one id space,
                # so the max covers all; the single-field fallback for
                # a missing next_doc_id — alive max ∪ tombstone max —
                # is reproduced per field).
                offset = 0
                for fname in self.fields:
                    b = IndexBuilder.open(self.spark, self.field_dir(fname))
                    m = b._load_manifest()
                    nid = m.get("next_doc_id")
                    if nid is None:
                        alive = (
                            self.spark.read.parquet(b._path("docs"))
                            .agg(F.max("doc_id")).collect()[0][0]
                        )
                        alive = -1 if alive is None else int(alive)
                        tomb = max((int(t) for t in m.get("tombstones", [])),
                                   default=-1)
                        nid = max(alive, tomb) + 1
                    offset = max(offset, int(nid))
                add_shared = add_shared.withColumn(
                    "doc_id", F.col("doc_id") + F.lit(int(offset))
                )
        for fname in self.fields:
            b = IndexBuilder.open(self.spark, self.field_dir(fname))
            sub = (
                add_shared.select("doc_id", "url", F.col(fname).alias("text"))
                if add_shared is not None else None
            )
            out[fname] = b.update_index(
                add=sub, remove_urls=remove_urls, compact=compact,
                segment_name=segment_name, remove_doc_ids=remove_doc_ids,
            )
        return out


def _load_meta(index_dir: str) -> dict:
    with open(os.path.join(index_dir, MULTIFIELD_MANIFEST)) as f:
        return json.load(f)


class MultiMatchEngine:
    """ES ``multi_match`` over a multi-field index: one
    :class:`~.query.QueryEngine` per field, composed per the query
    type.  Two serving tiers like every other query path — the
    distributed plan (:meth:`multi_match_plan`, the correctness-gated
    path) and a driver-side turbo twin for warm interactive queries
    (result-identical, pytest-enforced)."""

    def __init__(self, spark: SparkSession, index_dir: str,
                 turbo: bool = True):
        from .query import QueryEngine

        self.spark = spark
        self.index_dir = index_dir
        meta = _load_meta(index_dir)
        self.fields: List[str] = list(meta["fields"])
        self.engines: Dict[str, "QueryEngine"] = {
            f: QueryEngine(
                spark, os.path.join(index_dir, "fields", f), turbo=turbo
            )
            for f in self.fields
        }

    # ---------------------------------------------------------- plan tier
    def multi_match_plan(self, query: str, fields: FieldsArg = None,
                         match_type: str = "best_fields",
                         tie_breaker: float = 0.0,
                         method: str = "bm25",
                         slop: int = 0,
                         slop_mode: str = "ordered",
                         max_expansions: int = 50,
                         operator: str = "or",
                         minimum_should_match=None) -> Optional[DataFrame]:
        """(doc_id, score) for the multi_match — no truncation.  None
        when no field has a live query term (ES: zero hits).  Per-field
        ``match`` scores come from each field engine's
        :meth:`~.query.QueryEngine.score_plan` (field-local idf/avgdl),
        × boost; the combine is one groupBy(doc_id).

        ``match_type="phrase"`` runs ES's phrase multi_match: each
        field evaluates the query as a scored ``match_phrase``
        (:meth:`~.query.QueryEngine.phrase_scored_plan` — Lucene
        pseudo-term scoring; honors ``slop``/``slop_mode``) and the
        per-field scores combine dis_max-style (best + tie_breaker ×
        rest), exactly how ES compiles it.  Requires positional
        sub-indexes.

        ``match_type="phrase_prefix"`` is the per-field SCORED
        ``match_phrase_prefix`` (the last token expands against EACH
        field's own dictionary, capped at ``max_expansions`` in
        index-term order — how ES builds per-field MultiPhraseQueries)
        combined dis_max-style.

        ``match_type="cross_fields"`` is TERM-centric (Lucene
        BlendedTermQuery — see :meth:`_cross_fields_plan`); honors
        ``operator``/``minimum_should_match``.

        ``match_type="bool_prefix"`` (search-as-you-type) runs a
        per-field ``match_bool_prefix``
        (:meth:`~.query.QueryEngine.match_bool_prefix_scored_plan`:
        scored full terms + constant-score trailing-prefix clause,
        expanded against EACH field's own dictionary) and SUMS the
        per-field scores — ES documents bool_prefix scoring as
        most_fields-style; honors ``operator``/``minimum_should_match``
        per field."""
        if match_type not in ("best_fields", "most_fields", "phrase",
                              "phrase_prefix", "cross_fields",
                              "bool_prefix"):
            raise ValueError(f"unsupported multi_match type {match_type!r}")
        boosts = parse_fields(fields, default=self.fields)
        if match_type == "cross_fields":
            return self._cross_fields_plan(
                query, boosts, tie_breaker, method, operator,
                minimum_should_match,
            )
        plans = []
        for fname, boost in boosts.items():
            eng = self.engines.get(fname)
            if eng is None:
                raise KeyError(f"field {fname!r} is not indexed "
                               f"(have {self.fields})")
            if match_type == "phrase":
                p = eng.phrase_scored_plan(query, slop, slop_mode, method)
                p = p.filter(F.col("n_occurrences") > 0).select("doc_id", "score")
            elif match_type == "phrase_prefix":
                p = eng.match_phrase_prefix_scored_plan(
                    query, max_expansions, method
                )
                if p is not None:
                    p = p.filter(F.col("n_occurrences") > 0).select(
                        "doc_id", "score"
                    )
            elif match_type == "bool_prefix":
                p = eng.match_bool_prefix_scored_plan(
                    query, max_expansions, method, operator,
                    minimum_should_match,
                )
            elif operator != "or" or minimum_should_match is not None:
                # ES honors operator/msm on best_fields/most_fields by
                # applying them to EACH per-field match (the phrase
                # kinds above ignore them, ES's documented behavior)
                p = eng.match_scored_plan(
                    query, method, operator, minimum_should_match
                )
            else:
                p = eng.score_plan(query, method)
            if p is not None:
                plans.append(
                    p.select(
                        "doc_id",
                        (F.col("score") * F.lit(float(boost))).alias("score"),
                    )
                )
        if not plans:
            return None
        summed = match_type in ("most_fields", "bool_prefix")
        return combine_plan(plans, None if summed else tie_breaker)

    # ------------------------------------------------------- cross_fields
    def _cross_fields_stats(self, query: str, boosts: Dict[str, float]):
        """Analyzed terms + BLENDED term statistics for ``cross_fields``
        (Lucene BlendedTermQuery): blended df(t) = MAX over queried
        fields of that field's LIVE df; blended idf from the shared doc
        count (the fields share one doc-id space).  Returns
        (terms, bdf, blended_idf); terms empty when the query analyzes
        to nothing."""
        import math

        any_eng = next(iter(self.engines.values()))
        terms = any_eng._terms(query)
        if not terms:
            return [], {}, {}
        distinct = sorted(set(terms))
        bdf: Dict[str, int] = {t: 0 for t in distinct}
        n = 0
        for fname in boosts:
            eng = self.engines.get(fname)
            if eng is None:
                raise KeyError(f"field {fname!r} is not indexed "
                               f"(have {self.fields})")
            eng._fill_df(distinct)
            for t in distinct:
                bdf[t] = max(bdf[t], eng._df_cache.get(t, 0))
            n = max(n, eng.doc_count)
        blended = {
            t: (math.log((n + 1) / (bdf[t] + 1)) if bdf[t] > 0 else 0.0)
            for t in distinct
        }
        return terms, bdf, blended

    def _cross_fields_plan(self, query: str, boosts: Dict[str, float],
                           tie_breaker: float = 0.0, method: str = "bm25",
                           operator: str = "or",
                           minimum_should_match=None) -> Optional[DataFrame]:
        """ES ``multi_match`` ``type: cross_fields`` as a (doc_id,
        score) plan — TERM-centric blending: per term the queried
        fields act as one field (blended idf = max-df blend, shared doc
        count) while tf saturation keeps FIELD-LOCAL norms (the field's
        own doc_len/avgdl), per Lucene's BlendedTermQuery inside a
        per-term dis_max (``tie_breaker`` blends the non-best fields).
        Doc score = sum over query-term occurrences; ``operator`` /
        ``minimum_should_match`` filter on the distinct-matched-term
        count.

        Plan shape (100-TB): per field the SAME pruned
        scan→score→partial-agg shape as the single-field plan, rows kept
        per (doc_id, term); ONE groupBy(doc_id, term) exchange sized by
        the per-field hit-set union does the per-term dis_max, and the
        final groupBy(doc_id) reuses that exchange's partitioning
        (doc_id ⊂ (doc_id, term) keys — Catalyst needs no second
        shuffle)."""
        terms, bdf, blended = self._cross_fields_stats(query, boosts)
        if not terms:
            return None
        required = match_threshold(
            terms, bdf, blended, operator, minimum_should_match
        )
        any_eng = next(iter(self.engines.values()))
        if required is None:
            return any_eng._empty_scored_plan()
        bag = live_bag(terms, blended)
        if not bag:
            return None
        plans = []
        for fname, boost in boosts.items():
            eng = self.engines[fname]
            idf_items: list = []
            for t, m in bag.items():
                idf_items += [
                    F.lit(t),
                    F.lit(float(blended[t]) * float(m) * float(boost)),
                ]
            w_col = F.create_map(*idf_items)[F.col("term")]
            p = eng._pruned_postings(list(bag)).filter(F.col("doc_len") > 0)
            impact = impact_col(method, F.col("tf"), F.col("doc_len"),
                                eng.avg_doc_len, eng.k1, eng.b)
            plans.append(
                p.select("doc_id", "term", (w_col * impact).alias("score"))
            )
        per_term = combine_plan(plans, tie_breaker, keys=("doc_id", "term"))
        return combine_plan([per_term], required=required)

    def _turbo_cross_fields(self, query: str, k: int,
                            boosts: Dict[str, float], tie_breaker: float,
                            method: str, operator: str,
                            minimum_should_match,
                            want_total: bool) -> Optional[dict]:
        """Driver-side twin of :meth:`_cross_fields_plan` + top-k
        (result-identical): each field's live bag under the blended idf
        map (``QueryEngine._turbo_bag``), then :func:`combine_maps`
        twice — per term across fields with the tie-breaker (each
        field's part is ``QueryEngine._turbo_accum`` over that one term
        × boost), then across terms with the matched-term threshold."""
        terms, bdf, blended = self._cross_fields_stats(query, boosts)
        empty = empty_result(query, want_total)
        if not terms:
            return empty
        required = match_threshold(
            terms, bdf, blended, operator, minimum_should_match
        )
        if required is None:
            return empty
        reads = []
        for fname, boost in boosts.items():
            eng = self.engines[fname]
            got = eng._turbo_bag(terms, method, idf_map=blended)
            if got is None:
                return None
            reads.append((eng, float(boost), got[2]))
        term_maps = []
        for t, m in live_bag(terms, blended).items():
            parts = []
            for eng, boost, slices in reads:
                acc = eng._turbo_accum({t: m}, blended, slices, method)
                if acc is not None:
                    parts.append((acc[0], acc[1] * boost))
            if parts:
                term_maps.append(combine_maps(parts, tie_breaker))
        docs_u, scores = combine_maps(term_maps, required=required)
        return turbo_topk(docs_u, scores, k,
                          int(docs_u.size) if want_total else None, query)

    # ------------------------------------------------------ combined_fields
    def combined_fields_plan(self, query: str, fields: FieldsArg = None,
                             method: str = "bm25", operator: str = "or",
                             minimum_should_match=None
                             ) -> Optional[DataFrame]:
        """ES ``combined_fields`` query (ES 7.13+, Lucene
        CombinedFieldQuery — the principled BM25F successor to
        cross_fields) as a (doc_id, score) plan.  The queried fields are
        scored as ONE synthetic field with MERGED statistics, per the
        Robertson/Zaragoza/Taylor simple-BM25F construction the Lucene
        query implements:

        * combined tf(t, d)   = Σ_f weight_f × tf_f(t, d)
        * combined norm(d)    = Σ_f weight_f × doc_len_f(d)  (summed
          over EVERY queried field, matched or not — Lucene's
          MultiNormsLeafSimScorer)
        * combined avgdl      = Σ_f weight_f × avgdl_f (fields share one
          doc-id space, so the per-doc sum averages to this)
        * merged df(t)        = MAX over fields of live df(t); idf from
          the shared doc count (the same pseudo-df merge the
          BlendedTermQuery/cross_fields path uses)
        * score(d) = Σ_t mult(t) × idf(t) × sat(tf_c, norm_c) with the
          single BM25 saturation — ONE term clause regardless of field
          count, unlike cross_fields' per-field dis_max.

        ``operator``/``minimum_should_match`` count distinct matched
        terms (matched = present in ANY queried field), the
        cross_fields spec.  ES restricts weights to ≥ 1; any positive
        weight works here.

        Plan shape (100-TB): per field the pruned postings scan keeps
        (doc_id, term, weighted tf) rows; ONE groupBy(doc_id, term)
        merges tf across fields, then a join against the combined-norm
        view (union of per-field live docs → groupBy(doc_id)) and the
        final groupBy(doc_id) — which reuses the (doc_id, term)
        exchange's partitioning.  The norm view is corpus-sized but
        two-column; at lake scale it is query-independent for fixed
        weights and would be materialized once next to the index (the
        per-field docs tables are bucketed by doc_id already)."""
        boosts = parse_fields(fields, default=self.fields)
        terms, bdf, blended = self._cross_fields_stats(query, boosts)
        if not terms:
            return None
        required = match_threshold(
            terms, bdf, blended, operator, minimum_should_match
        )
        any_eng = next(iter(self.engines.values()))
        if required is None:
            return any_eng._empty_scored_plan()
        bag = live_bag(terms, blended)
        if not bag:
            return None
        w_items: list = []
        for t, m in bag.items():
            w_items += [F.lit(t), F.lit(float(blended[t]) * float(m))]
        w_col = F.create_map(*w_items)[F.col("term")]
        tf_parts, len_parts = [], []
        avgdl_c = 0.0
        for fname, boost in boosts.items():
            eng = self.engines[fname]
            tf_parts.append(
                eng._pruned_postings(list(bag))
                .filter(F.col("doc_len") > 0)
                .select(
                    "doc_id", "term",
                    (F.col("tf") * F.lit(float(boost))).alias("score"),
                )
            )
            len_parts.append(
                eng._docs.select(
                    "doc_id",
                    (F.col("doc_len") * F.lit(float(boost))).alias("score"),
                )
            )
            avgdl_c += float(boost) * float(eng.avg_doc_len)
        # merged tf per (doc, term), combined norm per doc: both sums
        tfc = combine_plan(tf_parts, keys=("doc_id", "term"))
        dlc = combine_plan(len_parts).withColumnRenamed("score", "dlc")
        sat = impact_col(method, F.col("score"), F.col("dlc"), avgdl_c,
                         any_eng.k1, any_eng.b)
        scored = tfc.join(dlc, "doc_id").select(
            "doc_id", (w_col * sat).alias("score")
        )
        return combine_plan([scored], required=required)

    def _turbo_combined_fields(self, query: str, k: int,
                               boosts: Dict[str, float], method: str,
                               operator: str, minimum_should_match,
                               want_total: bool) -> Optional[dict]:
        """Driver-side twin of :meth:`combined_fields_plan` + top-k
        (result-identical): per-field postings via the shared point
        read, per-field norms via ``QueryEngine._turbo_doc_lens``
        (candidate docs need EVERY field's length, hit or not), then
        :func:`combine_maps` twice — per term across fields to sum the
        weighted tf, then across terms with the matched-term
        threshold."""
        import numpy as np

        from ..functions.codec import bm25_impact

        terms, bdf, blended = self._cross_fields_stats(query, boosts)
        empty = empty_result(query, want_total)
        if not terms:
            return empty
        required = match_threshold(
            terms, bdf, blended, operator, minimum_should_match
        )
        bag = live_bag(terms, blended)
        if required is None or not bag:
            return empty
        reads = []
        avgdl_c = 0.0
        for fname, boost in boosts.items():
            eng = self.engines[fname]
            eng._fill_df(list(bag))
            slices = eng._turbo_slices(list(bag))
            if slices is None:
                return None
            try:
                lens = eng._turbo_doc_lens()
            except Exception:
                return None
            reads.append((float(boost), slices, lens))
            avgdl_c += float(boost) * float(eng.avg_doc_len)
        any_eng = next(iter(self.engines.values()))
        term_maps = []
        for t, m in bag.items():
            parts = []
            for boost, slices, _lens in reads:
                sl = slices[t]
                tf = sl.tf if sl.pos is None else sl.tf[sl.pos]
                parts.append((sl.sdoc, tf.astype(np.float64) * boost))
            kdoc, tfc = combine_maps(parts)
            if not kdoc.size:
                continue
            # combined norm: every field's length counts, hit or not
            dlc = np.zeros(kdoc.size, dtype=np.float64)
            for boost, _slices, (ids, lens) in reads:
                pos, hit = sorted_lookup(kdoc, ids)
                dlc[hit] += boost * lens[pos[hit]]
            if method == "bm25":
                sat = bm25_impact(tfc, dlc, avgdl_c, any_eng.k1, any_eng.b)
            elif method == "tfidf":
                sat = tfc / dlc
            else:
                raise ValueError(f"unknown scoring method {method!r}")
            term_maps.append((kdoc, float(blended[t]) * float(m) * sat))
        docs_u, scores = combine_maps(term_maps, required=required)
        return turbo_topk(docs_u, scores, k,
                          int(docs_u.size) if want_total else None, query)

    def combined_fields(self, query: str, k: int = 10,
                        fields: FieldsArg = None, method: str = "bm25",
                        operator: str = "or", minimum_should_match=None,
                        source: Optional[DataFrame] = None,
                        source_fields: Sequence[str] = (),
                        with_total_hits: bool = True) -> dict:
        """ES ``combined_fields`` in the reference result shape — the
        term-centric BM25F query with MERGED field statistics (one
        synthetic field), two serving tiers like every query path, plus
        the optional fetch phase."""
        boosts = parse_fields(fields, default=self.fields)
        res = self._turbo_combined_fields(
            query, k, boosts, method, operator, minimum_should_match,
            with_total_hits,
        )
        if res is not None:
            return self._fetch(res, source, source_fields)
        plan = self.combined_fields_plan(
            query, boosts, method, operator, minimum_should_match
        )
        return self._fetch(
            self._collect(plan, query, k, with_total_hits), source, source_fields
        )

    # --------------------------------------------------------- turbo tier
    def _turbo_multi_match(self, query: str, k: int,
                           boosts: Dict[str, float], match_type: str,
                           tie_breaker: float, method: str,
                           want_total: bool) -> Optional[dict]:
        """Driver-side twin of :meth:`multi_match_plan` for
        best_fields/most_fields: each field's score map
        (``QueryEngine._turbo_score_map``) × boost, then
        :func:`combine_maps` — summed, or with the tie-breaker for
        best_fields."""
        per_field = []
        for fname, boost in boosts.items():
            eng = self.engines.get(fname)
            if eng is None:
                raise KeyError(f"field {fname!r} is not indexed "
                               f"(have {self.fields})")
            if not eng.turbo:
                return None
            # the shared single-field turbo kernel: one source of the
            # BM25/TF-IDF math for both engines
            got = eng._turbo_score_map(query, method)
            if got is None:
                return None
            docs_u, scores = got
            per_field.append((docs_u, scores * float(boost)))
        docs_u, scores = combine_maps(
            per_field, None if match_type == "most_fields" else tie_breaker
        )
        return turbo_topk(docs_u, scores, k,
                          int(docs_u.size) if want_total else None, query)

    # ------------------------------------------------------------ results
    def multi_match(self, query: str, k: int = 10, fields: FieldsArg = None,
                    match_type: str = "best_fields",
                    tie_breaker: float = 0.0, method: str = "bm25",
                    slop: int = 0, slop_mode: str = "ordered",
                    max_expansions: int = 50,
                    operator: str = "or", minimum_should_match=None,
                    source: Optional[DataFrame] = None,
                    source_fields: Sequence[str] = (),
                    with_total_hits: bool = True) -> dict:
        """Reference result shape ``{query, total_hits, results}``
        (``elasticsearch_indexer.py:135-148``), deterministic
        (score desc, doc_id asc) tie-break.  total_hits counts docs
        matching in ANY queried field (ES semantics).

        With ``source`` given, hits gain ``_source`` = {url,
        <source_fields>} via the bounded fetch phase (fields share one
        doc-id space, so any field's docs view resolves the ids)."""
        if match_type not in ("best_fields", "most_fields", "phrase",
                              "phrase_prefix", "cross_fields",
                              "bool_prefix"):
            raise ValueError(f"unsupported multi_match type {match_type!r}")
        boosts = parse_fields(fields, default=self.fields)
        if match_type == "cross_fields":
            res = self._turbo_cross_fields(
                query, k, boosts, tie_breaker, method, operator,
                minimum_should_match, with_total_hits,
            )
            if res is not None:
                return self._fetch(res, source, source_fields)
        elif (
            match_type not in ("phrase", "phrase_prefix", "bool_prefix")
            and operator == "or" and minimum_should_match is None
        ):
            # phrase + bool_prefix kinds serve from the plan tier, as do
            # operator/msm-filtered best_fields/most_fields
            res = self._turbo_multi_match(
                query, k, boosts, match_type, tie_breaker, method,
                with_total_hits,
            )
            if res is not None:
                return self._fetch(res, source, source_fields)
        plan = self.multi_match_plan(query, boosts, match_type,
                                     tie_breaker, method, slop, slop_mode,
                                     max_expansions, operator,
                                     minimum_should_match)
        return self._fetch(
            self._collect(plan, query, k, with_total_hits), source, source_fields
        )

    def _collect(self, plan: Optional[DataFrame], query: str, k: int,
                 want_total: bool) -> dict:
        """Plan-tier top-k of a combined (doc_id, score) plan through
        any field engine's :meth:`~.query.QueryEngine._collect_topk`
        (zero hits for a None plan)."""
        if plan is None:
            return empty_result(query, want_total)
        any_eng = next(iter(self.engines.values()))
        return any_eng._collect_topk(plan, query, k, want_total)

    def _fetch(self, res: dict, source: Optional[DataFrame],
               source_fields: Sequence[str]) -> dict:
        """Apply the ES fetch phase to a finished multi_match result
        (no-op without ``source``): any field engine resolves the
        shared doc-id space."""
        if source is None:
            return res
        any_eng = next(iter(self.engines.values()))
        res["results"] = any_eng.fetch_source(
            res["results"], source, source_fields
        )
        return res


def _meta_config(meta: dict) -> IndexConfig:
    from dataclasses import fields as dc_fields

    known = {f.name for f in dc_fields(IndexConfig)}
    return IndexConfig(**{k: v for k, v in (meta.get("config") or {}).items()
                          if k in known})


class MultiMatchWand:
    """best_fields / most_fields ``multi_match`` top-k under the WAND
    entry point's contract: no total hits, optional work ``stats``.  It
    serves from :meth:`MultiMatchEngine.multi_match` — the per-field
    turbo tier below each field engine's cutover, the distributed plan
    above it — so its results ARE that engine's."""

    def __init__(self, spark: SparkSession, index_dir: str):
        self.engine = MultiMatchEngine(spark, index_dir)
        self.fields: List[str] = self.engine.fields

    def topk(self, query: str, k: int = 10, fields: FieldsArg = None,
             match_type: str = "best_fields", tie_breaker: float = 0.0,
             with_stats: bool = False) -> dict:
        """Reference result shape (+ ``stats`` when asked, see
        :meth:`_stats`)."""
        if match_type not in ("best_fields", "most_fields"):
            raise ValueError(
                f"multi-field WAND serves best_fields/most_fields, "
                f"not {match_type!r}"
            )
        if not 0.0 <= tie_breaker <= 1.0:
            raise ValueError("tie_breaker must be in [0, 1]")
        boosts = parse_fields(fields, default=self.fields)
        missing = set(boosts) - set(self.engine.engines)
        if missing:
            raise KeyError(f"fields {sorted(missing)} are not indexed")
        out = self.engine.multi_match(
            query, k, fields=boosts, match_type=match_type,
            tie_breaker=tie_breaker, with_total_hits=False,
        )
        if with_stats:
            out["stats"] = self._stats(query, boosts)
        return out

    def _stats(self, query: str, boosts: Dict[str, float]) -> dict:
        """Postings work of the query: the (field, term, doc-range) runs
        its live terms touch — one block row each on an index without
        updates — and the doc ranges they span.  Scoring is exhaustive,
        so decoded == total and scored == total.  Counted from the
        cached slices when every field is under the turbo cutover, else
        in one Spark job."""
        import numpy as np

        fields = []
        for f in boosts:
            eng = self.engine.engines[f]
            idf = eng.term_idf(eng._terms(query))
            live = sorted(t for t, v in idf.items() if v != 0.0)
            if live:
                fields.append((f, eng, live, eng.stats["config"]["doc_range_bits"]))
        slices = [eng._turbo_slices(live) for _f, eng, live, _b in fields]
        if all(sl is not None for sl in slices):
            runs = [
                np.unique(sl.doc >> bits)
                for per_term, (_f, _e, _l, bits) in zip(slices, fields)
                for sl in per_term.values()
            ]
            n_runs = sum(r.size for r in runs)
            n_ranges = np.unique(np.concatenate(runs)).size if runs else 0
        else:
            plans = [
                eng._pruned_postings(live).select(
                    F.lit(f).alias("field"), "term",
                    F.shiftright("doc_id", bits).alias("rid"),
                )
                for f, eng, live, bits in fields
            ]
            u = plans[0]
            for p in plans[1:]:
                u = u.unionByName(p)
            row = u.agg(
                F.countDistinct("field", "term", "rid").alias("runs"),
                F.countDistinct("rid").alias("ranges"),
            ).collect()[0]
            n_runs, n_ranges = int(row["runs"]), int(row["ranges"])
        return {"ranges_scored": n_ranges, "ranges_total": n_ranges,
                "blocks_decoded": n_runs, "blocks_total": n_runs}

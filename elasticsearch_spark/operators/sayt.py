"""ES ``search_as_you_type`` field type (SURVEY.md §2.9 round 5).

ES maps a ``search_as_you_type`` field to shingle subfields —
``f._2gram``/``f._3gram`` (size-2/3 shingles of ``f``'s analyzed
stream) plus an ``_index_prefix`` edge-n-gram field — and documents the
matching query as ``multi_match`` ``type: bool_prefix`` over
``[f, f._2gram, f._3gram]``.  This module reproduces that design over
the multi-field index machinery:

* **Build** (:class:`SearchAsYouTypeIndexBuilder`): analyze the field
  ONCE (the standard pipeline, or whitespace split for pretokenized
  input), derive each shingle subfield's token stream with the SHARED
  :func:`~..functions.tokenizer.shingle_tokens` (``_``-joined — ES uses
  a space, which whitespace-pretokenized sub-indexes cannot carry; a
  pure representation change), and build one ordinary per-field
  sub-index per subfield through :class:`~.multifield.
  MultiFieldIndexBuilder` with ``pretokenized=True`` (the analysis
  already happened).  Subfield names use ``f__2gram`` on disk/in Spark
  columns (dots collide with struct syntax); the ES-visible name
  ``f._2gram`` maps 1:1.
* **No ``_index_prefix`` subfield**: its job in ES is cheap prefix
  matching for the trailing shingle; this engine's dictionary is
  term-sorted and range-scannable, so :meth:`~.query.QueryEngine.
  prefix_expand` plays that role with no extra index (documented
  design substitution, same results).
* **Query** (:class:`SearchAsYouTypeEngine`): analyze the typed query
  once, give each subfield ITS OWN stream (:func:`~..functions.
  tokenizer.sayt_query_stream`: size-n shingles, or one partial shingle
  while fewer than n words are typed), run per-subfield
  ``match_bool_prefix`` (scored full shingles + constant-score
  trailing-prefix clause — :meth:`~.query.QueryEngine.
  match_bool_prefix_scored_plan`), and SUM the boosted subfield scores
  per doc (the documented most_fields-style bool_prefix combine).

Scale shape: each subfield plan is the proven pruned-scan →
partial-agg → one-exchange shape; the combine is ONE groupBy(doc_id)
over the subfield hit-set union.  Shingle subfields triple the
postings volume of the base field at build time — exactly ES's storage
trade for search-as-you-type — and the build remains the standard
partition-parallel pipeline.
"""

from __future__ import annotations

import json
import os
from dataclasses import replace
from typing import Dict, Optional, Sequence

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.functions import pandas_udf

from ..functions.tokenizer import sayt_query_stream, shingle_tokens
from .build import IndexConfig
from .multifield import MultiFieldIndexBuilder, MultiMatchEngine
from .query import combine_plan

SAYT_MANIFEST = "sayt.json"


def _shingle_string_udf(n: int):
    """Arrow-batched UDF: analyzed token array → space-joined size-n
    shingle stream (the pretokenized input of subfield ``__{n}gram``).
    Delegates to the shared :func:`shingle_tokens` spec."""

    @pandas_udf(T.StringType())
    def f(tokens: pd.Series) -> pd.Series:
        return tokens.map(
            lambda ts: " ".join(shingle_tokens(list(ts), n))
            if ts is not None else ""
        )

    return f


class SearchAsYouTypeIndexBuilder:
    """Builds the ``search_as_you_type`` subfield family for one source
    field: ``f`` (analyzed stream) + ``f__2gram`` … up to
    ``max_shingle_size`` (ES default 3, legal range 2–4)."""

    def __init__(self, spark: SparkSession, index_dir: str,
                 field: str = "text", config: IndexConfig = IndexConfig(),
                 max_shingle_size: int = 3):
        if not 2 <= int(max_shingle_size) <= 4:
            raise ValueError("max_shingle_size must be in [2, 4] (ES rule)")
        self.spark = spark
        self.index_dir = index_dir
        self.field = field
        self.config = config
        self.max_shingle_size = int(max_shingle_size)
        self.subfields = [field] + [
            f"{field}__{n}gram" for n in range(2, self.max_shingle_size + 1)
        ]

    def _token_col(self, df: DataFrame):
        cfg = self.config
        if cfg.pretokenized:
            return F.when(
                F.length(F.trim(F.col(self.field))) > 0,
                F.split(F.trim(F.col(self.field)), r"\s+"),
            ).otherwise(F.array().cast("array<string>"))
        if cfg.use_html and "html" in df.columns:
            from ..functions.udfs import extract_tokenize_udf

            return extract_tokenize_udf(F.col("html"))
        from ..functions.udfs import tokenize_udf

        return tokenize_udf(F.col(self.field))

    def build(self, raw: DataFrame) -> dict:
        """Analyze once, derive the shingle streams, build every
        subfield as a pretokenized sub-index sharing one doc-id space."""
        cfg = self.config
        df = raw
        if cfg.lang is not None and "lang" in df.columns:
            df = df.filter(F.col("lang") == cfg.lang)
        df = df.withColumn("_toks", self._token_col(df))
        out_cols = [
            F.concat_ws(" ", F.col("_toks")).alias(self.field)
        ] + [
            _shingle_string_udf(n)(F.col("_toks")).alias(
                f"{self.field}__{n}gram"
            )
            for n in range(2, self.max_shingle_size + 1)
        ]
        keep = [c for c in ("doc_id", "url") if c in df.columns]
        derived = df.select(*keep, *out_cols)
        # sub-index analysis already done; lang already filtered above
        sub_cfg = replace(cfg, pretokenized=True, use_html=False, lang=None)
        mf = MultiFieldIndexBuilder(
            self.spark, self.index_dir, self.subfields, sub_cfg
        )
        res = mf.build(derived)
        meta = {
            "field": self.field,
            "max_shingle_size": self.max_shingle_size,
            "analyze": not cfg.pretokenized,
        }
        tmp = os.path.join(self.index_dir, SAYT_MANIFEST + ".tmp")
        with open(tmp, "w") as f:
            json.dump(meta, f, indent=2)
        os.replace(tmp, os.path.join(self.index_dir, SAYT_MANIFEST))
        return res


class SearchAsYouTypeEngine:
    """Serves the ES ``search_as_you_type`` query shape — multi_match
    ``type: bool_prefix`` over the shingle subfield family, each
    subfield matching ITS OWN query stream (ES re-analyzes the typed
    text per subfield exactly like this).  Serves from the plan tier,
    the same choice as multi_match's other per-field-stream types."""

    def __init__(self, spark: SparkSession, index_dir: str,
                 turbo: bool = True):
        self.spark = spark
        self.index_dir = index_dir
        with open(os.path.join(index_dir, SAYT_MANIFEST)) as f:
            meta = json.load(f)
        self.field: str = meta["field"]
        self.max_shingle_size: int = int(meta["max_shingle_size"])
        self.analyze: bool = bool(meta["analyze"])
        self.mm = MultiMatchEngine(spark, index_dir, turbo=turbo)
        self.subfields = list(self.mm.fields)

    def _terms(self, query: str):
        if self.analyze:
            from ..functions.tokenizer import preprocess_query

            return preprocess_query(query)
        return query.split()

    def streams(self, query: str) -> Dict[str, str]:
        """Per-subfield query strings: the analyzed terms for the base
        field, size-n shingles (or the partial shingle typed so far)
        for ``__{n}gram``."""
        terms = self._terms(query)
        if not terms:
            return {}
        out = {self.field: " ".join(terms)}
        for n in range(2, self.max_shingle_size + 1):
            out[f"{self.field}__{n}gram"] = " ".join(
                sayt_query_stream(terms, n)
            )
        return out

    def plan(self, query: str, boosts: Optional[Dict[str, float]] = None,
             max_expansions: int = 50, method: str = "bm25",
             operator: str = "or",
             minimum_should_match=None) -> Optional[DataFrame]:
        """(doc_id, score): per-subfield ``match_bool_prefix`` plans ×
        boost, summed by ONE groupBy(doc_id) (:func:`~.query.
        combine_plan`).  None when nothing can match anywhere."""
        streams = self.streams(query)
        if not streams:
            return None
        boosts = boosts or {f: 1.0 for f in self.subfields}
        plans = []
        for fname, boost in boosts.items():
            eng = self.mm.engines.get(fname)
            if eng is None:
                raise KeyError(f"subfield {fname!r} is not indexed "
                               f"(have {self.subfields})")
            p = eng.match_bool_prefix_scored_plan(
                streams[fname], max_expansions, method, operator,
                minimum_should_match,
            )
            if p is not None:
                plans.append(
                    p.select(
                        "doc_id",
                        (F.col("score") * F.lit(float(boost))).alias("score"),
                    )
                )
        return combine_plan(plans) if plans else None

    def search(self, query: str, k: int = 10,
               boosts: Optional[Dict[str, float]] = None,
               max_expansions: int = 50, method: str = "bm25",
               operator: str = "or", minimum_should_match=None,
               with_total_hits: bool = True) -> dict:
        """Reference result shape, deterministic (score desc, doc_id
        asc) tie-break; total_hits = docs matching in ANY subfield."""
        plan = self.plan(query, boosts, max_expansions, method, operator,
                         minimum_should_match)
        return self.mm._collect(plan, query, k, with_total_hits)

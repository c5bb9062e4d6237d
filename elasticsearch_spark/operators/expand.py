"""Multi-term expansion for term-level queries: PREFIX and FUZZY —
the Elasticsearch ``prefix`` / ``fuzzy`` query analogues the reference's
grammar stops short of (its query language is match/boolean/phrase only;
ES itself exposes both, so an ES user switching here expects them).

Semantics (documented ES ``rewrite: scoring_boolean``):

* expansion runs against the LIVE dictionary (base + delta-segment
  partials − removal partials, ``reader.dictionary_sources``), keeps
  terms with live df > 0, orders by (df desc, term asc) — ES's
  ``top_terms_N`` ordering — and caps at ``max_expansions`` (ES default
  50); ``order="term"`` instead caps in index-term order (term asc),
  the ES behavior for ``match_phrase_prefix``'s last-token expansion;
* the expanded terms then score as a plain multi-term OR: each term
  contributes BM25/TF-IDF with its OWN idf, summed per doc — i.e.
  exactly ``QueryEngine.ranked(terms=expanded)``, so both serving tiers
  (distributed plan + driver turbo) come for free and stay
  result-identical.
* term-level queries are NOT analyzed (ES behavior): the caller passes
  the prefix / pattern in index-term space.

Scale shape (100 TB): the dictionary is hash-bucketed (hive
``bucket=``), so a prefix scan cannot partition-prune — but the
dictionary is one row per distinct term (~10^7-10^9 rows at web scale,
0.1% of postings) and reads are column-pruned (term, df) with the
``term >= p AND term < p + MAX_CHAR`` range predicate pushed to parquet
row-group stats.  TWO serving tiers, identical results:

* interactive driver tier — streaming pyarrow range scan that ABORTS at
  ``DRIVER_RANGE_MAX_TERMS`` distinct terms, so a one-char prefix over
  a web-scale dictionary can never OOM the driver;
* the in-plan capped tier — signed live-df aggregation with the pattern
  predicate, ``orderBy(...).limit(max_expansions)`` INSIDE the Spark
  plan (TakeOrderedAndProject: per-partition bounded heaps), so the
  driver only ever collects ≤ max_expansions rows no matter how fat the
  prefix range is.  Wildcard/regexp predicates run the SAME compiled
  Python matcher as the driver tier via an Arrow-batched pandas UDF (no
  Java-regex flavor drift); fuzzy uses the JVM ``levenshtein`` (the
  same substitution/insert/delete metric as :func:`levenshtein` and
  DuckDB's oracle function).

Fuzzy with ``prefix_length=0`` is served from the deletion-neighborhood
sidecar when one exists (:mod:`fuzzy_sidecar` — point reads of the
query's own neighborhood, the Lucene-automaton analogue).
"""

from __future__ import annotations

import os
from typing import Dict, List, Optional, Tuple

# exclusive upper bound for "starts with p" as a range predicate; terms
# are tokenizer output (no U+FFFF), so p + '￿' bounds every
# continuation of p
_HIGH_CHAR = "￿"

ES_MAX_EXPANSIONS = 50  # ES index-level default for multi-term rewrite

# driver-tier abort threshold: max distinct dictionary terms the
# streaming range scan may accumulate before the caller falls back to
# the in-plan capped tier (~100 B/term -> ~20 MB driver RAM at default)
DRIVER_RANGE_MAX_TERMS = 200_000

# rows the last in-plan capped expansion collected (test receipt: must
# be ≤ max_expansions, never range-sized).  THREAD-LOCAL: concurrent
# queries on one engine must not race each other's receipts.
import threading as _threading

_PLAN_ROWS = _threading.local()


def last_plan_rows() -> int:
    """Rows collected by the most recent in-plan capped expansion on
    THIS thread (0 if none ran here)."""
    return getattr(_PLAN_ROWS, "value", 0)


def _record_plan_rows(n: int) -> None:
    _PLAN_ROWS.value = int(n)

_TOO_BIG = object()  # sentinel: range exceeds the driver-tier budget


def levenshtein(a: str, b: str, limit: int) -> int:
    """Classic (substitution/insert/delete) edit distance with an early
    exit above ``limit`` — the same metric as Spark's and DuckDB's
    ``levenshtein`` (no transpositions), which the in-plan tier and the
    driver gate use respectively."""
    if a == b:
        return 0
    la, lb = len(a), len(b)
    if abs(la - lb) > limit:
        return limit + 1
    prev = list(range(lb + 1))
    for i in range(1, la + 1):
        cur = [i] + [0] * lb
        best = cur[0]
        for j in range(1, lb + 1):
            cur[j] = min(
                prev[j] + 1,
                cur[j - 1] + 1,
                prev[j - 1] + (a[i - 1] != b[j - 1]),
            )
            if cur[j] < best:
                best = cur[j]
        if best > limit:
            return limit + 1
        prev = cur
    return prev[lb]


def _range_scan_source(path: str, lo: str, hi: str,
                       limit: Optional[int] = None):
    """term -> Σdf for dictionary rows with lo <= term < hi, via a
    STREAMING driver-side pyarrow read (column-pruned, range predicate
    against row-group stats).  Returns None on read failure; returns
    the ``_TOO_BIG`` sentinel as soon as more than ``limit`` distinct
    terms accumulate (the caller falls back to the in-plan tier without
    ever materializing a range-sized table on the driver)."""
    try:
        import pyarrow.dataset as pads

        ds = pads.dataset(path, partitioning="hive")
        expr = (pads.field("term") >= lo) & (pads.field("term") < hi)
        out: Dict[str, int] = {}
        for batch in ds.to_batches(columns=["term", "df"], filter=expr):
            if batch.num_rows == 0:
                continue
            for term, df in zip(
                batch.column(0).to_pylist(), batch.column(1).to_pylist()
            ):
                out[term] = out.get(term, 0) + df
            if limit is not None and len(out) > limit:
                return _TOO_BIG
        return out
    except Exception:
        return None


def _live_range_df(spark, index_dir: str, manifest: Optional[dict],
                   lo: str, hi: str,
                   limit: Optional[int] = None) -> Optional[Dict[str, int]]:
    """Live signed df for every dictionary term in [lo, hi) — the range
    twin of ``reader.live_df_lookup``.  None when any source fails the
    pyarrow read or the range exceeds ``limit`` distinct terms: the
    caller must use :func:`_capped_plan_expansion` instead (which never
    collects more than the cap)."""
    from .reader import dictionary_sources

    if limit is None:
        limit = DRIVER_RANGE_MAX_TERMS
    totals: Dict[str, int] = {}
    for path, sign in dictionary_sources(index_dir, manifest):
        found = _range_scan_source(path, lo, hi, limit)
        if found is None or found is _TOO_BIG:
            return None
        for t, v in found.items():
            totals[t] = totals.get(t, 0) + sign * int(v)
        if len(totals) > limit:
            return None
    return totals


def _signed_range_plan(spark, index_dir: str, manifest: Optional[dict],
                       lo: str, hi: str):
    """DataFrame (term, df) of the LIVE signed df over the dictionary
    range — the plan twin of :func:`_live_range_df` (df > 0 only)."""
    from pyspark.sql import functions as F

    from .reader import dictionary_sources

    parts = []
    for path, sign in dictionary_sources(index_dir, manifest):
        parts.append(
            spark.read.parquet(path)
            .filter((F.col("term") >= lo) & (F.col("term") < hi))
            .select("term", (F.col("df") * F.lit(sign)).alias("df"))
        )
    merged = parts[0]
    for p in parts[1:]:
        merged = merged.unionByName(p)
    return (
        merged.groupBy("term")
        .agg(F.sum("df").cast("long").alias("df"))
        .filter(F.col("df") > 0)
    )


def _match_predicate_col(matcher):
    """Arrow-batched boolean predicate over the ``term`` column running
    the SAME compiled Python matcher as the driver tier (wildcard and
    regexp semantics must not drift between tiers or regex flavors)."""
    import pandas as pd
    from pyspark.sql import functions as F

    def _m(s):
        return s.map(lambda t: bool(matcher(t)))

    # annotations set as live objects (the module's string annotations
    # can't resolve a function-local `pd` for eval-type inference)
    _m.__annotations__ = {"s": pd.Series, "return": pd.Series}
    _m.__module__ = "__main__"  # resolve hints without this module's scope
    return F.pandas_udf(_m, "boolean")(F.col("term"))


def _capped_plan_expansion(spark, index_dir: str, manifest: Optional[dict],
                           lo: str, hi: str, max_expansions: int,
                           predicate=None,
                           order: str = "df") -> List[Tuple[str, int]]:
    """In-plan capped expansion: signed live-df aggregation over the
    dictionary range, optional pattern predicate, then
    ``orderBy(...).limit(max_expansions)`` INSIDE the plan — the driver
    collects at most ``max_expansions`` rows (TakeOrderedAndProject),
    never the range.  This is the 100-TB tier behind every expansion
    query; the driver pyarrow tier serves only ranges under
    ``DRIVER_RANGE_MAX_TERMS``."""
    from pyspark.sql import functions as F

    live = _signed_range_plan(spark, index_dir, manifest, lo, hi)
    if predicate is not None:
        live = live.filter(predicate)
    if order == "term":
        live = live.orderBy(F.col("term").asc())
    else:
        live = live.orderBy(F.col("df").desc(), F.col("term").asc())
    rows = live.limit(int(max_expansions)).collect()
    _record_plan_rows(len(rows))
    return [(r["term"], int(r["df"])) for r in rows]


def _neighborhood_totals(spark, index_dir: str, manifest: Optional[dict],
                         term: str, max_edits: int, pfx: str
                         ) -> Optional[Dict[str, int]]:
    """Sidecar-served fuzzy candidates: term -> LIVE df for every
    indexed term within ``max_edits`` levenshtein of ``term`` whose
    prefix is ``pfx`` — or None when no (current) deletion-neighborhood
    sidecar exists and the caller must range-scan.

    Candidates = symmetric-delete matches from the BASE sidecar
    (:mod:`fuzzy_sidecar`) ∪ terms from the delta-segment dictionary
    partials (O(delta) scans — the sidecar only covers the base, and
    compaction rebuilds it).  Verification (true levenshtein + prefix)
    and the signed live-df lookup make the result identical to the
    full range scan."""
    from . import fuzzy_sidecar as FS

    cand = FS.base_candidates(index_dir, term, max_edits)
    if cand is None:
        return None
    # delta-segment dictionary partials are not in the sidecar: scan
    # just those (removal partials only subtract df — their terms
    # already exist in base or delta, so they add no candidates)
    from .reader import dictionary_sources, live_df_lookup, load_stats

    base = os.path.normpath(os.path.join(index_dir, "dictionary"))
    lo, hi = (pfx, pfx + _HIGH_CHAR) if pfx else ("", _HIGH_CHAR)
    for path, sign in dictionary_sources(index_dir, manifest):
        if sign <= 0 or os.path.normpath(path) == base:
            continue
        found = _range_scan_source(path, lo, hi)
        if found is None or found is _TOO_BIG:
            # pyarrow failed or the delta partial is unexpectedly fat:
            # Spark scan of just this O(delta) source
            from pyspark.sql import functions as F

            rows = (
                spark.read.parquet(path)
                .filter((F.col("term") >= lo) & (F.col("term") < hi))
                .select("term")
                .collect()
            )
            found = {r["term"]: 1 for r in rows}
        cand |= set(found)
    matched = [
        t
        for t in cand
        if t.startswith(pfx)
        and abs(len(t) - len(term)) <= max_edits
        and levenshtein(t, term, max_edits) <= max_edits
    ]
    if not matched:
        return {}
    n_buckets = int(load_stats(index_dir)["config"]["n_buckets"])
    return live_df_lookup(spark, index_dir, sorted(matched), n_buckets, manifest)


def _cap(matches: Dict[str, int], max_expansions: int,
         order: str = "df") -> List[str]:
    """ES expansion cap: ``order="df"`` = top_terms (live df desc, term
    asc); ``order="term"`` = index-term order (term asc) — the
    match_phrase_prefix behavior."""
    live = [(t, df) for t, df in matches.items() if df > 0]
    if order == "term":
        live.sort(key=lambda x: x[0])
    else:
        live.sort(key=lambda x: (-x[1], x[0]))
    return [t for t, _df in live[:max_expansions]]


def prefix_terms(spark, index_dir: str, manifest: Optional[dict], prefix: str,
                 max_expansions: int = ES_MAX_EXPANSIONS,
                 order: str = "df") -> List[str]:
    """Indexed terms starting with ``prefix`` (live df > 0), top
    ``max_expansions`` by (df desc, term asc) — or by term asc with
    ``order="term"`` (the match_phrase_prefix cap)."""
    if not prefix:
        return []
    lo, hi = prefix, prefix + _HIGH_CHAR
    totals = _live_range_df(spark, index_dir, manifest, lo, hi)
    if totals is None:  # range above the driver budget: in-plan cap
        from pyspark.sql import functions as F

        # same startswith guard as the driver tier below, so an exotic
        # term collating inside [lo, hi) without the prefix cannot make
        # the two tiers drift
        rows = _capped_plan_expansion(
            spark, index_dir, manifest, lo, hi, max_expansions,
            predicate=F.col("term").startswith(prefix), order=order,
        )
        return [t for t, _df in rows]
    # range predicate == startswith for our ascii token space; keep the
    # guard so an exotic term sorting inside the range can't slip in
    totals = {t: df for t, df in totals.items() if t.startswith(prefix)}
    return _cap(totals, max_expansions, order)


def _wildcard_regex(pattern: str):
    """Compile an ES ``wildcard`` pattern (``*`` = any sequence, ``?`` =
    exactly one char, everything else literal) to a full-match regex."""
    import re

    parts = []
    for ch in pattern:
        if ch == "*":
            parts.append(".*")
        elif ch == "?":
            parts.append(".")
        else:
            parts.append(re.escape(ch))
    return re.compile("".join(parts) + r"\Z")


def wildcard_terms(spark, index_dir: str, manifest: Optional[dict],
                   pattern: str,
                   max_expansions: int = ES_MAX_EXPANSIONS) -> List[str]:
    """Indexed terms matching the ES ``wildcard`` pattern (live df > 0),
    top ``max_expansions`` by (df desc, term asc).  The literal prefix
    before the first wildcard prunes the dictionary scan exactly like
    :func:`prefix_terms`; a leading-wildcard pattern scans the whole
    dictionary (the documented ES performance caveat — ES warns the
    same way)."""
    if not pattern:
        return []
    cut = min(
        (i for i, c in enumerate(pattern) if c in "*?"), default=len(pattern)
    )
    pfx = pattern[:cut]
    lo, hi = (pfx, pfx + _HIGH_CHAR) if pfx else ("", _HIGH_CHAR)
    rx = _wildcard_regex(pattern)
    totals = _live_range_df(spark, index_dir, manifest, lo, hi)
    if totals is None:
        rows = _capped_plan_expansion(
            spark, index_dir, manifest, lo, hi, max_expansions,
            predicate=_match_predicate_col(rx.match),
        )
        return [t for t, _df in rows]
    return _cap({t: df for t, df in totals.items() if rx.match(t)},
                max_expansions)


_REGEX_META = set(".?+*|{}[]()\"\\#@&<>~^$")


def _has_toplevel_alternation(pattern: str) -> bool:
    """True when the pattern contains a ``|`` at nesting depth 0 (not
    inside a group or character class): a top-level alternation makes
    ANY literal-prefix pruning wrong — 'ab|cd' must scan the 'cd'
    branch too."""
    depth = 0
    in_class = False
    esc = False
    for ch in pattern:
        if esc:
            esc = False
            continue
        if ch == "\\":
            esc = True
        elif in_class:
            if ch == "]":
                in_class = False
        elif ch == "[":
            in_class = True
        elif ch == "(":
            depth += 1
        elif ch == ")":
            depth = max(0, depth - 1)
        elif ch == "|" and depth == 0:
            return True
    return False


def regexp_terms(spark, index_dir: str, manifest: Optional[dict],
                 pattern: str,
                 max_expansions: int = ES_MAX_EXPANSIONS) -> List[str]:
    """Indexed terms matching the ES ``regexp`` pattern (live df > 0),
    top ``max_expansions`` by (df desc, term asc).  ES/Lucene regexps
    are ANCHORED (the pattern must match the whole term) — compiled
    here with Python ``re`` full-match, a superset of the Lucene
    default operator set minus its optional ``~``/``<>``/``@`` flags.
    The literal prefix before the first metacharacter prunes the
    dictionary scan exactly like :func:`prefix_terms` — UNLESS the
    pattern has a top-level alternation ('ab|cd'), whose right branch
    escapes any literal prefix: those scan the whole dictionary, as do
    patterns with no literal prefix (the documented ES performance
    caveat)."""
    import re

    if not pattern:
        return []
    rx = re.compile(pattern)
    if _has_toplevel_alternation(pattern):
        cut = 0  # 'ab|cd': pruning to 'ab' would drop the 'cd' branch
    else:
        cut = min(
            (i for i, c in enumerate(pattern) if c in _REGEX_META),
            default=len(pattern),
        )
        # a trailing quantifier binds the previous literal char: back off one
        if cut < len(pattern) and pattern[cut] in "?*+{" and cut > 0:
            cut -= 1
    pfx = pattern[:cut]
    lo, hi = (pfx, pfx + _HIGH_CHAR) if pfx else ("", _HIGH_CHAR)
    totals = _live_range_df(spark, index_dir, manifest, lo, hi)
    if totals is None:
        rows = _capped_plan_expansion(
            spark, index_dir, manifest, lo, hi, max_expansions,
            predicate=_match_predicate_col(rx.fullmatch),
        )
        return [t for t, _df in rows]
    return _cap(
        {t: df for t, df in totals.items() if rx.fullmatch(t)},
        max_expansions,
    )


def suggest_terms(spark, index_dir: str, manifest: Optional[dict],
                  term: str, size: int = 5, max_edits: int = 2,
                  prefix_length: int = 1) -> List[Tuple[str, int, int]]:
    """ES term-suggester candidates for ``term``: live dictionary terms
    sharing its first ``prefix_length`` chars, within ``max_edits``
    levenshtein, the input itself excluded — as (term, distance, df)
    ranked (distance asc, df desc, term asc), capped at ``size`` (ES
    orders candidates by similarity score then frequency; with the
    no-transposition metric both engines share, distance-then-frequency
    is that ordering made deterministic)."""
    if not term or max_edits < 0 or size <= 0:
        return []
    pfx = term[: max(0, prefix_length)]
    totals = _neighborhood_totals(spark, index_dir, manifest, term,
                                  max_edits, pfx)
    if totals is None:
        lo, hi = (pfx, pfx + _HIGH_CHAR) if pfx else ("", _HIGH_CHAR)
        totals = _live_range_df(spark, index_dir, manifest, lo, hi)
    if totals is None:
        # in-plan tier: JVM levenshtein (same metric), (distance, df
        # desc, term) TakeOrdered inside the plan, ≤ size rows collected
        from pyspark.sql import functions as F

        lo, hi = (pfx, pfx + _HIGH_CHAR) if pfx else ("", _HIGH_CHAR)
        live = _signed_range_plan(spark, index_dir, manifest, lo, hi)
        rows = (
            live.filter(F.col("term") != term)
            .filter(
                F.abs(F.length("term") - F.lit(len(term))) <= max_edits
            )
            .withColumn("dist", F.levenshtein(F.col("term"), F.lit(term)))
            .filter(F.col("dist") <= max_edits)
            .orderBy(F.col("dist").asc(), F.col("df").desc(),
                     F.col("term").asc())
            .limit(int(size))
            .collect()
        )
        _record_plan_rows(len(rows))
        return [(r["term"], int(r["dist"]), int(r["df"])) for r in rows]
    out = []
    for t, df in totals.items():
        if df <= 0 or t == term or abs(len(t) - len(term)) > max_edits:
            continue
        d = levenshtein(t, term, max_edits)
        if d <= max_edits:
            out.append((t, d, int(df)))
    out.sort(key=lambda x: (x[1], -x[2], x[0]))
    return out[:size]


def fuzzy_terms(spark, index_dir: str, manifest: Optional[dict], term: str,
                max_edits: int = 1, prefix_length: int = 1,
                max_expansions: int = ES_MAX_EXPANSIONS) -> List[str]:
    """Indexed terms within ``max_edits`` levenshtein of ``term`` that
    share its first ``prefix_length`` chars (ES fuzzy semantics), top
    ``max_expansions`` by (df desc, term asc).

    ``prefix_length=0`` is served from the deletion-neighborhood
    sidecar when one exists (:mod:`fuzzy_sidecar` — a point read of the
    query's own neighborhood, the Lucene-automaton analogue); without a
    sidecar it scans the whole dictionary (documented ES performance
    caveat — ES warns the same way), via the in-plan capped tier when
    the dictionary exceeds the driver budget."""
    if not term or max_edits < 0:
        return []
    pfx = term[: max(0, prefix_length)]
    if len(pfx) < prefix_length:
        # query shorter than the required shared prefix: candidates must
        # still share ALL of the query's chars as their prefix
        pfx = term
    totals = _neighborhood_totals(spark, index_dir, manifest, term,
                                  max_edits, pfx)
    if totals is not None:
        return _cap(totals, max_expansions)
    lo, hi = (pfx, pfx + _HIGH_CHAR) if pfx else ("", _HIGH_CHAR)
    totals = _live_range_df(spark, index_dir, manifest, lo, hi)
    if totals is None:
        from pyspark.sql import functions as F

        rows = _capped_plan_expansion(
            spark, index_dir, manifest, lo, hi, max_expansions,
            predicate=(
                (F.abs(F.length("term") - F.lit(len(term))) <= max_edits)
                & (F.levenshtein(F.col("term"), F.lit(term)) <= max_edits)
            ),
        )
        return [t for t, _df in rows]
    matched = {
        t: df
        for t, df in totals.items()
        if abs(len(t) - len(term)) <= max_edits
        and levenshtein(t, term, max_edits) <= max_edits
    }
    return _cap(matched, max_expansions)

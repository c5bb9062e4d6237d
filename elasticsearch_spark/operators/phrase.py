"""Phrase queries over positional postings (SURVEY.md §2.3 B3).

The reference's query grammar lists ``PHRASE`` (``README.md:39-48``) and
builds positional postings (``selfindex_z1_simple_compression.py:141,
162-165``) but never persists or queries them — this module completes
that spec Spark-natively.

Semantics: a phrase matches where its terms occur at consecutive
positions **in the processed token stream** (positions are assigned
after the preprocessing pipeline, so stopword removal shortens gaps —
the only self-consistent definition when the index stores processed
tokens, and the one Lucene uses with its default position increments).

Plan shape (all built-in higher-order functions, JVM-side, no UDFs):

    for each phrase term i: postings_i = (doc_id, positions:array<int>)
    shift:      p_i' = transform(positions, x -> x - i)
    match:      fold  p = array_intersect(p, p_i')  over inner joins on
                doc_id, filtering size(p) > 0 as soon as it empties
                (early pruning: each join shrinks the candidate set)
    result:     (doc_id, n_occurrences, start_positions)

At 10^12-doc scale each join is doc_id-equi and term-filtered, so
Catalyst broadcasts the rare-term side; position arrays stay bounded by
per-doc term frequency.
"""

from __future__ import annotations

from typing import Callable, List, Optional, Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

PHRASE_RESULT_SCHEMA = (
    "doc_id long, n_occurrences long, start_positions array<int>"
)


def sloppy_starts(slot_pos, slop: int):
    """Start positions of ordered sloppy-phrase matches within one doc.

    ``slot_pos`` is one SORTED int position array per phrase slot.  A
    start position ``p0`` (an occurrence of slot 0) matches iff
    positions ``p0 < p1 < … < p_{k-1}`` exist with ``p_i`` in slot i
    and span ``p_{k-1} − p0 ≤ (k−1) + slop`` — ES ``match_phrase`` with
    ``slop`` restricted to in-order matches (Lucene's move-based slop
    additionally permits transpositions; the ordered form is the
    self-consistent one for an engine whose exact phrase is in-order,
    and reduces EXACTLY to adjacency at slop=0: strictly increasing
    ints spanning ≤ k−1 must be consecutive).

    Greedy completion: picking the SMALLEST next position > prev
    minimizes the final position (monotone in prev), so a greedy chain
    succeeds iff any completion exists — one vectorized
    ``searchsorted`` per slot instead of enumerating tuples."""
    import numpy as np

    starts = np.asarray(slot_pos[0], dtype=np.int64)
    if starts.size == 0:
        return starts
    big = np.int64(2**62)
    prev = starts
    for arr in slot_pos[1:]:
        arr = np.asarray(arr, dtype=np.int64)
        if arr.size == 0:
            return starts[:0]
        idx = np.searchsorted(arr, prev, side="right")
        ok = idx < arr.size
        prev = np.where(ok, arr[np.minimum(idx, arr.size - 1)], big)
    return starts[(prev - starts) <= (len(slot_pos) - 1 + slop)]


def movable_starts(slot_pos, slop: int):
    """Start positions of MOVE-BASED (Lucene/ES ``match_phrase``)
    sloppy matches within one doc — the transposition-aware semantics.

    A slot-0 occurrence ``p0`` starts a match iff positions ``p_i`` (one
    per slot, all DISTINCT) exist with slot-adjusted offsets
    ``q_i = p_i − i`` satisfying ``max(q) − min(q) ≤ slop``.  This is
    Lucene's move-distance measure: for in-order assignments ``q`` is
    non-decreasing, so the spread equals ``span − (k−1)`` and the
    semantics coincide with :func:`sloppy_starts`; an adjacent
    transposition ("b a" matching a doc's "a b") has spread 2 — exactly
    the documented Lucene/ES cost of one swap.  At slop ≤ 1 move-based
    and ordered matching are therefore identical (a transposition
    already needs 2).

    Distinctness is free across slots holding different terms (one
    token per position); for REPEATED query terms the assignment is an
    interval bipartite matching — slot i's feasible positions form the
    window ``[m+i, m+slop+i]`` whose endpoints both grow with i, so
    processing slots in order and greedily taking the smallest unused
    position is optimal (classic interval-scheduling exchange
    argument).  Work per start is O(slop · k · log tf)."""
    import numpy as np

    starts = np.asarray(slot_pos[0], dtype=np.int64)
    if len(slot_pos) == 1 or starts.size == 0:
        return starts
    arrays = [np.asarray(a, dtype=np.int64) for a in slot_pos]
    if any(a.size == 0 for a in arrays):
        return starts[:0]
    out = []
    k = len(arrays)
    for p0 in starts.tolist():
        matched = False
        # window [m, m+slop] must contain q0 = p0 -> m in [p0-slop, p0]
        for m in range(p0 - slop, p0 + 1):
            used = {p0}
            feasible = True
            for i in range(1, k):
                a = arrays[i]
                lo = np.searchsorted(a, m + i, side="left")
                hi = np.searchsorted(a, m + slop + i, side="right")
                chosen = None
                for p in a[lo:hi].tolist():
                    if p not in used:
                        chosen = p
                        break
                if chosen is None:
                    feasible = False
                    break
                used.add(chosen)
            if feasible:
                matched = True
                break
        if matched:
            out.append(p0)
    return np.asarray(out, dtype=np.int64)


def _match_with_required(feas, m) -> bool:
    """True iff slots (each with a feasible position list ``feas[i]``)
    admit an assignment to DISTINCT positions that USES position ``m``.
    Tries each slot containing ``m`` as its owner, then completes a
    perfect matching of the remaining slots over the remaining
    positions (Kuhn's augmenting paths — k is query-term count, the
    windows are slop-sized, so this is tiny)."""
    k = len(feas)
    for owner in range(k):
        if m not in feas[owner]:
            continue
        matchp = {m: owner}  # position -> slot

        def try_slot(s, visited):
            for p in feas[s]:
                if p == m or p in visited:
                    continue
                visited.add(p)
                if p not in matchp or try_slot(matchp[p], visited):
                    matchp[p] = s
                    return True
            return False

        ok = True
        for s in range(k):
            if s == owner:
                continue
            if not try_slot(s, set()):
                ok = False
                break
        if ok:
            return True
    return False


def unordered_starts(slot_pos, slop: int):
    """Match-start positions of UNORDERED span-near matches within one
    doc (Lucene ``SpanNearQuery`` with ``inOrder=false`` over term
    clauses): positions ``q_i``, one per slot, all DISTINCT, whose span
    satisfies ``max(q) − min(q) ≤ (k−1) + slop`` (Lucene's
    matchWidth − k ≤ slop with unit-width term spans).  A start is the
    ``min(q)`` of some valid assignment; every valid assignment's
    positions sit in the window ``[m, m+(k−1)+slop]``, so a candidate
    ``m`` matches iff the slots' window-restricted position sets admit
    a distinct assignment that uses ``m`` (all positions ≥ m ⇒ the
    minimum IS m).  Distinctness needs real matching when the query
    repeats a term (both slots draw from one position list) —
    :func:`_match_with_required`; for all-distinct terms any two slots'
    lists are disjoint (one token per position) and the matching
    trivially succeeds.

    Deviation from Lucene: ``NearSpansUnordered`` lets sub-spans
    overlap, so a repeated clause (``["a", "a"]``) can match ONE
    occurrence of ``a`` twice; here each clause needs its own position,
    so ``["a", "a"]`` requires two occurrences of ``a`` within the
    window.  Queries whose clauses are all distinct terms are
    unaffected (one token per position)."""
    import numpy as np

    arrays = [np.asarray(a, dtype=np.int64) for a in slot_pos]
    k = len(arrays)
    if any(a.size == 0 for a in arrays):
        return np.empty(0, dtype=np.int64)
    if k == 1:
        return arrays[0]
    w = k - 1 + slop
    cand = np.unique(np.concatenate(arrays))
    out = []
    for m in cand.tolist():
        feas = []
        for a in arrays:
            lo = np.searchsorted(a, m, side="left")
            hi = np.searchsorted(a, m + w, side="right")
            f = a[lo:hi].tolist()
            if not f:
                feas = None
                break
            feas.append(f)
        if feas is None:
            continue
        if _match_with_required(feas, m):
            out.append(m)
    return np.asarray(out, dtype=np.int64)


def _starts_fn(slop: int, slop_mode: str):
    """Resolve the per-doc sloppy-match kernel shared by the Spark
    tiers: ``ordered`` = :func:`sloppy_starts` (in-order, the engine's
    historical semantics), ``moves`` = :func:`movable_starts`
    (Lucene/ES transposition-aware)."""
    if slop_mode == "ordered":
        return sloppy_starts
    if slop_mode == "moves":
        return movable_starts
    if slop_mode == "unordered":
        return unordered_starts
    raise ValueError(f"unknown slop_mode {slop_mode!r}")


def phrase_match_kernel(blocks: DataFrame, terms: Sequence[str],
                        codec_name: str = "vbyte",
                        tombstones: Optional[Sequence[int]] = None,
                        slop: int = 0,
                        slop_mode: str = "ordered") -> DataFrame:
    """Positional phrase matching as ONE doc-range-partitioned kernel
    over the compressed block layout — the WAND-kernel shape applied to
    adjacency.

    ``blocks`` must already be pruned to the phrase terms' (bucket,
    term) block runs and carry (term, range_id, doc_blob, tf_blob,
    len_blob, pos_blob).  One ``groupBy(range_id).applyInPandas`` then
    decodes each term's doc/tf/position streams ONCE per doc-range and
    intersects shifted positions in numpy.  vs the k−1 join cascade
    (:func:`phrase_match`, kept as the semantics oracle): a 4-term
    phrase costs one bounded shuffle of the terms' block rows instead
    of 3 distributed joins, and docs partition by range so no
    cross-range state exists.  Identity to the join plan is
    pytest-enforced; the ``phrase_*`` driver gates hash-check this
    kernel against DuckDB."""
    return phrase_slots_kernel(
        blocks, [[t] for t in terms], codec_name, tombstones, slop,
        slop_mode,
    )


def phrase_slots_kernel(blocks: DataFrame, slots: Sequence[Sequence[str]],
                        codec_name: str = "vbyte",
                        tombstones: Optional[Sequence[int]] = None,
                        slop: int = 0,
                        slop_mode: str = "ordered") -> DataFrame:
    """Generalized phrase kernel: each phrase position (``slot``) is a
    SET of alternative terms — the shape behind ES ``match_phrase_prefix``
    (last slot = the prefix's dictionary expansions) and synonym-aware
    phrases.  A slot's positions within a doc are the union of its
    alternatives' positions; since one token occupies each position,
    alternatives are disjoint per (doc, position) and occurrence counts
    stay exact.  Singleton slots reduce to the plain phrase kernel."""
    slots = [list(s) for s in slots]
    uniq = sorted({t for s in slots for t in s})
    tomb_set = frozenset(int(t) for t in tombstones) if tombstones else frozenset()
    starts_fn = _starts_fn(slop, slop_mode)
    # unordered (span_near inOrder=false) differs from adjacency even at
    # slop=0, so it always routes through its starts kernel
    sloppy = bool(slop) or slop_mode == "unordered"

    def kernel(pdf):
        import numpy as np
        import pandas as pd

        from ..functions import codec as C

        cols = ["doc_id", "n_occurrences", "start_positions"]
        per_term: dict = {}
        for row in pdf.itertuples(index=False):
            if row.term not in uniq:
                continue
            d, tf, _l = C.decode_block(
                row.doc_blob, row.tf_blob, row.len_blob, codec_name
            )
            flat = C.decode_positions(row.pos_blob, tf, codec_name)
            splits = np.split(flat, np.cumsum(tf)[:-1])
            slot = per_term.setdefault(row.term, {})
            # multiple rows per (term, range) = base + delta sources;
            # their doc ids are disjoint, so dict update merges cleanly
            for doc, pos in zip(d.tolist(), splits):
                if doc not in tomb_set:
                    slot[doc] = pos
        empty = pd.DataFrame(columns=cols).astype(
            {"doc_id": "int64", "n_occurrences": "int64"}
        )
        slot_maps = []
        for alts in slots:
            present = [t for t in alts if t in per_term]
            if not present:
                return empty
            if len(present) == 1:
                slot_maps.append(per_term[present[0]])
            else:
                m: dict = {}
                for t in present:
                    for doc, pos in per_term[t].items():
                        prev = m.get(doc)
                        m[doc] = pos if prev is None else np.union1d(prev, pos)
                slot_maps.append(m)
        cand = set(slot_maps[0])
        for m in slot_maps[1:]:
            cand &= m.keys()
        out = []
        for doc in sorted(cand):
            if sloppy:
                p = starts_fn([m[doc] for m in slot_maps], slop)
            else:
                p = slot_maps[0][doc]
                for i, m in enumerate(slot_maps[1:], start=1):
                    p = np.intersect1d(p, m[doc] - i)
                    if p.size == 0:
                        break
            if p.size:
                out.append((doc, int(p.size), np.sort(p).astype("int32").tolist()))
        return pd.DataFrame(out, columns=cols)

    return blocks.groupBy("range_id").applyInPandas(
        kernel, schema=PHRASE_RESULT_SCHEMA
    )


def phrase_match(
    postings_for: Callable[[str], DataFrame],
    terms: Sequence[str],
    slop: int = 0,
) -> DataFrame:
    """``postings_for(term)`` must return ``DataFrame(doc_id,
    positions:array<int>)``.  Returns ``(doc_id, n_occurrences,
    start_positions)`` for docs containing the exact phrase —
    or, with ``slop``, the ordered sloppy phrase (see
    :func:`sloppy_starts` for the semantics)."""
    if not terms:
        raise ValueError("phrase_match needs at least one term")
    if slop:
        return phrase_match_slots(postings_for, [[t] for t in terms], slop)
    df = postings_for(terms[0]).select("doc_id", F.col("positions").alias("p"))
    for i, t in enumerate(terms[1:], start=1):
        nxt = postings_for(t).select(
            "doc_id",
            F.transform("positions", lambda x: x - i).alias("p_next"),
        )
        df = (
            df.join(nxt, "doc_id")
            .withColumn("p", F.array_intersect("p", "p_next"))
            .filter(F.size("p") > 0)
            .drop("p_next")
        )
    return df.select(
        "doc_id",
        F.size("p").cast("long").alias("n_occurrences"),
        F.sort_array("p").alias("start_positions"),
    )


def phrase_match_slots(
    postings_for: Callable[[str], DataFrame],
    slots: Sequence[Sequence[str]],
    slop: int = 0,
) -> DataFrame:
    """Join-cascade twin of :func:`phrase_slots_kernel` (semantics
    oracle; also the fallback for pre-position-codec indexes).  A
    slot's positions are the per-doc union of its alternatives'
    positions (flatten + distinct — disjoint anyway, one token per
    position), then the same shifted ``array_intersect`` fold as
    :func:`phrase_match`.

    With ``slop`` the fold instead carries the greedy-chain frontier of
    :func:`sloppy_starts` as an array column: one ``transform`` per
    slot maps each live chain to the smallest next position
    (``array_min(filter(p_next, y -> y > x))`` — null chains stay
    null), and the final ``zip_with`` keeps starts whose chain spans
    ≤ (k−1)+slop.  All higher-order functions, JVM-side, no UDF."""
    slots = [list(s) for s in slots]
    if not slots or any(not s for s in slots):
        raise ValueError("phrase_match_slots needs non-empty slots")

    def slot_df(alts: Sequence[str]) -> DataFrame:
        parts = [postings_for(t).select("doc_id", "positions") for t in alts]
        if len(parts) == 1:
            return parts[0]
        u = parts[0]
        for p in parts[1:]:
            u = u.unionByName(p)
        return u.groupBy("doc_id").agg(
            F.sort_array(
                F.array_distinct(F.flatten(F.collect_list("positions")))
            ).alias("positions")
        )

    if slop:
        df = slot_df(slots[0]).select(
            "doc_id",
            F.col("positions").alias("starts"),
            F.col("positions").alias("prev"),
        )
        for alts in slots[1:]:
            nxt = slot_df(alts).select(
                "doc_id", F.col("positions").alias("p_next")
            )
            df = (
                df.join(nxt, "doc_id")
                .withColumn(
                    "prev",
                    F.transform(
                        "prev",
                        lambda x: F.array_min(
                            F.filter(F.col("p_next"), lambda y: y > x)
                        ),
                    ),
                )
                .drop("p_next")
                .filter(F.exists("prev", lambda x: x.isNotNull()))
            )
        span = len(slots) - 1 + slop
        ok = F.filter(
            F.zip_with(
                "starts",
                "prev",
                lambda s, p: F.when(
                    p.isNotNull() & ((p - s) <= F.lit(span)), s
                ),
            ),
            lambda x: x.isNotNull(),
        )
        return (
            df.select("doc_id", ok.alias("p"))
            .filter(F.size("p") > 0)
            .select(
                "doc_id",
                F.size("p").cast("long").alias("n_occurrences"),
                F.sort_array("p").alias("start_positions"),
            )
        )

    df = slot_df(slots[0]).select("doc_id", F.col("positions").alias("p"))
    for i, alts in enumerate(slots[1:], start=1):
        nxt = slot_df(alts).select(
            "doc_id",
            F.transform("positions", lambda x: x - i).alias("p_next"),
        )
        df = (
            df.join(nxt, "doc_id")
            .withColumn("p", F.array_intersect("p", "p_next"))
            .filter(F.size("p") > 0)
            .drop("p_next")
        )
    return df.select(
        "doc_id",
        F.size("p").cast("long").alias("n_occurrences"),
        F.sort_array("p").alias("start_positions"),
    )


def positional_postings(tokens_df: DataFrame, terms: Sequence[str] | None = None,
                        id_col: str = "doc_id", tokens_col: str = "tokens") -> DataFrame:
    """(doc_id, term, positions) from a tokenized docs table; ``terms``
    filters to the phrase vocabulary before the aggregation shuffle."""
    pos = tokens_df.select(
        F.col(id_col).alias("doc_id"),
        F.posexplode(F.col(tokens_col)).alias("pos", "term"),
    )
    if terms is not None:
        pos = pos.filter(F.col("term").isin(list(terms)))
    return pos.groupBy("doc_id", "term").agg(
        F.sort_array(F.collect_list("pos")).alias("positions")
    )


def phrase_query(tokens_df: DataFrame, phrase_terms: Sequence[str],
                 id_col: str = "doc_id", tokens_col: str = "tokens",
                 slop: int = 0) -> DataFrame:
    """One-shot phrase query over a tokenized docs table."""
    post = positional_postings(tokens_df, phrase_terms, id_col, tokens_col)
    return phrase_match(
        lambda t: post.filter(F.col("term") == t).select("doc_id", "positions"),
        list(phrase_terms),
        slop,
    )

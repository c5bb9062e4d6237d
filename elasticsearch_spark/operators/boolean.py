"""Boolean set algebra over doc_id DataFrames (SURVEY.md §2.4 Q1-Q6).

The parser (``oracle.engine.to_rpn``) is shared with the oracle; this
module evaluates the RPN plan tree with DataFrame set ops, carrying a
complement flag per operand so that NOT never builds ``all_docs ∖ B``
unless the final result is itself a complement:

    term     -> posting fetch (caller-provided term -> DataFrame[doc_id])
    AND      -> inner join on doc_id          (Q1/Q2; Catalyst picks
                broadcast/sort-merge and AQE handles skew, subsuming the
                reference's smaller-set-first + skip-pointer heuristics)
    AND NOT  -> left_anti join                (Q4: A ∖ B)
    OR       -> union + distinct              (Q3; with a complemented
                operand, De Morgan turns it into an anti join)
    NOT      -> flips the flag; a complemented final result is a
                left_anti join against all_docs

Missing operands (possible after stopword filtering) evaluate to the
empty set — same guard as the oracle evaluator.  The driver-side twin is
``operators.query.boolean_docs`` (same algebra over sorted arrays).
"""

from __future__ import annotations

from typing import Callable, List, Tuple

from pyspark.sql import DataFrame


def _and_flagged(a: DataFrame, a_neg: bool, b: DataFrame, b_neg: bool):
    """AND of two (DataFrame, complemented) pairs: A∩B, A∖B, B∖A or
    ¬(A∪B)."""
    if a_neg and b_neg:
        return a.unionByName(b).distinct(), True
    if a_neg:
        return b.join(a, "doc_id", "left_anti"), False
    if b_neg:
        return a.join(b, "doc_id", "left_anti"), False
    return a.join(b, "doc_id", "inner").select("doc_id"), False


def evaluate_rpn_df(
    rpn: Tuple[str, ...],
    term_postings: Callable[[str], DataFrame],
    all_docs: Callable[[], DataFrame],
) -> DataFrame:
    """RPN tokens -> DataFrame[doc_id].  ``term_postings(term)`` must
    return a distinct-doc_id DataFrame; ``all_docs()`` returns the doc
    dictionary (column ``doc_id``) and is called only for a
    complemented result or an empty one."""
    stack: List[Tuple[DataFrame, bool]] = []

    def pop() -> Tuple[DataFrame, bool]:
        return stack.pop() if stack else (all_docs().limit(0), False)

    for token in rpn:
        if token == "NOT":
            a_df, a_neg = pop()
            stack.append((a_df, not a_neg))
        elif token in ("AND", "OR"):
            (b_df, b_neg), (a_df, a_neg) = pop(), pop()
            if token == "AND":
                stack.append(_and_flagged(a_df, a_neg, b_df, b_neg))
            else:  # A OR B = NOT (NOT A AND NOT B)
                s_df, s_neg = _and_flagged(a_df, not a_neg, b_df, not b_neg)
                stack.append((s_df, not s_neg))
        else:
            stack.append((term_postings(token), False))
    out, neg = stack[0] if stack else pop()
    return all_docs().join(out, "doc_id", "left_anti") if neg else out

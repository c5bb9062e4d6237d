"""Property test: the shared RPN parser/evaluator must agree with
direct Python-set semantics on randomly generated boolean expressions
(precedence NOT > AND > OR, parens, implicit AND between adjacent
operands — ``measure_latency_datastores.py:89-188``)."""

import hypothesis.strategies as st
from hypothesis import given, settings

from elasticsearch_spark.oracle.engine import OracleIndex, evaluate_rpn, to_rpn

# tiny corpus with overlapping posting sets
DOCS = [
    (0, "aa bb cc"),
    (1, "aa bb"),
    (2, "aa"),
    (3, "bb cc"),
    (4, "cc"),
    (5, "aa cc dd"),
    (6, "dd"),
]
IDX = OracleIndex.build(DOCS, pretokenized=True)
TERMS = ["aa", "bb", "cc", "dd", "zz"]  # zz unindexed
ALL = frozenset(d for d, _ in DOCS)


@st.composite
def boolean_expr(draw, depth=0):
    """Returns (expr_tokens, python_set)."""
    if depth >= 3 or draw(st.booleans()):
        t = draw(st.sampled_from(TERMS))
        return [t], frozenset(d for d, _ in IDX.postings.get(t, ()))
    op = draw(st.sampled_from(["AND", "OR", "NOT", "PAREN", "IMPLICIT"]))
    if op == "NOT":
        toks, s = draw(boolean_expr(depth + 1))
        return ["NOT"] + toks if len(toks) == 1 else ["NOT", "("] + toks + [")"], ALL - s
    if op == "PAREN":
        toks, s = draw(boolean_expr(depth + 1))
        return ["("] + toks + [")"], s
    lt, ls = draw(boolean_expr(depth + 1))
    rt, rs = draw(boolean_expr(depth + 1))
    # parenthesize operands so the reference-set semantics is unambiguous
    lt = ["("] + lt + [")"]
    rt = ["("] + rt + [")"]
    if op == "AND":
        return lt + ["AND"] + rt, (ls & rs if ls and rs else frozenset())
    if op == "OR":
        return lt + ["OR"] + rt, ls | rs
    # IMPLICIT: adjacency means AND
    return lt + rt, (ls & rs if ls and rs else frozenset())


@given(boolean_expr())
@settings(max_examples=300, deadline=None)
def test_rpn_matches_set_semantics(expr):
    toks, want = expr
    got = evaluate_rpn(IDX, to_rpn(tuple(toks)))
    assert got == want, " ".join(toks)


# --- the turbo tier's set-algebra kernel against the oracle

import numpy as np  # noqa: E402
import pytest  # noqa: E402

from elasticsearch_spark.operators.query import (  # noqa: E402
    boolean_docs,
    parse_boolean,
)

# doc-id gaps and one doc with no postings, so the universe is larger
# than the union of the posting lists
GAP_IDX = OracleIndex.build(
    [(0, "aa bb"), (3, "bb cc"), (4, ""), (10, "aa cc dd"), (11, "cc"),
     (40, "dd aa")],
    pretokenized=True,
)


def _check(idx, query):
    """The kernel's answer equals the oracle's set (the universe is
    handed over only when the parse says the result is a complement)."""
    rpn, terms, negated = parse_boolean(query, False)
    universe = np.array(sorted(idx.all_docs), dtype=np.int64)
    term_docs = {
        t: np.array(sorted(d for d, _ in idx.postings.get(t, ())),
                    dtype=np.int64)
        for t in terms
    }
    got = boolean_docs(rpn, term_docs, universe if negated else None)
    assert got.dtype == np.int64, query
    assert got.tolist() == sorted(evaluate_rpn(idx, rpn)), query


@given(boolean_expr())
@settings(max_examples=200, deadline=None)
def test_boolean_docs_matches_oracle(expr):
    toks, _want = expr
    _check(IDX, " ".join(toks))


EDGE_QUERIES = [
    "", "zz", "NOT zz", "NOT", "AND", "OR NOT", "( )",
    "aa AND", "AND aa", "aa OR", "NOT aa", "NOT NOT aa", "NOT ( NOT aa )",
    "aa OR NOT bb", "NOT aa OR bb", "NOT aa OR NOT bb", "NOT aa AND NOT bb",
    "aa AND NOT bb", "NOT bb AND aa", "aa NOT bb", "NOT ( aa OR zz )",
    "zz AND NOT aa", "zz OR NOT zz", "aa zz", "aa bb OR", "aa ) OR ( bb",
    "( aa OR bb ) AND NOT ( cc AND dd )", "NOT aa AND NOT bb OR dd",
]


@pytest.mark.parametrize("query", EDGE_QUERIES)
@pytest.mark.parametrize(
    "idx", [IDX, GAP_IDX], ids=["contiguous_ids", "gap_ids"]
)
def test_boolean_docs_edge_cases(idx, query):
    """Missing operands, bare and double NOT, OR NOT and unindexed
    terms, over a contiguous and a gapped doc-id space."""
    _check(idx, query)


def test_parse_boolean_negated_flag():
    assert parse_boolean("aa AND NOT bb", False)[2] is False
    assert parse_boolean("NOT bb", False)[2] is True
    assert parse_boolean("aa OR NOT bb", False)[2] is True
    assert parse_boolean("NOT aa AND NOT bb", False)[2] is True
    assert parse_boolean("NOT ( NOT aa )", False)[2] is False
    # the reference's shunting-yard pops the first NOT with an empty
    # operand: RPN (NOT, aa, NOT), whose bottom entry is NOT ∅
    assert parse_boolean("NOT NOT aa", False)[0] == ("NOT", "aa", "NOT")
    assert parse_boolean("NOT NOT aa", False)[2] is True
    assert parse_boolean("NOT", False)[2] is True  # NOT of the empty set
    assert parse_boolean("", False) == ((), (), False)


def test_parse_memo_keyed_on_stem_flag_and_bounded():
    """A pretokenized index and a stemmed one parse the same string to
    different RPNs, so the memo keys on the stem flag; it is bounded."""
    q = "Running AND the dogs"
    stemmed = parse_boolean(q, True)
    literal = parse_boolean(q, False)
    assert stemmed[0] == ("run", "dog", "AND")
    assert literal[0] == ("running", "the", "AND", "dogs", "AND")
    assert literal[1] == ("dogs", "running", "the")
    assert parse_boolean(q, True) is stemmed  # served from the memo
    assert parse_boolean.cache_info().maxsize == 4096

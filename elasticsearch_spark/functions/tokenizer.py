"""The tokenization spec — the byte-level invariant of the engine.

Reimplements the reference preprocessing pipeline, which is applied
*identically* to documents and queries (the reference's single biggest
correctness bug was a doc/query mismatch; ``/root/reference/REPORT.md:182-185``):

1. lowercase                                  (``preprocess_data.py:58``)
2. strip URLs/emails                          (``preprocess_data.py:59``)
3. non-``[a-z0-9\\s]`` -> space               (``preprocess_data.py:60``)
4. collapse whitespace                        (``preprocess_data.py:61``)
5. whitespace split — the reference calls ``nltk.word_tokenize`` with a
   documented fallback to ``str.split`` (``preprocess_data.py:63-66``);
   after step 3 the two differ only on NLTK's hard-coded contraction
   splits, and this engine standardizes on the fallback (SURVEY.md §7.2)
6. drop pure digits and tokens shorter than 2 (``preprocess_data.py:68``)
7. drop English stopwords                     (``preprocess_data.py:69``)
8. Porter-stem each token                     (``preprocess_data.py:70``)

There is also the boolean-aware query variant that preserves
``AND OR NOT ( )`` while stemming operands
(``measure_latency_datastores.py:45-60``) and the "raw" tokenizer used
only for word-frequency plots (``preprocess_data.py:54-55``).

Everything here is pure Python over builtin ``re`` — the same functions
are called from the pytest oracle (plain Python / pandas) and from the
Spark pandas UDFs (``elasticsearch_spark.functions.udfs``), which makes
the document and query pipelines byte-identical by construction.
"""

from __future__ import annotations

import re
from typing import List, Tuple

from .porter import stem
from .stopwords import ENGLISH_STOPWORDS

_URL_EMAIL_RE = re.compile(r"http\S+|www\S+|https\S+|\S+@\S+")
_NON_ALNUM_RE = re.compile(r"[^a-z0-9\s]")
_WS_RE = re.compile(r"\s+")
_RAW_TOKEN_RE = re.compile(r"\b\w+\b")

# Token->stem memo (Zipf vocabularies make this ~always hit).  Bounded so
# an adversarial unbounded vocabulary cannot OOM a long-lived executor;
# pure cache, so byte-identity of the pipeline is unaffected.
_STEM_CACHE: dict = {}
_STEM_CACHE_MAX = 1_000_000


def _stem_cached(token: str) -> str:
    s = _STEM_CACHE.get(token)
    if s is None:
        s = stem(token)
        if len(_STEM_CACHE) < _STEM_CACHE_MAX:
            _STEM_CACHE[token] = s
    return s

BOOLEAN_OPERATORS = frozenset({"AND", "OR", "NOT"})
PRECEDENCE = {"OR": 1, "AND": 2, "NOT": 3}


def clean_text(text: str) -> str:
    """Steps 1-4: lowercase, strip urls/emails, punctuation -> space,
    collapse whitespace."""
    text = text.lower()
    text = _URL_EMAIL_RE.sub("", text)
    text = _NON_ALNUM_RE.sub(" ", text)
    return _WS_RE.sub(" ", text).strip()


def tokenize(text: str) -> List[str]:
    """Full document/query pipeline -> stemmed tokens (steps 1-8)."""
    out = []
    for token in clean_text(text).split():
        if token.isdigit() or len(token) < 2:
            continue
        if token in ENGLISH_STOPWORDS:
            continue
        out.append(_stem_cached(token))
    return out


def tokenize_raw(text: str) -> List[str]:
    """The reference's no-preprocessing tokenizer (word-frequency plots
    only): ``re.findall(r'\\b\\w+\\b', text.lower())``."""
    return _RAW_TOKEN_RE.findall(text.lower())


def preprocess_query(query: str) -> List[str]:
    """Ranked-query preprocessing — identical to :func:`tokenize`
    (``query_preprocessing.py:35-69``)."""
    return tokenize(query)


def preprocess_boolean_query(query: str, stem_tokens: bool = True) -> Tuple[str, ...]:
    """Boolean-aware preprocessing: preserve ``AND OR NOT ( )`` (upper-
    cased), stem alphanumeric non-stopword operands, drop the rest
    (``measure_latency_datastores.py:45-60``).

    The reference tokenizes with ``nltk.word_tokenize`` here, whose only
    relevant behavior on boolean queries is splitting parentheses off
    words; reproduced with a regex split.

    ``stem_tokens=False`` keeps operands literal (no stem, no stopword
    drop) — used over pretokenized corpora such as the driver's
    ``documents`` table, where index terms are raw whitespace tokens.
    """
    tokens = re.findall(r"\(|\)|[^\s()]+", query.lower())
    processed = []
    for word in tokens:
        if word.upper() in BOOLEAN_OPERATORS or word in ("(", ")"):
            processed.append(word.upper())
        elif not stem_tokens:
            processed.append(word)
        elif word.isalnum() and word not in ENGLISH_STOPWORDS:
            processed.append(_stem_cached(word))
    return tuple(processed)


def is_boolean_query(query: str) -> bool:
    """Dispatch rule: route to the boolean evaluator iff the raw query
    contains an operator token or parenthesis
    (``selfindex_i0_no_optimization.py:126-132``)."""
    return bool(re.search(r"\bAND\b|\bOR\b|\bNOT\b|\(|\)", query))


# ------------------------------------------- search_as_you_type shingles

SHINGLE_SEP = "_"


def shingle_tokens(tokens, n: int, sep: str = SHINGLE_SEP) -> List[str]:
    """ES shingle filter over an analyzed token stream: the size-``n``
    shingles in order (``[a,b,c]`` at n=2 → ``["a_b", "b_c"]``).  ES
    joins shingles with a space; our index terms are whitespace-free
    (pretokenized sub-indexes split on whitespace), so the separator is
    ``_`` — a pure representation change.  Shared by the Spark build
    UDF, the query-side stream builder and the oracle, so the three
    cannot drift.  n=1 returns the stream itself."""
    tokens = list(tokens)
    if n <= 1:
        return tokens
    return [sep.join(tokens[i:i + n]) for i in range(len(tokens) - n + 1)]


def sayt_query_stream(terms, n: int, sep: str = SHINGLE_SEP) -> List[str]:
    """The query-side token stream a ``search_as_you_type`` subfield of
    shingle size ``n`` sees for analyzed query ``terms``: the size-n
    shingles when the query is long enough, else ONE partial shingle of
    everything typed so far (its trailing-prefix role in
    match_bool_prefix reproduces ES's ``_index_prefix`` edge-n-gram
    matching — our dictionary range scan plays the prefix index's
    part)."""
    terms = list(terms)
    if not terms:
        return []
    if len(terms) < n:
        return [sep.join(terms)]
    return shingle_tokens(terms, n, sep)

"""Driver-gate query registry: Spark plans + DuckDB oracle SQL.

Each entry pairs a PySpark DataFrame plan with an ANSI-SQL oracle that
DuckDB runs on the same parquet tables (``/root/testdata/sf*/``) — the
driver compares row counts, schemas, and order-insensitive value hashes.
Float columns are rounded to 6 decimals ON BOTH SIDES and orderings use
the rounded value + id tie-break, so cross-engine last-ulp differences
cannot flip row sets.

The ``documents`` table is pretokenized (single-space lowercase words),
so these queries use whitespace tokenization; the full preprocessing
pipeline (Porter, stopwords, HTML) is exercised by the pytest oracle
suite instead (DuckDB cannot express a Porter stemmer).

Coverage map to SURVEY.md §2: corpus/doc stats (B1,B5), dictionary+idf
(B4,B6), x=3 TF-IDF postings (B7), word frequency + Zipf (A1-A3),
postings (B2), BM25/TF-IDF ranked top-k incl. parameter variants
(R1-R5,R7), boolean AND/OR/NOT/complex (Q1-Q6), the engine-backed path
(full build §3.3 + query §3.1), segment-merge dictionary (B14), plus the
training-data-pipeline operators: exact/minhash/simhash/ngram-jaccard
dedup, embedding cosine top-k, language-ID, quality scoring, token
counting, fingerprinting, and the events rollup.
"""

from __future__ import annotations

import hashlib
import os
import tempfile
from typing import Callable, Dict

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

QUERIES: Dict[str, Callable[[SparkSession, str], DataFrame]] = {}
ORACLE_SQL: Dict[str, str] = {}

K1, B = 1.2, 0.75
Q1_TERMS = ["spark", "dup", "merge"]
Q2_TERMS = ["hash", "join", "window", "order", "dup"]
PHRASE_2 = ["table", "hash"]
PHRASE_3 = ["fast", "batch", "merge"]


def register(name: str, sql: str | None = None):
    def deco(fn):
        QUERIES[name] = fn
        if sql is not None:
            ORACLE_SQL[name] = sql
        return fn

    return deco


# --------------------------------------------------------------- helpers

def _docs(spark: SparkSession, sf_dir: str, lang: str | None = "en") -> DataFrame:
    df = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
    if lang:
        df = df.filter(F.col("lang") == lang)
    return df


def _tok(spark: SparkSession, sf_dir: str, lang: str | None = "en") -> DataFrame:
    return _docs(spark, sf_dir, lang).select(
        "doc_id", F.explode(F.split(F.col("text"), " ")).alias("term")
    )


def _dl(spark, sf_dir) -> DataFrame:
    return _tok(spark, sf_dir).groupBy("doc_id").agg(
        F.count("*").cast("long").alias("doc_len")
    )


def _corpus(spark, sf_dir) -> DataFrame:
    return _dl(spark, sf_dir).agg(
        F.count("*").cast("long").alias("n"),
        F.avg("doc_len").cast("double").alias("avgdl"),
    )


_TOK_CTE = """
tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term
        FROM documents WHERE lang = 'en'),
dl AS (SELECT doc_id, count(*)::BIGINT AS doc_len FROM tok GROUP BY doc_id),
corpus AS (SELECT count(*)::BIGINT AS n, avg(doc_len)::DOUBLE AS avgdl FROM dl)
"""


def _scored_df(spark, sf_dir, terms, k1=K1, b=B, method="bm25") -> DataFrame:
    """(doc_id, score) for a bag of query terms — the R7 SQL plan shape
    as DataFrame ops, idf computed in-plan."""
    tok = _tok(spark, sf_dir)
    tf = (
        tok.filter(F.col("term").isin(terms))
        .groupBy("term", "doc_id")
        .agg(F.count("*").cast("long").alias("tf"))
    )
    df_ = tf.groupBy("term").agg(F.count("*").cast("long").alias("df"))
    corpus = _corpus(spark, sf_dir)
    idf = df_.crossJoin(corpus).select(
        "term",
        F.log((F.col("n") + 1).cast("double") / (F.col("df") + 1).cast("double")).alias("idf"),
        "n",
        "avgdl",
    )
    j = (
        tf.join(idf, "term")
        .join(_dl(spark, sf_dir), "doc_id")
        .filter(F.col("idf") != 0)
    )
    if method == "bm25":
        score = F.col("idf") * (
            (F.col("tf") * (k1 + 1))
            / (F.col("tf") + k1 * (1 - b + b * (F.col("doc_len") / F.col("avgdl"))))
        )
    else:
        score = F.col("idf") * (F.col("tf").cast("double") / F.col("doc_len"))
    return j.withColumn("s", score).groupBy("doc_id").agg(F.sum("s").alias("score"))


def _topk(scored: DataFrame, k: int) -> DataFrame:
    return (
        scored.select("doc_id", F.round("score", 6).alias("score_r"))
        .orderBy(F.col("score_r").desc(), F.col("doc_id"))
        .limit(k)
    )


def _sql_terms(terms) -> str:
    return ",".join(f"'{t}'" for t in terms)


def _bm25_sql(terms, k1=K1, b=B, k=10, method="bm25") -> str:
    if method == "bm25":
        expr = (
            f"idf.idf * ((tf.tf * ({k1} + 1)) / "
            f"(tf.tf + {k1} * (1 - {b} + {b} * (dl.doc_len / corpus.avgdl))))"
        )
    else:
        expr = "idf.idf * (tf.tf::DOUBLE / dl.doc_len)"
    return f"""WITH {_TOK_CTE},
tf AS (SELECT term, doc_id, count(*)::BIGINT AS tf FROM tok
       WHERE term IN ({_sql_terms(terms)}) GROUP BY term, doc_id),
df AS (SELECT term, count(*)::BIGINT AS df FROM tf GROUP BY term),
idf AS (SELECT term, ln((corpus.n + 1)::DOUBLE / (df.df + 1)::DOUBLE) AS idf FROM df, corpus),
scored AS (SELECT tf.doc_id, sum({expr}) AS score
           FROM tf JOIN idf ON tf.term = idf.term
                   JOIN dl ON tf.doc_id = dl.doc_id, corpus
           WHERE idf.idf <> 0
           GROUP BY tf.doc_id)
SELECT doc_id, round(score, 6) AS score_r FROM scored
ORDER BY round(score, 6) DESC, doc_id LIMIT {k}"""


def _phrase_sql(terms, last_prefix: str = "") -> str:
    """Adjacency oracle; with ``last_prefix`` the phrase gains one more
    position that may hold ANY term starting with the prefix — the
    ``match_phrase_prefix`` oracle (the engine caps expansions at 50;
    gate prefixes are chosen to expand below the cap, so LIKE equals
    the capped expansion set)."""
    n = len(terms) + (1 if last_prefix else 0)
    joins = " ".join(
        f"JOIN pos p{i} ON p{i}.doc_id = p0.doc_id AND p{i}.i = p0.i + {i}"
        for i in range(1, n)
    )
    conds = " AND ".join(f"p{i}.term = '{t}'" for i, t in enumerate(terms))
    if last_prefix:
        like = f"p{n - 1}.term LIKE '{last_prefix}%'"
        conds = f"{conds} AND {like}" if conds else like
    return f"""WITH t AS (SELECT doc_id, string_split(text, ' ') AS L
       FROM documents WHERE lang = 'en'),
pos AS (SELECT doc_id, L[i] AS term, i
        FROM (SELECT doc_id, L, generate_subscripts(L, 1) AS i FROM t))
SELECT p0.doc_id, count(*)::BIGINT AS n_occ
FROM pos p0 {joins}
WHERE {conds}
GROUP BY p0.doc_id"""


# ----------------------------------------------------- corpus statistics

@register(
    "corpus_stats",
    f"""WITH {_TOK_CTE}
SELECT n AS doc_count, round(avgdl, 6) AS avg_doc_len_r,
       (SELECT count(*) FROM tok)::BIGINT AS total_tokens
FROM corpus""",
)
def corpus_stats(spark, sf_dir):
    tok_cnt = _tok(spark, sf_dir).count()
    return _corpus(spark, sf_dir).select(
        F.col("n").alias("doc_count"),
        F.round("avgdl", 6).alias("avg_doc_len_r"),
        F.lit(tok_cnt).cast("long").alias("total_tokens"),
    )


@register(
    "doc_stats",
    f"""WITH {_TOK_CTE}
SELECT doc_id, count(*)::BIGINT AS doc_len,
       count(DISTINCT term)::BIGINT AS unique_terms
FROM tok GROUP BY doc_id""",
)
def doc_stats(spark, sf_dir):
    return _tok(spark, sf_dir).groupBy("doc_id").agg(
        F.count("*").cast("long").alias("doc_len"),
        F.countDistinct("term").cast("long").alias("unique_terms"),
    )


@register(
    "dictionary",
    f"""WITH {_TOK_CTE}
SELECT term, count(DISTINCT doc_id)::BIGINT AS df,
       round(ln((corpus.n + 1)::DOUBLE / (count(DISTINCT doc_id) + 1)::DOUBLE), 6) AS idf_r
FROM tok, corpus GROUP BY term, corpus.n""",
)
def dictionary(spark, sf_dir):
    tok = _tok(spark, sf_dir)
    corpus = _corpus(spark, sf_dir)
    return (
        tok.groupBy("term")
        .agg(F.countDistinct("doc_id").cast("long").alias("df"))
        .crossJoin(corpus)
        .select(
            "term",
            "df",
            F.round(
                F.log((F.col("n") + 1).cast("double") / (F.col("df") + 1).cast("double")), 6
            ).alias("idf_r"),
        )
    )


@register(
    "wordfreq_top20",
    f"""WITH {_TOK_CTE}
SELECT term, count(*)::BIGINT AS cnt FROM tok GROUP BY term
ORDER BY cnt DESC, term LIMIT 20""",
)
def wordfreq_top20(spark, sf_dir):
    return (
        _tok(spark, sf_dir)
        .groupBy("term")
        .agg(F.count("*").cast("long").alias("cnt"))
        .orderBy(F.col("cnt").desc(), F.col("term"))
        .limit(20)
    )


@register(
    "zipf_rank",
    f"""WITH {_TOK_CTE},
freq AS (SELECT term, count(*)::BIGINT AS cnt FROM tok GROUP BY term)
SELECT term, cnt, row_number() OVER (ORDER BY cnt DESC, term)::BIGINT AS rnk FROM freq""",
)
def zipf_rank(spark, sf_dir):
    """Global frequency rank WITHOUT a no-partition window (which would
    funnel the whole vocabulary — ~5·10^8 terms at web scale — through
    one task): range-partition + broadcast per-partition offsets
    (operators/rank.py)."""
    from ..operators.rank import zip_with_rank

    freq = _tok(spark, sf_dir).groupBy("term").agg(F.count("*").cast("long").alias("cnt"))
    ranked = zip_with_rank(freq, [F.col("cnt").desc(), F.col("term")], "rnk")
    return ranked.select("term", "cnt", "rnk")


@register(
    "vocab_stats",
    f"""WITH {_TOK_CTE}
SELECT count(DISTINCT term)::BIGINT AS unique_terms,
       count(*)::BIGINT AS total_tokens,
       round(sum(length(term))::DOUBLE / count(*), 6) AS avg_token_len_r
FROM tok""",
)
def vocab_stats(spark, sf_dir):
    return _tok(spark, sf_dir).agg(
        F.countDistinct("term").cast("long").alias("unique_terms"),
        F.count("*").cast("long").alias("total_tokens"),
        F.round(F.sum(F.length("term")).cast("double") / F.count("*"), 6).alias(
            "avg_token_len_r"
        ),
    )


# ------------------------------------------------------------ postings

@register(
    "postings_sample",
    f"""WITH {_TOK_CTE}
SELECT term, doc_id, count(*)::BIGINT AS tf FROM tok
WHERE term IN ({_sql_terms(Q1_TERMS)}) GROUP BY term, doc_id""",
)
def postings_sample(spark, sf_dir):
    return (
        _tok(spark, sf_dir)
        .filter(F.col("term").isin(Q1_TERMS))
        .groupBy("term", "doc_id")
        .agg(F.count("*").cast("long").alias("tf"))
    )


@register(
    "tfidf_postings_x3",
    f"""WITH {_TOK_CTE},
tf AS (SELECT term, doc_id, count(*)::BIGINT AS tf FROM tok
       WHERE term IN ({_sql_terms(Q1_TERMS)}) GROUP BY term, doc_id),
df AS (SELECT term, count(*)::BIGINT AS df FROM tf GROUP BY term)
SELECT tf.term, tf.doc_id,
       round((tf.tf::DOUBLE / dl.doc_len) * ln(corpus.n::DOUBLE / df.df), 6) AS score_r
FROM tf JOIN df ON tf.term = df.term JOIN dl ON tf.doc_id = dl.doc_id, corpus""",
)
def tfidf_postings_x3(spark, sf_dir):
    """The x=3 precomputed-TF-IDF posting variant, idf = ln(N/df)
    (reference ``plot_c_info_type.py:68-76``)."""
    tok = _tok(spark, sf_dir)
    tf = (
        tok.filter(F.col("term").isin(Q1_TERMS))
        .groupBy("term", "doc_id")
        .agg(F.count("*").cast("long").alias("tf"))
    )
    df_ = tf.groupBy("term").agg(F.count("*").cast("long").alias("df"))
    return (
        tf.join(df_, "term")
        .join(_dl(spark, sf_dir), "doc_id")
        .crossJoin(_corpus(spark, sf_dir))
        .select(
            "term",
            "doc_id",
            F.round(
                (F.col("tf").cast("double") / F.col("doc_len"))
                * F.log(F.col("n").cast("double") / F.col("df")),
                6,
            ).alias("score_r"),
        )
    )


# -------------------------------------------------------------- ranked

@register("bm25_topk_q1", _bm25_sql(Q1_TERMS, k=10))
def bm25_topk_q1(spark, sf_dir):
    return _topk(_scored_df(spark, sf_dir, Q1_TERMS), 10)


@register("bm25_topk_q2", _bm25_sql(Q2_TERMS, k=20))
def bm25_topk_q2(spark, sf_dir):
    return _topk(_scored_df(spark, sf_dir, Q2_TERMS), 20)


@register("bm25_topk_params", _bm25_sql(Q1_TERMS, k1=2.0, b=0.5, k=10))
def bm25_topk_params(spark, sf_dir):
    """Parameter-sensitivity variant (reference Plot D k1=2.0 / b=0.5)."""
    return _topk(_scored_df(spark, sf_dir, Q1_TERMS, k1=2.0, b=0.5), 10)


@register("tfidf_topk", _bm25_sql(Q1_TERMS, k=10, method="tfidf"))
def tfidf_topk(spark, sf_dir):
    return _topk(_scored_df(spark, sf_dir, Q1_TERMS, method="tfidf"), 10)


@register(
    "bm25_total_hits_q1",
    f"""WITH {_TOK_CTE},
tf AS (SELECT term, doc_id, count(*)::BIGINT AS tf FROM tok
       WHERE term IN ({_sql_terms(Q1_TERMS)}) GROUP BY term, doc_id),
df AS (SELECT term, count(*)::BIGINT AS df FROM tf GROUP BY term),
idf AS (SELECT term, ln((corpus.n + 1)::DOUBLE / (df.df + 1)::DOUBLE) AS idf FROM df, corpus)
SELECT count(DISTINCT tf.doc_id)::BIGINT AS total_hits
FROM tf JOIN idf ON tf.term = idf.term WHERE idf.idf <> 0""",
)
def bm25_total_hits_q1(spark, sf_dir):
    return _scored_df(spark, sf_dir, Q1_TERMS).agg(
        F.count("*").cast("long").alias("total_hits")
    )


# -------------------------------------------------------------- boolean

def _term_docs_sql(term: str) -> str:
    return f"SELECT DISTINCT doc_id FROM tok WHERE term = '{term}'"


@register(
    "boolean_and",
    f"""WITH {_TOK_CTE}
SELECT doc_id FROM (({_term_docs_sql('spark')}) INTERSECT ({_term_docs_sql('dup')}))
ORDER BY doc_id""",
)
def boolean_and(spark, sf_dir):
    return _boolean(spark, sf_dir, "spark AND dup")


@register(
    "boolean_or",
    f"""WITH {_TOK_CTE}
SELECT doc_id FROM (({_term_docs_sql('dup')}) UNION ({_term_docs_sql('query')}))
ORDER BY doc_id""",
)
def boolean_or(spark, sf_dir):
    return _boolean(spark, sf_dir, "dup OR query")


@register(
    "boolean_not",
    f"""WITH {_TOK_CTE}
SELECT doc_id FROM (({_term_docs_sql('spark')}) EXCEPT ({_term_docs_sql('dup')}))
ORDER BY doc_id""",
)
def boolean_not(spark, sf_dir):
    return _boolean(spark, sf_dir, "spark NOT dup")


@register(
    "boolean_complex",
    f"""WITH {_TOK_CTE}
SELECT doc_id FROM (
  ((({_term_docs_sql('spark')}) UNION ({_term_docs_sql('dup')}))
   INTERSECT ({_term_docs_sql('merge')}))
  EXCEPT ({_term_docs_sql('window')}))
ORDER BY doc_id""",
)
def boolean_complex(spark, sf_dir):
    return _boolean(spark, sf_dir, "(spark OR dup) AND merge NOT window")


def _boolean(spark, sf_dir, query: str) -> DataFrame:
    from ..functions.tokenizer import preprocess_boolean_query
    from ..operators.boolean import evaluate_rpn_df
    from ..oracle.engine import to_rpn

    tok = _tok(spark, sf_dir)
    rpn = to_rpn(preprocess_boolean_query(query, stem_tokens=False))
    out = evaluate_rpn_df(
        rpn,
        lambda t: tok.filter(F.col("term") == t).select("doc_id").distinct(),
        lambda: _docs(spark, sf_dir).select("doc_id"),
    )
    return out.orderBy("doc_id")


# --------------------------------------------------------------- phrase

@register("phrase_bigram", _phrase_sql(PHRASE_2))
def phrase_bigram(spark, sf_dir):
    """Exact-phrase match over positional postings (the reference
    grammar's PHRASE, README.md:39-48 — spec'd there, implemented
    here): consecutive-position intersection, all higher-order
    functions, no UDF."""
    from ..operators.phrase import phrase_query

    d = _docs(spark, sf_dir).select(
        "doc_id", F.split(F.col("text"), " ").alias("tokens")
    )
    return phrase_query(d, PHRASE_2).select(
        "doc_id", F.col("n_occurrences").alias("n_occ")
    )


@register("phrase_trigram", _phrase_sql(PHRASE_3))
def phrase_trigram(spark, sf_dir):
    from ..operators.phrase import phrase_query

    d = _docs(spark, sf_dir).select(
        "doc_id", F.split(F.col("text"), " ").alias("tokens")
    )
    return phrase_query(d, PHRASE_3).select(
        "doc_id", F.col("n_occurrences").alias("n_occ")
    )


# ------------------------------------------------- engine-backed queries

_ENGINE_CACHE: Dict[str, object] = {}


def _engine(spark, sf_dir):
    """Build (once) a real on-disk index over the documents table and
    return a QueryEngine — exercises the full build+query pipeline."""
    from ..operators.build import IndexBuilder, IndexConfig
    from ..operators.query import QueryEngine

    cfg = IndexConfig(
        n_buckets=8, doc_range_bits=6, lang="en", pretokenized=True, use_html=False,
        positional=True, store_tfidf=True,
    )
    key = os.path.abspath(sf_dir) + repr(cfg)
    if key not in _ENGINE_CACHE:
        idx_dir = os.path.join(
            tempfile.gettempdir(),
            "es_spark_entry_idx_" + hashlib.md5(key.encode()).hexdigest()[:10],
        )
        builder = IndexBuilder(spark, idx_dir, cfg)
        builder.build(spark.read.parquet(os.path.join(sf_dir, "documents.parquet")))
        _ENGINE_CACHE[key] = QueryEngine(spark, idx_dir)
    return _ENGINE_CACHE[key]


def _mf_engine(spark, sf_dir):
    """Build (once) a MULTI-FIELD index — per-field postings under
    ``fields/{title,text}/`` sharing one doc-id space — and return a
    MultiMatchEngine (operators/multifield.py).  The ``title`` field is
    derived deterministically as the first 3 tokens of ``text`` (the
    documents table has no title column), expressible identically in
    DuckDB as ``string_split(text, ' ')[1:3]``."""
    from ..operators.build import IndexConfig
    from ..operators.multifield import MultiFieldIndexBuilder, MultiMatchEngine

    cfg = IndexConfig(
        n_buckets=8, doc_range_bits=6, lang="en", pretokenized=True,
        use_html=False, positional=True,
    )
    key = os.path.abspath(sf_dir) + repr(cfg) + ":multifield"
    if key not in _ENGINE_CACHE:
        idx_dir = os.path.join(
            tempfile.gettempdir(),
            "es_spark_entry_idx_" + hashlib.md5(key.encode()).hexdigest()[:10],
        )
        if not os.path.exists(os.path.join(idx_dir, "multifield.json")):
            docs = spark.read.parquet(
                os.path.join(sf_dir, "documents.parquet")
            ).withColumn(
                "title",
                F.array_join(F.slice(F.split(F.col("text"), " "), 1, 3), " "),
            )
            MultiFieldIndexBuilder(
                spark, idx_dir, ["title", "text"], cfg
            ).build(docs)
        _ENGINE_CACHE[key] = MultiMatchEngine(spark, idx_dir)
    return _ENGINE_CACHE[key]


def _multi_match_sql(terms, boosts=((2.0, 3), (1.0, 0)), tie_breaker=0.0,
                     match_type="best_fields", k1=K1, b=B, k=10) -> str:
    """DuckDB oracle for multi_match over the derived-title field pair:
    per-field token CTEs (title = first ``n_tok`` tokens, 0 = all), each
    field scored with ITS OWN df/avgdl/doc_len (ES per-field statistics),
    × boost, combined best_fields (max + tie × rest) or most_fields
    (sum)."""
    parts = []
    for i, (boost, n_tok) in enumerate(boosts):
        toks = (f"string_split(text, ' ')[1:{n_tok}]" if n_tok
                else "string_split(text, ' ')")
        parts.append(f"""
tok{i} AS (SELECT doc_id, unnest({toks}) AS term
           FROM documents WHERE lang = 'en'),
dl{i} AS (SELECT doc_id, count(*)::BIGINT AS doc_len FROM tok{i} GROUP BY doc_id),
c{i} AS (SELECT count(*)::BIGINT AS n, avg(doc_len)::DOUBLE AS avgdl FROM dl{i}),
tf{i} AS (SELECT term, doc_id, count(*)::BIGINT AS tf FROM tok{i}
          WHERE term IN ({_sql_terms(terms)}) GROUP BY term, doc_id),
dfq{i} AS (SELECT term, count(*)::BIGINT AS df FROM tf{i} GROUP BY term),
idf{i} AS (SELECT term, ln((c{i}.n + 1)::DOUBLE / (dfq{i}.df + 1)::DOUBLE) AS idf
           FROM dfq{i}, c{i}),
s{i} AS (SELECT tf.doc_id,
                {boost} * sum(idf.idf * ((tf.tf * ({k1} + 1)) /
                    (tf.tf + {k1} * (1 - {b} + {b} * (dl.doc_len / c{i}.avgdl))))) AS s
         FROM tf{i} tf JOIN idf{i} idf ON tf.term = idf.term
                       JOIN dl{i} dl ON tf.doc_id = dl.doc_id, c{i}
         WHERE idf.idf <> 0
         GROUP BY tf.doc_id)""")
    unions = " UNION ALL ".join(
        f"SELECT doc_id, s FROM s{i}" for i in range(len(boosts))
    )
    comb = ("sum(s)" if match_type == "most_fields"
            else f"max(s) + {tie_breaker} * (sum(s) - max(s))")
    return f"""WITH {','.join(parts)},
u AS ({unions}),
comb AS (SELECT doc_id, {comb} AS score FROM u GROUP BY doc_id)
SELECT doc_id, round(score, 6) AS score_r FROM comb
ORDER BY score_r DESC, doc_id LIMIT {k}"""


MULTI_MATCH_TERMS = ["spark", "table", "merge"]


@register("engine_multi_match_topk", _multi_match_sql(MULTI_MATCH_TERMS))
def engine_multi_match_topk(spark, sf_dir):
    """The reference's actual ES ground-truth query shape
    (elasticsearch_indexer.py:122-149): ``multi_match`` best_fields
    over ``title^2, text`` — per-field BM25 with field-local statistics
    from the per-field sub-indexes, per-doc max across fields."""
    eng = _mf_engine(spark, sf_dir)
    plan = eng.multi_match_plan(
        " ".join(MULTI_MATCH_TERMS), fields=["title^2", "text"]
    )
    return _topk(plan, 10)


@register(
    "engine_multi_match_tie",
    _multi_match_sql(MULTI_MATCH_TERMS, tie_breaker=0.3),
)
def engine_multi_match_tie(spark, sf_dir):
    """best_fields with ``tie_breaker=0.3``: best + 0.3 × (sum − best)
    per doc — the dis_max-style blend ES applies when secondary fields
    should contribute."""
    eng = _mf_engine(spark, sf_dir)
    plan = eng.multi_match_plan(
        " ".join(MULTI_MATCH_TERMS), fields=["title^2", "text"],
        tie_breaker=0.3,
    )
    return _topk(plan, 10)


def _multi_match_phrase_sql(terms, boosts=((2.0, 3), (1.0, 0)),
                            tie_breaker=0.0, k1=K1, b=B, k=10) -> str:
    """DuckDB oracle for multi_match ``type: phrase`` over the derived
    title/text pair: per field, adjacency phrase counts scored the
    Lucene way (summed member idf × BM25 saturation of phrase freq,
    field-local statistics) × boost, combined dis_max-style."""
    n = len(terms)
    parts = []
    for i, (boost, n_tok) in enumerate(boosts):
        toks = (f"string_split(text, ' ')[1:{n_tok}]" if n_tok
                else "string_split(text, ' ')")
        joins = " ".join(
            f"JOIN pos{i} p{j} ON p{j}.doc_id = p0.doc_id AND p{j}.i = p0.i + {j}"
            for j in range(1, n)
        )
        conds = " AND ".join(f"p{j}.term = '{t}'" for j, t in enumerate(terms))
        parts.append(f"""
tok{i} AS (SELECT doc_id, unnest({toks}) AS term
           FROM documents WHERE lang = 'en'),
dl{i} AS (SELECT doc_id, count(*)::BIGINT AS doc_len FROM tok{i} GROUP BY doc_id),
c{i} AS (SELECT count(*)::BIGINT AS n, avg(doc_len)::DOUBLE AS avgdl FROM dl{i}),
pos{i} AS (SELECT doc_id, L[i] AS term, i
           FROM (SELECT doc_id, L, generate_subscripts(L, 1) AS i
                 FROM (SELECT doc_id, {toks} AS L
                       FROM documents WHERE lang = 'en'))),
m{i} AS (SELECT p0.doc_id, count(*)::BIGINT AS n_occ
         FROM pos{i} p0 {joins} WHERE {conds} GROUP BY p0.doc_id),
sidf{i} AS (SELECT sum(ln((c{i}.n + 1)::DOUBLE / (x.df + 1)::DOUBLE)) AS v
            FROM (SELECT term, count(DISTINCT doc_id)::BIGINT AS df FROM tok{i}
                  WHERE term IN ({_sql_terms(terms)}) GROUP BY term) x, c{i}),
s{i} AS (SELECT m.doc_id,
                {boost} * sidf{i}.v * ((m.n_occ * ({k1} + 1)) /
                    (m.n_occ + {k1} * (1 - {b} + {b} * (dl.doc_len / c{i}.avgdl)))) AS s
         FROM m{i} m JOIN dl{i} dl ON m.doc_id = dl.doc_id, sidf{i}, c{i})""")
    unions = " UNION ALL ".join(
        f"SELECT doc_id, s FROM s{i}" for i in range(len(boosts))
    )
    return f"""WITH {','.join(parts)},
u AS ({unions}),
comb AS (SELECT doc_id, max(s) + {tie_breaker} * (sum(s) - max(s)) AS score
         FROM u GROUP BY doc_id)
SELECT doc_id, round(score, 6) AS score_r FROM comb
ORDER BY score_r DESC, doc_id LIMIT {k}"""


@register("engine_multi_match_phrase", _multi_match_phrase_sql(PHRASE_2))
def engine_multi_match_phrase(spark, sf_dir):
    """ES multi_match ``type: phrase`` over title^2/text: each field
    runs the scored match_phrase (positional kernel + Lucene pseudo-term
    BM25 with field-local stats), combined dis_max-style per doc."""
    eng = _mf_engine(spark, sf_dir)
    plan = eng.multi_match_plan(
        " ".join(PHRASE_2), fields=["title^2", "text"], match_type="phrase"
    )
    return _topk(plan, 10)


@register(
    "engine_multi_match_most_fields",
    _multi_match_sql(MULTI_MATCH_TERMS, match_type="most_fields"),
)
def engine_multi_match_most_fields(spark, sf_dir):
    """``most_fields``: per-field match scores SUM per doc (ES semantics
    for 'same text analyzed multiple ways')."""
    eng = _mf_engine(spark, sf_dir)
    plan = eng.multi_match_plan(
        " ".join(MULTI_MATCH_TERMS), fields=["title^2", "text"],
        match_type="most_fields",
    )
    return _topk(plan, 10)


def _multi_match_bool_prefix_sql(full, prefix, boosts=((2.0, 3), (1.0, 0)),
                                 operator="or", msm=None, max_exp=50,
                                 k1=K1, b=B, k=10) -> str:
    """DuckDB oracle for multi_match ``type: bool_prefix`` over the
    derived-title field pair: per field, the full terms score through
    the usual field-local BM25 CTE, the trailing prefix is a
    constant-score 1.0 clause over that FIELD's own dictionary
    continuations (term order, capped), operator/msm filter on the
    per-field matched-clause count; per-doc the field scores SUM
    (most_fields-style, the documented ES bool_prefix combine)."""
    n_terms = len(set(full))
    parts = []
    for i, (boost, n_tok) in enumerate(boosts):
        toks = (f"string_split(text, ' ')[1:{n_tok}]" if n_tok
                else "string_split(text, ' ')")
        if operator == "and":
            req = (f"nt >= (SELECT count(*) FROM idf{i} WHERE idf <> 0) + 1 "
                   f"AND (SELECT count(*) FROM dfq{i}) = {n_terms} "
                   f"AND EXISTS (SELECT 1 FROM expd{i})")
        elif msm is not None:
            req = (f"nt >= greatest({int(msm)} - "
                   f"(SELECT count(*) FROM idf{i} WHERE idf = 0), 0)")
        else:
            req = "nt >= 0"
        parts.append(f"""
tok{i} AS (SELECT doc_id, unnest({toks}) AS term
           FROM documents WHERE lang = 'en'),
dl{i} AS (SELECT doc_id, count(*)::BIGINT AS doc_len FROM tok{i} GROUP BY doc_id),
c{i} AS (SELECT count(*)::BIGINT AS n, avg(doc_len)::DOUBLE AS avgdl FROM dl{i}),
tf{i} AS (SELECT term, doc_id, count(*)::BIGINT AS tf FROM tok{i}
          WHERE term IN ({_sql_terms(full)}) GROUP BY term, doc_id),
dfq{i} AS (SELECT term, count(*)::BIGINT AS df FROM tf{i} GROUP BY term),
idf{i} AS (SELECT term, ln((c{i}.n + 1)::DOUBLE / (dfq{i}.df + 1)::DOUBLE) AS idf
           FROM dfq{i}, c{i}),
expd{i} AS (SELECT DISTINCT term FROM tok{i} WHERE term LIKE '{prefix}%'
            ORDER BY term LIMIT {int(max_exp)}),
sc{i} AS (SELECT tf.doc_id,
                 sum(idf.idf * ((tf.tf * ({k1} + 1)) /
                     (tf.tf + {k1} * (1 - {b} + {b} * (dl.doc_len / c{i}.avgdl))))) AS score,
                 count(*)::BIGINT AS nt
          FROM tf{i} tf JOIN idf{i} idf ON tf.term = idf.term
                        JOIN dl{i} dl ON tf.doc_id = dl.doc_id, c{i}
          WHERE idf.idf <> 0
          GROUP BY tf.doc_id),
pd{i} AS (SELECT DISTINCT doc_id FROM tok{i}
          WHERE term IN (SELECT term FROM expd{i})),
s{i} AS (SELECT doc_id, {boost} * score AS s FROM (
           SELECT doc_id, sum(score) AS score, sum(nt)::BIGINT AS nt
           FROM (SELECT doc_id, score, nt FROM sc{i}
                 UNION ALL
                 SELECT doc_id, 1.0 AS score, 1::BIGINT AS nt FROM pd{i})
           GROUP BY doc_id)
         WHERE {req})""")
    unions = " UNION ALL ".join(
        f"SELECT doc_id, s FROM s{i}" for i in range(len(boosts))
    )
    return f"""WITH {','.join(parts)},
u AS ({unions}),
comb AS (SELECT doc_id, sum(s) AS score FROM u GROUP BY doc_id)
SELECT doc_id, round(score, 6) AS score_r FROM comb
ORDER BY score_r DESC, doc_id LIMIT {k}"""


@register(
    "engine_multi_match_bool_prefix",
    _multi_match_bool_prefix_sql(["spark", "table"], "me", msm=2),
)
def engine_multi_match_bool_prefix(spark, sf_dir):
    """ES multi_match ``type: bool_prefix`` (search-as-you-type) over
    title^2/text: 'spark table me' — per field, scored term clauses +
    a constant-score prefix clause expanded against THAT field's own
    dictionary, minimum_should_match=2 per field, field scores SUMMED
    per doc (the documented most_fields-style bool_prefix combine)."""
    eng = _mf_engine(spark, sf_dir)
    plan = eng.multi_match_plan(
        "spark table me", fields=["title^2", "text"],
        match_type="bool_prefix", minimum_should_match=2,
    )
    return _topk(plan, 10)


def _sayt_sql(terms, max_shingle=3, operator="or", msm=None,
              k1=K1, b=B, k=10, max_exp=50) -> str:
    """DuckDB oracle for the ES ``search_as_you_type`` query shape over
    the documents table: subfields = the token stream (n=1) plus its
    2..max_shingle ``_``-joined shingle streams; each subfield runs a
    ``match_bool_prefix`` against ITS OWN query stream (size-n shingles
    of the typed words, or the partial shingle while fewer than n are
    typed — the shared ``sayt_query_stream`` spec generates both sides)
    and the subfield scores SUM per doc.  Per-subfield avgdl divides by
    ALL docs (a doc shorter than n has zero shingles but still counts),
    matching the engine's corpus stats."""
    from ..functions.tokenizer import sayt_query_stream

    sizes = list(range(1, int(max_shingle) + 1))
    toks = ["""
tok1 AS (SELECT doc_id, unnest(L) AS term FROM t)"""]
    for n in sizes[1:]:
        expr = " || '_' || ".join(f"L[i+{j}]" for j in range(n))
        toks.append(f"""
tok{n} AS (SELECT doc_id, {expr} AS term
           FROM (SELECT doc_id, L, generate_subscripts(L, 1) AS i FROM t)
           WHERE i + {n - 1} <= len(L))""")
    parts, unions = [], []
    for n in sizes:
        stream = sayt_query_stream(terms, n)
        full, prefix = stream[:-1], stream[-1]
        n_terms = len(set(full))
        tf_cond = (f"term IN ({_sql_terms(full)})" if full else "FALSE")
        if operator == "and":
            req = (f"nt >= (SELECT count(*) FROM idf{n} WHERE idf <> 0) + 1 "
                   f"AND (SELECT count(*) FROM dfq{n}) = {n_terms} "
                   f"AND EXISTS (SELECT 1 FROM expd{n})")
        elif msm is not None:
            req = (f"nt >= greatest({int(msm)} - "
                   f"(SELECT count(*) FROM idf{n} WHERE idf = 0), 0)")
        else:
            req = "nt >= 0"
        parts.append(f"""
dl{n} AS (SELECT doc_id, count(*)::BIGINT AS doc_len FROM tok{n} GROUP BY doc_id),
c{n} AS (SELECT nall.n AS n,
                (SELECT coalesce(sum(doc_len), 0)::DOUBLE FROM dl{n}) / nall.n AS avgdl
         FROM nall),
tf{n} AS (SELECT term, doc_id, count(*)::BIGINT AS tf FROM tok{n}
          WHERE {tf_cond} GROUP BY term, doc_id),
dfq{n} AS (SELECT term, count(*)::BIGINT AS df FROM tf{n} GROUP BY term),
idf{n} AS (SELECT term, ln((c{n}.n + 1)::DOUBLE / (dfq{n}.df + 1)::DOUBLE) AS idf
           FROM dfq{n}, c{n}),
expd{n} AS (SELECT DISTINCT term FROM tok{n} WHERE term LIKE '{prefix}%'
            ORDER BY term LIMIT {int(max_exp)}),
sc{n} AS (SELECT tf.doc_id,
                 sum(idf.idf * ((tf.tf * ({k1} + 1)) /
                     (tf.tf + {k1} * (1 - {b} + {b} * (dl.doc_len / c{n}.avgdl))))) AS score,
                 count(*)::BIGINT AS nt
          FROM tf{n} tf JOIN idf{n} idf ON tf.term = idf.term
                        JOIN dl{n} dl ON tf.doc_id = dl.doc_id, c{n}
          WHERE idf.idf <> 0
          GROUP BY tf.doc_id),
pd{n} AS (SELECT DISTINCT doc_id FROM tok{n}
          WHERE term IN (SELECT term FROM expd{n})),
s{n} AS (SELECT doc_id, score AS s FROM (
           SELECT doc_id, sum(score) AS score, sum(nt)::BIGINT AS nt
           FROM (SELECT doc_id, score, nt FROM sc{n}
                 UNION ALL
                 SELECT doc_id, 1.0 AS score, 1::BIGINT AS nt FROM pd{n})
           GROUP BY doc_id)
         WHERE {req})""")
        unions.append(f"SELECT doc_id, s FROM s{n}")
    return f"""WITH t AS (SELECT doc_id, string_split(text, ' ') AS L
       FROM documents WHERE lang = 'en'),
nall AS (SELECT count(*)::BIGINT AS n FROM t),
{','.join(toks)},
{','.join(parts)},
u AS ({' UNION ALL '.join(unions)}),
comb AS (SELECT doc_id, sum(s) AS score FROM u GROUP BY doc_id)
SELECT doc_id, round(score, 6) AS score_r FROM comb
ORDER BY score_r DESC, doc_id LIMIT {k}"""


def _sayt_engine(spark, sf_dir):
    """Build (once) the search_as_you_type subfield family over the
    documents table (base stream + __2gram/__3gram shingle sub-indexes,
    one shared doc-id space) and return its engine."""
    from ..operators.build import IndexConfig
    from ..operators.sayt import (
        SearchAsYouTypeEngine,
        SearchAsYouTypeIndexBuilder,
    )

    cfg = IndexConfig(
        n_buckets=8, doc_range_bits=6, lang="en", pretokenized=True,
        use_html=False,
    )
    key = os.path.abspath(sf_dir) + repr(cfg) + ":sayt"
    if key not in _ENGINE_CACHE:
        idx_dir = os.path.join(
            tempfile.gettempdir(),
            "es_spark_entry_idx_" + hashlib.md5(key.encode()).hexdigest()[:10],
        )
        if not os.path.exists(os.path.join(idx_dir, "sayt.json")):
            docs = spark.read.parquet(
                os.path.join(sf_dir, "documents.parquet")
            )
            SearchAsYouTypeIndexBuilder(
                spark, idx_dir, field="text", config=cfg,
                max_shingle_size=3,
            ).build(docs)
        _ENGINE_CACHE[key] = SearchAsYouTypeEngine(spark, idx_dir)
    return _ENGINE_CACHE[key]


SAYT_TERMS = ["spark", "table", "me"]


@register("engine_search_as_you_type", _sayt_sql(SAYT_TERMS))
def engine_search_as_you_type(spark, sf_dir):
    """ES ``search_as_you_type``: 'spark table me' (trailing partial
    word) against the base/2gram/3gram shingle subfield family — each
    subfield runs match_bool_prefix on ITS OWN shingled stream
    ('spark_table' + prefix 'table_me', prefix 'spark_table_me'), the
    subfield scores SUM per doc (the documented multi_match bool_prefix
    combine)."""
    eng = _sayt_engine(spark, sf_dir)
    plan = eng.plan(" ".join(SAYT_TERMS))
    return _topk(plan, 10)


def _cross_fields_sql(terms, boosts=((2.0, 3), (1.0, 0)), tie_breaker=0.0,
                      operator="or", msm=None, k1=K1, b=B, k=10) -> str:
    """DuckDB oracle for multi_match ``type: cross_fields`` over the
    derived-title field pair — TERM-centric blending: blended df = MAX
    over fields, blended idf from the shared doc count, per-field BM25
    saturation with FIELD-LOCAL norms, per-term dis_max (tie_breaker),
    sum over terms, operator/msm filtering on the distinct matched-term
    count (terms are distinct here, so multiplicity is 1)."""
    parts = []
    for i, (boost, n_tok) in enumerate(boosts):
        toks = (f"string_split(text, ' ')[1:{n_tok}]" if n_tok
                else "string_split(text, ' ')")
        parts.append(f"""
tok{i} AS (SELECT doc_id, unnest({toks}) AS term
           FROM documents WHERE lang = 'en'),
dl{i} AS (SELECT doc_id, count(*)::BIGINT AS doc_len FROM tok{i} GROUP BY doc_id),
c{i} AS (SELECT count(*)::BIGINT AS n, avg(doc_len)::DOUBLE AS avgdl FROM dl{i}),
tf{i} AS (SELECT term, doc_id, count(*)::BIGINT AS tf FROM tok{i}
          WHERE term IN ({_sql_terms(terms)}) GROUP BY term, doc_id),
dfq{i} AS (SELECT term, count(*)::BIGINT AS df FROM tf{i} GROUP BY term)""")
    dfu = " UNION ALL ".join(
        f"SELECT term, df FROM dfq{i}" for i in range(len(boosts))
    )
    srows = []
    for i, (boost, _n_tok) in enumerate(boosts):
        srows.append(f"""
s{i} AS (SELECT tf.doc_id, tf.term,
                {boost} * bidf.idf * ((tf.tf * ({k1} + 1)) /
                    (tf.tf + {k1} * (1 - {b} + {b} * (dl.doc_len / c{i}.avgdl)))) AS s
         FROM tf{i} tf JOIN bidf ON tf.term = bidf.term
                       JOIN dl{i} dl ON tf.doc_id = dl.doc_id, c{i}
         WHERE bidf.idf <> 0)""")
    unions = " UNION ALL ".join(
        f"SELECT doc_id, term, s FROM s{i}" for i in range(len(boosts))
    )
    if operator == "and":
        # required = every distinct LIVE term; empty when any term is
        # indexed in no field (bdf only holds df>0 terms by construction)
        req = ("nt >= (SELECT count(*) FROM bidf WHERE idf <> 0) "
               f"AND (SELECT count(*) FROM bdf) = {len(set(terms))}")
    elif msm is not None:
        req = (f"nt >= greatest({int(msm)} - "
               "(SELECT count(*) FROM bidf WHERE idf = 0), 0)")
    else:
        req = "nt >= 0"
    return f"""WITH {','.join(parts)},
bdf AS (SELECT term, max(df)::BIGINT AS df FROM ({dfu}) GROUP BY term),
bidf AS (SELECT term, ln((c0.n + 1)::DOUBLE / (bdf.df + 1)::DOUBLE) AS idf
         FROM bdf, c0),
{','.join(srows)},
u AS ({unions}),
pt AS (SELECT doc_id, term,
              max(s) + {tie_breaker} * (sum(s) - max(s)) AS ts
       FROM u GROUP BY doc_id, term),
comb AS (SELECT doc_id, sum(ts) AS score, count(*)::BIGINT AS nt
         FROM pt GROUP BY doc_id)
SELECT doc_id, round(score, 6) AS score_r FROM comb
WHERE {req}
ORDER BY score_r DESC, doc_id LIMIT {k}"""


@register(
    "engine_multi_match_cross_fields",
    _cross_fields_sql(MULTI_MATCH_TERMS, tie_breaker=0.3),
)
def engine_multi_match_cross_fields(spark, sf_dir):
    """ES multi_match ``type: cross_fields`` over title^2/text —
    term-centric Lucene BlendedTermQuery semantics: per term the fields
    act as ONE field (max-df blended idf over the shared doc space),
    tf saturation keeps field-local norms, fields combine per-term
    dis_max (tie_breaker=0.3), docs sum over terms."""
    eng = _mf_engine(spark, sf_dir)
    plan = eng.multi_match_plan(
        " ".join(MULTI_MATCH_TERMS), fields=["title^2", "text"],
        match_type="cross_fields", tie_breaker=0.3,
    )
    return _topk(plan, 10)


@register(
    "engine_multi_match_cross_fields_and",
    _cross_fields_sql(MULTI_MATCH_TERMS, operator="and"),
)
def engine_multi_match_cross_fields_and(spark, sf_dir):
    """cross_fields with ``operator=and``: every distinct query term
    must match in SOME queried field (the flagship cross_fields use —
    entity lookups spread over columns)."""
    eng = _mf_engine(spark, sf_dir)
    plan = eng.multi_match_plan(
        " ".join(MULTI_MATCH_TERMS), fields=["title^2", "text"],
        match_type="cross_fields", operator="and",
    )
    return _topk(plan, 10)


def _combined_fields_sql(terms, boosts=((2.0, 3), (1.0, 0)),
                         operator="or", msm=None, k1=K1, b=B, k=10) -> str:
    """DuckDB oracle for the ES ``combined_fields`` query over the
    derived-title field pair — MERGED field statistics (simple BM25F,
    the Lucene CombinedFieldQuery): combined tf = Σ weight×tf over
    fields, combined norm = Σ weight×doc_len over EVERY queried field,
    combined avgdl = Σ weight×avgdl, merged df = MAX over fields, ONE
    BM25 saturation per term; operator/msm on the distinct
    matched-term count."""
    parts = []
    for i, (boost, n_tok) in enumerate(boosts):
        toks = (f"string_split(text, ' ')[1:{n_tok}]" if n_tok
                else "string_split(text, ' ')")
        parts.append(f"""
tok{i} AS (SELECT doc_id, unnest({toks}) AS term
           FROM documents WHERE lang = 'en'),
dl{i} AS (SELECT doc_id, count(*)::BIGINT AS doc_len FROM tok{i} GROUP BY doc_id),
c{i} AS (SELECT count(*)::BIGINT AS n, avg(doc_len)::DOUBLE AS avgdl FROM dl{i}),
tf{i} AS (SELECT term, doc_id, count(*)::BIGINT AS tf FROM tok{i}
          WHERE term IN ({_sql_terms(terms)}) GROUP BY term, doc_id),
dfq{i} AS (SELECT term, count(*)::BIGINT AS df FROM tf{i} GROUP BY term)""")
    dfu = " UNION ALL ".join(
        f"SELECT term, df FROM dfq{i}" for i in range(len(boosts))
    )
    tfu = " UNION ALL ".join(
        f"SELECT doc_id, term, {boost} * tf AS wtf FROM tf{i}"
        for i, (boost, _n) in enumerate(boosts)
    )
    dlu = " UNION ALL ".join(
        f"SELECT doc_id, {boost} * doc_len AS wdl FROM dl{i}"
        for i, (boost, _n) in enumerate(boosts)
    )
    avgc = " + ".join(
        f"{boost} * c{i}.avgdl" for i, (boost, _n) in enumerate(boosts)
    )
    cjoin = ", ".join(f"c{i}" for i in range(len(boosts)))
    if operator == "and":
        req = ("nt >= (SELECT count(*) FROM bidf WHERE idf <> 0) "
               f"AND (SELECT count(*) FROM bdf) = {len(set(terms))}")
    elif msm is not None:
        req = (f"nt >= greatest({int(msm)} - "
               "(SELECT count(*) FROM bidf WHERE idf = 0), 0)")
    else:
        req = "nt >= 0"
    return f"""WITH {','.join(parts)},
bdf AS (SELECT term, max(df)::BIGINT AS df FROM ({dfu}) GROUP BY term),
bidf AS (SELECT term, ln((c0.n + 1)::DOUBLE / (bdf.df + 1)::DOUBLE) AS idf
         FROM bdf, c0),
avgc AS (SELECT {avgc} AS avgdl FROM {cjoin}),
tfc AS (SELECT doc_id, term, sum(wtf) AS tfc FROM ({tfu})
        GROUP BY doc_id, term),
dlc AS (SELECT doc_id, sum(wdl) AS dlc FROM ({dlu}) GROUP BY doc_id),
sc AS (SELECT tfc.doc_id,
              bidf.idf * ((tfc.tfc * ({k1} + 1)) /
                  (tfc.tfc + {k1} * (1 - {b} + {b} * (dlc.dlc / avgc.avgdl)))) AS s
       FROM tfc JOIN bidf ON tfc.term = bidf.term
                JOIN dlc ON tfc.doc_id = dlc.doc_id, avgc
       WHERE bidf.idf <> 0),
comb AS (SELECT doc_id, sum(s) AS score, count(*)::BIGINT AS nt
         FROM sc GROUP BY doc_id)
SELECT doc_id, round(score, 6) AS score_r FROM comb
WHERE {req}
ORDER BY score_r DESC, doc_id LIMIT {k}"""


@register(
    "engine_combined_fields",
    _combined_fields_sql(MULTI_MATCH_TERMS),
)
def engine_combined_fields(spark, sf_dir):
    """ES ``combined_fields`` (7.13+, Lucene CombinedFieldQuery —
    principled BM25F) over title^2/text: the fields score as ONE
    synthetic field with merged statistics (combined tf/norm/avgdl,
    max-df merged idf), one BM25 saturation per term — unlike
    cross_fields' per-field dis_max."""
    eng = _mf_engine(spark, sf_dir)
    plan = eng.combined_fields_plan(
        " ".join(MULTI_MATCH_TERMS), fields=["title^2", "text"],
    )
    return _topk(plan, 10)


@register(
    "engine_combined_fields_and",
    _combined_fields_sql(MULTI_MATCH_TERMS, operator="and"),
)
def engine_combined_fields_and(spark, sf_dir):
    """``combined_fields`` with ``operator=and``: every distinct query
    term must appear in SOME queried field."""
    eng = _mf_engine(spark, sf_dir)
    plan = eng.combined_fields_plan(
        " ".join(MULTI_MATCH_TERMS), fields=["title^2", "text"],
        operator="and",
    )
    return _topk(plan, 10)


def _mm_phrase_prefix_sql(t0, prefix, boosts=((2.0, 3), (1.0, 0)),
                          tie_breaker=0.0, max_exp=50,
                          k1=K1, b=B, k=10) -> str:
    """DuckDB oracle for multi_match ``type: phrase_prefix`` over the
    derived-title pair: per field, the bigram (t0, <prefix>*) matches
    with the last position holding ANY of the first ``max_exp``
    expansions of the prefix IN THAT FIELD'S dictionary (index-term
    order); scored the Lucene MultiPhraseQuery way (idf summed over t0
    + every expansion, field-local stats, BM25 saturation of the start
    count) × boost; fields combine dis_max-style."""
    parts = []
    for i, (boost, n_tok) in enumerate(boosts):
        toks = (f"string_split(text, ' ')[1:{n_tok}]" if n_tok
                else "string_split(text, ' ')")
        parts.append(f"""
tok{i} AS (SELECT doc_id, unnest({toks}) AS term
           FROM documents WHERE lang = 'en'),
dl{i} AS (SELECT doc_id, count(*)::BIGINT AS doc_len FROM tok{i} GROUP BY doc_id),
c{i} AS (SELECT count(*)::BIGINT AS n, avg(doc_len)::DOUBLE AS avgdl FROM dl{i}),
exp{i} AS (SELECT DISTINCT term FROM tok{i}
           WHERE term LIKE '{prefix}%' ORDER BY term LIMIT {max_exp}),
pos{i} AS (SELECT doc_id, L[i] AS term, i
           FROM (SELECT doc_id, L, generate_subscripts(L, 1) AS i
                 FROM (SELECT doc_id, {toks} AS L
                       FROM documents WHERE lang = 'en'))),
m{i} AS (SELECT p0.doc_id, count(*)::BIGINT AS n_occ
         FROM pos{i} p0
         JOIN pos{i} p1 ON p1.doc_id = p0.doc_id AND p1.i = p0.i + 1
         WHERE p0.term = '{t0}' AND p1.term IN (SELECT term FROM exp{i})
         GROUP BY p0.doc_id),
sidf{i} AS (SELECT sum(ln((c{i}.n + 1)::DOUBLE / (x.df + 1)::DOUBLE)) AS v
            FROM (SELECT count(DISTINCT doc_id)::BIGINT AS df FROM tok{i}
                  WHERE term = '{t0}'
                  UNION ALL
                  SELECT count(DISTINCT t.doc_id)::BIGINT AS df
                  FROM tok{i} t JOIN exp{i} e ON t.term = e.term
                  GROUP BY e.term) x, c{i}
            WHERE x.df > 0),
s{i} AS (SELECT m.doc_id,
                {boost} * sidf{i}.v * ((m.n_occ * ({k1} + 1)) /
                    (m.n_occ + {k1} * (1 - {b} + {b} * (dl.doc_len / c{i}.avgdl)))) AS s
         FROM m{i} m JOIN dl{i} dl ON m.doc_id = dl.doc_id, sidf{i}, c{i})""")
    unions = " UNION ALL ".join(
        f"SELECT doc_id, s FROM s{i}" for i in range(len(boosts))
    )
    return f"""WITH {','.join(parts)},
u AS ({unions}),
comb AS (SELECT doc_id, max(s) + {tie_breaker} * (sum(s) - max(s)) AS score
         FROM u GROUP BY doc_id)
SELECT doc_id, round(score, 6) AS score_r FROM comb
ORDER BY score_r DESC, doc_id LIMIT {k}"""


@register(
    "engine_multi_match_phrase_prefix",
    _mm_phrase_prefix_sql(PHRASE_2[0], PHRASE_2[1][:2]),
)
def engine_multi_match_phrase_prefix(spark, sf_dir):
    """ES multi_match ``type: phrase_prefix`` over title^2/text:
    'table ha' — per field, the SCORED match_phrase_prefix (the last
    token expands against each field's own dictionary, MultiPhraseQuery
    sum-idf scoring, field-local stats) combined dis_max-style."""
    eng = _mf_engine(spark, sf_dir)
    plan = eng.multi_match_plan(
        f"{PHRASE_2[0]} {PHRASE_2[1][:2]}", fields=["title^2", "text"],
        match_type="phrase_prefix",
    )
    return _topk(plan, 10)


def _match_opt_sql(terms, operator="or", msm=None, k1=K1, b=B, k=10) -> str:
    """DuckDB oracle for ES ``match`` with ``operator`` /
    ``minimum_should_match``: the plain BM25 TAAT scoring plus a
    matched-distinct-term threshold (posting rows are unique per
    (term, doc), so count(*) in the same GROUP BY is the matched
    count); ``operator=and`` additionally empties the result when any
    query term is unindexed (Lucene MUST over a missing term)."""
    n_terms = len(set(terms))
    if operator == "and":
        req = ("nt >= (SELECT count(*) FROM idf WHERE idf <> 0) "
               f"AND (SELECT count(*) FROM df) = {n_terms}")
    elif msm is not None:
        req = (f"nt >= greatest({int(msm)} - "
               "(SELECT count(*) FROM idf WHERE idf = 0), 0)")
    else:
        req = "nt >= 0"
    expr = (
        f"idf.idf * ((tf.tf * ({k1} + 1)) / "
        f"(tf.tf + {k1} * (1 - {b} + {b} * (dl.doc_len / corpus.avgdl))))"
    )
    return f"""WITH {_TOK_CTE},
tf AS (SELECT term, doc_id, count(*)::BIGINT AS tf FROM tok
       WHERE term IN ({_sql_terms(terms)}) GROUP BY term, doc_id),
df AS (SELECT term, count(*)::BIGINT AS df FROM tf GROUP BY term),
idf AS (SELECT term, ln((corpus.n + 1)::DOUBLE / (df.df + 1)::DOUBLE) AS idf FROM df, corpus),
scored AS (SELECT tf.doc_id, sum({expr}) AS score, count(*)::BIGINT AS nt
           FROM tf JOIN idf ON tf.term = idf.term
                   JOIN dl ON tf.doc_id = dl.doc_id, corpus
           WHERE idf.idf <> 0
           GROUP BY tf.doc_id)
SELECT doc_id, round(score, 6) AS score_r FROM scored
WHERE {req}
ORDER BY score_r DESC, doc_id LIMIT {k}"""


_FETCH_SQL = f"""WITH {_TOK_CTE},
tf AS (SELECT term, doc_id, count(*)::BIGINT AS tf FROM tok
       WHERE term IN ({_sql_terms(Q1_TERMS)}) GROUP BY term, doc_id),
df AS (SELECT term, count(*)::BIGINT AS df FROM tf GROUP BY term),
idf AS (SELECT term, ln((corpus.n + 1)::DOUBLE / (df.df + 1)::DOUBLE) AS idf FROM df, corpus),
scored AS (SELECT tf.doc_id,
                  sum(idf.idf * ((tf.tf * ({K1} + 1)) /
                      (tf.tf + {K1} * (1 - {B} + {B} * (dl.doc_len / corpus.avgdl))))) AS score
           FROM tf JOIN idf ON tf.term = idf.term
                   JOIN dl ON tf.doc_id = dl.doc_id, corpus
           WHERE idf.idf <> 0
           GROUP BY tf.doc_id),
top AS (SELECT doc_id, round(score, 6) AS score_r FROM scored
        ORDER BY score_r DESC, doc_id LIMIT 10)
SELECT t.doc_id, t.score_r, CAST(d.doc_id AS VARCHAR) AS url,
       array_to_string(string_split(d.text, ' ')[1:3], ' ') AS title
FROM top t JOIN documents d ON t.doc_id = d.doc_id
ORDER BY t.score_r DESC, t.doc_id"""


@register("engine_fetch_source", _FETCH_SQL)
def engine_fetch_source(spark, sf_dir):
    """ES fetch phase (stored fields / ``_source``): the BM25 top-10
    resolved to (url, title) through the engine's fetch join — docID →
    url via the live docs view, url → stored fields against the source
    lake table, the tiny top-k side broadcast into both joins (the
    reference consumes hit["_source"], elasticsearch_indexer.py:135-148;
    title derived as the first 3 tokens, same recipe as the multi-field
    gates)."""
    eng = _engine(spark, sf_dir)
    top = _topk(eng.score_plan(" ".join(Q1_TERMS)), 10)
    # the documents lake table has no url column, so the build stored
    # url = str(doc_id) (build.py prepare_docs) — derive the SAME key
    # here so the fetch join resolves
    src = _docs(spark, sf_dir, lang=None).select(
        F.col("doc_id").cast("string").alias("url"),
        F.array_join(
            F.slice(F.split(F.col("text"), " "), 1, 3), " "
        ).alias("title"),
    )
    return eng.fetch_plan(top, src, ["title"]).select(
        "doc_id", "score_r", "url", "title"
    )


@register("engine_match_and", _match_opt_sql(Q1_TERMS, operator="and"))
def engine_match_and(spark, sf_dir):
    """ES ``match`` with ``operator=and``: every distinct analyzed term
    must match — compiled as a matched-term count riding the SAME
    groupBy as the TAAT scoring (zero extra shuffles)."""
    eng = _engine(spark, sf_dir)
    plan = eng.match_scored_plan(" ".join(Q1_TERMS), operator="and")
    return _topk(plan, 10)


@register("engine_match_msm", _match_opt_sql(Q2_TERMS, msm=3))
def engine_match_msm(spark, sf_dir):
    """ES ``match`` with ``minimum_should_match=3`` over five OR terms:
    keep docs matching at least 3 distinct query terms."""
    eng = _engine(spark, sf_dir)
    plan = eng.match_scored_plan(
        " ".join(Q2_TERMS), minimum_should_match=3
    )
    return _topk(plan, 10)


def _match_bool_prefix_sql(full, prefix, operator="or", msm=None,
                           max_exp=50, k1=K1, b=B, k=10) -> str:
    """DuckDB oracle for ES ``match_bool_prefix``: the full terms score
    through the usual BM25 CTE, the trailing prefix is a constant-score
    1.0 clause over docs containing ANY of the first ``max_exp``
    dictionary continuations (term order — the engine's expansion cap);
    clause counts ride the same union+GROUP BY."""
    n_terms = len(set(full))
    if operator == "and":
        req = (f"nt >= (SELECT count(*) FROM idf WHERE idf <> 0) + 1 "
               f"AND (SELECT count(*) FROM df) = {n_terms} "
               f"AND EXISTS (SELECT 1 FROM expd)")
    elif msm is not None:
        req = (f"nt >= greatest({int(msm)} - "
               "(SELECT count(*) FROM idf WHERE idf = 0), 0)")
    else:
        req = "nt >= 0"
    expr = (
        f"idf.idf * ((tf.tf * ({k1} + 1)) / "
        f"(tf.tf + {k1} * (1 - {b} + {b} * (dl.doc_len / corpus.avgdl))))"
    )
    return f"""WITH {_TOK_CTE},
tf AS (SELECT term, doc_id, count(*)::BIGINT AS tf FROM tok
       WHERE term IN ({_sql_terms(full)}) GROUP BY term, doc_id),
df AS (SELECT term, count(*)::BIGINT AS df FROM tf GROUP BY term),
idf AS (SELECT term, ln((corpus.n + 1)::DOUBLE / (df.df + 1)::DOUBLE) AS idf FROM df, corpus),
expd AS (SELECT DISTINCT term FROM tok WHERE term LIKE '{prefix}%'
         ORDER BY term LIMIT {int(max_exp)}),
scored AS (SELECT tf.doc_id, sum({expr}) AS score, count(*)::BIGINT AS nt
           FROM tf JOIN idf ON tf.term = idf.term
                   JOIN dl ON tf.doc_id = dl.doc_id, corpus
           WHERE idf.idf <> 0
           GROUP BY tf.doc_id),
pdocs AS (SELECT DISTINCT doc_id FROM tok
          WHERE term IN (SELECT term FROM expd)),
agg AS (SELECT doc_id, sum(score) AS score, sum(nt)::BIGINT AS nt
        FROM (SELECT doc_id, score, nt FROM scored
              UNION ALL
              SELECT doc_id, 1.0 AS score, 1::BIGINT AS nt FROM pdocs)
        GROUP BY doc_id)
SELECT doc_id, round(score, 6) AS score_r FROM agg
WHERE {req}
ORDER BY score_r DESC, doc_id LIMIT {k}"""


@register("engine_match_bool_prefix",
          _match_bool_prefix_sql(["hash", "join"], "sp", msm=2))
def engine_match_bool_prefix(spark, sf_dir):
    """ES ``match_bool_prefix`` (search-as-you-type): 'hash join sp' —
    'hash'/'join' as scored term clauses, 'sp' as a constant-score
    prefix clause over its dictionary continuations, with
    minimum_should_match=2 over the clause count (one union, one
    groupBy — the matched-clause count rides the scoring aggregate)."""
    eng = _engine(spark, sf_dir)
    plan = eng.match_bool_prefix_scored_plan(
        "hash join sp", minimum_should_match=2
    )
    return _topk(plan, 10)


@register(
    "engine_composite_agg",
    f"""WITH {_TOK_CTE},
hits AS (SELECT DISTINCT tok.doc_id, dl.doc_len FROM tok
         JOIN dl ON tok.doc_id = dl.doc_id
         WHERE tok.term IN ({_sql_terms(Q1_TERMS)})),
b AS (SELECT d.source AS src, (floor(hits.doc_len / 16) * 16)::BIGINT AS len16,
             count(*)::BIGINT AS n_docs
      FROM hits JOIN documents d USING (doc_id) GROUP BY 1, 2)
SELECT src, len16, n_docs FROM b ORDER BY src, len16 LIMIT 5 OFFSET 5""",
)
def engine_composite_agg(spark, sf_dir):
    """ES ``composite`` aggregation, PAGE 2 (terms(source) ×
    histogram(doc_len, 16) over the hit set): the engine pages with the
    ES after_key keyset cursor (a lexicographic key filter pushed BELOW
    the aggregation), the oracle with ORDER BY … OFFSET — agreement
    proves cursor pagination ≡ offset semantics while the engine never
    accumulates per-page state."""
    eng = _engine(spark, sf_dir)
    dims = _docs(spark, sf_dir).select("doc_id", "source")
    sources = [("src", "terms", "source"),
               ("len16", "histogram", "doc_len", 16)]
    page1 = eng.composite(Q1_TERMS, sources, dims, size=5)
    return eng.composite_agg(Q1_TERMS, sources, dims, size=5,
                             after=page1["after_key"])


PERCOLATE_QUERIES = [
    # (query_id, query, operator, msm)
    (1, "hash join", "and", None),
    (2, "spark dup merge", "or", 2),
    (3, "window", "or", None),
    (4, "zzzznever qqqqnever", "and", None),   # can never match
]


def _percolate_sql(queries) -> str:
    """DuckDB oracle for ES ``percolate`` (reverse search): the saved
    queries' distinct terms as a VALUES inverted index, matched-term
    counts per (doc, query) vs each query's required threshold
    (operator=and -> all terms, msm -> msm, or -> 1)."""
    qrows, rrows = [], []
    for qid, q, op, msm in queries:
        terms = sorted(set(q.split()))
        if not terms:
            continue
        required = (len(terms) if op == "and"
                    else max(int(msm), 1) if msm is not None else 1)
        qrows += [f"({qid}, '{t}')" for t in terms]
        rrows.append(f"({qid}, {required})")
    return f"""WITH q(query_id, term) AS (VALUES {', '.join(qrows)}),
req(query_id, required) AS (VALUES {', '.join(rrows)}),
dt AS (SELECT DISTINCT doc_id, term FROM
       (SELECT doc_id, unnest(string_split(text, ' ')) AS term
        FROM documents WHERE lang = 'en')),
m AS (SELECT doc_id, q.query_id, count(*)::BIGINT AS nt
      FROM dt JOIN q USING (term) GROUP BY 1, 2)
SELECT m.doc_id, m.query_id::BIGINT AS query_id
FROM m JOIN req USING (query_id) WHERE m.nt >= req.required"""


@register("engine_percolate", _percolate_sql(PERCOLATE_QUERIES))
def engine_percolate(spark, sf_dir):
    """ES ``percolate`` — reverse search: four saved match queries
    (and / msm / or / unmatchable) against every document; the
    query-term inverted index BROADCASTS, so the document pass is
    shuffle-free up to the (doc, query) combine."""
    from ..operators.percolate import Percolator

    qdf = spark.createDataFrame(
        [(qid, q, op, msm) for qid, q, op, msm in PERCOLATE_QUERIES],
        "query_id long, query string, operator string, msm long",
    )
    perc = Percolator(spark, qdf, pretokenized=True)
    return perc.percolate_plan(
        _docs(spark, sf_dir), pretokenized=True
    )


def _engine_inc(spark, sf_dir):
    """Engine over an INCREMENTALLY-built index: base build on even
    doc_ids, then ``update_index(add=<odd doc_ids>)`` — which leaves an
    uncompacted delta segment (O(delta): zero base-table rewrites).
    The gates below prove the live read-time-merged view (base ∪ delta,
    idf from the signed df sources) equals the full-corpus oracle."""
    import shutil as _shutil

    from ..operators.build import IndexBuilder, IndexConfig
    from ..operators.query import QueryEngine

    cfg = IndexConfig(
        n_buckets=8, doc_range_bits=6, lang="en", pretokenized=True, use_html=False
    )
    key = os.path.abspath(sf_dir) + repr(cfg) + ":incremental"
    if key not in _ENGINE_CACHE:
        idx_dir = os.path.join(
            tempfile.gettempdir(),
            "es_spark_entry_idx_" + hashlib.md5(key.encode()).hexdigest()[:10],
        )
        manifest_p = os.path.join(idx_dir, "manifest.json")
        ready = False
        if os.path.exists(manifest_p):
            import json as _json

            with open(manifest_p) as f:
                m = _json.load(f)
            ready = bool(m.get("finalized")) and bool(m.get("delta_segments"))
        if not ready:
            _shutil.rmtree(idx_dir, ignore_errors=True)
            docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
            builder = IndexBuilder(spark, idx_dir, cfg)
            builder.build(docs.filter(F.col("doc_id") % 2 == 0))
            builder.update_index(
                add=docs.filter(F.col("doc_id") % 2 == 1), compact=False
            )
        _ENGINE_CACHE[key] = QueryEngine(spark, idx_dir)
    return _ENGINE_CACHE[key]


@register("engine_update_bm25_topk", _bm25_sql(Q1_TERMS, k=10))
def engine_update_bm25_topk(spark, sf_dir):
    """BM25 top-k served from the incrementally-updated index (half the
    corpus added as an uncompacted delta segment): must equal the
    oracle computed over the FULL corpus — the O(delta) update path's
    rank-identity proof."""
    eng = _engine_inc(spark, sf_dir)
    plan = eng.score_plan(" ".join(Q1_TERMS))
    if plan is None:
        return _docs(spark, sf_dir).select("doc_id", F.lit(0.0).alias("score_r")).limit(0)
    return _topk(plan, 10)


@register(
    "engine_update_dictionary",
    f"""WITH {_TOK_CTE}
SELECT term, count(DISTINCT doc_id)::BIGINT AS df FROM tok GROUP BY term""",
)
def engine_update_dictionary(spark, sf_dir):
    """Live document frequencies from the signed dictionary sources
    (base + delta-segment partials) of the incrementally-built index —
    must equal the full-corpus df oracle."""
    from ..operators.reader import dictionary_sources

    eng = _engine_inc(spark, sf_dir)
    parts = []
    for path, sign in dictionary_sources(eng.index_dir, eng._manifest):
        parts.append(
            spark.read.parquet(path).select(
                "term", (F.col("df") * F.lit(sign)).alias("df")
            )
        )
    merged = parts[0]
    for p in parts[1:]:
        merged = merged.unionByName(p)
    return (
        merged.groupBy("term")
        .agg(F.sum("df").cast("long").alias("df"))
        .filter(F.col("df") > 0)
    )


@register("engine_bm25_topk", _bm25_sql(Q1_TERMS, k=10))
def engine_bm25_topk(spark, sf_dir):
    """Same oracle as bm25_topk_q1, but served from the real index
    (build -> postings/dictionary tables -> pruned scan -> top-k)."""
    eng = _engine(spark, sf_dir)
    plan = eng.score_plan(" ".join(Q1_TERMS))
    if plan is None:
        return _docs(spark, sf_dir).select("doc_id", F.lit(0.0).alias("score_r")).limit(0)
    return _topk(plan, 10)


@register(
    "engine_boolean_complex",
    ORACLE_SQL["boolean_complex"],
)
def engine_boolean_complex(spark, sf_dir):
    eng = _engine(spark, sf_dir)
    return eng.boolean_plan("(spark OR dup) AND merge NOT window").orderBy("doc_id")


@register(
    "engine_boolean_not_topk",
    f"""WITH {_TOK_CTE},
s AS (({_term_docs_sql('spark')}) EXCEPT ({_term_docs_sql('dup')}))
SELECT doc_id, (SELECT count(*) FROM s)::BIGINT AS total_hits
FROM s ORDER BY doc_id LIMIT 10""",
)
def engine_boolean_not_topk(spark, sf_dir):
    """The BOUNDED boolean path (production shape): k smallest doc_ids
    plus the exact total hit count, both from ONE job (Observation on
    the set plan) — nothing corpus-sized reaches the driver.  Pinned to
    turbo=False so the gate hash-checks the DISTRIBUTED Observation
    plan (the turbo tier has its own twin gate below)."""
    from ..operators.query import QueryEngine

    eng = QueryEngine(spark, _engine(spark, sf_dir).index_dir, turbo=False)
    res = eng.boolean_topk("spark NOT dup", k=10)
    return spark.createDataFrame(
        [(r["doc_id"], res["total_hits"]) for r in res["results"]],
        "doc_id long, total_hits long",
    )


@register(
    "engine_boolean_not_topk_turbo",
    ORACLE_SQL["engine_boolean_not_topk"],
)
def engine_boolean_not_topk_turbo(spark, sf_dir):
    """Turbo twin of engine_boolean_not_topk: the driver-side pyarrow +
    numpy set-algebra tier must hash-match the same oracle (result
    identity between the tiers is additionally pytest-enforced)."""
    eng = _engine(spark, sf_dir)  # turbo engine (gate scale < cutover)
    res = eng.boolean_topk("spark NOT dup", k=10)
    return spark.createDataFrame(
        [(r["doc_id"], res["total_hits"]) for r in res["results"]],
        "doc_id long, total_hits long",
    )


@register("wand_bm25_topk", _bm25_sql(Q1_TERMS, k=10))
def wand_bm25_topk(spark, sf_dir):
    """Same oracle as bm25_topk_q1, served by the block-max WAND path
    (metadata-only UB pruning -> exact kernel on surviving doc-ranges);
    proves the pruned top-k is identical to exhaustive scoring."""
    from ..operators.wand import WandEngine

    eng = _engine(spark, sf_dir)
    wand = WandEngine.from_engine(eng)
    res = wand.topk_df(" ".join(Q1_TERMS), k=10)
    return res.select(
        "doc_id", F.round("score", 6).alias("score_r")
    ).orderBy(F.col("score_r").desc(), F.col("doc_id"))


@register("engine_phrase", _phrase_sql(PHRASE_2))
def engine_phrase(spark, sf_dir):
    """PHRASE served from the positional index (build with
    positional=True -> pruned postings scan -> shifted-position
    intersection)."""
    eng = _engine(spark, sf_dir)
    return eng.phrase_plan(" ".join(PHRASE_2)).select(
        "doc_id", F.col("n_occurrences").alias("n_occ")
    )


def _phrase_slop_sql(terms, slop: int) -> str:
    """Ordered sloppy-phrase oracle (ES ``match_phrase`` with ``slop``,
    in-order form — operators/phrase.py ``sloppy_starts``): a start
    position matches iff an increasing completion exists with span
    − (k−1) ≤ slop.  ``count(DISTINCT p0.i)`` counts start positions
    with ≥1 completion — exactly the greedy-chain semantics, since the
    greedy minimal completion exists iff any does."""
    k = len(terms)
    joins = " ".join(
        f"JOIN pos p{i} ON p{i}.doc_id = p0.doc_id AND p{i}.i > p{i-1}.i"
        for i in range(1, k)
    )
    conds = " AND ".join(f"p{i}.term = '{t}'" for i, t in enumerate(terms))
    span = k - 1 + slop
    return f"""WITH t AS (SELECT doc_id, string_split(text, ' ') AS L
       FROM documents WHERE lang = 'en'),
pos AS (SELECT doc_id, L[i] AS term, i
        FROM (SELECT doc_id, L, generate_subscripts(L, 1) AS i FROM t))
SELECT p0.doc_id, count(DISTINCT p0.i)::BIGINT AS n_occ
FROM pos p0 {joins}
WHERE {conds} AND p{k - 1}.i - p0.i <= {span}
GROUP BY p0.doc_id"""


@register("phrase_slop_bigram", _phrase_slop_sql(PHRASE_2, 1))
def phrase_slop_bigram(spark, sf_dir):
    """ES ``match_phrase`` with ``slop=1`` (ordered): the higher-order-
    function fold (operators/phrase.py phrase_match_slots) carrying the
    greedy-chain frontier — one transform per slot, no UDF."""
    from ..operators.phrase import phrase_query

    d = _docs(spark, sf_dir).select(
        "doc_id", F.split(F.col("text"), " ").alias("tokens")
    )
    return phrase_query(d, PHRASE_2, slop=1).select(
        "doc_id", F.col("n_occurrences").alias("n_occ")
    )


PHRASE_SLOP_3 = ["table", "hash", "window"]


def _span_near_sql(terms, slop: int) -> str:
    """UNORDERED ``span_near`` oracle (Lucene SpanNearQuery
    inOrder=false over span_term clauses — operators/phrase.py
    ``unordered_starts``): an assignment of DISTINCT positions, one per
    clause, any order, with span ≤ (k−1)+slop; a match start is the
    assignment's MIN position, n_occ counts distinct starts.
    Brute-force join over the term-filtered positions."""
    k = len(terms)
    joins = " ".join(
        f"JOIN pos p{i} ON p{i}.doc_id = p0.doc_id" for i in range(1, k)
    )
    conds = [f"p{i}.term = '{t}'" for i, t in enumerate(terms)]
    conds += [
        f"p{i}.i <> p{j}.i" for i in range(k) for j in range(i + 1, k)
    ]
    ps = ", ".join(f"p{i}.i" for i in range(k))
    conds.append(f"greatest({ps}) - least({ps}) <= {k - 1 + slop}")
    return f"""WITH t AS (SELECT doc_id, string_split(text, ' ') AS L
       FROM documents WHERE lang = 'en'),
pos AS (SELECT doc_id, L[i] AS term, i
        FROM (SELECT doc_id, L, generate_subscripts(L, 1) AS i FROM t)),
m AS (SELECT DISTINCT p0.doc_id, least({ps}) AS start
      FROM pos p0 {joins}
      WHERE {' AND '.join(conds)})
SELECT doc_id, count(*)::BIGINT AS n_occ FROM m GROUP BY doc_id"""


@register("engine_span_near", _span_near_sql(PHRASE_SLOP_3, 1))
def engine_span_near(spark, sf_dir):
    """Lucene/ES ``span_near`` with ``in_order=false`` (the default):
    the clause terms must co-occur within a window (span ≤ k−1+slop) at
    DISTINCT positions in ANY order — a different matcher than sloppy
    phrase (which this corpus's term triple also hits in reverse
    orders).  Served by the doc-range positional kernel with the
    unordered starts matcher."""
    eng = _engine(spark, sf_dir)
    return eng.span_near_plan(PHRASE_SLOP_3, slop=1, in_order=False).select(
        "doc_id", F.col("n_occurrences").alias("n_occ")
    )


@register("engine_span_near_ordered", _phrase_slop_sql(PHRASE_SLOP_3, 2))
def engine_span_near_ordered(spark, sf_dir):
    """``span_near`` with ``in_order=true``: strict clause-order
    increase with total gap ≤ slop — definitionally the ordered sloppy
    phrase (a phrase IS an in-order span_near), served through the
    span_near surface over verbatim index terms."""
    eng = _engine(spark, sf_dir)
    return eng.span_near_plan(PHRASE_SLOP_3, slop=2, in_order=True).select(
        "doc_id", F.col("n_occurrences").alias("n_occ")
    )


def _phrase_moves_sql(terms, slop: int) -> str:
    """MOVE-BASED sloppy-phrase oracle (Lucene/ES ``match_phrase``
    slop, operators/phrase.py ``movable_starts``): a slot-0 occurrence
    starts a match iff DISTINCT positions p_i exist whose slot-adjusted
    offsets q_i = p_i − i satisfy max(q) − min(q) ≤ slop — a transposed
    bigram matches at slop 2.  Brute-force join over the term-filtered
    positions with greatest/least over the offsets."""
    k = len(terms)
    joins = " ".join(
        f"JOIN pos p{i} ON p{i}.doc_id = p0.doc_id" for i in range(1, k)
    )
    conds = [f"p{i}.term = '{t}'" for i, t in enumerate(terms)]
    conds += [
        f"p{i}.i <> p{j}.i" for i in range(k) for j in range(i + 1, k)
    ]
    qs = ", ".join(f"p{i}.i - {i}" for i in range(k))
    conds.append(f"greatest({qs}) - least({qs}) <= {slop}")
    return f"""WITH t AS (SELECT doc_id, string_split(text, ' ') AS L
       FROM documents WHERE lang = 'en'),
pos AS (SELECT doc_id, L[i] AS term, i
        FROM (SELECT doc_id, L, generate_subscripts(L, 1) AS i FROM t))
SELECT p0.doc_id, count(DISTINCT p0.i)::BIGINT AS n_occ
FROM pos p0 {joins}
WHERE {' AND '.join(conds)}
GROUP BY p0.doc_id"""


@register("engine_phrase_slop", _phrase_slop_sql(PHRASE_SLOP_3, 2))
def engine_phrase_slop(spark, sf_dir):
    """Sloppy phrase served from the positional index: the doc-range
    kernel decodes each term's blocks once and runs the vectorized
    greedy chain (searchsorted per slot) instead of the shifted
    intersection."""
    eng = _engine(spark, sf_dir)
    return eng.phrase_plan(" ".join(PHRASE_SLOP_3), slop=2).select(
        "doc_id", F.col("n_occurrences").alias("n_occ")
    )


def _phrase_bm25_sql(terms, k1=K1, b=B, k=10) -> str:
    """Lucene phrase-scoring oracle: idf = sum of member-term idfs, tf
    = per-doc phrase frequency (adjacency count), BM25 saturation."""
    n = len(terms)
    joins = " ".join(
        f"JOIN pos p{i} ON p{i}.doc_id = p0.doc_id AND p{i}.i = p0.i + {i}"
        for i in range(1, n)
    )
    conds = " AND ".join(f"p{i}.term = '{t}'" for i, t in enumerate(terms))
    return f"""WITH {_TOK_CTE},
t2 AS (SELECT doc_id, string_split(text, ' ') AS L
       FROM documents WHERE lang = 'en'),
pos AS (SELECT doc_id, L[i] AS term, i
        FROM (SELECT doc_id, L, generate_subscripts(L, 1) AS i FROM t2)),
m AS (SELECT p0.doc_id, count(*)::BIGINT AS n_occ
      FROM pos p0 {joins} WHERE {conds} GROUP BY p0.doc_id),
sidf AS (SELECT sum(ln((corpus.n + 1)::DOUBLE / (x.df + 1)::DOUBLE)) AS v
         FROM (SELECT term, count(DISTINCT doc_id)::BIGINT AS df FROM tok
               WHERE term IN ({_sql_terms(terms)}) GROUP BY term) x, corpus),
scored AS (SELECT m.doc_id, m.n_occ,
                  sidf.v * ((m.n_occ * ({k1} + 1)) /
                      (m.n_occ + {k1} * (1 - {b} + {b} * (dl.doc_len / corpus.avgdl)))) AS score
           FROM m JOIN dl ON m.doc_id = dl.doc_id, sidf, corpus)
SELECT doc_id, n_occ, round(score, 6) AS score_r FROM scored
ORDER BY score_r DESC, doc_id LIMIT {k}"""


@register("engine_phrase_bm25", _phrase_bm25_sql(PHRASE_2))
def engine_phrase_bm25(spark, sf_dir):
    """ES-SCORED match_phrase (Lucene semantics): the phrase acts as
    one pseudo-term — idf is the sum of member idfs, tf is the per-doc
    phrase frequency — with standard BM25 saturation.  Served by the
    positional kernel joined to the live docs table for doc_len."""
    eng = _engine(spark, sf_dir)
    return (
        eng.phrase_scored_plan(" ".join(PHRASE_2))
        .select(
            "doc_id",
            F.col("n_occurrences").alias("n_occ"),
            F.round("score", 6).alias("score_r"),
        )
        .orderBy(F.col("score_r").desc(), F.col("doc_id"))
        .limit(10)
    )


PHRASE_MOVES_2 = ["hash", "table"]  # reversed PHRASE_2: transpositions


@register("engine_phrase_slop_moves", _phrase_moves_sql(PHRASE_MOVES_2, 2))
def engine_phrase_slop_moves(spark, sf_dir):
    """Lucene/ES move-based ``match_phrase`` slop from the positional
    index: 'hash table'~2 also matches docs containing the TRANSPOSED
    'table hash' (one swap costs 2 moves) — the ordered kernel would
    miss them.  Same doc-range kernel, ``movable_starts`` per doc."""
    eng = _engine(spark, sf_dir)
    return eng.phrase_plan(
        " ".join(PHRASE_MOVES_2), slop=2, slop_mode="moves"
    ).select("doc_id", F.col("n_occurrences").alias("n_occ"))


@register(
    "engine_phrase_moves_tri",
    _phrase_moves_sql(["hash", "table", "window"], 2),
)
def engine_phrase_moves_tri(spark, sf_dir):
    """Move-based slop, trigram form: the per-doc kernel runs the
    greedy interval matching over three slots (window spread ≤ 2 over
    slot-adjusted offsets, distinct positions)."""
    eng = _engine(spark, sf_dir)
    return eng.phrase_plan(
        "hash table window", slop=2, slop_mode="moves"
    ).select("doc_id", F.col("n_occurrences").alias("n_occ"))


@register(
    "engine_match_phrase_prefix",
    _phrase_sql(["table"], last_prefix="s"),
)
def engine_match_phrase_prefix(spark, sf_dir):
    """ES ``match_phrase_prefix`` served from the positional index:
    'table s' matches 'table' followed by ANY live term starting with
    's' (scan, sort, spark, stream, small, slow, ...), via the slots kernel (operators/phrase.py
    phrase_slots_kernel — last slot carries the prefix expansions; ONE
    bounded shuffle, not one kernel run per expansion).  Oracle: the
    adjacency CTE with the last position as a LIKE predicate."""
    eng = _engine(spark, sf_dir)
    return eng.match_phrase_prefix_plan("table s").select(
        "doc_id", F.col("n_occurrences").alias("n_occ")
    )


@register("engine_tfidf_x3", ORACLE_SQL["tfidf_postings_x3"])
def engine_tfidf_x3(spark, sf_dir):
    """B7 as a BUILD MODE: the x=3 variant index (store_tfidf=True)
    persists postings with the score (tf/dl)*ln(N/df) precomputed at
    index time; the gate reads the variant table for the Q1 terms and
    must match the from-raw-text oracle exactly."""
    eng = _engine(spark, sf_dir)
    if not hasattr(eng, "_tfidf"):
        eng._tfidf = spark.read.parquet(os.path.join(eng.index_dir, "tfidf"))
    return eng._tfidf.filter(F.col("term").isin(Q1_TERMS)).select(
        "term", "doc_id", F.round("score", 6).alias("score_r")
    )


@register("engine_tfidf_topk", _bm25_sql(Q1_TERMS, k=10, method="tfidf"))
def engine_tfidf_topk(spark, sf_dir):
    """TF-IDF variant served from the real index (R3)."""
    eng = _engine(spark, sf_dir)
    plan = eng.score_plan(" ".join(Q1_TERMS), method="tfidf")
    if plan is None:
        return _docs(spark, sf_dir).select("doc_id", F.lit(0.0).alias("score_r")).limit(0)
    return _topk(plan, 10)


def _batch_oracle_sql() -> str:
    q1 = _bm25_sql(Q1_TERMS, k=10)
    q2 = _bm25_sql(Q2_TERMS, k=10)
    return f"""SELECT 0 AS qid, doc_id, score_r FROM ({q1})
UNION ALL
SELECT 1 AS qid, doc_id, score_r FROM ({q2})"""


@register("engine_batch_bm25", _batch_oracle_sql())
def engine_batch_bm25(spark, sf_dir):
    """The batch multi-query path (one Spark job scores BOTH queries;
    shuffle bounded by candidate postings, not query count) — results
    must equal the per-query oracles.  Pinned to turbo=False so the
    gate hash-checks the DISTRIBUTED broadcast-join batch plan (the
    turbo tier has its own twin gate below)."""
    from ..operators.query import QueryEngine

    eng = QueryEngine(spark, _engine(spark, sf_dir).index_dir, turbo=False)
    out = eng.batch_ranked([" ".join(Q1_TERMS), " ".join(Q2_TERMS)], k=10)
    rows = []
    for qid, q in enumerate(out):
        for r in out[q]:
            rows.append((qid, r["doc_id"], round(r["score"], 6)))
    return spark.createDataFrame(rows, "qid int, doc_id long, score_r double")


@register("engine_batch_bm25_turbo", _batch_oracle_sql())
def engine_batch_bm25_turbo(spark, sf_dir):
    """Turbo twin of engine_batch_bm25: the one-pruned-read + per-query
    numpy accumulation tier must hash-match the same oracle."""
    eng = _engine(spark, sf_dir)  # turbo engine (gate scale < cutover)
    out = eng.batch_ranked([" ".join(Q1_TERMS), " ".join(Q2_TERMS)], k=10)
    rows = []
    for qid, q in enumerate(out):
        for r in out[q]:
            rows.append((qid, r["doc_id"], round(r["score"], 6)))
    return spark.createDataFrame(rows, "qid int, doc_id long, score_r double")


def _wand_total_sql() -> str:
    q1 = _bm25_sql(Q1_TERMS, k=10)
    return f"""SELECT t.doc_id, t.score_r, h.total_hits
FROM ({q1}) t CROSS JOIN (
  WITH {_TOK_CTE}
  SELECT count(DISTINCT doc_id)::BIGINT AS total_hits FROM tok
  WHERE term IN ({_sql_terms(Q1_TERMS)})) h"""


@register("wand_total_hits", _wand_total_sql())
def wand_total_hits(spark, sf_dir):
    """WAND top-k + EXACT total hit count: pruning can't count pruned
    ranges' docs for free, so total_hits is a separate bounded
    count-distinct job over the pruned live postings scan — this gate
    checks the DISTRIBUTED pair (plan top-k + count job)."""
    from ..operators.wand import WandEngine

    eng = _engine(spark, sf_dir)
    wand = WandEngine.from_engine(eng)
    total = wand.total_hits(" ".join(Q1_TERMS))
    return (
        wand.topk_df(" ".join(Q1_TERMS), k=10)
        .select("doc_id", F.round("score", 6).alias("score_r"))
        .withColumn("total_hits", F.lit(int(total)).cast("long"))
    )


@register("wand_total_hits_turbo", _wand_total_sql())
def wand_total_hits_turbo(spark, sf_dir):
    """Turbo twin: the driver-side WAND kernel's total count (scored
    ranges' unique docs + doc-stream decode of pruned ranges) must
    hash-match the same oracle."""
    from ..operators.wand import WandEngine

    eng = _engine(spark, sf_dir)
    wand = WandEngine.from_engine(eng)
    res = wand.topk(" ".join(Q1_TERMS), k=10, with_total_hits=True)
    return spark.createDataFrame(
        [
            (r["doc_id"], round(r["score"], 6), res["total_hits"])
            for r in res["results"]
        ],
        "doc_id long, score_r double, total_hits long",
    )


@register(
    "merge_dictionary",
    f"""WITH {_TOK_CTE}
SELECT term, count(DISTINCT doc_id)::BIGINT AS df FROM tok GROUP BY term""",
)
def merge_dictionary(spark, sf_dir):
    """Incremental-index semantics (B14): dictionary built from two
    doc-range segments then merged must equal the full rebuild."""
    tok = _tok(spark, sf_dir)
    seg_a = tok.filter(F.col("doc_id") < 250).groupBy("term").agg(
        F.countDistinct("doc_id").cast("long").alias("df")
    )
    seg_b = tok.filter(F.col("doc_id") >= 250).groupBy("term").agg(
        F.countDistinct("doc_id").cast("long").alias("df")
    )
    return seg_a.unionByName(seg_b).groupBy("term").agg(F.sum("df").cast("long").alias("df"))


# ------------------------------- term-level expansion queries + facets

def _expansion_bm25_sql(pred: str, k: int = 10, max_exp: int = 50) -> str:
    """Oracle for the ES scoring_boolean rewrite: expand dictionary
    terms matching ``pred`` (df desc, term asc, LIMIT max_exp — the
    engine's exact expansion order), then score the expanded set as a
    multi-term BM25 OR."""
    return f"""WITH {_TOK_CTE},
dfall AS (SELECT term, count(DISTINCT doc_id)::BIGINT AS df FROM tok GROUP BY term),
exp AS (SELECT term FROM dfall WHERE {pred} ORDER BY df DESC, term LIMIT {max_exp}),
tf AS (SELECT term, doc_id, count(*)::BIGINT AS tf FROM tok
       WHERE term IN (SELECT term FROM exp) GROUP BY term, doc_id),
df AS (SELECT term, count(*)::BIGINT AS df FROM tf GROUP BY term),
idf AS (SELECT term, ln((corpus.n + 1)::DOUBLE / (df.df + 1)::DOUBLE) AS idf FROM df, corpus),
scored AS (SELECT tf.doc_id,
                  sum(idf.idf * ((tf.tf * ({K1} + 1)) /
                      (tf.tf + {K1} * (1 - {B} + {B} * (dl.doc_len / corpus.avgdl))))) AS score
           FROM tf JOIN idf ON tf.term = idf.term
                   JOIN dl ON tf.doc_id = dl.doc_id, corpus
           WHERE idf.idf <> 0
           GROUP BY tf.doc_id)
SELECT doc_id, round(score, 6) AS score_r FROM scored
ORDER BY round(score, 6) DESC, doc_id LIMIT {k}"""


@register("engine_prefix_topk", _expansion_bm25_sql("term LIKE 's%'"))
def engine_prefix_topk(spark, sf_dir):
    """ES ``prefix`` query served from the real index: live-dictionary
    range-scan expansion ('s' -> scan/small/sort/spark/stream/slow),
    then the DISTRIBUTED multi-term scoring plan (the turbo tier is
    pytest-identity-checked against it)."""
    eng = _engine(spark, sf_dir)
    terms = eng.prefix_expand("s")
    plan = eng.score_plan("s*", terms=terms) if terms else None
    if plan is None:
        return _docs(spark, sf_dir).select("doc_id", F.lit(0.0).alias("score_r")).limit(0)
    return _topk(plan, 10)


@register(
    "engine_fuzzy_topk",
    _expansion_bm25_sql(
        "substr(term, 1, 1) = 's' AND levenshtein(term, 'smal') <= 2"
    ),
)
def engine_fuzzy_topk(spark, sf_dir):
    """ES ``fuzzy`` query served from the real index: edit-distance
    expansion ('smal'~2, prefix_length=1 -> scan/small) then the
    distributed scoring plan.  DuckDB's ``levenshtein`` is the oracle
    for the engine's python twin (operators/expand.py)."""
    eng = _engine(spark, sf_dir)
    terms = eng.fuzzy_expand("smal", max_edits=2, prefix_length=1)
    plan = eng.score_plan("smal~2", terms=terms) if terms else None
    if plan is None:
        return _docs(spark, sf_dir).select("doc_id", F.lit(0.0).alias("score_r")).limit(0)
    return _topk(plan, 10)


@register(
    "engine_fuzzy_sidecar_topk",
    _expansion_bm25_sql("levenshtein(term, 'smal') <= 2"),
)
def engine_fuzzy_sidecar_topk(spark, sf_dir):
    """ES ``fuzzy`` at ``prefix_length=0`` served from the
    deletion-neighborhood sidecar (operators/fuzzy_sidecar.py — the
    symmetric-delete / Lucene-automaton analogue): without a shared
    prefix the range scan would read the WHOLE dictionary, the sidecar
    point-reads only the query's own deletion neighborhood.  Oracle is
    the unconstrained levenshtein predicate over the full vocabulary,
    so the hash-compare proves neighborhood ∪ verification ≡ full
    scan."""
    from elasticsearch_spark.operators.fuzzy_sidecar import (
        build_fuzzy_sidecar,
        load_meta,
    )

    eng = _engine(spark, sf_dir)
    if load_meta(eng.index_dir) is None:
        build_fuzzy_sidecar(spark, eng.index_dir, max_edits=2)
    terms = eng.fuzzy_expand("smal", max_edits=2, prefix_length=0)
    plan = eng.score_plan("smal~2", terms=terms) if terms else None
    if plan is None:
        return _docs(spark, sf_dir).select("doc_id", F.lit(0.0).alias("score_r")).limit(0)
    return _topk(plan, 10)


def _dis_max_sql(termsets, tie_breaker: float, k: int = 10,
                 k1: float = K1, b: float = B) -> str:
    """dis_max oracle: per-subquery BM25 sums, then per-doc
    best + tie_breaker * (total − best)."""
    all_terms = sorted({t for s in termsets for t in s})
    expr = (
        f"idf.idf * ((tf.tf * ({k1} + 1)) / "
        f"(tf.tf + {k1} * (1 - {b} + {b} * (dl.doc_len / corpus.avgdl))))"
    )
    subs = []
    for i, s in enumerate(termsets):
        subs.append(
            f"""s{i} AS (SELECT tf.doc_id, sum({expr}) AS score
  FROM tf JOIN idf ON tf.term = idf.term JOIN dl ON tf.doc_id = dl.doc_id, corpus
  WHERE idf.idf <> 0 AND tf.term IN ({_sql_terms(sorted(s))})
  GROUP BY tf.doc_id)"""
        )
    union = " UNION ALL ".join(
        f"SELECT doc_id, score FROM s{i}" for i in range(len(termsets))
    )
    score = f"best + {tie_breaker} * (tot - best)"
    return f"""WITH {_TOK_CTE},
tf AS (SELECT term, doc_id, count(*)::BIGINT AS tf FROM tok
       WHERE term IN ({_sql_terms(all_terms)}) GROUP BY term, doc_id),
df AS (SELECT term, count(*)::BIGINT AS df FROM tf GROUP BY term),
idf AS (SELECT term, ln((corpus.n + 1)::DOUBLE / (df.df + 1)::DOUBLE) AS idf FROM df, corpus),
{",".join(subs)},
u AS ({union}),
c AS (SELECT doc_id, max(score) AS best, sum(score) AS tot FROM u GROUP BY doc_id)
SELECT doc_id, round({score}, 6) AS score_r
FROM c ORDER BY round({score}, 6) DESC, doc_id LIMIT {k}"""


@register("engine_dis_max", _dis_max_sql([Q1_TERMS, Q2_TERMS], 0.3))
def engine_dis_max(spark, sf_dir):
    """ES ``dis_max`` over the two benchmark queries (tie_breaker
    0.3): per doc the best subquery score plus 0.3 of the rest,
    instead of the bool-query sum.  Each subquery is its own
    bucket-pruned score plan; one doc_id shuffle combines them."""
    eng = _engine(spark, sf_dir)
    plan = eng.dis_max_plan(
        [" ".join(Q1_TERMS), " ".join(Q2_TERMS)], tie_breaker=0.3
    )
    if plan is None:
        return _docs(spark, sf_dir).select("doc_id", F.lit(0.0).alias("score_r")).limit(0)
    return _topk(plan, 10)


@register(
    "engine_constant_score",
    f"""WITH {_TOK_CTE}
SELECT DISTINCT doc_id, 1.7::DOUBLE AS score_r
FROM tok WHERE term IN ({_sql_terms(Q1_TERMS)})""",
)
def engine_constant_score(spark, sf_dir):
    """ES ``constant_score``: the filter-context hit set (ANY query
    term, LIVE-df membership — idf plays no role in filter context)
    scored at exactly the boost."""
    eng = _engine(spark, sf_dir)
    plan = eng.constant_score_plan(" ".join(Q1_TERMS), boost=1.7)
    if plan is None:
        return _docs(spark, sf_dir).select("doc_id", F.lit(0.0).alias("score_r")).limit(0)
    return plan.select("doc_id", F.round("score", 6).alias("score_r"))


@register(
    "engine_boosting",
    f"""WITH {_TOK_CTE},
tf AS (SELECT term, doc_id, count(*)::BIGINT AS tf FROM tok
       WHERE term IN ({_sql_terms(Q1_TERMS)}) GROUP BY term, doc_id),
df AS (SELECT term, count(*)::BIGINT AS df FROM tf GROUP BY term),
idf AS (SELECT term, ln((corpus.n + 1)::DOUBLE / (df.df + 1)::DOUBLE) AS idf FROM df, corpus),
scored AS (SELECT tf.doc_id, sum(idf.idf * ((tf.tf * ({K1} + 1)) /
                 (tf.tf + {K1} * (1 - {B} + {B} * (dl.doc_len / corpus.avgdl))))) AS score
           FROM tf JOIN idf ON tf.term = idf.term
                   JOIN dl ON tf.doc_id = dl.doc_id, corpus
           WHERE idf.idf <> 0 GROUP BY tf.doc_id),
neg AS (SELECT DISTINCT doc_id FROM tok WHERE term IN ('hash','join'))
SELECT s.doc_id,
       round(CASE WHEN n.doc_id IS NULL THEN s.score ELSE s.score * 0.4 END, 6) AS score_r
FROM scored s LEFT JOIN neg n ON s.doc_id = n.doc_id
ORDER BY score_r DESC, s.doc_id LIMIT 10""",
)
def engine_boosting(spark, sf_dir):
    """ES ``boosting`` query: BM25 over the positive query, demoted
    ×0.4 for docs also matching the filter-context negative query
    ('hash join').  Left join against the (rarer) negative hit set —
    broadcastable at scale."""
    eng = _engine(spark, sf_dir)
    plan = eng.boosting_plan(
        " ".join(Q1_TERMS), "hash join", negative_boost=0.4
    )
    if plan is None:
        return _docs(spark, sf_dir).select("doc_id", F.lit(0.0).alias("score_r")).limit(0)
    return _topk(plan, 10)


@register("engine_wildcard_topk", _expansion_bm25_sql("term LIKE 's_a%'"))
def engine_wildcard_topk(spark, sf_dir):
    """ES ``wildcard`` query served from the real index: the pattern
    ``s?a*`` (-> scan/small/spark) expands against the live dictionary
    — literal-prefix range scan + regex full-match — then the
    distributed multi-term scoring plan.  The oracle states the same
    pattern as SQL LIKE (`*`->`%`, `?`->`_`)."""
    eng = _engine(spark, sf_dir)
    terms = eng.wildcard_expand("s?a*")
    plan = eng.score_plan("s?a*", terms=terms) if terms else None
    if plan is None:
        return _docs(spark, sf_dir).select("doc_id", F.lit(0.0).alias("score_r")).limit(0)
    return _topk(plan, 10)


@register(
    "engine_regexp_topk",
    _expansion_bm25_sql("regexp_full_match(term, 'h[a-z]sh')"),
)
def engine_regexp_topk(spark, sf_dir):
    """ES ``regexp`` query served from the real index: the anchored
    pattern expands against the live dictionary (literal-prefix 'h'
    range scan + full-match), then the distributed multi-term scoring
    plan.  DuckDB ``regexp_full_match`` is the oracle for the same
    anchoring."""
    eng = _engine(spark, sf_dir)
    terms = eng.regexp_expand("h[a-z]sh")
    plan = eng.score_plan("/h[a-z]sh/", terms=terms) if terms else None
    if plan is None:
        return _docs(spark, sf_dir).select("doc_id", F.lit(0.0).alias("score_r")).limit(0)
    return _topk(plan, 10)


# -------------------------------------------------- bool query DSL (ES)

def _bool_sql(must, should, filter_, must_not, msm: int, k: int = 10) -> str:
    """ES ``bool`` oracle: per-clause BM25 sums (scoring context, idf≠0
    terms), one per-doc aggregate gated on (all must matched, ≥msm
    should matched), then raw-membership filter/must_not predicates —
    exactly operators/query.py ``bool_plan``.  Clauses are term
    lists (the gate corpus is pretokenized)."""
    scoring = [sorted(c) for c in list(must) + list(should)]
    all_terms = sorted({t for c in scoring for t in c})
    expr = (
        f"idf.idf * ((tf.tf * ({K1} + 1)) / "
        f"(tf.tf + {K1} * (1 - {B} + {B} * (dl.doc_len / corpus.avgdl))))"
    )
    subs, unions = [], []
    for i, c in enumerate(scoring):
        is_must = i < len(must)
        subs.append(
            f"""c{i} AS (SELECT tf.doc_id, sum({expr}) AS s
  FROM tf JOIN idf ON tf.term = idf.term JOIN dl ON tf.doc_id = dl.doc_id, corpus
  WHERE idf.idf <> 0 AND tf.term IN ({_sql_terms(c)})
  GROUP BY tf.doc_id)"""
        )
        unions.append(
            f"SELECT doc_id, s, {1 if is_must else 0} AS nm, "
            f"{0 if is_must else 1} AS ns FROM c{i}"
        )
    conds = [f"nm = {len(list(must))}", f"ns >= {msm}"]
    for c in filter_:
        conds.append(
            f"doc_id IN (SELECT doc_id FROM tok WHERE term IN ({_sql_terms(sorted(c))}))"
        )
    for c in must_not:
        conds.append(
            f"doc_id NOT IN (SELECT doc_id FROM tok WHERE term IN ({_sql_terms(sorted(c))}))"
        )
    return f"""WITH {_TOK_CTE},
tf AS (SELECT term, doc_id, count(*)::BIGINT AS tf FROM tok
       WHERE term IN ({_sql_terms(all_terms)}) GROUP BY term, doc_id),
df AS (SELECT term, count(*)::BIGINT AS df FROM tf GROUP BY term),
idf AS (SELECT term, ln((corpus.n + 1)::DOUBLE / (df.df + 1)::DOUBLE) AS idf FROM df, corpus),
{",".join(subs)},
cl AS ({" UNION ALL ".join(unions)}),
agg AS (SELECT doc_id, sum(s) AS score, sum(nm) AS nm, sum(ns) AS ns
        FROM cl GROUP BY doc_id)
SELECT doc_id, round(score, 6) AS score_r FROM agg
WHERE {" AND ".join(conds)}
ORDER BY round(score, 6) DESC, doc_id LIMIT {k}"""


def _scored_cte(terms, p: str = "") -> str:
    """CTE chain ``tf{p}/df{p}/idf{p}/scored{p}`` producing per-doc BM25
    sums for one term set (assumes ``{_TOK_CTE}`` is already in scope)."""
    expr = (
        f"idf{p}.idf * ((tf{p}.tf * ({K1} + 1)) / "
        f"(tf{p}.tf + {K1} * (1 - {B} + {B} * (dl.doc_len / corpus.avgdl))))"
    )
    return f"""tf{p} AS (SELECT term, doc_id, count(*)::BIGINT AS tf FROM tok
       WHERE term IN ({_sql_terms(sorted(terms))}) GROUP BY term, doc_id),
df{p} AS (SELECT term, count(*)::BIGINT AS df FROM tf{p} GROUP BY term),
idf{p} AS (SELECT term, ln((corpus.n + 1)::DOUBLE / (df{p}.df + 1)::DOUBLE) AS idf
           FROM df{p}, corpus),
scored{p} AS (SELECT tf{p}.doc_id, sum({expr}) AS score
           FROM tf{p} JOIN idf{p} ON tf{p}.term = idf{p}.term
                   JOIN dl ON tf{p}.doc_id = dl.doc_id, corpus
           WHERE idf{p}.idf <> 0
           GROUP BY tf{p}.doc_id)"""


@register(
    "engine_collapse_topk",
    f"""WITH {_TOK_CTE},
{_scored_cte(Q1_TERMS)},
ranked AS (SELECT s.doc_id, d.source, round(s.score, 6) AS score_r,
                  row_number() OVER (PARTITION BY d.source
                                     ORDER BY round(s.score, 6) DESC, s.doc_id) AS rn
           FROM scored s JOIN documents d USING (doc_id))
SELECT doc_id, source, score_r FROM ranked WHERE rn = 1
ORDER BY score_r DESC, doc_id LIMIT 10""",
)
def engine_collapse_topk(spark, sf_dir):
    """ES field collapsing: one best-scoring doc per ``source`` value,
    the representatives globally ranked — per-key window (parallel, no
    global sort) then a bounded top-k."""
    eng = _engine(spark, sf_dir)
    dims = _docs(spark, sf_dir, lang=None).select("doc_id", "source")
    plan = eng.collapse_plan(" ".join(Q1_TERMS), dims, col="source")
    if plan is None:
        return _docs(spark, sf_dir).select(
            "doc_id", "source", F.lit(0.0).alias("score_r")
        ).limit(0)
    return plan.orderBy(F.col("score_r").desc(), F.col("doc_id")).limit(10)


@register(
    "engine_rescore_topk",
    f"""WITH {_TOK_CTE},
{_scored_cte(Q1_TERMS, "1")},
{_scored_cte(["hash", "join"], "2")},
win AS (SELECT doc_id, round(score, 6) AS s1 FROM scored1
        ORDER BY s1 DESC, doc_id LIMIT 30),
final AS (SELECT w.doc_id,
                 1.0 * w.s1 + 2.0 * coalesce(round(s2.score, 6), 0) AS score
          FROM win w LEFT JOIN scored2 s2 USING (doc_id))
SELECT doc_id, round(score, 6) AS score_r FROM final
ORDER BY score_r DESC, doc_id LIMIT 10""",
)
def engine_rescore_topk(spark, sf_dir):
    """ES ``rescore``: the top-30 window of the cheap first pass
    re-ranked by qw·orig + rw·secondary (score_mode total) — the
    bounded window broadcasts into the secondary join, docs outside it
    never rescore."""
    eng = _engine(spark, sf_dir)
    plan = eng.rescore_plan(
        " ".join(Q1_TERMS), "hash join", window_size=30,
        query_weight=1.0, rescore_weight=2.0,
    )
    if plan is None:
        return _docs(spark, sf_dir).select("doc_id", F.lit(0.0).alias("score_r")).limit(0)
    return _topk(plan, 10)


@register(
    "engine_rank_feature",
    f"""WITH {_TOK_CTE},
{_scored_cte(Q1_TERMS)},
piv AS (SELECT exp(avg(ln(n_chars))) AS p FROM documents
        WHERE lang = 'en' AND n_chars > 0)
SELECT s.doc_id,
       round(s.score + coalesce(1.5 * (d.n_chars / (d.n_chars + piv.p)), 0),
             6) AS score_r
FROM scored s
LEFT JOIN (SELECT doc_id, n_chars::DOUBLE AS n_chars FROM documents
           WHERE n_chars > 0) d USING (doc_id), piv
ORDER BY score_r DESC, doc_id LIMIT 10""",
)
def engine_rank_feature(spark, sf_dir):
    """ES ``rank_feature`` inside the canonical bool-should shape: the
    match gates relevance, the n_chars feature adds boost ×
    saturation(x) = x/(x+pivot) with ES's default pivot (the field's
    geometric mean, one bounded aggregate) — a LEFT join, so docs
    without the feature keep matching unboosted."""
    eng = _engine(spark, sf_dir)
    plan = eng.match_rank_feature_plan(
        " ".join(Q1_TERMS), _docs(spark, sf_dir), "n_chars", boost=1.5,
    )
    return _topk(plan, 10)


@register(
    "engine_rank_feature_log",
    f"""WITH {_TOK_CTE},
{_scored_cte(Q1_TERMS)}
SELECT s.doc_id,
       round(s.score + coalesce(0.7 * ln(2.0 + d.n_chars), 0), 6) AS score_r
FROM scored s
LEFT JOIN (SELECT doc_id, n_chars::DOUBLE AS n_chars FROM documents
           WHERE n_chars > 0) d USING (doc_id)
ORDER BY score_r DESC, doc_id LIMIT 10""",
)
def engine_rank_feature_log(spark, sf_dir):
    """rank_feature with the ``log`` function ln(scaling_factor + x) —
    the unbounded-feature variant (ES offers it for fields whose
    dynamic range defeats saturation)."""
    eng = _engine(spark, sf_dir)
    plan = eng.match_rank_feature_plan(
        " ".join(Q1_TERMS), _docs(spark, sf_dir), "n_chars",
        function="log", scaling_factor=2.0, boost=0.7,
    )
    return _topk(plan, 10)


@register(
    "engine_distance_feature",
    f"""WITH {_TOK_CTE},
{_scored_cte(Q1_TERMS)}
SELECT s.doc_id,
       round(s.score + coalesce(2.0 * 200.0 / (200.0 + abs(d.n_chars - 800.0)),
                                0), 6) AS score_r
FROM scored s LEFT JOIN documents d USING (doc_id)
ORDER BY score_r DESC, doc_id LIMIT 10""",
)
def engine_distance_feature(spark, sf_dir):
    """ES ``distance_feature`` in the bool-should shape: the match
    gates relevance, docs near origin=800 on n_chars gain boost ×
    pivot/(pivot + |x − origin|) — the recency/proximity booster, one
    LEFT join over the match plan."""
    eng = _engine(spark, sf_dir)
    plan = eng.match_distance_feature_plan(
        " ".join(Q1_TERMS), _docs(spark, sf_dir), "n_chars",
        origin=800.0, pivot=200.0, boost=2.0,
    )
    return _topk(plan, 10)


@register(
    "engine_function_score",
    f"""WITH {_TOK_CTE},
{_scored_cte(Q1_TERMS)}
SELECT s.doc_id, round(s.score * ln(0.1 * d.n_chars + 1), 6) AS score_r
FROM scored s JOIN documents d USING (doc_id)
ORDER BY score_r DESC, doc_id LIMIT 10""",
)
def engine_function_score(spark, sf_dir):
    """ES ``function_score`` / field_value_factor: BM25 × ln1p(0.1 ·
    n_chars) — the external numeric attribute joins in from its own
    table, scores combine multiplicatively."""
    eng = _engine(spark, sf_dir)
    dims = _docs(spark, sf_dir, lang=None).select("doc_id", "n_chars")
    plan = eng.function_score_plan(
        " ".join(Q1_TERMS), dims, field="n_chars", modifier="ln1p",
        factor=0.1, boost_mode="multiply",
    )
    if plan is None:
        return _docs(spark, sf_dir).select("doc_id", F.lit(0.0).alias("score_r")).limit(0)
    return _topk(plan, 10)


@register(
    "engine_bool_must_should",
    _bool_sql([["spark"]], [["merge", "window"], ["dup"]], [], [], msm=0),
)
def engine_bool_must_should(spark, sf_dir):
    """ES ``bool``: one required match clause plus two optional should
    clauses (msm 0 — must present) whose scores add when matched.  One
    doc_id shuffle combines the three bucket-pruned clause plans."""
    eng = _engine(spark, sf_dir)
    plan = eng.bool_plan(must=["spark"], should=["merge window", "dup"])
    return _topk(plan, 10)


@register(
    "engine_bool_msm",
    _bool_sql([], [["spark"], ["merge"], ["window"]], [], [], msm=2),
)
def engine_bool_msm(spark, sf_dir):
    """ES ``bool`` with ``minimum_should_match=2`` over three should
    clauses: docs matching at least two clauses, scored by the sum of
    their matched clauses."""
    eng = _engine(spark, sf_dir)
    plan = eng.bool_plan(
        should=["spark", "merge", "window"], minimum_should_match=2
    )
    return _topk(plan, 10)


@register(
    "engine_bool_filter_must_not",
    _bool_sql([["spark", "dup"]], [], [["merge"]], [["window"]], msm=0),
)
def engine_bool_filter_must_not(spark, sf_dir):
    """ES ``bool`` with all four contexts minus should: scored must
    clause, non-scoring filter (semi join) and must_not (anti join) —
    filter context is raw live membership, no idf."""
    eng = _engine(spark, sf_dir)
    plan = eng.bool_plan(
        must=["spark dup"], filter_=["merge"], must_not=["window"]
    )
    return _topk(plan, 10)


@register(
    "engine_bool_filter_only",
    f"""WITH {_TOK_CTE}
SELECT doc_id, 0.0::DOUBLE AS score_r FROM dl
WHERE doc_id IN (SELECT doc_id FROM tok WHERE term = 'spark')
  AND doc_id NOT IN (SELECT doc_id FROM tok WHERE term = 'dup')
ORDER BY doc_id LIMIT 20""",
)
def engine_bool_filter_only(spark, sf_dir):
    """Filter-only ES ``bool`` (no scoring clause): candidate universe
    is the live docs table (ES match_all semantics), every hit scores
    0 — the shape of a pure attribute filter at scale."""
    eng = _engine(spark, sf_dir)
    plan = eng.bool_plan(filter_=["spark"], must_not=["dup"])
    return (
        plan.select("doc_id", F.round("score", 6).alias("score_r"))
        .orderBy("doc_id")
        .limit(20)
    )


@register(
    "engine_suggest_term",
    f"""WITH {_TOK_CTE},
dfall AS (SELECT term, count(DISTINCT doc_id)::BIGINT AS df FROM tok GROUP BY term)
SELECT term AS suggestion,
       levenshtein(term, 'slaw')::BIGINT AS distance,
       df AS freq
FROM dfall
WHERE substr(term, 1, 1) = 's' AND levenshtein(term, 'slaw') <= 2
      AND term <> 'slaw'
ORDER BY distance, df DESC, term LIMIT 5""",
)
def engine_suggest_term(spark, sf_dir):
    """ES term suggester ("did you mean") served from the live
    dictionary: candidates for the misspelling 'slaw' within 2 edits
    sharing its first char (-> slow d=1, scan d=2), ranked (distance
    asc, live-df desc, term asc).  DuckDB's ``levenshtein`` (same
    no-transposition metric as the engine's python twin) is the
    oracle."""
    eng = _engine(spark, sf_dir)
    sug = eng.suggest("slaw", size=5, max_edits=2, prefix_length=1)
    rows = [
        (s["text"], s["distance"], s["freq"])
        for s in sug.get("slaw", [])
    ]
    return spark.createDataFrame(
        rows, "suggestion string, distance long, freq long"
    )


@register(
    "engine_filtered_bm25",
    f"""WITH {_TOK_CTE},
allow AS (SELECT doc_id FROM documents
          WHERE lang = 'en' AND source IN ('src4', 'src6', 'src7')),
tf AS (SELECT term, doc_id, count(*)::BIGINT AS tf FROM tok
       WHERE term IN ({_sql_terms(Q1_TERMS)}) GROUP BY term, doc_id),
df AS (SELECT term, count(*)::BIGINT AS df FROM tf GROUP BY term),
idf AS (SELECT term, ln((corpus.n + 1)::DOUBLE / (df.df + 1)::DOUBLE) AS idf FROM df, corpus),
scored AS (SELECT tf.doc_id,
                  sum(idf.idf * ((tf.tf * ({K1} + 1)) /
                      (tf.tf + {K1} * (1 - {B} + {B} * (dl.doc_len / corpus.avgdl))))) AS score
           FROM tf JOIN idf ON tf.term = idf.term
                   JOIN dl ON tf.doc_id = dl.doc_id, corpus
           WHERE idf.idf <> 0
                 AND tf.doc_id IN (SELECT doc_id FROM allow)
           GROUP BY tf.doc_id)
SELECT doc_id, round(score, 6) AS score_r FROM scored
ORDER BY round(score, 6) DESC, doc_id LIMIT 10""",
)
def engine_filtered_bm25(spark, sf_dir):
    """ES bool-query ``filter`` clause (non-scoring context): BM25
    ranking restricted to docs whose ``source`` attribute matches,
    served as a semi-join of the scoring plan against the attribute
    table (the data-lake pattern — attributes stay in their parquet
    table, Catalyst/AQE broadcasts the small side).  idf/df are
    UNCHANGED by the filter (ES semantics: filter context does not
    affect scoring), which the oracle mirrors by filtering only the
    scored-doc set."""
    from ..operators.query import QueryEngine

    eng = _engine(spark, sf_dir)
    allow = (
        _docs(spark, sf_dir)
        .filter(F.col("source").isin("src4", "src6", "src7"))
        .select("doc_id")
    )
    plan = eng.score_plan(" ".join(Q1_TERMS))
    if plan is None:
        return _docs(spark, sf_dir).select("doc_id", F.lit(0.0).alias("score_r")).limit(0)
    return _topk(QueryEngine._apply_filter(plan, allow), 10)


@register(
    "facet_doc_len_hist",
    f"""WITH {_TOK_CTE},
hits AS (SELECT DISTINCT tok.doc_id, dl.doc_len FROM tok
         JOIN dl ON tok.doc_id = dl.doc_id
         WHERE tok.term IN ({_sql_terms(Q2_TERMS)}))
SELECT CAST(floor(doc_len / 16) * 16 AS BIGINT) AS bin_lo,
       count(*)::BIGINT AS n_docs
FROM hits GROUP BY 1""",
)
def facet_doc_len_hist(spark, sf_dir):
    """ES histogram aggregation over a query's hit set, served entirely
    from the index (doc_len rides the postings rows — scan + one
    partial-agg shuffle, no join)."""
    eng = _engine(spark, sf_dir)
    return eng.facet_doc_len(Q2_TERMS, bin_width=16)


@register(
    "facet_source_counts",
    f"""WITH {_TOK_CTE},
hits AS (SELECT DISTINCT doc_id FROM tok WHERE term IN ({_sql_terms(Q1_TERMS)}))
SELECT d.source, count(*)::BIGINT AS n_docs
FROM hits JOIN documents d USING (doc_id) GROUP BY d.source""",
)
def facet_source_counts(spark, sf_dir):
    """ES terms aggregation over an external attribute column (the
    data-lake pattern): index hit set ⋈ documents.source — the hit set
    is the broadcast side when small, attributes never leave their
    parquet table."""
    eng = _engine(spark, sf_dir)
    dims = _docs(spark, sf_dir, lang=None).select("doc_id", "source")
    return eng.facet_counts(Q1_TERMS, dims, col="source")


@register(
    "agg_stats_doc_len",
    f"""WITH {_TOK_CTE},
hits AS (SELECT DISTINCT tok.doc_id, dl.doc_len FROM tok
         JOIN dl ON tok.doc_id = dl.doc_id
         WHERE tok.term IN ({_sql_terms(Q1_TERMS)}))
SELECT count(*)::BIGINT AS n_docs, min(doc_len)::BIGINT AS min_len,
       max(doc_len)::BIGINT AS max_len, round(avg(doc_len), 6) AS avg_len_r,
       sum(doc_len)::BIGINT AS sum_len,
       round(var_pop(doc_len), 6) AS var_len_r
FROM hits""",
)
def agg_stats_doc_len(spark, sf_dir):
    """ES stats/extended_stats aggregation over the hit set's doc_len,
    served entirely from the index (one pruned scan, one partial-agg
    shuffle to a single row; population variance = ES definition)."""
    eng = _engine(spark, sf_dir)
    return eng.stats_doc_len(Q1_TERMS, extended=True).select(
        "n_docs", "min_len", "max_len",
        F.round("avg_len", 6).alias("avg_len_r"), "sum_len",
        F.round("var_len", 6).alias("var_len_r"),
    )


@register(
    "agg_range_doc_len",
    f"""WITH {_TOK_CTE},
hits AS (SELECT DISTINCT tok.doc_id, dl.doc_len FROM tok
         JOIN dl ON tok.doc_id = dl.doc_id
         WHERE tok.term IN ({_sql_terms(Q1_TERMS)}))
SELECT CASE WHEN doc_len >= 75 THEN 75 WHEN doc_len >= 50 THEN 50
            WHEN doc_len >= 25 THEN 25 WHEN doc_len >= 0 THEN 0
            ELSE -1 END::BIGINT AS range_lo,
       count(*)::BIGINT AS n_docs
FROM hits GROUP BY 1""",
)
def agg_range_doc_len(spark, sf_dir):
    """ES range aggregation: explicit bucket edges over the hit set's
    doc_len, keyed by lower edge."""
    eng = _engine(spark, sf_dir)
    return eng.range_facet_doc_len(Q1_TERMS, [0, 25, 50, 75])


@register(
    "agg_percentiles_doc_len",
    f"""WITH {_TOK_CTE},
hits AS (SELECT DISTINCT tok.doc_id, dl.doc_len FROM tok
         JOIN dl ON tok.doc_id = dl.doc_id
         WHERE tok.term IN ({_sql_terms(Q1_TERMS)}))
SELECT round(quantile_cont(doc_len, 0.25), 6) AS p25_r,
       round(quantile_cont(doc_len, 0.50), 6) AS p50_r,
       round(quantile_cont(doc_len, 0.75), 6) AS p75_r,
       round(quantile_cont(doc_len, 0.95), 6) AS p95_r
FROM hits""",
)
def agg_percentiles_doc_len(spark, sf_dir):
    """ES ``percentiles`` aggregation over the hit set's doc_len —
    exact linear-interpolation twin (Spark ``percentile`` ≡ DuckDB
    ``quantile_cont``); the ``percentile_approx`` sketch is the 100-TB
    serving path, pytest-bounded against this."""
    eng = _engine(spark, sf_dir)
    df = eng.percentiles_doc_len(Q1_TERMS, (25, 50, 75, 95), exact=True)
    return df.select(
        *[F.round(c, 6).alias(c + "_r") for c in ["p25", "p50", "p75", "p95"]]
    )


@register(
    "agg_cardinality_source",
    f"""WITH {_TOK_CTE},
hits AS (SELECT DISTINCT doc_id FROM tok WHERE term IN ({_sql_terms(Q1_TERMS)}))
SELECT count(DISTINCT d.source)::BIGINT AS n_distinct
FROM hits JOIN documents d USING (doc_id)""",
)
def agg_cardinality_source(spark, sf_dir):
    """ES cardinality aggregation (exact twin — the HLL++ variant is
    the 100-TB shape and is pytest-bounded against this exact count)."""
    eng = _engine(spark, sf_dir)
    dims = _docs(spark, sf_dir, lang=None).select("doc_id", "source")
    return eng.cardinality(Q1_TERMS, dims, col="source", exact=True)


@register(
    "agg_top_hits_per_source",
    f"""WITH {_TOK_CTE},
tf AS (SELECT term, doc_id, count(*)::BIGINT AS tf FROM tok
       WHERE term IN ({_sql_terms(Q1_TERMS)}) GROUP BY term, doc_id),
df AS (SELECT term, count(*)::BIGINT AS df FROM tf GROUP BY term),
idf AS (SELECT term, ln((corpus.n + 1)::DOUBLE / (df.df + 1)::DOUBLE) AS idf FROM df, corpus),
scored AS (SELECT tf.doc_id, sum(idf.idf * ((tf.tf * ({K1} + 1)) /
                 (tf.tf + {K1} * (1 - {B} + {B} * (dl.doc_len / corpus.avgdl))))) AS score
           FROM tf JOIN idf ON tf.term = idf.term
                   JOIN dl ON tf.doc_id = dl.doc_id, corpus
           WHERE idf.idf <> 0 GROUP BY tf.doc_id),
ranked AS (SELECT d.source, s.doc_id, round(s.score, 6) AS score_r,
                  row_number() OVER (PARTITION BY d.source
                                     ORDER BY round(s.score, 6) DESC, s.doc_id) AS rank
           FROM scored s JOIN documents d USING (doc_id))
SELECT source, rank::BIGINT AS rank, doc_id, score_r
FROM ranked WHERE rank <= 2""",
)
def agg_top_hits_per_source(spark, sf_dir):
    """ES top_hits inside a terms aggregation: the 2 best-scoring docs
    per source bucket — per-bucket window rank, no global sort."""
    eng = _engine(spark, sf_dir)
    dims = _docs(spark, sf_dir, lang=None).select("doc_id", "source")
    plan = eng.top_hits_by(" ".join(Q1_TERMS), dims, col="source", n=2)
    if plan is None:
        return _docs(spark, sf_dir).select(
            "source", F.lit(0).cast("long").alias("rank"), "doc_id",
            F.lit(0.0).alias("score_r"),
        ).limit(0)
    return plan.select(
        "source", F.col("rank").cast("long").alias("rank"), "doc_id", "score_r"
    )


@register(
    "engine_search_after_page2",
    f"""WITH {_TOK_CTE},
tf AS (SELECT term, doc_id, count(*)::BIGINT AS tf FROM tok
       WHERE term IN ({_sql_terms(Q2_TERMS)}) GROUP BY term, doc_id),
df AS (SELECT term, count(*)::BIGINT AS df FROM tf GROUP BY term),
idf AS (SELECT term, ln((corpus.n + 1)::DOUBLE / (df.df + 1)::DOUBLE) AS idf FROM df, corpus),
scored AS (SELECT tf.doc_id,
                  sum(idf.idf * ((tf.tf * ({K1} + 1)) /
                      (tf.tf + {K1} * (1 - {B} + {B} * (dl.doc_len / corpus.avgdl))))) AS score
           FROM tf JOIN idf ON tf.term = idf.term
                   JOIN dl ON tf.doc_id = dl.doc_id, corpus
           WHERE idf.idf <> 0 GROUP BY tf.doc_id)
SELECT doc_id, round(score, 6) AS score_r FROM scored
ORDER BY round(score, 6) DESC, doc_id LIMIT 10 OFFSET 10""",
)
def engine_search_after_page2(spark, sf_dir):
    """ES search_after deep pagination: page 2 fetched via the keyset
    cursor (score, doc_id) of page 1's last row — a bounded top-k job
    with a pushed filter, never an OFFSET scan-and-discard (the shape
    that stays O(k) at page 1000).  Must equal the oracle's OFFSET
    formulation exactly (the (score_r, doc_id) order is total, so
    keyset ≡ offset).  Cursor and filter use the 6-dp rounded score on
    both sides so cross-engine last-ulp noise cannot shift the page
    boundary."""
    eng = _engine(spark, sf_dir)
    plan = eng.score_plan(" ".join(Q2_TERMS))
    if plan is None:
        return _docs(spark, sf_dir).select("doc_id", F.lit(0.0).alias("score_r")).limit(0)
    rounded = plan.select("doc_id", F.round("score", 6).alias("score_r"))
    page1 = (
        rounded.orderBy(F.col("score_r").desc(), F.col("doc_id")).limit(10).collect()
    )
    if len(page1) < 10:
        return rounded.limit(0)
    cur_s, cur_d = page1[-1]["score_r"], page1[-1]["doc_id"]
    return (
        rounded.filter(
            (F.col("score_r") < cur_s)
            | ((F.col("score_r") == cur_s) & (F.col("doc_id") > cur_d))
        )
        .orderBy(F.col("score_r").desc(), F.col("doc_id"))
        .limit(10)
    )


def _highlight_sql(terms, k: int = 10, window: int = 10) -> str:
    return f"""WITH {_TOK_CTE},
tf AS (SELECT term, doc_id, count(*)::BIGINT AS tf FROM tok
       WHERE term IN ({_sql_terms(terms)}) GROUP BY term, doc_id),
df AS (SELECT term, count(*)::BIGINT AS df FROM tf GROUP BY term),
idf AS (SELECT term, ln((corpus.n + 1)::DOUBLE / (df.df + 1)::DOUBLE) AS idf FROM df, corpus),
scored AS (SELECT tf.doc_id,
                  sum(idf.idf * ((tf.tf * ({K1} + 1)) /
                      (tf.tf + {K1} * (1 - {B} + {B} * (dl.doc_len / corpus.avgdl))))) AS score
           FROM tf JOIN idf ON tf.term = idf.term
                   JOIN dl ON tf.doc_id = dl.doc_id, corpus
           WHERE idf.idf <> 0 GROUP BY tf.doc_id),
top AS (SELECT doc_id, round(score, 6) AS score_r FROM scored
        ORDER BY round(score, 6) DESC, doc_id LIMIT {k}),
t AS (SELECT doc_id, string_split(text, ' ') AS L
      FROM documents WHERE lang = 'en' AND doc_id IN (SELECT doc_id FROM top)),
pos AS (SELECT doc_id, i
        FROM (SELECT doc_id, L, generate_subscripts(L, 1) AS i FROM t)
        WHERE L[i] IN ({_sql_terms(terms)})),
cnt AS (SELECT a.doc_id, a.i, count(*)::BIGINT AS hits
        FROM pos a JOIN pos b ON b.doc_id = a.doc_id
                           AND b.i BETWEEN a.i AND a.i + {window - 1}
        GROUP BY a.doc_id, a.i),
best AS (SELECT doc_id, i FROM (
           SELECT doc_id, i,
                  row_number() OVER (PARTITION BY doc_id
                                     ORDER BY hits DESC, i) AS rn
           FROM cnt) WHERE rn = 1)
SELECT top.doc_id, top.score_r,
       array_to_string(t.L[best.i : best.i + {window - 1}], ' ') AS snippet
FROM top JOIN best ON top.doc_id = best.doc_id
         JOIN t ON top.doc_id = t.doc_id"""


@register(
    "engine_mlt_topk",
    f"""WITH {_TOK_CTE},
src AS (SELECT min(doc_id) AS sd FROM documents WHERE lang = 'en'),
srctf AS (SELECT term, count(*)::BIGINT AS tf FROM tok
          WHERE doc_id = (SELECT sd FROM src) GROUP BY term),
dfall AS (SELECT term, count(DISTINCT doc_id)::BIGINT AS df FROM tok GROUP BY term),
mlt AS (SELECT s.term FROM srctf s JOIN dfall d ON s.term = d.term, corpus
        WHERE ln((corpus.n + 1)::DOUBLE / (d.df + 1)::DOUBLE) <> 0
        ORDER BY s.tf * ln((corpus.n + 1)::DOUBLE / (d.df + 1)::DOUBLE) DESC, s.term
        LIMIT 50),
tf AS (SELECT term, doc_id, count(*)::BIGINT AS tf FROM tok
       WHERE term IN (SELECT term FROM mlt) GROUP BY term, doc_id),
df AS (SELECT term, count(*)::BIGINT AS df FROM tf GROUP BY term),
idf AS (SELECT term, ln((corpus.n + 1)::DOUBLE / (df.df + 1)::DOUBLE) AS idf FROM df, corpus),
scored AS (SELECT tf.doc_id,
                  sum(idf.idf * ((tf.tf * ({K1} + 1)) /
                      (tf.tf + {K1} * (1 - {B} + {B} * (dl.doc_len / corpus.avgdl))))) AS score
           FROM tf JOIN idf ON tf.term = idf.term
                   JOIN dl ON tf.doc_id = dl.doc_id, corpus
           WHERE idf.idf <> 0 AND tf.doc_id <> (SELECT sd FROM src)
           GROUP BY tf.doc_id)
SELECT doc_id, round(score, 6) AS score_r FROM scored
ORDER BY round(score, 6) DESC, doc_id LIMIT 10""",
)
def engine_mlt_topk(spark, sf_dir):
    """ES more_like_this served from the real index: the source doc's
    (one forward-index row) terms ranked by tf·idf drive a multi-term
    OR excluding the source doc.  Gate uses max_query_terms=50 (> the
    fixture vocabulary) so the cap boundary cannot straddle a
    cross-engine float tie; the 25-term selection ORDER itself is
    pytest-checked against a python recompute."""
    eng = _engine(spark, sf_dir)
    src = int(_docs(spark, sf_dir).agg(F.min("doc_id")).collect()[0][0])
    terms = eng.mlt_terms(src, max_query_terms=50)
    plan = eng.score_plan(f"mlt:{src}", terms=terms) if terms else None
    if plan is None:
        return _docs(spark, sf_dir).select("doc_id", F.lit(0.0).alias("score_r")).limit(0)
    return _topk(plan.filter(F.col("doc_id") != src), 10)


@register(
    "engine_significant_terms",
    f"""WITH {_TOK_CTE},
hits AS (SELECT DISTINCT doc_id FROM tok WHERE term IN ({_sql_terms(Q1_TERMS)})),
fg AS (SELECT term, count(DISTINCT doc_id)::BIGINT AS fg_df FROM tok
       WHERE doc_id IN (SELECT doc_id FROM hits) GROUP BY term),
bg AS (SELECT term, count(DISTINCT doc_id)::BIGINT AS bg_df FROM tok GROUP BY term),
ft AS (SELECT count(*)::BIGINT AS fg_total FROM hits)
SELECT fg.term, fg.fg_df, bg.bg_df,
       round((fg.fg_df::DOUBLE / ft.fg_total) / (bg.bg_df::DOUBLE / corpus.n), 6) AS score_r
FROM fg JOIN bg ON fg.term = bg.term, ft, corpus
WHERE fg.fg_df >= 3
ORDER BY round((fg.fg_df::DOUBLE / ft.fg_total) / (bg.bg_df::DOUBLE / corpus.n), 6) DESC,
         fg.term LIMIT 20""",
)
def engine_significant_terms(spark, sf_dir):
    """ES significant_terms aggregation served from the real index:
    foreground df over the hit set's forward-index rows, background df
    from the live signed dictionary sources, lift scoring."""
    eng = _engine(spark, sf_dir)
    return eng.significant_terms_plan(" ".join(Q1_TERMS), top_terms=20, min_fg=3)


@register(
    "engine_significant_terms_sampled",
    f"""WITH {_TOK_CTE},
tf AS (SELECT term, doc_id, count(*)::BIGINT AS tf FROM tok
       WHERE term IN ({_sql_terms(Q1_TERMS)}) GROUP BY term, doc_id),
dfq AS (SELECT term, count(*)::BIGINT AS df FROM tf GROUP BY term),
idf AS (SELECT term, ln((corpus.n + 1)::DOUBLE / (dfq.df + 1)::DOUBLE) AS idf
        FROM dfq, corpus),
scored AS (SELECT tf.doc_id,
                  sum(idf.idf * ((tf.tf * ({K1} + 1)) /
                      (tf.tf + {K1} * (1 - {B} + {B} * (dl.doc_len / corpus.avgdl))))) AS score
           FROM tf JOIN idf ON tf.term = idf.term
                   JOIN dl ON tf.doc_id = dl.doc_id, corpus
           WHERE idf.idf <> 0
           GROUP BY tf.doc_id),
sample AS (SELECT doc_id FROM scored
           ORDER BY round(score, 6) DESC, doc_id LIMIT 25),
fg AS (SELECT term, count(DISTINCT doc_id)::BIGINT AS fg_df FROM tok
       WHERE doc_id IN (SELECT doc_id FROM sample) GROUP BY term),
bg AS (SELECT term, count(DISTINCT doc_id)::BIGINT AS bg_df FROM tok GROUP BY term),
ft AS (SELECT count(*)::BIGINT AS fg_total FROM sample)
SELECT fg.term, fg.fg_df, bg.bg_df,
       round((fg.fg_df::DOUBLE / ft.fg_total) / (bg.bg_df::DOUBLE / corpus.n), 6) AS score_r
FROM fg JOIN bg ON fg.term = bg.term, ft, corpus
WHERE fg.fg_df >= 3
ORDER BY round((fg.fg_df::DOUBLE / ft.fg_total) / (bg.bg_df::DOUBLE / corpus.n), 6) DESC,
         fg.term LIMIT 20""",
)
def engine_significant_terms_sampled(spark, sf_dir):
    """ES ``sampler`` -> ``significant_terms``: the foreground pass is
    bounded to the top-25 hits by BM25 relevance (in-plan TakeOrdered)
    before the token explode — the scale guard for head-term queries
    whose hit set ≈ df.  fg_total = the sampler's doc_count."""
    eng = _engine(spark, sf_dir)
    return eng.significant_terms_plan(
        " ".join(Q1_TERMS), top_terms=20, min_fg=3, sample_size=25
    )


@register("engine_highlight_topk", _highlight_sql(Q1_TERMS))
def engine_highlight_topk(spark, sf_dir):
    """ES highlighting served from the live forward index: top-k docs +
    the densest 10-token window (most query-term positions, earliest
    anchor on ties) as the snippet.  The plan broadcast-joins the k-row
    top-k to the tokens table and self-joins only those docs' match
    positions — nothing corpus-sized shuffles."""
    eng = _engine(spark, sf_dir)
    return eng.highlight_plan(" ".join(Q1_TERMS), k=10, window=10).select(
        "doc_id", F.round("score", 6).alias("score_r"), "snippet"
    )


# ------------------------------------------- training-data pipeline ops

@register(
    "dedup_exact",
    """SELECT doc_id, min(doc_id) OVER (PARTITION BY md5(text)) AS canon_id
FROM documents""",
)
def dedup_exact(spark, sf_dir):
    d = _docs(spark, sf_dir, lang=None)
    w = Window.partitionBy(F.md5(F.col("text")))
    return d.select("doc_id", F.min("doc_id").over(w).alias("canon_id"))


@register(
    "dedup_ngram_jaccard",
    """WITH t AS (SELECT doc_id, string_split(text, ' ') AS L FROM documents WHERE lang = 'en'),
ix AS (SELECT doc_id, L, generate_subscripts(L, 1) AS i FROM t),
sh AS (SELECT DISTINCT doc_id, L[i] || ' ' || L[i+1] || ' ' || L[i+2] AS shingle
       FROM ix WHERE i <= len(L) - 2),
cnt AS (SELECT doc_id, count(*)::BIGINT AS n FROM sh GROUP BY doc_id),
inter AS (SELECT a.doc_id AS a, b.doc_id AS b, count(*)::BIGINT AS c
          FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
          GROUP BY a.doc_id, b.doc_id)
SELECT a, b, round(c::DOUBLE / (ca.n + cb.n - c), 6) AS jaccard_r
FROM inter JOIN cnt ca ON ca.doc_id = a JOIN cnt cb ON cb.doc_id = b
WHERE c::DOUBLE / (ca.n + cb.n - c) >= 0.5""",
)
def dedup_ngram_jaccard(spark, sf_dir):
    d = _docs(spark, sf_dir).select("doc_id", F.split(F.col("text"), " ").alias("L"))
    sh = d.select(
        "doc_id",
        F.explode(
            F.array_distinct(
                F.transform(
                    F.sequence(F.lit(0), F.size("L") - 3),
                    lambda i: F.concat_ws(" ", F.slice(F.col("L"), i + 1, 3)),
                )
            )
        ).alias("shingle"),
    )
    cnt = sh.groupBy("doc_id").agg(F.count("*").cast("long").alias("n"))
    a = sh.alias("a")
    b_ = sh.alias("b")
    inter = (
        a.join(
            b_,
            (F.col("a.shingle") == F.col("b.shingle"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(F.col("a.doc_id").alias("a"), F.col("b.doc_id").alias("b"))
        .agg(F.count("*").cast("long").alias("c"))
    )
    ca = cnt.select(F.col("doc_id").alias("a"), F.col("n").alias("na"))
    cb = cnt.select(F.col("doc_id").alias("b"), F.col("n").alias("nb"))
    jac = F.col("c").cast("double") / (F.col("na") + F.col("nb") - F.col("c"))
    return (
        inter.join(ca, "a")
        .join(cb, "b")
        .filter(jac >= 0.5)
        .select("a", "b", F.round(jac, 6).alias("jaccard_r"))
    )


@register(
    "minhash_band_pairs",
    """WITH t AS (SELECT DISTINCT doc_id, unnest(string_split(text, ' ')) AS term
       FROM documents WHERE lang = 'en'),
sig AS (SELECT doc_id, s.i, min(md5(s.i::VARCHAR || ':' || term)) AS h
        FROM t, generate_series(0, 7) s(i) GROUP BY doc_id, s.i),
bands AS (SELECT doc_id, i // 2 AS band, min(h) || max(h) AS bh
          FROM sig GROUP BY doc_id, i // 2)
SELECT DISTINCT a.doc_id AS a, b.doc_id AS b
FROM bands a JOIN bands b
  ON a.band = b.band AND a.bh = b.bh AND a.doc_id < b.doc_id""",
)
def minhash_band_pairs(spark, sf_dir):
    """MinHash (8 perms via md5(seed:term) string-min) + LSH banding
    (4 bands x 2 rows) candidate pairs.

    Single-shuffle signatures: 8 per-seed MIN aggregates in one
    groupBy(doc_id) (map-side combine) instead of a seed crossJoin —
    shuffle rows = |(doc, term)| pairs, not 8x that.  Band hashes are
    then pure column expressions (least/greatest = the per-band min/max
    over its 2 rows)."""
    t = _tok(spark, sf_dir).distinct()
    sig = t.groupBy("doc_id").agg(
        *[
            F.min(F.md5(F.concat(F.lit(f"{i}:"), F.col("term")))).alias(f"h{i}")
            for i in range(8)
        ]
    )
    band_cols = []
    for band in range(4):
        lo, hi = f"h{2 * band}", f"h{2 * band + 1}"
        band_cols.append(
            F.struct(
                F.lit(band).cast("long").alias("band"),
                F.concat(F.least(lo, hi), F.greatest(lo, hi)).alias("bh"),
            )
        )
    bands = sig.select(
        "doc_id", F.explode(F.array(*band_cols)).alias("b")
    ).select("doc_id", F.col("b.band").alias("band"), F.col("b.bh").alias("bh"))
    a = bands.alias("a")
    b_ = bands.alias("b")
    return (
        a.join(
            b_,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bh") == F.col("b.bh"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(F.col("a.doc_id").alias("a"), F.col("b.doc_id").alias("b"))
        .distinct()
    )


@register(
    "simhash_signature",
    """WITH tf AS (SELECT doc_id, term, count(*)::BIGINT AS tf FROM (
         SELECT doc_id, unnest(string_split(text, ' ')) AS term
         FROM documents WHERE lang = 'en') GROUP BY doc_id, term),
th AS (SELECT doc_id, tf, ('0x' || substr(md5(term), 1, 15))::BIGINT AS h FROM tf),
bits AS (SELECT doc_id, s.bit,
                sum(tf * (2 * ((h >> s.bit) & 1) - 1)) AS contrib
         FROM th, generate_series(0, 59) s(bit) GROUP BY doc_id, s.bit)
SELECT doc_id,
       sum(CASE WHEN contrib > 0 THEN (1::BIGINT << bit) ELSE 0 END)::BIGINT AS simhash
FROM bits GROUP BY doc_id""",
)
def simhash_signature(spark, sf_dir):
    """60-bit tf-weighted SimHash from md5-derived term hashes.

    Single-shuffle plan: 60 per-bit SUM aggregates in one groupBy
    (map-side partial agg), then a driver-free bit-pack expression — no
    bit-fanout crossJoin, so shuffle volume is |(doc,term)| rows, not
    60x that."""
    return _simhash60(spark, sf_dir)


def _simhash60(spark, sf_dir):
    tf = _tok(spark, sf_dir).groupBy("doc_id", "term").agg(
        F.count("*").cast("long").alias("tf")
    )
    th = tf.select(
        "doc_id",
        "tf",
        F.conv(F.substring(F.md5(F.col("term")), 1, 15), 16, 10).cast("long").alias("h"),
    )
    contribs = th.groupBy("doc_id").agg(
        *[
            F.sum(F.col("tf") * (2 * F.expr(f"(h >> {bit}) & 1") - 1)).alias(f"c{bit}")
            for bit in range(60)
        ]
    )
    packed = None
    for bit in range(60):
        term = F.when(F.col(f"c{bit}") > 0, F.lit(1 << bit)).otherwise(F.lit(0))
        packed = term if packed is None else packed + term
    return contribs.select("doc_id", packed.cast("long").alias("simhash"))


@register(
    "hamming_near_dup_pairs",
    None,  # oracle registered below (needs simhash_signature's SQL)
)
def hamming_near_dup_pairs(spark, sf_dir):
    """Hamming-distance near-dup pairs over a precomputed ≤64-bit
    signature column — the generic banding operator behind BOTH token
    simhash dedup and image perceptual-hash dedup
    (``operators/dedup.py::hamming_near_pairs``; the image variant,
    ``multimodal.phash_near_pairs``, is the same operator over
    image_features' phash and is pytest-covered since the stub
    decoder's hash is not SQL-expressible).  The banded candidate join
    must reproduce the oracle's BRUTE-FORCE all-pairs Hamming scan
    exactly: that proves verification exactness AND completeness of
    the 4-band pigeonhole at max_hamming = 3."""
    from ..operators.dedup import hamming_near_pairs

    sig = _simhash60(spark, sf_dir)
    return hamming_near_pairs(
        sig, id_col="doc_id", hash_col="simhash", n_bits=60, n_bands=4,
        max_hamming=3,
    ).select("a", "b", F.col("hamming").cast("long").alias("hamming"))


ORACLE_SQL["hamming_near_dup_pairs"] = f"""WITH sig AS (
{ORACLE_SQL['simhash_signature']}
)
SELECT a.doc_id AS a, b.doc_id AS b,
       bit_count(xor(a.simhash, b.simhash))::BIGINT AS hamming
FROM sig a JOIN sig b ON a.doc_id < b.doc_id
WHERE bit_count(xor(a.simhash, b.simhash)) <= 3"""


@register(
    "embed_cosine_topk",
    """WITH ex AS (SELECT vec_id, embedding AS emb, generate_subscripts(embedding, 1) AS i
       FROM embeddings),
vals AS (SELECT vec_id, i, emb[i]::DOUBLE AS v FROM ex),
tv AS (SELECT i, v AS tvv FROM vals WHERE vec_id = 0),
dots AS (SELECT vals.vec_id, sum(vals.v * tv.tvv) AS dot, sum(vals.v * vals.v) AS na
         FROM vals JOIN tv ON vals.i = tv.i GROUP BY vals.vec_id),
nb AS (SELECT sum(tvv * tvv) AS nb FROM tv)
SELECT vec_id, round(dot / (sqrt(na) * sqrt(nb)), 6) AS cos_r
FROM dots, nb WHERE vec_id <> 0
ORDER BY round(dot / (sqrt(na) * sqrt(nb)), 6) DESC, vec_id LIMIT 10""",
)
def embed_cosine_topk(spark, sf_dir):
    """Brute-force cosine top-10 neighbors of vec_id=0 (ANN baseline)."""
    emb = spark.read.parquet(os.path.join(sf_dir, "embeddings.parquet"))
    vals = emb.select(
        "vec_id", F.posexplode(F.col("embedding").cast("array<double>")).alias("i", "v")
    )
    tv = vals.filter(F.col("vec_id") == 0).select(
        F.col("i").alias("ti"), F.col("v").alias("tvv")
    )
    dots = (
        vals.join(tv, vals["i"] == tv["ti"])
        .groupBy("vec_id")
        .agg(
            F.sum(F.col("v") * F.col("tvv")).alias("dot"),
            F.sum(F.col("v") * F.col("v")).alias("na"),
        )
    )
    nb = tv.agg(F.sum(F.col("tvv") * F.col("tvv")).alias("nb"))
    cos = F.col("dot") / (F.sqrt("na") * F.sqrt("nb"))
    return (
        dots.crossJoin(nb)
        .filter(F.col("vec_id") != 0)
        .select("vec_id", F.round(cos, 6).alias("cos_r"))
        .orderBy(F.col("cos_r").desc(), F.col("vec_id"))
        .limit(10)
    )


@register("ivf_probe_all_topk", ORACLE_SQL["embed_cosine_topk"])
def ivf_probe_all_topk(spark, sf_dir):
    """IVF ANN machinery proven against the exact oracle: probing ALL
    cells degrades IVF to brute force, so the full pipeline (seeded
    k-means coarse quantizer -> cell assignment -> probe -> exact cosine
    on candidates) must reproduce the brute-force cosine top-10
    exactly.  The pruned path (n_probe < n_cells) is covered by pytest
    recall/partition-pruning tests."""
    from ..operators.similarity import ivf_topk, kmeans_centroids

    emb = spark.read.parquet(os.path.join(sf_dir, "embeddings.parquet"))
    n_cells = 4
    cents = kmeans_centroids(emb, n_cells=n_cells, sample_size=2000, seed=7)
    q = emb.filter(F.col("vec_id") == 0).first()["embedding"]
    res = ivf_topk(emb, q, cents, k=1_000_000, n_probe=n_cells)
    return (
        res.filter(F.col("id") != 0)
        .select(F.col("id").alias("vec_id"), F.round("cosine", 6).alias("cos_r"))
        .orderBy(F.col("cos_r").desc(), F.col("vec_id"))
        .limit(10)
    )


@register(
    "dedup_embedding_cosine",
    """SELECT a.vec_id AS a, b.vec_id AS b,
       round(list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]), 6) AS cos_r
FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
WHERE list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]) >= 0.42""",
)
def dedup_embedding_cosine(spark, sf_dir):
    """Embedding-cosine near-duplicate pairs (threshold 0.42 — the
    synthetic embeddings have no planted dups, so the threshold sits
    just under the max observed similarity to yield a non-trivial pair
    set).  Array-native dot product via zip_with/aggregate — no explode,
    no UDF; at scale the self-join is replaced by the LSH/IVF candidate
    paths in operators/similarity.py."""
    emb = spark.read.parquet(os.path.join(sf_dir, "embeddings.parquet")).select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    )

    def dot(x, y):
        return F.aggregate(
            F.zip_with(x, y, lambda p, q: p * q), F.lit(0.0), lambda acc, z: acc + z
        )

    a = emb.select(F.col("vec_id").alias("a"), F.col("v").alias("va"))
    b_ = emb.select(F.col("vec_id").alias("b"), F.col("v").alias("vb"))
    cos = dot(F.col("va"), F.col("vb")) / (
        F.sqrt(dot(F.col("va"), F.col("va"))) * F.sqrt(dot(F.col("vb"), F.col("vb")))
    )
    return (
        a.join(b_, F.col("a") < F.col("b"))
        .withColumn("cos", cos)
        .filter(F.col("cos") >= 0.42)
        .select("a", "b", F.round("cos", 6).alias("cos_r"))
    )


@register(
    "langid_heuristic",
    """WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents)
SELECT doc_id,
       round(sum(CASE WHEN term IN ('a', 'the') THEN 1 ELSE 0 END)::DOUBLE / count(*), 6) AS en_ratio_r,
       CASE WHEN sum(CASE WHEN term IN ('a', 'the') THEN 1 ELSE 0 END)::DOUBLE / count(*) >= 0.02
            THEN 'en' ELSE 'unk' END AS pred
FROM tok GROUP BY doc_id""",
)
def langid_heuristic(spark, sf_dir):
    """n-gram/stopword-ratio language ID (marker tokens 'a'/'the')."""
    tok = _tok(spark, sf_dir, lang=None)
    ratio = F.sum(
        F.when(F.col("term").isin("a", "the"), 1).otherwise(0)
    ).cast("double") / F.count("*")
    return tok.groupBy("doc_id").agg(
        F.round(ratio, 6).alias("en_ratio_r"),
        F.when(ratio >= 0.02, "en").otherwise("unk").alias("pred"),
    )


@register(
    "text_quality",
    """WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents)
SELECT doc_id, count(*)::BIGINT AS n_tokens,
       count(DISTINCT term)::BIGINT AS n_unique,
       round(count(DISTINCT term)::DOUBLE / count(*), 6) AS ttr_r,
       round(sum(length(term))::DOUBLE / count(*), 6) AS avg_token_len_r,
       (count(*) BETWEEN 20 AND 1000
        AND count(DISTINCT term)::DOUBLE / count(*) > 0.05) AS quality_ok
FROM tok GROUP BY doc_id""",
)
def text_quality(spark, sf_dir):
    tok = _tok(spark, sf_dir, lang=None)
    n = F.count("*")
    nu = F.countDistinct("term")
    return tok.groupBy("doc_id").agg(
        n.cast("long").alias("n_tokens"),
        nu.cast("long").alias("n_unique"),
        F.round(nu.cast("double") / n, 6).alias("ttr_r"),
        F.round(F.sum(F.length("term")).cast("double") / n, 6).alias("avg_token_len_r"),
        (n.between(20, 1000) & (nu.cast("double") / n > 0.05)).alias("quality_ok"),
    )


@register(
    "binary_metadata",
    """SELECT doc_id, octet_length(encode(text))::BIGINT AS n_bytes,
       md5(text) AS content_md5,
       substr(text, 1, 8) AS head
FROM documents""",
)
def binary_metadata(spark, sf_dir):
    """Opaque-binary-column plumbing (multimodal data model): treat the
    payload as bytes, compute typed metadata (size, content hash, magic
    prefix) — the schema/batching shape used by operators/multimodal.py
    for image/audio blobs."""
    d = _docs(spark, sf_dir, lang=None)
    blob = F.encode(F.col("text"), "UTF-8")
    return d.select(
        "doc_id",
        F.length(blob).cast("long").alias("n_bytes"),
        F.md5(blob).alias("content_md5"),
        F.substring(F.col("text"), 1, 8).alias("head"),
    )


@register(
    "token_count",
    r"""SELECT doc_id,
       len(string_split(text, ' '))::BIGINT AS ws_tokens,
       len(regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9 ]'))::BIGINT AS bpe_tokens
FROM documents""",
)
def token_count(spark, sf_dir):
    """Whitespace + BPE-ish regex token counts per document."""
    d = _docs(spark, sf_dir, lang=None)
    return d.select(
        "doc_id",
        F.size(F.split(F.col("text"), " ")).cast("long").alias("ws_tokens"),
        F.size(F.regexp_extract_all(F.col("text"), F.lit(r"[a-z]+|[0-9]+|[^a-z0-9 ]"), 0))
        .cast("long")
        .alias("bpe_tokens"),
    )


@register(
    "doc_fingerprint",
    """WITH tf AS (SELECT doc_id, term, count(*)::BIGINT AS tf FROM (
         SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents)
       GROUP BY doc_id, term)
SELECT doc_id,
       (sum((('0x' || substr(md5(term), 1, 8))::BIGINT % 1000003) * tf) % 1000003)::BIGINT AS fp
FROM tf GROUP BY doc_id""",
)
def doc_fingerprint(spark, sf_dir):
    """Order-independent content fingerprint from md5-derived token
    hashes (rolling-hash analogue that is portable across engines)."""
    tf = _tok(spark, sf_dir, lang=None).groupBy("doc_id", "term").agg(
        F.count("*").cast("long").alias("tf")
    )
    h = F.conv(F.substring(F.md5(F.col("term")), 1, 8), 16, 10).cast("long")
    return tf.groupBy("doc_id").agg(
        (F.sum((h % 1000003) * F.col("tf")) % 1000003).cast("long").alias("fp")
    )


@register(
    "events_value_percentiles",
    """SELECT event_type,
       round(quantile_cont(value, 0.5), 6) AS p50_r,
       round(quantile_cont(value, 0.95), 6) AS p95_r,
       round(quantile_cont(value, 0.99), 6) AS p99_r,
       round(avg(value), 6) AS mean_r
FROM events GROUP BY event_type""",
)
def events_value_percentiles(spark, sf_dir):
    """A4 percentile-statistics shape (reference latency harness
    ``measure_latency_datastores.py:268-277``) computed in-engine with
    exact linear-interpolation percentiles (Spark ``percentile`` ==
    DuckDB ``quantile_cont``)."""
    ev = spark.read.parquet(os.path.join(sf_dir, "events.parquet"))
    return ev.groupBy("event_type").agg(
        F.round(F.expr("percentile(value, 0.5)"), 6).alias("p50_r"),
        F.round(F.expr("percentile(value, 0.95)"), 6).alias("p95_r"),
        F.round(F.expr("percentile(value, 0.99)"), 6).alias("p99_r"),
        F.round(F.avg("value"), 6).alias("mean_r"),
    )


@register(
    "events_sessions",
    """WITH d AS (
  SELECT user_id, ts, value,
         CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
                   OR ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts) >= INTERVAL 30 MINUTE
              THEN 1 ELSE 0 END AS new_s
  FROM events),
s AS (SELECT user_id, ts, value,
             sum(new_s) OVER (PARTITION BY user_id ORDER BY ts
                              ROWS UNBOUNDED PRECEDING) AS sid
      FROM d)
SELECT user_id,
       strftime(min(ts), '%Y-%m-%d %H:%M:%S') AS session_start,
       count(*)::BIGINT AS n_events,
       round(sum(value), 4) AS sum_value_r
FROM s GROUP BY user_id, sid""",
)
def events_sessions(spark, sf_dir):
    """Per-user session windows (gap 30 min) via the built-in
    ``session_window`` — the batch shape of the streaming sessionization
    in streaming/events.py; oracle is the classic gaps-and-islands SQL."""
    ev = spark.read.parquet(os.path.join(sf_dir, "events.parquet"))
    return (
        ev.groupBy(F.session_window("ts", "30 minutes").alias("w"), "user_id")
        .agg(
            F.count("*").cast("long").alias("n_events"),
            F.round(F.sum("value"), 4).alias("sum_value_r"),
        )
        .select(
            "user_id",
            F.date_format(F.col("w.start"), "yyyy-MM-dd HH:mm:ss").alias("session_start"),
            "n_events",
            "sum_value_r",
        )
    )


@register(
    "events_sliding",
    """SELECT event_type,
       strftime(start, '%Y-%m-%d %H:%M:%S') AS wstart,
       count(*)::BIGINT AS cnt,
       round(sum(value), 4) AS sum_value_r
FROM (SELECT event_type, ts, value,
             time_bucket(INTERVAL 30 MINUTE, ts) - (s.i * INTERVAL 30 MINUTE) AS start
      FROM events, generate_series(0, 1) s(i))
WHERE ts >= start AND ts < start + INTERVAL 1 HOUR
GROUP BY event_type, start""",
)
def events_sliding(spark, sf_dir):
    """Sliding 1h windows every 30 min (each event lands in 2 windows);
    DuckDB oracle reconstructs the window set with time_bucket."""
    ev = spark.read.parquet(os.path.join(sf_dir, "events.parquet"))
    return (
        ev.groupBy(F.window("ts", "1 hour", "30 minutes").alias("w"), "event_type")
        .agg(
            F.count("*").cast("long").alias("cnt"),
            F.round(F.sum("value"), 4).alias("sum_value_r"),
        )
        .select(
            "event_type",
            F.date_format(F.col("w.start"), "yyyy-MM-dd HH:mm:ss").alias("wstart"),
            "cnt",
            "sum_value_r",
        )
    )


@register(
    "events_hourly",
    """SELECT event_type, strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS hour,
       count(*)::BIGINT AS cnt, round(sum(value), 4) AS sum_value_r
FROM events GROUP BY event_type, date_trunc('hour', ts)""",
)
def events_hourly(spark, sf_dir):
    """Windowed rollup on the events stream table (batch shape of the
    streaming hourly aggregation)."""
    ev = spark.read.parquet(os.path.join(sf_dir, "events.parquet"))
    return ev.groupBy(
        "event_type",
        F.date_format(F.date_trunc("hour", F.col("ts")), "yyyy-MM-dd HH:mm:ss").alias("hour"),
    ).agg(
        F.count("*").cast("long").alias("cnt"),
        F.round(F.sum("value"), 4).alias("sum_value_r"),
    )

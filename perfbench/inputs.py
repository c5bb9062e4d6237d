"""Seeded inputs: corpus rows, query draws and commit contents.

Everything here is a pure function of the seed.  The engine only ever
sees the generated parquet files and query strings.
"""

from __future__ import annotations

import json
import os
import random

from elasticsearch_spark.functions.tokenizer import is_boolean_query
from elasticsearch_spark.sources.webtext import gen_doc, query_vocab

QUERYSET = os.path.join("fixtures", "queryset.json")

# corpus sizes (docs); see perfbench/README.md for why
BASE_DOCS = 1200
WARMUP_DOCS = 60          # untimed warm-up build
SLICE_DOCS = 200          # two-field slice for MultiMatchWand (traced runs)
WARMUP_OFFSET = 1_000_000  # doc numbers of the warm-up and the slice,
SLICE_OFFSET = 2_000_000   # disjoint from the base and the added docs
ADD_DOCS = 25             # docs added by each commit
REMOVE_DOCS = 10          # live docs removed by each commit


class Inputs:
    def __init__(self, root: str, seed: int):
        self.seed = seed
        self.rng = random.Random(seed)
        path = os.path.join(root, QUERYSET)
        self.vocab = query_vocab(path)
        with open(path) as f:
            queries = json.load(f)["queries"]
        self.ranked = [q for q in queries if not is_boolean_query(q)]
        self.boolean = [q for q in queries if is_boolean_query(q)]
        self.queries = list(queries)
        self.next_doc = BASE_DOCS

    # ------------------------------------------------------------ corpus
    def docs(self, lo: int, hi: int) -> list:
        return [gen_doc(i, self.seed, self.vocab) for i in range(lo, hi)]

    def warmup_docs(self) -> list:
        return self.docs(WARMUP_OFFSET, WARMUP_OFFSET + WARMUP_DOCS)

    def slice_docs(self) -> list:
        """Two-field rows (url, title, body, lang) for MultiMatchWand."""
        out = []
        for d in self.docs(SLICE_OFFSET, SLICE_OFFSET + SLICE_DOCS):
            words = d["text"].split()
            out.append({"url": d["url"], "title": " ".join(words[:6]),
                        "body": " ".join(words[6:]), "lang": d["lang"]})
        return out

    def new_docs(self) -> list:
        rows = self.docs(self.next_doc, self.next_doc + ADD_DOCS)
        self.next_doc += ADD_DOCS
        return rows

    # ----------------------------------------------------------- queries
    def draw(self, pool: list, n: int) -> list:
        """``n`` uniform draws, with repeats, from ``pool``.  The queryset
        is built balanced across its ten query templates (60 ranked, 40
        boolean; its ``type_distribution``) and the repository holds no
        query log to rank popularity by, so every query of it is equally
        likely: each template gets ~10 % of the reads.  The seed picks
        the order they arrive in."""
        return self.rng.choices(pool, k=n)

    def distinct(self, n: int) -> list:
        return self.rng.sample(self.queries, n)

    def pick_removals(self, live_urls: list, n: int = REMOVE_DOCS) -> list:
        """``n`` urls drawn from the live, indexed docs, dropped from
        ``live_urls`` so no doc is removed twice."""
        chosen = self.rng.sample(live_urls, n)
        gone = set(chosen)
        live_urls[:] = [u for u in live_urls if u not in gone]
        return chosen


def write_rows(path: str, rows: list, n_files: int = 4) -> None:
    """Rows as a parquet directory of ``n_files`` parts (pyarrow, no
    Spark), so the scan is split across cores like a real lake input."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    os.makedirs(path, exist_ok=True)
    per = max(1, -(-len(rows) // n_files))
    for i in range(0, len(rows), per):
        chunk = rows[i:i + per]
        cols = {k: [r[k] for r in chunk] for k in chunk[0]}
        if "warc_ts" in cols:
            cols["warc_ts"] = pa.array(cols["warc_ts"], type=pa.timestamp("us", tz="UTC"))
        if "html" in cols:
            cols["html"] = pa.array(cols["html"], type=pa.binary())
        pq.write_table(pa.table(cols), os.path.join(path, f"part-{i // per:05d}.parquet"))


def text_bytes(rows: list) -> int:
    return sum(len(r["text"].encode("utf-8")) for r in rows)

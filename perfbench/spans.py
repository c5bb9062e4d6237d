"""Spans and Spark job counts for the traced run.

The tracer wraps the engine's public calls from the outside: each name
is replaced where its caller looks it up (``query.py`` and ``wand.py``
import ``preprocess_query`` by name, so those module attributes are
patched, not the tokenizer's).  Spans are kept in memory, one record per
call, with a parent link and the identifier of the benchmark operation
that caused them, and written out when the run ends.

When tracing is off (``enabled`` false, or no operation open) a wrapper
costs one attribute check and a call; the untraced runs do not install
wrappers at all.
"""

from __future__ import annotations

import functools
import json
import time
from contextlib import contextmanager


READS = "perfbench-reads"  # job group of the read loops
HARNESS = "perfbench"      # job group of set-up leftovers, inputs and checks


class Tracer:
    def __init__(self, spark):
        self._sc = spark.sparkContext
        self._status = self._sc.statusTracker()
        self.enabled = False
        # (span_id, parent_id, op_id, name, start, end)
        self.spans: list = []
        # op_id -> {"kind", "jobs", "span"}
        self.ops: dict = {}
        self._stack: list = []
        self._op = None
        self.phase = HARNESS  # job group outside counted operations
        self._next_span = 0
        self._next_op = 0
        self._patches: list = []  # (owner, attr, original, wrapper)

    # ------------------------------------------------------------ spans
    @contextmanager
    def span(self, name: str):
        sid = self._next_span
        self._next_span += 1
        parent = self._stack[-1] if self._stack else None
        self._stack.append(sid)
        start = time.perf_counter()
        try:
            yield sid
        finally:
            end = time.perf_counter()
            self._stack.pop()
            self.spans.append((sid, parent, self._op, name, start, end))

    @contextmanager
    def op(self, kind: str, count_jobs: bool = True):
        """One benchmark operation: a root span and, with ``count_jobs``,
        a Spark job group of its own, so the jobs it launched are counted
        exactly.  The two job-group calls cross into the JVM and slow the
        next sub-millisecond query measurably, so fast driver-side reads
        pass ``count_jobs=False``; their jobs land in the group of the
        current phase (``READS`` in the read loops)."""
        if not self.enabled:
            yield
            return
        op_id = self._next_op
        self._next_op += 1
        group = f"perfbench-op-{op_id}"
        if count_jobs:
            self._sc.setJobGroup(group, kind)
        self._op = op_id
        try:
            with self.span(f"op:{kind}") as sid:
                yield
        finally:
            self._op = None
            jobs = None
            if count_jobs:
                self._sc.setJobGroup(self.phase, self.phase)
                jobs = len(self._status.getJobIdsForGroup(group))
            self.ops[op_id] = {"kind": kind, "span": sid, "jobs": jobs}

    def jobs_in_group(self, group: str) -> int:
        return len(self._status.getJobIdsForGroup(group))

    def set_group(self, group: str) -> None:
        self.phase = group
        self._sc.setJobGroup(group, group)

    # --------------------------------------------------------- patching
    def wrap(self, owner, attr: str, name: str) -> None:
        fn = getattr(owner, attr)
        tracer = self

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            if not tracer.enabled or tracer._op is None:
                return fn(*args, **kwargs)
            with tracer.span(name):
                return fn(*args, **kwargs)

        self._patches.append((owner, attr, fn, traced))
        setattr(owner, attr, traced)

    def patch(self, on: bool) -> None:
        """Put the wrappers back (``on``) or the original names."""
        for owner, attr, fn, traced in self._patches:
            setattr(owner, attr, traced if on else fn)

    def install(self) -> None:
        """Wrap the calls into each layer of the engine."""
        from elasticsearch_spark.operators import build, multifield, query, reader, wand

        self.wrap(query, "preprocess_query", "functions.preprocess_query")
        self.wrap(query, "preprocess_boolean_query", "functions.preprocess_boolean_query")
        self.wrap(wand, "preprocess_query", "functions.preprocess_query")
        for fn in ("load_manifest", "load_stats", "live_postings", "live_docs",
                   "live_blocks", "live_df_lookup"):
            self.wrap(reader, fn, f"reader.{fn}")
        for meth in ("ranked", "boolean_topk", "batch_ranked"):
            self.wrap(query.QueryEngine, meth, f"query.{meth}")
        self.wrap(wand.WandEngine, "topk", "wand.topk")
        self.wrap(multifield.MultiMatchWand, "topk", "multifield.topk")
        for meth in ("update_index", "compact"):
            self.wrap(build.IndexBuilder, meth, f"build.{meth}")

    # ---------------------------------------------------------- results
    def children(self) -> dict:
        out: dict = {}
        for rec in self.spans:
            out.setdefault(rec[1], []).append(rec)
        return out

    def self_times(self) -> dict:
        """Span name -> summed self time (s): each span's duration minus
        the part of it its child spans cover."""
        kids = self.children()
        out: dict = {}
        for sid, _parent, _op, name, start, end in self.spans:
            covered = sum(e - s for (_i, _p, _o, _n, s, e) in kids.get(sid, ()))
            out[name] = out.get(name, 0.0) + (end - start) - covered
        return out

    def durations(self, name: str, kinds=None) -> list:
        """Durations (s) of every span called ``name``, optionally only
        under operations of the given kinds."""
        return [
            end - start
            for (_sid, _parent, op, n, start, end) in self.spans
            if n == name and (kinds is None or self.ops.get(op, {}).get("kind") in kinds)
        ]

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for sid, parent, op, name, start, end in self.spans:
                f.write(json.dumps({
                    "id": sid, "parent": parent, "op": op,
                    "kind": self.ops.get(op, {}).get("kind"),
                    "name": name, "start": start, "end": end,
                }) + "\n")
            f.write(json.dumps({"self_time_s": self.self_times()}) + "\n")

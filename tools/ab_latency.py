"""A/B probe: interactive ranked latency vs shuffle-partition count.

The interactive ranked job is scan -> partial agg -> exchange -> final
agg -> TakeOrdered; with AQE scoped off the exchange materializes
spark.sql.shuffle.partitions reduce tasks for a few KB of data.  This
probe measures the same queryset at several reduce widths in ONE
session (host-noise rule: A/B same session only).

Usage: python tools/ab_latency.py [index_dir]
"""

import json
import os
import sys
import time

import numpy as np

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from elasticsearch_spark.operators.query import QueryEngine  # noqa: E402
from elasticsearch_spark.session import get_spark  # noqa: E402


def run(engine, queries, with_total=False):
    lat = []
    for q in queries:
        t = time.time()
        engine.ranked(q, k=10, with_total_hits=with_total)
        lat.append(time.time() - t)
    a = np.array(lat) * 1000
    return round(float(np.percentile(a, 50)), 1), round(float(np.percentile(a, 95)), 1)


def main():
    idx = sys.argv[1] if len(sys.argv) > 1 else "/tmp/es_spark_bench_idx_c32"
    spark = get_spark("ab-latency", master="local[16]", shuffle_partitions=16)
    with open(os.path.join(REPO, "fixtures", "queryset.json")) as f:
        queries = [q for q in json.load(f)["queries"] if "AND" not in q and "OR" not in q and "NOT" not in q]
    # the plan tier: turbo serves these queries with zero Spark jobs,
    # which would leave the swept partition count nothing to change
    engine = QueryEngine(spark, idx, turbo=False)
    # warmup
    for q in queries[:10]:
        engine.ranked(q, k=10, with_total_hits=False)

    out = {}
    for parts in (16, 8, 4, 1, 16):  # repeat 16 last to bracket noise
        spark.conf.set("spark.sql.shuffle.partitions", str(parts))
        p50, p95 = run(engine, queries)
        out[f"plain_parts_{parts}_{len(out)}"] = (p50, p95)
        print(f"parts={parts:>2} with_total=False p50={p50} p95={p95}", flush=True)
    # with_total_hits=True (Observation single-job) at the best width
    spark.conf.set("spark.sql.shuffle.partitions", "8")
    p50, p95 = run(engine, queries, with_total=True)
    print(f"parts= 8 with_total=True  p50={p50} p95={p95}", flush=True)
    spark.stop()


if __name__ == "__main__":
    main()

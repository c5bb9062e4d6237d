"""Similarity search over embedding columns (``array<float>``).

* ``cosine_topk``       — brute-force scan against one query vector:
  array-native dot product (``zip_with`` + ``aggregate``, whole-stage
  codegen, no explode, no shuffle except the final TakeOrdered).
* ``ivf_topk`` / ``IvfIndex`` — the scale path: an IVF-flat index
  (driver-side k-means coarse quantizer, assignment table partitioned
  by cell) whose probes are partition-pruned reads of the ``n_probe``
  nearest cells.

Exact cosine is always computed on candidates — IVF only limits the
candidate set, so scores are exact and only recall is approximate.
"""

from __future__ import annotations

from typing import List, Optional, Sequence

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _dot(a, b):
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x
    )


def _norm(a):
    return F.sqrt(_dot(a, a))


def with_unit_vec(df: DataFrame, vec_col: str = "embedding") -> DataFrame:
    """Add ``unit`` (double array, L2-normalized) — normalize once,
    reuse across queries."""
    v = F.col(vec_col).cast("array<double>")
    return df.withColumn("unit", F.transform(v, lambda x: x / _norm(v)))


def cosine_topk(df: DataFrame, query_vec: Sequence[float], k: int = 10,
                id_col: str = "vec_id", vec_col: str = "embedding") -> DataFrame:
    """(id, cosine) top-k by cosine similarity to ``query_vec``."""
    q = [float(x) for x in query_vec]
    qn = float(np.linalg.norm(q))
    qlit = F.array(*[F.lit(x / qn) for x in q])
    v = F.col(vec_col).cast("array<double>")
    cos = _dot(v, qlit) / _norm(v)
    return (
        df.select(F.col(id_col).alias("id"), cos.alias("cosine"))
        .orderBy(F.col("cosine").desc(), F.col("id"))
        .limit(k)
    )


def kmeans_centroids(df: DataFrame, n_cells: int, vec_col: str = "embedding",
                     sample_size: int = 10_000, iters: int = 10,
                     seed: int = 7) -> List[List[float]]:
    """Deterministic coarse quantizer: numpy k-means on a driver-side
    sample (bounded memory — the sample, not the table, reaches the
    driver).  Centroids are broadcast back into column expressions.

    The sample is an UNBIASED content-hash sample — ``limit()`` would
    take whole leading partitions (often one file = one time range or
    one source shard), skewing the centroids; ordering by xxhash64 of
    the vector bytes is a deterministic pseudo-random draw independent
    of partition layout, and the TakeOrdered heap keeps it one pass."""
    rows = (
        df.select(F.col(vec_col).cast("array<double>").alias("v"))
        .orderBy(F.xxhash64(F.col("v").cast("string"), F.lit(seed)))
        .limit(sample_size)
        .collect()
    )
    x = np.asarray([r["v"] for r in rows], dtype=np.float64)
    x = x / np.maximum(np.linalg.norm(x, axis=1, keepdims=True), 1e-12)
    rng = np.random.RandomState(seed)
    cents = x[rng.choice(len(x), size=min(n_cells, len(x)), replace=False)]
    for _ in range(iters):
        sims = x @ cents.T
        assign = sims.argmax(axis=1)
        for c in range(len(cents)):
            members = x[assign == c]
            if len(members):
                m = members.sum(axis=0)
                cents[c] = m / np.maximum(np.linalg.norm(m), 1e-12)
    return cents.tolist()


def _cell_col(unit_col, centroids: List[List[float]]):
    """argmax-cosine cell id as a pure column expression (centroids are
    unit vectors, so dot = cosine).  array_position is 1-based."""
    sims = F.array(
        *[
            _dot(unit_col, F.array(*[F.lit(float(x)) for x in c]))
            for c in centroids
        ]
    )
    return (F.array_position(sims, F.array_max(sims)) - 1).cast("long")


def ivf_assign(df: DataFrame, centroids: List[List[float]],
               id_col: str = "vec_id", vec_col: str = "embedding") -> DataFrame:
    """(id, cell, unit) — IVF list assignment; write partitioned by cell
    for a 10^12-row corpus so probes prune partitions."""
    u = with_unit_vec(df, vec_col).select(F.col(id_col).alias("id"), "unit")
    return u.withColumn("cell", _cell_col(F.col("unit"), centroids))


def ivf_topk(df: DataFrame, query_vec: Sequence[float], centroids: List[List[float]],
             k: int = 10, n_probe: int = 4, id_col: str = "vec_id",
             vec_col: str = "embedding",
             assigned: Optional[DataFrame] = None) -> DataFrame:
    """IVF query: score only vectors in the ``n_probe`` cells nearest the
    query (exact cosine on candidates; recall is the only approximation).

    Pass ``assigned`` — the precomputed ``(id, cell, unit)`` table, e.g.
    ``IvfIndex.assigned`` read from a cell-partitioned parquet — so the
    cell filter is a PARTITION PRUNE.  Without it the assignment (unit-
    normalize + argmax over all centroids) is recomputed over the whole
    table on every query: correct, but a full scan — on-the-fly mode is
    for ad-hoc/one-shot use only."""
    q = np.asarray([float(x) for x in query_vec], dtype=np.float64)
    q = q / max(np.linalg.norm(q), 1e-12)
    cents = np.asarray(centroids, dtype=np.float64)
    probe = np.argsort(-(cents @ q))[:n_probe].tolist()
    if assigned is None:
        assigned = ivf_assign(df, centroids, id_col, vec_col)
    qlit = F.array(*[F.lit(float(x)) for x in q])
    return (
        assigned.filter(F.col("cell").isin(probe))
        .select("id", _dot(F.col("unit"), qlit).alias("cosine"))
        .orderBy(F.col("cosine").desc(), F.col("id"))
        .limit(k)
    )


class IvfIndex:
    """Persisted IVF-flat index: centroids in ``centroids.json``, the
    assignment table written ``partitionBy("cell")`` so every probe is a
    partition-pruned read of ~``n_probe/n_cells`` of the data — the
    10^12-row shape (the on-the-fly path rescans + reassigns per query).
    """

    def __init__(self, spark, path: str):
        import json
        import os

        self.spark = spark
        self.path = path
        with open(os.path.join(path, "centroids.json")) as f:
            meta = json.load(f)
        self.centroids: List[List[float]] = meta["centroids"]
        self.n_cells = len(self.centroids)
        self.assigned = spark.read.parquet(os.path.join(path, "assigned"))

    @staticmethod
    def build(df: DataFrame, path: str, n_cells: int = 64,
              id_col: str = "vec_id", vec_col: str = "embedding",
              sample_size: int = 10_000, iters: int = 10,
              seed: int = 7) -> "IvfIndex":
        import json
        import os

        centroids = kmeans_centroids(df, n_cells, vec_col, sample_size, iters, seed)
        assigned = ivf_assign(df, centroids, id_col, vec_col)
        (
            assigned.repartition("cell")
            .write.mode("overwrite")
            .partitionBy("cell")
            .parquet(os.path.join(path, "assigned"))
        )
        os.makedirs(path, exist_ok=True)
        with open(os.path.join(path, "centroids.json"), "w") as f:
            json.dump({"centroids": centroids, "seed": seed, "iters": iters}, f)
        return IvfIndex(df.sparkSession, path)

    def topk(self, query_vec: Sequence[float], k: int = 10,
             n_probe: int = 4) -> DataFrame:
        return ivf_topk(
            None, query_vec, self.centroids, k, n_probe, assigned=self.assigned
        )

    def append(self, df: DataFrame, id_col: str = "vec_id",
               vec_col: str = "embedding") -> "IvfIndex":
        """O(delta) incremental extension: assign ONLY the new vectors
        to cells under the EXISTING (frozen) centroids and append their
        files into the cell-partitioned assignment table — the text
        index's delta-segment pattern applied to the ANN index (no
        rebuild, no rescan of existing vectors; probes stay
        partition-pruned reads).  Results afterwards are IDENTICAL to a
        one-shot assignment of old ∪ new under the same centroids
        (pytest-proven); only quantization QUALITY can drift if the data
        distribution shifts — recluster with a fresh ``build()`` at
        compaction cadence, like the text index's ``compact()``."""
        import os

        assigned = ivf_assign(df, self.centroids, id_col, vec_col)
        (
            assigned.repartition("cell")
            .write.mode("append")
            .partitionBy("cell")
            .parquet(os.path.join(self.path, "assigned"))
        )
        self.assigned = self.spark.read.parquet(
            os.path.join(self.path, "assigned")
        )
        return self


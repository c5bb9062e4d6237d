"""Dedup + similarity operators: sketch paths validated against exact
baselines on small corpora."""

import pytest
from pyspark.sql import functions as F

from elasticsearch_spark.operators import dedup, similarity


@pytest.fixture(scope="module")
def docs(spark):
    rows = [
        ("d0", "the quick brown fox jumps over the lazy dog".split()),
        ("d1", "the quick brown fox jumps over the lazy dog".split()),  # exact dup of d0
        ("d2", "the quick brown fox jumps over the lazy cat".split()),  # near dup
        ("d3", "completely different words about spark engines here".split()),
        ("d4", "totally unrelated content regarding database systems".split()),
        ("d5", "the quick brown fox leaps over the lazy dog".split()),  # near dup
    ]
    return spark.createDataFrame(
        [(i, " ".join(t), t) for i, t in rows], "url string, text string, tokens array<string>"
    )


def test_exact_duplicates(docs):
    out = {r["id"]: r for r in dedup.exact_duplicates(docs).collect()}
    assert out["d1"]["canon_id"] == "d0" and out["d1"]["is_dup"]
    assert not out["d0"]["is_dup"]
    assert not out["d2"]["is_dup"]


def test_verify_jaccard_exact(spark, docs):
    pairs = spark.createDataFrame([("d0", "d2"), ("d0", "d3")], "a string, b string")
    got = {(r["a"], r["b"]): r["jaccard"] for r in
           dedup.verify_jaccard(pairs, docs, "url", "tokens").collect()}
    # d0 tokens {the,quick,brown,fox,jumps,over,lazy,dog}=8; d2 swaps dog->cat
    assert got[("d0", "d2")] == pytest.approx(7 / 9)
    assert got[("d0", "d3")] == 0.0


def test_minhash_lsh_finds_duplicates(docs):
    out = dedup.minhash_lsh_pairs(docs, verify_threshold=0.7)
    pairs = {(r["a"], r["b"]) for r in out.collect()}
    assert ("d0", "d1") in pairs  # exact dup always collides
    assert all(not (a == "d3" and b == "d4") for a, b in pairs)


def test_minhash_agrees_with_exact_jaccard(docs):
    cand = dedup.minhash_lsh_pairs(docs)
    verified = dedup.verify_jaccard(cand, docs, "url", "tokens").collect()
    for r in verified:
        assert 0.0 <= r["jaccard"] <= 1.0


def test_simhash_identical_docs_equal_sig(docs):
    sigs = {r["id"]: r["simhash"] for r in dedup.simhash64(docs).collect()}
    assert sigs["d0"] == sigs["d1"]
    assert sigs["d0"] != sigs["d3"]


def test_simhash_near_pairs(docs):
    pairs = {(r["a"], r["b"]): r["hamming"] for r in
             dedup.simhash_near_pairs(docs, max_hamming=8).collect()}
    assert pairs[("d0", "d1")] == 0
    assert ("d0", "d3") not in pairs or pairs[("d0", "d3")] > 8


def test_hamming_near_pairs_matches_brute_force(spark):
    """The banded candidate join must reproduce a brute-force all-pairs
    Hamming scan exactly — including sign-bit-set (negative) hashes and
    max_hamming values that need more than 4 bands (auto-sizing)."""
    import itertools
    import random

    rng = random.Random(7)
    base = rng.getrandbits(64)
    vals = [base]
    for flips in (1, 2, 3, 5, 8, 31):  # planted near-dups at known distances
        v = base
        for b in rng.sample(range(64), flips):
            v ^= 1 << b
        vals.append(v)
    vals += [rng.getrandbits(64) for _ in range(20)]  # far-away noise
    signed = [v - (1 << 64) if v >= (1 << 63) else v for v in vals]
    sig = spark.createDataFrame(
        [(i, h) for i, h in enumerate(signed)], "id int, h long"
    )
    for max_h in (3, 8):
        got = {
            (r["a"], r["b"]): r["hamming"]
            for r in dedup.hamming_near_pairs(
                sig, id_col="id", hash_col="h", max_hamming=max_h
            ).collect()
        }
        want = {}
        for (i, a), (j, b) in itertools.combinations(enumerate(signed), 2):
            d = bin((a ^ b) & ((1 << 64) - 1)).count("1")
            if d <= max_h:
                want[(i, j)] = d
        assert got == want, max_h


def test_hamming_near_pairs_insufficient_bands_raises(spark):
    sig = spark.createDataFrame([(0, 1), (1, 3)], "id int, h long")
    with pytest.raises(ValueError, match="completeness"):
        dedup.hamming_near_pairs(sig, id_col="id", hash_col="h",
                                 n_bands=4, max_hamming=5)


def test_ngram_jaccard_pairs(docs):
    out = {(r["a"], r["b"]): r["jaccard"] for r in
           dedup.ngram_jaccard_pairs(docs, threshold=0.3).collect()}
    assert out[("d0", "d1")] == 1.0
    assert ("d0", "d3") not in out


@pytest.fixture(scope="module")
def vectors(spark):
    import numpy as np

    rng = np.random.RandomState(0)
    base = rng.randn(20, 16)
    base[1] = base[0] + 0.01 * rng.randn(16)  # vec 1 ~ vec 0
    rows = [(i, base[i].tolist()) for i in range(20)]
    return spark.createDataFrame(rows, "vec_id long, embedding array<double>")


def test_cosine_topk(vectors):
    import numpy as np

    first = vectors.filter(F.col("vec_id") == 0).first()["embedding"]
    got = similarity.cosine_topk(vectors, first, k=3).collect()
    assert got[0]["id"] == 0 and got[0]["cosine"] == pytest.approx(1.0)
    assert got[1]["id"] == 1  # the planted near-neighbor


@pytest.fixture(scope="module")
def clustered_vectors(spark):
    """3 well-separated clusters of 15 vectors each — the IVF-friendly
    regime (near-neighbors share a cell)."""
    import numpy as np

    rng = np.random.RandomState(1)
    centers = rng.randn(3, 16) * 5
    rows = []
    for i in range(45):
        c = i % 3
        rows.append((i, (centers[c] + 0.3 * rng.randn(16)).tolist()))
    return spark.createDataFrame(rows, "vec_id long, embedding array<double>")


def test_ivf_topk_matches_brute_force_on_clusters(clustered_vectors):
    cents = similarity.kmeans_centroids(clustered_vectors, n_cells=3, seed=3)
    assert len(cents) == 3
    q = clustered_vectors.filter(F.col("vec_id") == 0).first()["embedding"]
    exact = [r["id"] for r in similarity.cosine_topk(clustered_vectors, q, k=5).collect()]
    approx = [
        r["id"]
        for r in similarity.ivf_topk(
            clustered_vectors, q, cents, k=5, n_probe=1
        ).collect()
    ]
    # with clean clusters, probing the single nearest cell is exact
    assert approx == exact


def test_ivf_assign_partitions_all_vectors(clustered_vectors):
    cents = similarity.kmeans_centroids(clustered_vectors, n_cells=3, seed=3)
    assigned = similarity.ivf_assign(clustered_vectors, cents)
    assert assigned.count() == 45
    cells = {r["cell"] for r in assigned.select("cell").distinct().collect()}
    assert cells <= {0, 1, 2} and len(cells) == 3
    # every vector of one planted cluster lands in the same cell
    mates = (
        assigned.filter(F.col("id").isin([0, 3, 6, 9, 12]))
        .select("cell")
        .distinct()
        .count()
    )
    assert mates == 1


def test_ivf_probe_widening_recovers_recall(clustered_vectors):
    cents = similarity.kmeans_centroids(clustered_vectors, n_cells=3, seed=3)
    q = clustered_vectors.filter(F.col("vec_id") == 0).first()["embedding"]
    all_probe = similarity.ivf_topk(clustered_vectors, q, cents, k=45, n_probe=3)
    assert all_probe.count() == 45  # probing every cell degrades to brute force


def test_ivf_index_persisted_probe_matches_inmemory(clustered_vectors, tmp_path):
    """IvfIndex writes the assignment partitionBy(cell); probing the
    persisted table must return exactly the on-the-fly results, and the
    probe scan must be partition-pruned on cell (no full scan)."""
    from elasticsearch_spark.operators.similarity import IvfIndex, ivf_topk

    path = str(tmp_path / "ivf_idx")
    idx = IvfIndex.build(clustered_vectors, path, n_cells=3, seed=3)
    q = clustered_vectors.filter(F.col("vec_id") == 0).first()["embedding"]

    got = [(r["id"], round(r["cosine"], 9)) for r in idx.topk(q, k=5, n_probe=1).collect()]
    want = [
        (r["id"], round(r["cosine"], 9))
        for r in ivf_topk(clustered_vectors, q, idx.centroids, k=5, n_probe=1).collect()
    ]
    assert got == want

    plan = (
        idx.topk(q, k=5, n_probe=1)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "PartitionFilters" in plan and "cell" in plan.split("PartitionFilters")[1][:200]


def test_ivf_index_reload(clustered_vectors, tmp_path):
    from elasticsearch_spark.operators.similarity import IvfIndex

    path = str(tmp_path / "ivf_idx2")
    built = IvfIndex.build(clustered_vectors, path, n_cells=3, seed=3)
    reloaded = IvfIndex(clustered_vectors.sparkSession, path)
    assert reloaded.centroids == built.centroids
    assert reloaded.assigned.count() == 45


def test_ivf_append_matches_one_shot_assignment(clustered_vectors, tmp_path):
    """O(delta) ANN appends: build on a subset, append the rest under
    the frozen centroids — probe results (any n_probe) must be
    IDENTICAL to assigning the full corpus in one shot with the same
    centroids, and the appended table must survive a reload."""
    from elasticsearch_spark.operators.similarity import (
        IvfIndex,
        ivf_assign,
        ivf_topk,
    )

    spark = clustered_vectors.sparkSession
    old = clustered_vectors.filter(F.col("vec_id") < 30)
    new = clustered_vectors.filter(F.col("vec_id") >= 30)
    path = str(tmp_path / "ivf_append")
    idx = IvfIndex.build(old, path, n_cells=3, seed=3)
    idx.append(new)
    assert idx.assigned.count() == 45

    one_shot = ivf_assign(clustered_vectors, idx.centroids)
    q = clustered_vectors.filter(F.col("vec_id") == 31).first()["embedding"]
    for n_probe in (1, 3):
        got = [
            (r["id"], round(r["cosine"], 9))
            for r in idx.topk(q, k=8, n_probe=n_probe).collect()
        ]
        want = [
            (r["id"], round(r["cosine"], 9))
            for r in ivf_topk(
                None, q, idx.centroids, k=8, n_probe=n_probe, assigned=one_shot
            ).collect()
        ]
        assert got == want, n_probe
    # appended vectors are actually retrievable
    assert any(i >= 30 for i, _c in got)
    # reload sees the appended generation
    assert IvfIndex(spark, path).assigned.count() == 45


# -------------------------------------------- bucket skew cap (star form)

@pytest.fixture(scope="module")
def pathological_docs(spark):
    """An all-identical duplicate cluster of 40 docs + 2 outliers — one
    band bucket holds the whole cluster, the quadratic worst case."""
    dup = "spark shuffles partitions under adaptive execution today".split()
    rows = [(f"c{i:02d}", " ".join(dup), dup) for i in range(40)]
    rows += [
        ("x0", "totally different first outlier document", None),
        ("x1", "another unrelated outlier about databases", None),
    ]
    rows = [(i, t, t.split()) for i, t, _x in rows]
    return spark.createDataFrame(
        rows, "url string, text string, tokens array<string>"
    )


def test_minhash_bucket_cap_star(pathological_docs):
    """With bucket_cap below the cluster size, candidates collapse to
    the n-1 star pairs (bounded, linear) instead of n(n-1)/2; all star
    pairs verify at jaccard 1.0 and the cluster stays one connected
    component via the min-id representative."""
    n = 40
    uncapped = dedup.minhash_lsh_pairs(pathological_docs).count()
    assert uncapped >= n * (n - 1) // 2  # the quadratic baseline
    capped = dedup.minhash_lsh_pairs(
        pathological_docs, bucket_cap=8, verify_threshold=0.9
    ).collect()
    assert len(capped) == n - 1
    assert all(r["a"] == "c00" for r in capped)  # min-id representative
    assert {r["b"] for r in capped} == {f"c{i:02d}" for i in range(1, n)}
    assert all(r["jaccard"] == 1.0 for r in capped)


def test_minhash_bucket_cap_noop_when_under_cap(docs):
    """Buckets under the cap keep EXACT all-pairs semantics: capped and
    uncapped runs are identical on a skew-free corpus."""
    base = {(r["a"], r["b"]) for r in dedup.minhash_lsh_pairs(docs).collect()}
    capped = {
        (r["a"], r["b"])
        for r in dedup.minhash_lsh_pairs(docs, bucket_cap=1000).collect()
    }
    assert capped == base


def test_hamming_bucket_cap_star(pathological_docs):
    """Same guard on the generic Hamming band path: the identical
    cluster (equal simhash) emits exactly n-1 star pairs at hamming 0,
    and the representative's hash rides into verification correctly."""
    n = 40
    capped = dedup.simhash_near_pairs(
        pathological_docs, max_hamming=3, bucket_cap=8
    ).collect()
    cluster = [r for r in capped if r["a"].startswith("c")]
    assert len(cluster) == n - 1
    assert all(r["a"] == "c00" and r["hamming"] == 0 for r in cluster)


def test_hamming_bucket_cap_noop_when_under_cap(docs):
    base = {
        (r["a"], r["b"], r["hamming"])
        for r in dedup.simhash_near_pairs(docs, max_hamming=8).collect()
    }
    capped = {
        (r["a"], r["b"], r["hamming"])
        for r in dedup.simhash_near_pairs(
            docs, max_hamming=8, bucket_cap=1000
        ).collect()
    }
    assert capped == base


def test_default_bucket_cap_bounds_and_reports(spark):
    """Round-5: the DEFAULT path (bucket_cap unspecified = "auto" =
    DEFAULT_BUCKET_CAP) bounds a dense duplicate cluster LARGER than
    the default cap to linear star pairs — no silent unbounded
    quadratic join for naive callers — and the cap event is REPORTED
    via the cap_observation job stats."""
    from pyspark.sql import Observation

    n = dedup.DEFAULT_BUCKET_CAP + 50
    dup = "spark shuffles partitions under adaptive execution".split()
    rows = [(f"d{i:05d}", " ".join(dup), dup) for i in range(n)]
    docs = spark.createDataFrame(
        rows, "url string, text string, tokens array<string>"
    )
    obs = Observation()
    pairs = dedup.minhash_lsh_pairs(docs, cap_observation=obs).collect()
    # star form: n-1 pairs per over-cap bucket, all from the min-id rep
    assert len(pairs) == n - 1
    assert all(r["a"] == "d00000" for r in pairs)
    stats = obs.get
    assert stats["capped_buckets"] >= 1
    assert stats["capped_rows"] >= n
    # explicit opt-out restores the quadratic all-pairs contract on a
    # small slice (full n would be ~550k pairs; check on 60 docs)
    small = spark.createDataFrame(
        rows[:60], "url string, text string, tokens array<string>"
    )
    assert dedup.minhash_lsh_pairs(small, bucket_cap=None).count() \
        == 60 * 59 // 2


def test_hamming_default_cap_reports(spark):
    """Same default-on guard + observation on the generic Hamming band
    path (simhash / phash consumers)."""
    from pyspark.sql import Observation

    n = dedup.DEFAULT_BUCKET_CAP + 20
    sig = spark.createDataFrame(
        [(f"d{i:05d}", 0x0123456789ABCDEF) for i in range(n)],
        "id string, h long",
    )
    obs = Observation()
    out = dedup.hamming_near_pairs(
        sig, id_col="id", hash_col="h", max_hamming=3, cap_observation=obs
    ).collect()
    assert len(out) == n - 1
    assert obs.get["capped_buckets"] >= 1


def test_cap_observation_with_uncapped_run(spark):
    """bucket_cap=None + cap_observation must report zeros after the
    action instead of hanging forever (the observation previously never
    attached on the uncapped branch)."""
    from pyspark.sql import Observation

    from elasticsearch_spark.operators.dedup import minhash_lsh_pairs

    df = spark.createDataFrame(
        [(f"u{i}", [f"t{i}", "shared", "common"]) for i in range(8)],
        "url string, tokens array<string>",
    )
    obs = Observation()
    pairs = minhash_lsh_pairs(df, bucket_cap=None, cap_observation=obs)
    pairs.count()
    assert obs.get["capped_buckets"] == 0 and obs.get["capped_rows"] == 0

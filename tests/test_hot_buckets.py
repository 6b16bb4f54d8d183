"""Hot-bucket guard tests (round-3 verdict "What's wrong #4"): a
degenerate LSH bucket with k members contributes k(k-1)/2 candidate
rows; the guard must bound candidates by dropping over-cap buckets
LOUDLY — logged + surfaced via hot_bucket_stats — never silently.

Also covers the embedding-sketch Arrow-gemm fallback ("What's wrong
#3"): past the dim×bands×planes unroll threshold the sign sketch must
switch to one Arrow-batched gemm with identical bucket semantics.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from json_schema_spark.operators.dedup import (
    embedding_neardup_pairs,
    hot_bucket_stats,
    minhash_lsh_pairs,
    ngram_jaccard_pairs,
)


def _degenerate_docs(spark, n_dup=120, n_normal=30):
    """n_dup identical documents (one pathological bucket per band) plus
    n_normal distinct documents."""
    dup = spark.range(n_dup).select(
        F.col("id").alias("doc_id"),
        F.lit("the same tiny template document body repeated verbatim "
              "across the whole cluster of files").alias("text"),
    )
    normal = spark.range(n_normal).select(
        (F.col("id") + 1_000_000).alias("doc_id"),
        F.concat(
            F.lit("unique document number "), F.col("id").cast("string"),
            F.lit(" with filler "),
            F.sha2(F.col("id").cast("string"), 256),
            F.lit(" "), F.sha2((F.col("id") + 7).cast("string"), 256),
        ).alias("text"),
    )
    return dup.unionByName(normal)


def test_minhash_hot_bucket_capped(spark):
    docs = _degenerate_docs(spark)
    # cap below the degenerate cluster: its band buckets are dropped,
    # so the k²/2 candidate storm never reaches the self-join
    pairs = minhash_lsh_pairs(docs, threshold=0.7, max_bucket_size=50)
    assert pairs.count() == 0
    stats = hot_bucket_stats("minhash_lsh")
    assert stats is not None and stats["cap"] == 50
    assert stats["dropped_buckets"] >= 1
    assert stats["dropped_member_rows"] >= 120
    # guard off: the cluster pairs all survive (120*119/2)
    full = minhash_lsh_pairs(docs, threshold=0.7, max_bucket_size=None)
    assert full.count() == 120 * 119 // 2


def test_minhash_default_cap_does_not_fire_on_normal_data(spark):
    docs = _degenerate_docs(spark, n_dup=8, n_normal=40)
    pairs = minhash_lsh_pairs(docs, threshold=0.7)  # default cap 100k
    assert pairs.count() == 8 * 7 // 2
    stats = hot_bucket_stats("minhash_lsh")
    assert stats["dropped_buckets"] == 0 and stats["dropped_member_rows"] == 0


def test_ngram_prefix_hot_bucket_capped(spark):
    docs = _degenerate_docs(spark)
    pairs = ngram_jaccard_pairs(docs, threshold=0.5, prefix_filter=True,
                                max_bucket_size=50)
    assert pairs.count() == 0
    stats = hot_bucket_stats("ngram_prefix")
    assert stats["dropped_buckets"] >= 1
    assert stats["dropped_member_rows"] >= 120
    full = ngram_jaccard_pairs(docs, threshold=0.5, prefix_filter=True,
                               max_bucket_size=None)
    assert full.count() == 120 * 119 // 2


def _identical_vectors(spark, n_dup=120, n_normal=20, dim=8):
    dup = spark.range(n_dup).select(
        F.col("id").alias("vec_id"),
        F.array(*[F.lit(float(j % 3 + 1)) for j in range(dim)]).alias("embedding"),
    )
    normal = spark.range(n_normal).select(
        (F.col("id") + 1_000_000).alias("vec_id"),
        F.array(*[
            ((F.pmod(F.xxhash64(F.col("id"), F.lit(j)), F.lit(97)) - 48)
             / 48.0).cast("double")
            for j in range(dim)
        ]).alias("embedding"),
    )
    return dup.unionByName(normal)


def test_embedding_hot_bucket_capped(spark):
    pool = _identical_vectors(spark)
    pairs = embedding_neardup_pairs(pool, threshold=0.999, max_bucket_size=50)
    got = {(p["id_a"], p["id_b"]) for p in pairs.collect()}
    # every identical-cluster pair lives in a dropped bucket
    assert not any(a < 120 and b < 120 for a, b in got)
    stats = hot_bucket_stats("embedding_lsh")
    assert stats["dropped_buckets"] >= 1
    assert stats["dropped_member_rows"] >= 120
    full = embedding_neardup_pairs(pool, threshold=0.999, max_bucket_size=None)
    n_cluster = sum(1 for p in full.collect()
                    if p["id_a"] < 120 and p["id_b"] < 120)
    assert n_cluster == 120 * 119 // 2


def test_embedding_gemm_sketch_matches_decimal(spark):
    """Forcing the Arrow-gemm sketch (max_sketch_terms=1) must produce
    the same near-dup pairs as the exact-decimal unrolled sketch — the
    two strategies share the same hyperplane constants and only differ
    in summation arithmetic (exact decimal vs float64 gemm)."""
    pool = _identical_vectors(spark, n_dup=6, n_normal=40, dim=12)
    dec = embedding_neardup_pairs(pool, threshold=0.98)
    gem = embedding_neardup_pairs(pool, threshold=0.98, max_sketch_terms=1)
    d = {(p["id_a"], p["id_b"]): p["cosine"] for p in dec.collect()}
    g = {(p["id_a"], p["id_b"]): p["cosine"] for p in gem.collect()}
    assert set(d) == set(g)
    for k in d:
        assert abs(d[k] - g[k]) < 1e-9


def test_embedding_gemm_production_dim(spark):
    """dim=768 × (8 bands × 12 planes) = 73,728 sketch terms — past the
    32,768 default threshold, so the gemm path activates (the decimal
    plan would carry ~74k literals and a 768× posexplode). Planted
    identical twins must collide in every band and verify at cosine 1."""
    dim = 768
    base = spark.range(40).select(
        F.col("id").alias("vec_id"),
        F.array(*[
            ((F.pmod(F.xxhash64(F.col("id"), F.lit(j)), F.lit(101)) - 50)
             / 50.0).cast("double")
            for j in range(dim)
        ]).alias("embedding"),
    )
    twins = base.limit(3).select(
        (F.col("vec_id") + 100_000).alias("vec_id"), "embedding")
    pool = base.unionByName(twins)
    pairs = embedding_neardup_pairs(pool, threshold=0.999)
    got = {(p["id_a"], p["id_b"]) for p in pairs.collect()}
    for i in range(3):
        assert (i, i + 100_000) in got


def test_hot_bucket_stats_survive_warm_rerun(spark):
    """A warm re-run of an IDENTICAL capped query is served from the
    earlier plan's cache entry by the CacheManager — its stats must
    still resolve (to the earlier identical plan's values) without
    blocking for the full timeout."""
    import time

    docs = _degenerate_docs(spark)
    first = minhash_lsh_pairs(docs, threshold=0.7, max_bucket_size=50)
    first.count()
    s1 = hot_bucket_stats("minhash_lsh")
    assert s1 is not None and s1["dropped_buckets"] >= 1
    again = minhash_lsh_pairs(docs, threshold=0.7, max_bucket_size=50)
    again.count()
    t0 = time.monotonic()
    s2 = hot_bucket_stats("minhash_lsh", timeout=30.0)
    assert time.monotonic() - t0 < 15.0, "stats blocked on a dead Observation"
    assert s2 == s1


def _calm_docs(spark, n=60):
    """Distinct documents only: the cap never fires."""
    return _degenerate_docs(spark, n_dup=0, n_normal=n)


@pytest.mark.parametrize("op,run", [
    ("minhash_lsh",
     lambda d: minhash_lsh_pairs(d, threshold=0.7, max_bucket_size=50)),
    # the prefix path's candidate join is empty after the cap, so AQE
    # erases the observe node and the stats come from the recompute
    ("ngram_prefix",
     lambda d: ngram_jaccard_pairs(d, threshold=0.5, prefix_filter=True,
                                   max_bucket_size=50)),
])
def test_hot_bucket_stats_per_call_when_interleaved(spark, op, run):
    """Capped hot input, then a calm input, then the hot input again:
    each call reports its own drop counts before it returns, and the
    re-run (served from the first call's cache entry) equals the
    first."""
    hot, calm = _degenerate_docs(spark), _calm_docs(spark)
    run(hot)
    s1 = hot_bucket_stats(op)
    assert s1["cap"] == 50
    assert s1["dropped_buckets"] >= 1
    assert s1["dropped_member_rows"] >= 120
    run(calm)
    s_calm = hot_bucket_stats(op)
    assert s_calm == {"cap": 50, "dropped_buckets": 0,
                      "dropped_member_rows": 0}
    run(hot)
    assert hot_bucket_stats(op) == s1

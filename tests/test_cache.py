"""Result-cache gates: identical queries hit (across DataFrame objects),
different queries key apart, TTL expiry recomputes, in-flight dedup computes
once — the reference's sha256-keyed read-path cache (cache_manager.py:204-297)."""

from __future__ import annotations

import threading

import pyspark.sql.functions as F

from raptor_spark.cache import QueryCache, plan_key
from tests.conftest import SF_DIR


def _q(spark, lo=100):
    return (
        spark.read.parquet(f"{SF_DIR}/orders.parquet")
        .filter(F.col("o_totalprice") > lo)
        .groupBy("o_orderpriority")
        .agg(F.count("*").alias("n"))
    )


def test_same_query_same_key_different_query_different_key(spark):
    assert plan_key(_q(spark)) == plan_key(_q(spark))
    assert plan_key(_q(spark)) != plan_key(_q(spark, lo=200))


def test_string_literals_with_hash_digits_do_not_collide(spark):
    """Regression: a text normalization that strips #\\d+ (expression ids)
    also eats that pattern inside string LITERALS, colliding distinct
    queries into one cache entry — the canonicalized-plan key must not."""
    df = spark.read.parquet(f"{SF_DIR}/orders.parquet")

    def q(lit):
        return df.filter(F.col("o_orderpriority") == lit).select("o_orderkey")

    assert plan_key(q("a#1")) != plan_key(q("a#2"))
    assert plan_key(q("a#1")) == plan_key(q("a#1"))


def test_hit_skips_recompute_and_matches(spark, tmp_path):
    cache = QueryCache(spark, str(tmp_path / "qc"))
    first = cache.get_or_compute(_q(spark)).collect()
    again = cache.get_or_compute(_q(spark)).collect()
    assert (cache.misses, cache.hits) == (1, 1)
    assert sorted(map(tuple, first)) == sorted(map(tuple, again))
    # a different query is its own entry
    cache.get_or_compute(_q(spark, lo=200))
    assert cache.misses == 2


def test_ttl_zero_always_recomputes(spark, tmp_path):
    cache = QueryCache(spark, str(tmp_path / "qc"), ttl_s=0.0)
    cache.get_or_compute(_q(spark))
    cache.get_or_compute(_q(spark))
    assert cache.misses == 2 and cache.hits == 0


def test_inflight_dedup_computes_once(spark, tmp_path):
    cache = QueryCache(spark, str(tmp_path / "qc"))
    results = []

    def run():
        results.append(cache.get_or_compute(_q(spark)).count())

    threads = [threading.Thread(target=run) for _ in range(4)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert cache.misses == 1 and cache.hits == 3
    assert len(set(results)) == 1


def test_invalidate(spark, tmp_path):
    cache = QueryCache(spark, str(tmp_path / "qc"))
    cache.get_or_compute(_q(spark))
    cache.invalidate(_q(spark))
    cache.get_or_compute(_q(spark))
    assert cache.misses == 2


def test_new_snapshot_invalidates_key(spark, tmp_path):
    """Commit-aware invalidation: the plan key embeds the input parquet path,
    and a Catalog commit writes a NEW data-<n> dir — so the same query over a
    re-committed table keys (and computes) fresh, while the pre-commit entry
    keeps serving time-travel reads of the old snapshot."""
    from raptor_spark.catalog import Catalog

    cat = Catalog(spark, str(tmp_path / "cat"))
    cache = QueryCache(spark, str(tmp_path / "qc"))
    cat.write("t", spark.range(10).selectExpr("id", "id * 2 AS v"))

    def q():
        return cat.read("t").groupBy((F.col("id") % 2).alias("k")).agg(
            F.sum("v").alias("s")
        )

    k1 = plan_key(q())
    r1 = {tuple(r) for r in cache.get_or_compute(q()).collect()}
    # new snapshot with different content → different key, fresh compute
    cat.write("t", spark.range(10).selectExpr("id", "id * 3 AS v"))
    k2 = plan_key(q())
    assert k2 != k1
    r2 = {tuple(r) for r in cache.get_or_compute(q()).collect()}
    assert cache.misses == 2 and cache.hits == 0
    assert r1 != r2
    # same snapshot again → hit
    cache.get_or_compute(q())
    assert (cache.misses, cache.hits) == (2, 1)


def test_persisted_input_keys_by_snapshot(spark, tmp_path):
    """A persisted input is an InMemoryRelation in the optimized plan, with
    no files: the key must still name the snapshot's files, or the cache
    serves the previous snapshot's result after a commit."""
    from raptor_spark.catalog import Catalog

    cat = Catalog(spark, str(tmp_path / "cat"))
    cache = QueryCache(spark, str(tmp_path / "qc"))
    cat.write("t", spark.range(10).selectExpr("id", "id * 2 AS v"))

    def q():
        return (
            cat.read("t")
            .persist()
            .groupBy((F.col("id") % 2).alias("k"))
            .agg(F.sum("v").alias("s"))
        )

    k1 = plan_key(q())
    assert sorted(map(tuple, cache.get_or_compute(q()).collect())) == [(0, 40), (1, 50)]
    cat.write("t", spark.range(10).selectExpr("id", "id * 3 AS v"))
    assert plan_key(q()) != k1
    assert sorted(map(tuple, cache.get_or_compute(q()).collect())) == [(0, 60), (1, 75)]
    cat.drop("t")


def test_persist_does_not_change_key(spark):
    def orders():
        return spark.read.parquet(f"{SF_DIR}/orders.parquet").filter(F.col("o_totalprice") > 100)

    key, count_key = plan_key(orders()), plan_key(orders().groupBy("o_orderpriority").count())
    # fresh frames: a frame's optimized plan is fixed when first computed
    held = orders().persist()
    try:
        assert plan_key(held) == key
        assert plan_key(orders().groupBy("o_orderpriority").count()) == count_key
    finally:
        held.unpersist()


def test_cached_queries_flag_wires_end_to_end(spark, tmp_path, monkeypatch):
    """__spark_entry__ read-path wiring: with RAPTOR_QUERY_CACHE_DIR set, a
    repeat invocation of a CACHED_QUERIES entry is a cache hit with identical
    rows; with it unset (the driver's configuration) the wrapper is a
    pass-through and no cache dir is ever touched."""
    import os

    import __spark_entry__ as entry_mod

    qfns = entry_mod.queries()
    name = entry_mod.CACHED_QUERIES[0]
    root = str(tmp_path / "qc")

    monkeypatch.delenv("RAPTOR_QUERY_CACHE_DIR", raising=False)
    entry_mod._QUERY_CACHE = None
    base = {tuple(r) for r in qfns[name](spark, SF_DIR).collect()}
    assert not os.path.exists(root)

    monkeypatch.setenv("RAPTOR_QUERY_CACHE_DIR", root)
    first = {tuple(r) for r in qfns[name](spark, SF_DIR).collect()}
    again = {tuple(r) for r in qfns[name](spark, SF_DIR).collect()}
    cache = entry_mod._QUERY_CACHE
    assert cache is not None and (cache.misses, cache.hits) == (1, 1)
    assert base == first == again
    entry_mod._QUERY_CACHE = None


def test_hit_scaled_ttl_keeps_hot_entries(spark, tmp_path):
    """Effective TTL = ttl * (hits*mult + 1) (the reference's popularity-
    scaled expiry): with recorded hits an aged entry stays fresh; past the
    scaled horizon (or with mult = 0) it recomputes. Ages are injected into
    the marker so the test is immune to wall-clock noise."""
    import json
    import time

    from raptor_spark.cache import QueryCache, plan_key

    df = spark.range(5).selectExpr("id", "id * 3 AS v")
    key = plan_key(df)

    def _age(cache, seconds, hits):
        meta = {"key": key, "committed_at": time.time() - seconds, "hits": hits}
        with open(cache._marker(key), "w") as f:
            json.dump(meta, f)

    hot = QueryCache(spark, str(tmp_path / "hot"), ttl_s=3.0, hit_ttl_mult=4.0)
    hot.get_or_compute(df).count()            # miss, commit
    _age(hot, 5.0, hits=1)                    # older than base 3, < 3*(1*4+1)=15
    hot.get_or_compute(df).count()
    assert (hot.misses, hot.hits) == (1, 1)
    _age(hot, 20.0, hits=1)                   # beyond the scaled horizon
    hot.get_or_compute(df).count()
    assert hot.misses == 2

    cold = QueryCache(spark, str(tmp_path / "cold"), ttl_s=3.0, hit_ttl_mult=0.0)
    cold.get_or_compute(df).count()
    _age(cold, 5.0, hits=1)                   # mult=0: hits don't extend
    cold.get_or_compute(df).count()
    assert (cold.misses, cold.hits) == (2, 0)


def test_semantic_cache_serves_near_identical_queries(spark, tmp_path):
    """The reference's semantic cache contract (semantic_redis_cache.py:
    122-154): a query whose vector is ≥ threshold-similar to a cached
    entry's is served THAT entry's materialized result without recompute;
    a dissimilar query computes its own. Exact repeats stay exact hits and
    never pay the vector scan's approximation."""
    from raptor_spark.cache import QueryCache, SemanticQueryCache
    from raptor_spark.operators.similarity import brute_force_topk

    corpus = spark.read.parquet(f"{SF_DIR}/embeddings.parquet").select(
        F.col("vec_id").alias("id"), F.col("embedding").alias("vec")
    )

    def search(qvec):
        queries = spark.createDataFrame([(0, qvec)], ["qid", "vec"])
        return brute_force_topk(corpus, queries, k=3)

    base_vec = [1.0, 0.5] + [0.0] * 62
    near_vec = [1.0, 0.52] + [0.0] * 62          # cosine ≈ 0.9998
    far_vec = [0.0] * 62 + [1.0, 0.0]            # cosine 0

    cache = SemanticQueryCache(
        QueryCache(spark, str(tmp_path / "sqc")), similarity_threshold=0.85
    )
    first = {tuple(r) for r in cache.get_or_compute(search(base_vec), base_vec).collect()}
    assert (cache.misses, cache.hits, cache.semantic_hits) == (1, 0, 0)

    # exact repeat → exact hit, no semantic involvement
    again = {tuple(r) for r in cache.get_or_compute(search(base_vec), base_vec).collect()}
    assert (cache.misses, cache.hits, cache.semantic_hits) == (1, 1, 0)
    assert again == first

    # near-identical query → SEMANTIC hit serving the base entry's rows
    near = {tuple(r) for r in cache.get_or_compute(search(near_vec), near_vec).collect()}
    assert (cache.misses, cache.hits, cache.semantic_hits) == (1, 1, 1)
    assert near == first

    # dissimilar query → its own compute, different result
    far = {tuple(r) for r in cache.get_or_compute(search(far_vec), far_vec).collect()}
    assert (cache.misses, cache.hits, cache.semantic_hits) == (2, 1, 1)
    assert far != first


def test_plan_key_refuses_unsalted_local_data(spark, tmp_path):
    """Two createDataFrame frames with DIFFERENT rows canonicalize to the
    same ``LogicalRDD`` string with no input files — an unsalted key would
    collide them and the cache would serve one query's rows for the other.
    ``plan_key`` must refuse rather than risk that; with ``extra`` the keys
    must differ."""
    import pytest

    from raptor_spark.cache import plan_key

    a = spark.createDataFrame([(1, 2.0)], ["k", "v"])
    b = spark.createDataFrame([(1, 9.0)], ["k", "v"])
    with pytest.raises(ValueError, match="driver-local data"):
        plan_key(a)
    assert plan_key(a, extra="[1, 2.0]") != plan_key(b, extra="[1, 9.0]")
    # same salt, same plan shape → same key (the salt IS the data identity)
    assert plan_key(a, extra="x") == plan_key(b, extra="x")


def test_semantic_cache_expired_entry_not_served(spark, tmp_path):
    """An aged-out entry must not be served semantically — the freshness
    rule is the wrapped exact cache's (TTL + hit extension), applied to the
    matched entry before its parquet is read."""
    import json
    import time

    from raptor_spark.cache import QueryCache, SemanticQueryCache, plan_key

    df1 = spark.range(10).selectExpr("id", "id * 2 AS v")
    df2 = spark.range(10).selectExpr("id", "id * 5 AS v")
    vec = [1.0, 0.0, 0.0]
    cache = SemanticQueryCache(
        QueryCache(spark, str(tmp_path / "sqc"), ttl_s=60.0),
        similarity_threshold=0.85,
    )
    cache.get_or_compute(df1, vec).count()
    key = plan_key(df1, extra=json.dumps(vec))
    meta = {"key": key, "committed_at": time.time() - 3600.0, "hits": 0}
    with open(cache.base._marker(key), "w") as f:
        json.dump(meta, f)
    # same vector, different plan: entry exists but is stale → recompute
    out = {tuple(r) for r in cache.get_or_compute(df2, vec).collect()}
    assert cache.semantic_hits == 0 and cache.misses == 2
    assert out == {tuple(r) for r in df2.collect()}


def test_semantic_search_entry_wiring(spark, tmp_path, monkeypatch):
    """VERDICT r3 #5: the SemanticQueryCache is wired into the entry
    surface's ranked-search read path (__spark_entry__.semantic_search)
    behind RAPTOR_SEMANTIC_CACHE_DIR — default off (pass-through compute),
    opt-in on: exact repeat → exact hit before any vector math, a NEAR but
    different query vector → semantic hit serving the cached entry's rows,
    a below-threshold vector → its own compute."""
    import __spark_entry__ as entry

    base_vec = [1.0, 0.5] + [0.0] * 62
    near_vec = [1.0, 0.52] + [0.0] * 62          # cosine ≈ 0.9998
    far_vec = [0.0] * 62 + [1.0, 0.0]            # cosine 0

    # default: env unset → plain compute, no cache object created
    monkeypatch.delenv("RAPTOR_SEMANTIC_CACHE_DIR", raising=False)
    monkeypatch.setattr(entry, "_SEMANTIC_CACHE", None)
    plain = {tuple(r) for r in entry.semantic_search(spark, SF_DIR, base_vec).collect()}
    assert entry._SEMANTIC_CACHE is None and len(plain) > 0

    monkeypatch.setenv("RAPTOR_SEMANTIC_CACHE_DIR", str(tmp_path / "sem"))
    first = {tuple(r) for r in entry.semantic_search(spark, SF_DIR, base_vec).collect()}
    cache = entry._SEMANTIC_CACHE
    assert first == plain
    assert (cache.misses, cache.hits, cache.semantic_hits) == (1, 0, 0)

    # exact repeat: exact-first ordering, no semantic involvement
    again = {tuple(r) for r in entry.semantic_search(spark, SF_DIR, base_vec).collect()}
    assert again == first
    assert (cache.misses, cache.hits, cache.semantic_hits) == (1, 1, 0)

    # near-identical but DIFFERENT query vector: semantic hit — the cached
    # base entry's rows are served verbatim (the reference's contract)
    near = {tuple(r) for r in entry.semantic_search(spark, SF_DIR, near_vec).collect()}
    assert near == first
    assert (cache.misses, cache.hits, cache.semantic_hits) == (1, 1, 1)

    # dissimilar vector: below threshold → own compute
    far = {tuple(r) for r in entry.semantic_search(spark, SF_DIR, far_vec).collect()}
    assert far != first
    assert (cache.misses, cache.hits, cache.semantic_hits) == (2, 1, 1)

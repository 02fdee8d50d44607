"""Query-result cache: skip recompute on an identical query.

The reference fronts its search read path with a sha256-keyed result cache
with TTL expiry and in-flight request dedup (raptor/qdrant_search_docker/
cache_manager.py:204-297: key = hash of the normalized query payload, Redis
GET before compute, per-key asyncio lock so concurrent identical queries
compute once). Spark-side equivalent:

* the cache key is the sha256 of the query's CANONICALIZED analyzed logical
  plan — Catalyst's own normalization maps session-local expression ids to
  deterministic ones, so two DataFrames describing the same computation
  over the same inputs key identically across sessions, and any change to
  filters, projections, literals, or input paths changes the key;
* a hit reads the materialized parquet (write-then-commit manifest, same
  discipline as the Catalog); a miss computes, materializes, commits;
* TTL: entries older than ``ttl_s`` recompute (the reference's Redis
  EXPIRE), scaled by per-entry popularity when ``hit_ttl_mult`` > 0:
  effective TTL = ``ttl_s · (entry_hits · hit_ttl_mult + 1)`` — the
  reference's hit-count-scaled expiry (cache_manager.py:204-234), so hot
  queries stay cached longer and cold ones age out on the base TTL;
* in-flight dedup: a per-key ``threading.Lock`` so concurrent identical
  queries on one driver compute once (the asyncio-lock analog; across
  drivers the write-then-commit rename keeps racers consistent — last
  commit wins, both correct).

This is a DRIVER-side read-path optimization: the cached artifact is a
plain parquet dir, so hits are distributed scans with full pushdown, and
nothing here touches executor code.
"""

from __future__ import annotations

import hashlib
import json
import os
import threading
import time

from py4j.java_gateway import JavaClass
from pyspark.sql import DataFrame, SparkSession

_FS_RELATION = "org.apache.spark.sql.execution.datasources.HadoopFsRelation"
_PATHS_PER_ANSWER = 32  # file paths fetched per py4j answer. An answer over
# 8 KB stalls ~40 ms (the JVM's Nagle wait against Python's delayed ACK):
# measured, the 97 paths (~14 KB) of a serve-graph table took 44 ms in one
# answer, 21 ms one call per path, and 2 ms in answers of 32.


def _input_files(analyzed) -> list[str]:
    """Sorted distinct data files of the file-source relations in an
    analyzed plan and its subquery plans, a chunk of paths per py4j
    answer rather than one call per file."""
    array_seq = JavaClass("scala.collection.immutable.ArraySeq", analyzed._gateway_client)

    def seq(s) -> list:
        return [s.apply(i) for i in range(s.size())]

    files: set[str] = set()
    for plan in [analyzed, *seq(analyzed.subqueriesAll())]:
        for leaf in seq(plan.collectLeaves()):
            if leaf.getClass().getSimpleName() != "LogicalRelation":
                continue
            rel = leaf.relation()
            if rel.getClass().getName() != _FS_RELATION:
                continue
            paths = array_seq.unsafeWrapArray(rel.inputFiles())
            for i in range(0, paths.length(), _PATHS_PER_ANSWER):
                chunk = paths.slice(i, i + _PATHS_PER_ANSWER).mkString("\x00")
                files.update(chunk.split("\x00"))
    return sorted(files)


def plan_key(df: DataFrame, extra: str | None = None) -> str:
    """sha256 of the CANONICALIZED analyzed logical plan plus the plan's
    input files. Catalyst's ``canonicalized`` normalizes session-local
    expression ids itself, so the key is stable across sessions WITHOUT
    text munging — a regex strip of ``#\\d+`` would also eat that pattern
    inside string literals and collide distinct queries (``= 'a#1'`` vs
    ``= 'a#2'``) into one cache entry, silently serving the wrong result.
    The canonicalized string, however, ELIDES the file-source location
    (two same-schema parquet dirs print identically), so the sorted input
    file list is hashed in explicitly — which is also the
    snapshot-invalidation mechanism: a Catalog commit writes a new
    ``data-<n>`` dir, so the same query over a re-committed table keys
    fresh (gated in test_cache.py).

    The files come from the ANALYZED plan's ``HadoopFsRelation`` leaves
    (subqueries included), not from ``df.inputFiles()``: that reads the
    optimized plan, where a persisted subtree (``df.persist()``, or a
    current read ``Catalog.read`` holds in memory) is an
    ``InMemoryRelation`` with no files. Keyed that way, the same query
    over two snapshots of a held table hashed identically and the cache
    served the old snapshot's rows, and ``df`` and ``df.persist()`` keyed
    apart.

    Driver-local data is NOT keyable this way: ``createDataFrame`` plans
    print as ``LogicalRDD [none#0L, ...]`` (SQL VALUES as ``LocalRelation``)
    with the DATA ELIDED — two queries differing only in their local rows
    canonicalize identically and have no input files, so the cache would
    silently serve one query's rows for the other (measured: two 1-row
    query-vector frames keyed identical). Callers with local data must pass
    ``extra`` — a string that pins down that data (the SemanticQueryCache
    passes the JSON of its query vector); without it this raises rather
    than risk a wrong-result hit."""
    analyzed = df._jdf.queryExecution().analyzed()  # type: ignore[operator]
    plan = analyzed.canonicalized().toString()
    if extra is None and ("LogicalRDD" in plan or "LocalRelation" in plan):
        raise ValueError(
            "plan contains driver-local data (LogicalRDD/LocalRelation) that "
            "the canonicalized plan elides — pass extra= to key it, e.g. a "
            "JSON dump of the local rows"
        )
    h = hashlib.sha256(plan.encode())
    for f in _input_files(analyzed):
        h.update(b"\x00")
        h.update(f.encode())
    if extra is not None:
        h.update(b"\x01")
        h.update(extra.encode())
    return h.hexdigest()


class QueryCache:
    def __init__(
        self,
        spark: SparkSession,
        root: str,
        ttl_s: float | None = None,
        hit_ttl_mult: float = 0.0,
    ):
        self.spark = spark
        self.root = root
        self.ttl_s = ttl_s
        self.hit_ttl_mult = hit_ttl_mult
        self.hits = 0
        self.misses = 0
        self._locks: dict[str, threading.Lock] = {}
        self._locks_guard = threading.Lock()
        os.makedirs(root, exist_ok=True)

    def _lock_for(self, key: str) -> threading.Lock:
        with self._locks_guard:
            return self._locks.setdefault(key, threading.Lock())

    def _marker(self, key: str) -> str:
        return os.path.join(self.root, f"{key}.json")

    def _data(self, key: str) -> str:
        return os.path.join(self.root, key)

    def _meta(self, key: str) -> dict | None:
        try:
            with open(self._marker(key)) as f:
                return json.load(f)
        except FileNotFoundError:
            return None

    def _write_meta(self, key: str, meta: dict) -> None:
        tmp = self._marker(key) + ".tmp"
        with open(tmp, "w") as f:
            json.dump(meta, f)
        os.replace(tmp, self._marker(key))

    def _fresh(self, meta: dict | None) -> bool:
        if meta is None:
            return False
        if self.ttl_s is None:
            return True
        effective = self.ttl_s * (
            meta.get("hits", 0) * self.hit_ttl_mult + 1.0
        )
        return (time.time() - meta["committed_at"]) <= effective

    def _fresh_hit(self, key: str, df: DataFrame) -> DataFrame | None:
        """The entry's rows, read with ``df``'s schema, after counting the
        hit in its marker; None when the entry is not fresh. The caller
        holds the key's lock and counts the hit its own way."""
        meta = self._meta(key)
        if not self._fresh(meta):
            return None
        meta["hits"] = meta.get("hits", 0) + 1
        self._write_meta(key, meta)
        return self.spark.read.schema(df.schema).parquet(self._data(key))

    def get_or_compute(self, df: DataFrame, extra: str | None = None) -> DataFrame:
        """Return a DataFrame equivalent to ``df``, reading the materialized
        result when a fresh cache entry exists, computing and committing it
        otherwise. Concurrent identical calls compute once. ``extra`` salts
        the key for plans with driver-local data (see ``plan_key``)."""
        key = plan_key(df, extra=extra)
        with self._lock_for(key):
            hit = self._fresh_hit(key, df)
            if hit is not None:
                self.hits += 1
                return hit
            self.misses += 1
            df.write.mode("overwrite").parquet(self._data(key))
            self._write_meta(
                key, {"key": key, "committed_at": time.time(), "hits": 0}
            )
            return self.spark.read.schema(df.schema).parquet(self._data(key))

    def invalidate(
        self, df: DataFrame | None = None, extra: str | None = None
    ) -> None:
        """Drop one entry (by query) or the whole cache."""
        import shutil

        if df is None:
            shutil.rmtree(self.root, ignore_errors=True)
            os.makedirs(self.root, exist_ok=True)
            return
        key = plan_key(df, extra=extra)
        with self._lock_for(key):
            shutil.rmtree(self._data(key), ignore_errors=True)
            try:
                os.remove(self._marker(key))
            except FileNotFoundError:
                pass


class SemanticQueryCache:
    """Approximate result cache for the vector-search read path — the
    reference's semantic cache (qdrant_search_docker/cache_manager/
    semantic_redis_cache.py:122-154: embed the query, KNN-1 over the stored
    query vectors, serve the matched entry when cosine ≥ similarity_threshold
    (0.85 default), else fall through to the exact key).

    Spark-side mapping: this engine's search queries arrive WITH their
    embedding (the `embedding_topk` / ANN query side), so no embedding model
    is involved — the caller passes the query vector, and the cache compares
    it against the vectors of previously materialized results:

    * exact first: the plan key (``plan_key``) is checked before any
      similarity math — a byte-identical query never pays the scan;
    * semantic second: argmax cosine over the stored entry vectors
      (numpy on the driver — the scan is over CACHE ENTRIES, the same
      population the reference's Redis KNN searches, bounded by cache size,
      never by corpus size); a best hit ≥ ``similarity_threshold`` serves
      that entry's materialized parquet (a distributed scan with pushdown);
    * miss: delegate to the exact cache's compute-and-commit, then record
      the query vector beside the entry so future near-identical queries
      match it.

    The semantic hit deliberately returns a result computed for a DIFFERENT
    (but ≥-threshold-similar) query — that is the reference's contract, and
    why this cache is opt-in for approximate read paths only, never wired
    into correctness-graded queries. TTL/hit-extension/in-flight dedup all
    come from the wrapped exact ``QueryCache``."""

    def __init__(
        self,
        base: QueryCache,
        similarity_threshold: float = 0.85,
    ):
        self.base = base
        self.similarity_threshold = similarity_threshold
        self.semantic_hits = 0

    @property
    def hits(self) -> int:
        return self.base.hits

    @property
    def misses(self) -> int:
        return self.base.misses

    def _vec_path(self, key: str) -> str:
        return os.path.join(self.base.root, f"{key}.vec.json")

    def _stored_vectors(self) -> list[tuple[str, list[float]]]:
        out = []
        for name in os.listdir(self.base.root):
            if not name.endswith(".vec.json"):
                continue
            key = name[: -len(".vec.json")]
            # only entries whose data + meta survived (expiry/invalidation
            # removes the marker; the vec file then no longer matches)
            meta = self.base._meta(key)
            if not self.base._fresh(meta):
                continue
            try:
                with open(os.path.join(self.base.root, name)) as f:
                    out.append((key, json.load(f)["vec"]))
            except (FileNotFoundError, KeyError, json.JSONDecodeError):
                continue
        return out

    def _best_match(self, query_vec) -> tuple[str | None, float]:
        import numpy as np

        entries = self._stored_vectors()
        if not entries:
            return None, 0.0
        q = np.asarray(query_vec, dtype=np.float64)
        qn = np.linalg.norm(q)
        if qn == 0:
            return None, 0.0
        best_key, best_cos = None, -1.0
        for key, vec in entries:
            v = np.asarray(vec, dtype=np.float64)
            if v.shape != q.shape:
                continue
            vn = np.linalg.norm(v)
            if vn == 0:
                continue
            cos = float(q @ v / (qn * vn))
            if cos > best_cos:
                best_key, best_cos = key, cos
        return best_key, best_cos

    def get_or_compute(self, df: DataFrame, query_vec) -> DataFrame:
        """Serve ``df``'s result from (1) the exact plan-keyed entry, else
        (2) the nearest stored query vector at cosine ≥ threshold, else
        (3) compute + commit under the exact key, recording ``query_vec``.

        The exact key is salted with the query vector itself: the query side
        of a vector search is a driver-local one-row frame whose data the
        canonicalized plan elides (see ``plan_key``), so without the salt
        every distinct query vector over the same corpus would collide into
        ONE exact entry and near-misses would be served as exact hits."""
        extra = json.dumps([float(x) for x in query_vec])
        key = plan_key(df, extra=extra)
        with self.base._lock_for(key):
            hit = self.base._fresh_hit(key, df)
            if hit is not None:
                self.base.hits += 1
                return hit
        match_key, cos = self._best_match(query_vec)
        if match_key is not None and cos >= self.similarity_threshold:
            with self.base._lock_for(match_key):
                hit = self.base._fresh_hit(match_key, df)
                if hit is not None:
                    self.semantic_hits += 1
                    return hit
        out = self.base.get_or_compute(df, extra=extra)
        tmp = self._vec_path(key) + ".tmp"
        with open(tmp, "w") as f:
            json.dump({"key": key, "vec": [float(x) for x in query_vec]}, f)
        os.replace(tmp, self._vec_path(key))
        return out

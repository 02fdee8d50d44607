"""The workloads. Each is a closed loop from one driver thread: the next
operation starts when the previous one has returned and been checked.

A workload function gets the live session context and returns a ``Result``
of raw measurements; ``run.py`` turns those into the reported metrics.
"""

from __future__ import annotations

import statistics
import sys
import time
from contextlib import nullcontext
from dataclasses import dataclass, field

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from perfbench import checks, gen
from perfbench.trace import Tracer, instrumented
from raptor_spark.cache import QueryCache
from raptor_spark.catalog import Catalog
from raptor_spark.pipeline import Pipeline
from raptor_spark.schemas import FILES_SCHEMA

LOOKUP_PLAN = 10_000  # requests drawn per run; a run uses a prefix of them
WARMUP_REQUESTS = 2  # untimed requests at the head of the serve_lookup stream
MIN_REQUESTS = 3  # timed requests per serve_lookup run, however long they take


@dataclass
class Context:
    spark: SparkSession
    workdir: str
    started: float  # perf_counter at the start of set-up


def log(ctx: Context, msg: str) -> None:
    elapsed = time.perf_counter() - ctx.started
    print(f"[perfbench {elapsed:7.2f}s] {msg}", file=sys.stderr, flush=True)


@dataclass
class Result:
    setup_s: float = 0.0
    op_ms: list[float] = field(default_factory=list)
    failed: int = 0
    problems: list[str] = field(default_factory=list)
    layers: dict[str, float] = field(default_factory=dict)
    observed: set[str] = field(default_factory=set)  # per-layer metrics backed by an observation
    spans: list[dict] = field(default_factory=list)

    def record(self, ms: float, problems: list[str]) -> None:
        self.op_ms.append(ms)
        if problems:
            self.failed += 1
            self.problems.extend(problems)


def _write_files(ctx: Context, rows: list[dict], name: str) -> DataFrame:
    """The program's input: the rows as a parquet files table."""
    path = f"{ctx.workdir}/{name}"
    cores = ctx.spark.sparkContext.defaultParallelism
    ctx.spark.createDataFrame(pd.DataFrame(rows), schema=FILES_SCHEMA).repartition(
        2 * cores
    ).write.mode("overwrite").parquet(path)
    return ctx.spark.read.parquet(path)


def _attempt(res: Result, op, check) -> float:
    """Run one operation, timed, then ``check`` its output outside the
    timing; either raising counts as a failure. Returns the wall ms."""
    t0 = time.perf_counter()
    try:
        out, err = op(), None
    except Exception as e:
        out, err = None, e
    ms = (time.perf_counter() - t0) * 1e3
    if err is None:
        try:
            problems = check(out)
        except Exception as e:
            problems = [f"check raised {type(e).__name__}: {e}"]
    else:
        problems = [f"operation raised {type(err).__name__}: {err}"]
    res.record(ms, problems)
    return ms


# -- build_bulk ---------------------------------------------------------------


def build_bulk(ctx: Context, seed: int, seconds: float, trace: bool) -> Result:
    """The first ``Pipeline.run`` of a fresh session, over padded synth
    files, checked against the single-process oracle.

    A batch build runs as its own Spark application, so the build a user
    waits for is a session's first, JIT and code generation included. A
    run therefore times exactly one build, however long it takes and
    whatever ``seconds`` is: a second build in the same session would find
    the JVM warm."""
    spark = ctx.spark
    rows = gen.corpus_rows(seed, gen.BULK_FILES, gen.BULK_PAD_BYTES)
    corpus_mb = sum(len(r["content"].encode("utf-8", "surrogatepass")) for r in rows) / 1e6
    files = _write_files(ctx, rows, "files")
    log(ctx, f"corpus written: {len(rows)} files, {corpus_mb:.1f} MB")
    expected = checks.oracle_keys(rows)
    res = Result(setup_s=time.perf_counter() - ctx.started)
    log(ctx, f"set-up done; oracle: {len(expected)} triples")

    out_dir = f"{ctx.workdir}/build"
    tracer = Tracer(spark.sparkContext) if trace else None

    def build() -> dict:
        with instrumented(tracer) if trace else nullcontext():
            with tracer.span("pipeline.run") if trace else nullcontext():
                return Pipeline(spark, out_dir).run(files)

    _attempt(res, build, lambda out: checks.check_triples(out["extracted"], files, expected))
    if trace:
        root = tracer.roots()[0]
        extract_s = sum(s.seconds for s in tracer.spans if s.name == "extract")
        tracer.set("extract.mb_per_s", corpus_mb / extract_s if extract_s else 0.0)
        tracer.set("pipeline.spark_jobs", float(len(tracer.job_layers())))
        tracer.set("pipeline.orchestration_s", root.seconds - tracer.covered_seconds(root))
        res.layers, res.observed = tracer.layer_metrics()
        res.spans = tracer.span_records()
    return res


# -- serve_lookup -------------------------------------------------------------


def _lookup_df(catalog: Catalog, lk: gen.Lookup) -> DataFrame:
    if lk.kind == "node":
        return catalog.read("nodes").filter(
            (F.col("kind") == lk.node_kind) & (F.col("canonical") == lk.canonical)
        ).select(*checks.NODE_COLS)
    out_edges = catalog.read("edges").filter(F.col("src") == lk.node_id)
    if lk.kind == "out_edges":
        return out_edges.select(*checks.EDGE_COLS)
    nodes = catalog.read("nodes").select("id", "kind", "canonical")
    return (
        out_edges.select("pred", F.col("dst").alias("id"))
        .join(nodes, on="id")
        .select(*checks.NEIGHBOR_COLS)
    )


def serve_lookup(ctx: Context, seed: int, seconds: float, trace: bool) -> Result:
    """Zipf-skewed requests over a graph committed in set-up, each a node
    lookup through the query cache plus an out-edge and a 1-hop lookup;
    every answer is checked against the graph as collected on the driver."""
    spark = ctx.spark
    rows = gen.corpus_rows(seed, gen.SERVE_FILES)
    graph_dir = f"{ctx.workdir}/graph"
    files = _write_files(ctx, rows, "files")
    log(ctx, f"corpus written: {len(rows)} files")
    graph = Pipeline(spark, graph_dir).run(files)
    answers = checks.GraphAnswers(graph["nodes"], graph["edges"])
    spark.catalog.clearCache()
    log(ctx, f"graph committed: {len(answers.nodes)} nodes, {len(answers.sources())} with out-edges")
    catalog = Catalog(spark, graph_dir)
    plan = gen.lookup_mix(
        seed, [n[:3] for n in answers.nodes], answers.sources(), LOOKUP_PLAN
    )
    cache = QueryCache(spark, f"{ctx.workdir}/query-cache")
    hit_ms: list[float] = []
    miss_ms: list[float] = []

    def lookup(lk: gen.Lookup) -> list:
        t0, hits = time.perf_counter(), cache.hits
        df = _lookup_df(catalog, lk)
        if lk.cached:
            df = cache.get_or_compute(df)
        rows = df.collect()
        if lk.cached:
            (hit_ms if cache.hits > hits else miss_ms).append((time.perf_counter() - t0) * 1e3)
        return rows

    def check(request: tuple[gen.Lookup, ...], got: list[list]) -> list[str]:
        return [
            p
            for lk, rows in zip(request, got)
            for p in checks.check_rows(
                rows, answers.expected(lk.kind, lk.node_id, lk.node_kind, lk.canonical)
            )
        ]

    # warm-up: the stream's first requests, untimed. They run every lookup
    # path while the JVM compiles it (the first request is ~1/3 slower, the
    # second ~1/6) and start the cache from what the stream has asked, so a
    # timed node lookup hits exactly when its key came up earlier in the
    # stream. A run then times at least MIN_REQUESTS requests, so its
    # median is not one request's hit or miss.
    for request in plan[:WARMUP_REQUESTS]:
        for lk in request:
            lookup(lk)
    hit_ms.clear()
    miss_ms.clear()
    res = Result(setup_s=time.perf_counter() - ctx.started)
    log(ctx, "set-up done")

    tracer = Tracer(spark.sparkContext) if trace else None
    loop_start = time.perf_counter()
    with instrumented(tracer) if trace else nullcontext():
        for i, request in enumerate(plan[WARMUP_REQUESTS:]):
            if i >= MIN_REQUESTS and time.perf_counter() - loop_start >= seconds:
                break
            with tracer.span("request") if trace else nullcontext():
                _attempt(
                    res,
                    lambda: [lookup(lk) for lk in request],
                    lambda got: check(request, got),
                )
    if trace:
        n_cached = len(hit_ms) + len(miss_ms)
        tracer.set("cache.hit_ratio", len(hit_ms) / n_cached if n_cached else 0.0)
        # a short stream rarely repeats a key, so one repeat of a timed node
        # lookup (always a hit) gives every traced run a hit latency
        lookup(plan[WARMUP_REQUESTS][0])
        tracer.set("cache.hit_ms", statistics.median(hit_ms))
        tracer.set("cache.miss_ms", statistics.median(miss_ms) if miss_ms else 0.0)
        res.layers, res.observed = tracer.layer_metrics()
        res.spans = tracer.span_records()
    return res


WORKLOADS = {"build_bulk": build_bulk, "serve_lookup": serve_lookup}

"""Spans around calls into the program's layers, with Spark task metrics.

Tracing lives entirely in the benchmark: ``instrumented`` swaps the layer
functions the pipeline and the read path call for wrappers that open a span
around each call, and restores them on exit. A layer function that only
builds a lazy plan is materialized (persist + one counting job) inside its
span, so the span holds that layer's compute; the traced run therefore
does more work than the untraced one, and the difference between the two
is the tracing overhead.

Each span sets its own Spark job group on the calling thread, so the jobs a
layer launches can be found in Spark's status store afterwards and their
shuffle, spill and GC totals charged to that layer.
"""

from __future__ import annotations

import functools
import itertools
import os
import threading
import time
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import dataclass

from pyspark import SparkContext
from pyspark.sql import functions as F

# span name → per-layer busy-time metric (seconds per traced operation)
SPAN_SECONDS = {
    "extract": "extract.busy_s",
    "lineage.rollup": "lineage.rollup_s",
    "lineage.flush": "lineage.flush_s",
    "link.features": "link.features_s",
    "link.edges": "link.edges_s",
    "link.canon": "link.canon_s",
    "cc": "cc.busy_s",
    "materialize.nodes": "materialize.nodes_s",
    "materialize.edges": "materialize.edges_s",
    "catalog.write": "catalog.write_s",
    "catalog.read": "catalog.read_s",
    "cache.key": "cache.key_s",
}
# layers whose Spark task metrics are reported; jobs outside every layer
# span are the pipeline's own orchestration
SPARK_LAYERS = ("extract", "lineage", "link", "cc", "materialize", "catalog", "pipeline", "cache")
_GROUP_PREFIX = "perfbench-span-"


@dataclass
class Span:
    span_id: int
    parent_id: int | None
    trace_id: int  # id of the root span: spans of one operation share it
    name: str
    start: float
    end: float
    thread: str

    @property
    def seconds(self) -> float:
        return self.end - self.start


class Tracer:
    """Spans and counts, kept in memory until the run ends."""

    def __init__(self, sc: SparkContext):
        self.sc = sc
        self.spans: list[Span] = []
        self.counts: dict[str, float] = {}
        self._ids = itertools.count(1)
        self._lock = threading.Lock()
        self._local = threading.local()
        self._root: tuple[int, int] | None = None  # open root span, for threads
        self._ungrouped_before = set(sc.statusTracker().getJobIdsForGroup())

    @contextmanager
    def span(self, name: str):
        stack = self._local.__dict__.setdefault("stack", [])
        span_id = next(self._ids)
        # a span opened on a thread the traced code started has no stack of
        # its own: it belongs under the operation's open root span
        parent = stack[-1] if stack else self._root
        if parent is None:
            self._root = (span_id, span_id)
        prev_group = self.sc.getLocalProperty("spark.jobGroup.id")
        self.sc.setJobGroup(f"{_GROUP_PREFIX}{span_id}", name)
        stack.append((span_id, parent[1] if parent else span_id))
        start = time.perf_counter()
        try:
            yield
        finally:
            end = time.perf_counter()
            _, trace_id = stack.pop()
            if parent is None:
                self._root = None
            self.sc.setLocalProperty("spark.jobGroup.id", prev_group)
            with self._lock:
                self.spans.append(
                    Span(span_id, parent[0] if parent else None, trace_id, name,
                         start, end, threading.current_thread().name)
                )

    def set(self, name: str, value: float) -> None:
        with self._lock:
            self.counts[name] = value

    def add(self, name: str, value: float) -> None:
        with self._lock:
            self.counts[name] = self.counts.get(name, 0.0) + value

    # -- read-out ----------------------------------------------------------

    def roots(self) -> list[Span]:
        return [s for s in self.spans if s.parent_id is None]

    def job_layers(self) -> dict[int, str]:
        """Layer of every Spark job started while tracing: the first part of
        its span's name, or ``pipeline`` for jobs outside every span."""
        self.sc._jsc.sc().listenerBus().waitUntilEmpty(60_000)
        tracker = self.sc.statusTracker()
        out = {}
        for s in self.spans:
            for job in tracker.getJobIdsForGroup(f"{_GROUP_PREFIX}{s.span_id}"):
                out[job] = s.name.split(".")[0]
        for job in set(tracker.getJobIdsForGroup()) - self._ungrouped_before:
            out[job] = "pipeline"
        return out

    def spark_layer_totals(self) -> dict[str, dict[str, float]]:
        """Per layer: input, shuffle read + write and disk-spill MB, and JVM
        GC seconds of every Spark stage its jobs ran. Each stage is charged
        once, to the first job that lists it."""
        tracker = self.sc.statusTracker()
        job_layer = self.job_layers()
        store = self.sc._jsc.sc().statusStore()
        seen: set[int] = set()
        totals: dict[str, dict[str, float]] = defaultdict(lambda: defaultdict(float))
        for job in sorted(job_layer):
            info = tracker.getJobInfo(job)
            for stage in info.stageIds if info else ():
                if stage in seen:
                    continue
                seen.add(stage)
                try:
                    sd = store.lastStageAttempt(stage)
                except Exception:  # never ran or evicted from the store
                    continue
                t = totals[job_layer[job]]
                t["input_mb"] += sd.inputBytes() / 1e6
                t["shuffle_mb"] += (sd.shuffleReadBytes() + sd.shuffleWriteBytes()) / 1e6
                t["spill_mb"] += sd.diskBytesSpilled() / 1e6
                t["gc_s"] += sd.jvmGcTime() / 1e3
        return totals

    def layer_metrics(self) -> tuple[dict[str, float], set[str]]:
        """Busy seconds per layer span name and Spark totals per layer, each
        averaged over the traced operations (root spans), plus the counts
        the workload set. Layers a workload never calls read 0, so the
        names of the metrics backed by an observation (a span that ran, a
        Spark stage a layer's jobs ran, a count that was set) come second."""
        n_ops = max(1, len(self.roots()))
        out = {metric: 0.0 for metric in SPAN_SECONDS.values()}
        observed = set(self.counts)
        for s in self.spans:
            if s.name in SPAN_SECONDS:
                out[SPAN_SECONDS[s.name]] += s.seconds / n_ops
                observed.add(SPAN_SECONDS[s.name])
        totals = self.spark_layer_totals()
        for layer in SPARK_LAYERS:
            for key in ("shuffle_mb", "spill_mb", "gc_s"):
                out[f"{layer}.{key}"] = totals.get(layer, {}).get(key, 0.0) / n_ops
                if layer in totals:
                    observed.add(f"{layer}.{key}")
        lookup_layers = [layer for layer in ("request", "cache") if layer in totals]
        out["lookup.input_mb"] = sum(totals[layer]["input_mb"] for layer in lookup_layers) / n_ops
        if lookup_layers:
            observed.add("lookup.input_mb")
        out.update(self.counts)
        return out, observed

    def covered_seconds(self, root: Span) -> float:
        """Wall time inside ``root`` covered by at least one child span
        (children on concurrent threads are counted once)."""
        spans = sorted(
            (s.start, s.end) for s in self.spans
            if s.trace_id == root.span_id and s.span_id != root.span_id
        )
        covered, cur_start, cur_end = 0.0, None, None
        for start, end in spans:
            if cur_end is None or start > cur_end:
                if cur_end is not None:
                    covered += cur_end - cur_start
                cur_start, cur_end = start, end
            else:
                cur_end = max(cur_end, end)
        if cur_end is not None:
            covered += cur_end - cur_start
        return covered

    def span_records(self) -> list[dict]:
        t0 = min((s.start for s in self.spans), default=0.0)
        return [
            {
                "trace": s.trace_id, "span": s.span_id, "parent": s.parent_id,
                "name": s.name, "thread": s.thread,
                "start_ms": round((s.start - t0) * 1e3, 3),
                "dur_ms": round(s.seconds * 1e3, 3),
            }
            for s in sorted(self.spans, key=lambda s: s.start)
        ]


def _materialized(tracer: Tracer, name: str, count=None):
    """Wrap a lazy layer function: run it, persist its result and force it
    with one job inside the span. ``count(df)`` (optional) is that job and
    records the layer's counts; the default is ``df.count()``."""

    def wrap(fn):
        @functools.wraps(fn)
        def inner(*args, **kwargs):
            with tracer.span(name):
                df = fn(*args, **kwargs).persist()
                (count or (lambda d: d.count()))(df)
            return df

        return inner

    return wrap


def _timed(tracer: Tracer, name: str, after=None):
    """Wrap an eager call in a span; ``after(result, args)`` runs outside it."""

    def wrap(fn):
        @functools.wraps(fn)
        def inner(*args, **kwargs):
            with tracer.span(name):
                result = fn(*args, **kwargs)
            if after is not None:
                after(result, args)
            return result

        return inner

    return wrap


@contextmanager
def instrumented(tracer: Tracer):
    """Trace the layer calls made by ``Pipeline.run`` and by lookups through
    ``Catalog``/``QueryCache`` while the block runs."""
    import raptor_spark.cache as cache_mod
    import raptor_spark.cc as cc_mod
    import raptor_spark.pipeline as pipeline_mod
    from raptor_spark.catalog import Catalog
    from raptor_spark.extract import PRED_ERROR

    def count_extract(df):
        by_err = dict(df.groupBy(F.col("pred") == PRED_ERROR).count().collect())
        tracer.add("extract.triples_out", float(sum(by_err.values())))
        tracer.add("extract.quarantined", float(by_err.get(True, 0)))

    def count_names(df):
        by_head = dict(df.groupBy("is_head").count().collect())
        tracer.add("link.names", float(sum(by_head.values())))
        tracer.add("link.head_names", float(by_head.get(True, 0)))

    def count_link_edges(df):
        tracer.add("link.edges_out", float(df.count()))

    def traced_cc(fn):
        @functools.wraps(fn)
        def inner(edges, *args, **kwargs):
            driver_calls = tracer.counts.get("cc.driver_calls", 0.0)
            with tracer.span("cc"):
                n_in = edges.count()
                comps = fn(edges, *args, **kwargs).persist()
                n_comp, biggest = comps.groupBy("component").count().agg(
                    F.count("*"), F.max("count")
                ).first()
            tracer.add("cc.edges_in", float(n_in))
            # the branch connected_components took, as observed by the
            # _driver_union_find wrapper below
            tracer.set("cc.driver_path", float(tracer.counts.get("cc.driver_calls", 0.0) > driver_calls))
            tracer.add("cc.components", float(n_comp or 0))
            tracer.set("cc.max_component", float(biggest or 0))
            return comps

        return inner

    def count_driver_call(_result, _args):
        tracer.add("cc.driver_calls", 1.0)

    def count_written(manifest, args):
        catalog, table = args[0], args[1]
        data = os.path.join(catalog.root, table, manifest["data_dir"])
        for root, _dirs, names in os.walk(data):
            for n in names:
                if n.endswith(".parquet"):
                    tracer.add("catalog.files_written", 1.0)
                    tracer.add("catalog.mb_written", os.path.getsize(os.path.join(root, n)) / 1e6)

    def traced_get(fn):
        @functools.wraps(fn)
        def inner(self, *args, **kwargs):
            hits = self.hits
            with tracer.span("cache.get"):
                out = fn(self, *args, **kwargs)
            tracer.add("cache.hits" if self.hits > hits else "cache.misses", 1.0)
            return out

        return inner

    patches = [
        (pipeline_mod, "input_rollup", _materialized(tracer, "lineage.rollup")),
        (pipeline_mod, "extract_triples", _materialized(tracer, "extract", count_extract)),
        (pipeline_mod, "name_features", _materialized(tracer, "link.features", count_names)),
        (pipeline_mod, "link_edges", _materialized(tracer, "link.edges", count_link_edges)),
        (pipeline_mod, "connected_components", traced_cc),
        (cc_mod, "_driver_union_find", _timed(tracer, "cc.driver", count_driver_call)),
        (pipeline_mod, "canonical_mapping", _materialized(tracer, "link.canon")),
        (pipeline_mod, "apply_linking", _materialized(tracer, "link.canon")),
        (pipeline_mod, "build_nodes", _materialized(tracer, "materialize.nodes")),
        (pipeline_mod, "build_edges", _materialized(tracer, "materialize.edges")),
        (Catalog, "write", _timed(tracer, "catalog.write", count_written)),
        (Catalog, "read", _timed(tracer, "catalog.read")),
        (Catalog, "append", _timed(tracer, "lineage.flush")),
        (cache_mod, "plan_key", _timed(tracer, "cache.key")),
        (cache_mod.QueryCache, "get_or_compute", traced_get),
    ]
    originals = [(owner, attr, getattr(owner, attr)) for owner, attr, _ in patches]
    try:
        for owner, attr, wrap in patches:
            setattr(owner, attr, wrap(getattr(owner, attr)))
        yield tracer
    finally:
        for owner, attr, fn in reversed(originals):
            setattr(owner, attr, fn)

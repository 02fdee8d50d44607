"""Benchmark harness.

Runs the headline queries at $SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1)
on local[$SPARK_GRAFT_CPUS] and prints ONE JSON line:
  {"metric": ..., "value": N, "unit": "sec", "queries": {...}, "sf": ...}

Also times the KG-construction pipeline itself (extract → link → cc →
materialize) on a synthetic corpus sized to the sf, and reports files/sec as
an extra key (the BASELINE.json throughput metric). Two-cluster-size scaling
is produced by BENCH/run_scaling.sh which invokes this file at two core
counts via spark-submit.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time


def _sf_from_dir(sf_dir: str) -> float:
    base = os.path.basename(sf_dir.rstrip("/"))
    try:
        return float(base.replace("sf", ""))
    except ValueError:
        return -1.0


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    sf = _sf_from_dir(sf_dir)

    from raptor_spark.session import build_session

    spark = build_session("raptor_spark.bench", master=f"local[{cpus}]")
    spark.sparkContext.setLogLevel("ERROR")

    import __spark_entry__ as entry_mod

    # Warm the session before timing: Python-worker creation is globally
    # serialized in Spark 4.1 (~0.8s/core, see BENCH/BASELINE.md) and the
    # first parquet scan pays codegen warmup — costs a cluster amortizes.
    import pandas as _pd

    def _noop(it):
        for pdf in it:
            yield _pd.DataFrame({"n": [len(pdf)]})

    warm = spark.range(0, 4 * cpus, numPartitions=4 * cpus)
    warm.mapInPandas(_noop, schema="n long").count()

    qfns = entry_mod.queries()
    bench_queries = [
        "interval_argmax",
        "latest_order_per_customer",
        "pricing_summary",
        "budget_groups",
        "windowed_event_means",
        "top_nation_revenue",
        "exact_dedup_docs",
        "minhash_near_dups",
        "simhash_near_dups",
        "embedding_topk",
        "doc_quality",
        "langid",
        "doc_fingerprint",
        "adaptive_threshold_events",
        "media_features",
        "asof_enrich",
        "time_rollup",
        "sessionize",
        "span_dedup",
        "embedding_clusters",
        "semdedup_prune",
        "bloom_decontaminate",
        "shingle_novelty",
        "lm_perplexity",
    ]
    timings: dict[str, float] = {}
    for name in bench_queries:
        t0 = time.monotonic()
        df = qfns[name](spark, sf_dir)
        n = df.count()
        timings[name] = round(time.monotonic() - t0, 3)
        print(f"# {name}: {timings[name]:.2f}s rows={n}", file=sys.stderr)

    # --- KG pipeline throughput (files/sec) on the synthetic corpus --------
    from raptor_spark.pipeline import Pipeline
    from raptor_spark.synth import generate_corpus_df

    n_files = max(500, int(sf * 100_000)) if sf > 0 else 2_000  # sf0.1 → 10k
    files = generate_corpus_df(spark, n_files, partitions=4 * cpus)
    n_kg_files = files.persist().count()  # exclude generation from the measured window
    out_dir = tempfile.mkdtemp(prefix="kg_bench_")
    t0 = time.monotonic()
    out = Pipeline(spark, out_dir).run(files)
    n_triples = out["extracted"].count()
    kg_sec = time.monotonic() - t0
    timings["kg_pipeline"] = round(kg_sec, 3)
    files_per_sec = round(n_kg_files / kg_sec, 1)
    shutil.rmtree(out_dir, ignore_errors=True)

    total = round(sum(timings.values()), 3)
    print(
        json.dumps(
            {
                "metric": "headline_queries_plus_kg_pipeline_wall",
                "value": total,
                "unit": "sec",
                "queries": timings,
                "sf": sf,
                "kg_files": n_kg_files,
                "kg_triples": n_triples,
                "kg_files_per_sec": files_per_sec,
                "cpus": cpus,
            }
        )
    )
    spark.stop()


if __name__ == "__main__":
    main()

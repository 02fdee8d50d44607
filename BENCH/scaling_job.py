"""Two-cluster-size scaling job (BASELINE.json north_rule gate).

Measures triple-extraction throughput (files/sec) of the full KG pipeline
stage 1 over a fixed on-disk synthetic corpus, at whatever parallelism the
submitting `spark-submit --master local[N]` chose. The SAME input parquet is
read at every core count, so the only variable between runs is executor
parallelism — the sandbox stand-in for N vs 4N executors.

Prints ONE JSON line: {"cpus": N, "files": F, "triples": T, "wall_sec": W,
"files_per_sec": F/W}.

Usage (via BENCH/run_scaling.sh):
  spark-submit --master local[8]  --py-files raptor_spark.zip \
      BENCH/scaling_job.py --input /tmp/scaling_corpus --mode extract
"""

from __future__ import annotations

import argparse
import json
import sys
import tempfile
import time

from pyspark.sql import SparkSession


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--input", required=True, help="parquet dir of the files corpus")
    ap.add_argument(
        "--mode",
        default="extract",
        choices=["extract", "pipeline", "dedup", "curation", "lm", "graph",
                 "mask", "linkskew"],
    )
    ap.add_argument("--output", default="", help="pipeline mode: output dir")
    args = ap.parse_args()

    spark = SparkSession.builder.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    cpus = spark.sparkContext.defaultParallelism

    from raptor_spark.extract import extract_triples

    files = spark.read.parquet(args.input)
    # pin the split count at 4N for the LARGER size (128 = 4*32) so both runs
    # see identical work units and the scaling difference is pure executor
    # parallelism
    files = files.repartition(128).persist()
    n_files = files.count()  # materialize outside the timed window

    # Warm the Python worker pool before timing. Worker creation is globally
    # serialized on the SparkEnv monitor in Spark 4.1 (~0.6-0.8s each: daemon
    # fork + auth + pandas/pyarrow import), so a cold local[32] pays ~25s of
    # serialized startup that a long-lived cluster amortizes to zero. The
    # metric targets steady-state throughput, so startup is excluded; the
    # cold number is reported alongside for honesty.
    t0 = time.monotonic()
    extract_triples(files).count()
    cold_wall = time.monotonic() - t0

    # graph mode times ITERATIVE COMPUTE only: the doc-word bipartite edge
    # list is derived and persisted outside the timed window (it is the
    # input a graph job would read from parquet), so the measured walls are
    # the 5 PageRank join+aggregate rounds — the shuffle-scaling face of
    # the same two-cluster-size gate
    graph_edges = None
    if args.mode == "graph":
        import os

        from pyspark import StorageLevel
        from pyspark.sql import functions as F

        docs = files.select(
            F.xxhash64("repo", "path").alias("doc_id"),
            F.col("content").alias("text"),
        )
        graph_edges = (
            docs.select(
                "doc_id",
                F.explode(F.split(F.lower("text"), r"\s+")).alias("w"),
            )
            .filter(F.col("w") != "")
            .select(F.col("doc_id").alias("a"), F.xxhash64("w").alias("b"))
            .distinct()
        )
        # SCALING_GRAPH_STORAGE=disk keeps the ~50M-edge persist out of the
        # unified memory pool so the wide leg's shuffle state stops spilling
        # at 3-4M files (the local-mode ceiling BASELINE.md documents — a
        # real 4N cluster carries 4x aggregate memory; this knob removes the
        # single-box artifact from the ladder instead of modeling it).
        level = (
            StorageLevel.DISK_ONLY
            if os.environ.get("SCALING_GRAPH_STORAGE") == "disk"
            else StorageLevel.MEMORY_AND_DISK
        )
        graph_edges = graph_edges.persist(level)
        graph_edges.count()

    # linkskew mode times the LINK + CC stages only, over a corpus generated
    # with --skew-frac head-symbol skew: extraction runs OUTSIDE the timed
    # window (it is the input a link job would read from the triple table)
    # and the measured walls are name_features -> exact+fuzzy blocking ->
    # connected_components on the production auto-switch path — the
    # north-rule's deliberate-skew stress, measured instead of asserted.
    link_triples = None
    if args.mode == "linkskew":
        link_triples = extract_triples(files).persist()
        link_triples.count()

    def run_once():
        if args.mode == "extract":
            return extract_triples(files).count()
        if args.mode == "dedup":
            # MinHash+LSH near-dup pairs over the corpus content — the
            # training-data dedup face of the same two-cluster-size gate
            from pyspark.sql import functions as F

            from raptor_spark.operators.dedup import minhash_lsh_pairs

            docs = files.select(
                F.xxhash64("repo", "path").alias("doc_id"),
                F.col("content").alias("text"),
            )
            return minhash_lsh_pairs(
                docs, "doc_id", "text", n_hashes=32, n_bands=16,
                shingle_n=2, jaccard_threshold=0.5,
            ).count()
        if args.mode == "curation":
            # Bloom-filter decontamination over the corpus content — build
            # the bitmap from a 2% eval slice, probe the rest (the sketch
            # face of the same two-cluster-size gate)
            from pyspark.sql import functions as F

            from raptor_spark.operators.curation import (
                bloom_build,
                bloom_contamination,
            )

            docs = files.select(
                F.xxhash64("repo", "path").alias("doc_id"),
                F.col("content").alias("text"),
            )
            ev = docs.filter(F.pmod(F.col("doc_id"), F.lit(50)) == 0)
            tr = docs.filter(F.pmod(F.col("doc_id"), F.lit(50)) != 0)
            bloom = bloom_build(ev, "text", n=3)
            return bloom_contamination(tr, bloom, "doc_id", "text", n=3).count()
        if args.mode == "lm":
            # Bigram-LM perplexity scoring over the corpus content — the
            # statistical quality-filter face of the same gate: one corpus
            # shuffle as (id, bigram) rows + vocabulary-sized count joins
            from pyspark.sql import functions as F

            from raptor_spark.operators.curation import lm_perplexity

            docs = files.select(
                F.xxhash64("repo", "path").alias("doc_id"),
                F.col("content").alias("text"),
            )
            return lm_perplexity(docs, "doc_id", "text").count()
        if args.mode == "graph":
            from raptor_spark.operators.graph import pagerank

            return pagerank(graph_edges, n_iter=5).count()
        if args.mode == "linkskew":
            from raptor_spark.cc import connected_components
            from raptor_spark.link import link_edges, name_features

            feats = name_features(link_triples).persist()
            try:
                return connected_components(link_edges(feats)).count()
            finally:
                feats.unpersist()
        if args.mode == "mask":
            # T5 span-corruption training-pair emission over the corpus
            # content — the pretraining-data face of the same gate: one
            # posexplode shuffle + shared-sort per-doc windows, map-shaped
            # like extraction
            from pyspark.sql import functions as F

            from raptor_spark.operators.text import span_corruption

            docs = files.select(
                F.xxhash64("repo", "path").alias("doc_id"),
                F.col("content").alias("text"),
            )
            return span_corruption(docs, "doc_id", "text").count()
        from raptor_spark.pipeline import Pipeline

        out_dir = args.output or tempfile.mkdtemp(prefix="kg_scaling_pipe_")
        out = Pipeline(spark, out_dir).run(files)
        return out["edges"].count()

    walls = []
    for _ in range(2):
        t0 = time.monotonic()
        n_triples = run_once()
        walls.append(time.monotonic() - t0)
    wall = sum(walls) / len(walls)

    print(
        json.dumps(
            {
                "cpus": cpus,
                "mode": args.mode,
                "files": n_files,
                "triples": n_triples,
                "wall_sec": round(wall, 3),
                "cold_wall_sec": round(cold_wall, 3),
                "files_per_sec": round(n_files / wall, 1),
            }
        ),
        file=sys.stdout,
        flush=True,
    )
    spark.stop()


if __name__ == "__main__":
    main()

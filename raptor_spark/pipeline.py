"""Stage driver with checkpoint-restart.

The reference resumes work from a Redis-held per-request step machine
({step: analysis → summary → save → complete},
svc/document_orchestrator_service/kafka_handler.py:186-204, 276-431). Here the
same resumability comes from stage-boundary table commits: every stage runs
through one ``Pipeline._stage`` step, which writes its output table with the
layout ``LAYOUT`` gives it, and ``run(..., resume=True)`` skips any stage
whose output manifest is already committed AND whose recorded input roll-up
still matches the current input (so a changed corpus invalidates downstream
checkpoints instead of silently reusing them). The lineage rows of the stages
a run committed are appended in one ``Catalog.append`` when the run ends,
failed runs included: one new lineage snapshot per run.

Stages:
  extracted  — triples (extract.extract_triples)
  components — (name, component, canonical) for every featurized name: LSH
               link + connected components + the min norm per component.
               The linking checkpoint: a resume past it computes no name
               features, and the linked triples are built from it in memory,
               never committed
  nodes / edges — final graph, partitioned (lang, repo_bucket), built and
               committed one after the other, each write using every core

Run:  python -m raptor_spark.pipeline --input <files.parquet> --output <dir>
      [--resume] [--incremental-from <prev_dir>] [--master local[8]]
"""

from __future__ import annotations

import argparse
import hashlib
import json
import time
from typing import Callable

from pyspark.sql import DataFrame, Row, SparkSession

from raptor_spark.catalog import Catalog
from raptor_spark.cc import connected_components
from raptor_spark.extract import extract_triples
from raptor_spark.functions import sha256_col
from raptor_spark.lineage import (
    input_rollup,
    new_run_id,
    stage_lineage,
    triple_rollup,
)
from raptor_spark.link import (
    apply_linking,
    canonical_mapping,
    link_edges,
    name_features,
)
from raptor_spark.materialize import build_edges, build_nodes
from raptor_spark.schemas import FILES_SCHEMA, TRIPLES_SCHEMA

STAGES = ("extracted", "components", "nodes", "edges")

# stage → partition columns of its committed table, passed to
# ``Catalog.write``. A partitioned table is hash-clustered by its partition
# columns into the session's default parallelism and written by Arrow
# writers in the tasks: each output directory is written by one task, as
# one file, instead of every task writing every directory (64 tasks × 64
# dirs of ~20-row files measured 18s of commit churn on the edges stage),
# and the ~150 small files skip Spark's writer, which costs ~7 ms of task
# time per file (see ``Catalog._write_clustered``). The triple table is
# unpartitioned, on Spark's writer: no read prunes it by ``pred`` (the
# build reads it persisted, an incremental run reads all of it), and
# handing its rows to Python measured slower.
LAYOUT: dict[str, list[str] | None] = {
    "extracted": None,
    "components": None,
    "nodes": ["lang", "repo_bucket"],
    "edges": ["lang", "repo_bucket"],
}


def _corpus_fingerprint(rollup: list[Row]) -> str:
    """Global order-insensitive fingerprint of the input corpus (sha256 of
    the sorted per-bucket roll-ups of the collected ``input_rollup`` rows)
    — the cross-stage validity key."""
    h = hashlib.sha256()
    for r in sorted(x.input_sha256_rollup for x in rollup):
        h.update(r.encode())
    return h.hexdigest()


class Pipeline:
    def __init__(self, spark: SparkSession, output_dir: str):
        self.spark = spark
        self.catalog = Catalog(spark, output_dir)
        self.run_id = new_run_id()

    def _stage(
        self,
        stage: str,
        build: Callable[[], DataFrame],
        fingerprint: str,
        resume: bool,
    ) -> tuple[DataFrame, int | None]:
        """One stage step: on resume, reuse the committed table if it was
        made from this corpus; else build the stage's frame, lay it out as
        ``LAYOUT`` says, commit and read it back. Returns the committed frame
        and the step's wall ms (None when the stage was reused). Both reads
        name the snapshot id, so the catalog never holds a build's tables in
        memory."""
        if resume and self.catalog.exists(stage):
            m = self.catalog.manifest(stage)
            if m.get("input_fingerprint") == fingerprint:
                return self.catalog.read(stage, snapshot=m["snapshot_id"]), None
        start = time.monotonic()
        m = self.catalog.write(
            stage, build(), partition_by=LAYOUT[stage], meta={"input_fingerprint": fingerprint}
        )
        return (
            self.catalog.read(stage, snapshot=m["snapshot_id"]),
            int((time.monotonic() - start) * 1000),
        )

    def incremental_triples(self, files: DataFrame, prev_output: str) -> DataFrame:
        """Stage-1 input for an incremental run: reuse the previous run's
        triples for every (repo, path, sha256) still present in the current
        corpus, extract only changed/new files, drop triples of deleted
        files — the reference's checksum no-change short-circuit
        (asset_management/client.py:157-206, database.py:583-592) at the
        pipeline level. The change key is (repo, path, lang, sha256), not
        content hash alone: identical content at a NEW path must still be
        extracted (its triples carry the path), and triples also carry the
        file's lang metadata — a lang change with unchanged content must
        re-extract too, or the incremental run diverges from a from-scratch
        run on the stale-lang rows.

        Downstream stages (linking, CC, materialize) always rerun — entity
        linking is global, so any content change can re-cluster names.
        """
        prev = Catalog(self.spark, prev_output)
        prev_triples = prev.read(
            "extracted", snapshot=prev.manifest("extracted")["snapshot_id"]
        )
        key = ["repo", "path", "lang", "sha256"]
        keyed = files.withColumn("sha256", sha256_col("content"))
        kept = prev_triples.join(keyed.select(*key), on=key, how="left_semi")
        changed = keyed.join(prev_triples.select(*key).distinct(), on=key, how="left_anti")
        self.incremental_stats = {
            "files_total": files.count(),
            "files_extracted": changed.count(),
        }
        # normalize to schema column order: the semi-join reorders columns,
        # and the committed table layout must not depend on the code path
        cols = TRIPLES_SCHEMA.fieldNames()
        return kept.select(*cols).unionByName(extract_triples(changed).select(*cols))

    def run(
        self,
        files: DataFrame,
        resume: bool = False,
        incremental_from: str | None = None,
    ) -> dict[str, DataFrame]:
        # ``files`` is the caller's, and so is its cache: the roll-up and
        # extract each scan it once. The run unpersists only what it cached
        intermediates = []
        wall_ms: dict[str, int | None] = {}  # stage → commit ms, None if reused
        try:
            # one scan of files, collected (≤ N_REPO_BUCKETS rows), feeds the
            # fingerprint AND every stage's lineage; it hashes each file with
            # sha256_col, as extract does
            rollup = input_rollup(files).collect()
            fingerprint = _corpus_fingerprint(rollup)

            # -- stage 1: extract ---------------------------------------------
            triples, wall_ms["extracted"] = self._stage(
                "extracted",
                lambda: (
                    self.incremental_triples(files, incremental_from)
                    if incremental_from
                    else extract_triples(files)
                ),
                fingerprint,
                resume,
            )
            triples = triples.persist()
            # the featurized name dimension linking and the mapping share —
            # lazy, so a resume past `components` never computes it
            feats = name_features(triples).persist()
            intermediates.append(feats)

            # -- stage 2: components ------------------------------------------
            comps, wall_ms["components"] = self._stage(
                "components",
                lambda: canonical_mapping(feats, connected_components(link_edges(feats))),
                fingerprint,
                resume,
            )

            # triples + canonical columns from the committed mapping, kept in
            # memory instead of committed as a second copy of the triple table
            linked = apply_linking(triples, comps).persist()
            intermediates.append(linked)

            # -- stage 3: nodes / edges ---------------------------------------
            # both derive from the in-memory linked triples; each partitioned
            # write runs on every core (see LAYOUT), so they commit in turn
            graph = {}
            for stage, build in (("nodes", build_nodes), ("edges", build_edges)):
                graph[stage], wall_ms[stage] = self._stage(
                    stage, lambda: build(linked), fingerprint, resume
                )
        finally:
            # the audit rows of every stage this run committed, failed runs
            # included, in one append. A committed stage means the triples
            # exist; a run that reuses every stage counts none of them
            committed = {s: ms for s, ms in wall_ms.items() if ms is not None}
            if committed:
                self.catalog.append(
                    "lineage",
                    stage_lineage(
                        self.spark, self.run_id, committed, rollup,
                        dict(triple_rollup(triples).collect()),
                        no_triples=("components",),
                    ),
                )
            for df in intermediates:
                df.unpersist()
        return {"extracted": triples, "components": comps, **graph}


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--input", required=True, help="parquet path of the files table")
    ap.add_argument("--output", required=True)
    ap.add_argument("--resume", action="store_true")
    ap.add_argument(
        "--incremental-from",
        default=None,
        help="previous run's output dir: reuse its triples for unchanged "
        "(repo, path, sha256) files, extract only changed/new ones",
    )
    ap.add_argument("--master", default=None)
    ap.add_argument("--synth", type=int, default=0, help="generate N synthetic files instead of reading --input")
    ap.add_argument(
        "--synth-seq",
        action="store_true",
        help="use the sequential driver-side generator (golden-oracle corpus; "
        "byte-pinned by tests). Default is the distributed per-index-seeded "
        "generator, which synthesizes rows on executors and scales to corpus "
        "sizes the driver could never materialize",
    )
    args = ap.parse_args()

    from raptor_spark.session import build_session

    spark = build_session("raptor_spark.pipeline", master=args.master)
    if args.synth and args.synth_seq:
        from raptor_spark.synth import generate_corpus

        files = spark.createDataFrame(generate_corpus(args.synth), schema=FILES_SCHEMA)
        # a synthesized corpus is persisted: the roll-up and extract each read it
        files = files.repartition(max(32, args.synth // 512)).persist()
    elif args.synth:
        from raptor_spark.synth import generate_corpus_df

        files = generate_corpus_df(
            spark, args.synth, partitions=max(32, args.synth // 512)
        ).persist()
    else:
        files = spark.read.parquet(args.input)
    out = Pipeline(spark, args.output).run(
        files, resume=args.resume, incremental_from=args.incremental_from
    )
    counts = {k: v.count() for k, v in out.items()}
    print(json.dumps(counts))
    spark.stop()


if __name__ == "__main__":
    main()

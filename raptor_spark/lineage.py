"""Per-partition lineage rows of a run's stages (FIXTURES.md §2 lineage schema).

Plays the role of the reference's Redis step state machine
(svc/document_orchestrator_service/redis_manager.py:54-66, update 81-95) and
MySQL commit_history upsert (asset_management/database.py:108-144): one row
per (stage, partition) records what went in (sha256 roll-up of the input
rows), what came out (row/triple counts), and how long it took, enabling
checkpoint-restart and cross-run equivalence checks.

``partition_id`` is the DETERMINISTIC repo bucket (pmod(xxhash64(repo), N)),
not the physical Spark partition id — so roll-ups are comparable across runs
with different parallelism (SURVEY.md §7.4 risk 3).
"""

from __future__ import annotations

import uuid
from collections.abc import Collection

import pandas as pd
from pyspark.sql import DataFrame, Row, SparkSession
from pyspark.sql import functions as F

from raptor_spark.functions import repo_bucket_col, sha256_col
from raptor_spark.schemas import LINEAGE_SCHEMA

STATUS_COMPLETE = "complete"


def new_run_id() -> str:
    """Run ids are operational metadata (like the reference's correlation_id,
    raptor/kafka/test_service/test.py:92) — never used in data columns."""
    return uuid.uuid4().hex[:16]


def input_rollup(files: DataFrame) -> DataFrame:
    """(partition_id, input_sha256_rollup, row_count) per repo bucket.

    Roll-up = sha256 of the concatenation of the SORTED per-row content
    hashes — order-insensitive, partitioning-insensitive.
    """
    return (
        files.select(
            repo_bucket_col("repo").alias("partition_id"),
            sha256_col("content").alias("sha"),
        )
        .groupBy("partition_id")
        .agg(
            F.sha2(F.concat_ws("", F.sort_array(F.collect_list("sha"))), 256).alias(
                "input_sha256_rollup"
            ),
            F.count("*").alias("row_count"),
        )
    )


def triple_rollup(triples: DataFrame) -> DataFrame:
    """(partition_id, triple_count) per repo bucket — the output-side half of
    a stage's lineage row. Every stage of one run that records the triple
    table shares these counts (extracted commits it; nodes/edges are built
    from it plus canonical columns, one row per triple), so collect this
    once and pass the counts to ``stage_lineage``."""
    return (
        triples.select(repo_bucket_col("repo").alias("partition_id"))
        .groupBy("partition_id")
        .agg(F.count("*").alias("triple_count"))
    )


def stage_lineage(
    spark: SparkSession,
    run_id: str,
    wall_ms_by_stage: dict[str, int],
    rollup: list[Row],
    triple_counts: dict[int, int],
    no_triples: Collection[str],
) -> DataFrame:
    """The lineage rows of every stage a run completed, one per (stage,
    partition), built on the driver from the run's collected
    ``input_rollup`` rows and ``triple_rollup`` counts (partition_id →
    count), each at most N_REPO_BUCKETS long, and handed to Spark as one
    pandas (Arrow) frame. Stages in ``no_triples`` do not record the triple
    table: their ``triple_count`` is 0."""
    pdf = pd.DataFrame(
        [
            (run_id, stage, r.partition_id, r.input_sha256_rollup, r.row_count,
             0 if stage in no_triples else triple_counts.get(r.partition_id, 0),
             ms, STATUS_COMPLETE)
            for stage, ms in wall_ms_by_stage.items()
            for r in rollup
        ],
        columns=LINEAGE_SCHEMA.fieldNames(),
    )
    return spark.createDataFrame(pdf, LINEAGE_SCHEMA)

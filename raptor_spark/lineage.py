"""Per-partition lineage rows + stage timings (FIXTURES.md §2 lineage schema).

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

import time
import uuid

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from raptor_spark.functions import repo_bucket_col, sha256_col

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
    from it plus canonical columns, one row per triple), so compute this
    once, persist it, and pass it to ``stage_lineage``."""
    return (
        triples.select(repo_bucket_col("repo").alias("partition_id"))
        .groupBy("partition_id")
        .agg(F.count("*").alias("triple_count"))
    )


def stage_lineage(
    run_id: str,
    stage: str,
    wall_ms: int,
    rollup: DataFrame,
    triple_counts: DataFrame | None = None,
) -> DataFrame:
    """Build the lineage rows for one completed stage from the run's
    persisted ``input_rollup`` (it re-hashes every input row, so one per run)
    and, for a stage that records the triple table, the run's persisted
    ``triple_rollup``; without it ``triple_count`` is 0."""
    if triple_counts is None:
        base = rollup.withColumn("triple_count", F.lit(0).cast("long"))
    else:
        base = rollup.join(triple_counts, on="partition_id", how="left").withColumn(
            "triple_count", F.coalesce(F.col("triple_count"), F.lit(0))
        )
    return base.select(
        F.lit(run_id).alias("run_id"),
        F.lit(stage).alias("stage"),
        F.col("partition_id"),
        F.col("input_sha256_rollup"),
        F.col("row_count").cast("long"),
        F.col("triple_count").cast("long"),
        F.lit(wall_ms).cast("long").alias("wall_ms"),
        F.lit(STATUS_COMPLETE).alias("status"),
    )


class StageTimer:
    def __init__(self) -> None:
        self.start = time.monotonic()

    def ms(self) -> int:
        return int((time.monotonic() - self.start) * 1000)

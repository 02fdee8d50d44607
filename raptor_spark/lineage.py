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
from collections.abc import Iterable

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
    wall_ms_by_stage: dict[str, int],
    rollup: DataFrame,
    triple_counts: DataFrame,
    no_triples: Iterable[str],
) -> DataFrame:
    """Build the lineage rows of every stage a run completed, one per
    (stage, partition), from the run's persisted ``input_rollup`` (it
    re-hashes every input row, so one per run) joined once to its persisted
    ``triple_rollup``. Stages in ``no_triples`` do not record the triple
    table: their ``triple_count`` is 0."""
    stages = F.array(
        *[
            F.struct(F.lit(s).alias("stage"), F.lit(ms).cast("long").alias("wall_ms"))
            for s, ms in wall_ms_by_stage.items()
        ]
    )
    triple_count = F.when(F.col("s.stage").isin(*no_triples), F.lit(0)).otherwise(
        F.coalesce(F.col("triple_count"), F.lit(0))
    )
    return (
        rollup.join(triple_counts, on="partition_id", how="left")
        .withColumn("s", F.explode(stages))
        .select(
            F.lit(run_id).alias("run_id"),
            F.col("s.stage").alias("stage"),
            F.col("partition_id"),
            F.col("input_sha256_rollup"),
            F.col("row_count").cast("long"),
            triple_count.cast("long").alias("triple_count"),
            F.col("s.wall_ms").alias("wall_ms"),
            F.lit(STATUS_COMPLETE).alias("status"),
        )
    )

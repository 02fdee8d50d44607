"""Explicit StructType schemas for every table in the pipeline.

The reference enforces shape only via ad-hoc ``validate_message`` field checks
(svc/document_orchestrator_service/kafka_handler.py:433-455) and Pydantic at
the REST boundary (asset_management/models.py:13-52). Fixed explicit schemas
are the Spark-idiomatic equivalent (SURVEY.md §1.3).
"""

from __future__ import annotations

from pyspark.sql.types import (
    ArrayType,
    DoubleType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

# Input: the source-code corpus (BASELINE.json input_hint shape).
FILES_SCHEMA = StructType(
    [
        StructField("repo", StringType(), False),
        StructField("path", StringType(), False),
        StructField("commit", StringType(), False),
        StructField("lang", StringType(), False),
        StructField("content", StringType(), True),
    ]
)

# Stage-1 output (FIXTURES.md §2). ``sha256`` is the per-row invariant carried
# from the source row that produced the triple (checksum lineage, analog of
# asset_management/database.py checksum column).
TRIPLES_SCHEMA = StructType(
    [
        StructField("subj", StringType(), False),
        StructField("pred", StringType(), False),
        StructField("obj", StringType(), False),
        StructField("repo", StringType(), False),
        StructField("path", StringType(), False),
        StructField("line", IntegerType(), False),
        StructField("score", DoubleType(), False),
        StructField("lang", StringType(), False),
        StructField("sha256", StringType(), False),
    ]
)

NODES_SCHEMA = StructType(
    [
        StructField("id", StringType(), False),
        StructField("kind", StringType(), False),
        StructField("canonical", StringType(), False),
        StructField("lang", StringType(), True),
        StructField("repo_bucket", IntegerType(), False),
        StructField("n_mentions", LongType(), False),
    ]
)

EDGES_SCHEMA = StructType(
    [
        StructField("src", StringType(), False),
        StructField("dst", StringType(), False),
        StructField("pred", StringType(), False),
        StructField("lang", StringType(), True),
        StructField("repo_bucket", IntegerType(), False),
        StructField("weight", LongType(), False),
    ]
)

# One row per partition per stage (≙ Redis step state + MySQL commit_history,
# svc/document_orchestrator_service/redis_manager.py:54-66 +
# asset_management/database.py:108-144).
LINEAGE_SCHEMA = StructType(
    [
        StructField("run_id", StringType(), False),
        StructField("stage", StringType(), False),
        StructField("partition_id", IntegerType(), False),
        StructField("input_sha256_rollup", StringType(), False),
        StructField("row_count", LongType(), False),
        StructField("triple_count", LongType(), False),
        StructField("wall_ms", LongType(), False),
        StructField("status", StringType(), False),
    ]
)

N_REPO_BUCKETS = 64  # partition spec: (lang, bucket(64, repo)) — ≙ Qdrant
#                      payload keyword indexes (api_document_search_with_cache.py:95-120)

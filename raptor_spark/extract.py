"""Stage 1: triple extraction via Arrow-batched ``mapInPandas``.

Spark-first analog of the reference's per-filetype processor dispatch
(svc/document_analysis_service/document_analysis.py:51-78) + chunk enrichment
(:171-184): content is parsed ONLY here, inside a vectorized pandas UDF, which
takes each file's ``sha256`` from the JVM (``functions.sha256_col``, the build's
one content hash); all downstream stages are pure DataFrame ops.

Error semantics follow the reference's skip-and-log convention
(``{"error": ...}`` return, processors/csv_xlsx_processor.py:189-203): a file
whose extraction raises yields a single quarantine triple with
``pred='extract-error'`` instead of failing the task — poison rows never kill
the job (≙ dead-letter queue, kafka_handler.py:495-503).
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame

from raptor_spark.functions import sha256_col
from raptor_spark.schemas import TRIPLES_SCHEMA
from raptor_spark.tokenize import extract_file

PRED_ERROR = "extract-error"


def _extract_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    for pdf in batches:
        out: list[tuple] = []
        for repo, path, lang, content, sha in zip(
            pdf["repo"], pdf["path"], pdf["lang"], pdf["content"], pdf["sha256"]
        ):
            try:
                for subj, pred, obj, r, p, line, score in extract_file(
                    repo, path, lang, content
                ):
                    out.append((subj, pred, obj, r, p, line, score, lang, sha))
            except Exception as e:  # quarantine, never fail the task
                out.append(
                    (f"{repo}:{path}", PRED_ERROR, str(e)[:200], repo, path, 0, 0.0, lang, sha)
                )
        yield pd.DataFrame(out, columns=TRIPLES_SCHEMA.fieldNames())


def extract_triples(files: DataFrame) -> DataFrame:
    """files(repo, path, commit, lang, content) → triples (TRIPLES_SCHEMA).

    The plan is a single narrow map stage — no shuffle — so it scales linearly
    with input splits; Arrow batch size is capped session-wide
    (``spark.sql.execution.arrow.maxRecordsPerBatch``) to bound memory on
    multi-MB content rows.
    """
    return files.select(
        "repo", "path", "lang", "content", sha256_col("content").alias("sha256")
    ).mapInPandas(_extract_batches, schema=TRIPLES_SCHEMA)

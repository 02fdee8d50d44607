"""SparkSession construction with scale-appropriate defaults.

Single place where execution knobs live so bench runs at ``local[8]`` vs
``local[32]`` differ only in core count (the two-cluster-size scaling gate).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

from raptor_spark.schemas import N_REPO_BUCKETS


def build_session(
    app_name: str = "raptor_spark",
    master: str | None = None,
    extra: dict[str, str] | None = None,
) -> SparkSession:
    """AQE on (coalesce + skew-join), Arrow on for pandas UDFs, sane batch
    sizes for multi-MB ``content`` rows (SURVEY.md §7.4 risk 5)."""
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    master = master or f"local[{cpus}]"
    n = int(master[master.index("[") + 1 : -1]) if "[" in master and "*" not in master else (os.cpu_count() or 8)
    b = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(max(8, 2 * n)))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "2048")
        .config("spark.sql.files.maxPartitionBytes", "128m")
        # local mode: every task is process-local; waiting for locality only
        # delays task launch (measured: ~40% wall on short-task stages)
        .config("spark.locality.wait", "0")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
        # Spark lists a directory level with more subdirs than this in a
        # parallel Spark job (default 32). A (lang, bucket(N_REPO_BUCKETS))
        # table has up to N_REPO_BUCKETS dirs under each lang dir, so at the
        # default the first read of a committed nodes/edges snapshot ran one
        # listing job per populated lang: measured at local[4] on a 164-file
        # snapshot over 3 lang dirs, a first read took 1.0–1.2 s in 3 jobs,
        # against 62–86 ms listed on the driver (warm JVM). Twice the
        # bucket count also leaves the lang level (one dir per language) on
        # the driver.
        .config(
            "spark.sql.sources.parallelPartitionDiscovery.threshold",
            str(2 * N_REPO_BUCKETS),
        )
        .config("spark.ui.enabled", "false")
        .config("spark.sql.session.timeZone", "UTC")
    )
    for k, v in (extra or {}).items():
        b = b.config(k, v)
    return b.getOrCreate()

from __future__ import annotations

import os
import uuid

import pytest

from raptor_spark.schemas import FILES_SCHEMA
from raptor_spark.session import build_session
from raptor_spark.synth import generate_corpus


@pytest.fixture(scope="session")
def spark():
    s = build_session("raptor_spark.tests", master="local[8]")
    s.sparkContext.setLogLevel("ERROR")
    yield s
    s.stop()


@pytest.fixture(scope="session")
def spark_jobs(spark):
    """``spark_jobs(fn)`` → the number of Spark jobs ``fn()`` starts on this
    thread, read from the status tracker by a job group of its own."""
    sc = spark.sparkContext

    def count(fn) -> int:
        group = f"test-jobs-{uuid.uuid4().hex}"
        sc.setJobGroup(group, group)
        try:
            fn()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        sc._jsc.sc().listenerBus().waitUntilEmpty(60_000)
        return len(sc.statusTracker().getJobIdsForGroup(group))

    return count


@pytest.fixture
def renames(monkeypatch):
    """``renames(prefix, fail_at=None)`` → the list that collects every
    ``os.replace`` destination under ``prefix`` from then on; with
    ``fail_at``, the fail_at-th of them raises ``OSError`` instead, as a
    crash at that rename would. ``monkeypatch.undo()`` ends the patch."""
    replace = os.replace

    def patch(prefix: str, fail_at: int | None = None) -> list[str]:
        seen: list[str] = []

        def counted(src, dst, *args, **kwargs):
            if os.path.abspath(dst).startswith(os.path.abspath(prefix) + os.sep):
                seen.append(dst)
                if len(seen) == fail_at:
                    raise OSError(f"simulated crash at rename {fail_at}")
            return replace(src, dst, *args, **kwargs)

        monkeypatch.setattr(os, "replace", counted)
        return seen

    return patch


@pytest.fixture(scope="session")
def corpus_rows():
    return generate_corpus(300)


@pytest.fixture(scope="session")
def files_df(spark, corpus_rows):
    return spark.createDataFrame(corpus_rows, schema=FILES_SCHEMA).repartition(16).persist()


@pytest.fixture(scope="session")
def triples_df(files_df):
    from raptor_spark.extract import extract_triples

    return extract_triples(files_df).persist()


SF_DIR = "/root/testdata/sf0.001"

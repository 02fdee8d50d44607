from __future__ import annotations

import pandas as pd
import pytest
from pyspark.sql import functions as F

from perfbench import checks, gen
from raptor_spark.extract import extract_triples
from raptor_spark.schemas import EDGES_SCHEMA, FILES_SCHEMA, NODES_SCHEMA


@pytest.fixture(scope="module")
def corpus(spark):
    rows = gen.corpus_rows(4, 30, pad_bytes=(1_000, 2_000))
    files = spark.createDataFrame(pd.DataFrame(rows), schema=FILES_SCHEMA).persist()
    return rows, files, extract_triples(files).persist()


def test_triples_check_passes_the_program(corpus):
    rows, files, triples = corpus
    assert checks.check_triples(triples, files, checks.oracle_keys(rows)) == []


def test_triples_check_flags_a_missing_triple(corpus):
    rows, files, triples = corpus
    victim = triples.filter(F.col("pred") == "file-defines-symbol").first()
    dropped = triples.filter(
        ~((F.col("subj") == victim.subj) & (F.col("obj") == victim.obj))
    )
    assert checks.check_triples(dropped, files, checks.oracle_keys(rows))


def test_triples_check_flags_a_wrong_sha(corpus):
    rows, files, triples = corpus
    victim = triples.first()
    bad = triples.withColumn(
        "sha256",
        F.when(
            (F.col("subj") == victim.subj) & (F.col("obj") == victim.obj),
            F.lit("0" * 64),
        ).otherwise(F.col("sha256")),
    )
    problems = checks.check_triples(bad, files, checks.oracle_keys(rows))
    assert problems and "sha256" in problems[0]


@pytest.fixture(scope="module")
def answers(spark):
    nodes = spark.createDataFrame(
        [
            ("a", "file", "r:a.py", "python", 1, 2),
            ("b", "symbol", "fetch data", "python", 2, 5),
            ("c", "module", "os", "python", 3, 1),
        ],
        schema=NODES_SCHEMA,
    )
    edges = spark.createDataFrame(
        [
            ("a", "b", "file-defines-symbol", "python", 1, 1),
            ("a", "c", "file-imports-module", "python", 1, 2),
        ],
        schema=EDGES_SCHEMA,
    )
    return checks.GraphAnswers(nodes, edges)


def test_lookup_answers(answers):
    assert answers.sources() == ["a"]
    assert answers.expected("node", "b", "symbol", "fetch data") == [
        ("b", "symbol", "fetch data", "python", 2, 5)
    ]
    assert answers.expected("node", "x", "symbol", "nothing") == []
    assert len(answers.expected("out_edges", "a", "file", "r:a.py")) == 2
    assert sorted(answers.expected("neighbors", "a", "file", "r:a.py")) == [
        ("file-defines-symbol", "b", "symbol", "fetch data"),
        ("file-imports-module", "c", "module", "os"),
    ]


def test_lookup_check_flags_wrong_rows(answers):
    expected = answers.expected("neighbors", "a", "file", "r:a.py")
    assert checks.check_rows(list(reversed(expected)), expected) == []
    assert checks.check_rows(expected[:1], expected)
    corrupted = [expected[0], ("file-imports-module", "c", "module", "sys")]
    assert checks.check_rows(corrupted, expected)

"""Gates (a) and (b) from FIXTURES.md §4: sha256 invariant + triple P/R."""

from __future__ import annotations

import pyspark.sql.functions as F

from raptor_spark.catalog import Catalog
from raptor_spark.extract import PRED_ERROR, extract_triples
from raptor_spark.functions import sha256_col
from raptor_spark.oracle import oracle_triples, precision_recall, triple_keys
from raptor_spark.pipeline import Pipeline
from raptor_spark.tokenize import ALL_PREDS, sha256_hex


def test_sha256_invariant_jvm_matches_python(files_df, corpus_rows):
    got = {
        (r.repo, r.path, r.commit, r.sha)
        for r in files_df.select(
            "repo", "path", "commit", sha256_col("content").alias("sha")
        ).collect()
    }
    want = {
        (row["repo"], row["path"], row["commit"], sha256_hex(row["content"] or ""))
        for row in corpus_rows
    }
    assert got == want


def test_triple_precision_recall_geq_95(triples_df, corpus_rows):
    got = {(r.subj, r.pred, r.obj) for r in triples_df.collect()}
    golden = triple_keys(oracle_triples(corpus_rows))
    p, r = precision_recall(got, golden)
    assert p >= 0.95 and r >= 0.95, (p, r)


def test_triples_carry_source_sha(triples_df, files_df):
    # every triple's sha256 is the hash of SOME source row at its (repo, path)
    # (a path can exist at several commits with different content)
    src = files_df.select("repo", "path", sha256_col("content").alias("sha256"))
    dangling = triples_df.select("repo", "path", "sha256").join(
        src, ["repo", "path", "sha256"], "left_anti"
    )
    assert dangling.count() == 0


def test_all_predicates_emitted(triples_df):
    preds = {r.pred for r in triples_df.select("pred").distinct().collect()}
    for p in ALL_PREDS:
        assert p in preds, f"missing predicate {p}"
    assert PRED_ERROR not in preds  # no poison rows in the clean corpus


def test_edge_case_files_survive(spark, triples_df):
    # empty + whitespace-only files still produce their repo-contains-path row
    for path in ("edge/empty.py", "edge/blank.py", "edge/huge.py", "edge/weird.py"):
        assert triples_df.filter(F.col("path") == path).count() >= 1, path


def test_incremental_change_detection(spark, files_df, triples_df, tmp_path):
    # processing the same corpus twice → second pass extracts zero files
    prev = str(tmp_path / "prev")
    Catalog(spark, prev).write("extracted", triples_df)
    p = Pipeline(spark, str(tmp_path / "inc"))
    p.incremental_triples(files_df, prev)
    assert p.incremental_stats["files_extracted"] == 0
    # dropping one sha's triples makes exactly the files with that content
    # reappear
    one = files_df.limit(1).select(sha256_col("content").alias("sha256"))
    fewer = str(tmp_path / "fewer")
    Catalog(spark, fewer).write(
        "extracted", triples_df.join(one, "sha256", "left_anti")
    )
    p.incremental_triples(files_df, fewer)
    assert p.incremental_stats["files_extracted"] >= 1


def test_extraction_plan_is_shuffle_free(spark, files_df, tmp_path):
    # over a plain file scan, extraction is a single narrow map stage —
    # no Exchange anywhere in the plan (scales linearly with input splits);
    # the UDF's sha256 comes from a JVM projection
    path = str(tmp_path / "files.parquet")
    files_df.write.mode("overwrite").parquet(path)
    qe = extract_triples(spark.read.parquet(path))._jdf.queryExecution()
    plan = qe.executedPlan().toString()
    assert "Exchange" not in plan, plan
    assert "sha2(" in qe.optimizedPlan().toString()

"""Gate (d) from FIXTURES.md §4: checkpoint-restart equivalence, lineage."""

from __future__ import annotations

import glob
import json
import os
import uuid

import pyspark.sql.functions as F
import pytest
from pyspark.sql.types import StructType

from raptor_spark.pipeline import STAGES, Pipeline
from raptor_spark.schemas import FILES_SCHEMA, LINEAGE_SCHEMA


@pytest.fixture(scope="module")
def run_dir(tmp_path_factory):
    return str(tmp_path_factory.mktemp("kg_out"))


@pytest.fixture(scope="module")
def first_run(spark, files_df, run_dir, spark_jobs):
    p = Pipeline(spark, run_dir)
    files_df.count()  # fill the input's cache outside the counted build
    out = {}
    jobs = spark_jobs(lambda: out.update(p.run(files_df)))
    return {
        "run_id": p.run_id,
        "jobs": jobs,
        "tables": {t for t in os.listdir(run_dir) if p.catalog.exists(t)},
        "extracted": out["extracted"].count(),
        "components": out["components"].toPandas(),
        "lineage_schema": StructType.fromJson(json.loads(p.catalog.manifest("lineage")["schema"])),
        "nodes": sorted(map(tuple, out["nodes"].collect())),
        "edges": sorted(map(tuple, out["edges"].collect())),
    }


@pytest.mark.parametrize("kill_after", STAGES[:-1])
def test_resume_after_stage_kill_is_equivalent(
    spark, files_df, run_dir, first_run, kill_after
):
    p = Pipeline(spark, run_dir)
    idx = STAGES.index(kill_after)
    for stage in STAGES[idx + 1 :]:
        p.catalog.drop(stage)
    out = p.run(files_df, resume=True)
    assert sorted(map(tuple, out["nodes"].collect())) == first_run["nodes"]
    assert sorted(map(tuple, out["edges"].collect())) == first_run["edges"]


def test_first_run_job_count(first_run):
    """A from-scratch build of the 300-file corpus runs at most the 27 Spark
    jobs measured, so a build that adds a job fails here, not only in a
    ``BENCH/build_jobs.py`` probe."""
    assert first_run["jobs"] <= 27


def test_components_is_the_canonical_mapping(corpus_rows, first_run):
    """The committed linking checkpoint is the name → canonical mapping over
    every featurized name, as close to the exhaustive oracle's as the
    linking gate asks (tests/test_linking.py::test_matches_exhaustive_oracle)."""
    from raptor_spark.oracle import oracle_components, oracle_triples

    comps = first_run["components"]
    assert list(comps.columns) == ["name", "component", "canonical"]
    golden = oracle_components(oracle_triples(corpus_rows))
    assert sorted(comps["name"]) == sorted(golden)
    got = dict(zip(comps["name"], comps["canonical"]))
    agree = sum(1 for k in golden if got[k] == golden[k])
    assert agree / len(golden) >= 0.98, f"agreement {agree / len(golden):.3f}"


def test_resume_past_components_computes_no_name_features(
    spark, files_df, run_dir, first_run, monkeypatch
):
    """A resume that reuses the committed ``components`` links the triples
    from it alone: the name features it is handed raise on any computed row."""
    import raptor_spark.pipeline as pl

    features = pl.name_features

    def unreadable(triples):
        # a filter, not a column: column pruning would drop an unread column
        return features(triples).filter(
            F.raise_error(F.concat(F.lit("name features computed: "), F.col("name"))).isNull()
        )

    monkeypatch.setattr(pl, "name_features", unreadable)
    p = Pipeline(spark, run_dir)
    for stage in ("nodes", "edges"):
        p.catalog.drop(stage)
    out = p.run(files_df, resume=True)
    assert sorted(map(tuple, out["nodes"].collect())) == first_run["nodes"]
    assert sorted(map(tuple, out["edges"].collect())) == first_run["edges"]


def test_lineage_rows_written(spark, files_df, run_dir, first_run):
    # a from-scratch run commits one table per stage, plus lineage; the
    # linked triples are never committed
    assert first_run["tables"] == {"extracted", "components", "nodes", "edges", "lineage"}
    lineage = Pipeline(spark, run_dir).catalog.read("lineage")
    assert [(f.name, f.dataType) for f in lineage.schema] == [
        (f.name, f.dataType) for f in LINEAGE_SCHEMA
    ]
    # a parquet read makes every column nullable: the schema the first run
    # committed its rows with is LINEAGE_SCHEMA, nullability included
    want = [(f.name, f.dataType, f.nullable) for f in LINEAGE_SCHEMA]
    assert [(f.name, f.dataType, f.nullable) for f in first_run["lineage_schema"]] == want
    first = lineage.filter(F.col("run_id") == first_run["run_id"])
    triple_counts = {
        r.stage: r.n
        for r in first.groupBy("stage").agg(F.sum("triple_count").alias("n")).collect()
    }
    assert set(triple_counts) == set(STAGES)
    # extracted records the triples it emits; nodes/edges the triples they
    # are built from (linking keeps every row); components records none
    n = first_run["extracted"]
    assert triple_counts == {"extracted": n, "components": 0, "nodes": n, "edges": n}
    assert lineage.filter(F.col("status") != "complete").count() == 0
    # roll-ups are identical for every run over the same corpus
    per_stage = (
        lineage.groupBy("stage", "partition_id")
        .agg(F.countDistinct("input_sha256_rollup").alias("n"))
        .filter(F.col("n") > 1)
    )
    assert per_stage.count() == 0
    # a later run commits its rows with the earlier runs' rows, read back
    # from parquet, under the same schema
    later = Pipeline(spark, run_dir)
    before = later.catalog.manifest("lineage")["snapshot_id"]
    later.catalog.drop("edges")
    later.run(files_df, resume=True)["extracted"].unpersist()
    m = later.catalog.manifest("lineage")
    assert m["snapshot_id"] == before + 1
    schema = StructType.fromJson(json.loads(m["schema"]))
    assert [(f.name, f.dataType, f.nullable) for f in schema] == want


def test_incremental_run_equals_full_run(
    spark, corpus_rows, files_df, run_dir, first_run, tmp_path_factory
):
    """v2 corpus = v1 minus 20 files, 10 modified, 20 new. An incremental
    run against v1's output must (a) extract ONLY the 30 changed/new files,
    (b) produce byte-identical extracted/nodes/edges to a from-scratch run
    on v2 — the checksum short-circuit as a correctness-preserving
    optimization."""
    v2 = [dict(r) for r in corpus_rows[:-20]]
    for r in v2[:10]:
        r["content"] = (r["content"] or "") + "\n# touched in v2\n"
    for i in range(20):
        v2.append(
            {
                "repo": "orgv2/newrepo",
                "path": f"src/new_mod_{i}.py",
                "commit": "f" * 8,
                "lang": "python",
                "content": f"import os\n\ndef brand_new_fn_{i}(x):\n    return os.path.join(x, '{i}')\n",
            }
        )
    v2_df = spark.createDataFrame(v2, schema=FILES_SCHEMA).repartition(8).persist()

    full_dir = str(tmp_path_factory.mktemp("kg_v2_full"))
    inc_dir = str(tmp_path_factory.mktemp("kg_v2_inc"))
    full = Pipeline(spark, full_dir).run(v2_df)
    p_inc = Pipeline(spark, inc_dir)
    inc = p_inc.run(v2_df, incremental_from=run_dir)

    assert p_inc.incremental_stats["files_extracted"] == 30
    assert p_inc.incremental_stats["files_total"] == len(v2)
    for table in ("extracted", "nodes", "edges"):
        a, b = full[table], inc[table]
        assert a.count() == b.count(), table
        assert a.exceptAll(b).count() == 0, table
        assert b.exceptAll(a).count() == 0, table
    v2_df.unpersist()


def test_incremental_lang_change_reextracts(spark, tmp_path_factory):
    """The checksum short-circuit (client.py:157-206) re-extracts exactly the
    changed files, and its triples equal a from-scratch extraction: the same
    corpus again extracts nothing, an added file is extracted alone, and —
    since lang is part of the reuse key — so is a file whose lang metadata
    changes with content and path unchanged (else the incremental run keeps
    stale-lang triples and diverges from a from-scratch run)."""
    from raptor_spark.catalog import Catalog
    from raptor_spark.extract import extract_triples

    v1 = [
        {"repo": "o/r", "path": "a.py", "commit": "c" * 8, "lang": "python",
         "content": "import os\n\ndef f(arg):\n    return arg\n"},
        {"repo": "o/r", "path": "b.py", "commit": "c" * 8, "lang": "python",
         "content": "def g(arg):\n    return arg\n"},
    ]
    f1 = spark.createDataFrame(v1, schema=FILES_SCHEMA)
    prev = str(tmp_path_factory.mktemp("prev"))
    Catalog(spark, prev).write("extracted", extract_triples(f1))

    added = v1 + [
        {"repo": "orgX/new", "path": "src/n.py", "commit": "c" * 8, "lang": "python",
         "content": "def brand_new(arg):\n    return arg\n"},
    ]
    lang_changed = [dict(r) for r in v1]
    lang_changed[0]["lang"] = "js"  # metadata-only change
    for rows, n_extracted in ((v1, 0), (added, 1), (lang_changed, 1)):
        f2 = spark.createDataFrame(rows, schema=FILES_SCHEMA)
        p = Pipeline(spark, str(tmp_path_factory.mktemp("inc")))
        inc = p.incremental_triples(f2, prev)
        full = extract_triples(f2)
        assert p.incremental_stats["files_extracted"] == n_extracted
        assert inc.exceptAll(full).count() == 0
        assert full.exceptAll(inc).count() == 0


def test_nodes_edges_shapes(spark, run_dir, first_run):
    cat = Pipeline(spark, run_dir).catalog
    nodes, edges = cat.read("nodes"), cat.read("edges")
    assert {r.kind for r in nodes.select("kind").distinct().collect()} == {
        "repo", "file", "module", "symbol", "concept",
    }
    # referential integrity: every edge endpoint is a node
    ids = nodes.select(F.col("id"))
    dangling = (
        edges.select(F.col("src").alias("id"))
        .union(edges.select(F.col("dst").alias("id")))
        .join(ids, "id", "left_anti")
    )
    assert dangling.count() == 0
    # partition columns present for pruning
    assert {"lang", "repo_bucket"} <= set(nodes.columns)


def test_run_leaves_only_extracted_cached(spark, corpus_rows, tmp_path_factory):
    """A run unpersists every intermediate it cached; the only plan it
    leaves in the session's cache is the returned ``extracted`` frame. An
    input the caller persisted is the caller's, and stays cached."""
    cache = spark._jsparkSession.sharedState().cacheManager()
    for persisted in (False, True):
        files = spark.createDataFrame(corpus_rows[:60], schema=FILES_SCHEMA)
        if persisted:
            files = files.persist()
        before = cache.cachedData().size()
        out = Pipeline(spark, str(tmp_path_factory.mktemp("kg_cache"))).run(files)
        assert cache.cachedData().size() == before + 1
        assert out["extracted"].is_cached
        assert cache.lookupCachedData(files._jdf).isDefined() == persisted
        out["extracted"].unpersist()
        files.unpersist()


def test_graph_writes_use_every_core_one_file_per_dir(
    spark, corpus_rows, tmp_path_factory, monkeypatch
):
    """The last stage of the edges write runs one task per core, not one
    task for the whole table, and every (lang, repo_bucket) directory of
    the committed nodes and edges holds exactly one parquet file."""
    sc = spark.sparkContext
    out_dir = str(tmp_path_factory.mktemp("kg_layout"))
    p = Pipeline(spark, out_dir)
    write, group = p.catalog.write, f"edges-write-{uuid.uuid4().hex}"

    def grouped_write(table, df, **kwargs):
        if table != "edges":
            return write(table, df, **kwargs)
        sc.setJobGroup(group, group)
        try:
            return write(table, df, **kwargs)
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)

    monkeypatch.setattr(p.catalog, "write", grouped_write)
    p.run(spark.createDataFrame(corpus_rows[:60], schema=FILES_SCHEMA))
    sc._jsc.sc().listenerBus().waitUntilEmpty(60_000)
    tracker = sc.statusTracker()
    write_job = tracker.getJobInfo(max(tracker.getJobIdsForGroup(group)))
    last_stage = tracker.getStageInfo(max(write_job.stageIds))
    assert last_stage.numTasks == sc.defaultParallelism > 1

    for table in ("nodes", "edges"):
        data = os.path.join(out_dir, table, p.catalog.manifest(table)["data_dir"])
        dirs = glob.glob(os.path.join(data, "lang=*", "repo_bucket=*"))
        assert len(dirs) > 1, table
        for d in dirs:
            assert len(glob.glob(os.path.join(d, "*.parquet"))) == 1, d


def test_each_run_commits_lineage_as_a_new_snapshot(spark, corpus_rows, tmp_path_factory):
    """A run commits its lineage rows with the earlier runs' rows as one new
    snapshot, and the previous snapshot still reads only the earlier rows.
    The triple table is unpartitioned; the graph tables list their files."""
    files = spark.createDataFrame(corpus_rows[:60], schema=FILES_SCHEMA)
    out_dir = str(tmp_path_factory.mktemp("kg_lineage"))
    first = Pipeline(spark, out_dir)
    first.run(files)["extracted"].unpersist()
    cat = first.catalog
    assert cat.manifest("extracted")["partition_by"] == []
    for table in ("nodes", "edges"):
        m = cat.manifest(table)
        assert m["partition_by"] == ["lang", "repo_bucket"] and m["files"], table
    before = cat.manifest("lineage")["snapshot_id"]

    cat.drop("edges")
    second = Pipeline(spark, out_dir)
    second.run(files, resume=True)["extracted"].unpersist()  # rebuilds edges only

    def runs(df):
        return {tuple(r) for r in df.select("run_id", "stage").distinct().collect()}

    assert cat.manifest("lineage")["snapshot_id"] == before + 1
    old = runs(cat.read("lineage", snapshot=before))
    assert old == {(first.run_id, s) for s in STAGES}
    assert runs(cat.read("lineage")) == old | {(second.run_id, "edges")}


@pytest.mark.parametrize(
    "failing, completed",
    [
        ("link_edges", {"extracted"}),
        # the edges stage fails after nodes committed
        ("build_edges", {"extracted", "components", "nodes"}),
    ],
    ids=["link_edges", "build_edges"],
)
def test_failed_stage_preserves_completed_lineage(
    spark, files_df, tmp_path_factory, monkeypatch, failing, completed
):
    """A stage failure re-raises, and the lineage rows of the stages that
    committed before it are still appended."""
    import raptor_spark.pipeline as pl

    out_dir = str(tmp_path_factory.mktemp("kg_fail"))

    def boom(*args, **kwargs):
        raise RuntimeError(f"injected {failing} failure")

    monkeypatch.setattr(pl, failing, boom)
    p = Pipeline(spark, out_dir)
    with pytest.raises(RuntimeError, match=f"injected {failing} failure"):
        p.run(files_df)
    lineage = p.catalog.read("lineage")
    stages = {r.stage for r in lineage.select("stage").distinct().collect()}
    assert stages == completed


def test_crash_at_the_nodes_commit_lists_no_new_snapshot(
    spark, corpus_rows, tmp_path_factory, monkeypatch, renames
):
    """A second run into the same output dir that crashes at the last rename
    of its nodes commit leaves only the first run's nodes snapshot listed,
    and a resumed run then gives the first run's nodes and edges."""
    files = spark.createDataFrame(corpus_rows[:60], schema=FILES_SCHEMA)
    out_dir = str(tmp_path_factory.mktemp("kg_crash"))
    nodes_dir = os.path.join(out_dir, "nodes")

    def rows(out):
        out["extracted"].unpersist()
        return {t: sorted(map(tuple, out[t].collect())) for t in ("nodes", "edges")}

    made = renames(nodes_dir)
    first = rows(Pipeline(spark, out_dir).run(files))
    monkeypatch.undo()
    assert made

    renames(nodes_dir, fail_at=len(made))
    with pytest.raises(OSError, match="simulated crash"):
        Pipeline(spark, out_dir).run(files)
    monkeypatch.undo()
    nodes = Pipeline(spark, out_dir).catalog.snapshots("nodes")
    assert [m["snapshot_id"] for m in nodes] == [0]
    assert rows(Pipeline(spark, out_dir).run(files, resume=True)) == first

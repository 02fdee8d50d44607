"""Catalog versioning gates: keyed merge (idempotent upsert), snapshot
history / time travel, bounded retention — the lakeFS version_id + Qdrant
keyed-upsert semantics the reference relies on (object_store.py:208-269,
api_insert.py:88-171)."""

from __future__ import annotations

import gc
import json
import os
import types

import pyspark.sql.functions as F
import pytest
from pyspark.sql.types import StructType

import raptor_spark.catalog as catalog_mod
from raptor_spark.catalog import Catalog


def _rows(df):
    return sorted(map(tuple, df.collect()))


def test_merge_is_keyed_upsert_and_idempotent(spark, tmp_path):
    cat = Catalog(spark, str(tmp_path))
    base = spark.createDataFrame(
        [(1, "a"), (2, "b"), (3, "c")], ["id", "v"]
    )
    cat.write("t", base)

    batch = spark.createDataFrame([(2, "B"), (4, "d")], ["id", "v"])
    cat.merge("t", batch, key=["id"])
    want = [(1, "a"), (2, "B"), (3, "c"), (4, "d")]
    assert _rows(cat.read("t")) == want

    # double-run: same logical table (the reference's idempotent upsert)
    cat.merge("t", batch, key=["id"])
    assert _rows(cat.read("t")) == want


def test_merge_on_missing_table_creates_it(spark, tmp_path):
    cat = Catalog(spark, str(tmp_path))
    df = spark.createDataFrame([(1, "x")], ["id", "v"])
    cat.merge("fresh", df, key=["id"])
    assert _rows(cat.read("fresh")) == [(1, "x")]


def test_snapshot_time_travel(spark, tmp_path):
    cat = Catalog(spark, str(tmp_path))
    v1 = spark.range(5).withColumn("tag", F.lit("v1"))
    v2 = spark.range(7).withColumn("tag", F.lit("v2"))
    m1 = cat.write("t", v1)
    m2 = cat.write("t", v2)
    assert (m1["snapshot_id"], m2["snapshot_id"]) == (0, 1)
    assert m2["parent_snapshot_id"] == 0
    # current = v2; pinned read of snapshot 0 still sees v1 after the commit
    assert cat.read("t").count() == 7
    assert cat.read("t", snapshot=0).count() == 5
    assert [m["snapshot_id"] for m in cat.snapshots("t")] == [0, 1]


def test_retention_prunes_old_snapshots(spark, tmp_path):
    cat = Catalog(spark, str(tmp_path))
    for i in range(5):  # three are kept
        cat.write("t", spark.range(i + 1))
    ids = [m["snapshot_id"] for m in cat.snapshots("t")]
    assert ids == [2, 3, 4]
    assert cat.read("t").count() == 5
    assert cat.read("t", snapshot=2).count() == 3


def test_append_then_write_preserves_history(spark, tmp_path):
    cat = Catalog(spark, str(tmp_path))
    cat.append("log", spark.range(3))
    cat.append("log", spark.range(2))
    # each append commits a snapshot of all the rows so far
    assert [m["snapshot_id"] for m in cat.snapshots("log")] == [0, 1]
    assert cat.read("log").count() == 5
    cat.write("log", spark.range(1))
    assert cat.read("log").count() == 1
    assert cat.read("log", snapshot=1).count() == 5
    assert cat.read("log", snapshot=0).count() == 3


def test_crashed_append_leaves_previous_rows(spark, tmp_path, monkeypatch):
    """An append that fails before its manifest swap, or in its data write,
    leaves a fresh reader seeing only the rows committed before it."""
    cat = Catalog(spark, str(tmp_path))
    cat.append("log", spark.range(3))

    def crash(self, table, manifest):
        raise OSError("simulated crash before the manifest swap")

    monkeypatch.setattr(Catalog, "_commit_manifest", crash)
    with pytest.raises(OSError):
        cat.append("log", spark.range(4))
    monkeypatch.undo()
    assert Catalog(spark, str(tmp_path)).read("log").count() == 3

    failing = spark.range(4).withColumn(
        "id", F.when(F.col("id") == 2, F.raise_error(F.lit("boom"))).otherwise(F.col("id"))
    )
    with pytest.raises(Exception, match="boom"):
        cat.append("log", failing)
    assert Catalog(spark, str(tmp_path)).read("log").count() == 3
    assert cat.read("log").count() == 3


def test_crash_at_any_commit_rename_leaves_previous_snapshot(spark, tmp_path, monkeypatch, renames):
    """A write that crashes at any of the renames a clean write makes lists
    no new snapshot and leaves the previous one current; a retried write
    then commits."""
    clean = str(tmp_path / "clean")
    Catalog(spark, clean).write("t", spark.range(3))
    made = renames(clean)
    Catalog(spark, clean).write("t", spark.range(9))
    monkeypatch.undo()
    assert made
    for k in range(1, len(made) + 1):
        root = str(tmp_path / f"crash-at-{k}")
        cat = Catalog(spark, root)
        cat.write("t", spark.range(3))
        renames(root, fail_at=k)
        with pytest.raises(OSError, match="simulated crash"):
            cat.write("t", spark.range(9))
        monkeypatch.undo()
        fresh = Catalog(spark, root)
        assert [m["snapshot_id"] for m in fresh.snapshots("t")] == [0], k
        assert fresh.read("t").count() == 3
        cat.write("t", spark.range(9))
        fresh = Catalog(spark, root)
        assert [m["snapshot_id"] for m in fresh.snapshots("t")] == [0, 1]
        assert fresh.read("t").count() == 9


def test_pinned_read_of_unchanged_snapshot_runs_one_job(spark, tmp_path, spark_jobs):
    # 40 partition dirs. Resolving the table afresh would list them again
    # (on the driver, see test_first_read_of_bucketed_snapshot_runs_no_job)
    # and, without the manifest's schema, infer the schema in a job of its
    # own; the pinned frame does neither, so only the lookup's job runs
    cat = Catalog(spark, str(tmp_path))
    df = spark.range(400).withColumn("k", (F.col("id") % 40).cast("int"))
    cat.write("t", df, partition_by=["k"])

    def lookup():
        return cat.read("t").filter(F.col("id") == 7).collect()

    assert [tuple(r) for r in lookup()] == [(7, 7)]
    assert spark_jobs(lookup) == 1
    assert cat.read("t") is cat.read("t")


def test_first_read_of_bucketed_snapshot_runs_no_job(spark, tmp_path, spark_jobs):
    # the (lang, repo_bucket) fan-out of nodes/edges: 3 langs × 64 bucket
    # dirs. At Spark's default listing threshold (32 dirs) each lang dir is
    # listed by a Spark job; the session lists them on the driver
    cat = Catalog(spark, str(tmp_path))
    df = spark.range(3 * 64).select(
        F.concat(F.lit("lang"), (F.col("id") % 3).cast("string")).alias("lang"),
        (F.col("id") % 64).cast("int").alias("repo_bucket"),
        F.col("id"),
    )
    m = cat.write("t", df, partition_by=["lang", "repo_bucket"])
    assert spark_jobs(lambda: cat.read("t", snapshot=m["snapshot_id"])) == 0
    assert cat.read("t", snapshot=m["snapshot_id"]).count() == 3 * 64


def test_read_uses_committed_schema(spark, tmp_path):
    # partition values that look numeric stay the strings that were written
    # (inference would read "007" back as the integer 7)
    cat = Catalog(spark, str(tmp_path))
    df = spark.createDataFrame([(1, "007"), (2, "010")], ["id", "code"])
    cat.write("t", df, partition_by=["code"])
    got = cat.read("t")
    assert dict(got.dtypes)["code"] == "string"
    assert _rows(got.select("id", "code")) == [(1, "007"), (2, "010")]


def test_other_instance_commits_are_visible(spark, tmp_path):
    a, b = Catalog(spark, str(tmp_path)), Catalog(spark, str(tmp_path))
    a.write("t", spark.range(3))
    assert a.read("t").count() == 3
    b.write("t", spark.range(5))
    assert a.read("t").count() == 5
    b.append("t", spark.range(2))
    assert a.read("t").count() == 7
    # an append-created table re-resolves the same way
    b.append("log", spark.range(4))
    assert a.read("log").count() == 4
    b.append("log", spark.range(1))
    assert a.read("log").count() == 5


def test_pinned_snapshot_read_survives_new_commit(spark, tmp_path):
    cat = Catalog(spark, str(tmp_path))
    cat.write("t", spark.range(3).withColumn("v", F.lit("old")))
    assert cat.read("t").count() == 3  # pins snapshot 0 as the current one
    cat.write("t", spark.range(5).withColumn("v", F.lit("new")))
    assert _rows(cat.read("t", snapshot=0)) == [(i, "old") for i in range(3)]
    assert _rows(cat.read("t")) == [(i, "new") for i in range(5)]


def test_prune_drops_pinned_frames(spark, tmp_path):
    cat = Catalog(spark, str(tmp_path))
    before = _cached_plans(spark)
    for i in range(5):  # three are kept
        cat.write("t", spark.range(i + 1))
        assert cat.read("t").count() == i + 1
    # one frame, of the current commit; the pruned commits' frames are gone
    assert [(table, commit[0]) for table, (commit, _df) in cat._frames.items()] == [("t", 4)]
    assert _cached_plans(spark) == before + 1
    cat.drop("t")


def _cached_plans(spark) -> int:
    return spark._jsparkSession.sharedState().cacheManager().cachedData().size()


def _small_table(spark, n=40):
    return spark.range(n).withColumn("k", (F.col("id") % 4).cast("int"))


def test_current_read_of_small_table_is_held(spark, tmp_path):
    cat = Catalog(spark, str(tmp_path))
    cat.write("t", _small_table(spark), partition_by=["k"])
    held = cat.read("t")
    assert held.is_cached
    assert [tuple(r) for r in held.filter(F.col("id") == 7).collect()] == [(7, 3)]
    assert _rows(held) == [(i, i % 4) for i in range(40)]
    assert cat.read("t") is held
    cat.drop("t")


def test_read_by_snapshot_id_is_not_held(spark, tmp_path):
    cat = Catalog(spark, str(tmp_path))
    before = _cached_plans(spark)
    m = cat.write("t", _small_table(spark))
    df = cat.read("t", snapshot=m["snapshot_id"])
    assert not df.is_cached and df.count() == 40
    # merge reads the current snapshot without holding it
    cat.merge("t", spark.range(40, 45).withColumn("k", F.lit(0)), key=["id"])
    assert _cached_plans(spark) == before


def test_appended_small_table_is_held(spark, tmp_path):
    cat = Catalog(spark, str(tmp_path))
    before = _cached_plans(spark)
    cat.append("log", _small_table(spark))  # creates the table
    old = cat.read("log")
    assert old.is_cached
    cat.append("log", _small_table(spark, 4))
    got = cat.read("log")
    assert got.is_cached and not old.is_cached
    assert _cached_plans(spark) == before + 1  # the previous held frame was released
    assert got.count() == 44
    cat.drop("log")
    assert _cached_plans(spark) == before


def test_table_over_the_cap_is_not_held(spark, tmp_path, monkeypatch):
    cat = Catalog(spark, str(tmp_path))
    m = cat.write("t", _small_table(spark))
    monkeypatch.setattr(catalog_mod, "HOLD_MAX_BYTES", m["bytes"] - 1)
    over = cat.read("t")
    assert not over.is_cached and cat.read("t") is over
    # the hold is decided once per commit and instance
    monkeypatch.setattr(catalog_mod, "HOLD_MAX_BYTES", m["bytes"])
    at_cap = Catalog(spark, str(tmp_path))
    assert at_cap.read("t").is_cached
    at_cap.drop("t")


def test_new_commit_releases_held_frame(spark, tmp_path):
    cat = Catalog(spark, str(tmp_path))
    before = _cached_plans(spark)
    cat.write("t", _small_table(spark))
    old = cat.read("t")
    assert _cached_plans(spark) == before + 1
    cat.write("t", _small_table(spark, 8))
    new = cat.read("t")
    assert not old.is_cached and new.is_cached
    assert _cached_plans(spark) == before + 1
    assert new.count() == 8
    cat.drop("t")


def test_prune_releases_held_frame(spark, tmp_path):
    cat = Catalog(spark, str(tmp_path))
    before = _cached_plans(spark)
    cat.write("t", _small_table(spark))
    assert cat.read("t").is_cached
    for n in (8, 9, 10):
        cat.write("t", _small_table(spark, n))  # the last write prunes snapshot 0
    assert _cached_plans(spark) == before
    assert [m["snapshot_id"] for m in cat.snapshots("t")] == [1, 2, 3]


def test_collected_catalog_releases_held_frames(spark, tmp_path):
    Catalog(spark, str(tmp_path)).write("t", _small_table(spark))
    before = _cached_plans(spark)
    for _ in range(3):
        assert Catalog(spark, str(tmp_path)).read("t").is_cached
    gc.collect()
    assert _cached_plans(spark) == before


def test_drop_releases_held_and_pinned_frames(spark, tmp_path):
    cat = Catalog(spark, str(tmp_path))
    before = _cached_plans(spark)
    m = cat.write("t", _small_table(spark))
    assert cat.read("t").is_cached and cat.read("t", snapshot=m["snapshot_id"]).count() == 40
    assert _cached_plans(spark) == before + 1
    cat.drop("t")
    assert _cached_plans(spark) == before
    assert not cat._frames and not cat.exists("t")


def test_rewrites_keep_the_committed_nullability(spark, tmp_path):
    """``append`` and ``merge`` rewrite the current rows read back from
    parquet, which makes every column nullable; the snapshots they commit
    keep the table's recorded nullability, widened only by ``df``'s."""
    cat = Catalog(spark, str(tmp_path))
    schema = "id long not null, v string not null, note string"

    def committed():
        recorded = StructType.fromJson(json.loads(cat.manifest("t")["schema"]))
        return [(f.name, f.dataType, f.nullable) for f in recorded]

    cat.append("t", spark.createDataFrame([(1, "a", None)], schema))
    want = committed()
    assert [f[2] for f in want] == [False, False, True]
    cat.append("t", spark.createDataFrame([(2, "b", "x")], schema))
    assert committed() == want
    cat.append("t", spark.createDataFrame([(3, "c", None)], schema))
    assert committed() == want
    cat.merge("t", spark.createDataFrame([(2, "B", None), (4, "d", None)], schema), key=["id"])
    assert committed() == want
    assert _rows(cat.read("t")) == [(1, "a", None), (2, "B", None), (3, "c", None), (4, "d", None)]
    # a nullable incoming column makes the committed one nullable
    nullable_v = "id long not null, v string, note string"
    cat.append("t", spark.createDataFrame([(5, None, None)], nullable_v))
    assert [f[2] for f in committed()] == [False, True, True]
    cat.drop("t")


def test_fresh_instance_sees_other_instance_commits(spark, tmp_path):
    a, b = Catalog(spark, str(tmp_path)), Catalog(spark, str(tmp_path))
    a.write("t", _small_table(spark))
    assert a.read("t").is_cached
    b.append("t", _small_table(spark, 4))
    assert Catalog(spark, str(tmp_path)).read("t").count() == 44
    assert a.read("t").count() == 44
    b.write("t", _small_table(spark, 8))
    assert _rows(Catalog(spark, str(tmp_path)).read("t")) == [(i, i % 4) for i in range(8)]
    assert _rows(a.read("t")) == [(i, i % 4) for i in range(8)]
    for cat in (a, b):
        cat.drop("t")


def _torn_manifest_json(monkeypatch):
    """Make every dump of a ``manifest-<n>.json`` write half a document and
    then fail, as a crash mid-write would."""

    def dump(obj, f, **kwargs):
        if os.path.basename(f.name).startswith("manifest-"):
            f.write(json.dumps(obj)[:10])
            raise OSError("simulated crash while writing the manifest")
        return json.dump(obj, f, **kwargs)

    monkeypatch.setattr(
        catalog_mod, "json", types.SimpleNamespace(dump=dump, load=json.load, loads=json.loads)
    )


def test_crash_writing_manifest_leaves_table_absent_or_readable(spark, tmp_path, monkeypatch):
    cat = Catalog(spark, str(tmp_path))
    cat.write("t", spark.range(3))
    _torn_manifest_json(monkeypatch)
    with pytest.raises(OSError):
        cat.append("log", spark.range(4))  # creates the table
    assert not cat.exists("log") or cat.read("log").count() == 4
    with pytest.raises(OSError):
        cat.write("t", spark.range(9))
    with pytest.raises(OSError):
        cat.append("t", spark.range(2))  # rewrites the uncommitted snapshot 1
    monkeypatch.undo()
    assert Catalog(spark, str(tmp_path)).read("t").count() in (3, 5)
    # the crashed first append never became visible, and does not leak in
    cat.append("log", spark.range(1))
    assert Catalog(spark, str(tmp_path)).read("log").count() == 1


def _relative_parquet_files(cat, table):
    data = os.path.join(cat.root, table, cat.manifest(table)["data_dir"])
    return sorted(os.path.relpath(p, data) for p in catalog_mod._parquet_files(data))


def _awkward_partitions(spark):
    """Rows over partition values Spark's writer escapes (``#``, ``/``,
    ``=``, ``%``), a space, non-ASCII and a null."""
    langs = ["a#b", "x/y", "k=v", "50%", "two words", "naïve", "字", None]
    return spark.createDataFrame(
        [(i, langs[i % len(langs)], i % 3, f"v{i}") for i in range(48)],
        "id long, lang string, bucket int, v string",
    )


@pytest.mark.parametrize("empty", [False, True], ids=["rows", "empty"])
def test_clustered_write_round_trips_partition_values(spark, tmp_path, empty):
    """The tasks' Arrow writers name directories as Spark's writer does, so
    both read back the same rows, schema and partition values; each
    directory holds one file, and the manifest lists the files on disk."""
    cat = Catalog(spark, str(tmp_path / "cat"))
    df = _awkward_partitions(spark)
    if empty:
        df = df.limit(0)
    part = ["lang", "bucket"]
    m = cat.write("c", df, partition_by=part)
    spark_dir = str(tmp_path / "spark")
    df.write.partitionBy(*part).parquet(spark_dir)
    clustered, spark_written = cat.read("c"), spark.read.schema(df.schema).parquet(spark_dir)
    assert clustered.schema == spark_written.schema
    assert _rows(clustered) == _rows(spark_written) == _rows(df.select(*clustered.columns))
    assert {r.lang for r in clustered.select("lang").distinct().collect()} == (
        set() if empty else {"a#b", "x/y", "k=v", "50%", "two words", "naïve", "字", None}
    )

    files = _relative_parquet_files(cat, "c")
    assert [f["path"] for f in m["files"]] == files
    assert sum(f["rows"] for f in m["files"]) == df.count()
    assert m["bytes"] == sum(f["bytes"] for f in m["files"])
    dirs = [os.path.dirname(f) for f in files]
    assert len(dirs) == len(set(dirs))  # one file per directory
    assert set(dirs) == {
        os.path.dirname(os.path.relpath(f, spark_dir)) for f in catalog_mod._parquet_files(spark_dir)
    }
    assert len(dirs) == (0 if empty else 8 * 3)


def test_clustered_write_deletes_leftover_files(spark, tmp_path, monkeypatch):
    """A parquet file no task returned (a failed attempt's) is deleted
    before the manifest swap and never read; a partitioned write that raises
    leaves the previous snapshot current."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    cat = Catalog(spark, str(tmp_path))
    df = _awkward_partitions(spark)
    leftovers = []
    arrow_writer = catalog_mod._arrow_writer

    def plant_leftover(data_dir, partition_by):
        d = os.path.join(data_dir, "lang=k%3Dv", "bucket=0")
        os.makedirs(d, exist_ok=True)
        leftovers.append(os.path.join(d, "part-00099-leftover.parquet"))
        pq.write_table(pa.table({"id": [10**6], "v": ["stale"]}), leftovers[-1])
        return arrow_writer(data_dir, partition_by)

    monkeypatch.setattr(catalog_mod, "_arrow_writer", plant_leftover)
    m = cat.write("c", df, partition_by=["lang", "bucket"])
    monkeypatch.undo()
    assert leftovers and not os.path.exists(leftovers[0])
    assert [f["path"] for f in m["files"]] == _relative_parquet_files(cat, "c")
    assert _rows(cat.read("c")) == _rows(df.select(*cat.read("c").columns))

    failing = df.withColumn(
        "v", F.when(F.col("id") == 7, F.raise_error(F.lit("boom"))).otherwise(F.col("v"))
    )
    with pytest.raises(Exception, match="boom"):
        cat.write("c", failing, partition_by=["lang", "bucket"])
    assert cat.manifest("c") == m
    assert _rows(Catalog(spark, str(tmp_path)).read("c")) == _rows(cat.read("c"))
    assert Catalog(spark, str(tmp_path)).read("c").count() == 48

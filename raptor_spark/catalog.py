"""Table IO behind one thin interface: parquet data dirs plus JSON commit
manifests (SURVEY.md §7.0 / §7.4 risk 4).

The manifests emulate the parts of a versioned table store (≙ the
reference's lakeFS versioned asset store,
raptor/asset_management/object_store.py:208-269) the pipeline needs:

* atomic "commit": a snapshot is its manifest JSON, renamed into place last
  (write-then-commit, the lakeFS upload+commit returning (key, version_id,
  checksum));
* snapshot history + time travel: every ``write`` creates ``data-<n>`` +
  ``manifest-<n>.json``, the newest manifest is current, and ``read(table,
  snapshot=n-1)`` still sees the previous commit (≙ lakeFS version_id
  pinning, object_store.py:208-269, database.py:146-182);
* keyed ``merge`` — idempotent upsert-by-key as copy-on-write into a new
  snapshot (≙ the reference's Qdrant insert keyed by id,
  qdrant_search_docker/api_insert.py:88-171).

Retention is bounded (``KEEP_SNAPSHOTS``) so re-running a pipeline does not
grow the output dir without limit.
"""

from __future__ import annotations

import contextlib
import json
import os
import re
import shutil
import time
import uuid
import weakref
from collections.abc import Callable, Iterator

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructField, StructType

HOLD_MAX_BYTES = 8 << 20  # ≤ this many committed parquet bytes → a current
# read holds the snapshot in Spark's in-memory columnar cache (see
# ``Catalog.read``). Measured at local[4] with a 2g driver: a table split
# into ~100 tiny partition files caches at 0.1–0.3× its parquet bytes
# (per-file footers dominate: the 40-file serve graph's nodes/edges are
# 170 KB + 186 KB on disk, 18 KB + 25 KB cached), but a 0.8–3.4 MB table
# in four files caches at up to 7.8×. So 8 MB holds at most ~64 MB per
# table, a sixteenth of a 2g driver's ~1 GB unified memory, and the
# MEMORY_AND_DISK level spills past it rather than failing.
KEEP_SNAPSHOTS = 3  # snapshots a table retains; older ones are pruned


# the characters Spark's writer percent-escapes in a partition directory
# name (ExternalCatalogUtils.escapePathName), and its name for a null or
# empty value: a partitioned write names its directories exactly as Spark's
# writer would, so reads parse the same partition values back
_PATH_ESCAPED = frozenset([chr(c) for c in range(1, 0x20)] + list("\"#%'*/:=?[\\]^{\x7f"))
_DEFAULT_PARTITION = "__HIVE_DEFAULT_PARTITION__"
_WRITTEN_SCHEMA = "path string, rows long, bytes long"


def _parquet_files(path: str) -> list[str]:
    out = []
    for root, _dirs, names in os.walk(path):
        out.extend(os.path.join(root, n) for n in names if n.endswith(".parquet"))
    return sorted(out)


def _escape_path_name(s: str) -> str:
    return "".join(f"%{ord(c):02X}" if c in _PATH_ESCAPED else c for c in s)


def _partition_segment(col: str, value: str | None) -> str:
    """``col=value`` as Spark's writer names a partition directory."""
    return f"{_escape_path_name(col)}={_escape_path_name(value) if value else _DEFAULT_PARTITION}"


def _partition_dirs(batch: pa.RecordBatch, partition_by: list[str]) -> pa.DictionaryArray:
    """The partition directory (``k1=v1/k2=v2``) of each row of ``batch``,
    dictionary-encoded: each column is cast to string as Spark's writer
    casts it, and only its distinct values are escaped in Python."""
    segments = []
    for col in partition_by:
        values = pc.cast(batch.column(col), pa.string()).dictionary_encode()
        names = pa.array(
            [_partition_segment(col, v) for v in values.dictionary.to_pylist()], pa.string()
        )
        segments.append(
            pc.fill_null(names.take(values.indices), _partition_segment(col, None))
        )
    return pc.binary_join_element_wise(*segments, "/").dictionary_encode()


def _arrow_writer(
    data_dir: str, partition_by: list[str]
) -> Callable[[Iterator[pa.RecordBatch]], Iterator[pa.RecordBatch]]:
    """The task function of a partitioned write (``mapInArrow``): stream the
    task's batches into hive-partitioned parquet under ``data_dir``, one
    ``part-<task>-<uuid>.parquet`` file per partition value the task holds,
    and return one ``(path relative to data_dir, rows, bytes)`` row per
    file written (none for a task without rows)."""

    def write(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        from pyspark import TaskContext

        name = f"part-{TaskContext.get().partitionId():05d}-{uuid.uuid4().hex}.parquet"
        writers: dict[str, pq.ParquetWriter] = {}
        rows: dict[str, int] = {}
        try:
            for batch in batches:
                dirs = _partition_dirs(batch, partition_by)
                data = batch.drop_columns(partition_by)
                for i, d in enumerate(dirs.dictionary.to_pylist()):
                    part = data.filter(pc.equal(dirs.indices, i))
                    if d not in writers:
                        os.makedirs(os.path.join(data_dir, d), exist_ok=True)
                        writers[d] = pq.ParquetWriter(
                            os.path.join(data_dir, d, name), data.schema, store_schema=False
                        )
                        rows[d] = 0
                    writers[d].write_batch(part)
                    rows[d] += part.num_rows
        finally:
            for w in writers.values():
                w.close()
        if writers:
            paths = [os.path.join(d, name) for d in writers]
            yield pa.RecordBatch.from_pydict(
                {
                    "path": paths,
                    "rows": [rows[d] for d in writers],
                    "bytes": [os.path.getsize(os.path.join(data_dir, p)) for p in paths],
                }
            )

    return write


def _unpersist_held(frames: dict[str, tuple[tuple, DataFrame]]) -> None:
    """Unpersist the held frames of ``frames`` (a collected ``Catalog``'s).
    Once the session has stopped, unpersist raises and nothing is left to
    release, so the error is dropped: a finalizer has no caller to tell."""
    for _commit, df in frames.values():
        if df.is_cached:
            with contextlib.suppress(Exception):
                df.unpersist()


class Catalog:
    """Parquet-backed catalog with manifest 'commits' and snapshot history.

    Layout: ``{root}/{table}/data-<n>/*.parquet`` + ``manifest-<n>.json`` per
    snapshot. A snapshot exists iff its ``manifest-<n>.json`` does, and the
    newest one is current; a table 'exists' iff it has one. A commit writes
    the data dir, then ``manifest-<n>.json.tmp``, and renames that into
    place: the one rename commits, so a crash before it leaves the previous
    snapshot current and lists no new one (Iceberg's file-system tables
    commit a ``v<N>.metadata.json`` the same way). Every change of a table
    (``write``, ``merge``, ``append``) commits a new snapshot this way; none
    writes into a committed data dir. Pruning deletes an old snapshot's
    manifest before its data dir, so no listed snapshot lacks its files (a
    crash between the two leaves only an unlisted data dir behind).

    A partitioned table is written by the tasks, the way Iceberg's writers
    return data-file descriptors to the driver: each task streams its Arrow
    batches into one ``part-<task>-<uuid>.parquet`` file per partition value
    it holds and returns ``(relative path, rows, bytes)`` per file. The
    driver deletes every parquet file under the snapshot's data dir that no
    successful task returned (a failed attempt's), records the list as the
    manifest's ``files`` and their sum as ``bytes``, and then commits the
    manifest. An unpartitioned table is written by Spark's writer and
    records only ``bytes``. Reads still open the data dir, not the list: a
    list of the ~150 files of a nodes snapshot is more paths than the
    session's parallel-discovery threshold (2 × N_REPO_BUCKETS), so Spark
    would list them in a job. Caveat: a zombie task attempt that is still
    running after the commit (speculation, a lost executor) could add a file
    to a committed data dir, and a read would see it.

    A current read keeps one frame per table: ``read(table)`` builds the
    frame with the recorded schema on the first read of a commit and returns
    that same frame while the manifest names the same commit
    (``snapshot_id``, ``committed_at``), so later reads infer no schema and
    list nothing. When the manifest records ``bytes`` ≤ ``HOLD_MAX_BYTES``
    the frame is HELD: coalesced to one partition (the cap is far below a
    128 MB file split) and persisted in Spark's in-memory columnar cache,
    so once the first query fills it, each later query scans memory, not
    the snapshot's (often ~100, partition-split) parquet files. The hold is
    decided once per commit and instance. A table's frame is released
    (unpersisted if held) when this instance reads a newer commit of it,
    when ``_prune`` deletes its snapshot, when the table is dropped, or when
    the instance is garbage-collected. A read by snapshot id builds a fresh
    frame each time and is never held, and so do ``merge`` and ``append``
    for the current rows they rewrite: builds read by snapshot id
    (``Pipeline``), so a build never fills the cache with tables it is
    about to replace.
    """

    def __init__(self, spark: SparkSession, root: str):
        self.spark = spark
        self.root = root
        # table → (commit, DataFrame) of its last current read; see ``read``
        self._frames: dict[str, tuple[tuple, DataFrame]] = {}
        # a collected instance releases what it held; the finalizer holds
        # the dict, not the instance, so it does not keep the instance alive
        weakref.finalize(self, _unpersist_held, self._frames).atexit = False
        os.makedirs(root, exist_ok=True)

    def _dir(self, table: str) -> str:
        return os.path.join(self.root, table)

    def _manifest_path(self, table: str, snapshot: int) -> str:
        return os.path.join(self._dir(table), f"manifest-{snapshot}.json")

    def _snapshot_ids(self, table: str) -> list[int]:
        """Ids of the table's committed snapshots, ascending: one per
        ``manifest-<n>.json`` (an uncommitted ``.tmp`` is not one)."""
        d = self._dir(table)
        names = os.listdir(d) if os.path.isdir(d) else []
        return sorted(int(m[1]) for n in names if (m := re.fullmatch(r"manifest-(\d+)\.json", n)))

    def exists(self, table: str) -> bool:
        return bool(self._snapshot_ids(table))

    def manifest(self, table: str, snapshot: int | None = None) -> dict:
        """The manifest of ``snapshot``, by default of the newest one."""
        if snapshot is None:
            ids = self._snapshot_ids(table)
            if not ids:
                raise FileNotFoundError(f"table not committed: {table}")
            snapshot = ids[-1]
        with open(self._manifest_path(table, snapshot)) as f:
            return json.load(f)

    def snapshots(self, table: str) -> list[dict]:
        """All retained snapshot manifests, oldest first."""
        return [self.manifest(table, sid) for sid in self._snapshot_ids(table)]

    def write(
        self,
        table: str,
        df: DataFrame,
        partition_by: list[str] | None = None,
        meta: dict | None = None,
    ) -> dict:
        """Commit the DataFrame as a NEW snapshot of the table and make it
        current. Previous snapshots stay readable via ``read(table, n)``
        until pruned by the retention policy.

        With ``partition_by`` the tasks' Arrow writers write one file per
        partition value and the manifest lists the files (see the class
        docstring); without it, Spark's writer writes the rows."""
        ids = self._snapshot_ids(table)
        sid = ids[-1] + 1 if ids else 0
        data = os.path.join(self._dir(table), f"data-{sid}")
        shutil.rmtree(data, ignore_errors=True)  # a crashed uncommitted attempt's
        if partition_by:
            files = self._write_clustered(df, data, partition_by)
            listed = {"bytes": sum(f["bytes"] for f in files), "files": files}
        else:
            df.write.parquet(data)
            listed = {"bytes": sum(map(os.path.getsize, _parquet_files(data)))}
        manifest = {
            "table": table,
            "snapshot_id": sid,
            "data_dir": f"data-{sid}",
            "parent_snapshot_id": ids[-1] if ids else None,
            "committed_at": time.time(),
            "partition_by": partition_by or [],
            "schema": df.schema.json(),
            **listed,
            **(meta or {}),
        }
        self._commit_manifest(table, manifest)
        self._prune(table)
        return manifest

    def _write_clustered(self, df: DataFrame, data: str, partition_by: list[str]) -> list[dict]:
        """Write ``df`` under ``data`` from Arrow writers in the tasks and
        return the files they wrote, sorted by path. The rows are
        hash-clustered by the partition columns into the session's default
        parallelism: by NUMBER, so AQE never coalesces the shuffle and the
        write runs on every core, and each partition value lands in one
        task, so each directory gets one file. Parquet files under ``data``
        that no successful task returned (a failed attempt's) are deleted."""
        os.makedirs(data)
        n = self.spark.sparkContext.defaultParallelism
        written = (
            df.repartition(n, *partition_by)
            .mapInArrow(_arrow_writer(os.path.abspath(data), partition_by), _WRITTEN_SCHEMA)
            .collect()
        )
        files = sorted((r.asDict() for r in written), key=lambda f: f["path"])
        keep = {f["path"] for f in files}
        for path in _parquet_files(data):
            if os.path.relpath(path, data) not in keep:
                os.remove(path)
        return files

    def _commit_manifest(self, table: str, manifest: dict) -> None:
        """Commit the snapshot: write its manifest to a tmp file and rename
        it to ``manifest-<n>.json``. The rename is the commit, so a crash
        leaves the snapshot committed whole or not at all."""
        path = self._manifest_path(table, manifest["snapshot_id"])
        with open(path + ".tmp", "w") as f:
            json.dump(manifest, f)
        os.replace(path + ".tmp", path)

    def _prune(self, table: str) -> None:
        """Delete all but the newest ``KEEP_SNAPSHOTS`` snapshots, each
        manifest before its data dir."""
        for sid in self._snapshot_ids(table)[:-KEEP_SNAPSHOTS]:
            data = os.path.join(self._dir(table), self.manifest(table, sid)["data_dir"])
            os.remove(self._manifest_path(table, sid))
            shutil.rmtree(data, ignore_errors=True)
            cached = self._frames.get(table)
            if cached is not None and cached[0][0] == sid:  # commit[0] is the id
                self._release(table)

    def append(self, table: str, df: DataFrame) -> dict:
        """Commit the current rows plus ``df`` as a new snapshot
        (copy-on-write, keeping the table's partitioning and recorded
        nullability); a missing table is created. A crash before the
        manifest commit leaves the previous snapshot current, so a reader
        sees all of an append or none of it. Each append rewrites the whole
        table: ``lineage`` holds at most 4 stages × 64 buckets = 256 rows per
        run, so a pipeline run rewrites up to 256 rows per earlier run in its
        output dir, and the first run into an empty output dir writes only
        its own rows."""
        return self._rewrite(table, df, lambda cur: cur.unionByName(df))

    def merge(
        self,
        table: str,
        df: DataFrame,
        key: list[str],
        meta: dict | None = None,
    ) -> dict:
        """Idempotent upsert-by-key: rows of ``df`` replace current rows with
        the same key; unmatched current rows are carried over. Copy-on-write
        into a new snapshot, like ``append`` — re-running the same merge
        yields the same logical table (the reference's keyed Qdrant upsert,
        api_insert.py:88-171). The anti-join side is the incoming batch,
        typically small → Spark broadcasts it; the full-table rewrite is the
        same cost Iceberg/Delta copy-on-write MERGE pays.

        Caller contract: the batch must be key-unique — duplicate-keyed
        batch rows all land in the table (same as Iceberg MERGE, which
        errors on multiple matches; dedupe with a window argmax first if
        the source can repeat keys)."""

        def upsert(cur: DataFrame) -> DataFrame:
            kept = cur.join(df.select(*key).distinct(), on=key, how="left_anti")
            return kept.unionByName(df.select(*cur.columns))

        return self._rewrite(table, df, upsert, meta)

    def _rewrite(
        self,
        table: str,
        df: DataFrame,
        combine: Callable[[DataFrame], DataFrame],
        meta: dict | None = None,
    ) -> dict:
        """The copy-on-write step of ``append`` and ``merge``: ``write(df)``
        for a missing table, else commit ``combine(current rows)`` as a new
        snapshot with the table's partitioning. A parquet read makes every
        column nullable, so the snapshot records a field as nullable only
        where the table's recorded schema or ``df`` has it nullable."""
        if not self.exists(table):
            return self.write(table, df, meta=meta)
        m = self.manifest(table)
        rows = combine(self._frame(table, m))
        recorded = StructType.fromJson(json.loads(m["schema"]))
        nullable = {f.name for f in (*recorded, *df.schema) if f.nullable}
        fields = [
            StructField(f.name, f.dataType, f.name in nullable, f.metadata) for f in rows.schema
        ]
        meta = {**(meta or {}), "schema": StructType(fields).json()}
        return self.write(table, rows, partition_by=m["partition_by"] or None, meta=meta)

    def read(self, table: str, snapshot: int | None = None) -> DataFrame:
        """Current table, or a retained snapshot by id (time travel). A
        current read returns the frame this instance keeps for the commit
        the manifest names, held in memory when small, and releases the
        table's previous frame; a read by id builds a fresh frame (see the
        class docstring)."""
        m = self.manifest(table, snapshot)
        if snapshot is not None:
            return self._frame(table, m)
        commit = (m["snapshot_id"], m["committed_at"])
        cached = self._frames.get(table)
        if cached is not None and cached[0] == commit:
            return cached[1]
        self._release(table)
        df = self._frame(table, m)
        if m["bytes"] <= HOLD_MAX_BYTES:
            df = df.coalesce(1).persist()
        self._frames[table] = (commit, df)
        return df

    def _frame(self, table: str, m: dict) -> DataFrame:
        """A frame over the snapshot manifest ``m`` names, read with its
        recorded schema."""
        schema = StructType.fromJson(json.loads(m["schema"]))
        return self.spark.read.schema(schema).parquet(os.path.join(self._dir(table), m["data_dir"]))

    def _release(self, table: str) -> None:
        cached = self._frames.pop(table, None)
        if cached is not None and cached[1].is_cached:
            cached[1].unpersist()

    def drop(self, table: str) -> None:
        self._release(table)
        d = self._dir(table)
        if os.path.exists(d):
            shutil.rmtree(d)

"""Iceberg-style snapshot tables on plain parquet + JSON manifests.

The north rule targets "an Iceberg table of 10^12 Common-Crawl-style
web pages … resumable from the last committed checkpoint"; the
Iceberg runtime jar is not installable here (SURVEY.md §7 "offline
deps"), so this module provides the same table semantics with the
same commit discipline, swappable for real Iceberg later:

- ``_meta/snap-<n>.json`` manifests list the exact data files of a
  snapshot (append never rewrites history — old snapshots stay
  readable: TIME TRAVEL), with each file's row count and byte size
  under ``stats``. A commit reads the parquet footers of the files it
  stages and nothing else: carried-over files take their stats from
  the parent manifest, so every file's footer is read once, ever;
- ``_meta/CURRENT`` is an atomically-renamed pointer — readers always
  see a complete snapshot, never a partial write. The leading
  underscore (Delta's ``_delta_log`` convention) makes parquet dataset
  readers such as ``pyarrow.parquet.read_table(table_dir)`` skip the
  manifests, so a table whose directory holds only committed files
  reads as plain parquet;
- commits are OPTIMISTIC: a writer stages its files, then publishes
  iff CURRENT still names its parent; a concurrent commit raises
  ``CommitConflict`` for the caller to retry (Iceberg's
  compare-and-swap loop);
- ``delete_where``/``upsert`` are FILE-GRANULAR copy-on-write: only
  data files that actually contain matching rows are rewritten
  (located via one metadata-cheap ``input_file_name()`` aggregation);
  untouched files are carried into the new snapshot by reference —
  at 100 TB a targeted delete rewrites megabytes, not the table;
- every write goes through one commit routine: an upsert's rewritten
  survivors and its new rows are staged in one parquet write and
  published as ONE snapshot, so no reader sees a key missing or
  doubled;
- ``read()`` memoizes the DataFrame of the last snapshot it read,
  keyed by the snapshot's file tuple. Data files are uuid-named and
  never rewritten in place, so an equal tuple means equal contents:
  the key needs no invalidation, and a server that reads CURRENT per
  request re-plans the table only after a commit. A new file list is
  read with the previous entry's schema instead of inferring one (a
  Spark job per read): no commit changes the schema, since every
  write is aligned to its parent's schema by ``_align``.

Filesystem access: plain paths use the fast local backend (os +
pyarrow footers); URIs with a scheme (hdfs://, s3a://, gs://, file://)
go through the Hadoop FileSystem API via the JVM gateway, so
manifests, listings and renames work on any FS Spark itself can write
to, and per-file row counts come from parquet footers read through
parquet-hadoop (no data scan).
"""

from __future__ import annotations

import json
import os
import shutil
import time
import uuid
from functools import reduce

from pyspark.sql import Column, DataFrame, SparkSession, functions as F
from pyspark.sql.types import StructType


class _LocalFS:
    """Fast path for plain local paths."""

    def mkdirs(self, path: str) -> None:
        os.makedirs(path, exist_ok=True)

    def exists(self, path: str) -> bool:
        return os.path.exists(path)

    def delete(self, path: str, recursive: bool = False) -> None:
        if recursive:
            shutil.rmtree(path, ignore_errors=True)
        elif os.path.exists(path):
            os.remove(path)

    def write_text_atomic(self, path: str, text: str) -> None:
        tmp = path + f".tmp.{uuid.uuid4().hex[:6]}"
        with open(tmp, "w") as f:
            f.write(text)
        os.rename(tmp, path)  # atomic on POSIX

    def read_text(self, path: str) -> str:
        with open(path) as f:
            return f.read()

    def list_parquet(self, path: str) -> list[tuple[str, int]]:
        out = []
        for fn in sorted(os.listdir(path)):
            if fn.endswith(".parquet"):
                full = os.path.join(path, fn)
                out.append((full, os.path.getsize(full)))
        return out

    def parquet_rows(self, path: str) -> int:
        import pyarrow.parquet as pq
        return pq.ParquetFile(path).metadata.num_rows


class _HadoopFS:
    """Any-scheme backend through the JVM's Hadoop FileSystem —
    the path a real multi-executor cluster uses (object stores,
    HDFS). Row counts via parquet-hadoop footer reads."""

    def __init__(self, spark: SparkSession, root: str):
        self._jvm = spark.sparkContext._jvm
        self._conf = spark.sparkContext._jsc.hadoopConfiguration()
        uri = self._jvm.java.net.URI(root)
        self._fs = self._jvm.org.apache.hadoop.fs.FileSystem.get(
            uri, self._conf)

    def _p(self, path: str):
        return self._jvm.org.apache.hadoop.fs.Path(path)

    def mkdirs(self, path: str) -> None:
        self._fs.mkdirs(self._p(path))

    def exists(self, path: str) -> bool:
        return self._fs.exists(self._p(path))

    def delete(self, path: str, recursive: bool = False) -> None:
        self._fs.delete(self._p(path), recursive)

    def write_text_atomic(self, path: str, text: str) -> None:
        tmp = path + f".tmp.{uuid.uuid4().hex[:6]}"
        stream = self._fs.create(self._p(tmp), True)
        try:
            stream.write(bytearray(text.encode("utf-8")))
        finally:
            stream.close()
        # HDFS rename is atomic; object stores give copy+delete, which
        # is still safe for write-once files such as manifests.
        # rename() reports failure via its return value, not an
        # exception
        if not self._fs.rename(self._p(tmp), self._p(path)):
            self._fs.delete(self._p(tmp), False)
            raise IOError(f"atomic rename failed: {tmp} -> {path}")

    def read_text(self, path: str) -> str:
        stream = self._fs.open(self._p(path))
        try:
            # py4j passes arrays by value, so a fill-my-buffer read
            # can't work from Python — drain JVM-side instead
            data = self._jvm.org.apache.commons.io.IOUtils \
                .toByteArray(stream)
            return bytes(data).decode("utf-8")
        finally:
            stream.close()

    def list_parquet(self, path: str) -> list[tuple[str, int]]:
        out = []
        for status in self._fs.listStatus(self._p(path)):
            p = status.getPath()
            if p.getName().endswith(".parquet"):
                out.append((p.toString(), status.getLen()))
        return sorted(out)

    def parquet_rows(self, path: str) -> int:
        hif = self._jvm.org.apache.parquet.hadoop.util.HadoopInputFile \
            .fromPath(self._p(path), self._conf)
        reader = self._jvm.org.apache.parquet.hadoop.ParquetFileReader \
            .open(hif)
        try:
            return reader.getRecordCount()
        finally:
            reader.close()


def _fs_for(spark: SparkSession, root: str):
    if "://" in root:
        return _HadoopFS(spark, root)
    return _LocalFS()


class CommitConflict(RuntimeError):
    """CURRENT advanced underneath this writer (optimistic concurrency
    control): reload the table and retry the operation."""


def _meta(table_dir: str) -> str:
    return f"{table_dir}/_meta"


def _data(table_dir: str) -> str:
    return f"{table_dir}/data"


def _tail2(path: str) -> str:
    return "/".join(path.rstrip("/").split("/")[-2:])


def _align(df: DataFrame, schema: StructType) -> DataFrame:
    """Project `df` onto the table schema: missing columns become
    NULL, extra columns are dropped, types are cast. Writes must not
    fork the table schema (the snapshot reader has no mergeSchema
    pass — by design: a 10^12-row table wants one authoritative
    schema, with evolution as an explicit migration)."""
    return df.select(*[
        (F.col(f.name) if f.name in df.columns else F.lit(None))
        .cast(f.dataType).alias(f.name) for f in schema.fields])


_KEY_SEP = "\x1f"        # cannot appear in STAC ids/collection ids
_KEY_NULL = "\x00null"   # distinct from every real value, incl. ''


def _key_column(keys: list[str]) -> Column:
    """NULL-safe composite key string. Each part is coalesced to a
    sentinel that is NOT '' before joining, so concat_ws never skips
    a NULL part (a NULL-collection item would otherwise key as its
    bare id) and a NULL key never collides with an '' key."""
    return F.concat_ws(_KEY_SEP, *[
        F.coalesce(F.col(k).cast("string"), F.lit(_KEY_NULL))
        for k in keys])


class SnapshotTable:
    def __init__(self, spark: SparkSession, table_dir: str):
        self.spark = spark
        self.dir = table_dir
        self.fs = _fs_for(spark, table_dir)
        # read() memo: (file tuple, DataFrame) of the last snapshot read.
        # No lock: server threads that miss together each build a frame
        # for their file list, and whichever entry lands last is valid.
        self._last_read: tuple[tuple[str, ...], DataFrame] | None = None

    # ------------------------------------------------------- reading

    def current_snapshot_id(self) -> int | None:
        ptr = f"{_meta(self.dir)}/CURRENT"
        if not self.fs.exists(ptr):
            return None
        return int(self.fs.read_text(ptr).strip())

    def manifest(self, snapshot_id: int | None = None) -> dict:
        sid = (self.current_snapshot_id() if snapshot_id is None
               else snapshot_id)
        if sid is None:
            raise FileNotFoundError(f"{self.dir}: no CURRENT snapshot")
        return json.loads(
            self.fs.read_text(f"{_meta(self.dir)}/snap-{sid}.json"))

    def read(self, snapshot_id: int | None = None) -> DataFrame:
        """DataFrame over a snapshot's exact file list (defaults to
        CURRENT) — time travel is just reading an older manifest.

        Reading the snapshot read last returns the same DataFrame and
        runs no Spark job: the memo is keyed by the file tuple, which
        names immutable files. Any other snapshot is read with the
        memoized frame's schema, so only the first read of this
        SnapshotTable infers one; the create commit clears the memo,
        so a table re-created through this object infers afresh."""
        files = tuple(self.manifest(snapshot_id)["files"])
        if not files:
            raise ValueError("empty snapshot")
        last = self._last_read
        if last is not None and last[0] == files:
            return last[1]
        reader = self.spark.read
        if last is not None:
            reader = reader.schema(last[1].schema)
        df = reader.parquet(*files)
        self._last_read = (files, df)
        return df

    def history(self) -> list[dict]:
        out = []
        sid = self.current_snapshot_id()
        while sid is not None:
            m = self.manifest(sid)
            out.append({"snapshot_id": sid, "operation": m["operation"],
                        "n_files": len(m["files"]),
                        "n_rows": m["n_rows"], "ts": m["ts"]})
            sid = m["parent"]
        return list(reversed(out))

    def read_changes(self, from_id: int,
                     to_id: int | None = None) -> DataFrame:
        """Incremental (CDC) read: the row-level changelog between two
        snapshots, at the table's file granularity — Iceberg's
        incremental-scan semantics. Rows from files ADDED between the
        snapshots carry _change_type='insert'; rows from files REMOVED
        carry 'delete'. A copy-on-write rewrite therefore appears as
        delete-of-old-file-rows + insert-of-survivors, whose NET
        effect equals the row-level delete — consumers that fold the
        changelog (inserts minus deletes, as multisets) reconstruct
        `read(to_id)` exactly from `read(from_id)`. One scan over
        only the CHANGED files: at 10^12 rows an incremental consumer
        never touches the unchanged ones."""
        if to_id is None:
            to_id = self.current_snapshot_id()
        f_old = set(self.manifest(from_id)["files"])
        f_new = set(self.manifest(to_id)["files"])
        added = sorted(f_new - f_old)
        removed = sorted(f_old - f_new)
        parts = []
        if added:
            parts.append(self.spark.read.parquet(*added)
                         .withColumn("_change_type", F.lit("insert")))
        if removed:
            parts.append(self.spark.read.parquet(*removed)
                         .withColumn("_change_type", F.lit("delete")))
        if not parts:
            return (self.read(to_id).limit(0)
                    .withColumn("_change_type", F.lit("insert")))
        return reduce(DataFrame.unionByName, parts)

    # -------------------------------------------------- maintenance

    def expire_snapshots(self, keep_last: int) -> dict:
        """Retention maintenance (Iceberg's expire_snapshots +
        orphan-file vacuum): keep the most recent ``keep_last``
        snapshots, delete older manifests, and physically delete
        every data file no retained snapshot references. Time travel
        beyond the horizon is gone by design; CURRENT and all
        retained snapshots stay byte-identical readable. Pure
        metadata work plus O(orphans) deletes — no data scan.

        Returns {"expired_snapshots": [...], "deleted_files": n}."""
        if keep_last < 1:
            raise ValueError("keep_last must be >= 1")
        chain = [h["snapshot_id"] for h in reversed(self.history())]
        keep, expire = chain[:keep_last], chain[keep_last:]
        if not expire:
            return {"expired_snapshots": [], "deleted_files": 0}
        live: set[str] = set()
        for s in keep:
            live.update(self.manifest(s)["files"])
        dead: set[str] = set()
        for s in expire:
            dead.update(f for f in self.manifest(s)["files"]
                        if f not in live)
        for f in sorted(dead):
            self.fs.delete(f)
        for s in expire:
            self.fs.delete(f"{_meta(self.dir)}/snap-{s}.json")
        # oldest retained snapshot becomes the chain root
        root = self.manifest(keep[-1])
        root["parent"] = None
        self.fs.write_text_atomic(
            f"{_meta(self.dir)}/snap-{keep[-1]}.json",
            json.dumps(root))
        return {"expired_snapshots": expire,
                "deleted_files": len(dead)}

    # ------------------------------------------------------- writing

    def _stage_files(self, df: DataFrame,
                     codec: str | None = None) -> dict[str, dict]:
        """Write df's rows as new immutable data files (in the
        session's parquet codec unless `codec` is given); returns each
        file's {"rows", "bytes"} by path, rows from its footer. Files
        are invisible until a manifest referencing them is
        published."""
        batch = uuid.uuid4().hex[:12]
        out = f"{_data(self.dir)}/batch-{batch}"
        w = df.write.mode("error")
        (w.option("compression", codec) if codec else w).parquet(out)
        return {p: {"rows": self.fs.parquet_rows(p), "bytes": size}
                for p, size in self.fs.list_parquet(out)}

    def _publish(self, parent: int | None, files: dict[str, dict],
                 operation: str, extra: dict | None = None) -> int:
        """Compare-and-swap commit: write snap-N, then move CURRENT —
        iff CURRENT still equals `parent`. `files` maps every file of
        the snapshot to its {"rows", "bytes"} stats."""
        if self.current_snapshot_id() != parent:
            raise CommitConflict(
                f"{self.dir}: CURRENT moved past snapshot {parent}")
        sid = (parent or 0) + 1
        paths = sorted(files)
        self.fs.mkdirs(_meta(self.dir))
        self.fs.write_text_atomic(
            f"{_meta(self.dir)}/snap-{sid}.json",
            json.dumps({"snapshot_id": sid, "parent": parent,
                        "operation": operation, "files": paths,
                        "stats": {p: files[p] for p in paths},
                        "n_rows": sum(files[p]["rows"] for p in paths),
                        "ts": time.time(), **(extra or {})}))
        # the pointer flip is the commit point (atomic rename)
        if self.current_snapshot_id() != parent:
            raise CommitConflict(
                f"{self.dir}: CURRENT moved past snapshot {parent}")
        self.fs.write_text_atomic(f"{_meta(self.dir)}/CURRENT", str(sid))
        return sid

    def _commit(self, operation: str, drop: Column | None = None,
                add: DataFrame | None = None,
                extra: dict | None = None,
                codec: str | None = None) -> int:
        """The one write path. Reads CURRENT once as the parent, drops
        the parent's rows where `drop` is TRUE (file-granular
        copy-on-write: only files holding such rows are rewritten, the
        rest carry over by reference), adds `add`'s rows aligned to
        the parent's schema, stages survivors and added rows in ONE
        parquet write and publishes ONE manifest. A commit on a table
        with no CURRENT is its first snapshot ("create")."""
        parent = self.current_snapshot_id()
        if parent is None and add is not None:
            self._last_read = None  # a new table may have a new schema
            return self._publish(None, self._stage_files(add, codec),
                                 "create", extra)
        stats = self.manifest(parent)["stats"]  # no CURRENT: raises
        keep = sorted(stats)
        cur = self.read(parent)
        parts = []
        if drop is not None:
            # input_file_name returns URIs (file:///…); manifests hold
            # fs-local paths — compare on the last two path components,
            # unique by construction (uuid batch dir + part file name)
            touched = {_tail2(r["f"]) for r in
                       (cur.where(drop)
                        .select(F.input_file_name().alias("f"))
                        .distinct().collect())}
            rewrite = [p for p in keep if _tail2(p) in touched]
            keep = [p for p in keep if _tail2(p) not in touched]
            if rewrite:
                # SQL / Iceberg DELETE removes only rows where the
                # condition is TRUE; rows where it evaluates NULL must
                # survive. `~drop` alone would drop NULL-evaluating
                # rows (and only in touched files — file-layout-
                # dependent), so keep NOT TRUE explicitly.
                parts.append(self.spark.read.schema(cur.schema)
                             .parquet(*rewrite)
                             .where(F.coalesce(~drop, F.lit(True))))
        if add is not None:
            parts.append(_align(add, cur.schema))
        staged = (self._stage_files(reduce(DataFrame.unionByName, parts),
                                    codec) if parts else {})
        return self._publish(parent, {**{p: stats[p] for p in keep},
                                      **staged}, operation, extra)

    def append(self, df: DataFrame, extra: dict | None = None,
               codec: str | None = None) -> int:
        """Add df's rows (the first commit creates the table); `extra`
        rides in the manifest, `codec` overrides the session's parquet
        codec for the new files."""
        return self._commit("append", add=df, extra=extra, codec=codec)

    def delete_where(self, condition) -> int:
        """Copy-on-write delete of the rows where `condition` (a Column
        or SQL string) is TRUE."""
        cond = F.expr(condition) if isinstance(condition, str) else condition
        return self._commit("delete", drop=cond)

    def upsert(self, df: DataFrame, keys: list[str]) -> int:
        """MERGE by the composite `keys`: ONE snapshot ("upsert") that
        drops every row whose key appears in df and adds df, so no
        reader ever sees the key missing or doubled. The drop is ONE
        flat isin (Catalyst InSet) over the batch's distinct keys: a
        10k-row batch stays an O(1)-depth plan. The keys are collected
        as they are and deduplicated here, which saves the shuffle
        job of a Spark-side distinct (a composite key is never NULL)."""
        key = _key_column(keys)
        batch = sorted({r[0] for r in df.select(key).collect()})
        return self._commit("upsert", drop=key.isin(batch), add=df)

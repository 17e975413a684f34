"""Iceberg-style snapshot tables on plain parquet + JSON manifests.

The north rule targets "an Iceberg table of 10^12 Common-Crawl-style
web pages … resumable from the last committed checkpoint"; the
Iceberg runtime jar is not installable here (SURVEY.md §7 "offline
deps"), so this module provides the same table semantics with the
same commit discipline, swappable for real Iceberg later:

- ``meta/snap-<n>.json`` manifests list the exact data files of a
  snapshot (append never rewrites history — old snapshots stay
  readable: TIME TRAVEL);
- ``meta/CURRENT`` is an atomically-renamed pointer — readers always
  see a complete snapshot, never a partial write;
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
  doubled.

Filesystem access reuses lineage's backend split: plain paths use the
fast local path, scheme URIs go through the Hadoop FileSystem JVM API.
"""

from __future__ import annotations

import json
import time
import uuid
from functools import reduce

from pyspark.sql import Column, DataFrame, SparkSession, functions as F
from pyspark.sql.types import StructType

from .lineage import _fs_for


class CommitConflict(RuntimeError):
    """CURRENT advanced underneath this writer (optimistic concurrency
    control): reload the table and retry the operation."""


def _meta(table_dir: str) -> str:
    return f"{table_dir}/meta"


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
        CURRENT) — time travel is just reading an older manifest."""
        files = self.manifest(snapshot_id)["files"]
        if not files:
            raise ValueError("empty snapshot")
        return self.spark.read.parquet(*files)

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
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        return out

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
        chain = []
        sid = self.current_snapshot_id()
        while sid is not None:
            chain.append(sid)
            sid = self.manifest(sid)["parent"]
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
        root = json.loads(self.fs.read_text(
            f"{_meta(self.dir)}/snap-{keep[-1]}.json"))
        root["parent"] = None
        self.fs.write_text_atomic(
            f"{_meta(self.dir)}/snap-{keep[-1]}.json",
            json.dumps(root))
        return {"expired_snapshots": expire,
                "deleted_files": len(dead)}

    # ------------------------------------------------------- writing

    def _stage_files(self, df: DataFrame) -> list[str]:
        """Write df's rows as new immutable data files; returns their
        paths. Files are invisible until a manifest referencing them
        is published."""
        batch = uuid.uuid4().hex[:12]
        out = f"{_data(self.dir)}/batch-{batch}"
        df.write.mode("error").parquet(out)
        return [p for p, _ in self.fs.list_parquet(out)]

    def _publish(self, parent: int | None, files: list[str],
                 operation: str, extra: dict | None = None) -> int:
        """Compare-and-swap commit: write snap-N, then move CURRENT —
        iff CURRENT still equals `parent`."""
        if self.current_snapshot_id() != parent:
            raise CommitConflict(
                f"{self.dir}: CURRENT moved past snapshot {parent}")
        sid = (parent or 0) + 1
        n_rows = sum(self.fs.parquet_rows(p) for p in files)
        self.fs.mkdirs(_meta(self.dir))
        self.fs.write_text_atomic(
            f"{_meta(self.dir)}/snap-{sid}.json",
            json.dumps({"snapshot_id": sid, "parent": parent,
                        "operation": operation, "files": sorted(files),
                        "n_rows": n_rows, "ts": time.time(),
                        **(extra or {})}))
        # the pointer flip is the commit point (atomic rename)
        if self.current_snapshot_id() != parent:
            raise CommitConflict(
                f"{self.dir}: CURRENT moved past snapshot {parent}")
        self.fs.write_text_atomic(f"{_meta(self.dir)}/CURRENT", str(sid))
        return sid

    def _commit(self, operation: str, drop: Column | None = None,
                add: DataFrame | None = None,
                extra: dict | None = None) -> int:
        """The one write path. Reads CURRENT once as the parent, drops
        the parent's rows where `drop` is TRUE (file-granular
        copy-on-write: only files holding such rows are rewritten, the
        rest carry over by reference), adds `add`'s rows aligned to
        the parent's schema, stages survivors and added rows in ONE
        parquet write and publishes ONE manifest. A commit on a table
        with no CURRENT is its first snapshot ("create")."""
        parent = self.current_snapshot_id()
        if parent is None and add is not None:
            return self._publish(None, self._stage_files(add), "create",
                                 extra)
        keep = self.manifest(parent)["files"]  # no CURRENT: raises
        cur = self.spark.read.parquet(*keep)
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
                parts.append(self.spark.read.parquet(*rewrite)
                             .where(F.coalesce(~drop, F.lit(True))))
        if add is not None:
            parts.append(_align(add, cur.schema))
        staged = (self._stage_files(reduce(DataFrame.unionByName, parts))
                  if parts else [])
        return self._publish(parent, keep + staged, operation, extra)

    def append(self, df: DataFrame, extra: dict | None = None) -> int:
        """Add df's rows (the first commit creates the table)."""
        return self._commit("append", add=df, extra=extra)

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
        10k-row batch stays an O(1)-depth plan."""
        key = _key_column(keys)
        batch = [r[0] for r in df.select(key).distinct().collect()]
        return self._commit("upsert", drop=key.isin(batch), add=df)

    # ---------------------------------------------- streaming sink

    def append_batch_exactly_once(self, df: DataFrame,
                                  batch_id: int) -> int | None:
        """foreachBatch sink body with EXACTLY-ONCE table commits:
        the manifest records the streaming batch id, so a replayed
        micro-batch (after a crash between the table commit and the
        checkpoint advance) is recognized and skipped. Returns the new
        snapshot id, or None if this batch was already committed."""
        sid = self.current_snapshot_id()
        while sid is not None:
            m = self.manifest(sid)
            if m.get("batch_id") == batch_id:
                return None  # replay of an already-committed batch
            sid = m["parent"]
        # the batch id rides IN the manifest, written before the
        # pointer flip — no crash window between commit and stamp
        return self.append(df, {"batch_id": batch_id})


def stream_to_table(prepared: DataFrame, table_dir: str,
                    checkpoint_dir: str, once: bool = True):
    """writeStream → SnapshotTable with exactly-once batch commits.
    Each micro-batch becomes one table snapshot; readers time-travel
    over the ingest history."""
    def sink(batch_df: DataFrame, batch_id: int) -> None:
        SnapshotTable(batch_df.sparkSession, table_dir) \
            .append_batch_exactly_once(batch_df, batch_id)

    w = (prepared.writeStream
         .foreachBatch(sink)
         .option("checkpointLocation", checkpoint_dir))
    if once:
        w = w.trigger(availableNow=True)
    return w.start()

"""Iceberg-style snapshot tables: time travel, file-granular COW,
optimistic concurrency, atomic visibility."""

import pytest
from pyspark.sql import functions as F

from rustac_spark.pipeline.snapshots import CommitConflict, SnapshotTable


def _rows(spark, ids):
    return spark.createDataFrame([(i, f"u{i}", i % 3) for i in ids],
                                 "id long, url string, grp long")


def test_create_append_time_travel(spark, tmp_path):
    t = SnapshotTable(spark, str(tmp_path / "tbl"))
    s1 = t.append(_rows(spark, range(10)))
    s2 = t.append(_rows(spark, range(10, 25)))
    assert (s1, s2) == (1, 2)
    assert t.read().count() == 25
    # time travel: snapshot 1 still reads exactly its own rows
    assert t.read(snapshot_id=1).count() == 10
    hist = t.history()
    assert [h["operation"] for h in hist] == ["create", "append"]
    assert hist[-1]["n_rows"] == 25
    # append carried snapshot 1's files by reference
    assert set(t.manifest(1)["files"]) <= set(t.manifest(2)["files"])


def test_delete_is_file_granular_cow(spark, tmp_path):
    t = SnapshotTable(spark, str(tmp_path / "tbl"))
    # 4 files with disjoint id ranges (repartitionByRange keeps them
    # range-disjoint so a targeted delete touches one file)
    df = _rows(spark, range(40)).repartitionByRange(4, "id")
    t.append(df)
    before = t.manifest()["files"]
    assert len(before) == 4
    t.delete_where("id >= 35")
    after = t.manifest()["files"]
    assert t.read().count() == 35
    assert t.read().where("id >= 35").count() == 0
    # only the one file containing id>=35 was rewritten
    assert len(set(before) & set(after)) == 3
    # old snapshot still shows all 40 rows (COW, not in-place)
    assert t.read(snapshot_id=1).count() == 40


def test_upsert_by_key(spark, tmp_path):
    t = SnapshotTable(spark, str(tmp_path / "tbl"))
    t.append(_rows(spark, range(10)))
    updated = spark.createDataFrame(
        [(3, "NEW3", 99), (11, "u11", 2)],
        "id long, url string, grp long")
    t.upsert(updated, keys=["id"])
    got = {r["id"]: r["url"] for r in t.read().collect()}
    assert len(got) == 11
    assert got[3] == "NEW3" and got[11] == "u11" and got[4] == "u4"
    # the merge is ONE snapshot: no reader sees id 3 missing
    assert [h["operation"] for h in t.history()] == ["create", "upsert"]


def test_upsert_null_key_replaces_not_duplicates(spark, tmp_path):
    """A NULL key value is a key like any other: upserting it replaces
    the stored NULL-keyed row instead of adding a second one."""
    schema = "id long, url string, grp long"
    t = SnapshotTable(spark, str(tmp_path / "tbl"))
    t.append(spark.createDataFrame([(None, "old", 0), (1, "u1", 1)],
                                   schema))
    t.upsert(spark.createDataFrame([(None, "new", 0)], schema),
             keys=["id"])
    got = sorted((r["id"] is None, r["url"]) for r in t.read().collect())
    assert got == [(False, "u1"), (True, "new")]


def test_optimistic_concurrency_conflict(spark, tmp_path):
    t1 = SnapshotTable(spark, str(tmp_path / "tbl"))
    t1.append(_rows(spark, range(5)))
    t2 = SnapshotTable(spark, str(tmp_path / "tbl"))
    # both writers observe snapshot 1; t2 commits first
    files1 = t1.manifest()["files"]
    t2.append(_rows(spark, range(5, 8)))
    with pytest.raises(CommitConflict):
        t1._publish(1, files1, "append")
    # the loser retries against the new CURRENT and succeeds
    t1.append(_rows(spark, range(8, 10)))
    assert t1.read().count() == 10


def test_no_partial_visibility(spark, tmp_path):
    """Staged-but-unpublished files are invisible to readers."""
    t = SnapshotTable(spark, str(tmp_path / "tbl"))
    t.append(_rows(spark, range(6)))
    t._stage_files(_rows(spark, range(100, 200)))  # staged, no commit
    assert t.read().count() == 6
    assert t.history()[-1]["n_rows"] == 6


def test_stream_to_table_exactly_once(spark, tmp_path):
    """Streaming micro-batches become table snapshots; a replayed
    batch id is recognized and skipped (exactly-once)."""
    import os
    import numpy as np

    from rustac_spark.pipeline.snapshots import stream_to_table
    from rustac_spark.streaming import PAGES_SCHEMA
    from rustac_spark.synth import pages_batch

    indir = str(tmp_path / "in")
    tdir = str(tmp_path / "tbl")
    ckpt = str(tmp_path / "ck")
    os.makedirs(indir)
    pdf = pages_batch(np.arange(400))
    spark.createDataFrame(pdf[:200]).write.parquet(f"{indir}/d1")
    q = stream_to_table(
        spark.readStream.schema(PAGES_SCHEMA).parquet(f"{indir}/*"),
        tdir, ckpt)
    q.awaitTermination(120)
    t = SnapshotTable(spark, tdir)
    assert t.read().count() == 200
    # second drop → incremental batch → one more snapshot
    spark.createDataFrame(pdf[200:]).write.parquet(f"{indir}/d2")
    q = stream_to_table(
        spark.readStream.schema(PAGES_SCHEMA).parquet(f"{indir}/*"),
        tdir, ckpt)
    q.awaitTermination(120)
    assert t.read().count() == 400
    ops = [h["operation"] for h in t.history()]
    assert ops[0] == "create" and "append" in ops
    # simulate a replay: re-committing an already-seen batch id is a
    # no-op
    some = spark.createDataFrame(pdf[:5])
    assert t.append_batch_exactly_once(some, batch_id=0) is None
    assert t.read().count() == 400


def test_delete_where_null_predicate_keeps_rows(spark, tmp_path):
    """SQL/Iceberg DELETE removes only rows where the condition is
    TRUE — a NULL-evaluating row must survive, including in files that
    also contain TRUE-matching rows (the rewritten ones)."""
    t = SnapshotTable(spark, str(tmp_path / "tbl"))
    # one file so the NULL row definitely sits in a rewritten file
    df = spark.createDataFrame(
        [(1, 10), (2, None), (3, 99)], "id long, val long").coalesce(1)
    t.append(df)
    t.delete_where(F.col("val") > 50)
    got = sorted(r["id"] for r in t.read().collect())
    assert got == [1, 2]  # id=2 (val NULL) survives, id=3 deleted


def test_read_changes_reconstructs_states(spark, tmp_path):
    """CDC changelog: folding inserts/deletes between two snapshots
    onto the FROM state reproduces the TO state exactly (multiset
    equality), across append, file-granular delete, and upsert."""
    from collections import Counter

    t = SnapshotTable(spark, str(tmp_path / "tbl"))
    t.append(_rows(spark, range(20)).repartitionByRange(4, "id"))
    t.append(_rows(spark, range(20, 30)))
    t.delete_where("id >= 25")
    t.upsert(spark.createDataFrame([(3, "NEW3", 9)],
                                   "id long, url string, grp long"),
             keys=["id"])
    last = t.current_snapshot_id()

    def key(r):
        return (r["id"], r["url"], r["grp"])

    for frm in range(1, last):
        state = Counter(key(r) for r in t.read(frm).collect())
        for r in t.read_changes(frm, last).collect():
            if r["_change_type"] == "insert":
                state[key(r)] += 1
            else:
                state[key(r)] -= 1
        want = Counter(key(r) for r in t.read(last).collect())
        assert +state == want, f"from snapshot {frm}"
    # no-op diff is empty but schema-stable
    empty = t.read_changes(last, last)
    assert empty.count() == 0 and "_change_type" in empty.columns


def test_expire_snapshots_vacuum(spark, tmp_path):
    """Retention: expired manifests disappear, orphaned data files are
    physically deleted, retained snapshots (incl. CURRENT) stay
    byte-identical readable, and history re-roots cleanly."""
    import os

    t = SnapshotTable(spark, str(tmp_path / "tbl"))
    t.append(_rows(spark, range(20)).repartitionByRange(4, "id"))
    t.delete_where("id < 5")     # rewrites one file; snap 2
    t.append(_rows(spark, range(20, 25)))   # snap 3
    before_cur = sorted(r["id"] for r in t.read().collect())
    n_files_before = sum(
        len(files) for _, _, files in os.walk(tmp_path / "tbl" / "data"))

    out = t.expire_snapshots(keep_last=2)
    assert out["expired_snapshots"] == [1]
    assert out["deleted_files"] >= 1     # snap 1's rewritten file
    # retained snapshots unaffected
    assert sorted(r["id"] for r in t.read().collect()) == before_cur
    assert t.read(snapshot_id=2).count() == 15
    # expired snapshot unreadable, orphan files physically gone
    with pytest.raises(FileNotFoundError):
        t.manifest(1)
    n_files_after = sum(
        len(files) for _, _, files in os.walk(tmp_path / "tbl" / "data"))
    assert n_files_after == n_files_before - out["deleted_files"]
    # history re-rooted at the oldest retained snapshot
    assert [h["snapshot_id"] for h in t.history()] == [2, 3]
    # further writes continue normally
    t.append(_rows(spark, range(25, 30)))
    assert t.read().count() == 25
    # idempotent when nothing to expire beyond the horizon
    assert t.expire_snapshots(keep_last=10)["deleted_files"] == 0


def test_manifest_file_stats(spark, tmp_path, monkeypatch):
    """Every manifest holds per-file rows/bytes whose rows sum to
    n_rows == read().count(), and a commit reads the footers of only
    the files it staged: carried files take the parent's stats."""
    t = SnapshotTable(spark, str(tmp_path / "tbl"))
    calls = []
    orig = t.fs.parquet_rows

    def counted(path):
        calls.append(path)
        return orig(path)

    monkeypatch.setattr(t.fs, "parquet_rows", counted)

    def check():
        m = t.manifest()
        assert sorted(m["stats"]) == m["files"]
        assert all(s["bytes"] > 0 for s in m["stats"].values())
        assert sum(s["rows"] for s in m["stats"].values()) \
            == m["n_rows"] == t.read().count()
        return m

    steps = [
        lambda: t.append(_rows(spark, range(20)).repartitionByRange(4, "id")),
        lambda: t.append(_rows(spark, range(20, 30))),
        lambda: t.delete_where("id >= 25"),
        lambda: t.upsert(spark.createDataFrame(
            [(3, "NEW3", 9)], "id long, url string, grp long"), keys=["id"]),
    ]
    for step in steps:
        parent = (set(t.manifest()["files"])
                  if t.current_snapshot_id() else set())
        calls.clear()
        step()
        new = set(t.manifest()["files"]) - parent
        assert sorted(calls) == sorted(new)
        check()
    calls.clear()
    t.expire_snapshots(keep_last=2)
    assert calls == []
    check()

"""Transaction surface (crates/core/src/api/client.rs:103-122 parity):
add_item/add_items/add_collection over SnapshotTable storage —
roundtrip, time travel, upsert, delete, extent refresh."""

import threading

import pytest
from pyspark.sql import functions as F

from rustac_spark.stac.api import search_page
from rustac_spark.stac.search import Search
from rustac_spark.stac.transactions import (TransactionClient,
                                            items_dataframe)


@pytest.fixture()
def txn(spark, stac_items, tmp_path):
    t = TransactionClient(spark, str(tmp_path / "tbl"))
    t.add_items(stac_items)
    return t


def test_add_item_roundtrip_and_time_travel(txn):
    txn.add_item({
        "type": "Feature", "id": "item-9999",
        "collection": "collection-new",
        "geometry": {"type": "Point", "coordinates": [1.0, 2.0]},
        "properties": {"datetime": "2025-01-01T00:00:00Z",
                       "eo:cloud_cover": 12.5}})
    got = txn.search(Search(ids=["item-9999"])).collect()
    assert len(got) == 1
    r = got[0]
    assert r["collection"] == "collection-new"
    assert r["eo:cloud_cover"] == 12.5
    # bbox derived from the point geometry
    assert (r["bbox"]["xmin"], r["bbox"]["ymax"]) == (1.0, 2.0)
    assert str(r["datetime"]) == "2025-01-01 00:00:00"
    # time travel: snapshot 1 predates the add
    assert txn.read(snapshot_id=1).where("id = 'item-9999'").count() == 0
    # collection extent derived live for the new collection
    ext = {c["id"]: c for c in txn.collections()}["collection-new"]
    assert ext["extent"]["spatial"]["bbox"][0] == [1.0, 2.0, 1.0, 2.0]


def test_upsert_and_delete(txn):
    upd = (txn.read().where("id = 'item-0000'")
           .withColumn("eo:cloud_cover", F.lit(77.0)))
    txn.upsert_items(upd)
    assert txn.read().count() == 100  # replaced, not duplicated
    assert (txn.read().where("id = 'item-0000'")
            .collect()[0]["eo:cloud_cover"] == 77.0)
    txn.delete_item("collection-a", "item-0000")
    assert txn.read().count() == 99
    ops = [h["operation"] for h in txn.table.history()]
    assert ops[0] == "create" and "delete" in ops


def test_upsert_items_is_one_atomic_snapshot(txn, spark_jobs):
    """An upsert commits ONE snapshot: every snapshot from before to
    after it holds exactly one version of the key, so a read landing
    at any commit never misses (or doubles) the item."""
    before = txn.table.current_snapshot_id()
    upd = (txn.read().where("id = 'item-0000'")
           .withColumn("eo:cloud_cover", F.lit(77.0)))
    n, _ = spark_jobs("upsert-jobs", lambda: txn.upsert_items(upd))
    # batch keys 1 + files holding them 2 (distinct: shuffle, result)
    # + the one write 1; the parent frame and the rewritten files are
    # read with the table's memoized schema, so no inference job
    assert n == 4
    after = txn.table.current_snapshot_id()
    assert after == before + 1
    assert txn.table.manifest(after)["operation"] == "upsert"
    for sid in range(before, after + 1):
        assert txn.read(sid).where("id = 'item-0000'").count() == 1


def test_upsert_item_on_empty_table_creates(spark, tmp_path):
    """PUT on a table with no snapshot yet is its first commit."""
    t = TransactionClient(spark, str(tmp_path / "fresh"))
    t.upsert_item({
        "type": "Feature", "id": "first", "collection": "c",
        "geometry": {"type": "Point", "coordinates": [0.0, 0.0]},
        "properties": {"datetime": "2025-01-01T00:00:00Z"}})
    assert t.read().count() == 1
    assert [h["operation"] for h in t.table.history()] == ["create"]


def test_add_collection_registered_and_merged(txn):
    txn.add_collection({"id": "collection-empty",
                        "description": "registered, no items"})
    cols = {c["id"]: c for c in txn.collections()}
    assert "collection-empty" in cols       # registered, itemless
    assert "collection-a" in cols           # derived from items
    assert cols["collection-empty"]["description"] == \
        "registered, no items"


def test_schema_alignment_drops_unknown_props(txn):
    # a property the table schema doesn't know is dropped (documented
    # single-schema contract), not an error — and NULLs type-check
    txn.add_item({
        "type": "Feature", "id": "item-8888", "collection": "collection-a",
        "geometry": {"type": "Point", "coordinates": [0.0, 0.0]},
        "properties": {"datetime": "2025-02-01T00:00:00Z",
                       "brand:new_prop": "ignored"}})
    row = txn.search(Search(ids=["item-8888"])).collect()[0]
    assert "brand:new_prop" not in row.asDict()
    assert row["eo:cloud_cover"] is None


def test_add_item_json_integer_for_double_column(txn):
    """A JSON integer is a valid JSON number for a double-typed
    property column — ingest must cast, not crash."""
    txn.add_item({
        "type": "Feature", "id": "item-int", "collection": "collection-a",
        "geometry": {"type": "Point", "coordinates": [0.0, 0.0]},
        "properties": {"datetime": "2025-02-02T00:00:00Z",
                       "eo:cloud_cover": 50}})
    row = txn.search(Search(ids=["item-int"])).collect()[0]
    assert row["eo:cloud_cover"] == 50.0


def test_posted_batch_commits_one_file(txn):
    """A POSTed FeatureCollection commits one data file, not one per
    default-parallelism slice: every later scan pays a task per file."""
    before = set(txn.table.manifest()["files"])
    txn.add_item_dicts([
        {"type": "Feature", "id": f"post-{i}", "collection": "c-post",
         "geometry": {"type": "Point", "coordinates": [float(i), 0.0]},
         "properties": {"datetime": "2025-02-02T00:00:00Z"}}
        for i in range(8)])
    added = set(txn.table.manifest()["files"]) - before
    assert len(added) == 1
    assert txn.read().where("collection = 'c-post'").count() == 8


def test_upsert_large_batch_flat_plan(txn):
    """upsert_items must stay a flat InSet predicate, not a chained
    OR — a several-hundred-key batch must plan and run."""
    batch = txn.read().limit(60)
    txn.upsert_items(batch)
    assert txn.read().count() == 100  # replaced in place


def test_upsert_null_collection_replaces_not_duplicates(spark, tmp_path):
    """Python-side keys and the Spark delete predicate must agree for
    NULL collections (round-4 advice: concat_ws skips NULLs, so the
    prior version of a collection-less item was never deleted)."""
    t = TransactionClient(spark, str(tmp_path / "nulltbl"))
    t.add_item({
        "type": "Feature", "id": "orphan",
        "geometry": {"type": "Point", "coordinates": [0.0, 0.0]},
        "properties": {"datetime": "2025-01-01T00:00:00Z",
                       "eo:cloud_cover": 1.0}})
    upd = (t.read().where("id = 'orphan'")
           .withColumn("eo:cloud_cover", F.lit(9.0)))
    t.upsert_items(upd)
    rows = t.read().where("id = 'orphan'").collect()
    assert len(rows) == 1                 # replaced, not duplicated
    assert rows[0]["eo:cloud_cover"] == 9.0


def test_batch_mixing_ints_and_floats_widens_to_double(spark, tmp_path):
    """A POST batch whose property values mix JSON ints and floats
    must infer DoubleType across the batch (round-4 advice: first-
    value inference built LongType and the strict verifier rejected
    the float row, failing the whole ingest)."""
    t = TransactionClient(spark, str(tmp_path / "mixtbl"))
    t.add_item_dicts([
        {"type": "Feature", "id": f"m-{i}",
         "collection": "c",
         "geometry": {"type": "Point", "coordinates": [0.0, 0.0]},
         "properties": {"datetime": "2025-01-01T00:00:00Z",
                        "eo:cloud_cover": v}}
        for i, v in enumerate([10, 10.5, 3])])
    got = {r["id"]: r["eo:cloud_cover"] for r in t.read().collect()}
    assert got == {"m-0": 10.0, "m-1": 10.5, "m-2": 3.0}


def test_collections_memoized_per_snapshot(spark, txn):
    """A second collections() listing between commits must run ZERO
    Spark jobs (round-4 verdict #4: GET /collections was a full
    item-table aggregation per request); any write invalidates."""
    first = txn.collections()
    sc = spark.sparkContext
    sc.setJobGroup("colls-cache-probe", "probe")
    try:
        second = txn.collections()
    finally:
        sc.setJobGroup(None, None)
    assert sc.statusTracker().getJobIdsForGroup("colls-cache-probe") == []
    assert second == first
    # a commit invalidates: the new item shows up in a fresh listing
    txn.add_item({
        "type": "Feature", "id": "item-cache", "collection": "c-cache",
        "geometry": {"type": "Point", "coordinates": [9.0, 9.0]},
        "properties": {"datetime": "2025-03-01T00:00:00Z"}})
    assert "c-cache" in {c["id"] for c in txn.collections()}
    # registration alone (no snapshot change) also invalidates
    txn.add_collection({"id": "c-reg", "description": "meta only"})
    assert "c-reg" in {c["id"] for c in txn.collections()}


def test_update_and_delete_collection(spark, txn):
    txn.add_collection({"id": "c-up", "description": "first"})
    txn.update_collection({"id": "c-up", "description": "second"})
    cols = {c["id"]: c for c in txn.collections()}
    assert cols["c-up"]["description"] == "second"
    # delete a derived (item-bearing) collection: registration gone,
    # items deleted in one COW commit, listing shows neither
    n_before = txn.read().count()
    n_a = txn.read().where("collection = 'collection-a'").count()
    assert n_a > 0
    txn.delete_collection("collection-a")
    assert txn.read().count() == n_before - n_a
    assert "collection-a" not in {c["id"] for c in txn.collections()}
    # deleting a registration-only collection touches no items
    txn.delete_collection("c-up")
    assert txn.read().count() == n_before - n_a
    assert "c-up" not in {c["id"] for c in txn.collections()}


def test_concurrent_reads_see_each_key_once_at_one_version(spark,
                                                           tmp_path):
    """A reader racing a writer's upserts sees every key exactly once,
    all at one version, NULL collection included: an upsert is one
    snapshot, and a read is one file list, so neither a search page
    nor an aggregate can land between a key's delete and its add."""
    t = TransactionClient(spark, str(tmp_path / "race"))
    keys = [("c-race", f"k{i}") for i in range(6)] + [(None, "k-null")]
    ids = [iid for _, iid in keys]

    def batch(version: int):
        return items_dataframe(spark, [
            {"type": "Feature", "id": iid, "collection": cid,
             "geometry": {"type": "Point",
                          "coordinates": [float(i), 0.0]},
             "properties": {"datetime": "2025-01-01T00:00:00Z",
                            "eo:cloud_cover": float(version)}}
            for i, (cid, iid) in enumerate(keys)])

    t.add_items(batch(0))
    versions = 4
    done = threading.Event()
    seen: list[tuple] = []
    errors: list[BaseException] = []

    def writer():
        try:
            for v in range(1, versions + 1):
                t.upsert_items(batch(v))
        except BaseException as e:
            errors.append(e)
        finally:
            done.set()

    def reader():
        try:
            while not done.is_set():
                page = search_page(t.read(),
                                   Search(ids=ids, limit=len(ids) + 1))
                got = sorted(r["id"] for r in page.rows)
                vs = {r["eo:cloud_cover"] for r in page.rows}
                seen.append(("page", page.number_matched, got, vs))
                agg = (t.read().groupBy("collection", "id")
                       .agg(F.count("*").alias("n"),
                            F.min("eo:cloud_cover").alias("v"))
                       .collect())
                seen.append(("agg", len(agg),
                             {(r["collection"], r["id"], r["n"])
                              for r in agg},
                             {r["v"] for r in agg}))
        except BaseException as e:
            errors.append(e)

    threads = [threading.Thread(target=f) for f in (writer, reader)]
    for th in threads:
        th.start()
    for th in threads:
        th.join(timeout=120)
    assert not any(th.is_alive() for th in threads)
    assert errors == []
    for kind, n, got, vs in seen:
        assert n == len(keys), kind
        if kind == "page":
            assert got == sorted(ids)
        else:
            assert got == {(c, i, 1) for c, i in keys}
        assert len(vs) == 1, (kind, vs)  # one version per read
    assert len(seen) >= 2
    final = t.read().collect()
    assert sorted(r["id"] for r in final) == sorted(ids)
    assert {r["eo:cloud_cover"] for r in final} == {float(versions)}

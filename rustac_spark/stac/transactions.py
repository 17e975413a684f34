"""STAC Transaction extension over snapshot-table storage.

Reimplements the reference's write surface —
``TransactionClient::add_item / add_items / add_collection``
(crates/core/src/api/client.rs:103-122) and the server's transaction
routes (POST /collections, POST /collections/{id}/items) — on top of
the engine's Iceberg-style ``SnapshotTable``: every write is an atomic
file-granular commit, so the catalog keeps time travel ("what did the
collection contain before this ingest batch?") and optimistic
concurrency for free.

Scale posture: ``add_items`` appends parquet files without rewriting
the table (O(batch) work); ``upsert_items`` is the file-granular COW
merge, committed as one snapshot (only files containing a replaced
(collection, id) are rewritten, in the same write as the batch).
Collection extents are DERIVED from the item table by the same
aggregation the reference runs in
``Client::collections`` (crates/duckdb/src/client.rs:123-181) — no
separately-maintained extent rows to drift out of sync.
"""

from __future__ import annotations

import json

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..pipeline.snapshots import SnapshotTable, _meta
from .api import collections as derive_collections
from .search import Search, build_plan


class TransactionClient:
    """STAC write API bound to a SnapshotTable of items.

    Mirrors crates/core/src/api/client.rs:103-122: add_item posts one
    item, add_items a FeatureCollection batch, add_collection a new
    (possibly empty) collection. Reads go through the same Search
    planner the query engine uses.
    """

    def __init__(self, spark: SparkSession, table_dir: str):
        self.spark = spark
        self.table = SnapshotTable(spark, table_dir)
        self._collections_meta = f"{_meta(table_dir)}/collections.json"
        # collections() memo: (snapshot_id, registered-json) → result.
        # The snapshot id IS the invalidation key — every item write
        # commits a new snapshot, and registration changes alter the
        # meta JSON — so GET /collections stops re-aggregating the
        # full item table on every listing request (at 10^12 rows
        # that is a full-table scan per page load).
        self._collections_cache: tuple | None = None

    # ------------------------------------------------------- reading

    def read(self, snapshot_id: int | None = None) -> DataFrame:
        return self.table.read(snapshot_id)

    def search(self, search: Search | None = None,
               snapshot_id: int | None = None) -> DataFrame:
        return build_plan(self.read(snapshot_id), search or Search())

    def collections(self) -> list[dict]:
        """Registered collections merged with item-derived extents —
        a registered-but-empty collection appears with a null extent;
        an unregistered collection that has items still appears
        (derived), matching the reference's item-table-driven
        listing. The derived list is memoized per snapshot id (plus
        the registration JSON), so repeated listings between commits
        run ZERO Spark jobs."""
        reg = self._registered()
        key = (self.table.current_snapshot_id(),
               json.dumps(reg, sort_keys=True))
        if (self._collections_cache is not None
                and self._collections_cache[0] == key):
            return self._collections_cache[1]
        derived = {c["id"]: c for c in derive_collections(self.read())}
        out = dict(derived)
        for cid, meta in reg.items():
            if cid in out:
                out[cid] = {**meta, **out[cid],
                            "description": meta.get("description")}
            else:
                out[cid] = meta
        result = sorted(out.values(), key=lambda c: c["id"])
        self._collections_cache = (key, result)
        return result

    # ------------------------------------------------------- writing

    def add_items(self, items: DataFrame) -> int:
        """Append a batch of items (one atomic snapshot). The batch is
        schema-aligned to the table; ids are not checked for
        uniqueness (STAC POST semantics — use upsert_items for
        idempotent ingest)."""
        return self.table.append(items)

    def add_item(self, item: dict) -> int:
        """Single STAC item dict → one-row commit (POST
        /collections/{cid}/items). GeoJSON geometry is encoded to the
        table's WKB column, bbox derived when absent, properties.*
        hoisted to FlatItem columns, datetimes parsed with the same
        permissive parser the search path uses."""
        return self.add_items(self._items_df([item]))

    def add_item_dicts(self, items: list[dict]) -> int:
        """Batch dict ingest (POST FeatureCollection)."""
        return self.add_items(self._items_df(items))

    def upsert_items(self, items: DataFrame) -> int:
        """MERGE by (collection, id) — PUT semantics: existing versions
        of the incoming items are replaced in ONE atomic snapshot
        (file-granular COW; see SnapshotTable.upsert)."""
        return self.table.upsert(items, ["collection", "id"])

    def upsert_item(self, item: dict) -> int:
        """Single STAC item dict create-or-replace — the PUT
        /collections/{cid}/items/{iid} route's engine call."""
        return self.upsert_items(self._items_df([item]))

    def delete_item(self, collection_id: str, item_id: str) -> int:
        return self.table.delete_where(
            (F.col("collection") == collection_id)
            & (F.col("id") == item_id))

    def add_collection(self, collection: dict) -> None:
        """Register collection metadata (POST /collections). Items
        are not required to exist yet; extents are derived live at
        listing time."""
        reg = self._registered()
        reg[collection["id"]] = {"type": "Collection", **collection}
        self._write_registered(reg)

    def update_collection(self, collection: dict) -> None:
        """Replace registered collection metadata (PUT
        /collections/{cid}) — create-or-replace, same registration
        store as add_collection; derived extents are unaffected."""
        self.add_collection(collection)

    def delete_collection(self, collection_id: str) -> None:
        """DELETE /collections/{cid}: drop the registration AND the
        collection's items (one file-granular COW delete commit) —
        a collection listing afterwards shows neither registered nor
        derived metadata for it."""
        reg = self._registered()
        reg.pop(collection_id, None)
        self._write_registered(reg)
        if self.table.current_snapshot_id() is not None:
            self.table.delete_where(
                F.col("collection") == collection_id)

    def _write_registered(self, reg: dict) -> None:
        self.table.fs.mkdirs(_meta(self.table.dir))
        self.table.fs.write_text_atomic(self._collections_meta,
                                        json.dumps(reg))

    # ------------------------------------------------------ plumbing

    def _registered(self) -> dict:
        if not self.table.fs.exists(self._collections_meta):
            return {}
        return json.loads(self.table.fs.read_text(self._collections_meta))

    def _items_df(self, items: list[dict]) -> DataFrame:
        return items_dataframe(self.spark, items)

def items_dataframe(spark: SparkSession, items: list[dict]) -> DataFrame:
    """Normalize STAC item dicts driver-side (request bodies / JSON
    documents are small by contract) into FlatItem rows: GeoJSON
    geometry → WKB bytes, bbox struct derived from the geometry when
    the item carries none, properties.* hoisted, datetime-family
    strings parsed to naive-UTC timestamps (the fixture/table
    convention). Types are inferred per key and the table's commit
    casts them to its schema — building directly against a table
    schema would make createDataFrame's strict verifier reject e.g. a
    JSON integer for a double column (ints are valid JSON numbers)."""
    from datetime import datetime

    from pyspark.sql import Row
    from pyspark.sql.types import (ArrayType, BinaryType, BooleanType,
                                   DoubleType, LongType, StringType,
                                   StructField, StructType,
                                   TimestampNTZType)

    from ..geo.wkbio import geojson_to_wkb, wkb_bounds
    from .datetime_parse import parse_rfc3339

    rows = []
    for it in items:
        row: dict = {
            "type": "Feature",
            "stac_version": it.get("stac_version", "1.1.0"),
            "stac_extensions": it.get("stac_extensions", []),
            "id": it["id"],
            "collection": it.get("collection"),
        }
        geom = it.get("geometry")
        wkb = geojson_to_wkb(geom) if geom else None
        row["geometry"] = wkb
        bbox = it.get("bbox")
        if bbox is None and wkb is not None:
            bbox = wkb_bounds(wkb)
        if bbox is not None:
            row["bbox"] = Row(xmin=float(bbox[0]), ymin=float(bbox[1]),
                              xmax=float(bbox[2]), ymax=float(bbox[3]))
        for k, v in (it.get("properties") or {}).items():
            if k in ("datetime", "start_datetime", "end_datetime",
                     "created", "updated"):
                ts = parse_rfc3339(v) if isinstance(v, str) else None
                row[k] = ts.replace(tzinfo=None) if ts else None
            else:
                row[k] = v
        rows.append(row)

    def infer(v):
        if isinstance(v, bool):
            return BooleanType()
        if isinstance(v, int):
            return LongType()
        if isinstance(v, float):
            return DoubleType()
        if isinstance(v, (bytes, bytearray)):
            return BinaryType()
        if isinstance(v, datetime):
            return TimestampNTZType()
        if isinstance(v, Row):
            return StructType([
                StructField(k, infer(x), True)
                for k, x in v.asDict().items()])
        if isinstance(v, (list, tuple)):
            return ArrayType(infer(v[0]) if v else StringType())
        return StringType()

    keys: list[str] = []
    for r in rows:
        keys += [k for k in r if k not in keys]
    fields = []
    for k in keys:
        vals = [r[k] for r in rows if r.get(k) is not None]
        if not vals:
            t = StringType()
        else:
            t = infer(vals[0])
            # widen numerics across ALL values of the key: a batch
            # mixing JSON ints and floats (eo:cloud_cover 10 then
            # 10.5) must infer DoubleType, or createDataFrame's
            # strict verifier rejects the float row and fails the
            # whole ingest — mirror the commit's cast direction
            if isinstance(t, LongType) and any(
                    isinstance(v, float) for v in vals):
                t = DoubleType()
        if isinstance(t, DoubleType):
            for r in rows:  # verifier is strict: ints → floats
                if isinstance(r.get(k), int) and not isinstance(
                        r.get(k), bool):
                    r[k] = float(r[k])
        fields.append(StructField(k, t, True))
    schema = StructType(fields)
    return spark.createDataFrame(
        [tuple(r.get(k) for k in keys) for r in rows], schema)

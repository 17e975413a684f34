"""STAC API result-set semantics: pagination tokens, item lookup,
collections() — the backend surface of the reference server
(crates/server/src/backend/memory.rs, crates/duckdb/src/client.rs).
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark import InheritableThread
from pyspark.sql import DataFrame, functions as F

from .search import Search, _q, build_plan, parse_sortby

DEFAULT_LIMIT = 10  # crates/server/src/lib.rs:57


@dataclass
class Page:
    """ItemCollection-shaped page: rows + counts + skip tokens
    (number_matched/number_returned per api/item_collection.rs:51-63;
    next/prev skip tokens per backend/memory.rs:58-87)."""
    rows: list
    number_matched: int
    number_returned: int
    next_token: dict | None = None
    prev_token: dict | None = None


def _count_beside(plan: DataFrame, page: DataFrame) -> tuple[int, list]:
    """(plan.count(), page.collect()) with the two jobs submitted at
    once: the count runs on an ``InheritableThread`` while this thread
    collects the page. The thread copies the caller's Spark local
    properties, so the count carries the request's job group and
    description (and a cancel of that group reaches both jobs). The
    count is joined before anything returns or raises; an exception
    from either job propagates, the page's first."""
    out: dict = {}

    def count() -> None:
        try:
            out["n"] = plan.count()
        except Exception as e:  # re-raised on the caller's thread
            out["err"] = e

    t = InheritableThread(target=count)
    t.start()
    try:
        rows = page.collect()
    finally:
        t.join()
    if "err" in out:
        raise out["err"]
    return out["n"], rows


def search_page(df: DataFrame, search: Search,
                skip: int = 0) -> Page:
    """Paged search with the memory backend's skip/take token scheme.
    Deterministic pagination requires a total order: when the search
    has no sortby, a tie-break sort on id is injected (SURVEY §2.6).
    numberMatched is counted beside the page, both jobs at once
    (``_count_beside``)."""
    limit = search.limit if search.limit is not None else DEFAULT_LIMIT
    base = Search(**{**search.__dict__, "limit": None, "offset": None})
    if not base.sortby:
        base.sortby = "id"
    plan = build_plan(df, base)
    matched, rows = _count_beside(plan, plan.offset(skip).limit(limit))
    nxt = {"skip": skip + limit} if skip + limit < matched else None
    prv = {"skip": max(0, skip - limit)} if skip > 0 else None
    return Page(rows=rows, number_matched=matched,
                number_returned=len(rows), next_token=nxt, prev_token=prv)


def search_page_keyset(df: DataFrame, search: Search,
                       after: dict | None = None) -> Page:
    """Keyset (cursor) pagination — the 100 TB twin of search_page's
    skip tokens: instead of OFFSET (which scans and discards `skip`
    rows — O(offset) per page at 10^12 rows), the next page filters
    on the last row's sort-key tuple with a lexicographic keyset
    predicate, which pushes into the scan like any other filter.

    `after` is the opaque token from the previous Page.next_token:
    {"keys": [...last sort values...]}. Tokens stay valid under
    concurrent appends (no page drift, unlike OFFSET). The id
    tie-break column is always the final sort key, so the tuple is a
    total order. numberMatched would cost a full count, so it is not
    counted (-1); the reference's context extension makes it
    optional."""
    limit = search.limit if search.limit is not None else DEFAULT_LIMIT
    base = Search(**{**search.__dict__, "limit": None, "offset": None})
    keys = parse_sortby(base.sortby) if base.sortby else []
    if not any(f == "id" for f, _ in keys):
        keys = keys + [("id", True)]
    base.sortby = keys
    plan = build_plan(df, base)
    page = plan
    if after:
        vals = after["keys"]
        if len(vals) != len(keys):
            raise ValueError(
                f"keyset token has {len(vals)} keys but the sort "
                f"needs {len(keys)} — token from a different sortby")
        # lexicographic (k1,k2,...) > (v1,v2,...) with per-key
        # direction: OR over strict-prefix-equal branches.
        # NULL-aware (round-2 ADVICE): the sort is NULLS LAST in both
        # directions, so positionally NULL is the greatest key value —
        # plain </> would evaluate to NULL (filtered) at the first
        # null boundary and silently drop the rest of the result set.
        #   strictly-after(col, v): v null  → False (nothing follows
        #     the null block within this key; later keys break ties);
        #     v non-null → (col >/< v) OR col IS NULL.
        #   equal(col, v): v null → col IS NULL; else col == v.
        def _after(f: str, asc: bool, v):
            c = F.col(_q(f))
            if v is None:
                return F.lit(False)
            return ((c > F.lit(v)) if asc else (c < F.lit(v))) | c.isNull()

        def _eq(f: str, v):
            c = F.col(_q(f))
            return c.isNull() if v is None else (c == F.lit(v))

        pred = None
        for i in range(len(keys)):
            branch = None
            for j in range(i):
                eq = _eq(keys[j][0], vals[j])
                branch = eq if branch is None else (branch & eq)
            cmp = _after(keys[i][0], keys[i][1], vals[i])
            branch = cmp if branch is None else (branch & cmp)
            pred = branch if pred is None else (pred | branch)
        page = plan.where(pred)
    page = page.limit(limit + 1)
    rows = page.collect()
    has_more = len(rows) > limit
    rows = rows[:limit]
    nxt = ({"keys": [rows[-1][f] for f, _ in keys]}
           if has_more and rows else None)
    return Page(rows=rows, number_matched=-1,
                number_returned=len(rows), next_token=nxt,
                prev_token=None)


CONFORMANCE_CLASSES = [
    # Conformance::new().ogcapi_features().item_search().filter()
    # (the classes the reference server advertises when its backend
    # supports search + filter, crates/server/src/api.rs:145-154)
    "https://api.stacspec.org/v1.0.0/core",
    "https://api.stacspec.org/v1.0.0/ogcapi-features",
    "https://api.stacspec.org/v1.0.0/collections",
    "https://api.stacspec.org/v1.0.0/item-search",
    "https://api.stacspec.org/v1.0.0-rc.3/item-search#filter",
    "http://www.opengis.net/spec/ogcapi-features-1/1.0/conf/core",
    "http://www.opengis.net/spec/ogcapi-features-1/1.0/conf/geojson",
    # CQL2 capability classes actually backed by the compiler
    # (stac/cql2.py): comparisons/IN/LIKE/BETWEEN, casei+accenti,
    # s_intersects, strict temporal ops, array predicates, arithmetic
    "http://www.opengis.net/spec/cql2/1.0/conf/basic-cql2",
    "http://www.opengis.net/spec/cql2/1.0/conf/advanced-comparison-operators",
    "http://www.opengis.net/spec/cql2/1.0/conf/case-insensitive-comparison",
    "http://www.opengis.net/spec/cql2/1.0/conf/accent-insensitive-comparison",
    "http://www.opengis.net/spec/cql2/1.0/conf/basic-spatial-functions",
    "http://www.opengis.net/spec/cql2/1.0/conf/temporal-functions",
    "http://www.opengis.net/spec/cql2/1.0/conf/array-functions",
    "http://www.opengis.net/spec/cql2/1.0/conf/arithmetic",
]


def conformance() -> dict:
    """The /conformance document (routes.rs:108, api.rs:145-154).
    Every class is backed: item search by build_plan, filter by the
    CQL2 compiler."""
    return {"conformsTo": list(CONFORMANCE_CLASSES)}


_SPARK_TO_JSONSCHEMA = {
    "string": "string", "double": "number", "float": "number",
    "bigint": "integer", "int": "integer", "smallint": "integer",
    "tinyint": "integer", "boolean": "boolean",
}


def queryables(df: DataFrame) -> dict:
    """The /queryables JSON schema (routes.rs:109, api.rs:157-169).
    The reference punts with an empty `properties` +
    `additionalProperties: true`; here the scalar item columns are
    actually advertised with their JSON-schema types, derived from the
    DataFrame schema (timestamps as RFC3339 strings) — strictly more
    informative, still spec-shaped."""
    props = {}
    for field in df.schema.fields:
        t = field.dataType.simpleString()
        if t in _SPARK_TO_JSONSCHEMA:
            props[field.name] = {"type": _SPARK_TO_JSONSCHEMA[t]}
            # string queryables accept the casei()/accenti() wrappers
            # the CQL2 compiler implements
            if _SPARK_TO_JSONSCHEMA[t] == "string":
                props[field.name]["x-cql2-functions"] = ["casei",
                                                         "accenti"]
        elif t.startswith("timestamp"):
            props[field.name] = {"type": "string", "format": "date-time"}
        elif t.startswith("array<"):
            inner = t[len("array<"):-1]
            if inner in _SPARK_TO_JSONSCHEMA:
                # array queryables take the a_* predicates
                props[field.name] = {
                    "type": "array",
                    "items": {"type": _SPARK_TO_JSONSCHEMA[inner]},
                    "x-cql2-functions": ["a_equals", "a_contains",
                                         "a_containedBy", "a_overlaps"],
                }
    return {
        "$schema": "https://json-schema.org/draft/2019-09/schema",
        "$id": "https://stac-api.example.com/queryables",
        "type": "object",
        "title": "Queryables",
        "properties": props,
        "additionalProperties": True,
    }


def get_item(df: DataFrame, collection_id: str, item_id: str):
    """Item lookup by (collection, id) — the default trait impl
    `search with both filters, take 1` (core/src/api/client.rs:33-55).
    The matches are collected whole and the first is taken here: a
    (collection, id) pair matches one row (a few if POSTs repeated an
    id), and a Spark LIMIT would scan the files in rounds (three jobs
    on a 28-file table) where this scans them in one."""
    rows = build_plan(df, Search(
        ids=[item_id], collections=[collection_id])).collect()
    return rows[0] if rows else None


def collections(df: DataFrame) -> list[dict]:
    """Derive Collection metadata (id + spatial/temporal extent) from
    the item table — reimplements Client::collections
    (crates/duckdb/src/client.rs:123-181): DISTINCT collection, bbox
    union via min/max over the bbox struct, temporal extent via
    min/max of the coalesced datetimes. The DESCRIBE column probe
    becomes a df.columns check."""
    cols = df.columns
    has_bbox = "bbox" in cols
    has_start = "start_datetime" in cols
    has_end = "end_datetime" in cols
    aggs = []
    if has_bbox:
        aggs += [F.min("bbox.xmin").alias("xmin"),
                 F.min("bbox.ymin").alias("ymin"),
                 F.max("bbox.xmax").alias("xmax"),
                 F.max("bbox.ymax").alias("ymax")]
    start = (F.coalesce("start_datetime", "datetime") if has_start
             else F.col("datetime"))
    end = (F.coalesce("end_datetime", "datetime") if has_end
           else F.col("datetime"))
    aggs += [F.min(start).alias("t0"), F.max(end).alias("t1")]
    out = []
    for r in df.groupBy("collection").agg(*aggs).collect():
        c = {
            "type": "Collection",
            "id": r["collection"],
            "extent": {
                "spatial": {"bbox": [[r["xmin"], r["ymin"],
                                      r["xmax"], r["ymax"]]]
                            if has_bbox else []},
                "temporal": {"interval": [[
                    r["t0"].isoformat() + "Z" if r["t0"] else None,
                    r["t1"].isoformat() + "Z" if r["t1"] else None]]},
            },
        }
        out.append(c)
    return sorted(out, key=lambda c: c["id"])


# ------------------------------------------------------- aggregations
# STAC API Aggregation extension semantics (public spec,
# github.com/stac-api-extensions/aggregation): frequency aggregations
# over a search result set. The reference server does not implement
# the extension; these are the engine-native equivalents a catalog at
# crawl scale needs. Both are single map-side-combined groupBys.

def datetime_frequency(items: DataFrame,
                       interval: str = "month") -> DataFrame:
    """'datetime_frequency' aggregation: item counts per calendar
    bucket of the item datetime (start_datetime for interval items).
    Bucket emitted as a formatted string (timestamp-output rule)."""
    b = F.date_trunc(interval,
                     F.coalesce("start_datetime", "datetime"))
    return (items
            .groupBy(F.date_format(b, "yyyy-MM-dd HH:mm:ss")
                     .alias("bucket"))
            .agg(F.count("*").alias("frequency")))


def grid_frequency(items: DataFrame, res: int = 6) -> DataFrame:
    """'grid_*_frequency' analogue on the engine's quad grid: item
    counts per cell of the bbox centroid. One narrow projection +
    one shuffle; cell ids match geo.cells encoding, so the result
    joins directly against cell-indexed page tables."""
    from ..geo import cells

    cx = (F.col("bbox.xmin") + F.col("bbox.xmax")) / 2.0
    cy = (F.col("bbox.ymin") + F.col("bbox.ymax")) / 2.0
    return (items
            .groupBy(cells.cell_of_point(cx, cy, res).alias("cell"))
            .agg(F.count("*").alias("frequency")))

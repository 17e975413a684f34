"""Pagination / lookup / collections() / IO helpers."""

import threading

import pytest

from rustac_spark.stac.api import collections, get_item, search_page
from rustac_spark.stac.io import (
    Format, absolutize, format_from_str, infer_from_href, relativize,
)
from rustac_spark.stac.search import Search


def test_search_page_tokens(stac_items):
    p1 = search_page(stac_items, Search(limit=10))
    assert p1.number_matched == 100 and p1.number_returned == 10
    assert p1.rows[0]["id"] == "item-0000"  # injected id tie-break sort
    assert p1.next_token == {"skip": 10} and p1.prev_token is None

    p2 = search_page(stac_items, Search(limit=10), skip=10)
    assert p2.rows[0]["id"] == "item-0010"
    assert p2.prev_token == {"skip": 0}

    last = search_page(stac_items, Search(limit=10), skip=90)
    assert last.next_token is None and last.number_returned == 10


def test_get_item(stac_items):
    r = get_item(stac_items, "collection-a", "item-0042")
    assert r is not None and r["id"] == "item-0042"
    assert get_item(stac_items, "nope", "item-0042") is None


def test_get_item_is_one_job(spark, spark_jobs, stac_items, tmp_path):
    """Item lookup scans the table in one job even when the item is
    not in the first file read (a LIMIT would scan in rounds)."""
    path = str(tmp_path / "items")
    stac_items.repartitionByRange(6, "id").write.parquet(path)
    df = spark.read.parquet(path)
    assert len(df.inputFiles()) == 6
    n, row = spark_jobs("get-item-one-job",
                        lambda: get_item(df, "collection-a", "item-0099"))
    assert n == 1 and row["id"] == "item-0099"


def test_search_page_counts_beside_page(spark, spark_jobs, stac_items,
                                        monkeypatch):
    """numberMatched is counted on a second thread while the page is
    collected, and every job of the request carries the caller's job
    group (the thread inherits the Spark local properties)."""
    sc = spark.sparkContext
    frame = type(stac_items)
    orig = frame.count
    counted_on = []

    def count(self):
        counted_on.append(threading.get_ident())
        return orig(self)

    monkeypatch.setattr(frame, "count", count)
    ungrouped = set(sc.statusTracker().getJobIdsForGroup(None))
    n, page = spark_jobs("page-beside",
                         lambda: search_page(stac_items, Search(limit=10)))
    assert page.number_matched == 100 and page.number_returned == 10
    assert counted_on and counted_on[0] != threading.get_ident()
    assert n >= 2  # the count and the page
    assert set(sc.statusTracker().getJobIdsForGroup(None)) == ungrouped


@pytest.mark.parametrize("failing", ["count", "collect"])
def test_search_page_job_errors_propagate(stac_items, monkeypatch,
                                          failing):
    """An exception in the count or in the page reaches the caller,
    and the count thread has ended by then."""
    def boom(self, *a, **k):
        raise RuntimeError(f"{failing} failed")

    before = set(threading.enumerate())
    monkeypatch.setattr(type(stac_items), failing, boom)
    with pytest.raises(RuntimeError, match=f"{failing} failed"):
        search_page(stac_items, Search(limit=10))
    assert set(threading.enumerate()) <= before


def test_collections(stac_items):
    cs = collections(stac_items)
    assert len(cs) == 1 and cs[0]["id"] == "collection-a"
    bbox = cs[0]["extent"]["spatial"]["bbox"][0]
    assert bbox[0] <= -106.0 and bbox[2] >= -105.0
    t0, t1 = cs[0]["extent"]["temporal"]["interval"][0]
    assert t0.startswith("2024-03-26") and t1.startswith("2024-12-03")


def test_search_page_keyset(stac_items):
    from rustac_spark.stac.api import search_page_keyset
    # walk all 100 items in 3 keyset pages of 40, multi-key sort
    s = Search(sortby="-eo:cloud_cover,id", limit=40)
    seen, token, pages = [], None, 0
    while True:
        page = search_page_keyset(stac_items, s, after=token)
        seen.extend((r["id"]) for r in page.rows)
        pages += 1
        if page.next_token is None:
            break
        token = page.next_token
    assert pages == 3 and len(seen) == 100 and len(set(seen)) == 100
    # exact agreement with the offset-based page walk
    from rustac_spark.stac.api import search_page
    ref = []
    skip = 0
    while True:
        p = search_page(stac_items, s, skip=skip)
        ref.extend(r["id"] for r in p.rows)
        if p.next_token is None:
            break
        skip = p.next_token["skip"]
    assert seen == ref
    # keyset token survives filters too
    s2 = Search(filter="eo:cloud_cover < 50", sortby="id", limit=10)
    p1 = search_page_keyset(stac_items, s2)
    p2 = search_page_keyset(stac_items, s2, after=p1.next_token)
    assert len(p1.rows) == 10 and p1.rows[-1]["id"] < p2.rows[0]["id"]


def test_search_page_keyset_null_sort_keys(spark):
    """Page boundaries landing inside the NULL block of a nullable
    sortby column must not lose rows (round-2 ADVICE medium): NULL is
    positionally the greatest per-key value under NULLS LAST."""
    from rustac_spark.stac.api import search_page, search_page_keyset
    rows = [(f"id-{i:02d}",
             None if i % 3 == 0 else float(i % 7),
             None if i in (4, 11) else f"g{i % 5}")
            for i in range(30)]
    df = spark.createDataFrame(
        rows, "id string, score double, grp string")
    for sortby in ("score,id", "-score,id", "grp,-score,id", "-grp,id"):
        s = Search(sortby=sortby, limit=4)
        seen, token = [], None
        for _ in range(20):
            p = search_page_keyset(df, s, after=token)
            seen.extend(r["id"] for r in p.rows)
            if p.next_token is None:
                break
            token = p.next_token
        ref, skip = [], 0
        while True:
            p = search_page(df, s, skip=skip)
            ref.extend(r["id"] for r in p.rows)
            if p.next_token is None:
                break
            skip = p.next_token["skip"]
        assert seen == ref and len(seen) == 30, sortby


def test_queryables_and_conformance(stac_items):
    from rustac_spark.stac.api import conformance, queryables
    q = queryables(stac_items)
    assert q["properties"]["id"] == {
        "type": "string", "x-cql2-functions": ["casei", "accenti"]}
    assert q["properties"]["eo:cloud_cover"] == {"type": "number"}
    assert q["properties"]["sat:relative_orbit"] == {"type": "integer"}
    assert q["properties"]["datetime"] == {"type": "string",
                                           "format": "date-time"}
    # scalar-array columns are advertised with their a_* predicates
    assert q["properties"]["stac_extensions"]["type"] == "array"
    assert "a_contains" in \
        q["properties"]["stac_extensions"]["x-cql2-functions"]
    assert "geometry" not in q["properties"]  # binary: not advertised
    assert q["additionalProperties"] is True
    classes = conformance()["conformsTo"]
    assert "https://api.stacspec.org/v1.0.0/core" in classes
    assert "https://api.stacspec.org/v1.0.0/item-search" in classes
    assert ("http://www.opengis.net/spec/cql2/1.0/conf/array-functions"
            in classes)
    assert ("http://www.opengis.net/spec/cql2/1.0/conf/"
            "accent-insensitive-comparison" in classes)


def test_format_inference():
    assert infer_from_href("s3://b/items.parquet").kind == "geoparquet"
    assert infer_from_href("items.ndjson").kind == "ndjson"
    assert infer_from_href("item.json").kind == "json"
    assert infer_from_href("noext").kind == "json"
    f = format_from_str("geoparquet[zstd(15)]")
    assert f.kind == "geoparquet" and f.compression == "zstd(15)"
    assert str(f) == "geoparquet[zstd(15)]"
    assert format_from_str("json-pretty").pretty
    with pytest.raises(ValueError):
        format_from_str("xml")


def test_configure_object_store(spark, monkeypatch):
    from rustac_spark.stac.io import configure_object_store
    monkeypatch.setenv("AWS_ACCESS_KEY_ID", "AKTEST")
    monkeypatch.setenv("AWS_REGION", "eu-central-1")
    href = configure_object_store(
        spark, "s3://bucket/items.parquet",
        **{"connection.maximum": 64, "fs.s3a.path.style.access": "true"})
    assert href == "s3a://bucket/items.parquet"
    conf = spark.sparkContext._jsc.hadoopConfiguration()
    assert conf.get("fs.s3a.access.key") == "AKTEST"
    assert conf.get("fs.s3a.endpoint.region") == "eu-central-1"
    assert conf.get("fs.s3a.connection.maximum") == "64"
    assert conf.get("fs.s3a.path.style.access") == "true"
    assert configure_object_store(spark, "az://acct/container/x") \
        == "abfss://acct/container/x"
    with pytest.raises(ValueError):
        configure_object_store(spark, "ftp://nope/x")


def test_hrefs():
    assert absolutize("./b.json", "s3://bucket/cat/a.json") \
        == "s3://bucket/cat/b.json"
    assert absolutize("../up.json", "/data/cat/a.json") == "/data/up.json"
    assert absolutize("s3://x/y.json", "/data/a.json") == "s3://x/y.json"
    assert relativize("s3://b/cat/items/i.json", "s3://b/cat/c.json") \
        == "./items/i.json"
    assert relativize("s3://other/i.json", "s3://b/cat/c.json") \
        == "s3://other/i.json"


def test_datetime_frequency_buckets(spark):
    from pyspark.sql import functions as F
    from rustac_spark.stac.api import datetime_frequency

    items = spark.createDataFrame(
        [("a", "2024-01-05 10:00:00", None),
         ("b", "2024-01-25 00:00:00", None),
         ("c", "2024-03-01 00:00:00", None),
         # interval item: bucketed by start_datetime
         ("d", None, "2024-03-07 12:00:00")],
        "id string, datetime string, start_datetime string") \
        .withColumn("datetime", F.to_timestamp("datetime")) \
        .withColumn("start_datetime", F.to_timestamp("start_datetime"))
    out = {r["bucket"]: r["frequency"]
           for r in datetime_frequency(items, "month").collect()}
    assert out == {"2024-01-01 00:00:00": 2, "2024-03-01 00:00:00": 2}


def test_grid_frequency_cells(spark):
    from rustac_spark.stac.api import grid_frequency
    from scalar_oracles import cell_encode_py

    def item(i, xmin, ymin, xmax, ymax):
        return (i, {"xmin": float(xmin), "ymin": float(ymin),
                    "xmax": float(xmax), "ymax": float(ymax)})
    items = spark.createDataFrame(
        [item("a", -0.4, -0.4, -0.2, -0.2),   # centroid (-0.3,-0.3)
         item("b", -0.35, -0.35, -0.25, -0.25),  # same cell
         item("c", 10.0, 20.0, 10.2, 20.2)],
        "id string, bbox struct<xmin:double,ymin:double,"
        "xmax:double,ymax:double>")
    out = {r["cell"]: r["frequency"]
           for r in grid_frequency(items, res=6).collect()}

    def cell6(lon, lat):
        n = 64
        xi = min(n - 1, max(0, int((lon + 180) / 360 * n)))
        yi = min(n - 1, max(0, int((lat + 90) / 180 * n)))
        return cell_encode_py(6, xi, yi)
    assert out[cell6(-0.3, -0.3)] == 2
    assert out[cell6(10.1, 20.1)] == 1

"""STAC API HTTP server (entry point B): all reference routes served
end-to-end (crates/server/src/routes.rs:104-114), incl. paging links
consumed by the repo's own api_client, plus transaction routes."""

import json
import logging
import urllib.request

import pytest

from rustac_spark.stac.server import serve


def _get(url):
    with urllib.request.urlopen(url, timeout=10) as r:
        return r.status, json.loads(r.read().decode())


def _post(url, body):
    req = urllib.request.Request(
        url, data=json.dumps(body).encode(),
        headers={"Content-Type": "application/json"}, method="POST")
    with urllib.request.urlopen(req, timeout=10) as r:
        return r.status, json.loads(r.read().decode())


@pytest.fixture(scope="module")
def server(spark, stac_items):
    srv, base = serve(items=stac_items, background=True)
    yield base
    srv.shutdown()
    srv.server_close()


def test_landing_api_conformance_queryables(server):
    st, landing = _get(f"{server}/")
    assert st == 200 and landing["type"] == "Catalog"
    rels = {l["rel"] for l in landing["links"]}
    assert {"self", "service-desc", "conformance", "data",
            "search"} <= rels
    st, api = _get(f"{server}/api")
    assert st == 200 and api["openapi"].startswith("3.")
    st, conf = _get(f"{server}/conformance")
    assert st == 200 and any("item-search" in c
                             for c in conf["conformsTo"])
    st, q = _get(f"{server}/queryables")
    assert st == 200 and "eo:cloud_cover" in q["properties"]


def test_collections_and_collection(server):
    st, colls = _get(f"{server}/collections")
    ids = [c["id"] for c in colls["collections"]]
    assert st == 200 and "collection-a" in ids
    st, c = _get(f"{server}/collections/collection-a")
    assert st == 200
    assert c["extent"]["spatial"]["bbox"][0][0] is not None
    with pytest.raises(urllib.error.HTTPError) as e:
        _get(f"{server}/collections/nope")
    assert e.value.code == 404


def test_collection_items_and_item(server):
    st, fc = _get(f"{server}/collections/collection-a/items?limit=7")
    assert st == 200 and fc["type"] == "FeatureCollection"
    assert fc["numberReturned"] == 7
    assert all(f["collection"] == "collection-a"
               for f in fc["features"])
    st, it = _get(f"{server}/collections/collection-a/items/item-0042")
    assert st == 200 and it["id"] == "item-0042"
    assert it["type"] == "Feature" and it["geometry"]["type"] == "Polygon"
    with pytest.raises(urllib.error.HTTPError) as e:
        _get(f"{server}/collections/collection-a/items/item-xxxx")
    assert e.value.code == 404


def test_search_get_with_params_and_paging(server):
    st, fc = _get(f"{server}/search?bbox=-106.1,40.5,-106.0,40.6"
                  f"&datetime=2024&limit=5&sortby=id")
    assert st == 200 and fc["numberReturned"] == 5
    assert fc["numberMatched"] > 5
    nxt = next(l for l in fc["links"] if l["rel"] == "next")
    st, page2 = _get(nxt["href"])
    ids1 = {f["id"] for f in fc["features"]}
    ids2 = {f["id"] for f in page2["features"]}
    assert ids1.isdisjoint(ids2)


def test_search_get_invalid_bbox_400(server):
    with pytest.raises(urllib.error.HTTPError) as e:
        _get(f"{server}/search?bbox=5,5,1,1")
    assert e.value.code == 400


def test_search_post_paged_via_own_client(server):
    """The repo's api_client walks POST /search next links against
    this server — full client↔server loop, no mocks."""
    from rustac_spark.stac.api_client import fetch_search_features
    feats = list(fetch_search_features(
        server, {"collections": ["collection-a"], "limit": 9,
                 "sortby": "id"}))
    assert len(feats) == 100
    ids = [f["id"] for f in feats]
    assert len(set(ids)) == 100 and ids == sorted(ids)


def test_search_post_cql2(server):
    st, fc = _post(f"{server}/search",
                   {"filter": "sat:relative_orbit = 98 and "
                              "eo:cloud_cover < 50", "limit": 100})
    assert st == 200
    assert all(f["properties"]["eo:cloud_cover"] < 50
               for f in fc["features"])
    assert fc["numberMatched"] == fc["numberReturned"]


def test_transaction_routes(spark, stac_items, tmp_path):
    from rustac_spark.stac.transactions import TransactionClient
    txn = TransactionClient(spark, str(tmp_path / "tbl"))
    txn.add_items(stac_items)
    srv, base = serve(txn=txn, background=True)
    try:
        st, out = _post(f"{base}/collections",
                        {"id": "collection-w", "description": "new"})
        assert st == 201
        st, out = _post(
            f"{base}/collections/collection-w/items",
            {"type": "Feature", "id": "item-w1",
             "geometry": {"type": "Point", "coordinates": [3.0, 4.0]},
             "properties": {"datetime": "2025-06-01T00:00:00Z"}})
        assert st == 201 and out["added"] == 1
        # the added item is immediately searchable
        st, fc = _get(f"{base}/search?ids=item-w1")
        assert fc["numberMatched"] == 1
        assert fc["features"][0]["collection"] == "collection-w"
        assert fc["features"][0]["bbox"] == [3.0, 4.0, 3.0, 4.0]
        # and the registered collection lists with the derived one
        st, colls = _get(f"{base}/collections")
        assert "collection-w" in [c["id"] for c in colls["collections"]]
    finally:
        srv.shutdown()
        srv.server_close()


def test_read_only_server_rejects_writes(server):
    with pytest.raises(urllib.error.HTTPError) as e:
        _post(f"{server}/collections", {"id": "x"})
    assert e.value.code == 405


def test_malformed_requests_get_400_not_dropped_connection(server):
    """Bad requests must answer 400 — never abort the socket."""
    req = urllib.request.Request(
        f"{server}/search", data=b"not-json",
        headers={"Content-Type": "application/json"}, method="POST")
    with pytest.raises(urllib.error.HTTPError) as e:
        urllib.request.urlopen(req, timeout=10)
    assert e.value.code == 400
    # JSON array body (not an object) → 400 too
    req = urllib.request.Request(
        f"{server}/search", data=b"[1,2]",
        headers={"Content-Type": "application/json"}, method="POST")
    with pytest.raises(urllib.error.HTTPError) as e:
        urllib.request.urlopen(req, timeout=10)
    assert e.value.code == 400


def test_engine_errors_answer_json_not_dropped_connection(
        spark, stac_items, monkeypatch):
    """An analysis error (unknown sortby field) is the request's fault
    → 400; any other engine exception → 500. Both carry the JSON
    error body."""
    srv, base = serve(items=stac_items, background=True)
    try:
        with pytest.raises(urllib.error.HTTPError) as e:
            _post(f"{base}/search", {"sortby": "no_such_field"})
        assert e.value.code == 400
        err = json.loads(e.value.read().decode())
        assert err["code"] == 400 and "no_such_field" in err["description"]

        def boom(*a, **k):
            raise RuntimeError("engine down")

        monkeypatch.setattr(srv.RequestHandlerClass.app, "search", boom)
        with pytest.raises(urllib.error.HTTPError) as e:
            _post(f"{base}/search", {})
        assert e.value.code == 500
        err = json.loads(e.value.read().decode())
        assert err == {"code": 500,
                       "description": "RuntimeError: engine down"}
    finally:
        srv.shutdown()
        srv.server_close()


def test_get_prev_link_is_query_param(server):
    st, fc = _get(f"{server}/search?limit=5&skip=10&sortby=id")
    prv = next(l for l in fc["links"] if l["rel"] == "prev")
    assert "body" not in prv and "skip=5" in prv["href"]
    st, back = _get(prv["href"])
    assert back["numberReturned"] == 5


def test_post_collection_ignores_query_params(spark, stac_items, tmp_path):
    from rustac_spark.stac.transactions import TransactionClient
    txn = TransactionClient(spark, str(tmp_path / "tblq"))
    txn.add_items(stac_items)
    srv, base = serve(txn=txn, background=True)
    try:
        _post(f"{base}/collections?foo=bar", {"id": "c-clean"})
        meta = {c["id"]: c for c in txn.collections()}["c-clean"]
        assert "foo" not in meta
        # body missing "id" → 400, not a dropped connection
        with pytest.raises(urllib.error.HTTPError) as e:
            _post(f"{base}/collections", {"nope": 1})
        assert e.value.code == 400
    finally:
        srv.shutdown()
        srv.server_close()


def test_keyset_cursor_paging_walks_full_set(server):
    """paging=keyset: cursor pages cover the full result set exactly
    once, in order, with a timestamp sort key surviving the token
    round-trip — and no numberMatched count is paid per page."""
    seen = []
    url = f"{server}/search?paging=keyset&limit=9&sortby=-datetime"
    for _ in range(20):
        st, fc = _get(url)
        assert "numberMatched" not in fc
        seen += [f["id"] for f in fc["features"]]
        nxt = next((l for l in fc["links"] if l["rel"] == "next"), None)
        if nxt is None:
            break
        url = nxt["href"]
    assert len(seen) == 100 and len(set(seen)) == 100
    # equals the skip-paged ordering (same sort, full walk)
    st, full = _get(f"{server}/search?limit=100&sortby=-datetime")
    assert seen == [f["id"] for f in full["features"]]


def test_keyset_cursor_paging_post(server):
    from rustac_spark.stac.api_client import fetch_search_features
    feats = list(fetch_search_features(
        server, {"paging": "keyset", "limit": 13, "sortby": "id"}))
    ids = [f["id"] for f in feats]
    assert len(ids) == 100 and ids == sorted(ids)


def test_keyset_bad_cursor_400(server):
    with pytest.raises(urllib.error.HTTPError) as e:
        _get(f"{server}/search?cursor=%21%21notbase64")
    assert e.value.code == 400


def test_keyset_short_cursor_400(server):
    """A structurally valid cursor with the wrong key count (token
    from a different sortby) must answer 400, not drop the socket."""
    import base64
    tok = base64.urlsafe_b64encode(b"[]").decode()
    with pytest.raises(urllib.error.HTTPError) as e:
        _get(f"{server}/search?sortby=-datetime&cursor={tok}")
    assert e.value.code == 400


def _req(url, method, body=None):
    req = urllib.request.Request(
        url, data=json.dumps(body).encode() if body is not None else None,
        headers={"Content-Type": "application/json"}, method=method)
    with urllib.request.urlopen(req, timeout=10) as r:
        return r.status, json.loads(r.read().decode())


def test_put_delete_item_roundtrip(spark, stac_items, tmp_path):
    """STAC Transaction PUT/DELETE: add → PUT update → search sees
    the update (replaced, not duplicated) → DELETE → 404."""
    from rustac_spark.stac.transactions import TransactionClient
    txn = TransactionClient(spark, str(tmp_path / "tblput"))
    txn.add_items(stac_items)
    srv, base = serve(txn=txn, background=True)
    try:
        st, out = _post(
            f"{base}/collections/collection-a/items",
            {"type": "Feature", "id": "item-p1",
             "geometry": {"type": "Point", "coordinates": [3.0, 4.0]},
             "properties": {"datetime": "2025-06-01T00:00:00Z",
                            "eo:cloud_cover": 5.0}})
        assert st == 201
        # PUT replaces — path segments authoritative over body ids
        st, out = _req(
            f"{base}/collections/collection-a/items/item-p1", "PUT",
            {"type": "Feature", "id": "ignored-body-id",
             "geometry": {"type": "Point", "coordinates": [5.0, 6.0]},
             "properties": {"datetime": "2025-06-02T00:00:00Z",
                            "eo:cloud_cover": 55.0}})
        assert st == 200 and out["updated"] == "item-p1"
        st, fc = _get(f"{base}/search?ids=item-p1")
        assert fc["numberMatched"] == 1          # replaced, not added
        f = fc["features"][0]
        assert f["properties"]["eo:cloud_cover"] == 55.0
        assert f["bbox"] == [5.0, 6.0, 5.0, 6.0]
        # DELETE → subsequent GET of the item is a 404
        st, out = _req(
            f"{base}/collections/collection-a/items/item-p1", "DELETE")
        assert st == 200 and out["deleted"] == "item-p1"
        with pytest.raises(urllib.error.HTTPError) as e:
            _get(f"{base}/collections/collection-a/items/item-p1")
        assert e.value.code == 404
    finally:
        srv.shutdown()
        srv.server_close()


def test_put_delete_rejected_on_read_only_server(server):
    import urllib.error
    for method in ("PUT", "DELETE"):
        with pytest.raises(urllib.error.HTTPError) as e:
            _req(f"{server}/collections/collection-a/items/item-0000",
                 method, {} if method == "PUT" else None)
        assert e.value.code == 405


def test_put_delete_collection_roundtrip(spark, stac_items, tmp_path):
    """Collection-level transaction routes: PUT replaces registered
    metadata (path id authoritative); DELETE drops registration AND
    the collection's items."""
    from rustac_spark.stac.transactions import TransactionClient
    txn = TransactionClient(spark, str(tmp_path / "tblcoll"))
    txn.add_items(stac_items)
    srv, base = serve(txn=txn, background=True)
    try:
        st, _ = _post(f"{base}/collections",
                      {"id": "c-meta", "description": "v1"})
        assert st == 201
        st, out = _req(f"{base}/collections/c-meta", "PUT",
                       {"id": "ignored", "description": "v2"})
        assert st == 200 and out["updated"] == "c-meta"
        st, c = _get(f"{base}/collections/c-meta")
        assert c["description"] == "v2"
        # DELETE an item-bearing collection: items go too
        st, out = _req(f"{base}/collections/collection-a", "DELETE")
        assert st == 200 and out["deleted"] == "collection-a"
        st, colls = _get(f"{base}/collections")
        assert "collection-a" not in [c["id"] for c in colls["collections"]]
        st, fc = _get(f"{base}/search?collections=collection-a")
        assert fc["numberMatched"] == 0
    finally:
        srv.shutdown()
        srv.server_close()


def test_one_log_record_per_request(server, caplog):
    """Every request leaves exactly one INFO record on the server's
    logger: method, route, status, ms — errors included."""
    caplog.set_level(logging.INFO, logger="rustac_spark.stac.server")
    _get(f"{server}/conformance")
    _post(f"{server}/search?limit=2", {"limit": 2})
    with pytest.raises(urllib.error.HTTPError):
        _get(f"{server}/no/such/route")
    with pytest.raises(urllib.error.HTTPError):
        urllib.request.urlopen(urllib.request.Request(
            f"{server}/search", data=b"{not json", method="POST",
            headers={"Content-Type": "application/json"}), timeout=10)
    recs = [r for r in caplog.records
            if r.name == "rustac_spark.stac.server"]
    assert [r.levelno for r in recs] == [logging.INFO] * 4
    got = [r.getMessage().split() for r in recs]
    assert [g[:3] for g in got] == [
        ["GET", "/conformance", "200"], ["POST", "/search", "200"],
        ["GET", "/no/such/route", "404"], ["POST", "/search", "400"]]
    assert all(g[4] == "ms" and float(g[3]) >= 0 for g in got)

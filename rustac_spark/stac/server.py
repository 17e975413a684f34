"""STAC API HTTP server — entry point B of the reference.

Serves the same route set as the reference server
(crates/server/src/routes.rs:104-114):

    GET  /                                    landing page
    GET  /api                                 OpenAPI description
    GET  /conformance
    GET  /queryables
    GET  /collections
    GET  /collections/{cid}
    GET  /collections/{cid}/items             (paged ItemCollection)
    GET  /collections/{cid}/items/{iid}
    GET  /search
    POST /search

plus the Transaction extension routes backed by TransactionClient
(crates/core/src/api/client.rs:103-122):

    POST   /collections                       add_collection
    PUT    /collections/{cid}                 update_collection
    DELETE /collections/{cid}                 delete_collection
    POST   /collections/{cid}/items           add_item
    PUT    /collections/{cid}/items/{iid}     upsert_item (replace)
    DELETE /collections/{cid}/items/{iid}     delete_item

stdlib-only (http.server), threading so a paging client can hold a
connection while another request lands. The serving layer is a thin
JSON adapter over the engine's handler functions in ``stac/api.py`` —
all query planning stays in Spark; the server never re-implements
search semantics. Paging uses the memory backend's skip tokens
(backend/memory.rs:58-87): next links carry ``body={"skip": n},
merge=true`` for POST and a ``skip`` query param for GET — exactly
the link shape ``api_client.fetch_search_features`` consumes, so the
repo's own client pages against this server in tests.
"""

from __future__ import annotations

import json
import logging
import threading
import time
import urllib.parse
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer

from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame

import base64
from datetime import datetime as _dt

from .api import (DEFAULT_LIMIT, collections as derive_collections,
                  conformance, queryables, search_page,
                  search_page_keyset)
from .items_io import row_to_item
from .search import (QueryNotImplemented, Search, SearchValidationError)

_GEOJSON = "application/geo+json"
_JSON = "application/json"
_log = logging.getLogger(__name__)


class StacApp:
    """Route table + handlers over an item DataFrame (read-only) or a
    TransactionClient (read-write). Transport-independent: the HTTP
    layer only parses paths/bodies and serializes the dict results."""

    def __init__(self, items: DataFrame | None = None,
                 txn=None, root: str = "http://localhost"):
        if (items is None) == (txn is None):
            raise ValueError("pass exactly one of items=, txn=")
        self.txn = txn
        self._items = items
        self.root = root.rstrip("/")

    def items_df(self) -> DataFrame:
        return self._items if self.txn is None else self.txn.read()

    # ------------------------------------------------------- routes

    def landing(self) -> dict:
        links = [
            {"rel": "self", "href": f"{self.root}/", "type": _JSON},
            {"rel": "service-desc", "href": f"{self.root}/api",
             "type": "application/vnd.oai.openapi+json;version=3.1"},
            {"rel": "conformance", "href": f"{self.root}/conformance",
             "type": _JSON},
            {"rel": "data", "href": f"{self.root}/collections",
             "type": _JSON},
            {"rel": "search", "href": f"{self.root}/search",
             "type": _GEOJSON, "method": "GET"},
            {"rel": "search", "href": f"{self.root}/search",
             "type": _GEOJSON, "method": "POST"},
        ]
        return {
            "type": "Catalog",
            "id": "rustac-spark",
            "stac_version": "1.1.0",
            "description": "PySpark-native STAC API",
            "conformsTo": conformance()["conformsTo"],
            "links": links,
        }

    def api_description(self) -> dict:
        return {
            "openapi": "3.1.0",
            "info": {"title": "rustac-spark STAC API", "version": "1.0"},
            "paths": {p: {} for p in (
                "/", "/api", "/conformance", "/queryables",
                "/collections", "/collections/{collectionId}",
                "/collections/{collectionId}/items",
                "/collections/{collectionId}/items/{itemId}",
                "/search")},
        }

    def conformance(self) -> dict:
        return conformance()

    def queryables(self) -> dict:
        return queryables(self.items_df())

    def collections(self) -> dict:
        colls = (self.txn.collections() if self.txn is not None
                 else derive_collections(self.items_df()))
        return {"collections": colls,
                "links": [{"rel": "self",
                           "href": f"{self.root}/collections"}]}

    def collection(self, cid: str) -> dict | None:
        for c in self.collections()["collections"]:
            if c["id"] == cid:
                return c
        return None

    def search(self, params: dict, method: str = "GET") -> dict:
        if "cursor" in params or params.get("paging") == "keyset":
            return self._search_keyset(params, method)
        skip = int(params.pop("skip", 0) or 0)
        search = _params_to_search(params)
        page = search_page(self.items_df(), search, skip=skip)
        features = [row_to_item(r) for r in page.rows]
        links = [self._page_link(rel, method, params, tok)
                 for rel, tok in (("next", page.next_token),
                                  ("prev", page.prev_token))
                 if tok is not None]
        return {
            "type": "FeatureCollection",
            "features": features,
            "numberMatched": page.number_matched,
            "numberReturned": page.number_returned,
            "links": links,
        }

    def _page_link(self, rel: str, method: str, params: dict,
                   token: dict) -> dict:
        """A paging link carrying `token`: POST links put it in a body
        the client merges into its search; GET clients carry no body,
        so the token rides the query string next to the search params."""
        if method == "POST":
            return {"rel": rel, "href": f"{self.root}/search",
                    "method": "POST", "body": token, "merge": True}
        q = urllib.parse.urlencode({**params, **token})
        return {"rel": rel, "href": f"{self.root}/search?{q}",
                "method": "GET"}

    def _search_keyset(self, params: dict, method: str) -> dict:
        """Cursor (keyset) paging — the 100 TB path: each page filters
        on the previous page's last sort-key tuple (pushes into the
        scan) instead of OFFSET-discarding skip rows, and skips the
        per-page full count (`numberMatched` is omitted, as the STAC
        context extension allows). Opt in with ``paging=keyset`` or by
        presenting a ``cursor``; tokens are opaque base64 and stay
        valid under concurrent appends (no page drift)."""
        params = dict(params)
        tok = params.pop("cursor", None)
        params.pop("paging", None)
        search = _params_to_search(params)
        after = {"keys": _decode_cursor(tok)} if tok else None
        page = search_page_keyset(self.items_df(), search, after=after)
        links = ([] if page.next_token is None else [self._page_link(
            "next", method, params,
            {"cursor": _encode_cursor(page.next_token["keys"])})])
        return {
            "type": "FeatureCollection",
            "features": [row_to_item(r) for r in page.rows],
            "numberReturned": page.number_returned,
            "links": links,
        }

    def collection_items(self, cid: str, params: dict) -> dict:
        params = dict(params)
        params["collections"] = cid
        return self.search(params, method="GET")

    def item(self, cid: str, iid: str) -> dict | None:
        from .api import get_item
        row = get_item(self.items_df(), cid, iid)
        return row_to_item(row) if row is not None else None

    # --------------------------------------------- transaction routes

    def post_collection(self, body: dict) -> dict:
        if self.txn is None:
            raise PermissionError("read-only server (no TransactionClient)")
        self.txn.add_collection(body)
        return {"id": body["id"]}

    def post_item(self, cid: str, body: dict) -> dict:
        if self.txn is None:
            raise PermissionError("read-only server (no TransactionClient)")
        if body.get("type") == "FeatureCollection":
            items = body.get("features", [])
            for it in items:
                it.setdefault("collection", cid)
            self.txn.add_item_dicts(items)
            return {"added": len(items)}
        body.setdefault("collection", cid)
        self.txn.add_item(body)
        return {"added": 1}

    def put_collection(self, cid: str, body: dict) -> dict:
        """PUT /collections/{cid}: create-or-replace the registered
        collection document (path id authoritative)."""
        if self.txn is None:
            raise PermissionError("read-only server (no TransactionClient)")
        body = dict(body)
        body["id"] = cid
        self.txn.update_collection(body)
        return {"updated": cid}

    def delete_collection_route(self, cid: str) -> dict:
        if self.txn is None:
            raise PermissionError("read-only server (no TransactionClient)")
        self.txn.delete_collection(cid)
        return {"deleted": cid}

    def put_item(self, cid: str, iid: str, body: dict) -> dict:
        """STAC Transaction PUT: create-or-replace the item at
        (collection, id) — path segments are authoritative over any
        conflicting body fields, per the spec."""
        if self.txn is None:
            raise PermissionError("read-only server (no TransactionClient)")
        body = dict(body)
        body["id"] = iid
        body["collection"] = cid
        self.txn.upsert_item(body)
        return {"updated": iid}

    def delete_item_route(self, cid: str, iid: str) -> dict:
        if self.txn is None:
            raise PermissionError("read-only server (no TransactionClient)")
        self.txn.delete_item(cid, iid)
        return {"deleted": iid}


def _encode_cursor(keys: list) -> str:
    """Opaque keyset token: type-tagged JSON → urlsafe base64.
    Timestamps must round-trip as timestamps — a string-typed value
    compared against a timestamp sort column would corrupt the keyset
    predicate."""
    def enc(v):
        if isinstance(v, _dt):
            return {"t": "ts", "v": v.isoformat()}
        return {"t": "raw", "v": v}
    return base64.urlsafe_b64encode(
        json.dumps([enc(v) for v in keys]).encode()).decode()


def _decode_cursor(tok: str) -> list:
    out = []
    for e in json.loads(base64.urlsafe_b64decode(tok.encode())):
        out.append(_dt.fromisoformat(e["v"]) if e["t"] == "ts"
                   else e["v"])
    return out


def _params_to_search(params: dict) -> Search:
    """Query params / POST body → Search. List-valued fields accept
    both JSON arrays (POST) and comma strings (GET), like the
    reference's serde layer (crates/core/src/search.rs)."""
    def as_list(v):
        if v is None:
            return None
        if isinstance(v, str):
            return [s for s in v.split(",") if s]
        return list(v)

    def as_floats(v):
        if v is None:
            return None
        if isinstance(v, str):
            return [float(s) for s in v.split(",")]
        return [float(x) for x in v]

    intersects = params.get("intersects")
    if isinstance(intersects, str):
        intersects = json.loads(intersects)
    flt = params.get("filter")
    if (isinstance(flt, str) and params.get("filter-lang") == "cql2-json"):
        flt = json.loads(flt)
    return Search(
        ids=as_list(params.get("ids")),
        collections=as_list(params.get("collections")),
        bbox=as_floats(params.get("bbox")),
        intersects=intersects,
        datetime=params.get("datetime"),
        filter=flt,
        fields=params.get("fields"),
        sortby=params.get("sortby"),
        limit=int(params["limit"]) if params.get("limit") else None,
        query=params.get("query"),
    )


class _Handler(BaseHTTPRequestHandler):
    app: StacApp = None  # type: ignore[assignment]

    def handle_one_request(self) -> None:
        self._t0 = time.perf_counter()
        super().handle_one_request()

    def log_request(self, code="-", size="-") -> None:
        """One INFO record per request on this module's logger —
        method, route, status, ms from the request line to the status
        line — instead of http.server's stderr line. Logging that is
        left unconfigured drops it at the level check."""
        _log.info("%s %s %s %.1f ms", self.command,
                  urllib.parse.urlparse(getattr(self, "path", "")).path,
                  getattr(code, "value", code),
                  (time.perf_counter() - self._t0) * 1000.0)

    def log_message(self, *a):  # http.server's own stderr lines
        pass

    def _send(self, obj, status: int = 200, ctype: str = _JSON) -> None:
        data = json.dumps(obj).encode("utf-8")
        self.send_response(status)
        self.send_header("Content-Type", ctype)
        self.send_header("Content-Length", str(len(data)))
        self.end_headers()
        self.wfile.write(data)

    def _error(self, status: int, msg: str) -> None:
        self._send({"code": status, "description": msg}, status=status)

    def _route(self, method: str, body: dict | None) -> None:
        app = self.app
        parsed = urllib.parse.urlparse(self.path)
        parts = [p for p in parsed.path.split("/") if p]
        params = {k: v[0] for k, v in
                  urllib.parse.parse_qs(parsed.query).items()}
        if body:
            params.update(body)
        try:
            if method == "GET":
                if not parts:
                    return self._send(app.landing())
                if parts == ["api"]:
                    return self._send(
                        app.api_description(),
                        ctype="application/vnd.oai.openapi+json")
                if parts == ["conformance"]:
                    return self._send(app.conformance())
                if parts == ["queryables"]:
                    return self._send(
                        app.queryables(), ctype="application/schema+json")
                if parts == ["collections"]:
                    return self._send(app.collections())
                if len(parts) == 2 and parts[0] == "collections":
                    c = app.collection(parts[1])
                    return (self._send(c) if c else
                            self._error(404, f"no collection {parts[1]}"))
                if (len(parts) == 3 and parts[0] == "collections"
                        and parts[2] == "items"):
                    return self._send(
                        app.collection_items(parts[1], params),
                        ctype=_GEOJSON)
                if (len(parts) == 4 and parts[0] == "collections"
                        and parts[2] == "items"):
                    it = app.item(parts[1], parts[3])
                    return (self._send(it, ctype=_GEOJSON) if it else
                            self._error(404, f"no item {parts[3]}"))
                if parts == ["search"]:
                    return self._send(app.search(params, "GET"),
                                      ctype=_GEOJSON)
            elif method == "PUT":
                if (len(parts) == 4 and parts[0] == "collections"
                        and parts[2] == "items"):
                    return self._send(
                        app.put_item(parts[1], parts[3], body or {}))
                if len(parts) == 2 and parts[0] == "collections":
                    return self._send(
                        app.put_collection(parts[1], body or {}))
            elif method == "DELETE":
                if (len(parts) == 4 and parts[0] == "collections"
                        and parts[2] == "items"):
                    return self._send(
                        app.delete_item_route(parts[1], parts[3]))
                if len(parts) == 2 and parts[0] == "collections":
                    return self._send(
                        app.delete_collection_route(parts[1]))
            else:  # POST
                if parts == ["search"]:
                    return self._send(app.search(params, "POST"),
                                      ctype=_GEOJSON)
                if parts == ["collections"]:
                    # the collection document is the request BODY —
                    # query params must not leak into stored metadata
                    return self._send(app.post_collection(body or {}),
                                      status=201)
                if (len(parts) == 3 and parts[0] == "collections"
                        and parts[2] == "items"):
                    return self._send(
                        app.post_item(parts[1], body or {}), status=201)
            self._error(404, f"no route {method} {parsed.path}")
        except (SearchValidationError, QueryNotImplemented,
                ValueError, KeyError, TypeError, IndexError,
                AnalysisException) as e:
            # KeyError/TypeError cover malformed request documents
            # (e.g. POST /collections without "id"), AnalysisException
            # a plan naming a column the table lacks (e.g. an unknown
            # sortby field) — a bad request must answer 400, never
            # abort the connection
            self._error(400, f"{type(e).__name__}: {e}")
        except PermissionError as e:
            self._error(405, str(e))
        except Exception as e:
            # an engine failure must still answer, never drop the
            # connection
            _log.exception("%s %s failed", method, self.path)
            self._error(500, f"{type(e).__name__}: {e}")

    def do_GET(self):
        self._route("GET", None)

    def _route_with_body(self, method: str) -> None:
        n = int(self.headers.get("Content-Length") or 0)
        try:
            body = (json.loads(self.rfile.read(n).decode("utf-8"))
                    if n else {})
        except (json.JSONDecodeError, UnicodeDecodeError) as e:
            return self._error(400, f"invalid JSON body: {e}")
        if not isinstance(body, dict):
            return self._error(400, "JSON body must be an object")
        self._route(method, body)

    def do_POST(self):
        self._route_with_body("POST")

    def do_PUT(self):
        self._route_with_body("PUT")

    def do_DELETE(self):
        self._route("DELETE", None)


def serve(items: DataFrame | None = None, txn=None,
          host: str = "127.0.0.1", port: int = 0,
          background: bool = False, ready=None):
    """Start the STAC API server; returns (server, base_url). With
    ``background=True`` the accept loop runs in a daemon thread (the
    test/driver mode); otherwise this blocks like ``rustac serve``.
    ``ready(base_url)`` (if given) fires after the port is bound but
    BEFORE the blocking accept loop — foreground callers use it for
    startup feedback, since their return-value base arrives only
    after shutdown.

    Each request leaves one INFO record (method, route, status, ms) on
    the ``rustac_spark.stac.server`` logger; configure a handler to
    see them.

    Spark note: handler threads share the one SparkSession — Spark
    sessions are thread-safe for concurrent job submission, and the
    FAIR scheduler can be enabled for latency isolation between
    concurrent searches. With ``txn=``, every request reads CURRENT,
    and ``SnapshotTable.read`` hands back the same DataFrame until a
    commit moves it, so a request plans only its query; a skip-paged
    search counts numberMatched on a second thread beside its page,
    under the request's job group and description."""
    handler = type("BoundHandler", (_Handler,), {})
    srv = ThreadingHTTPServer((host, port), handler)
    base = f"http://{host}:{srv.server_address[1]}"
    handler.app = StacApp(items=items, txn=txn, root=base)
    if ready is not None:
        ready(base)
    if background:
        t = threading.Thread(target=srv.serve_forever, daemon=True)
        t.start()
        return srv, base
    try:
        srv.serve_forever()
    finally:
        srv.server_close()
    return srv, base

"""HTTP STAC API source against an in-process mock server: next-link
paging, merge-body semantics, max_pages cap, empty results."""

import json
import threading
from http.server import BaseHTTPRequestHandler, HTTPServer

import pytest


def _item(i):
    return {"type": "Feature", "id": f"item-{i}",
            "properties": {"datetime": "2024-01-01T00:00:00Z", "page_seq": i},
            "geometry": {"type": "Point", "coordinates": [float(i), 0.0]}}


class _Handler(BaseHTTPRequestHandler):
    """3 pages of 2 items; page advances via the 'page' field of the
    next link's body; page 2's link uses merge:true."""
    calls = []

    def do_POST(self):
        n = int(self.headers.get("Content-Length", 0))
        body = json.loads(self.rfile.read(n) or b"{}")
        _Handler.calls.append(body)
        page = int(body.get("page", 0))
        base = f"http://{self.headers['Host']}"
        doc = {"type": "FeatureCollection",
               "features": [_item(2 * page), _item(2 * page + 1)],
               "links": []}
        if page == 0:
            doc["links"] = [{"rel": "next", "href": f"{base}/search",
                             "body": {"page": 1}}]
        elif page == 1:
            # merge:true → original search body must be preserved
            doc["links"] = [{"rel": "next", "href": f"{base}/search",
                             "body": {"page": 2}, "merge": True}]
        out = json.dumps(doc).encode()
        self.send_response(200)
        self.send_header("Content-Type", "application/json")
        self.send_header("Content-Length", str(len(out)))
        self.end_headers()
        self.wfile.write(out)

    def log_message(self, *a):
        pass


@pytest.fixture()
def mock_api():
    _Handler.calls = []
    srv = HTTPServer(("127.0.0.1", 0), _Handler)
    t = threading.Thread(target=srv.serve_forever, daemon=True)
    t.start()
    yield f"http://127.0.0.1:{srv.server_address[1]}"
    srv.shutdown()


def test_fetch_follows_next_links_and_merges(mock_api):
    from rustac_spark.stac.api_client import fetch_search_features

    feats = list(fetch_search_features(
        mock_api, {"collections": ["c1"], "limit": 2}))
    assert [f["id"] for f in feats] == [f"item-{i}" for i in range(6)]
    # merge:true page carried the original body fields forward
    assert _Handler.calls[2]["page"] == 2
    assert _Handler.calls[2]["collections"] == ["c1"]
    # the plain-body page did NOT inherit the original search
    assert "collections" not in _Handler.calls[1]


def test_fetch_max_pages_cap(mock_api):
    from rustac_spark.stac.api_client import fetch_search_features

    feats = list(fetch_search_features(mock_api, {}, max_pages=2))
    assert len(feats) == 4


def test_read_stac_api_dataframe(spark, mock_api):
    from rustac_spark.stac.api_client import read_stac_api

    df = read_stac_api(spark, mock_api, {"limit": 2})
    assert df.count() == 6
    ids = {r["id"] for r in df.select("id").collect()}
    assert ids == {f"item-{i}" for i in range(6)}
    # nested properties survive the distributed NDJSON parse
    seqs = {r[0] for r in df.select("properties.page_seq").collect()}
    assert seqs == set(range(6))


def test_fetch_prefetches_next_page(mock_api):
    """Page n+1's request must reach the server while page n is still
    being consumed (one-page-ahead prefetch), and the feature order /
    merge semantics must be unchanged."""
    import time

    from rustac_spark.stac.api_client import fetch_search_features

    gen = fetch_search_features(mock_api, {"collections": ["c1"]})
    first = next(gen)  # page 0 downloaded; page 1 fetch launched
    deadline = time.time() + 5.0
    while len(_Handler.calls) < 2 and time.time() < deadline:
        time.sleep(0.01)
    # page 1 was requested before page 0 was consumed
    assert len(_Handler.calls) >= 2
    rest = list(gen)
    assert ([first["id"]] + [f["id"] for f in rest]
            == [f"item-{i}" for i in range(6)])
    assert _Handler.calls[2]["collections"] == ["c1"]  # merge preserved


def test_fetch_propagates_prefetch_error():
    """An HTTP failure on the prefetched page surfaces as an exception
    when that page is reached — after page 0's features were already
    yielded intact."""
    import urllib.error

    from rustac_spark.stac.api_client import fetch_search_features

    class _FailHandler(BaseHTTPRequestHandler):
        def do_POST(self):
            n = int(self.headers.get("Content-Length", 0))
            body = json.loads(self.rfile.read(n) or b"{}")
            page = int(body.get("page", 0))
            if page >= 1:
                self.send_response(500)
                self.send_header("Content-Length", "0")
                self.end_headers()
                return
            base = f"http://{self.headers['Host']}"
            doc = {"type": "FeatureCollection",
                   "features": [_item(0), _item(1)],
                   "links": [{"rel": "next", "href": f"{base}/search",
                              "body": {"page": 1}}]}
            out = json.dumps(doc).encode()
            self.send_response(200)
            self.send_header("Content-Length", str(len(out)))
            self.end_headers()
            self.wfile.write(out)

        def log_message(self, *a):
            pass

    srv = HTTPServer(("127.0.0.1", 0), _FailHandler)
    t = threading.Thread(target=srv.serve_forever, daemon=True)
    t.start()
    try:
        gen = fetch_search_features(
            f"http://127.0.0.1:{srv.server_address[1]}", {})
        assert next(gen)["id"] == "item-0"
        assert next(gen)["id"] == "item-1"
        with pytest.raises(urllib.error.HTTPError):
            next(gen)
    finally:
        srv.shutdown()


def test_read_stac_api_empty_result_is_typed(spark):
    """An empty search must return a TYPED empty frame (minimal STAC
    item columns) so callers can keep chaining projections — not the
    old zero-column spark.range(0).select() (round-6 verdict #3)."""
    import threading
    from http.server import BaseHTTPRequestHandler, HTTPServer

    class _Empty(BaseHTTPRequestHandler):
        def do_POST(self):
            out = json.dumps({"type": "FeatureCollection",
                              "features": [], "links": []}).encode()
            self.send_response(200)
            self.send_header("Content-Type", "application/json")
            self.send_header("Content-Length", str(len(out)))
            self.end_headers()
            self.wfile.write(out)

        def log_message(self, *a):
            pass

    srv = HTTPServer(("127.0.0.1", 0), _Empty)
    threading.Thread(target=srv.serve_forever, daemon=True).start()
    try:
        from rustac_spark.stac.api_client import read_stac_api
        df = read_stac_api(
            spark, f"http://127.0.0.1:{srv.server_address[1]}")
        assert df.count() == 0
        assert df.select("id").count() == 0  # projection chains work
        assert {"type", "stac_version", "id", "collection"} <= set(
            df.columns)
    finally:
        srv.shutdown()


def test_fetch_early_exit_does_not_block_on_prefetch(mock_api):
    """Abandoning the generator after the first page must return
    promptly even though a prefetch of page 2 is in flight (round-6
    advice: the pool context manager joined the worker on exit)."""
    import time

    from rustac_spark.stac.api_client import fetch_search_features

    gen = fetch_search_features(mock_api, {"collections": ["c"]})
    first = next(gen)
    t0 = time.time()
    gen.close()  # GeneratorExit inside the yield loop
    assert time.time() - t0 < 2.0
    assert first["id"] == "item-0"


def test_abandoned_prefetch_does_not_hold_process_exit():
    """A process that takes page 1 and exits must not wait for the
    prefetch of page 2: Python joins non-daemon threads at exit, which
    would hold the process for up to `timeout`."""
    import os
    import subprocess
    import sys
    import time
    from http.server import ThreadingHTTPServer

    release = threading.Event()

    class _Slow(BaseHTTPRequestHandler):
        def do_POST(self):
            n = int(self.headers.get("Content-Length", 0))
            page = int(json.loads(self.rfile.read(n) or b"{}")
                       .get("page", 0))
            if page >= 1:
                release.wait(10)  # page 2 hangs until teardown
            base = f"http://{self.headers['Host']}"
            doc = {"type": "FeatureCollection",
                   "features": [_item(2 * page)],
                   "links": [{"rel": "next", "href": f"{base}/search",
                              "body": {"page": page + 1}}]}
            out = json.dumps(doc).encode()
            self.send_response(200)
            self.send_header("Content-Length", str(len(out)))
            self.end_headers()
            self.wfile.write(out)

        def log_message(self, *a):
            pass

    srv = ThreadingHTTPServer(("127.0.0.1", 0), _Slow)
    srv.daemon_threads = True
    threading.Thread(target=srv.serve_forever, daemon=True).start()
    child = (
        "import sys\n"
        "from rustac_spark.stac.api_client import fetch_search_features\n"
        "gen = fetch_search_features(sys.argv[1], timeout=10)\n"
        "print(next(gen)['id'], flush=True)\n")
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    proc = subprocess.Popen(
        [sys.executable, "-c", child,
         f"http://127.0.0.1:{srv.server_address[1]}"],
        stdout=subprocess.PIPE, text=True, cwd=root)
    try:
        assert proc.stdout.readline().strip() == "item-0"
        t0 = time.time()
        proc.wait(timeout=15)
        assert time.time() - t0 < 3.0
    finally:
        proc.kill()
        release.set()
        srv.shutdown()

"""Loopback serving harness of the `serve` workload: the STAC API
server with every request's Spark jobs labelled, a stdlib HTTP client,
and a closed-loop driver."""

from __future__ import annotations

import json
import threading
import time
import urllib.error
import urllib.request

LABEL_HEADER = "X-Bench-Label"
TIMEOUT_S = 60.0


class Server:
    """``serve()`` in the background. The handler's ``_route`` is wrapped
    so each request's Spark jobs carry the request's label as their job
    description, and, while a tracer is set, the request is one span
    (``stac.server.route``) whose child spans share its label."""

    def __init__(self, spark, **serve_kw):
        from rustac_spark.stac import server

        self.tracer = None
        sc = spark.sparkContext
        orig = self._orig = server._Handler._route
        this = self

        def route(handler, method, body):
            label = handler.headers.get(LABEL_HEADER)
            sc.setJobDescription(label)
            tracer = this.tracer
            try:
                if tracer is None:
                    return orig(handler, method, body)
                tracer.request = label
                with tracer.span("stac.server.route"):
                    return orig(handler, method, body)
            finally:
                if tracer is not None:
                    tracer.request = None
                sc.setJobDescription(None)

        server._Handler._route = route
        self.srv, self.base = server.serve(background=True, **serve_kw)

    def close(self) -> None:
        from rustac_spark.stac import server

        self.srv.shutdown()
        self.srv.server_close()
        server._Handler._route = self._orig


def call(base: str, method: str, path: str, body: dict | None,
         label: str) -> tuple[int | None, dict | None, float, str | None]:
    """One request → (status, json, latency_ms, error). A dropped
    connection, a timeout or a body that is not JSON is an error."""
    data = json.dumps(body).encode() if body is not None else None
    req = urllib.request.Request(
        base + path, data=data, method=method,
        headers={"Content-Type": "application/json", LABEL_HEADER: label})
    t0 = time.perf_counter()
    try:
        with urllib.request.urlopen(req, timeout=TIMEOUT_S) as r:
            raw, status = r.read(), r.status
    except urllib.error.HTTPError as e:
        return e.code, None, (time.perf_counter() - t0) * 1000.0, \
            f"HTTP {e.code}"
    except (urllib.error.URLError, OSError) as e:
        return None, None, (time.perf_counter() - t0) * 1000.0, repr(e)
    ms = (time.perf_counter() - t0) * 1000.0
    try:
        return status, json.loads(raw), ms, None
    except ValueError as e:
        return status, None, ms, f"bad JSON: {e}"


def closed_loop(clients: list, seconds: float) -> float:
    """Run each client callable ``client(deadline)`` in its own thread;
    each sends its next request only after the previous one completed
    and decides from the deadline when to stop. Returns the elapsed
    seconds until the last client finished."""
    t0 = time.perf_counter()
    deadline = t0 + seconds
    errors: list[BaseException] = []

    def body(client):
        try:
            client(deadline)
        except BaseException as e:  # surfaced after join
            errors.append(e)
            raise

    threads = [threading.Thread(target=body, args=(c,), daemon=True)
               for c in clients]
    for t in threads:
        t.start()
    for t in threads:
        t.join(timeout=seconds + 10 * TIMEOUT_S)
    if any(t.is_alive() for t in threads):
        raise TimeoutError("a client thread did not finish")
    if errors:
        raise errors[0]
    return time.perf_counter() - t0

"""`serve` workload: the STAC API server over a transactional item table
(``serve(txn=TransactionClient(...))``), with two reader clients sending
the search request mix and one writer committing new items and
upserts, all in a closed loop.

Readers. The mix is stratified: every block of nine requests holds
each class once, in a seeded order, and each measured window starts a
new block. No traffic trace of a real deployment exists, so the
uniform mix is an assumption; the window's latency is the mean over
classes of each class's mean, which keeps the mix uniform however many
requests of the last, partial block the window holds. Expected answers
come from a numpy filter over a pandas copy of the table taken in
set-up, independent of the engine's planner:
- searches: ``numberMatched`` equals the expected count, and
  ``numberReturned`` equals ``min(limit, matched - skip)``; for bbox,
  intersects and datetime searches, which new items can also match,
  the count lies between the set-up count and that plus every item
  posted so far; a count may be one short while an upsert is between
  its delete and append commits;
- keyset pages: ids ascending within a page and past the previous
  page's last id, page sizes matching the expected count;
- item GET: the requested id and collection come back;
- collections: the table's collections, plus the writer's.

Writer. It repeats POST, POST, PUT. A POST sends a FeatureCollection of
``BATCH`` new items to ``/collections/ingest/items``; the next item GET
must return one of them (read-your-writes). A PUT upserts a table item
with its own footprint, datetime and collection and ``eo:cloud_cover``
raised by 0.001, which keeps every reader's expected count; afterwards
exactly one version of it must exist, with the new value. There is one
writer because concurrent commits raise ``CommitConflict``. Two POSTs
per PUT is, like the read mix, an assumption.
"""

from __future__ import annotations

import datetime as dt
import json
import os
import random
import shutil
import threading
import time
import uuid
from statistics import mean, median

import numpy as np

from .common import WORK, pct
from .serving import Server, call, closed_loop

CLASSES = ["bbox", "intersects_rect", "intersects_poly", "datetime", "cql2",
           "page_skip", "page_keyset", "item", "collections"]
# classes whose count new items can raise
GROWS = {"bbox", "intersects_rect", "intersects_poly", "datetime"}
LIMIT = 50
KEYSET_PAGES = 3
POLY_POOL = 4
READERS = 2
# the warm-up is the shortest window: one writer cycle, one read block
WARM_S = 0.0
BATCH = 100
WRITES = ("post", "post", "put")
POST_COLLECTION = "ingest"
EPOCH = dt.datetime(2024, 1, 1)

SEARCH_LAYERS = [
    ("stac.search.build_plan_ms", "ms"), ("stac.cql2.compile_ms", "ms"),
    ("stac.api.exec_ms", "ms"), ("stac.api.rows_read_per_returned", "ratio"),
    ("stac.items_io.row_to_item_ms", "ms"),
    ("stac.server.http_overhead_ms", "ms"),
    ("search.executor_cpu_ms_per_req", "ms"),
]
INGEST_LAYERS = [
    ("stac.transactions.add_items_ms", "ms"),
    ("stac.transactions.upsert_items_ms", "ms"),
    ("pipeline.snapshots.delete_where_ms", "ms"),
    ("pipeline.snapshots.bytes_rewritten_per_upsert", "bytes"),
    ("pipeline.snapshots.files_end", "count"),
    ("pipeline.snapshots.commits", "count"),
    ("ingest.read_first_p50_ms", "ms"),
    ("ingest.read_last_p50_ms", "ms"),
    ("ingest.collections.jobs_per_req", "count"),
    ("ingest.jobs_per_write", "count"),
]


def convex_poly(rng: random.Random, cx: float, cy: float) -> list:
    """Closed ring of a jittered convex hexagon around (cx, cy)."""
    r = rng.uniform(0.05, 0.4)
    ring = []
    for i in range(6):
        a = 2 * np.pi * (i + rng.uniform(-0.3, 0.3)) / 6
        ring.append([cx + r * np.cos(a), cy + r * np.sin(a)])
    return ring + [ring[0]]


def _holds(check) -> bool:
    """``check()`` on a response body; a missing field, or one of the
    wrong type, makes the output wrong rather than ending the run."""
    try:
        return bool(check())
    except (KeyError, IndexError, TypeError, AttributeError):
        return False


def _why(err: str | None, status: int | None, want: int) -> str:
    """Why an operation failed: the transport error, an unexpected
    status, or else a wrong output."""
    return err or (f"HTTP {status}" if status != want else "wrong output")


def _dir_bytes(path: str) -> int:
    return sum(os.path.getsize(os.path.join(d, f))
               for d, _, fs in os.walk(path) for f in fs
               if f.endswith(".parquet"))


class Table:
    """A pandas copy of the item table and the expected answers."""

    def __init__(self, pdf):
        self.id = pdf["id"].to_numpy()
        self.coll = pdf["collection"].to_numpy()
        self.x0 = pdf["xmin"].to_numpy()
        self.y0 = pdf["ymin"].to_numpy()
        self.x1 = pdf["xmax"].to_numpy()
        self.y1 = pdf["ymax"].to_numpy()
        self.ts = pdf["datetime"].to_numpy().astype("datetime64[s]")
        self.cloud = pdf["cloud"].to_numpy()
        self.collections = sorted(set(self.coll))
        self.per_coll = {c: int((self.coll == c).sum())
                         for c in self.collections}

    def rect(self, x0, y0, x1, y1) -> int:
        return int(((self.x0 <= x1) & (self.x1 >= x0)
                    & (self.y0 <= y1) & (self.y1 >= y0)).sum())

    def convex(self, ring: list) -> int:
        """Rect × convex polygon by separating axes, inclusive."""
        v = np.array(ring[:-1])
        hit = ((self.x0 <= v[:, 0].max()) & (self.x1 >= v[:, 0].min())
               & (self.y0 <= v[:, 1].max()) & (self.y1 >= v[:, 1].min()))
        idx = np.nonzero(hit)[0]
        x0, y0, x1, y1 = self.x0[idx], self.y0[idx], self.x1[idx], self.y1[idx]
        keep = np.ones(len(idx), dtype=bool)
        for i in range(len(v)):
            e = v[(i + 1) % len(v)] - v[i]
            n = np.array([-e[1], e[0]])
            pv = v @ n
            corners = [n[0] * a + n[1] * b
                       for a in (x0, x1) for b in (y0, y1)]
            lo = np.minimum.reduce(corners)
            hi = np.maximum.reduce(corners)
            keep &= ~((hi < pv.min()) | (lo > pv.max()))
        return int(keep.sum())

    def interval(self, t0: dt.datetime, t1: dt.datetime) -> int:
        a, b = np.datetime64(t0, "s"), np.datetime64(t1, "s")
        return int(((self.ts >= a) & (self.ts <= b)).sum())


class ServeWorkload:
    label = "serve"

    def __init__(self, spark, seed: int, scale: dict):
        self.spark = spark
        self.seed = seed
        self.n_items = scale["items"]
        self.attempted = 0
        self.failed = 0
        self.failures: list[str] = []
        self.server = None
        self.wrong_expected = False
        self._lock = threading.Lock()
        self._rng = random.Random(seed)
        self._block: list[str] = []
        self._drawn = 0
        self._segments = 0
        self._n = 0
        self._posted = 0
        self.user_bytes = 0

    # ------------------------------------------------------------ set-up

    def setup(self, wrong_expected: bool = False) -> dict:
        from .inputs import items_path, read_items

        sc = self.spark.sparkContext
        sc.setJobDescription("setup:generate")
        t0 = time.perf_counter()
        self.path = items_path(self.seed, self.n_items)
        t1 = time.perf_counter()
        self._load()
        t2 = time.perf_counter()
        self.table = Table(read_items(self.path))
        self.polys = [self._poly_around(random.Random(f"{self.seed}:{i}"))
                      for i in range(POLY_POOL)]
        t3 = time.perf_counter()
        # warm-up: the closed loop itself, checked but not reported, so
        # Spark's code generation and the JIT settle before measuring
        self.wrong_expected = wrong_expected
        self.measure(WARM_S)
        t4 = time.perf_counter()
        return {"generate_s": t1 - t0, "load_s": t2 - t1,
                "oracle_s": t3 - t2, "warm_s": t4 - t3}

    def _load(self) -> None:
        """A fresh table of the set-up items, behind a new server."""
        from rustac_spark.stac.transactions import TransactionClient

        sc = self.spark.sparkContext
        sc.setJobDescription("setup:load")
        self.table_dir = os.path.join(WORK, "tables", uuid.uuid4().hex[:8])
        self.txn = TransactionClient(self.spark, self.table_dir)
        self.txn.add_items(self.spark.read.parquet(self.path))
        self.server = Server(self.spark, txn=self.txn)
        sc.setJobDescription(None)
        self._posted = 0

    def reset(self) -> None:
        """Back to the table state the first measurement started from: a
        fresh table and the same warm-up, so a second measurement sees
        the same file count and table growth."""
        self.server.close()
        shutil.rmtree(self.table_dir, ignore_errors=True)
        self._load()
        self.measure(WARM_S)

    def close(self) -> None:
        if self.server is not None:
            self.server.close()
        shutil.rmtree(os.path.join(WORK, "tables"), ignore_errors=True)

    # ----------------------------------------------------------- readers

    def _poly_around(self, rng: random.Random) -> list:
        i = rng.randrange(len(self.table.id))
        return convex_poly(rng, (self.table.x0[i] + self.table.x1[i]) / 2,
                           (self.table.y0[i] + self.table.y1[i]) / 2)

    def _next_class(self) -> tuple[str, random.Random]:
        with self._lock:
            if not self._block:
                self._block = list(CLASSES)
                self._rng.shuffle(self._block)
            self._drawn += 1
            # each request draws from its own generator, seeded from the
            # shared one in sequence order
            return self._block.pop(), random.Random(self._rng.getrandbits(64))

    def _request(self, cls: str, rng: random.Random) -> dict:
        """→ {cls, method, path, body, expect}. `expect` is the expected
        numberMatched (searches), the (collection, id) (item), or the
        collection list."""
        t = self.table
        i = rng.randrange(len(t.id))
        cx, cy = (t.x0[i] + t.x1[i]) / 2, (t.y0[i] + t.y1[i]) / 2
        req = {"cls": cls, "method": "POST", "path": "/search"}
        if cls in ("bbox", "intersects_rect"):
            w, h = rng.uniform(0.05, 0.6), rng.uniform(0.05, 0.6)
            b = [cx - w, cy - h, cx + w, cy + h]
            if cls == "bbox":
                req["body"] = {"bbox": b, "limit": LIMIT}
            else:
                ring = [[b[0], b[1]], [b[2], b[1]], [b[2], b[3]],
                        [b[0], b[3]], [b[0], b[1]]]
                req["body"] = {"intersects": {"type": "Polygon",
                                              "coordinates": [ring]},
                               "limit": LIMIT}
            req["expect"] = t.rect(*b)
        elif cls == "intersects_poly":
            # half from a small repeating pool, half freshly jittered
            ring = (self.polys[rng.randrange(POLY_POOL)]
                    if rng.random() < 0.5 else convex_poly(rng, cx, cy))
            req["body"] = {"intersects": {"type": "Polygon",
                                          "coordinates": [ring]},
                           "limit": LIMIT}
            req["expect"] = t.convex(ring)
        elif cls == "datetime":
            a = EPOCH + dt.timedelta(days=rng.randrange(0, 362))
            b = a + dt.timedelta(days=rng.randrange(1, 4))
            req["body"] = {"datetime": f"{a.isoformat()}Z/{b.isoformat()}Z",
                           "limit": LIMIT}
            req["expect"] = t.interval(a, b)
        elif cls == "cql2":
            c = rng.choice(t.collections)
            x = round(rng.uniform(1.0, 40.0), 2)
            req["body"] = {"filter-lang": "cql2-json", "limit": LIMIT,
                           "filter": {"op": "and", "args": [
                               {"op": "<", "args": [
                                   {"property": "eo:cloud_cover"}, x]},
                               {"op": "=", "args": [
                                   {"property": "collection"}, c]}]}}
            req["expect"] = int(((t.cloud < x) & (t.coll == c)).sum())
        elif cls == "page_skip":
            c = rng.choice(t.collections)
            n = t.per_coll[c]
            skip = rng.randrange(0, max(1, min(5000, n - LIMIT)))
            req["body"] = {"collections": [c], "skip": skip, "limit": LIMIT}
            req["expect"] = n
        elif cls == "page_keyset":
            c = rng.choice(t.collections)
            req["body"] = {"collections": [c], "paging": "keyset",
                           "limit": LIMIT}
            req["expect"] = t.per_coll[c]
        elif cls == "item":
            req.update(method="GET", body=None,
                       path=f"/collections/{t.coll[i]}/items/{t.id[i]}",
                       expect=(t.coll[i], t.id[i]))
        else:
            req.update(method="GET", body=None, path="/collections",
                       expect=t.collections)
        with self._lock:
            wrong, self.wrong_expected = self.wrong_expected, False
        if wrong:
            # harness self-check: one deliberately wrong expected value
            e = req["expect"]
            req["expect"] = ((e[0], e[1] + "#wrong") if cls == "item" else
                             e + ["#wrong"] if cls == "collections" else
                             0 if cls == "page_keyset" else e + 10**9)
        return req

    def _check(self, req: dict, doc: dict, state: dict) -> bool:
        cls, exp = req["cls"], req["expect"]
        if cls == "item":
            return (doc.get("id"), doc.get("collection")) == (exp[1], exp[0])
        if cls == "collections":
            got = sorted(c["id"] for c in doc["collections"])
            return got in (exp, sorted(exp + [POST_COLLECTION]))
        feats = doc.get("features", [])
        ids = [f["id"] for f in feats]
        if ids != sorted(ids) or doc.get("numberReturned") != len(ids):
            return False
        if cls == "page_keyset":
            ok = (len(ids) in (min(LIMIT, exp - state["seen"]),
                               min(LIMIT, exp - state["seen"] - 1))
                  and (not ids or state["last"] is None
                       or ids[0] > state["last"]))
            state["seen"] += len(ids)
            state["last"] = ids[-1] if ids else state["last"]
            nxt = [ln["body"] for ln in doc.get("links", [])
                   if ln["rel"] == "next"]
            state["next"] = nxt[0] if nxt else None
            return ok
        # An upsert commits a delete, then an append: a read between the
        # two misses that item, so counts may be one short. One batch
        # may be committed but not yet counted in _posted.
        matched = doc.get("numberMatched")
        hi = exp + (self._posted + BATCH if cls in GROWS else 0)
        ok = exp - 1 <= matched <= hi
        skip = req["body"].get("skip", 0)
        return ok and len(ids) == min(LIMIT, matched - skip)

    def _read(self, req: dict) -> None:
        """One request; a keyset request follows `next` for up to
        KEYSET_PAGES pages, each timed and checked on its own."""
        pages = KEYSET_PAGES if req["cls"] == "page_keyset" else 1
        state = {"seen": 0, "last": None, "next": None}
        body = req["body"]
        for _ in range(pages):
            label, status, doc, ms, err = self._call(
                req["cls"], req["method"], req["path"], body)
            ok = err is None and status == 200 and _holds(
                lambda: self._check(dict(req, body=body), doc, state))
            self._record(req["cls"], label, ms, ok, _why(err, status, 200),
                         returned=doc.get("numberReturned", 1) if ok else 0)
            if not ok or not state["next"]:
                return
            body = {**body, **state["next"]}

    # ------------------------------------------------------------ writer

    def _item(self, rng: random.Random, iid: str, at: int | None) -> dict:
        """A new item near a random table item, or, with `at`, table row
        `at` itself with ``eo:cloud_cover`` raised by 0.001."""
        t = self.table
        if at is None:
            i = rng.randrange(len(t.id))
            cx = (t.x0[i] + t.x1[i]) / 2 + rng.uniform(-0.05, 0.05)
            cy = (t.y0[i] + t.y1[i]) / 2 + rng.uniform(-0.05, 0.05)
            d = 0.001 + rng.random() * 0.01
            b = [cx - d, cy - d, cx + d, cy + d]
            ts = EPOCH + dt.timedelta(seconds=rng.randrange(366 * 86400))
            cid, cloud = POST_COLLECTION, round(rng.uniform(0, 100), 2)
        else:
            b = [t.x0[at], t.y0[at], t.x1[at], t.y1[at]]
            ts = t.ts[at].astype(dt.datetime)
            cid, cloud = t.coll[at], float(t.cloud[at]) + 0.001
        ring = [[b[0], b[1]], [b[2], b[1]], [b[2], b[3]], [b[0], b[3]],
                [b[0], b[1]]]
        return {"type": "Feature", "stac_version": "1.1.0", "id": iid,
                "collection": cid,
                "geometry": {"type": "Polygon", "coordinates": [ring]},
                "bbox": [float(v) for v in b],
                "properties": {"datetime": ts.isoformat() + "Z",
                               "eo:cloud_cover": cloud},
                "links": [], "assets": {}}

    def _write(self, op: str, rng: random.Random) -> None:
        t0 = time.perf_counter()
        if op == "post":
            with self._lock:
                wrong, self.wrong_expected = self.wrong_expected, False
            feats = [self._item(rng, f"ing-{self.seed}-{self._posted + j}",
                                None) for j in range(BATCH)]
            body = {"type": "FeatureCollection", "features": feats}
            label, status, doc, ms, err = self._call(
                "post", "POST", f"/collections/{POST_COLLECTION}/items", body)
            ok = err is None and status == 201 and doc == {"added": BATCH}
            if ok:
                with self._lock:
                    self._posted += BATCH
                    self.user_bytes += len(json.dumps(body))
                probe = feats[rng.randrange(BATCH)]["id"]
                if wrong:  # harness self-check: a wrong expected id
                    probe += "#wrong"
                _, st, got, _, err = self._call(
                    "ryw", "GET",
                    f"/collections/{POST_COLLECTION}/items/{probe}", None)
                ok = err is None and st == 200 and _holds(
                    lambda: got["id"] == probe)
        else:
            at = rng.randrange(len(self.table.id))
            item = self._item(rng, self.table.id[at], at)
            cid, iid = item["collection"], item["id"]
            label, status, doc, ms, err = self._call(
                "put", "PUT", f"/collections/{cid}/items/{iid}", item)
            ok = err is None and status == 200
            if ok:
                with self._lock:
                    self.user_bytes += len(json.dumps(item))
                _, st, got, _, err = self._call(
                    "verify", "POST", "/search",
                    {"ids": [iid], "collections": [cid], "limit": 5})
                ok = err is None and st == 200 and _holds(
                    lambda: got["numberMatched"] == 1
                    and abs(got["features"][0]["properties"]
                            ["eo:cloud_cover"]
                            - item["properties"]["eo:cloud_cover"]) < 1e-9)
        self._record(op, label, ms, ok,
                     _why(err, status, 201 if op == "post" else 200), t0=t0)

    # ---------------------------------------------------------- plumbing

    def _call(self, kind: str, method: str, path: str, body):
        with self._lock:
            self._n += 1
            label = f"{self.label}:{kind}:{self._seg}.{self._n}"
        return (label, *call(self.server.base, method, path, body, label))

    def _record(self, kind: str, label: str, ms: float, ok: bool, why,
                returned: int = 0, t0: float | None = None) -> None:
        self.records.append({"kind": kind, "label": label, "ms": ms,
                             "ok": ok, "returned": returned,
                             "t": t0 if t0 is not None else time.perf_counter()})
        with self._lock:
            self.attempted += 1
            self.failed += not ok
        if not ok:
            self.failures.append(f"{label}: {why}")

    # ----------------------------------------------------------- measure

    def measure(self, seconds: float) -> dict:
        self._seg = self._segments
        self._segments += 1
        self.records = []
        with self._lock:
            self._block = []
            self._drawn = 0
        self.bytes_start = _dir_bytes(self.table_dir)
        self.user_bytes = 0
        sid0 = self.txn.table.current_snapshot_id()
        posted0 = self._posted
        wrng = random.Random(self._rng.getrandbits(64))
        writing = threading.Event()
        writing.set()
        span = {}

        def writer(deadline):
            # Whole POST, POST, PUT cycles, so the committed-items rate
            # does not depend on where the deadline cuts the sequence.
            # The window ends at the cycle boundary nearest the deadline:
            # a cycle takes about as long as the window, and stopping at
            # the first boundary past it would double some windows.
            t, cycles = time.perf_counter(), 0
            try:
                while True:
                    for op in WRITES:
                        self._write(op, wrng)
                    cycles += 1
                    now = time.perf_counter()
                    if deadline - now < (now - t) / cycles / 2:
                        break
            finally:
                span["writer_s"] = time.perf_counter() - t
                writing.clear()

        def reader(deadline):
            # reads run for as long as writes do, and until every class
            # has been sent once in the window
            while writing.is_set() or self._drawn < len(CLASSES):
                cls, rng = self._next_class()
                self._read(self._request(cls, rng))

        elapsed = closed_loop([writer] + [reader] * READERS, seconds)
        reads = [r for r in self.records if r["kind"] in CLASSES]
        by_cls: dict[str, list] = {}
        for r in reads:
            by_cls.setdefault(r["kind"], []).append(r["ms"])
        return {"samples_ms": [r["ms"] for r in reads],
                "latency_ms": mean(mean(v) for v in by_cls.values()),
                "throughput": (self._posted - posted0) / span["writer_s"],
                "read_rps": len(reads) / elapsed,
                "n": len(reads), "records": self.records, "sid0": sid0}

    def figures(self, m: dict) -> dict:
        recs = m["records"]

        def p50(kind):
            v = [r["ms"] for r in recs if r["kind"] == kind]
            return median(v) if v else 0.0

        s = m["samples_ms"]
        out = {"search_p50_ms": median(s),
               "search_p90_ms": pct(s, 0.90),
               "search_rps": m["read_rps"],
               "ingest_write_p50_ms": p50("post"),
               "ingest_upsert_p50_ms": p50("put"),
               "ingest_items_per_s": m["throughput"],
               "stored_bytes_per_user_byte":
                   (_dir_bytes(self.table_dir) - self.bytes_start)
                   / max(self.user_bytes, 1)}
        for cls in CLASSES:
            out[f"search.{cls}.p50_ms"] = p50(cls)
        return out

    # ----------------------------------------------------------- tracing

    def install_trace(self, tracer) -> None:
        from rustac_spark.pipeline.snapshots import SnapshotTable
        from rustac_spark.stac import api, cql2, server
        from rustac_spark.stac.transactions import TransactionClient

        self.server.tracer = tracer
        for owner, attr in ((server, "search_page"),
                            (server, "search_page_keyset"),
                            (api, "get_item")):
            tracer.wrap(owner, attr, "stac.api.exec")
        tracer.wrap(api, "build_plan", "stac.search.build_plan")
        tracer.wrap(cql2, "compile_filter", "stac.cql2.compile")
        tracer.wrap(server, "row_to_item", "stac.items_io.row_to_item")
        tracer.wrap(TransactionClient, "add_items",
                    "stac.transactions.add_items")
        tracer.wrap(TransactionClient, "upsert_items",
                    "stac.transactions.upsert_items")
        tracer.wrap(SnapshotTable, "delete_where",
                    "pipeline.snapshots.delete_where")

    def layer_metrics(self, tracer, jobs: list[dict], m: dict) -> dict:
        self.server.tracer = None
        out = self._read_layers(tracer, jobs, m["records"])
        out.update(self._write_layers(tracer, jobs, m))
        return out

    def _read_layers(self, tracer, jobs, recs) -> dict:
        by_label: dict[str, list] = {}
        for sp in tracer.spans:
            by_label.setdefault(sp["request"], []).append(sp)
        job_by: dict[str, list] = {}
        for j in jobs:
            job_by.setdefault(j["desc"], []).append(j)

        def dur(sp):
            return (sp["end"] - sp["start"]) * 1000.0

        build, compile_, exe, to_item, overhead = [], [], [], [], []
        rows_in = returned = cpu_ns = n = 0
        jobs_per = {c: [] for c in CLASSES}
        for r in recs:
            if r["kind"] not in CLASSES:
                continue
            n += 1
            js = job_by.get(r["label"], [])
            jobs_per[r["kind"]].append(len(js))
            cpu_ns += sum(j["cpu_ns"] for j in js)
            named: dict[str, list] = {}
            for sp in by_label.get(r["label"], []):
                named.setdefault(sp["name"], []).append(sp)
            if "stac.search.build_plan" in named:
                build.append(sum(map(dur, named["stac.search.build_plan"])))
            if "stac.cql2.compile" in named:
                compile_.append(sum(map(dur, named["stac.cql2.compile"])))
            if "stac.api.exec" in named:
                exe.append(sum(tracer.self_ms(sp)
                               for sp in named["stac.api.exec"]))
                rows_in += sum(j["in_rows"] for j in js)
                returned += r["returned"]
            if "stac.items_io.row_to_item" in named:
                to_item.append(sum(map(dur,
                                       named["stac.items_io.row_to_item"])))
            if "stac.server.route" in named:
                overhead.append(r["ms"] - dur(named["stac.server.route"][0]))
        out = {f"search.{c}.jobs": median(v) for c, v in jobs_per.items()
               if v}
        for name, v in (("stac.search.build_plan_ms", build),
                        ("stac.cql2.compile_ms", compile_),
                        ("stac.api.exec_ms", exe),
                        ("stac.items_io.row_to_item_ms", to_item),
                        ("stac.server.http_overhead_ms", overhead)):
            if v:
                out[name] = median(v)
        out["stac.api.rows_read_per_returned"] = rows_in / max(returned, 1)
        out["search.executor_cpu_ms_per_req"] = cpu_ns / 1e6 / max(n, 1)
        return out

    def _write_layers(self, tracer, jobs, m) -> dict:
        table = self.txn.table

        def span_p50(name):
            v = [(s["end"] - s["start"]) * 1000.0 for s in tracer.by_name(name)]
            return median(v) if v else 0.0

        sid_end = table.current_snapshot_id()
        rewritten = deletes = 0
        for sid in range(m["sid0"] + 1, sid_end + 1):
            snap = table.manifest(sid)
            if snap["operation"] != "delete":
                continue
            deletes += 1
            old = set(table.manifest(snap["parent"])["files"])
            rewritten += sum(os.path.getsize(f) for f in snap["files"]
                             if f not in old)
        n_jobs: dict[str, int] = {}
        for j in jobs:
            n_jobs[j["desc"]] = n_jobs.get(j["desc"], 0) + 1
        recs = m["records"]
        reads = sorted((r for r in recs if r["kind"] in CLASSES),
                       key=lambda r: r["t"])
        q = max(1, len(reads) // 4)
        writes = [n_jobs.get(r["label"], 0) for r in recs
                  if r["kind"] in ("post", "put")]
        colls = [n_jobs.get(r["label"], 0) for r in recs
                 if r["kind"] == "collections"]
        return {
            "stac.transactions.add_items_ms":
                span_p50("stac.transactions.add_items"),
            "stac.transactions.upsert_items_ms":
                span_p50("stac.transactions.upsert_items"),
            "pipeline.snapshots.delete_where_ms":
                span_p50("pipeline.snapshots.delete_where"),
            "pipeline.snapshots.bytes_rewritten_per_upsert":
                rewritten / max(deletes, 1),
            "pipeline.snapshots.files_end": len(table.manifest()["files"]),
            "pipeline.snapshots.commits": sid_end - m["sid0"],
            "ingest.read_first_p50_ms": median([r["ms"] for r in reads[:q]]),
            "ingest.read_last_p50_ms": median([r["ms"] for r in reads[-q:]]),
            "ingest.collections.jobs_per_req": median(colls) if colls else 0.0,
            "ingest.jobs_per_write": median(writes) if writes else 0.0,
        }

"""Shared harness: host-fitted Spark session, host facts, process-tree
RSS sampling, percentiles, the status-store reader and the span tracer.

Everything the benchmark writes lands under ``WORK`` inside the
checkout (``.perfbench_work/``, git-ignored): Spark's local dir, the
JVM and Python temp dirs, the shipped package zip, cached inputs and
trace files.
"""

from __future__ import annotations

import json
import os
import platform
import subprocess
import sys
import threading
import time
import zipfile
from contextlib import contextmanager

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, ".perfbench_work")
DRIVER_HEAP = "4g"  # fits a 15 GB host with the JVM, workers and page cache


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def prepare_process(cpus: int) -> None:
    """Pin the process tree to `cpus` cores (as bench.py does) and point
    every temp dir the Python side or the JVM uses into WORK. Must run
    before pyspark launches the JVM."""
    try:
        os.sched_setaffinity(0, set(range(min(cpus, os.cpu_count() or cpus))))
    except (AttributeError, OSError):
        pass
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    # the JVM-spawned pyspark.daemon workers inherit this and can import
    # rustac_spark straight from the checkout
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    os.environ.setdefault("PYSPARK_PYTHON", sys.executable)
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)


def _zip_package() -> str:
    """Same contents as session.package_zip, written inside WORK."""
    out = os.path.join(WORK, "rustac_spark_pkg.zip")
    pkg = os.path.join(ROOT, "rustac_spark")
    with zipfile.ZipFile(out, "w") as z:
        for d, _dirs, files in os.walk(pkg):
            if "__pycache__" in d:
                continue
            for f in sorted(files):
                if f.endswith(".py"):
                    full = os.path.join(d, f)
                    z.write(full, os.path.relpath(full, ROOT))
    return out


def start_spark(app: str, cpus: int):
    """Session through session.get_spark, fitted to this host: local[cpus],
    a DRIVER_HEAP driver, shuffle/spill and temp files under WORK, a
    status store large enough to keep every job of a run."""
    from rustac_spark import session

    session.package_zip = _zip_package  # keep the zip inside the checkout
    tmp = os.path.join(WORK, "tmp")
    spark = session.get_spark(
        app, master=f"local[{cpus}]", shuffle_partitions=2 * cpus,
        extra={
            "spark.driver.memory": DRIVER_HEAP,
            "spark.local.dir": os.path.join(WORK, "spark-local"),
            "spark.sql.warehouse.dir": os.path.join(WORK, "warehouse"),
            "spark.driver.extraJavaOptions":
                f"-XX:+UseG1GC -XX:ParallelGCThreads={cpus} "
                f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}",
            "spark.ui.enabled": "false",
            "spark.ui.showConsoleProgress": "false",
            "spark.ui.retainedJobs": "100000",
            "spark.ui.retainedStages": "100000",
            "spark.sql.ui.retainedExecutions": "100",
            # bench.py's split size, so pipeline stages see its task shape
            "spark.sql.files.maxPartitionBytes": str(1024 * 1024),
        })
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark, timeout: float = 60.0) -> None:
    """Stop the session, then the JVM it launched, and wait until every
    process this one started (the JVM, pyspark.daemon workers) is gone."""
    gateway = spark.sparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()  # the gateway JVM exits on stdin EOF
        proc.wait(timeout=timeout)
    deadline = time.time() + timeout
    while RssSampler.tree_rss_kb(os.getpid(), children_only=True) \
            and time.time() < deadline:
        time.sleep(0.2)


def host_facts(spark) -> dict:
    def git_rev() -> str | None:
        try:
            out = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT,
                                 capture_output=True, text=True, timeout=5)
            return out.stdout.strip() or None
        except (OSError, subprocess.SubprocessError):
            return None

    mem_kb = 0
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                mem_kb = int(line.split()[1])
    jvm = spark.sparkContext._jvm.java.lang.System
    return {
        "nproc": nproc(),
        "ram_gb": round(mem_kb / 1024 / 1024, 1),
        "spark": spark.version,
        "java": jvm.getProperty("java.version"),
        "python": platform.python_version(),
        "git_rev": git_rev(),
    }


# ------------------------------------------------------------- statistics

def pct(values, q: float) -> float:
    """Percentile by linear interpolation between order statistics."""
    v = sorted(values)
    if not v:
        raise ValueError("no samples")
    pos = (len(v) - 1) * q
    lo = int(pos)
    hi = min(lo + 1, len(v) - 1)
    return v[lo] + (v[hi] - v[lo]) * (pos - lo)


# ------------------------------------------------------------- memory

class RssSampler:
    """Peak RSS of this process and all its descendants (the JVM and the
    pyspark.daemon workers), sampled from /proc."""

    def __init__(self, interval: float = 0.25):
        self.interval = interval
        self.peak_kb = 0
        self._stop = threading.Event()
        self._t = threading.Thread(target=self._loop, daemon=True)

    @staticmethod
    def tree_rss_kb(root: int, children_only: bool = False) -> int:
        children: dict[int, list[int]] = {}
        rss: dict[int, int] = {}
        for name in os.listdir("/proc"):
            if not name.isdigit():
                continue
            try:
                with open(f"/proc/{name}/stat") as f:
                    st = f.read()
                ppid = int(st[st.rindex(")") + 2:].split()[1])
                with open(f"/proc/{name}/statm") as f:
                    pages = int(f.read().split()[1])
            except (OSError, ValueError, IndexError):
                continue
            pid = int(name)
            children.setdefault(ppid, []).append(pid)
            rss[pid] = pages * (os.sysconf("SC_PAGE_SIZE") // 1024)
        total, todo = 0, [root]
        if children_only:
            todo = children.get(root, [])
        while todo:
            p = todo.pop()
            total += rss.get(p, 0)
            todo.extend(children.get(p, []))
        return total

    def _loop(self) -> None:
        me = os.getpid()
        while not self._stop.is_set():
            self.peak_kb = max(self.peak_kb, self.tree_rss_kb(me))
            self._stop.wait(self.interval)

    def start(self) -> "RssSampler":
        self._t.start()
        return self

    def stop(self) -> float:
        self._stop.set()
        self._t.join(timeout=5)
        self.peak_kb = max(self.peak_kb, self.tree_rss_kb(os.getpid()))
        return self.peak_kb / 1024.0


# ------------------------------------------------------------- status store

def _opt(o):
    return o.get() if o.isDefined() else None


def job_metrics(spark) -> list[dict]:
    """Every job in the status store with its description and the summed
    task metrics of its stages (all attempts)."""
    sc = spark.sparkContext
    store = sc._jsc.sc().statusStore()
    jvm = sc._jvm
    stages: dict[int, dict] = {}
    seq = store.stageList(None, False, False,
                          sc._gateway.new_array(jvm.double, 0),
                          jvm.java.util.ArrayList())
    for i in range(seq.size()):
        sd = seq.apply(i)
        m = stages.setdefault(sd.stageId(), {
            "run_ms": 0, "cpu_ns": 0, "shuffle_bytes": 0, "spill_bytes": 0,
            "in_rows": 0, "out_rows": 0})
        m["run_ms"] += sd.executorRunTime()
        m["cpu_ns"] += sd.executorCpuTime()
        m["shuffle_bytes"] += sd.shuffleReadBytes() + sd.shuffleWriteBytes()
        m["spill_bytes"] += sd.memoryBytesSpilled() + sd.diskBytesSpilled()
        m["in_rows"] += sd.inputRecords()
        m["out_rows"] += sd.outputRecords()
    out = []
    seq = store.jobsList(None)
    for i in range(seq.size()):
        jd = seq.apply(i)
        rec = {"job_id": jd.jobId(), "desc": _opt(jd.description()),
               "run_ms": 0, "cpu_ns": 0, "shuffle_bytes": 0,
               "spill_bytes": 0, "in_rows": 0, "out_rows": 0}
        ids = jd.stageIds()
        for j in range(ids.size()):
            for k, v in stages.get(ids.apply(j), {}).items():
                rec[k] += v
        out.append(rec)
    return sorted(out, key=lambda r: r["job_id"])


# ------------------------------------------------------------- tracing

class Tracer:
    """In-memory spans. A span is (name, request, start, end, parent);
    spans of one request share its id. ``wrap`` replaces an attribute
    with a timing wrapper for the duration of the run; ``restore``
    puts every original back."""

    def __init__(self):
        self.spans: list[dict] = []
        self._local = threading.local()
        self._lock = threading.Lock()
        self._patched: list[tuple] = []

    @property
    def request(self):
        return getattr(self._local, "request", None)

    @request.setter
    def request(self, rid) -> None:
        self._local.request = rid

    @contextmanager
    def span(self, name: str):
        stack = getattr(self._local, "stack", None)
        if stack is None:
            stack = self._local.stack = []
        rec = {"name": name, "request": self.request,
               "parent": stack[-1]["name"] if stack else None,
               "start": time.perf_counter()}
        stack.append(rec)
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            stack.pop()
            with self._lock:
                self.spans.append(rec)

    def wrap(self, owner, attr: str, name: str) -> None:
        orig = getattr(owner, attr)
        tracer = self

        def traced(*a, **kw):
            with tracer.span(name):
                return orig(*a, **kw)

        traced.__wrapped__ = orig
        setattr(owner, attr, traced)
        self._patched.append((owner, attr, orig))

    def restore(self) -> None:
        for owner, attr, orig in reversed(self._patched):
            setattr(owner, attr, orig)
        self._patched.clear()

    def by_name(self, name: str) -> list[dict]:
        return [s for s in self.spans if s["name"] == name]

    def self_ms(self, span: dict) -> float:
        """Span duration minus the part its direct children cover."""
        own = (span["end"] - span["start"]) * 1000.0
        kids = [s for s in self.spans
                if s["request"] == span["request"]
                and s["parent"] == span["name"]
                and s["start"] >= span["start"] and s["end"] <= span["end"]
                and s is not span]
        return own - sum((s["end"] - s["start"]) * 1000.0 for s in kids)

    def dump(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump(self.spans, f, default=str)

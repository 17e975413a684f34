#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload {pipeline,serve} \\
        --seed N --seconds S --trace {0,1}

Runs one workload against the engine's public functions, checks every
output, and prints as its last stdout line one JSON object:
``{"correct", "attempted", "failed", "metrics"}``. With ``--trace 0``
the metrics are the end-to-end ones (END_TO_END); with ``--trace 1``
the per-layer ones (per_layer_spec()): the run then measures the
workload untraced, installs the span wrappers and measures it again,
reads per-job task metrics from Spark's status store, and reports the
traced/untraced difference as ``trace.overhead_frac``. Both halves
start from the same state: between them the workload is reset (serve
rebuilds and re-warms its table; every pipeline pass starts in a fresh
run dir). A per-layer metric of a layer the workload does not touch
reads 0.

Host facts, set-up parts and the spans go to
``.perfbench_work/results/`` and stderr.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

WORKLOADS = ("pipeline", "serve")
# inputs per workload; SCALES["tiny"] is the harness self-check's
SCALES = {
    "default": {"pages": 25_000, "items": 20_000},
    "tiny": {"pages": 10_000, "items": 2_000},
}
# The same three figures for every workload:
# - latency_ms: mean latency of the workload's timed operation: one
#   pipeline pass (pipeline); one reader request of the uniform mix of
#   nine classes, i.e. the mean of the class means (serve). A mean, not
#   a median: serve's class latencies are 10x apart, and its median
#   jumps between classes from run to run;
# - throughput_per_s: items ingested per second: pages per second of
#   pass time (pipeline), items committed per second of writer time
#   (serve).
END_TO_END = [
    # name, unit, better, bound
    ("setup_s", "s", "lower", 0.25),
    ("latency_ms", "ms", "lower", 0.25),
    ("throughput_per_s", "1/s", "higher", 0.25),
]
# each workload's named figures, kept per layer (from the untraced half
# of a traced run)
WORKLOAD_FIGURES = [
    ("pipeline_s", "s"), ("pages_per_s", "1/s"),
    ("search_p50_ms", "ms"), ("search_p90_ms", "ms"), ("search_rps", "1/s"),
    ("ingest_write_p50_ms", "ms"), ("ingest_upsert_p50_ms", "ms"),
    ("ingest_items_per_s", "1/s"), ("stored_bytes_per_user_byte", "ratio"),
    ("failed_frac", "ratio"), ("peak_rss_mb", "MB"),
]


def per_layer_spec() -> list[tuple[str, str]]:
    from perfbench.wl_pipeline import STAGE_LAYERS, STAGES
    from perfbench.wl_serve import CLASSES, INGEST_LAYERS, SEARCH_LAYERS

    spec = [(f"{s}.{k}", u) for s in STAGES for k, u in STAGE_LAYERS]
    spec += [("geo.knn.redo_queries", "count"),
             ("pipeline.layer_gap_frac", "ratio")]
    spec += [(f"search.{c}.{k}", u) for c in CLASSES
             for k, u in (("p50_ms", "ms"), ("jobs", "count"))]
    spec += SEARCH_LAYERS + INGEST_LAYERS + WORKLOAD_FIGURES
    spec += [("setup.session_s", "s"), ("setup.generate_s", "s"),
             ("setup.warm_s", "s"), ("trace.overhead_frac", "ratio"),
             ("trace.unlabelled_jobs", "count")]
    return spec


def make_workload(name: str, spark, seed: int, scale: dict):
    if name == "pipeline":
        from perfbench.wl_pipeline import PipelineWorkload
        return PipelineWorkload(spark, seed, scale)
    from perfbench.wl_serve import ServeWorkload
    return ServeWorkload(spark, seed, scale)


def run(workload: str, seed: int, seconds: float, trace: bool,
        scale_name: str = "default", wrong_expected: bool = False,
        spark=None) -> dict:
    """One benchmark run. Returns the result line plus a ``detail``
    record (host facts, set-up parts, raw figures)."""
    from perfbench import common

    cpus = common.nproc()
    sampler = common.RssSampler().start()
    own_session = spark is None
    t0 = time.perf_counter()
    if own_session:
        common.prepare_process(cpus)
        spark = common.start_spark(f"perfbench-{workload}", cpus)
    session_s = time.perf_counter() - t0
    wl = make_workload(workload, spark, seed, SCALES[scale_name])
    try:
        parts = wl.setup(wrong_expected=wrong_expected)
        setup_s = session_s + parts["load_s"] + parts["warm_s"]
        plain = wl.measure(seconds)
        figures = wl.figures(plain)
        detail = {"workload": workload, "seed": seed, "seconds": seconds,
                  "trace": trace, "scale": SCALES[scale_name],
                  "host": common.host_facts(spark), "cpus": cpus,
                  "setup": {"session_s": session_s, **parts},
                  "figures": figures, "n_samples": plain["n"]}
        if not trace:
            detail["peak_rss_mb"] = sampler.stop()
            metrics = {
                "setup_s": setup_s,
                "latency_ms": plain["latency_ms"],
                "throughput_per_s": plain["throughput"],
            }
        else:
            wl.reset()
            tracer = common.Tracer()
            wl.install_trace(tracer)
            try:
                traced = wl.measure(seconds)
            finally:
                tracer.restore()
            jobs = common.job_metrics(spark)
            metrics = {name: 0.0 for name, _ in per_layer_spec()}
            metrics.update(wl.layer_metrics(tracer, jobs, traced))
            metrics["trace.overhead_frac"] = (
                traced["latency_ms"] / plain["latency_ms"] - 1.0)
            metrics.update(figures)
            metrics["failed_frac"] = wl.failed / max(wl.attempted, 1)
            metrics["setup.session_s"] = session_s
            metrics["setup.generate_s"] = parts["generate_s"]
            metrics["setup.warm_s"] = parts["warm_s"]
            metrics["trace.unlabelled_jobs"] = sum(
                1 for j in jobs if not j["desc"])
            metrics["peak_rss_mb"] = sampler.stop()
            tracer.dump(os.path.join(
                common.WORK, "results",
                f"spans-{workload}-s{seed}.json"))
        units = dict(per_layer_spec() if trace
                     else [(n, u) for n, u, _, _ in END_TO_END])
        if set(metrics) != set(units):
            raise KeyError("metrics differ from the declared ones: "
                           f"{sorted(set(metrics) ^ set(units))}")
        result = {
            "correct": wl.failed == 0,
            "attempted": wl.attempted,
            "failed": wl.failed,
            "metrics": {k: {"value": float(v), "unit": units[k]}
                        for k, v in metrics.items()},
        }
        detail["failures"] = wl.failures
        detail["samples_ms"] = plain["samples_ms"]
        detail["records"] = [
            {k: r[k] for k in ("kind", "ms", "ok") if k in r}
            for r in plain.get("records", [])]
        return {"result": result, "detail": detail}
    finally:
        wl.close()
        if own_session:
            common.stop_spark(spark)


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    # the engine and its committed fixtures must sit next to the benchmark
    if not os.path.isfile(os.path.join(ROOT, "rustac_spark", "__init__.py")) \
            or not os.path.isfile(os.path.join(ROOT, "data",
                                               "queries.parquet")):
        print(f"perfbench: no rustac_spark checkout at {ROOT}",
              file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    from perfbench.common import WORK

    out = run(args.workload, args.seed, args.seconds, bool(args.trace))
    os.makedirs(os.path.join(WORK, "results"), exist_ok=True)
    path = os.path.join(WORK, "results", f"{args.workload}-s{args.seed}"
                        f"-t{args.trace}-{int(time.time())}.json")
    with open(path, "w") as f:
        json.dump(out, f, indent=1, default=str)
    print(json.dumps(out["detail"], default=str), file=sys.stderr)
    print(json.dumps(out["result"]))
    return 0


if __name__ == "__main__":
    sys.exit(main())

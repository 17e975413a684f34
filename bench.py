#!/usr/bin/env python
"""Headline benchmark: end-to-end spatial-join + tile-assignment
throughput (pages/sec) on the deterministic Common-Crawl-style pages
table (BASELINE.md bench protocol).

Pipeline (each stage materialized with lineage + commit markers):
  prepare   scan → extract text (byte-invariant check) → geocode →
            write prepared table
  join      cell-indexed spatial join vs the 60-query probe set
  st_join   spatio-temporal join (bbox kind + datetime intervals)
  knn       k=5 nearest pages per point query
  tiles     z6 + z10 web-mercator tile assignment + counts

Prints ONE JSON line:
  {"metric": ..., "value": <total sec>, "unit": "sec",
   "queries": {stage: sec}, "sf": ..., "pages_per_sec": ...}

Env: SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1),
     SPARK_GRAFT_CPUS (default 32).
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import time
import uuid

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from pyspark.sql import functions as F

from rustac_spark import DATA_DIR
from rustac_spark.session import get_spark

SF_ROWS = {"sf0.001": 10_000, "sf0.01": 100_000, "sf0.1": 1_000_000,
           "sf0.4": 4_000_000, "sf1.0": 10_000_000}


def sf_of(sf_dir: str) -> str:
    for sf in ("sf0.001", "sf0.01", "sf0.4", "sf1.0", "sf0.1"):
        if sf_dir.rstrip("/").endswith(sf):
            return sf
    return "sf0.1"


def ensure_pages(spark, sf: str) -> str:
    """Committed fixture when available; otherwise generate the
    bench-scale table once (deterministic, cached on disk)."""
    committed = f"{DATA_DIR}/pages_{sf}.parquet"
    if os.path.exists(committed):
        return committed
    path = f"{DATA_DIR}/runtime/pages_{sf}.parquet"
    if not os.path.exists(path):
        from rustac_spark.synth import gen_pages
        n = SF_ROWS[sf]
        t0 = time.time()
        gen_pages(spark, n, partitions=max(32, n // 31250)) \
            .write.mode("overwrite").parquet(path)
        print(f"# synthesized {n} pages in {time.time()-t0:.1f}s -> {path}",
              file=sys.stderr)
    return path


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    sf = sf_of(sf_dir)

    # Pin the whole process tree (this driver, the JVM it spawns, the
    # pyspark.daemon workers) to exactly `cpus` physical cores. A
    # local[N] run on an idle 32-core host otherwise borrows idle
    # cores for JVM service threads (parallel GC, JIT, shuffle IO) and
    # numpy/Arrow worker threads, so a low-N leg is NOT a faithful
    # N-core executor and scaling efficiency is measured against an
    # inflated baseline. Pinning also removes scheduler-migration
    # noise (measured: join_pairs at local[2] 20.7-26.7 s unpinned ->
    # 18.6-18.8 s pinned, and run-to-run spread collapses). No-op when
    # cpus >= host cores.
    try:
        os.sched_setaffinity(
            0, set(range(min(cpus, os.cpu_count() or cpus))))
    except (AttributeError, OSError):
        pass  # non-Linux or restricted: run unpinned

    spark = get_spark(f"bench-{sf}-{cpus}", master=f"local[{cpus}]",
                      shuffle_partitions=2 * cpus,
                      extra={
                          # round-1 measured Janino-compile stalls and
                          # disabled codegen; round-2 re-validation shows
                          # ON ≥ OFF within noise (BENCH/BASELINE.md
                          # table), so the bench now runs the production
                          # default. Knob kept for per-round re-checks.
                          "spark.sql.codegen.wholeStage":
                              os.environ.get("RUSTAC_CODEGEN", "true"),
                          # small input files need small split sizes for
                          # full parallelism; ~4 tasks/core smooths the
                          # straggler tail from hot-domain candidate skew
                          "spark.sql.files.maxPartitionBytes":
                              str(1024 * 1024),
                      })
    spark.sparkContext.setLogLevel("ERROR")

    from rustac_spark.geo.join import spatial_join
    from rustac_spark.geo.knn import knn_cells
    from rustac_spark.geo.tiles import explode_tiles
    from rustac_spark.geocode import prepare_pages
    from rustac_spark.pipeline.lineage import Pipeline
    from rustac_spark.stac.datetime_parse import parse_interval

    pages_path = ensure_pages(spark, sf)
    # pin the r1-r3 comparable probe set: the committed fixture grew
    # convex-oracle probes (query_id >= 68) for the correctness gate,
    # but the bench trend line stays on the original 68 probes
    queries = (spark.read.parquet(f"{DATA_DIR}/queries.parquet")
               .where(F.col("query_id") < 68))
    n_pages = spark.read.parquet(pages_path).count()

    bench_root = os.environ.get("RUSTAC_BENCH_DIR", "/dev/shm/rustac_bench")

    def run_pipeline(run_dir: str) -> Pipeline:
        pipe = Pipeline(spark, run_dir)
        # single-pass ingest: extract text (invariant inline) + geocode
        prepared = pipe.stage("prepare", lambda: prepare_pages(
            spark.read.parquet(pages_path)))
        bad = prepared.where(~F.col("text_ok")).count()
        if bad:
            print(f"# INVARIANT VIOLATION: {bad} rows", file=sys.stderr)

        # materialize join PAIRS once; counts and the temporal join
        # derive from the pairs instead of re-running the join.
        pairs = pipe.stage("join_pairs", lambda: spatial_join(
            prepared, queries, page_cols=["url", "warc_ts"],
            has_polygons=True))  # probe set has polygons; keep plan lazy

        pipe.stage("join_counts", lambda: (
            pairs.groupBy("query_id", "kind")
            .agg(F.count("*").alias("n_matches"))))

        def st_join():
            qrows = queries.where(
                (F.col("kind") == "bbox") & F.col("datetime").isNotNull()
            ).select("query_id", "datetime").collect()
            bounds = []
            for r in qrows:
                s, e = parse_interval(r["datetime"])
                bounds.append((r["query_id"],
                               s.replace(tzinfo=None) if s else None,
                               e.replace(tzinfo=None) if e else None))
            bdf = F.broadcast(spark.createDataFrame(
                bounds,
                "query_id long, t_start timestamp, t_end timestamp"))
            return (pairs.join(bdf, "query_id")
                    .where((F.col("t_start").isNull()
                            | (F.col("warc_ts") >= F.col("t_start")))
                           & (F.col("t_end").isNull()
                              | (F.col("warc_ts") <= F.col("t_end"))))
                    .groupBy("query_id")
                    .agg(F.count("*").alias("n_matches")))

        pipe.stage("st_join", st_join)

        knn_stats: dict = {}
        pipe.stage("knn", lambda: knn_cells(
            prepared, queries.where(F.col("kind") == "point"), k=5,
            stats_out=knn_stats))
        print(f"# knn fallback stats: {knn_stats}", file=sys.stderr)

        pipe.stage("tiles", lambda: (
            explode_tiles(explode_tiles(
                prepared.select("url", "xmin", "ymin", "xmax", "ymax"), 6)
                .drop("tile_z", "tile_x", "tile_y"), 10)
            .groupBy("tile_x", "tile_y")
            .agg(F.count("*").alias("n_pages"))))
        return pipe

    # warm-up pass pays per-session one-time costs (expression compile,
    # python-worker spin-up, broadcast build); then N measured warm
    # passes. This host's documented noisy windows (BENCH/BASELINE.md:
    # CPU-steal stalls of 5-30 s that move BETWEEN stages run-to-run)
    # mean a single pass records host steal, not engine cost. The
    # HEADLINE (`value`) is the best whole-pass total — a wall time one
    # real end-to-end run actually achieved. The sum of PER-STAGE
    # minima across passes (a steal-resistant composite no single pass
    # achieved) is published alongside as `composed_stage_min_sec` with
    # per-stage minima under `queries`: it is the noise diagnostic —
    # on a quiet host the two agree to within noise.
    n_passes = int(os.environ.get("RUSTAC_BENCH_PASSES", "5"))
    warm_dir = f"{bench_root}/warm_{sf}_{cpus}_{uuid.uuid4().hex[:8]}"
    run_pipeline(warm_dir)
    shutil.rmtree(warm_dir, ignore_errors=True)
    stage_min: dict[str, float] = {}
    pass_totals: list[float] = []
    pass_stages: list[dict[str, float]] = []
    for _ in range(n_passes):
        rd = f"{bench_root}/run_{sf}_{cpus}_{uuid.uuid4().hex[:8]}"
        p = run_pipeline(rd)
        pass_totals.append(round(sum(p.stage_seconds.values()), 3))
        pass_stages.append(dict(p.stage_seconds))
        for k, v in p.stage_seconds.items():
            stage_min[k] = min(v, stage_min.get(k, float("inf")))
        shutil.rmtree(rd, ignore_errors=True)

    best_i = min(range(len(pass_totals)), key=lambda i: pass_totals[i])
    total = pass_totals[best_i]
    composed = sum(stage_min.values())
    result = {
        "metric": "spatial-join+tile pipeline wall time (best pass)",
        "value": round(total, 3),
        "unit": "sec",
        "queries": {k: round(v, 3) for k, v in pass_stages[best_i].items()},
        "sf": sf,
        "cpus": cpus,
        "n_pages": n_pages,
        "pages_per_sec": round(n_pages / total, 1) if total else None,
        "best_pass_sec": total,
        "composed_stage_min_sec": round(composed, 3),
        "stage_min_sec": {k: round(v, 3) for k, v in stage_min.items()},
        "pass_totals_sec": pass_totals,
    }
    print(json.dumps(result))
    spark.stop()


if __name__ == "__main__":
    main()

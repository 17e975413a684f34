"""`pipeline` workload: bench.py's six stages, each through
``Pipeline.stage``, over the seed's synthesized pages and the 68-probe
set (``query_id < 68``). One warm pass in set-up, then measured passes
until the time is up (see ``measure``).

Checks, each feeding `failed`:
- prepare: ``text_ok`` holds on every row;
- join_counts: bbox-kind counts equal a plain bbox-overlap filter;
- knn: equals a numpy haversine top-k over the warm pass's prepared
  pages, computed once in set-up;
- join_pairs, join_counts, st_join, knn, tiles: the output digest is
  the same on every pass.
"""

from __future__ import annotations

import os
import shutil
import time
import uuid
from statistics import mean, median

import pyarrow.parquet as pq

from .common import WORK

STAGES = ["prepare", "join_pairs", "join_counts", "st_join", "knn", "tiles"]
# per-stage layer metrics of the traced run: (suffix, unit)
STAGE_LAYERS = [("wall_s", "s"), ("build_s", "s"), ("exec_s", "s"),
                ("sink_s", "s"), ("jobs", "count"),
                ("executor_run_s", "s"), ("executor_cpu_s", "s"),
                ("shuffle_bytes", "bytes"), ("spill_bytes", "bytes"),
                ("rows_out", "count")]


class PipelineWorkload:
    def __init__(self, spark, seed: int, scale: dict):
        self.spark = spark
        self.seed = seed
        self.n_pages = scale["pages"]
        self.attempted = 0
        self.failed = 0
        self.digests: dict[str, tuple] = {}
        self.n_pass = 0
        self.wrong_expected = False
        self.failures: list[str] = []
        self.tracer = None
        self.label = "pipeline"

    # ------------------------------------------------------------ set-up

    def setup(self, wrong_expected: bool = False) -> dict:
        from pyspark.sql import functions as F

        from rustac_spark import DATA_DIR

        from .inputs import pages_path

        sc = self.spark.sparkContext
        sc.setJobDescription("setup:generate")
        t0 = time.perf_counter()
        self.pages_path = pages_path(self.seed, self.n_pages)
        t1 = time.perf_counter()
        sc.setJobDescription("setup:load")
        self.queries = (self.spark.read.parquet(f"{DATA_DIR}/queries.parquet")
                        .where(F.col("query_id") < 68))
        self.queries_local = self.queries.collect()
        t2 = time.perf_counter()

        sc.setJobDescription("setup:warm")
        warm = self._pass("warm")
        sc.setJobDescription(None)
        t3 = time.perf_counter()

        # oracles in numpy over the warm pass's prepared pages,
        # independent of the engine's join and kNN code
        pages = pq.read_table(
            os.path.join(warm["run_dir"], "prepare.parquet"),
            columns=["url", "lat", "lon", "xmin", "ymin", "xmax", "ymax"],
        ).to_pandas()
        self.knn_expected = knn_oracle(pages, [
            r for r in self.queries_local if r["kind"] == "point"], k=5)
        self.bbox_expected = {
            r["query_id"]: int(((pages.xmin <= r["qxmax"])
                                & (pages.xmax >= r["qxmin"])
                                & (pages.ymin <= r["qymax"])
                                & (pages.ymax >= r["qymin"])).sum())
            for r in self.queries_local if r["kind"] == "bbox"}
        self._check(warm, measured=False)  # also records the digests
        self.wrong_expected = wrong_expected
        t4 = time.perf_counter()
        return {"generate_s": t1 - t0, "load_s": t2 - t1,
                "warm_s": t3 - t2, "oracle_s": t4 - t3}

    # ------------------------------------------------------------- a pass

    def _pass(self, tag: str) -> dict:
        """One pass of the six stages into a fresh run dir; the stage
        outputs stay there for _check."""
        from pyspark.sql import functions as F

        from rustac_spark.geo.join import spatial_join
        from rustac_spark.geo.knn import knn_cells
        from rustac_spark.geo.tiles import explode_tiles
        from rustac_spark.geocode import prepare_pages
        from rustac_spark.pipeline.lineage import Pipeline
        from rustac_spark.stac.datetime_parse import parse_interval

        spark, sc, tracer = self.spark, self.spark.sparkContext, self.tracer
        queries = self.queries
        run_dir = os.path.join(WORK, "runs", f"{tag}-{uuid.uuid4().hex[:8]}")
        pipe = Pipeline(spark, run_dir)
        rec = {"tag": tag, "wall_s": {}, "build_s": {}, "exec_s": {},
               "knn_stats": {}}
        plans = {}

        def stage(name, build):
            label = f"{self.label}:{tag}:{name}"

            def timed_build():
                if tracer is None:
                    return build()
                with tracer.span("build") as sp:
                    df = build()
                rec["build_s"][name] = sp["end"] - sp["start"]
                plans[name] = df
                return df

            sc.setJobDescription(label)
            if tracer is not None:
                tracer.request = label
            # the whole Pipeline.stage call: build, parquet write, lineage
            # and commit marker (its own stage_seconds stops before lineage)
            t = time.perf_counter()
            out = pipe.stage(name, timed_build)
            rec["wall_s"][name] = time.perf_counter() - t
            if tracer is not None:
                # the same plan once more, to a noop sink: Spark execution
                # alone, outside the stage's wall
                sc.setJobDescription(label + ":exec")
                t = time.perf_counter()
                plans[name].write.format("noop").mode("overwrite").save()
                rec["exec_s"][name] = time.perf_counter() - t
                tracer.request = None
            sc.setJobDescription(None)
            return out

        prepared = stage("prepare", lambda: prepare_pages(
            spark.read.parquet(self.pages_path)))
        pairs = stage("join_pairs", lambda: spatial_join(
            prepared, queries, page_cols=["url", "warc_ts"],
            has_polygons=True))
        stage("join_counts", lambda: (
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
                bounds, "query_id long, t_start timestamp, t_end timestamp"))
            return (pairs.join(bdf, "query_id")
                    .where((F.col("t_start").isNull()
                            | (F.col("warc_ts") >= F.col("t_start")))
                           & (F.col("t_end").isNull()
                              | (F.col("warc_ts") <= F.col("t_end"))))
                    .groupBy("query_id")
                    .agg(F.count("*").alias("n_matches")))

        stage("st_join", st_join)
        stage("knn", lambda: knn_cells(
            prepared, queries.where(F.col("kind") == "point"), k=5,
            stats_out=rec["knn_stats"]))
        stage("tiles", lambda: (
            explode_tiles(explode_tiles(
                prepared.select("url", "xmin", "ymin", "xmax", "ymax"), 6)
                .drop("tile_z", "tile_x", "tile_y"), 10)
            .groupBy("tile_x", "tile_y")
            .agg(F.count("*").alias("n_pages"))))
        rec["total_s"] = sum(rec["wall_s"].values())

        rec["run_dir"] = run_dir
        return rec

    # ------------------------------------------------------------ checks

    def _check(self, rec: dict, measured: bool = True) -> None:
        """Checks read the parquet files each stage committed, with
        pyarrow: no Spark job, and the sink's output itself is checked.
        Removes the pass's run dir."""
        import pandas as pd

        tag = rec["tag"]
        out = {s: pq.read_table(os.path.join(rec["run_dir"], f"{s}.parquet"))
               .to_pandas() for s in STAGES}
        shutil.rmtree(rec["run_dir"], ignore_errors=True)
        ok = {s: True for s in STAGES}
        ok["prepare"] = bool(out["prepare"]["text_ok"].all())
        c = out["join_counts"]
        got = dict(zip(c.query_id[c.kind == "bbox"],
                       c.n_matches[c.kind == "bbox"]))
        ok["join_counts"] = all(got.get(q, 0) == n
                                for q, n in self.bbox_expected.items())
        expected = self.knn_expected
        if measured and self.wrong_expected:
            # harness self-check: one wrong expected value, once
            self.wrong_expected = False
            key = min(expected)
            expected = {**expected, key: ("#wrong", expected[key][1])}
        k = out["knn"]
        got = {(q, r): (u, d) for q, r, u, d in
               zip(k.query_id, k["rank"], k.url, k.dist_km)}
        ok["knn"] = got.keys() == expected.keys() and all(
            got[key][0] == u and abs(got[key][1] - d) < 1e-6
            for key, (u, d) in expected.items())
        for s in ("join_pairs", "join_counts", "st_join", "knn", "tiles"):
            d = (len(out[s]), int(pd.util.hash_pandas_object(
                out[s], index=False).sum()))
            if self.digests.setdefault(s, d) != d:
                ok[s] = False
        if measured:
            self.attempted += len(STAGES)
            self.failed += sum(not v for v in ok.values())
            self.failures += [f"{tag}:{s}" for s, v in ok.items() if not v]

    # ----------------------------------------------------------- measure

    def measure(self, seconds: float) -> dict:
        """Measured passes, at least one, ending at the pass boundary
        nearest `seconds`: a pass takes about as long as the window, and
        stopping at the first boundary past it would double some runs."""
        recs = []
        t0 = time.perf_counter()
        while True:
            self.n_pass += 1
            recs.append(self._pass(f"p{self.n_pass}"))
            self._check(recs[-1])
            spent = time.perf_counter() - t0
            if seconds - spent < spent / len(recs) / 2:
                break
        totals = [r["total_s"] for r in recs]
        return {"samples_ms": [t * 1000.0 for t in totals],
                "latency_ms": mean(totals) * 1000.0,
                "throughput": self.n_pages / median(totals),
                "n": len(recs), "recs": recs}

    def figures(self, m: dict) -> dict:
        return {"pipeline_s": median(m["samples_ms"]) / 1000.0,
                "pages_per_s": m["throughput"]}

    def reset(self) -> None:
        """Nothing to undo: every pass starts in a fresh run dir."""

    def close(self) -> None:
        shutil.rmtree(os.path.join(WORK, "runs"), ignore_errors=True)

    # ----------------------------------------------------------- tracing

    def install_trace(self, tracer) -> None:
        from pyspark.sql.readwriter import DataFrameReader, DataFrameWriter

        from rustac_spark.pipeline.lineage import Pipeline

        self.tracer = tracer
        tracer.wrap(DataFrameWriter, "parquet", "write")
        tracer.wrap(DataFrameReader, "parquet", "read")
        tracer.wrap(Pipeline, "_write_lineage", "lineage")
        tracer.wrap(Pipeline, "_commit", "lineage")

    def layer_metrics(self, tracer, jobs: list[dict], m: dict) -> dict:
        traced = m["recs"]
        out = {}
        gaps = []
        for s in STAGES:
            rows = {k: [] for k, _ in STAGE_LAYERS}
            for rec in traced:
                label = f"{self.label}:{rec['tag']}:{s}"
                spans = [sp for sp in tracer.spans if sp["request"] == label]
                # the sink: parquet write, lineage + commit marker, and
                # the read-back of the committed output
                sink = sum(sp["end"] - sp["start"] for sp in spans
                           if sp["parent"] is None
                           and sp["name"] in ("write", "lineage", "read"))
                wall = rec["wall_s"][s]
                build = rec["build_s"][s]
                exe = rec["exec_s"][s]
                gaps.append(abs(build + sink - wall) / wall)
                js = [j for j in jobs if j["desc"] == label]
                rows["wall_s"].append(wall)
                rows["build_s"].append(build)
                rows["exec_s"].append(exe)
                rows["sink_s"].append(sink - exe)
                rows["jobs"].append(len(js))
                rows["executor_run_s"].append(
                    sum(j["run_ms"] for j in js) / 1000.0)
                rows["executor_cpu_s"].append(
                    sum(j["cpu_ns"] for j in js) / 1e9)
                rows["shuffle_bytes"].append(
                    sum(j["shuffle_bytes"] for j in js))
                rows["spill_bytes"].append(sum(j["spill_bytes"] for j in js))
                rows["rows_out"].append(sum(j["out_rows"] for j in js))
            for k, v in rows.items():
                out[f"{s}.{k}"] = median(v)
        out["pipeline.layer_gap_frac"] = max(gaps)
        out["geo.knn.redo_queries"] = median(
            [r["knn_stats"].get("redo_bounded", 0)
             + r["knn_stats"].get("redo_underflow", 0) for r in traced])
        return out


def knn_oracle(pages, points: list, k: int) -> dict:
    """Exact top-k by haversine distance, ties broken by url (the order
    knn_bruteforce and knn_cells rank by): {(query_id, rank): (url, km)}."""
    import numpy as np

    lat = np.radians(pages["lat"].to_numpy())
    lon = pages["lon"].to_numpy()
    urls = pages["url"].to_numpy()
    out = {}
    for q in points:
        qlat = np.radians(q["qymin"])
        dphi = (np.radians(q["qymin"]) - lat) / 2.0
        dlmb = np.radians(q["qxmin"] - lon) / 2.0
        a = (np.sin(dphi) ** 2
             + np.cos(lat) * np.cos(qlat) * np.sin(dlmb) ** 2)
        d = 2.0 * 6371.0088 * np.arcsin(np.sqrt(a))
        near = np.argpartition(d, k + 16)[:k + 16]
        near = near[np.lexsort((urls[near], d[near]))][:k]
        for rank, i in enumerate(near, start=1):
            out[(q["query_id"], rank)] = (urls[i], float(d[i]))
    return out

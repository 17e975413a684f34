"""Lineage/resume + skew handling."""

import os

import pytest
from pyspark.sql import functions as F

from rustac_spark import DATA_DIR
from rustac_spark.geo.join import explode_page_cells, spatial_join
from rustac_spark.geocode import with_geocode
from rustac_spark.pipeline.lineage import Pipeline
from rustac_spark.pipeline.skew import hot_cells, subdivide_cover


@pytest.fixture(scope="module")
def pages_geo(spark):
    df = with_geocode(
        spark.read.parquet(f"{DATA_DIR}/pages_sf0.001.parquet")
    ).drop("html", "text")
    df.cache().count()
    return df


def test_pipeline_resume(spark, tmp_path):
    run_dir = str(tmp_path / "run1")
    calls = {"n": 0}

    def build():
        calls["n"] += 1
        return spark.range(100).withColumn("v", F.col("id") * 2)

    p1 = Pipeline(spark, run_dir, run_id="r1")
    out1 = p1.stage("s1", build)
    assert out1.count() == 100 and calls["n"] == 1
    assert p1.is_committed("s1")
    info = p1.committed_info("s1")
    assert info["rows"] == 100 and info["wall_s"] > 0

    # restart: same run_dir → stage skipped, output reused
    p2 = Pipeline(spark, run_dir, run_id="r2")
    out2 = p2.stage("s1", build)
    assert out2.count() == 100 and calls["n"] == 1  # build NOT re-run
    assert p2.stage_seconds["s1"] == 0.0

    # lineage rows exist, one per output file, counts sum to total
    m = p1.metrics().where(F.col("stage") == "s1")
    rows = m.collect()
    assert sum(r["row_count"] for r in rows) == 100
    assert all(os.path.basename(r["output_file"]).endswith(".parquet")
               for r in rows)


def test_pipeline_hadoop_fs_backend(spark, tmp_path):
    """Same resume/lineage semantics through the Hadoop FileSystem API
    (the real-cluster path) — exercised with a file:// URI, which
    routes through the JVM FS exactly like hdfs:// or s3a:// would."""
    from rustac_spark.pipeline.snapshots import _HadoopFS
    run_dir = f"file://{tmp_path}/run_hfs"
    calls = {"n": 0}

    def build():
        calls["n"] += 1
        return spark.range(50).withColumn("v", F.col("id") * 3)

    p1 = Pipeline(spark, run_dir, run_id="h1")
    assert isinstance(p1.fs, _HadoopFS)
    out1 = p1.stage("s1", build)
    assert out1.count() == 50 and calls["n"] == 1
    info = p1.committed_info("s1")
    assert info["rows"] == 50

    p2 = Pipeline(spark, run_dir, run_id="h2")
    assert p2.stage("s1", build).count() == 50 and calls["n"] == 1

    m = p1.metrics().where(F.col("stage") == "s1").collect()
    assert sum(r["row_count"] for r in m) == 50
    assert all(r["bytes"] > 0 for r in m)


def test_stage_dir_reads_as_plain_parquet(spark, tmp_path, monkeypatch):
    """External readers (pyarrow) read a stage's directory as exactly
    the stage's rows: the manifests sit under `_meta/`, which dataset
    readers skip, and a re-run after a commit that failed once its
    files were staged first clears the failed attempt's files."""
    import pyarrow.parquet as pq

    from rustac_spark.pipeline.snapshots import SnapshotTable

    def build():
        return spark.range(40).withColumn("v", F.col("id") * 2)

    def ids(run_dir):
        t = pq.read_table(f"{run_dir}/s1.parquet")
        return sorted(t.column("id").to_pylist())

    run_dir = str(tmp_path / "run")
    Pipeline(spark, run_dir).stage("s1", build)
    assert ids(run_dir) == list(range(40))

    publish = SnapshotTable._publish
    failed = []

    def fail_once(self, *a, **kw):
        if not failed:
            failed.append(1)
            raise IOError("simulated crash after staging")
        return publish(self, *a, **kw)

    monkeypatch.setattr(SnapshotTable, "_publish", fail_once)
    crash_dir = str(tmp_path / "crash")
    with pytest.raises(IOError):
        Pipeline(spark, crash_dir).stage("s1", build)
    p = Pipeline(spark, crash_dir)
    assert not p.is_committed("s1")
    assert p.stage("s1", build).count() == 40
    assert ids(crash_dir) == list(range(40))


def test_stage_runs_no_lineage_job(spark, tmp_path):
    """A stage's commit is its output write plus the read-back: the
    same Spark jobs as writing and reading the frame by hand, and no
    further job to record lineage."""
    sc = spark.sparkContext

    def build():
        return spark.range(100).withColumn("v", F.col("id") * 2)

    def jobs_in(group, fn):
        sc.setJobGroup(group, group)
        try:
            fn()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        return len(sc.statusTracker().getJobIdsForGroup(group))

    def by_hand():
        build().write.parquet(str(tmp_path / "by_hand"))
        spark.read.parquet(str(tmp_path / "by_hand"))

    pipe = Pipeline(spark, str(tmp_path / "run"))
    staged = jobs_in("pipeline-stage-jobs",
                     lambda: pipe.stage("s1", build))
    assert staged == jobs_in("plain-write-jobs", by_hand)


def test_shuffle_join_path_matches_broadcast(spark, pages_geo, queries_df):
    a = {(r["query_id"], r["url"])
         for r in spatial_join(pages_geo, queries_df,
                               broadcast_queries=True,
                               page_cols=["url"]).collect()}
    b = {(r["query_id"], r["url"])
         for r in spatial_join(pages_geo, queries_df,
                               broadcast_queries=False,
                               page_cols=["url"]).collect()}
    assert a == b and len(a) > 0


def test_hot_cell_subdivision_preserves_join(spark, pages_geo, queries_df):
    from rustac_spark.geo.cells import DEFAULT_RES
    pc = explode_page_cells(pages_geo.select(
        "url", "xmin", "ymin", "xmax", "ymax"))
    hot = {r["cell"] for r in hot_cells(pc, threshold=500).collect()}
    assert hot, "zipf skew should produce hot cells at sf0.001"
    sub = subdivide_cover(pc, hot, DEFAULT_RES)
    # exactly-once key structure preserved: (url, cell) distinct
    dup = (sub.groupBy("url", "cell").count()
           .where(F.col("count") > 1).count())
    assert dup == 0
    # max per-cell load strictly reduced on the formerly-hot cells
    before = pc.groupBy("cell").count().agg(F.max("count")).collect()[0][0]
    after = sub.groupBy("cell").count().agg(F.max("count")).collect()[0][0]
    assert after < before


def test_column_ingest_bit_parity_with_arrow_kernel(spark):
    """The pure-Column ingest (geocode_cols + extracted_text_column)
    must be BIT-identical to the independent numpy/pandas kernels —
    same sha256 prefixes, same IEEE op order, same body slicing."""
    from rustac_spark.geocode import prepare_pages

    pages = spark.read.parquet("data/pages_sf0.001.parquet")
    col_rows = sorted(prepare_pages(pages).collect())
    arrow_rows = sorted(prepare_pages(pages, use_arrow=True).collect())
    assert len(col_rows) == len(arrow_rows) > 0
    for a, b in zip(col_rows, arrow_rows):
        assert a == b   # Row equality: floats compare exactly

"""End-to-end curation pipeline: quality → exact dedup → near dedup →
PII → chunking, with lineage/resume (pipeline/curation)."""

from pyspark.sql import functions as F

from rustac_spark.pipeline.curation import curate_corpus
from rustac_spark.pipeline.snapshots import SnapshotTable


def _corpus(spark):
    # the fixture texts are single-line word salad with no terminal
    # punctuation — C4's line filter would (correctly) drop them all;
    # inject deterministic sentence structure like the gate oracle does
    docs = (spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
            .select("doc_id",
                    F.concat(F.replace(F.col("text"), F.lit(" table "),
                                       F.lit(".\n")), F.lit("."))
                    .alias("text"))
            .limit(300))
    # plant: one exact duplicate and one near-duplicate of doc 0, plus
    # a PII-bearing doc — all with fresh ids
    d0 = docs.where("doc_id = 0").collect()[0]["text"]
    extra = spark.createDataFrame(
        [(900001, d0),
         (900002, d0 + " extra tail token."),
         (900003, ("reach me at someone@example.org or +4915112345678. " +
                   d0))],
        "doc_id long, text string")
    return docs.unionByName(extra)


def _cached_rdds(spark) -> set:
    """Ids of the persisted RDDs that are caches, not the
    localCheckpoint tables connected_components leaves for Spark's
    ContextCleaner to reclaim."""
    rdds = spark.sparkContext._jsc.getPersistentRDDs()
    return {int(k) for k in rdds.keySet().toArray()
            if not rdds.get(k).rdd().isLocallyCheckpointed()}


def test_curate_corpus_end_to_end(spark, tmp_path):
    docs = _corpus(spark)
    before = _cached_rdds(spark)
    out, report = curate_corpus(spark, docs, str(tmp_path / "run"),
                                near_dup_threshold=0.5,
                                chunk_size=40, chunk_overlap=8)
    stages = ["quality", "exact_dedup", "near_dedup", "pii", "chunks"]
    assert list(report) == stages
    # monotone row counts through the dedup stages
    assert report["quality"]["rows"] >= report["exact_dedup"]["rows"] \
        >= report["near_dedup"]["rows"]
    # the curation run leaves no cache behind: a long-lived session
    # would otherwise leak one per run
    assert _cached_rdds(spark) <= before
    # the exact duplicate lost to the minimum id
    pii = SnapshotTable(spark, f"{tmp_path}/run/pii.parquet").read()
    pii_ids = {r["doc_id"] for r in pii.select("doc_id").collect()}
    assert 900001 not in pii_ids
    # near-duplicate of doc 0 also dropped (if doc 0 survived quality)
    if 0 in pii_ids:
        assert 900002 not in pii_ids
    # PII redacted in the surviving text
    if 900003 in pii_ids:
        t = pii.where("doc_id = 900003").collect()[0]["text"]
        assert "<EMAIL>" in t and "<PHONE>" in t
        assert "someone@example.org" not in t
    # chunks reference only surviving docs
    chunk_ids = {r["doc_id"] for r in out.select("doc_id").collect()}
    assert chunk_ids <= pii_ids
    assert out.count() == report["chunks"]["rows"] > 0


def test_curate_corpus_resumes_from_commits(spark, tmp_path):
    docs = _corpus(spark)
    run = str(tmp_path / "run")
    out1, rep1 = curate_corpus(spark, docs, run)
    n1 = out1.count()
    # second invocation reuses every committed stage (marker skip) —
    # identical output, no recompute
    out2, rep2 = curate_corpus(spark, docs, run)
    assert rep2 == rep1
    assert out2.count() == n1


def test_curate_corpus_custom_id_col(spark, tmp_path):
    """id_col other than doc_id must work end-to-end (the
    connected-components output is renamed for the retention join)."""
    docs = _corpus(spark).select(
        F.concat(F.lit("u"), F.col("doc_id").cast("string")).alias("url"),
        "text")
    out, report = curate_corpus(spark, docs, str(tmp_path / "run"),
                                id_col="url")
    assert report["near_dedup"]["rows"] <= report["exact_dedup"]["rows"]
    assert "url" in out.columns and out.count() > 0


def test_curate_corpus_report_dropped_counts(spark, tmp_path):
    """Dead-letter visibility: every stage reports how many rows it
    dropped (delta vs previous committed stage, no extra count jobs).
    quality's input isn't a committed stage, so its dropped needs
    input_rows; chunks expands rows so its dropped is pinned 0."""
    docs = _corpus(spark)
    n_in = docs.count()
    out, report = curate_corpus(spark, docs, str(tmp_path / "run"),
                                near_dup_threshold=0.5,
                                chunk_size=40, chunk_overlap=8,
                                input_rows=n_in)
    assert set(report["quality"]) == {"rows", "dropped", "wall_s"}
    assert report["quality"]["dropped"] == n_in - report["quality"]["rows"]
    assert report["exact_dedup"]["dropped"] == (
        report["quality"]["rows"] - report["exact_dedup"]["rows"])
    # the planted exact duplicate guarantees at least one drop here
    assert report["exact_dedup"]["dropped"] >= 1
    assert report["near_dedup"]["dropped"] == (
        report["exact_dedup"]["rows"] - report["near_dedup"]["rows"])
    assert report["pii"]["dropped"] == 0      # narrow map, never drops
    assert report["chunks"]["dropped"] == 0   # row-expanding stage
    # without input_rows, quality's dropped is None (documented) and
    # the pipeline itself never adds a count() job
    _, r2 = curate_corpus(spark, docs, str(tmp_path / "run2"),
                          near_dup_threshold=0.5,
                          chunk_size=40, chunk_overlap=8)
    assert r2["quality"]["dropped"] is None
    assert r2["exact_dedup"]["dropped"] == report["exact_dedup"]["dropped"]

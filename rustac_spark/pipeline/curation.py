"""End-to-end training-data curation pipeline — the composition the
individual textops exist for, run through the lineage/resume layer so
a 100 TB curation job survives restarts at stage granularity.

    quality  → Gopher repetition rules + C4 line cleaning (narrow)
    exact    → sha256 exact dedup, keep the minimum doc id
    neardup  → MinHash/LSH pairs → connected components → retention
    pii      → email/IPv4/phone redaction (narrow)
    chunks   → fixed-size token windows for training

Every stage commits its output as a snapshot-table snapshot
(pipeline/lineage.Pipeline): a crashed run resumes from the last
committed stage, and each stage's manifest records its per-file row
counts, bytes and wall time — the report is derived from the
manifests, not from extra count() jobs.

Scale notes: stages 1/4/5 are narrow (zero shuffle); stage 2 is one
map-side-combined shuffle of distinct hashes; stage 3 is the bucketed
LSH pipeline (never all-pairs) plus the checkpointed
connected-components rounds, and its retention anti-join lets AQE
pick the strategy (textops/cluster.dedup_retain).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from .lineage import Pipeline


def curate_corpus(spark: SparkSession, docs: DataFrame, run_dir: str,
                  id_col: str = "doc_id", text_col: str = "text",
                  near_dup_threshold: float = 0.5,
                  chunk_size: int = 256, chunk_overlap: int = 32,
                  input_rows: int | None = None,
                  ) -> tuple[DataFrame, dict]:
    """Run the five-stage curation pipeline; returns (chunks, report).
    `report` maps stage → {rows, dropped, wall_s} from the stage
    manifests: `dropped` is the row delta vs the previous committed
    stage (dead-letter visibility — a 100 TB operator must see WHERE
    the corpus went, not just what survived). The quality stage's
    input is not a committed stage, so its `dropped` needs
    ``input_rows`` (pass ``docs.count()`` if you want it; left None
    otherwise — the pipeline itself never adds a count() job). The
    chunks stage EXPANDS rows, so its dropped is pinned 0."""
    from ..textops.basic import (chunk_tokens, exact_dedup_groups,
                                 with_pii_scrub)
    from ..textops.cluster import connected_components, dedup_retain
    from ..textops.minhash import near_dup_pairs
    from ..textops.quality_rules import (with_c4_filters,
                                         with_quality_rules)

    pipe = Pipeline(spark, run_dir)

    def quality():
        q = with_c4_filters(with_quality_rules(docs, text_col),
                            text_col)
        return (q.where(F.col("gopher_pass") == 1)
                .where(F.col("c4_keep") == 1)
                .select(id_col,
                        F.col("clean_text").alias(text_col)))
    clean = pipe.stage("quality", quality)

    def exact():
        keep = (exact_dedup_groups(clean, text_col, id_col)
                .select(F.col("keep_id").alias(id_col)))
        return clean.join(keep, id_col, "left_semi")
    exact_kept = pipe.stage("exact_dedup", exact)

    from pyspark.sql.types import IntegralType

    # the MinHash Arrow kernel keys on LONG ids; non-integral id
    # columns get a deterministic xxhash64 surrogate (collision
    # odds 2^-64 per pair — a collision could at worst drop one
    # extra doc, the standard trade of hash-keyed dedup)
    kept = exact_kept
    key = id_col
    if not isinstance(kept.schema[id_col].dataType, IntegralType):
        key = "_sid"
        kept = kept.withColumn(key, F.xxhash64(F.col(id_col)))
    # pairs are cached once: the emptiness probe AND the
    # connected-components rounds both consume them, and the
    # MinHash/LSH/verify pipeline is the stage's expensive part — it
    # must not run twice. persist() is lazy (nothing runs when the
    # stage resumes), recomputes lost blocks after executor loss
    # (unlike localCheckpoint), and is the stage's only cache
    # (near_dup_pairs' own signature cache would outlive the run);
    # it is released once the stage has committed
    pairs = near_dup_pairs(kept, threshold=near_dup_threshold,
                           id_col=key, text_col=text_col,
                           persist=False) \
        .select(F.col("a"), F.col("b")).persist()

    def neardup():
        if pairs.count() == 0:
            return exact_kept
        # connected_components emits (doc_id, cluster_id) — align the
        # id column to the join key name for the retention join
        clusters = connected_components(pairs).withColumnRenamed(
            "doc_id", key)
        out = dedup_retain(kept, clusters, key)
        return out.drop("_sid") if key == "_sid" else out
    try:
        retained = pipe.stage("near_dedup", neardup)
    finally:
        pairs.unpersist()

    def pii():
        return (with_pii_scrub(retained, text_col)
                .select(id_col,
                        F.col("scrubbed_text").alias(text_col),
                        "n_emails", "n_ips", "n_phones"))
    scrubbed = pipe.stage("pii", pii)

    def chunks():
        return chunk_tokens(
            scrubbed.select(id_col, text_col),
            chunk_size=chunk_size, overlap=chunk_overlap,
            id_col=id_col, text_col=text_col)
    out = pipe.stage("chunks", chunks)

    report: dict = {}
    prev = input_rows
    for s in ("quality", "exact_dedup", "near_dedup", "pii", "chunks"):
        info = pipe.committed_info(s)
        if s == "chunks":          # row-expanding stage, nothing dropped
            dropped = 0
        elif prev is None:
            dropped = None         # quality with uncounted input
        else:
            dropped = prev - info["rows"]
        report[s] = {"rows": info["rows"], "dropped": dropped,
                     "wall_s": round(info["wall_s"], 3)}
        prev = info["rows"]
    return out, report

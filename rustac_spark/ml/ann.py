"""Similarity over embedding columns (north-rule training-data
operators): exact cosine top-k, semantic dedup and cosine near-dup
pairs.

Everything is pure Column math — F.zip_with/F.aggregate dot products
in whole-stage codegen. Top-k broadcasts the query side and ranks per
query with a window. The dedup operators block the candidate pairs,
by label, by spherical k-means cluster, or by random-hyperplane sign
bucket (deterministic planes from sha256), so only same-block pairs
are scored.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame, Window, functions as F

from ..hashing import stable_hash


def _dot(a, b):
    return F.aggregate(F.zip_with(a, b, lambda x, y: x * y),
                       F.lit(0.0), lambda acc, v: acc + v)


def _norm(a):
    return F.sqrt(F.aggregate(a, F.lit(0.0), lambda acc, v: acc + v * v))


def cosine(a, b):
    return _dot(a, b) / (_norm(a) * _norm(b))


def _as_double(col):
    return F.transform(col, lambda v: v.cast("double"))


def knn_bruteforce(vectors: DataFrame, queries: DataFrame, k: int = 5,
                   id_col: str = "vec_id", vec_col: str = "embedding",
                   qid_col: str = "query_id", qvec_col: str = "qvec",
                   ) -> DataFrame:
    """Exact cosine top-k: → (query_id, rank, vec_id, cosine_sim).
    Excludes self-matches when ids collide."""
    v = vectors.select(F.col(id_col),
                       _as_double(F.col(vec_col)).alias("v"))
    q = F.broadcast(queries.select(F.col(qid_col),
                                   _as_double(F.col(qvec_col)).alias("q")))
    cand = (v.join(q)
            .where(F.col(id_col) != F.col(qid_col))
            .withColumn("cosine_sim", F.round(cosine(F.col("v"), F.col("q")), 6)))
    w = Window.partitionBy(qid_col).orderBy(
        F.col("cosine_sim").desc(), F.col(id_col).asc())
    return (cand.withColumn("rank", F.row_number().over(w))
            .where(F.col("rank") <= k)
            .select(qid_col, "rank", id_col, "cosine_sim"))


def _hyperplanes(dim: int, nbits: int) -> np.ndarray:
    """Deterministic pseudo-random hyperplanes from sha256 streams."""
    vals = np.array([
        (stable_hash(f"plane:{b}:{d}") / 2.0**64) * 2.0 - 1.0
        for b in range(nbits) for d in range(dim)])
    return vals.reshape(nbits, dim)


def lsh_bucket_col(vec_col, planes: np.ndarray):
    """Sign-bucket id of a vector column under the given hyperplanes —
    pure Column fold (no UDF)."""
    bucket = F.lit(0).cast("long")
    for i, plane in enumerate(planes):
        proj = F.aggregate(
            F.zip_with(vec_col,
                       F.array(*[F.lit(float(x)) for x in plane]),
                       lambda a, b: a * b),
            F.lit(0.0), lambda acc, v: acc + v)
        bucket = bucket + F.when(proj > 0, F.lit(1 << i)).otherwise(F.lit(0))
    return bucket


def _assign_centroids(vcol, cents: np.ndarray, n_best: int):
    """Top-n_best centroid ids by dot product — pure Column."""
    scores = F.array(*[
        F.struct(
            F.aggregate(
                F.zip_with(vcol,
                           F.array(*[F.lit(float(x)) for x in c]),
                           lambda a, b: a * b),
                F.lit(0.0), lambda acc, v: acc + v).alias("s"),
            F.lit(i).alias("c"))
        for i, c in enumerate(cents)])
    ranked = F.reverse(F.array_sort(scores))
    return F.transform(F.slice(ranked, 1, n_best), lambda x: x["c"])


def kmeans_centroids(vectors: DataFrame, n_centroids: int, dim: int,
                     iters: int = 5, vec_col: str = "embedding",
                     train_cap: int | None = 100_000) -> np.ndarray:
    """Distributed spherical k-means (Lloyd): each iteration is ONE
    narrow pass over the data — assignment is pure Column math, the
    update collects only (n_centroids × dim) sums to the driver.
    Deterministic init from the sha256 planes.

    ``train_cap`` bounds the TRAINING set with a deterministic hash
    sample (the standard faiss/IVF practice — centroid quality needs
    ~100-1000 points per centroid, not the full corpus): without it,
    Lloyd pays iters full-corpus passes. Pass None to train on
    everything."""
    cents = _hyperplanes(dim, n_centroids)
    cents = cents / np.linalg.norm(cents, axis=1, keepdims=True)
    v = vectors.select(_as_double(F.col(vec_col)).alias("v"))
    if train_cap is not None:
        n_rows = vectors.count()
        if n_rows > train_cap:
            # deterministic, cheap: xxhash of the vector bytes
            v = v.where(
                F.abs(F.xxhash64(F.col("v").cast("string")))
                % F.lit(max(1, n_rows // train_cap)) == 0)
    v = v.persist()
    for _ in range(iters):
        assigned = v.withColumn(
            "c", F.element_at(_assign_centroids(F.col("v"), cents, 1), 1))
        rows = (assigned.groupBy("c")
                .agg(F.count("*").alias("n"),
                     *[F.sum(F.element_at("v", i + 1)).alias(f"s{i}")
                       for i in range(dim)])
                .collect())
        new = cents.copy()
        for r in rows:
            mean = np.array([r[f"s{i}"] for i in range(dim)]) / r["n"]
            norm = np.linalg.norm(mean)
            if norm > 0:
                new[r["c"]] = mean / norm
        cents = new
    v.unpersist()
    return cents


def _grouped_pairs(members: DataFrame, id_col: str, group_col: str,
                   max_group: int, dedup: bool = True) -> DataFrame:
    """Intra-group id pairs (a < b) from a (group, id) frame, skipping
    groups larger than max_group — the in-group O(c²) guard every
    blocked dedup needs (an over-cap group yields NO pairs; the caller
    documents that recall contract). Two-step explode: materializing
    all O(c²) pairs of a group as ONE array makes multi-hundred-MB
    humongous allocations (G1 GC-locker thrash); exploding the outer
    index first keeps per-row arrays ≤ c elements. ``dedup=False``
    skips the distinct shuffle when each id belongs to exactly one
    group (cluster blocking) so no pair can repeat."""
    bkt = (members.groupBy(group_col)
           .agg(F.array_sort(F.collect_list(id_col)).alias("ids"))
           .where((F.size("ids") >= 2) & (F.size("ids") <= max_group)))
    ids = F.col("ids")
    outer = bkt.select(
        "ids", F.explode(F.sequence(F.lit(1), F.size(ids) - 1)).alias("i"))
    inner = F.transform(F.sequence(F.col("i") + 1, F.size(ids)),
                        lambda j: F.element_at(ids, j))
    pairs = outer.select(F.element_at(ids, F.col("i")).alias("a"),
                         F.explode(inner).alias("b"))
    return pairs.distinct() if dedup else pairs


def semdedup(vectors: DataFrame, threshold: float = 0.95,
             id_col: str = "vec_id", vec_col: str = "embedding",
             block_col: str | None = None,
             centroids: np.ndarray | None = None,
             n_centroids: int = 16, dim: int = 64,
             kmeans_iters: int = 0,
             max_cluster: int = 2_000) -> DataFrame:
    """SemDeDup (Abbas et al. 2023, arXiv:2303.09540): semantic
    deduplication — cluster the embedding space, score cosine only
    WITHIN a cluster, and keep one representative per ε-near group.
    Returns the RETAINED rows of ``vectors`` (original schema).

    Clustering: ``block_col`` uses an existing label/cluster column
    (exact within-block contract; rows with a NULL block value are
    treated as unclustered and always retained — SQL equality on the
    block never matches NULL); otherwise vectors are assigned to
    their nearest of ``centroids`` (or spherical k-means via
    ``kmeans_iters`` > 0, or the deterministic hyperplane fallback) —
    the paper's k-means shape, one narrow Column-math pass.

    Representative rule: a row is dropped iff a SMALLER-id row with
    cosine ≥ threshold exists in its cluster, so the min id of each
    near-group survives. (The paper keeps the member farthest from
    the centroid; min-id is deterministic under reordering and keeps
    the operator expressible as a NOT EXISTS against the exact same
    predicate — the oracle the driver gate runs.)

    Scale shape: pairs are generated per cluster with the capped
    grouped-bucket pattern (never all-pairs); clusters larger than
    ``max_cluster`` are left un-deduped rather than exploding O(c²)
    — size n_centroids so clusters stay under the cap."""
    v = vectors.select(F.col(id_col), _as_double(F.col(vec_col)).alias("v"),
                       *([F.col(block_col)] if block_col else []))
    if block_col is not None:
        # NULL block = "unclustered": excluded from pair generation
        # (always retained), matching the NOT EXISTS oracle where
        # `o.label = e.label` never matches a NULL label.
        grouped = (v.where(F.col(block_col).isNotNull())
                   .select(F.col(id_col), F.col(block_col).alias("_cl")))
    else:
        if centroids is None:
            if kmeans_iters > 0:
                centroids = kmeans_centroids(
                    vectors, n_centroids, dim, iters=kmeans_iters,
                    vec_col=vec_col)
            else:
                centroids = _hyperplanes(dim, n_centroids)
        grouped = v.select(F.col(id_col), F.element_at(
            _assign_centroids(F.col("v"), centroids, 1), 1).alias("_cl"))
    cands = _grouped_pairs(grouped, id_col, "_cl", max_cluster,
                           dedup=False)
    va = v.select(F.col(id_col).alias("a"), F.col("v").alias("va"))
    vb = v.select(F.col(id_col).alias("b"), F.col("v").alias("vb"))
    drops = (cands.join(va, "a").join(vb, "b")
             .where(F.round(cosine(F.col("va"), F.col("vb")), 6)
                    >= threshold)
             .select(F.col("b").alias(id_col)).distinct())
    return vectors.join(drops, id_col, "left_anti")


def near_dup_pairs_cosine(vectors: DataFrame, threshold: float = 0.95,
                          id_col: str = "vec_id", vec_col: str = "embedding",
                          block_col: str | None = "label",
                          lsh_bits: int | None = None,
                          dim: int = 64,
                          max_bucket: int = 2_000) -> DataFrame:
    """Embedding-cosine near-dup pairs (a < b, sim ≥ threshold).

    Blocking (what keeps this off O(n²) at 10^12 rows):
    - `block_col` given: only intra-block pairs are scored (exact
      within the block contract);
    - else `lsh_bits` given: sign-LSH blocking — each vector lands in
      its hyperplane-sign bucket plus all 1-bit-flip buckets
      (multi-probe), pairs sharing any bucket are scored once,
      similarity is exact; with the probe applied to BOTH sides, a
      pair differing in exactly 2 sign bits i,j still collides
      (a^(1<<i) == b^(1<<j)), so a near-dup pair is missed only if
      its two vectors differ in ≥3 sign bits (rare at high
      thresholds) — size lsh_bits against that recall contract AND
      against corpus size: expected bucket occupancy is
      n·(1+lsh_bits)/2^lsh_bits, so take lsh_bits ≈ log2(n)+4 (16
      bits over 10^6 vectors means ~260-deep buckets and ~2·10^9
      candidate pairs even for perfectly dispersed embeddings;
      measured: 24 bits → 9997/10000 planted pairs in 251 s at 10^6);
    - else: exhaustive crossJoin — correct, but the caller owns the
      quadratic cost; prefer one of the blockings at scale."""
    v = vectors.select(F.col(id_col), _as_double(F.col(vec_col)).alias("v"),
                       *( [F.col(block_col)] if block_col else []))
    if block_col:
        a = v.select(F.col(id_col).alias("a"), F.col("v").alias("va"),
                     F.col(block_col))
        b = v.select(F.col(id_col).alias("b"), F.col("v").alias("vb"),
                     F.col(block_col))
        joined = a.join(b, on=block_col)
    elif lsh_bits:
        planes = _hyperplanes(dim, lsh_bits)
        bucket = lsh_bucket_col(F.col("v"), planes)
        probes = F.array(*([bucket] +
                           [bucket.bitwiseXOR(F.lit(1 << i))
                            for i in range(lsh_bits)]))
        # ids-only grouped buckets: the old self-join carried the full
        # dim-double vector on BOTH sides of a (1+lsh_bits)-way
        # exploded join (GC-thrashed at 10^6 × 64-dim), and a clustered
        # corpus concentrates buckets — max_bucket bounds the in-bucket
        # O(c²) pair explosion; a true pair is lost only if EVERY
        # bucket it shares (its own + the 1-bit probes) is over cap
        vb = v.select(F.col(id_col), F.explode(probes).alias("bucket"))
        cands = _grouped_pairs(vb, id_col, "bucket", max_bucket)
        va = v.select(F.col(id_col).alias("a"), F.col("v").alias("va"))
        vbt = v.select(F.col(id_col).alias("b"), F.col("v").alias("vb"))
        joined = cands.join(va, "a").join(vbt, "b")
        return (joined
                .withColumn("cosine_sim",
                            F.round(cosine(F.col("va"), F.col("vb")), 6))
                .where(F.col("cosine_sim") >= threshold)
                .select("a", "b", "cosine_sim"))
    else:
        a = v.select(F.col(id_col).alias("a"), F.col("v").alias("va"))
        b = v.select(F.col(id_col).alias("b"), F.col("v").alias("vb"))
        joined = a.crossJoin(b)
    return (joined.where(F.col("a") < F.col("b"))
            .withColumn("cosine_sim",
                        F.round(cosine(F.col("va"), F.col("vb")), 6))
            .where(F.col("cosine_sim") >= threshold)
            .select("a", "b", "cosine_sim"))

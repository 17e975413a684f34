"""MinHash + LSH near-duplicate detection (north-rule training-data
operator; no reference counterpart).

Pipeline (the standard shingle → minhash → band → bucket shape):

1. signatures: word n-gram shingles (the public Gopher/RefinedWeb
   recipe; vectorized SipHash tokens + rolling combine) → k
   permutation minima via per-permutation splitmix64 finalizers,
   emitted through mapInArrow with flat object-free buffers;
2. banding: k=64 sig split into b bands × r rows; band key =
   xxhash64(band slice) — Spark-side Column ops on the sig array;
3. candidates: ONE map-side-combined groupBy on the band key with
   in-bucket pair explosion (bounded by max_bucket, the dedup
   analogue of ngram's max_df skew cap) — no big self-join;
4. verify: exact Jaccard over the shingle-hash SETS emitted at
   signature time (precision = 1 by construction; recall governed by
   (b, r)). The verify join moves only (id, sig, shingle-hash array)
   rows — the raw corpus text is never shuffled; the Jaccard itself
   is pure Column math (array_intersect/size).

Determinism: splitmix64 seeds derived from sha256 of the permutation
index — stable across processes and partitionings.
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, functions as F

from ..hashing import stable_hash

def _perm_tables(k: int) -> np.ndarray:
    """Per-permutation xor seeds for the splitmix64 finalizer.

    NOT a linear (a·h + b) mod p family: with a < 2^29 and h < 2^32
    the product wraps the modulus at most once, so the map is nearly
    monotone in h — the argmin concentrates on the numerically small
    shingle hashes and 'independent' permutations become heavily
    correlated (measured: pairs at jaccard 0.9 collided in either
    ~all bands or ZERO of 16, where theory says Binomial(16, 0.66)).
    splitmix64 avalanches every input bit, restoring independence,
    and is pure wrapping-uint64 numpy — no modulus needed."""
    return np.array([stable_hash(f"minhash:seed:{i}")
                     for i in range(k)], dtype=np.uint64)


def _splitmix64(x: np.ndarray) -> np.ndarray:
    x = (x + np.uint64(0x9E3779B97F4A7C15))
    x = (x ^ (x >> np.uint64(30))) * np.uint64(0xBF58476D1CE4E5B9)
    x = (x ^ (x >> np.uint64(27))) * np.uint64(0x94D049BB133111EB)
    return x ^ (x >> np.uint64(31))


_WORD_B = np.uint64(0x9E3779B97F4A7C15)  # odd golden-ratio multiplier


def _shingle_hashes_np(text: str, n: int = 5,
                       mode: str = "word") -> np.ndarray:
    """Distinct n-gram shingle hashes as uint64 < 2^32, vectorized.

    mode="word" (default): WORD n-grams, the shingling the public
    MinHash-dedup recipes use (Gopher §A1.2 / RefinedWeb use 5-word
    shingles). Char n-grams saturate: a corpus over a small alphabet
    has only |Σ|^n possible shingles, the permutation minima
    concentrate on the common ones, and LSH buckets grow with corpus
    size until every true pair hides in an over-cap bucket (measured:
    recall 9/10k at 10^6 docs on a hex-token corpus). Word n-grams
    keep the shingle space growing with the vocabulary.

    Vectorized: tokens hash via pd.util.hash_array (SipHash-1-3,
    fixed key — process-stable), combined over the n-window by a
    rolling odd-multiplier polynomial, masked to 32 bits (the
    shingle sets ride the verify join as int32 arrays), then
    np.unique.

    mode="char": base-256 packing of utf-8 byte n-grams (injective
    for n ≤ 4 after the mask) — kept for short-text use cases.
    """
    if mode == "word":
        toks = text.lower().split()
        if not toks:
            return np.empty(0, dtype=np.uint64)
        th = pd.util.hash_array(np.array(toks, dtype=object),
                                categorize=False)
        if th.size < n:
            h = np.zeros(1, dtype=np.uint64)
            for j in range(th.size):
                h = h * _WORD_B + th[j]
        else:
            h = np.zeros(th.size - n + 1, dtype=np.uint64)
            for j in range(n):
                h = h * _WORD_B + th[j:th.size - n + 1 + j]
        h &= np.uint64(0xFFFFFFFF)
        return np.unique(h)

    t = " ".join(text.lower().split())
    b = np.frombuffer(t.encode("utf-8"), dtype=np.uint8).astype(np.uint64)
    if b.size == 0:
        return np.empty(0, dtype=np.uint64)
    if b.size < n:
        h = 0
        for c in b.tolist():
            h = h * 256 + c
        return np.array([h], dtype=np.uint64)
    h = np.zeros(b.size - n + 1, dtype=np.uint64)
    for j in range(n):
        h = h * np.uint64(256) + b[j:b.size - n + 1 + j]
    h &= np.uint64(0xFFFFFFFF)
    return np.unique(h)


def _sig_from_hashes(h: np.ndarray, k: int, _tables={}) -> np.ndarray:
    if k not in _tables:
        _tables[k] = _perm_tables(k)
    seeds = _tables[k]
    if h.size == 0:
        return np.full(k, np.iinfo(np.uint64).max, dtype=np.uint64)
    m = _splitmix64(h[None, :] ^ seeds[:, None])  # (k, |sh|)
    return m.min(axis=1)


def with_signatures(df: DataFrame, text_col: str = "text",
                    id_col: str = "doc_id", k: int = 64,
                    n: int = 5, include_shingles: bool = False) -> DataFrame:
    """→ (id, sig) [, sh] in ONE pass over the corpus. With
    include_shingles the distinct shingle-hash set rides along as an
    int32 array so the verify step never has to touch the text again."""
    out_schema = f"{id_col} long, sig array<long>"
    if include_shingles:
        out_schema += ", sh array<int>"

    # mapInArrow with flat buffers + ListArray.from_arrays: the
    # pandas/tolist form materialized ~300 Python ints per doc and
    # allocator pressure capped the whole box at ~16k docs/s no
    # matter the core count; flat numpy → Arrow is object-free
    # (measured ~9× end-to-end on 10^6 docs).
    def gen(batches):
        import pyarrow as pa
        for rb in batches:
            tbl = pa.table(rb)
            ids = tbl.column(id_col)
            texts = tbl.column(text_col).to_pylist()
            m = len(texts)
            sig_flat = np.empty(m * k, dtype=np.int64)
            hs = []
            sh_off = np.zeros(m + 1, dtype=np.int64)
            for i, t in enumerate(texts):
                h = _shingle_hashes_np(t or "", n)
                sig_flat[i * k:(i + 1) * k] = \
                    _sig_from_hashes(h, k).astype(np.int64)
                if include_shingles:
                    hs.append(h)
                    sh_off[i + 1] = sh_off[i] + h.size
            sig_off = np.arange(0, (m + 1) * k, k, dtype=np.int64)
            cols = [ids.combine_chunks(),
                    pa.ListArray.from_arrays(
                        pa.array(sig_off, type=pa.int64()).cast(pa.int32()),
                        pa.array(sig_flat, type=pa.int64()))]
            names = [id_col, "sig"]
            if include_shingles:
                flat = (np.concatenate(hs) if hs else
                        np.empty(0, dtype=np.uint64))
                cols.append(pa.ListArray.from_arrays(
                    pa.array(sh_off, type=pa.int64()).cast(pa.int32()),
                    pa.array(flat.astype(np.uint32).astype(np.int32),
                             type=pa.int32())))
                names.append("sh")
            yield pa.RecordBatch.from_arrays(cols, names=names)

    return df.select(id_col, text_col).mapInArrow(gen, schema=out_schema)


def candidate_pairs(sigs: DataFrame, id_col: str = "doc_id",
                    bands: int = 16, rows: int = 4,
                    max_bucket: int = 500) -> DataFrame:
    """LSH banding → distinct candidate (a, b) id pairs (a < b).

    Shape: ONE map-side-combined groupBy on the band key, then pairs
    explode locally inside each bucket — not a 2×(docs·bands)-row
    self-join (the previous form shuffled AND sorted both 16M-row
    sides for a sort-merge join whose output is tiny). Buckets larger
    than ``max_bucket`` are dropped, exactly like ngram's max_df cap:
    a viral bucket (near-identical boilerplate) would emit O(c²)
    pairs; a true near-dup pair caught only by an over-cap bucket is
    overwhelmingly likely to collide in another of the `bands` bands."""
    banded = sigs.select(
        F.col(id_col),
        F.explode(F.array(*[
            F.struct(F.lit(i).alias("band"),
                     F.xxhash64(F.slice("sig", i * rows + 1, rows))
                     .alias("key"))
            for i in range(bands)])).alias("bk"))
    buckets = (banded.groupBy("bk")
               .agg(F.array_sort(F.collect_list(id_col)).alias("ids"))
               .where((F.size("ids") >= 2)
                      & (F.size("ids") <= max_bucket)))
    # all a<b pairs within a bucket via TWO-step explode (outer index,
    # then inner tail): one flattened O(c²) array per bucket row would
    # be a humongous allocation at the cap; per-row arrays here are
    # ≤ c elements. ids is sorted inside the aggregate so the lambdas
    # capture a plain column, never a re-evaluated expression (see
    # memory: lambda capture recompute).
    ids = F.col("ids")
    outer = buckets.select(
        "ids", F.explode(F.sequence(F.lit(1), F.size(ids) - 1)).alias("i"))
    inner = F.transform(F.sequence(F.col("i") + 1, F.size(ids)),
                        lambda j: F.element_at(ids, j))
    return (outer.select(F.element_at(ids, F.col("i")).alias("a"),
                         F.explode(inner).alias("b"))
            .distinct())


def near_dup_pairs(df: DataFrame, text_col: str = "text",
                   id_col: str = "doc_id", threshold: float = 0.8,
                   k: int = 64, bands: int = 16, rows: int = 4,
                   n: int = 5) -> DataFrame:
    """Full pipeline → (a, b, jaccard) verified pairs ≥ threshold.

    The corpus text feeds only the signature pass, which also emits
    each doc's distinct shingle-hash set; candidates and the
    exact-Jaccard verify operate on that compact (id, sig, sh) table —
    at 100 TB the verify joins shuffle shingle-hash arrays, never the
    corpus. Nothing is cached, so no table outlives the call; the
    candidate branch and both verify joins each run the signature
    pass."""
    sigs = with_signatures(df, text_col, id_col, k, n,
                           include_shingles=True)
    cands = candidate_pairs(sigs.select(id_col, "sig"), id_col, bands, rows)
    sets = sigs.select(F.col(id_col), F.col("sh"))
    joined = (cands
              .join(sets.withColumnRenamed(id_col, "a")
                    .withColumnRenamed("sh", "sh_a"), "a")
              .join(sets.withColumnRenamed(id_col, "b")
                    .withColumnRenamed("sh", "sh_b"), "b"))
    inter = F.size(F.array_intersect("sh_a", "sh_b"))
    union = F.size("sh_a") + F.size("sh_b") - inter
    return (joined
            .withColumn("jaccard", F.round(
                F.when(union > 0, inter / union).otherwise(F.lit(0.0)), 6))
            .where(F.col("jaccard") >= threshold)
            .select("a", "b", "jaccard"))

"""SimHash near-duplicate fingerprinting (north-rule training-data
operator).

64-bit simhash over whitespace tokens, fully vectorized per Arrow
batch: all tokens of all docs in the batch are hashed in one
``pd.util.hash_array`` call (SipHash-1-3 with the fixed default key —
deterministic across processes), the ±1 bit votes accumulate with one
``np.add.reduceat`` over the per-doc token segments, and the sign
gives the fingerprint. No per-token Python in the hot path.

Candidate generation uses the pigeonhole block trick: split the
64-bit print into 4×16-bit chunks — any pair within Hamming distance
≤3 shares at least one exact chunk, so a 4-way chunk-equi-join finds
all such pairs without an O(n²) comparison. The final Hamming check
runs JVM-side on the (small) candidate set.
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, functions as F

_BIT_SHIFTS = np.arange(64, dtype=np.uint64)

# bound on the (tokens × 64) int8 vote matrix per chunk (~64 MB) so a
# batch of very long documents can't blow executor memory
_CHUNK_TOKENS = 1_000_000


def _simhash_chunk(tok_lists: list[list[str]]) -> np.ndarray:
    lens = np.fromiter((len(t) for t in tok_lists), dtype=np.int64,
                       count=len(tok_lists))
    out = np.zeros(len(tok_lists), dtype=np.uint64)
    total = int(lens.sum())
    if total == 0:
        return out
    flat = np.empty(total, dtype=object)
    pos = 0
    for toks in tok_lists:
        flat[pos:pos + len(toks)] = toks
        pos += len(toks)
    h = pd.util.hash_array(flat, categorize=True)  # uint64, vectorized
    # (total, 64) ±1 votes; int8 keeps the matrix small; reduceat
    # accumulates straight into int32 (no materialized int32 copy)
    votes = (((h[:, None] >> _BIT_SHIFTS[None, :]) & 1)
             .astype(np.int8) * 2 - 1)
    nonempty = lens > 0
    offsets = np.zeros(int(nonempty.sum()), dtype=np.int64)
    np.cumsum(lens[nonempty][:-1], out=offsets[1:])
    acc = np.add.reduceat(votes, offsets, axis=0, dtype=np.int32)
    bits = (acc > 0).astype(np.uint64)
    prints = (bits << _BIT_SHIFTS[None, :]).sum(axis=1, dtype=np.uint64)
    out[nonempty] = prints
    return out


def simhash_batch(texts) -> np.ndarray:
    """Vectorized 64-bit simhash of a sequence of texts → uint64[n].

    One hash_array call for every token in a chunk, one reduceat for
    the per-doc bit-vote sums; chunks are bounded at _CHUNK_TOKENS
    tokens so peak memory stays ~64 MB regardless of document length.
    """
    tok_lists = [(t or "").lower().split() for t in texts]
    n = len(tok_lists)
    out = np.zeros(n, dtype=np.uint64)
    start = 0
    while start < n:
        end, tok = start, 0
        while end < n and (tok == 0
                           or tok + len(tok_lists[end]) <= _CHUNK_TOKENS):
            tok += len(tok_lists[end])
            end += 1
        out[start:end] = _simhash_chunk(tok_lists[start:end])
        start = end
    return out


def with_simhash(df: DataFrame, text_col: str = "text",
                 id_col: str = "doc_id") -> DataFrame:
    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            sh = simhash_batch(pdf[text_col]).astype(np.int64)
            yield pd.DataFrame({id_col: pdf[id_col], "simhash": sh})

    return df.select(id_col, text_col).mapInPandas(
        gen, schema=f"{id_col} long, simhash long")


def hamming(a, b):
    return F.bit_count(a.bitwiseXOR(b))


def near_dup_pairs_simhash(df: DataFrame, text_col: str = "text",
                           id_col: str = "doc_id",
                           max_distance: int = 3,
                           max_bucket: int = 10_000) -> DataFrame:
    """→ (a, b, hamming_dist) pairs with distance ≤ max_distance.
    Requires max_distance ≤ 3 for the 4-chunk pigeonhole to be exact
    (Manku et al. 2007: any two hashes within Hamming 3 share at
    least one untouched 16-bit chunk).

    Shape: ONE map-side-combined groupBy per (chunk, value) bucket,
    pairwise Hamming inside the bucket in pure Column math — not a
    2×(4·docs)-row self-join. Structural scale note: 16-bit chunk
    keys mean expected bucket size docs/2^16, so in-bucket work grows
    quadratically with the corpus; ``max_bucket`` caps the worst
    buckets (a capped TRUE pair is only lost if all four of its
    chunks are over-cap)."""
    sh = with_simhash(df, text_col, id_col)
    return _pairs_from_hashes(sh, id_col=id_col, hash_col="simhash",
                              max_distance=max_distance,
                              max_bucket=max_bucket)


def _pairs_from_hashes(hashed: DataFrame, id_col: str, hash_col: str,
                       max_distance: int = 3,
                       max_bucket: int = 10_000) -> DataFrame:
    """(id, 64-bit hash) → (a, b, dist) Hamming pairs via the 4-chunk
    pigeonhole + capped in-bucket pairwise compare."""
    assert max_distance <= 3
    sh = hashed.select(F.col(id_col),
                       F.col(hash_col).alias("simhash"))
    chunked = sh.select(
        F.col(id_col), F.col("simhash"),
        F.explode(F.array(*[
            F.struct(F.lit(i).alias("chunk"),
                     F.shiftrightunsigned("simhash", 16 * i)
                     .bitwiseAND(F.lit(0xFFFF)).alias("val"))
            for i in range(4)])).alias("ck"))
    buckets = (chunked.groupBy("ck")
               .agg(F.array_sort(F.collect_list(
                   F.struct(F.col(id_col).alias("i"),
                            F.col("simhash").alias("s")))).alias("ds"))
               .where((F.size("ds") >= 2)
                      & (F.size("ds") <= max_bucket)))
    # two-step explode (outer index, then inner tail): one flattened
    # O(c²) array per bucket row would be a humongous allocation at
    # the cap; per-row arrays here are ≤ c elements
    ds = F.col("ds")
    outer = buckets.select(
        "ds", F.explode(F.sequence(F.lit(1), F.size(ds) - 1)).alias("i"))
    inner = F.transform(
        F.sequence(F.col("i") + 1, F.size(ds)),
        lambda j: F.struct(
            F.element_at(ds, j).getField("i").alias("b"),
            hamming(F.element_at(ds, F.col("i")).getField("s"),
                    F.element_at(ds, j).getField("s")).alias("dist")))
    return (outer.select(
                F.element_at(ds, F.col("i")).getField("i").alias("a"),
                F.explode(inner).alias("p"))
            .select("a", F.col("p.b").alias("b"),
                    F.col("p.dist").alias("dist"))
            .where(F.col("dist") <= max_distance)
            .distinct())

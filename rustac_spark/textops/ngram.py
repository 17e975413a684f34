"""Exact character n-gram Jaccard similarity join — pure Column ops.

Unlike MinHash (probabilistic, textops/minhash.py), this computes
EXACT Jaccard over distinct char n-grams via the inverted-index join
pattern, entirely JVM-side:

    shingle-explode → (document-frequency cap) → self-equi-join on
    shingle → distinct candidate pairs → exact Jaccard from the two
    docs' full shingle arrays (array_intersect — still pure Column)

Scale posture: the self-join shuffles on shingle — a textbook
hash-partitioned join whose skew (stop-shingles shared by everyone)
is bounded by dropping shingles above a document-frequency cap from
CANDIDATE GENERATION ONLY, the standard prefix-filtering trick. The
Jaccard of every emitted pair is computed from the uncapped shingle
sets, so reported similarities are exact; the only approximation is
that a pair sharing exclusively >max_df stop-shingles is never
surfaced (at a real threshold such pairs are template noise). One
viral 3-gram otherwise yields a quadratic join bucket — at 10^12 docs
the cap is the difference between a shuffle and an outage; pass
``max_df=None`` to force the fully exhaustive join.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

DEFAULT_MAX_DF = 10_000


def shingle_col(text, n: int = 3):
    """Distinct char n-grams of a text column — pure Column
    (sequence + transform + substr; stays in codegen)."""
    return F.array_distinct(F.expr(
        f"transform(sequence(1, greatest(1, length({text}) - {n - 1})), "
        f"i -> substr({text}, i, {n}))"))


def jaccard_pairs(df: DataFrame, threshold: float = 0.8,
                  id_col: str = "doc_id", text_col: str = "text",
                  n: int = 3,
                  max_df: int | None = DEFAULT_MAX_DF) -> DataFrame:
    """→ (a, b, jaccard) with a < b and jaccard ≥ threshold.

    Jaccard values are exact (computed from full shingle sets);
    max_df bounds only which pairs become candidates (see module
    docstring). The input text is scanned once into the compact
    (id, shingles) table that serves both the index and the verify.
    """
    docs = df.select(F.col(id_col).alias("_id"),
                     shingle_col(text_col, n).alias("_shs"))
    sh = docs.select("_id", F.explode("_shs").alias("sh"))
    if max_df is not None:
        freq = sh.groupBy("sh").agg(F.count("*").alias("_df"))
        sh = sh.join(freq.where(F.col("_df") <= max_df), "sh")
    a = sh.select(F.col("_id").alias("a"), "sh")
    b = sh.select(F.col("_id").alias("b"), "sh")
    cands = (a.join(b, "sh").where(F.col("a") < F.col("b"))
             .select("a", "b").distinct())
    sa = docs.select(F.col("_id").alias("a"), F.col("_shs").alias("_sha"))
    sb = docs.select(F.col("_id").alias("b"), F.col("_shs").alias("_shb"))
    inter = F.size(F.array_intersect("_sha", "_shb"))
    union = F.size("_sha") + F.size("_shb") - inter
    return (cands.join(sa, "a").join(sb, "b")
            .withColumn("jaccard", F.round(
                F.when(union > 0, inter / union).otherwise(F.lit(0.0)), 6))
            .where(F.col("jaccard") >= threshold)
            .select("a", "b", "jaccard"))


def dup_ngram_spans(docs: DataFrame, n: int = 10, min_count: int = 2,
                    id_col: str = "doc_id", text_col: str = "text",
                    hashed: bool = True) -> DataFrame:
    """Exact duplicated-substring detection (the "dedup training data
    at the span level" operator, after Lee et al., "Deduplicating
    Training Data Makes Language Models Better"): find every maximal
    token span whose length-`n` token n-grams each occur ≥ min_count
    times in the corpus, reported per doc as
    (doc_id, span_start, span_end, n_dup_grams) in token offsets
    (span_end inclusive, = last covered token index).

    Physical shape (SINGLE corpus pass, two shuffles):
      1. posting list — posexplode token n-grams (narrow);
      2. per-gram corpus frequency via a window count partitioned on
         the gram key — one shuffle, and the postings are tokenized /
         exploded exactly ONCE (the earlier aggregate-then-join form
         recomputed the explode for the join probe side, doubling the
         scan). `hashed=True` keys on xxhash64 of the gram text so
         the shuffle moves 8-byte keys, not strings (the 100 TB
         default; collisions only ever MERGE frequency counts, so a
         span can only be over-reported, never lost — pass
         hashed=False for the bit-exact string-keyed variant the
         DuckDB gate oracle uses);
      3. merge adjacent positions into maximal spans with one per-doc
         window pass.
    """
    from pyspark.sql import Window

    tk = F.split(F.trim(F.col(text_col)), r"\s+")
    base = (docs
            .select(F.col(id_col), tk.alias("tk"))
            .where(F.size("tk") >= n))
    gram = F.concat_ws(" ", F.slice(F.col("tk"), F.col("pos") + 1, n))
    key = F.xxhash64(gram) if hashed else gram
    postings = (base
                .select(id_col, F.expr(
                    "posexplode(sequence(0, size(tk) - {n}))"
                    .format(n=n)).alias("_i", "pos"), "tk")
                .select(id_col, "pos", key.alias("g")))
    dup = (postings
           .withColumn("_cnt", F.count("*").over(Window.partitionBy("g")))
           .where(F.col("_cnt") >= min_count)
           .select(id_col, "pos"))
    w = Window.partitionBy(id_col).orderBy("pos")
    runs = (dup
            .withColumn("_new", F.when(
                F.col("pos") - F.lag("pos").over(w) == 1, 0).otherwise(1))
            .withColumn("_run", F.sum("_new").over(
                w.rowsBetween(Window.unboundedPreceding, 0))))
    return (runs.groupBy(id_col, "_run")
            .agg(F.min("pos").alias("span_start"),
                 (F.max("pos") + F.lit(n - 1)).alias("span_end"),
                 F.count("*").alias("n_dup_grams"))
            .drop("_run"))


def contaminated_gram_counts(docs: DataFrame, benchmark: DataFrame,
                             n: int = 8, id_col: str = "doc_id",
                             text_col: str = "text",
                             bench_text_col: str = "text") -> DataFrame:
    """Benchmark-decontamination hit counts (GPT-3 appendix C /
    Llama-style n-gram train-test overlap): for every corpus doc that
    shares at least one token `n`-gram with the held-out benchmark
    set, report (id_col, n_contam_grams) where n_contam_grams is the
    number of token POSITIONS in the doc whose n-gram appears anywhere
    in the benchmark (two occurrences of the same benchmark gram count
    twice). Clean docs are absent from the output.

    Physical shape: the benchmark's distinct grams are tiny by
    construction (eval sets are MBs even when the corpus is 100 TB),
    so they BROADCAST; the corpus is tokenized and scanned exactly
    once, its grams probed against the broadcast hash set — the
    corpus itself is never reshuffled, only the (rare) hit rows are
    aggregated by doc id.
    """
    def _grams(df, tcol, cols):
        tk = F.split(F.trim(F.col(tcol)), r"\s+")
        return (df.select(*cols, tk.alias("tk"))
                .where(F.size("tk") >= n)
                .select(*cols, F.expr(
                    f"posexplode(sequence(0, size(tk) - {n}))")
                    .alias("_i", "pos"), "tk")
                .select(*cols, F.concat_ws(
                    " ", F.slice(F.col("tk"), F.col("pos") + 1, n))
                    .alias("g")))

    bench_grams = (_grams(benchmark, bench_text_col, [])
                   .select("g").distinct())
    doc_grams = _grams(docs, text_col, [id_col])
    return (doc_grams.join(F.broadcast(bench_grams), "g")
            .groupBy(id_col)
            .agg(F.count("*").alias("n_contam_grams")))

"""Gopher-style repetition / quality signals for webtext corpora.

Implements the repetition-removal family of filters from the public
Gopher paper (Rae et al. 2021, "Scaling Language Models", §A1.1) as
PURE Column expressions: duplicate-word fraction, most-common-word
fraction, and top-2/3-gram fractions, plus a composite pass flag with
the paper's published thresholds. No reference counterpart in rustac —
this is a north-rule first-class training-data-pipeline operator.

Everything stays in whole-stage codegen (higher-order array functions
on the token array); per-row cost is O(d·n) for the mode count where
d = distinct grams — fine for document-sized arrays, and there is no
shuffle at all: the operator is a narrow map over the corpus, so it
scales linearly to 100 TB with zero coordination.

Every signal has an exact DuckDB twin in __spark_entry__.oracle_sql()
(list_transform / list_filter / list_distinct mirror the Spark
higher-order functions).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F

from rustac_spark.textops.basic import tokens

# Thresholds from the Gopher paper's repetition-removal table.
TOP_2GRAM_MAX = 0.20
TOP_3GRAM_MAX = 0.18
DUP_WORD_MAX = 0.90  # synthetic-vocab corpora are highly repetitive;
                     # the paper's analogue is the dup-line family


def _mode_count(arr: Column) -> Column:
    """Count of the most frequent element (0 for empty array).

    Sort + run-length scan, O(n log n) per row. The naive
    transform(distinct, x -> size(filter(arr, =x))) form is a trap:
    each lambda iteration re-evaluates the CAPTURED array expression,
    so an n-gram input costs O(d·n²) per row — measured 170 ms/row on
    400-token docs vs <1 ms for this form."""
    acc0 = F.struct(F.lit(None).cast("string").alias("prev"),
                    F.lit(0).alias("run"), F.lit(0).alias("best"))
    step = lambda a, x: F.struct(
        x.alias("prev"),
        F.when(x.eqNullSafe(a.prev), a.run + 1).otherwise(F.lit(1))
         .alias("run"),
        F.greatest(a.best,
                   F.when(x.eqNullSafe(a.prev), a.run + 1)
                    .otherwise(F.lit(1))).alias("best"))
    return F.aggregate(F.array_sort(arr), acc0, step, lambda a: a.best)


def ngrams(toks: Column, n: int) -> Column:
    """Space-joined n-grams of a token array; empty when size < n.
    Guarded sequence: Spark's sequence(1, 0) would count DOWN, so the
    < n case short-circuits to an empty array."""
    idx = F.sequence(F.lit(1), F.size(toks) - (n - 1))
    gram = lambda i: F.concat_ws(
        " ", *[F.element_at(toks, i + j) for j in range(n)])
    return F.when(F.size(toks) >= n, F.transform(idx, gram)) \
        .otherwise(F.array().cast("array<string>"))


def dup_word_frac(toks: Column) -> Column:
    """1 − distinct/total tokens: share of word occurrences that are
    repeats of an earlier word."""
    n = F.size(toks)
    return F.when(n <= 0, F.lit(0.0)).otherwise(
        1.0 - F.size(F.array_distinct(toks)).cast("double") / n)


def top_gram_frac(grams: Column) -> Column:
    """Fraction of all grams taken by the single most common gram."""
    n = F.size(grams)
    return F.when(n <= 0, F.lit(0.0)).otherwise(
        _mode_count(grams).cast("double") / n)


def with_quality_rules(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Adds the repetition signals + the composite gopher_pass flag."""
    toks = tokens(F.col(text_col))
    out = (df
           .withColumn("n_tokens", F.size(toks))
           .withColumn("dup_word_frac", F.round(dup_word_frac(toks), 6))
           .withColumn("top_word_frac",
                       F.round(top_gram_frac(toks), 6))
           .withColumn("top_bigram_frac",
                       F.round(top_gram_frac(ngrams(toks, 2)), 6))
           .withColumn("top_trigram_frac",
                       F.round(top_gram_frac(ngrams(toks, 3)), 6)))
    passed = ((F.col("top_bigram_frac") <= TOP_2GRAM_MAX)
              & (F.col("top_trigram_frac") <= TOP_3GRAM_MAX)
              & (F.col("dup_word_frac") <= DUP_WORD_MAX))
    return out.withColumn("gopher_pass", passed.cast("int"))


# ---------------------------------------------------- C4 line filters
# Line-level cleaning from the public C4 paper (Raffel et al. 2020,
# §2.2): keep lines that end in terminal punctuation and have at
# least C4_MIN_WORDS words; drop the page when the cleaned text loses
# every line or mentions boilerplate markers. Pure Column (split /
# filter / array_join): a narrow map, no shuffle, streaming-safe.

C4_MIN_WORDS = 3
C4_TERMINAL = (".", "!", "?", '"')
C4_BAD_MARKERS = ("lorem ipsum", "javascript")


def _line_ok(line: Column) -> Column:
    t = F.trim(line)
    ends_ok = F.lit(False)
    for p in C4_TERMINAL:
        ends_ok = ends_ok | t.endswith(p)
    n_words = F.when(F.length(t) == 0, F.lit(0)) \
        .otherwise(F.size(F.split(t, r"\s+")))
    return ends_ok & (n_words >= C4_MIN_WORDS)


def with_c4_filters(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Adds clean_text, n_lines_kept/total, and c4_keep (page-level
    verdict: some line survived and no boilerplate marker)."""
    t = F.col(text_col)
    lines = F.split(t, "\n")
    kept = F.filter(lines, _line_ok)
    low = F.lower(t)
    has_bad = F.lit(False)
    for m in C4_BAD_MARKERS:
        has_bad = has_bad | low.contains(m)
    return (df
            .withColumn("clean_text", F.array_join(kept, "\n"))
            .withColumn("n_lines_total", F.size(lines))
            .withColumn("n_lines_kept", F.size(kept))
            .withColumn("c4_keep",
                        ((F.size(kept) > 0) & ~has_bad).cast("int")))

"""Text analysis for web-scale training-data pipelines.

All hot-path expressions are JVM-side built-ins (split/length/replace/
regexp) — whole-stage codegen, no Python. The fingerprint rolling hash
is exact integer arithmetic so results are partitioning-invariant.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


# deterministic marker words per language for the n-gram-style
# heuristic language id (real systems use char n-gram profiles; the
# structure — per-language evidence scores, argmax — is the same)
LANG_MARKERS = {
    "en": ("the", "and", "of"),
    "de": ("der", "und", "die"),
    "fr": ("le", "et", "les"),
    "es": ("el", "y", "los"),
}


def token_count(text: Column) -> Column:
    """Whitespace token count (JVM split)."""
    return F.size(F.split(text, " "))


def occurrence_count(text: Column, needle: str) -> Column:
    """Exact substring occurrence count via length arithmetic
    (deterministic integer math, oracle-friendly)."""
    return (
        (F.length(text) - F.length(F.replace(text, F.lit(needle), F.lit(""))))
        / len(needle)
    ).cast("long")


def lang_id(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Marker-evidence language guess: per-language hit counts, argmax
    with deterministic tie-break on language code order."""
    t = F.col(text_col)
    scores = {
        lang: sum(
            (occurrence_count(t, " " + w + " ") for w in words),
            F.lit(0).cast("long"),
        )
        for lang, words in LANG_MARKERS.items()
    }
    # argmax via greatest + chained when (ties → first in sorted order)
    out = df
    for lang, s in scores.items():
        out = out.withColumn(f"__s_{lang}", s)
    best = F.greatest(*[F.col(f"__s_{lang}") for lang in LANG_MARKERS])
    guess = F.lit("unk")
    for lang in reversed(sorted(LANG_MARKERS)):
        guess = F.when(
            (F.col(f"__s_{lang}") == best) & (best > 0), F.lit(lang)
        ).otherwise(guess)
    out = out.withColumn("lang_guess", guess)
    return out.drop(*[f"__s_{lang}" for lang in LANG_MARKERS])


def fingerprint(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Positional token fingerprint: sum((i) * (len(word_i)+1)) mod p —
    exact integer rolling digest, order-sensitive, partitioning-
    invariant (per-row arithmetic only)."""
    w = F.split(F.col(text_col), " ")
    idx = F.sequence(F.lit(1), F.size(w))
    terms = F.zip_with(
        idx, w, lambda i, word: i.cast("long") * (F.length(word) + 1).cast("long")
    )
    fp = F.aggregate(
        terms, F.lit(0).cast("long"), lambda acc, x: (acc + x) % 1000000007
    )
    return df.withColumn("fp", fp)


def repetition_signals(df: DataFrame, id_col: str = "doc_id",
                       text_col: str = "text") -> DataFrame:
    """Gopher-style repetition quality signals per document:
    (n_tokens, n_distinct, top_word_n, top_bigram_n) — the "fraction
    of text in the most common word / 2-gram" family (Rae et al. 2021
    §A1.1) as exact integer counts (ratios are a trivial projection;
    integers keep the oracle hash stable).

    Plan: tokens and bigrams are built JVM-side (split / slice /
    zip_with — whole-stage codegen), then ONE explode + two-level
    groupBy per granularity. The (doc, term) partial aggregation is
    map-side combinable; the per-doc max is a tiny second hash agg.
    No Python anywhere, no skew risk beyond document length itself."""
    t = F.col(text_col)
    toks = F.split(t, " ")
    n = F.size(toks)
    base = df.select(
        F.col(id_col),
        toks.alias("toks"),
        n.cast("long").alias("n_tokens"),
        F.size(F.array_distinct(toks)).cast("long").alias("n_distinct"),
    )

    def top_count(col, out):
        exploded = base.select(id_col, F.explode(col).alias("term"))
        return (
            exploded.groupBy(id_col, "term")
            .count()
            .groupBy(id_col)
            .agg(F.max("count").cast("long").alias(out))
        )

    heads = F.slice(F.col("toks"), 1, F.size(F.col("toks")) - 1)
    tails = F.slice(F.col("toks"), 2, F.size(F.col("toks")) - 1)
    bigrams = F.zip_with(heads, tails, lambda a, b: F.concat_ws(" ", a, b))

    words = top_count(F.col("toks"), "top_word_n")
    bgs = top_count(bigrams, "top_bigram_n")
    return (
        base.select(id_col, "n_tokens", "n_distinct")
        .join(words, id_col, "left")
        .join(bgs, id_col, "left")
        .select(
            id_col, "n_tokens", "n_distinct",
            F.coalesce("top_word_n", F.lit(0)).alias("top_word_n"),
            F.coalesce("top_bigram_n", F.lit(0)).alias("top_bigram_n"),
        )
    )

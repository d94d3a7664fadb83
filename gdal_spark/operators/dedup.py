"""Deduplication family for web-scale corpora.

Exact (hash-groupBy), n-gram Jaccard (exact, integer-threshold),
MinHash+LSH (band-bucketed candidate generation + exact verification),
SimHash, and embedding-cosine near-dup.  Design rule for 100 TB: every
candidate-generation stage is an equi-join on a small key (gram hash,
band hash, sim-prefix) so Catalyst shuffles ONLY keys+ids, never
document text; exact verification runs on the surviving pair set.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def word_array(text_col):
    return F.split(text_col, " ")


def ngram_array(text_col, n: int = 3):
    """Distinct word n-grams as an array column (JVM transform)."""
    w = word_array(text_col)
    grams = F.when(
        F.size(w) >= n,
        F.transform(
            F.sequence(F.lit(1), F.size(w) - (n - 1)),
            lambda i: F.concat_ws(
                " ", *[F.element_at(w, i + j) for j in range(n)]
            ),
        ),
    ).otherwise(F.array())
    return F.array_distinct(grams)


def exact_dup_groups(
    df: DataFrame, key_col, id_col: str = "doc_id"
) -> DataFrame:
    """Exact duplicate groups by ``key_col`` → (key, n, keeper)."""
    return (
        df.groupBy(key_col.alias("dup_key"))
        .agg(F.count(F.lit(1)).alias("n"), F.min(id_col).alias("keeper"))
        .filter(F.col("n") > 1)
    )


def _gram_table(df: DataFrame, id_col: str, text_col: str, n: int) -> DataFrame:
    return df.select(
        F.col(id_col).alias("__id"),
        F.explode(ngram_array(F.col(text_col), n)).alias("gram"),
    )


def ngram_hash_array(text_col, n: int = 3):
    """Distinct word n-grams as 64-bit FINGERPRINTS, never
    materializing a gram string: each word is xxhash64'd ONCE, then
    every n-window combines the word hashes with a positional
    polynomial (whole-stage codegen int64 math). A 13-gram that would
    cost ~13x the text bytes as a string costs 8 bytes here — at
    corpus scale the gram pass is CPU/memory-bound on exactly that
    blowup. 64-bit collisions are ~n_grams²/2⁶⁵ (zero in practice)."""
    wh = F.transform(word_array(text_col), lambda w: F.xxhash64(w))
    # rotate-xor fold: position-sensitive, pure bitwise (ANSI-safe —
    # no long multiply that could overflow-throw)
    grams = F.when(
        F.size(wh) >= n,
        F.transform(
            F.sequence(F.lit(1), F.size(wh) - (n - 1)),
            lambda i: F.aggregate(
                F.slice(wh, i, n),
                F.lit(-3750763034362895579).cast("long"),  # seed
                lambda acc, h: F.shiftleft(acc, 5)
                .bitwiseOR(F.shiftrightunsigned(acc, 59))
                .bitwiseXOR(h),
            ),
        ),
    ).otherwise(F.array().cast("array<long>"))
    return F.array_distinct(grams)


def _gram_hash_table(
    df: DataFrame, id_col: str, text_col: str, n: int
) -> DataFrame:
    return df.select(
        F.col(id_col).alias("__id"),
        F.explode(ngram_hash_array(F.col(text_col), n)).alias("gram"),
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    threshold_num: int = 1,
    threshold_den: int = 10,
    candidates: DataFrame | None = None,
) -> DataFrame:
    """Exact n-gram Jaccard ≥ threshold_num/threshold_den.

    Integer-math threshold (inter*den >= union*num) — no float compare.
    Output: (doc_a, doc_b, inter_cnt, union_cnt).

    ``candidates`` (columns doc_a < doc_b) switches to a PAIR-WISE
    verify: the gram table is LEFT-SEMI-pruned to candidate doc ids
    (sizes), and the intersection is computed by expanding each pair
    with doc_a's grams and equi-joining on (doc_b, gram) — work is
    O(candidate pairs x doc length), never a gram self-join, so
    universal grams (stopwords) cost linear probe rows instead of
    count(gram)^2.  This is the verification path of
    minhash_lsh_pairs; without ``candidates`` it is the exact
    all-pairs oracle (quadratic in docs-per-gram — at 100 TB always
    pass candidates from an LSH stage).
    """
    grams = _gram_table(df, id_col, text_col, n)
    if candidates is not None:
        cand_ids = (
            candidates.select(F.col("doc_a").alias("__id"))
            .unionByName(candidates.select(F.col("doc_b").alias("__id")))
            .distinct()
        )
        grams = grams.join(cand_ids, "__id", "left_semi")
    # sizes from the (possibly pruned) gram table: per-doc gram counts
    # are unaffected by dropping other docs' rows
    sizes = grams.groupBy("__id").agg(F.count(F.lit(1)).alias("sz"))
    if candidates is not None:
        # PAIR-WISE verify, not a gram self-join: expand each candidate
        # pair by doc_a's grams, then equi-join on (doc_b, gram). Work
        # is O(candidate pairs x doc length) and immune to gram
        # frequency skew — a stopword shared by every doc costs one
        # probe row per (pair, occurrence), where the self-join form
        # pays count(gram)^2 rows per gram (quadratic in corpus size
        # for universal grams, even candidate-doc-restricted).
        inter = (
            candidates.select("doc_a", "doc_b")
            .join(
                grams.select(F.col("__id").alias("doc_a"), "gram"), "doc_a"
            )
            .join(
                grams.select(F.col("__id").alias("doc_b"), "gram"),
                ["doc_b", "gram"],
            )
            .groupBy("doc_a", "doc_b")
            .agg(F.count(F.lit(1)).alias("inter_cnt"))
        )
    else:
        a = grams.alias("a")
        b = grams.alias("b")
        inter = (
            a.join(b, (F.col("a.gram") == F.col("b.gram"))
                   & (F.col("a.__id") < F.col("b.__id")))
            .groupBy(
                F.col("a.__id").alias("doc_a"),
                F.col("b.__id").alias("doc_b"),
            )
            .agg(F.count(F.lit(1)).alias("inter_cnt"))
        )
    sa = sizes.select(F.col("__id").alias("doc_a"), F.col("sz").alias("__sa"))
    sb = sizes.select(F.col("__id").alias("doc_b"), F.col("sz").alias("__sb"))
    return (
        inter.join(sa, "doc_a")
        .join(sb, "doc_b")
        .withColumn("union_cnt", F.col("__sa") + F.col("__sb") - F.col("inter_cnt"))
        .filter(
            F.col("inter_cnt") * threshold_den >= F.col("union_cnt") * threshold_num
        )
        .select("doc_a", "doc_b", "inter_cnt", "union_cnt")
    )


def minhash_signatures(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 1,
    num_perm: int = 128,
) -> DataFrame:
    """MinHash over distinct word n-grams: sig[i] = min(xxhash64(gram, i)).

    One shuffle (groupBy id); hashes computed JVM-side (xxhash64)."""
    grams = _gram_table(df, id_col, text_col, n)
    # single-parse F.expr per column: the Column-DSL form costs ~4
    # py4j round-trips per permutation (hundreds of ms of pure driver
    # latency at num_perm=128)
    mins = [
        F.expr(f"min(xxhash64(gram, {i}))").alias(f"h{i}")
        for i in range(num_perm)
    ]
    return grams.groupBy("__id").agg(*mins)


def minhash_lsh_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 1,
    num_perm: int = 128,
    bands: int = 64,
    threshold_num: int = 1,
    threshold_den: int = 2,
) -> DataFrame:
    """MinHash+LSH near-dup pairs, exactly verified.

    Candidate pairs collide in ≥1 of ``bands`` bands (rows/band =
    num_perm/bands); each candidate is then verified with EXACT n-gram
    Jaccard, so output precision is 1 (recall governed by the banding
    curve; 64 bands × 2 rows at t=0.5 → miss prob < 1e-8).
    Output: (doc_a, doc_b, inter_cnt, union_cnt)."""
    rows_per_band = num_perm // bands
    sig = minhash_signatures(df, id_col, text_col, n, num_perm)
    band_cols = [
        F.expr(
            "xxhash64("
            + ", ".join(
                f"h{b * rows_per_band + r}" for r in range(rows_per_band)
            )
            + f", {b})"
        ).alias(f"band{b}")
        for b in range(bands)
    ]
    banded = sig.select(F.col("__id"), *band_cols)
    stack_expr = "explode(array(" + ", ".join(
        f"struct({b} AS band, band{b} AS bh)" for b in range(bands)
    ) + "))"
    stacked = banded.select(
        "__id", F.expr(stack_expr).alias("e")
    ).select("__id", "e.band", "e.bh")
    # bucket pairs via ONE groupBy shuffle (not a self-join, which
    # shuffles the stacked table twice): collect each band bucket's
    # ids, expand pairs in-bucket (buckets are tiny by construction —
    # that is the LSH premise), canonicalize, dedup
    buckets = (
        stacked.groupBy("band", "bh")
        .agg(F.collect_list("__id").alias("ids"))
        .filter(F.size("ids") > 1)
    )
    cand = (
        buckets.select(
            F.explode(
                F.expr(
                    "flatten(transform(ids, (x, i) -> "
                    "transform(slice(ids, i + 2, size(ids)), y -> "
                    "struct(least(x, y) AS doc_a, greatest(x, y) AS doc_b"
                    "))))"
                )
            ).alias("p")
        )
        .select("p.doc_a", "p.doc_b")
        .distinct()
    )
    # exact verification restricted to the LSH candidates: the gram
    # table is candidate-pruned before its self-join (no quadratic
    # full-corpus pass — the whole point of the LSH stage).
    # The candidate set feeds THREE consumers (two semi-joins + the
    # pair restriction): persist so the banding computes once (the
    # shared InMemoryRelation is reused inside the single job). The
    # returned plan still references the cache lazily, so there is no
    # safe in-operator release point: it lives until the session ends
    # or the caller runs spark.catalog.clearCache().
    cand = cand.persist()
    return ngram_jaccard_pairs(
        df, id_col, text_col, n, threshold_num, threshold_den,
        candidates=cand,
    )


def simhash(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text", bits: int = 64
) -> DataFrame:
    """64-bit SimHash over distinct words: bit j set iff the sum of
    sign-contributions (xxhash64(word) bit j) is positive.

    Pure JVM expressions: explode → per-bit ±1 sums → reassemble."""
    grams = _gram_table(df, id_col, text_col, 1)
    h = F.xxhash64(F.col("gram"))
    bit_sums = [
        F.sum(
            F.when(F.shiftright(h, j).bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1)
        ).alias(f"b{j}")
        for j in range(bits)
    ]
    sums = grams.groupBy("__id").agg(*bit_sums)
    sh = F.lit(0).cast("long")
    for j in range(bits - 1):  # top bit left clear: keep value positive
        sh = sh + F.when(F.col(f"b{j}") > 0, F.lit(1 << j).cast("long")).otherwise(
            F.lit(0).cast("long")
        )
    return sums.select(F.col("__id").alias(id_col), sh.alias("simhash"))


def simhash_pairs_from_fps(
    sh: DataFrame,
    id_col: str = "doc_id",
    max_hamming: int = 3,
    n_blocks: int = 4,
) -> DataFrame:
    """The blocking + verify stage of SimHash dedup over an existing
    fingerprint table (id, ``simhash`` long): pigeonhole block
    equi-join candidates, exact popcount filter. Split out so
    fingerprints from any source (the text path above, or an external
    fingerprint store) share the one scale path — candidates are
    bucketed equi-joins, never all-pairs."""
    width = 64 // n_blocks
    blocks = sh.select(
        id_col,
        "simhash",
        F.explode(
            F.array(*[
                F.struct(
                    F.lit(i).alias("blk"),
                    F.shiftright(F.col("simhash"), i * width)
                    .bitwiseAND(F.lit((1 << width) - 1))
                    .alias("bv"),
                )
                for i in range(n_blocks)
            ])
        ).alias("e"),
    ).select(id_col, "simhash", "e.blk", "e.bv")
    a = blocks.alias("a")
    b = blocks.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.blk") == F.col("b.blk"))
            & (F.col("a.bv") == F.col("b.bv"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(
            F.col(f"a.{id_col}").alias("doc_a"),
            F.col(f"b.{id_col}").alias("doc_b"),
            F.col("a.simhash").alias("sh_a"),
            F.col("b.simhash").alias("sh_b"),
        )
        .distinct()
    )
    hamming = F.bit_count(F.col("sh_a").bitwiseXOR(F.col("sh_b")))
    return cand.withColumn("hamming", hamming).filter(
        F.col("hamming") <= max_hamming
    ).select("doc_a", "doc_b", "hamming")


# ---------------------------------------------------------------------------
# near-dup clustering: connected components over the pair graph
# ---------------------------------------------------------------------------


def dup_clusters(
    pairs: DataFrame, a_col: str = "doc_a", b_col: str = "doc_b"
) -> DataFrame:
    """Duplicate CLUSTERS from a near-dup pair table → (doc_id,
    root_id) for every document that appears in a pair, root = min doc
    id of its connected component (the canonical-document rule every
    corpus-dedup pipeline needs on top of pairwise output: keep root,
    drop the rest).

    Reuses the engine's distributed union-find contraction
    (tiling.cc_roots_df — the same machinery that merges cross-tile
    raster regions), so the component resolution is O(log_P E) Spark
    rounds with no edge list on the driver. Genuinely iterative — the
    one operator family SQL can only express via RECURSIVE CTEs.
    """
    from .tiling import cc_roots_df

    edges = pairs.select(
        F.col(a_col).cast("long").alias("a1"), F.lit(0).alias("a2"),
        F.col(b_col).cast("long").alias("b1"), F.lit(0).alias("b2"),
    )
    nodes = (
        pairs.select(F.col(a_col).cast("long").alias("doc_id"))
        .unionByName(pairs.select(F.col(b_col).cast("long").alias("doc_id")))
        .distinct()
    )
    roots = cc_roots_df(edges).select(
        F.col("n1").alias("doc_id"), F.col("r1").alias("root_id")
    )
    # nodes whose root equals themselves are absent from the root map
    return (
        nodes.join(roots, "doc_id", "left")
        .withColumn("root_id", F.coalesce("root_id", "doc_id"))
    )


def window_gram_table(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    window: int = 20,
    key: str = "text",
) -> DataFrame:
    """Every length-``window`` token window of every document →
    (__id, pos, gram_key), pos 1-based. ``key='text'`` keeps the gram
    string itself (what the oracle can recompute); ``key='hash'``
    shuffles xxhash64 of it instead — at 100 TB the hash form moves
    8-byte keys where the text form moves ~window*6 bytes, and a
    64-bit hash over the corpus's ~10^12 windows stays collision-safe
    for candidate marking (Lee et al. 2022 use the same reasoning for
    their suffix-array buckets)."""
    w = word_array(F.col(text_col))
    grams = F.when(
        F.size(w) >= window,
        F.transform(
            F.sequence(F.lit(1), F.size(w) - (window - 1)),
            lambda i: F.array_join(F.slice(w, i, window), " "),
        ),
    ).otherwise(F.array().cast("array<string>"))
    out = (
        df.select(F.col(id_col).alias("__id"), grams.alias("__grams"))
        .select("__id", F.posexplode("__grams").alias("__p0", "gram"))
        .select(
            "__id", (F.col("__p0") + 1).alias("pos"),
            (F.xxhash64("gram") if key == "hash" else F.col("gram"))
            .alias("gram_key"),
        )
    )
    return out


def duplicated_spans(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    window: int = 20,
    min_count: int = 2,
    key: str = "hash",
) -> DataFrame:
    """ExactSubstr-style duplicated-span detection (Lee et al. 2022,
    "Deduplicating Training Data Makes Language Models Better"): a
    token span is duplicated when some length-``window`` token window
    inside it occurs >= ``min_count`` times across the whole corpus
    (same doc included, as in the paper). Output: one row per maximal
    duplicated span — (doc_id, span_start, span_end, n_windows),
    token positions 1-based inclusive.

    The reference implementation builds a corpus-wide suffix array on
    one big machine; the Spark re-expression needs only (1) one hash
    aggregation over window keys (map-side combined), (2) one
    equi-join of the window table against the duplicated-key set —
    both shuffle (key, id, pos) triples, never document text when
    ``key='hash'`` — and (3) a per-document window pass that merges
    overlapping windows into maximal spans (the sessionize gap-merge:
    new span when pos > prev_pos + window).

    Deliberate trade: the gram table feeds both the aggregate and the
    join, so documents tokenize twice (two column-pruned scans). The
    alternative — one pass + a COUNT window over gram_key — buffers
    every occurrence of a key in one task, and boilerplate windows
    (page headers, license blocks) repeat billions of times at corpus
    scale; the agg+join form keeps hot keys partial-aggregated and is
    the skew-safe choice. Cache the gram table explicitly if
    tokenization dominates.
    """
    grams = window_gram_table(df, id_col, text_col, window, key)
    dup_keys = (
        grams.groupBy("gram_key")
        .agg(F.count(F.lit(1)).alias("__n"))
        .where(F.col("__n") >= min_count)
        .select("gram_key")
    )
    marked = grams.join(dup_keys, "gram_key").select("__id", "pos")
    wdoc = Window.partitionBy("__id").orderBy("pos")
    brk = (
        F.when(
            F.col("pos") <= F.lag("pos").over(wdoc) + window, F.lit(0)
        ).otherwise(F.lit(1))
    )
    spans = (
        marked.withColumn("__brk", brk)
        .withColumn(
            "__sid",
            F.sum("__brk").over(
                wdoc.rowsBetween(Window.unboundedPreceding, 0)
            ),
        )
        .groupBy(F.col("__id").alias(id_col), "__sid")
        .agg(
            F.min("pos").alias("span_start"),
            (F.max("pos") + (window - 1)).alias("span_end"),
            F.count(F.lit(1)).alias("n_windows"),
        )
        .drop("__sid")
    )
    return spans


def contamination_pairs(
    docs: DataFrame,
    bench: DataFrame,
    n: int = 13,
    min_overlap: int = 1,
    id_col: str = "doc_id",
    text_col: str = "text",
    bench_id_col: str = "bench_id",
    bench_text_col: str = "text",
    exclude_self: bool = False,
    key: str = "hash",
) -> DataFrame:
    """Benchmark decontamination: flag (document, benchmark item)
    pairs sharing >= ``min_overlap`` DISTINCT word n-grams — the
    standard train/eval contamination check (the GPT-3 appendix-C /
    PaLM 13-gram rule is this exact op with n=13).

    Distinct-gram semantics: ``ngram_array`` ends in
    ``array_distinct``, so each (doc, gram) appears once on either
    side of the join and ``overlap`` counts distinct SHARED grams —
    a document repeating a boilerplate gram k times contributes 1,
    not k (pinned by test_text.test_contamination_counts_distinct).

    ``exclude_self``: drop pairs whose ids are equal.  Only meaningful
    when the benchmark set is drawn FROM the corpus (the driver
    fixture's shape); with independent id spaces a numeric collision
    between a doc id and a bench id would silently hide a genuine
    contamination pair, so the default keeps every pair.

    Scale shape: the corpus-side gram table is a codegen projection;
    the BENCHMARK side is small by definition (eval sets are 10^3-10^5
    items, not 10^12), so its distinct-gram table broadcasts and the
    whole check is ONE broadcast hash join + one aggregation — the
    corpus never shuffles its grams. ``key='hash'`` (default) joins on
    64-bit gram FINGERPRINTS (``ngram_hash_array``: each word hashed
    once, windows combined by int64 polynomial in codegen) so no
    13-word gram string is ever materialized — the corpus pass costs
    8 bytes per gram instead of ~13x the text bytes;
    ``key='text'`` keeps literal gram strings (collision-free by
    construction, for audit runs)."""
    if key == "hash":
        dg = _gram_hash_table(docs, id_col, text_col, n)
        bg = (
            _gram_hash_table(bench, bench_id_col, bench_text_col, n)
            .withColumnRenamed("__id", "bench_id")
        )
    elif key == "text":
        dg = _gram_table(docs, id_col, text_col, n)
        bg = (
            _gram_table(bench, bench_id_col, bench_text_col, n)
            .withColumnRenamed("__id", "bench_id")
        )
    else:
        raise ValueError(f"key must be 'hash' or 'text', got {key!r}")
    joined = dg.join(F.broadcast(bg), "gram")
    if exclude_self:
        joined = joined.where(F.col("__id") != F.col("bench_id"))
    return (
        joined.groupBy(F.col("__id").alias(id_col), "bench_id")
        .agg(F.count(F.lit(1)).alias("overlap"))
        .where(F.col("overlap") >= min_overlap)
    )

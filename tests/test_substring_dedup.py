"""ExactSubstr duplicated-span detection vs a brute-force oracle."""

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from gdal_spark.operators.dedup import duplicated_spans, window_gram_table


def brute_spans(docs, window, min_count=2):
    """Reference semantics, straight from the definition: mark every
    window whose token string occurs >= min_count times corpus-wide,
    merge overlapping/adjacent windows per doc."""
    from collections import Counter

    toks = {d: t.split(" ") for d, t in docs}
    counts = Counter(
        " ".join(ts[i:i + window])
        for ts in toks.values()
        for i in range(len(ts) - window + 1)
    )
    out = []
    for d, ts in toks.items():
        hits = [
            i + 1
            for i in range(len(ts) - window + 1)
            if counts[" ".join(ts[i:i + window])] >= min_count
        ]
        spans = []
        for p in hits:
            # merge while the next window overlaps or is adjacent to
            # the running span (pos <= prev_end + 1)
            if spans and p <= spans[-1][1] + 1:
                spans[-1] = (
                    spans[-1][0], max(spans[-1][1], p + window - 1),
                    spans[-1][2] + 1,
                )
            else:
                spans.append((p, p + window - 1, 1))
        out.extend((d, a, b, n) for a, b, n in spans)
    return sorted(out)


def _mkdocs():
    shared = "the quick brown fox jumps over the lazy dog again and again"
    docs = [
        (1, f"alpha beta {shared} gamma delta"),
        (2, f"{shared} omega"),
        (3, "unique words only here nothing repeats at all ever truly"),
        (4, f"prefix {shared} suffix {shared} tail"),  # same-doc repeat
        (5, "x " * 30 + "y"),  # self-repetitive run: every window dup
    ]
    return [(d, t.strip()) for d, t in docs]


@pytest.fixture(scope="module")
def docs_df(spark):
    return spark.createDataFrame(
        pd.DataFrame(_mkdocs(), columns=["doc_id", "text"])
    ).repartition(5)


@pytest.mark.parametrize("window", [3, 5])
@pytest.mark.parametrize("key", ["text", "hash"])
def test_spans_match_bruteforce(spark, docs_df, window, key):
    got = sorted(
        (r.doc_id, r.span_start, r.span_end, r.n_windows)
        for r in duplicated_spans(
            docs_df, window=window, key=key
        ).collect()
    )
    assert got == brute_spans(_mkdocs(), window)


def test_window_table_positions(spark, docs_df):
    g = window_gram_table(docs_df, window=4, key="text")
    one = (
        g.where(F.col("__id") == 3)
        .orderBy("pos")
        .collect()
    )
    toks = dict(_mkdocs())[3].split(" ")
    assert [r.pos for r in one] == list(range(1, len(toks) - 3 + 1))
    assert one[0].gram_key == " ".join(toks[:4])
    assert one[-1].gram_key == " ".join(toks[-4:])


def test_short_docs_yield_nothing(spark):
    df = spark.createDataFrame(
        pd.DataFrame({"doc_id": [1, 2], "text": ["a b", "a b"]})
    )
    assert duplicated_spans(df, window=5).count() == 0


def test_contamination_pairs(spark):
    from gdal_spark.operators.dedup import contamination_pairs

    docs = spark.createDataFrame(
        pd.DataFrame(
            {
                "doc_id": [1, 2, 3],
                "text": [
                    "the quick brown fox jumps over the lazy dog",
                    "a quick brown fox jumps over anything else here",
                    "totally different words in this one document now",
                ],
            }
        )
    )
    bench = spark.createDataFrame(
        pd.DataFrame(
            {
                "bench_id": [100],
                "text": ["quick brown fox jumps over the lazy dog"],
            }
        )
    )
    got = {
        (r.doc_id, r.bench_id, r.overlap)
        for r in contamination_pairs(
            docs, bench, n=4, min_overlap=1
        ).collect()
    }
    # doc1 shares 5 distinct 4-grams with the bench item; doc2 shares
    # 2 ("quick brown fox jumps", "brown fox jumps over"); doc3 none
    assert got == {(1, 100, 5), (2, 100, 2)}
    # raising the threshold drops doc2
    got2 = {
        r.doc_id
        for r in contamination_pairs(
            docs, bench, n=4, min_overlap=3
        ).collect()
    }
    assert got2 == {1}


def test_contamination_counts_distinct_grams(spark):
    """A doc repeating a boilerplate gram k times contributes it ONCE
    to overlap (GPT-3/PaLM distinct-gram rule), and id collisions
    between the two id spaces are kept unless exclude_self=True."""
    from gdal_spark.operators.dedup import contamination_pairs

    block = "aa bb cc dd"
    docs = spark.createDataFrame(
        pd.DataFrame({"doc_id": [7], "text": [" ".join([block] * 3)]})
    )
    bench = spark.createDataFrame(
        pd.DataFrame({"bench_id": [7], "text": [block]})
    )
    got = {
        (r.doc_id, r.bench_id, r.overlap)
        for r in contamination_pairs(
            docs, bench, n=4, min_overlap=1
        ).collect()
    }
    # occurrence counting would score 3 (and an id-collision filter
    # would drop the pair entirely); distinct-gram scores exactly 1
    assert got == {(7, 7, 1)}
    assert (
        contamination_pairs(
            docs, bench, n=4, min_overlap=1, exclude_self=True
        ).count()
        == 0
    )


def test_contamination_hash_equals_text_key(spark):
    """key='hash' (8-byte gram fingerprints, no gram strings) must
    produce the identical pair set and overlap counts as key='text'
    (collision-free literal grams) on the same corpus."""
    from gdal_spark.operators.dedup import contamination_pairs

    rng = np.random.default_rng(11)
    vocab = [f"w{i}" for i in range(40)]
    docs = spark.createDataFrame(
        pd.DataFrame(
            {
                "doc_id": list(range(30)),
                "text": [
                    " ".join(rng.choice(vocab, 25)) for _ in range(30)
                ],
            }
        )
    )
    doc_texts = [r.text for r in docs.orderBy("doc_id").collect()]
    bench = spark.createDataFrame(
        pd.DataFrame(
            {
                "bench_id": [0, 1],
                # substrings of real docs guarantee shared grams
                "text": [
                    " ".join(doc_texts[0].split()[3:15]),
                    " ".join(doc_texts[7].split()[0:12]),
                ],
            }
        )
    )
    by_hash = {
        (r.doc_id, r.bench_id): r.overlap
        for r in contamination_pairs(
            docs, bench, n=3, min_overlap=1, key="hash"
        ).collect()
    }
    by_text = {
        (r.doc_id, r.bench_id): r.overlap
        for r in contamination_pairs(
            docs, bench, n=3, min_overlap=1, key="text"
        ).collect()
    }
    assert by_hash == by_text and by_hash

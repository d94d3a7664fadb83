"""Repetition signals vs a per-document Counter oracle."""

from collections import Counter

import pandas as pd

from gdal_spark.operators.text import fingerprint, repetition_signals


def _oracle(text):
    toks = text.split(" ")
    wc = Counter(toks)
    bc = Counter(
        f"{a} {b}" for a, b in zip(toks[:-1], toks[1:])
    )
    return (
        len(toks), len(wc), max(wc.values()),
        max(bc.values()) if bc else 0,
    )


def test_repetition_matches_counter_oracle(spark):
    docs = [
        (0, "a b a b c a"),
        (1, "x"),                       # single token: no bigrams
        (2, "w w w w"),                 # max repetition
        (3, "the quick brown fox the quick brown cat"),
    ]
    got = {
        r["doc_id"]: (
            r["n_tokens"], r["n_distinct"],
            r["top_word_n"], r["top_bigram_n"],
        )
        for r in repetition_signals(
            spark.createDataFrame(
                pd.DataFrame(docs, columns=["doc_id", "text"])
            )
        ).collect()
    }
    for doc_id, text in docs:
        assert got[doc_id] == _oracle(text), (doc_id, text)


def test_repetition_is_partitioning_invariant(spark):
    docs = pd.DataFrame(
        [(i, ("tok%d " % (i % 5)) * (i % 7 + 1) + "end") for i in range(60)],
        columns=["doc_id", "text"],
    )
    one = repetition_signals(
        spark.createDataFrame(docs).coalesce(1)
    ).collect()
    many = repetition_signals(
        spark.createDataFrame(docs).repartition(16)
    ).collect()
    key = lambda r: r["doc_id"]
    assert sorted(one, key=key) == sorted(many, key=key)


def test_fingerprint_matches_closed_form(spark):
    """fp = sum_i i * (len(w_i) + 1) mod 1000000007 over the 1-based
    space-split tokens; doc 3 has 40000 tokens, so the raw sum
    (40000 * 40001 = 1.6e9) exceeds the modulus."""
    p = 1000000007
    docs = [
        (0, "the quick brown fox"),
        (1, "x"),
        (2, ""),                        # one empty token
        (3, " ".join(["a"] * 40000)),
        (4, "quick the brown fox"),     # order-sensitive
    ]
    got = {
        r["doc_id"]: r["fp"]
        for r in fingerprint(
            spark.createDataFrame(
                pd.DataFrame(docs, columns=["doc_id", "text"])
            )
        ).collect()
    }
    want = {
        doc_id: sum(
            i * (len(w) + 1) for i, w in enumerate(text.split(" "), 1)
        ) % p
        for doc_id, text in docs
    }
    assert got == want
    assert got[0] != got[4]

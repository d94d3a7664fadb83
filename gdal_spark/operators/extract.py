"""pages.text → features: deterministic geocoding extraction.

The ETL front of the pipeline (reference analog: ogr2ogr's per-feature
translate loop, apps/ogr2ogr_lib.cpp:653). Feature extraction runs in
the JVM: one ``regexp_extract_all`` over ``text``, a ``posexplode`` and
two casts, all whole-stage codegen, with no Python worker.

Extraction is a pure function of ``text`` (itself a pure function of
``url``), preserving the byte-identity invariant: re-extracting from
the same url yields identical features in any partitioning.
"""

from __future__ import annotations

import re

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# The mention grammar: "(lon,lat)", each a signed decimal with ASCII
# digits and exactly 6 fraction digits, e.g. "Observed near
# (13.372615,52.512345)". Matches are found left to right without
# overlap; feat_id is the 0-based ordinal of a mention in its page.
# Null or empty text has no mentions. ASCII digits keep the grammar the
# same in Java's regex and in Python's, and every match is a valid
# double literal for both: Java's Double.parseDouble and Python's
# float() both round correctly, so the parsed values agree bit for bit.
MENTION_GRAMMAR = r"\(([-+]?[0-9]+\.[0-9]{6},[-+]?[0-9]+\.[0-9]{6})\)"


def extract_features(pages: DataFrame) -> DataFrame:
    """pages → features(url, feat_id, kind, lon, lat).

    Column pruning: only (url, text) are read from the scan."""
    pair = F.col("pair")
    return pages.select(
        "url",
        F.posexplode(
            F.regexp_extract_all("text", F.lit(MENTION_GRAMMAR), 1)
        ).alias("feat_id", "pair"),
    ).select(
        "url",
        "feat_id",
        F.lit("point").alias("kind"),
        F.substring_index(pair, ",", 1).cast("double").alias("lon"),
        F.substring_index(pair, ",", -1).cast("double").alias("lat"),
    )


# ---------------------------------------------------------------------------
# html → text extraction (the north-rule byte-identity invariant)
# ---------------------------------------------------------------------------

# script/style subtrees contribute no text (case-insensitive, tolerant
# of attributes); then any remaining tag is stripped.
_DROP_SUBTREE_RE = re.compile(
    rb"<(script|style)\b[^>]*>.*?</\1\s*>", re.IGNORECASE | re.DOTALL
)
_TAG_RE = re.compile(rb"<[^>]*>")
_ENTITIES = [
    (b"&lt;", b"<"), (b"&gt;", b">"), (b"&quot;", b'"'),
    (b"&#39;", b"'"), (b"&amp;", b"&"),  # &amp; LAST: "&amp;lt;" → "&lt;"
]


def extract_text_bytes(html: bytes) -> bytes:
    """One document: drop script/style subtrees, strip tags, unescape
    the five standard entities. Deterministic pure function of the
    input bytes — same url, same bytes out, on any executor."""
    s = _DROP_SUBTREE_RE.sub(b"", html)
    s = _TAG_RE.sub(b"", s)
    for ent, ch in _ENTITIES:
        s = s.replace(ent, ch)
    return s


def extract_text(pages: DataFrame, out_col: str = "text_extracted") -> DataFrame:
    """pages(url, html) → (url, text_extracted): the WARC-style
    extraction step in front of the feature pipeline. The invariant
    the driver contract states (BASELINE.json input_hint): extracted
    text is BYTE-IDENTICAL per url across runs and partitionings —
    guaranteed here because the kernel is a pure function of the html
    bytes and the plan is a stateless mapInPandas (no shuffle, no
    order dependence). Reference analog: per-feature translate loop in
    apps/ogr2ogr_lib.cpp:653 reading WARC-extracted layers."""

    def run(batches):
        for pdf in batches:
            yield pd.DataFrame(
                {
                    "url": pdf["url"],
                    out_col: [
                        extract_text_bytes(bytes(h)).decode(
                            "utf-8", errors="replace"
                        )
                        for h in pdf["html"]
                    ],
                }
            )

    return pages.select("url", "html").mapInPandas(
        run, schema=f"url string, {out_col} string"
    )

"""SimHash tests (text path + blocking machinery): the block-join
candidate generation must find EXACTLY the brute-force popcount pairs,
and the text fingerprint must behave like a similarity hash (identical
docs collide, near-identical docs land nearby, unrelated docs far)."""

import itertools

import pytest

from gdal_spark.operators.dedup import simhash, simhash_pairs_from_fps


def _docs(spark):
    base = (
        "the quick brown fox jumps over the lazy dog near the river "
        "bank while seventeen geese watch from a mossy stone bridge"
    )
    rows = [
        (0, base),
        (1, base),  # exact duplicate → hamming 0
        (2, base.replace("mossy", "ancient")),  # near-dup
        (3, "entirely different content about spark shuffle plans and "
            "parquet footers with no shared vocabulary at all today"),
        (4, "yet another unrelated document regarding lunar geology "
            "basalt samples and regolith compaction measurements"),
        (5, base.replace("geese", "ducks").replace("stone", "steel")),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_identical_docs_hash_identically(spark):
    fps = {r["doc_id"]: r["simhash"]
           for r in simhash(_docs(spark)).collect()}
    assert fps[0] == fps[1]
    assert all(v >= 0 for v in fps.values())  # top bit kept clear


def test_block_join_matches_brute_force(spark):
    """The block join over the text fingerprints must return exactly
    the pairs a brute-force popcount scan over the same fingerprints
    finds — for every (max_hamming, n_blocks) with the pigeonhole
    guarantee."""
    sh = simhash(_docs(spark))
    fps = {r["doc_id"]: r["simhash"] for r in sh.collect()}

    for max_h, n_blocks in ((0, 4), (3, 4), (7, 8), (15, 16)):
        want = set()
        for a, b in itertools.combinations(sorted(fps), 2):
            h = bin(fps[a] ^ fps[b]).count("1")
            if h <= max_h:
                want.add((a, b, h))
        got = {
            (r["doc_a"], r["doc_b"], r["hamming"])
            for r in simhash_pairs_from_fps(
                sh, max_hamming=max_h, n_blocks=n_blocks
            ).collect()
        }
        assert got == want, (max_h, n_blocks)


def test_pairs_from_fps_exact_on_engineered_fixture(spark):
    """Closed-form fixture: fp = base(group) XOR (1 << 8*member), so
    within-group pairs are exactly Hamming 2 with the flipped bits in
    different 16-bit blocks (multi-block pigeonhole path)."""
    rows = []
    for doc_id in range(48):
        g, m = divmod(doc_id, 8)
        rows.append((doc_id, (g * 92233720368547757) ^ (1 << (8 * m))))
    sh = spark.createDataFrame(rows, "doc_id long, simhash long")
    got = {
        (r["doc_a"], r["doc_b"], r["hamming"])
        for r in simhash_pairs_from_fps(sh, max_hamming=3).collect()
    }
    want = set()
    fps = dict(rows)
    for a, b in itertools.combinations(range(48), 2):
        h = bin(fps[a] ^ fps[b]).count("1")
        if h <= 3:
            want.add((a, b, h))
    assert got == want
    # every within-group pair present at hamming 2
    for g in range(6):
        ids = list(range(g * 8, g * 8 + 8))
        for a, b in itertools.combinations(ids, 2):
            assert (a, b, 2) in got


def test_near_dup_closer_than_unrelated(spark):
    fps = {r["doc_id"]: r["simhash"]
           for r in simhash(_docs(spark)).collect()}
    near = bin(fps[0] ^ fps[2]).count("1")
    far = bin(fps[0] ^ fps[3]).count("1")
    assert near < far

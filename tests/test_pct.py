"""Median-cut PCT (alg/gdalmediancut.cpp) tests: exactness on
low-color images, literal scalar oracles for the split/median rules,
distributed histogram parity, and tile-mapping round trips."""

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import types as T

from gdal_spark.operators import pct

rng = np.random.default_rng(7)


def _rgb_image(h=32, w=48):
    """Deterministic smooth RGB field (distinct from the formula
    fixture so channel histograms differ)."""
    x = np.arange(w)[None, :]
    y = np.arange(h)[:, None]
    r = ((x * 5 + y * 3) % 256).astype(np.uint8)
    g = ((x * 2 + y * 11 + 40) % 256).astype(np.uint8)
    b = ((x * 13 + y * 7 + 90) % 256).astype(np.uint8)
    return r, g, b


def _tiles_df(spark, r, g, b, ts=16):
    h, w = r.shape
    rows = []
    for ty in range(0, h, ts):
        for tx in range(0, w, ts):
            rr = r[ty : ty + ts, tx : tx + ts]
            gg = g[ty : ty + ts, tx : tx + ts]
            bb = b[ty : ty + ts, tx : tx + ts]
            rows.append(
                (
                    tx // ts, ty // ts,
                    rr.shape[1], rr.shape[0],
                    rr.tobytes(), gg.tobytes(), bb.tobytes(),
                )
            )
    schema = T.StructType(
        [
            T.StructField("tx", T.LongType()),
            T.StructField("ty", T.LongType()),
            T.StructField("w", T.IntegerType()),
            T.StructField("h", T.IntegerType()),
            T.StructField("r", T.BinaryType()),
            T.StructField("g", T.BinaryType()),
            T.StructField("b", T.BinaryType()),
        ]
    )
    return spark.createDataFrame(rows, schema).repartition(4)


# ---------------------------------------------------------- histogram


def test_distributed_histogram_matches_numpy(spark):
    r, g, b = _rgb_image()
    df = _tiles_df(spark, r, g, b)
    got = (
        pct.rgb_histogram(df, bits=5)
        .toPandas()
        .sort_values("code")
        .reset_index(drop=True)
    )
    code = (
        (r.astype(np.int64) >> 3) << 10
        | (g.astype(np.int64) >> 3) << 5
        | (b.astype(np.int64) >> 3)
    ).ravel()
    want = pd.Series(code).value_counts().sort_index()
    assert got["code"].tolist() == want.index.tolist()
    assert got["cnt"].tolist() == want.values.tolist()
    assert int(got["cnt"].sum()) == r.size


# ---------------------------------------------------------- median cut


def _hist3d(r, g, b, bits=5):
    n = 1 << bits
    shift = 8 - bits
    h = np.zeros((n, n, n), dtype=np.int64)
    np.add.at(
        h,
        (
            r.ravel().astype(np.int64) >> shift,
            g.ravel().astype(np.int64) >> shift,
            b.ravel().astype(np.int64) >> shift,
        ),
        1,
    )
    return h


def test_median_cut_exact_on_few_colors():
    """<= n_colors distinct 5-bit-quantized colors: every box shrinks
    to one cell and the entry is that cell's STEP-4 midpoint — the
    quantized image round-trips losslessly through the table."""
    colors = np.array(
        [[8, 16, 32], [200, 40, 96], [64, 224, 160], [240, 240, 8]],
        dtype=np.uint8,
    )
    idx = rng.integers(0, 4, size=(20, 30))
    r, g, b = (colors[idx, c] for c in range(3))
    table = pct.median_cut_pct(_hist3d(r, g, b), n_colors=4)
    assert len(table) == 4
    # STEP 4 midpoint of a single 5-bit cell c is (2c << 3) // 2 = c*8
    want = {tuple((v >> 3) * 8 for v in col) for col in colors}
    assert {tuple(e) for e in table} == want
    # nearest-mapping reproduces the quantized image exactly
    out = table[pct._nearest_color(table, r, g, b)]
    np.testing.assert_array_equal(out[..., 0], (r >> 3) * 8)


def _median_cut_oracle(hist, n_colors, bits=5):
    """Literal transcription of the reference loop (splitbox /
    largest_box / shrinkbox / STEP 4) with explicit scans — an
    independent slow implementation to pin the vectorized one."""
    n = 1 << bits

    def shrink(bx):
        rmin, rmax, gmin, gmax, bmin, bmax, total = bx
        rs = [
            i
            for i in range(rmin, rmax + 1)
            if hist[i, gmin : gmax + 1, bmin : bmax + 1].any()
        ]
        gs = [
            i
            for i in range(gmin, gmax + 1)
            if hist[rmin : rmax + 1, i, bmin : bmax + 1].any()
        ]
        bs = [
            i
            for i in range(bmin, bmax + 1)
            if hist[rmin : rmax + 1, gmin : gmax + 1, i].any()
        ]
        return [rs[0], rs[-1], gs[0], gs[-1], bs[0], bs[-1], total]

    box = shrink([0, n - 1, 0, n - 1, 0, n - 1, int(hist.sum())])
    used = [box]
    while len(used) < n_colors:
        cand = [
            x for x in used if x[1] > x[0] or x[3] > x[2] or x[5] > x[4]
        ]
        if not cand:
            break
        ptr = max(cand, key=lambda x: x[6])
        dr, dg, db = ptr[1] - ptr[0], ptr[3] - ptr[2], ptr[5] - ptr[4]
        if dr >= dg and dr >= db:
            ax = 0
        elif dg >= db:
            ax = 1
        else:
            ax = 2
        first, last = ptr[2 * ax], ptr[2 * ax + 1]
        marg = []
        for i in range(first, last + 1):
            if ax == 0:
                s = hist[i, ptr[2] : ptr[3] + 1, ptr[4] : ptr[5] + 1].sum()
            elif ax == 1:
                s = hist[ptr[0] : ptr[1] + 1, i, ptr[4] : ptr[5] + 1].sum()
            else:
                s = hist[ptr[0] : ptr[1] + 1, ptr[2] : ptr[3] + 1, i].sum()
            marg.append(int(s))
        i = first
        acc = 0
        half = ptr[6] // 2
        for m in marg:
            acc += m
            if acc >= half:
                break
            i += 1
        if i == first:
            i += 1
        lo = sum(marg[: i - first])
        new = list(ptr)
        new[6] = lo
        ptr[6] -= lo
        new[2 * ax + 1] = i - 1
        ptr[2 * ax] = i
        new = shrink(new)
        upd = shrink(ptr)
        ptr[:] = upd
        used.append(new)
    shift = 8 - bits
    return sorted(
        (
            ((x[0] + x[1]) << shift) // 2,
            ((x[2] + x[3]) << shift) // 2,
            ((x[4] + x[5]) << shift) // 2,
        )
        for x in used
    )


@pytest.mark.parametrize("n_colors", [4, 16, 37])
def test_median_cut_matches_literal_oracle(n_colors):
    r, g, b = _rgb_image(40, 40)
    hist = _hist3d(r, g, b)
    got = sorted(tuple(int(v) for v in e)
                 for e in pct.median_cut_pct(hist, n_colors))
    want = _median_cut_oracle(hist, n_colors)
    assert got == [tuple(w) for w in want]


# ---------------------------------------------------------- tile map


def test_pct_map_tiles_round_trip(spark):
    r, g, b = _rgb_image()
    df = _tiles_df(spark, r, g, b)
    hist = pct.rgb_histogram(df, bits=5)
    table = pct.median_cut_pct(hist, n_colors=32)
    mapped = pct.pct_map_tiles(df, table, bits=5).toPandas()
    assert len(mapped) == df.count()
    # reassemble and compare against the cube-mapped numpy oracle
    cube = pct.color_cube(table, bits=5)
    want = cube[
        r.astype(np.int64) * 32 // 256,
        g.astype(np.int64) * 32 // 256,
        b.astype(np.int64) * 32 // 256,
    ]
    got = np.zeros_like(want)
    ts = 16
    for _, row in mapped.iterrows():
        a = np.frombuffer(row["idx"], np.uint8).reshape(
            row["h"], row["w"]
        )
        got[
            row["ty"] * ts : row["ty"] * ts + row["h"],
            row["tx"] * ts : row["tx"] * ts + row["w"],
        ] = a
    np.testing.assert_array_equal(got, want)
    # quantization error is bounded: mean L1 distance small-ish
    recon = table[want]
    err = (
        np.abs(recon[..., 0].astype(int) - r.astype(int)).mean()
        + np.abs(recon[..., 1].astype(int) - g.astype(int)).mean()
        + np.abs(recon[..., 2].astype(int) - b.astype(int)).mean()
    )
    assert err < 60

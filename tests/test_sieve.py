"""Sieve filter: speck removal semantics + invariants."""

import numpy as np
import pandas as pd
import pytest

from gdal_spark import raster
from gdal_spark.operators import tiling


def _tiles_from_array(spark, full: np.ndarray, ts: int):
    h, w = full.shape
    rows = []
    for ty in range(h // ts):
        for tx in range(w // ts):
            rows.append(
                (0, tx, ty,  ts, ts,
                 full[ty * ts:(ty + 1) * ts, tx * ts:(tx + 1) * ts]
                 .astype(np.uint8).tobytes())
            )
    return spark.createDataFrame(
        pd.DataFrame(rows, columns=["z", "tx", "ty", "w", "h", "data"])
    )


def _assemble(rows, w, h, ts):
    out = np.zeros((h, w), dtype=np.uint8)
    for r in rows:
        arr = np.frombuffer(r["data"], dtype=np.uint8).reshape(ts, ts)
        out[int(r["ty"]) * ts:(int(r["ty"]) + 1) * ts,
            int(r["tx"]) * ts:(int(r["tx"]) + 1) * ts] = arr
    return out


def test_sieve_removes_speck_across_tile_border(spark):
    """A 2-pixel speck straddling a tile boundary inside a uniform
    background must be absorbed into the background."""
    full = np.zeros((16, 16), dtype=np.uint8)
    full[7, 7] = 5
    full[7, 8] = 5  # crosses the tx=0/tx=1 border with ts=8
    tiles = _tiles_from_array(spark, full, 8)
    out = _assemble(tiling.sieve(tiles, threshold=3).collect(), 16, 16, 8)
    np.testing.assert_array_equal(out, np.zeros((16, 16), dtype=np.uint8))


def test_sieve_keeps_large_regions_and_removes_small(spark):
    full = np.zeros((16, 16), dtype=np.uint8)
    full[0:8, 0:8] = 9          # large region, survives
    full[12, 12] = 3            # isolated speck, absorbed into 0
    tiles = _tiles_from_array(spark, full, 8)
    out = _assemble(tiling.sieve(tiles, threshold=4).collect(), 16, 16, 8)
    want = np.zeros((16, 16), dtype=np.uint8)
    want[0:8, 0:8] = 9
    np.testing.assert_array_equal(out, want)


def test_sieve_invariants_on_noisy_raster(spark):
    thr = 6
    rng = np.random.default_rng(0)
    full = (rng.random((32, 32)) < 0.35).astype(np.uint8)  # salt noise
    # sanity: the fixture actually contains sub-threshold specks
    lab0, n0 = raster.label_components(full)
    assert (np.bincount(lab0.ravel()) < thr).sum() > 3
    tiles = _tiles_from_array(spark, full, 16)
    out_tiles = tiling.sieve(tiles, thr)
    out = _assemble(out_tiles.collect(), 32, 32, 16)

    # 1. value domain is preserved
    assert set(np.unique(out)) <= set(np.unique(full))
    # 2. every original region >= thr keeps its pixels untouched
    labels, n = raster.label_components(full)
    for lab in range(n):
        m = labels == lab
        if m.sum() >= thr:
            np.testing.assert_array_equal(out[m], full[m])
    # 3. no remaining region is smaller than thr
    labels2, n2 = raster.label_components(out)
    sizes2 = np.bincount(labels2.ravel())
    assert (sizes2 >= thr).all(), sizes2
    # 4. the sieve actually did something (fixture has specks)
    assert (out != full).any()


def test_footprint_outlines_valid_data(spark):
    full = np.zeros((16, 16), dtype=np.uint8)
    full[2:6, 2:10] = 200   # one data patch crossing a tile border
    full[10:14, 12:15] = 50
    tiles = _tiles_from_array(spark, full, 8)
    rows = sorted(
        (int(r["n_pixels"]), int(r["min_gx"]), int(r["min_gy"]),
         int(r["max_gx"]), int(r["max_gy"]))
        for r in tiling.footprint(tiles, threshold=1).collect()
    )
    assert rows == [(12, 12, 10, 14, 13), (32, 2, 2, 9, 5)]


def test_sieve_collects_only_small_region_subgraph(spark):
    """Driver memory pin, now absolute: the progressive merge runs as
    distributed join/agg rounds — the driver collects NO edges and NO
    region stats at ANY raster shape (the 100 TB safety property).
    A 65k-region checkerboard with threshold=1 also runs zero merge
    rounds."""
    # 256x256 checkerboard: 65536 single-pixel regions, none below
    # threshold=1 -> nothing to merge, zero rounds, zero collection
    n = 256
    yy, xx = np.meshgrid(np.arange(n), np.arange(n), indexing="ij")
    board = ((xx + yy) % 2).astype(np.uint8)
    tiles = _tiles_from_array(spark, board, 64)
    out = _assemble(tiling.sieve(tiles, threshold=1).collect(), n, n, 64)
    np.testing.assert_array_equal(out, board)
    st = tiling.sieve.last_stats
    assert st["total_regions"] == n * n
    assert st["collected_stats"] == 0
    assert st["collected_edges"] == 0
    assert st["rounds"] == 0

    # stripes (large) + a few specks: specks absorbed through the
    # distributed rounds, still zero driver-side collection
    full = np.zeros((n, n), dtype=np.uint8)
    for band in range(n // 4):
        full[band * 4 : band * 4 + 2, :] = (band % 2) + 1
    spots = [(4 * k + 1, 16 * k + 3) for k in range(12)]
    for y, x in spots:
        full[y, x] = 7
    tiles = _tiles_from_array(spark, full, 64)
    out = _assemble(tiling.sieve(tiles, threshold=4).collect(), n, n, 64)
    assert not (out == 7).any()  # every speck absorbed
    st = tiling.sieve.last_stats
    assert st["collected_stats"] == 0
    assert st["collected_edges"] == 0
    assert st["rounds"] >= 1


def test_sieve_small_chain_merges_to_fixed_point(spark):
    """A chain of equal-size small regions (the adversarial case for
    round-synchronous merging: every pointer must ascend the total
    order, chains contract by pointer doubling) collapses until no
    region is below threshold."""
    full = np.zeros((8, 16), dtype=np.uint8)
    # a 1-pixel-tall chain of alternating values on a 0 background
    for i in range(8):
        full[4, i * 2] = (i % 3) + 1
    tiles = _tiles_from_array(spark, full, 8)
    out = _assemble(tiling.sieve(tiles, threshold=2).collect(), 16, 8, 8)
    labels, nlab = raster.label_components(out)
    sizes = np.bincount(labels.ravel())
    assert (sizes >= 2).all()

"""Halo exchange and the proximity distance raster vs numpy."""

import numpy as np
import pandas as pd
import pytest

from gdal_spark import raster
from gdal_spark.operators import tiling

NX = NY = 3
TS = 16
GW, GH = NX * TS, NY * TS


@pytest.fixture(scope="module")
def tiles(spark):
    return tiling.formula_tiles(spark, NX, NY, TS)


def _full():
    return raster.formula_block(0, 0, GW, GH)


def test_add_halo_assembles_neighbors(spark, tiles):
    rows = tiling.add_halo(tiles, pad=2, fill=0).collect()
    assert len(rows) == NX * NY  # every tile got a padded version
    full = _full()
    for r in rows:
        tx, ty, p = int(r["tx"]), int(r["ty"]), int(r["pad"])
        arr = np.frombuffer(r["data"], dtype=np.uint8).reshape(
            TS + 2 * p, TS + 2 * p
        )
        # compare against a zero-padded crop of the global raster
        padded_full = np.zeros((GH + 2 * p, GW + 2 * p), dtype=np.uint8)
        padded_full[p : p + GH, p : p + GW] = full
        want = padded_full[
            ty * TS : ty * TS + TS + 2 * p, tx * TS : tx * TS + TS + 2 * p
        ]
        np.testing.assert_array_equal(arr, want, err_msg=f"tile {tx},{ty}")


def _brute_d2(targets_mask):
    h, w = targets_mask.shape
    ty, tx = np.nonzero(targets_mask)
    out = np.full((h, w), raster.D2_INF, dtype=np.int64)
    if len(tx) == 0:
        return out
    for y in range(h):
        for x in range(w):
            d2 = (tx - x) ** 2 + (ty - y) ** 2
            out[y, x] = d2.min()
    return out


def test_propagate_nearest_kernel_exact_vs_brute():
    rng = np.random.default_rng(2)
    mask = rng.random((24, 24)) < 0.04
    mask[0, 0] = True  # ensure at least one target
    packed = raster.pack_coords(
        np.broadcast_to(np.arange(24)[None, :], mask.shape),
        np.broadcast_to(np.arange(24)[:, None], mask.shape),
        mask,
    )
    out = raster.propagate_nearest(packed, 0, 0)
    got = raster.nearest_d2(out, 0, 0)
    np.testing.assert_array_equal(got, _brute_d2(mask))


def test_proximity_d2_distributed_matches_brute(spark):
    ts, nx = 12, 3  # 36x36 raster in 9 tiles
    rng = np.random.default_rng(9)
    full = (rng.random((ts * nx, ts * nx)) < 0.01).astype(np.uint8)
    full[5, 30] = 1  # a target far from some tiles

    rows = []
    for ty in range(nx):
        for tx in range(nx):
            rows.append(
                (0, tx, ty, ts, ts,
                 full[ty * ts:(ty + 1) * ts, tx * ts:(tx + 1) * ts].tobytes())
            )
    tiles = spark.createDataFrame(
        pd.DataFrame(rows, columns=["z", "tx", "ty", "w", "h", "data"])
    )
    max_dist = 20
    got = {
        (int(r["gx"]), int(r["gy"])): int(r["d2"])
        for r in tiling.proximity_d2(tiles, max_dist, ts).collect()
    }
    brute = _brute_d2(full > 0)
    want = {
        (x, y): int(brute[y, x])
        for y in range(ts * nx)
        for x in range(ts * nx)
        if brute[y, x] <= max_dist * max_dist
    }
    assert got == want
    assert len(want) > 100  # bound actually bites somewhere or coverage real

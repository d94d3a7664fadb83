"""Unit tests for raster kernels and mercator tile math (pure numpy)."""

import hashlib
import math

import numpy as np
import pytest

from gdal_spark import mercator, raster


# ---------------------------------------------------------------------------
# mercator
# ---------------------------------------------------------------------------


def test_resolution_halves_per_zoom():
    assert mercator.resolution(0) == pytest.approx(2 * mercator.ORIGIN / 256)
    for z in range(1, 10):
        assert mercator.resolution(z) == pytest.approx(
            mercator.resolution(z - 1) / 2
        )


def test_meters_roundtrip():
    lon = np.array([-179.9, -45.0, 0.0, 13.4, 170.2])
    lat = np.array([-80.0, -10.0, 0.0, 52.5, 84.0])
    mx, my = mercator.lat_lon_to_meters(lon, lat)
    lon2, lat2 = mercator.meters_to_lat_lon(mx, my)
    np.testing.assert_allclose(lon2, lon, atol=1e-9)
    np.testing.assert_allclose(lat2, lat, atol=1e-9)


def test_pixels_to_tile_ceil_minus_1():
    # gdal2tiles.py:460-466: a pixel exactly on the boundary belongs to
    # the tile below/left of it.
    px = np.array([0.0, 1.0, 255.9, 256.0, 256.1, 512.0])
    tx, _ = mercator.pixels_to_tile(px, px, tile_size=256)
    assert tx.tolist() == [-1, 0, 0, 0, 1, 1]


def test_equator_center_tile():
    # lon/lat (0,0) is the exact center: at z=1, px = 256.0 → tile 0
    # (ceil-minus-1), i.e. the SW tile in TMS.
    tx, ty = mercator.meters_to_tile(np.array([0.0]), np.array([0.0]), 1)
    assert (tx[0], ty[0]) == (0, 0)


def test_xyz_flip_involutive():
    ty = np.arange(8)
    assert np.all(mercator.tms_to_xyz(mercator.tms_to_xyz(ty, 3), 3) == ty)


def test_quadkey_known_values():
    # At z=1 (XYZ): google tile (0,0)=NW → '0', (1,0)=NE → '1',
    # (0,1)=SW → '2', (1,1)=SE → '3'. TMS ty flips the y.
    qk = mercator.quadkey(
        np.array([0, 1, 0, 1]), np.array([1, 1, 0, 0]), 1
    )
    assert qk.tolist() == ["0", "1", "2", "3"]
    # One z=3 spot check built from digit logic
    qk3 = mercator.quadkey(np.array([5]), np.array([2]), 3)
    # tx=5=0b101, gy = 7-2 = 5 = 0b101 → digits (1+2)=3, (0+0)=0, (1+2)=3
    assert qk3.tolist() == ["303"]


def test_tile_bounds_invert_tile():
    minx, miny, maxx, maxy = mercator.tile_bounds_meters(3, 5, 4)
    txa, tya = mercator.meters_to_tile(
        np.array([(minx + maxx) / 2]), np.array([(miny + maxy) / 2]), 4
    )
    assert (txa[0], tya[0]) == (3, 5)


def test_pixel_expr_matches_numpy(spark):
    import pandas as pd
    from pyspark.sql import functions as F

    pdf = pd.DataFrame(
        {
            "lon": np.linspace(-179, 179, 41),
            "lat": np.linspace(-84, 84, 41),
        }
    )
    df = spark.createDataFrame(pdf)
    tx_c, ty_c = mercator.tile_expr(F.col("lon"), F.col("lat"), 5)
    got = (
        df.select(tx_c.alias("tx"), ty_c.alias("ty"))
        .toPandas()
        .to_numpy()
    )
    mx, my = mercator.lat_lon_to_meters(pdf["lon"], pdf["lat"])
    tx_n, ty_n = mercator.meters_to_tile(mx, my, 5)
    np.testing.assert_array_equal(got[:, 0], tx_n)
    np.testing.assert_array_equal(got[:, 1], ty_n)


# ---------------------------------------------------------------------------
# geotransform / warp kernels
# ---------------------------------------------------------------------------

GT = (440720.0, 60.0, 0.0, 3751320.0, 0.0, -60.0)


def test_inv_gt_roundtrip():
    igt = raster.inv_gt(GT)
    px = np.array([0.0, 10.5, 99.0])
    py = np.array([0.0, 20.25, 50.0])
    gx, gy = raster.apply_gt(GT, px, py)
    px2 = igt[0] + gx * igt[1] + gy * igt[2]
    py2 = igt[3] + gx * igt[4] + gy * igt[5]
    np.testing.assert_allclose(px2, px, atol=1e-9)
    np.testing.assert_allclose(py2, py, atol=1e-9)


def test_inv_gt_rotated():
    gt = (100.0, 2.0, 0.5, 200.0, -0.25, -3.0)
    igt = raster.inv_gt(gt)
    gx, gy = raster.apply_gt(gt, np.array([7.0]), np.array([3.0]))
    px = igt[0] + gx * igt[1] + gy * igt[2]
    py = igt[3] + gx * igt[4] + gy * igt[5]
    assert px[0] == pytest.approx(7.0) and py[0] == pytest.approx(3.0)


def test_warp_nearest_identity():
    src = raster.formula_block(0, 0, 10, 8)
    sx, sy = raster.dst_to_src_coords(GT, GT, 10, 8)
    out = raster.warp_nearest(src, sx, sy)
    np.testing.assert_array_equal(out, src.astype(np.int64))


def test_warp_nearest_out_of_range_nodata():
    src = raster.formula_block(0, 0, 4, 4)
    out = raster.warp_nearest(src, np.array([-0.1, 4.0]), np.array([1.0, 1.0]))
    assert out.tolist() == [raster.NODATA, raster.NODATA]


def test_warp_bilinear_exact_center():
    src = np.array([[0, 10], [20, 30]], dtype=np.uint8)
    # dst pixel center exactly between the 4 centers → average * scale
    out = raster.warp_bilinear_q(
        src, np.array([1.0]), np.array([1.0]), scale=4
    )
    assert out[0] == 4 * 15


def test_warp_bilinear_weights():
    src = np.array([[0, 100]], dtype=np.uint8)
    src = np.vstack([src, src])
    # sx = 1.25 → fx = 0.75 → wx = 0.75 → value = 75
    out = raster.warp_bilinear_q(
        src, np.array([1.25]), np.array([1.0]), scale=64
    )
    assert out[0] == 64 * 75


# ---------------------------------------------------------------------------
# burn / fill
# ---------------------------------------------------------------------------


def test_burn_points_counts_and_clamp():
    ix = np.array([0, 0, 1, 3] + [2] * 300)
    iy = np.array([0, 0, 1, 2] + [2] * 300)
    t = raster.burn_points(ix, iy, 4, 3)
    assert t[0, 0] == 2 and t[1, 1] == 1 and t[2, 3] == 1
    assert t[2, 2] == 255  # clamped


def test_fill_polygon_mask_square():
    ring = np.array(
        [[1.0, 1.0], [4.0, 1.0], [4.0, 3.0], [1.0, 3.0], [1.0, 1.0]]
    )
    # unit pixels, top-left (0,0), yres=-1 with y0=4 (north-up)
    mask = raster.fill_polygon_mask([ring], 6, 4, 0.0, 4.0, 1.0, -1.0)
    # centers x=1.5..3.5 inside → cols 1..3; y centers 3.5,2.5,1.5,0.5;
    # inside needs 1<y<3 → rows with centers 2.5 (j=1) and 1.5 (j=2)
    expect = np.zeros((4, 6), dtype=bool)
    expect[1:3, 1:4] = True
    np.testing.assert_array_equal(mask, expect)


def test_fill_polygon_mask_hole():
    outer = np.array(
        [[0.0, 0.0], [6.0, 0.0], [6.0, 6.0], [0.0, 6.0], [0.0, 0.0]]
    )
    hole = np.array(
        [[2.0, 2.0], [4.0, 2.0], [4.0, 4.0], [2.0, 4.0], [2.0, 2.0]]
    )[::-1]
    mask = raster.fill_polygon_mask([outer, hole], 6, 6, 0.0, 6.0, 1.0, -1.0)
    assert mask[0, 0] and not mask[3, 3] and mask[5, 5]


# ---------------------------------------------------------------------------
# overview reduce
# ---------------------------------------------------------------------------


def test_block_reduce_average_rounds_half_up():
    a = np.array([[0, 1], [1, 1]], dtype=np.uint8)  # sum 3 → 3/4 → 1
    assert raster.block_reduce_2x2(a, "average")[0, 0] == 1
    b = np.array([[0, 0], [1, 1]], dtype=np.uint8)  # sum 2 → (2+2)//4 = 1
    assert raster.block_reduce_2x2(b, "average")[0, 0] == 1
    c = np.array([[0, 0], [0, 1]], dtype=np.uint8)  # sum 1 → 0
    assert raster.block_reduce_2x2(c, "average")[0, 0] == 0


def test_block_reduce_nearest_top_left():
    a = np.arange(16, dtype=np.uint8).reshape(4, 4)
    out = raster.block_reduce_2x2(a, "nearest")
    np.testing.assert_array_equal(out, a[::2, ::2])


# ---------------------------------------------------------------------------
# labeling + checksum
# ---------------------------------------------------------------------------


def test_label_components_diagonal_not_connected():
    a = np.array([[1, 0], [0, 1]], dtype=np.uint8)
    labels, n = raster.label_components(a)
    assert n == 4  # 4-connect: diagonal 1s are separate; 0s separate too


def test_label_components_u_shape_merges():
    a = np.array(
        [[1, 0, 1],
         [1, 0, 1],
         [1, 1, 1]], dtype=np.uint8
    )
    labels, n = raster.label_components(a)
    assert n == 2
    assert labels[0, 0] == labels[0, 2]  # U arms merge at the bottom


def test_checksum_deterministic_and_sensitive():
    a = raster.formula_block(0, 0, 16, 16)
    c1 = raster.tile_checksum(a)
    assert c1 == raster.tile_checksum(a.copy())
    b = a.copy()
    b[3, 3] += 1
    assert raster.tile_checksum(b) != c1


def test_formula_block_matches_global_coords():
    whole = raster.formula_block(0, 0, 64, 64)
    sub = raster.formula_block(16, 32, 8, 8)
    np.testing.assert_array_equal(whole[32:40, 16:24], sub)


def test_block_reduce_mode_rms():
    arr = np.array(
        [[5, 5, 1, 2],
         [3, 9, 3, 4],
         [7, 7, 0, 0],
         [7, 8, 0, 3]], dtype=np.uint8)
    mode = raster.block_reduce_2x2(arr, "mode")
    # TL: {5,5,3,9} -> 5; TR: {1,2,3,4} tie -> smallest 1
    # BL: {7,7,7,8} -> 7; BR: {0,0,0,3} -> 0
    np.testing.assert_array_equal(mode, [[5, 1], [7, 0]])
    rms = raster.block_reduce_2x2(arr, "rms")
    want = np.floor(np.sqrt((arr.astype(np.int64) ** 2)
                            .reshape(2, 2, 2, 2).swapaxes(1, 2)
                            .reshape(2, 2, 4).sum(-1) / 4.0) + 0.5)
    np.testing.assert_array_equal(rms.astype(np.int64), want.astype(np.int64))


def test_gauss_3x3_matches_naive():
    rng = np.random.default_rng(3)
    core = rng.integers(0, 251, (8, 8)).astype(np.uint8)
    padded = np.zeros((10, 10), dtype=np.uint8)
    padded[1:9, 1:9] = core
    got = raster.gauss_3x3(padded)
    k = np.array([[1, 2, 1], [2, 4, 2], [1, 2, 1]], dtype=np.int64)
    for gy in range(4):
        for gx in range(4):
            win = padded.astype(np.int64)[2 * gy:2 * gy + 3, 2 * gx:2 * gx + 3]
            assert got[gy, gx] == (int((win * k).sum()) + 8) // 16


def test_warp_cubic_exact_on_dyadic_grid():
    src = raster.formula_block(0, 0, 16, 16)
    # dyadic fractional coords (denominator 8)
    sx = np.array([[4.625, 5.875], [6.125, 7.375]])
    sy = np.array([[4.375, 5.125], [6.875, 7.625]])
    out = raster.warp_cubic_q(src, sx, sy)
    for idx in np.ndindex(2, 2):
        fx, fy = sx[idx] - 0.5, sy[idx] - 0.5
        x0, y0 = int(np.floor(fx)), int(np.floor(fy))
        t, u = fx - x0, fy - y0
        wx = raster.cubic_weights(np.array(t))
        wy = raster.cubic_weights(np.array(u))
        acc = 0.0
        for j in range(4):
            for i in range(4):
                acc += float(wy[j]) * float(wx[i]) * src[y0 + j - 1, x0 + i - 1]
        want = int(np.floor(acc * raster.CUBIC_SCALE + 0.5))
        assert out[idx] == want
    # interpolation at integer centers reproduces the source exactly
    sx2 = np.array([[5.5]]); sy2 = np.array([[7.5]])
    assert raster.warp_cubic_q(src, sx2, sy2)[0, 0] == (
        src[7, 5] * raster.CUBIC_SCALE
    )


def test_warp_cubicspline_partition_of_unity_and_smoothing():
    # constant raster reproduces the constant exactly (weights sum 36)
    src = np.full((16, 16), 7, dtype=np.uint8)
    sx = np.array([[5.125, 8.875]]); sy = np.array([[6.375, 9.625]])
    out = raster.warp_cubicspline_q(src, sx, sy)
    np.testing.assert_array_equal(out, 7 * (1 << 14))
    # B-spline is smoothing: at integer centers it does NOT
    # interpolate, but stays within the local value range
    src = raster.formula_block(0, 0, 16, 16)
    v = raster.warp_cubicspline_q(src, np.array([[7.5]]), np.array([[7.5]]))
    lo = src[5:10, 5:10].min() * (1 << 14)
    hi = src[5:10, 5:10].max() * (1 << 14)
    assert lo <= v[0, 0] <= hi


def test_warp_cubic_bytes_pinned():
    """Both 4x4 warp kernels on a seeded grid at non-dyadic sample
    positions, some outside the support (→ nodata), byte for byte
    (pinned before they shared one gather)."""
    rng = np.random.default_rng(1)
    src = rng.integers(0, 256, (48, 48)).astype(np.uint8)
    sx = rng.uniform(-2, 50, (64, 64))
    sy = rng.uniform(-2, 50, (64, 64))
    pins = {
        raster.warp_cubic_q:
        "df97d1d3eca10f4a0a537b28b88079214d98e206a16fe92c613a37cc23e6d481",
        raster.warp_cubicspline_q:
        "7f2b0f787eb23bbd7afc315690e58739d6854aae891fb88b16796dbdfe13a588",
    }
    for kernel, pin in pins.items():
        out = kernel(src, sx, sy)
        assert (out == raster.CUBIC_NODATA).any()
        assert hashlib.sha256(out.tobytes()).hexdigest() == pin, kernel


def test_warp_lanczos_matches_scalar_reference():
    src = raster.formula_block(0, 0, 32, 32)
    sx = np.array([[10.3, 15.7]]); sy = np.array([[12.1, 20.9]])
    out = raster.warp_lanczos(src, sx, sy)

    def ref(px, py):
        fx, fy = px - 0.5, py - 0.5
        x0, y0 = int(np.floor(fx)), int(np.floor(fy))
        t, u = fx - x0, fy - y0
        import math

        def lw(tv):
            ws = []
            for k in range(-2, 4):
                x = tv - k
                if abs(x) < 1e-12:
                    ws.append(1.0)
                elif abs(x) >= 3:
                    ws.append(0.0)
                else:
                    ws.append(
                        3 * math.sin(math.pi * x)
                        * math.sin(math.pi * x / 3)
                        / (math.pi ** 2 * x * x)
                    )
            s = sum(ws)
            return [w / s for w in ws]

        wx, wy = lw(t), lw(u)
        return sum(
            wy[j] * sum(
                wx[i] * src[y0 + j - 2, x0 + i - 2] for i in range(6)
            )
            for j in range(6)
        )

    for (r, c), want in [((0, 0), ref(10.3, 12.1)), ((0, 1), ref(15.7, 20.9))]:
        assert abs(out[r, c] - want) < 1e-9
    # integer centers interpolate exactly (sinc property)
    v = raster.warp_lanczos(src, np.array([[9.5]]), np.array([[11.5]]))
    assert abs(v[0, 0] - src[11, 9]) < 1e-9


class TestCubicOverview:
    def test_constant_preserved_and_kernel_sum(self):
        from gdal_spark import raster

        pad = 3
        a = np.full((16 + 2 * pad, 16 + 2 * pad), 77, dtype=np.uint8)
        out = raster.cubic_decimate_2x(a, pad=pad)
        assert out.shape == (8, 8)
        np.testing.assert_array_equal(out, 77)

    def test_matches_float_reference(self):
        from gdal_spark import raster

        rng = np.random.default_rng(11)
        pad = 3
        core = rng.integers(0, 256, size=(32, 32), dtype=np.uint8)
        a = np.pad(core, pad, mode="edge")
        got = raster.cubic_decimate_2x(a, pad=pad).astype(np.float64)
        w = raster._CUBIC_DEC_W.astype(np.float64) / 256.0
        ref = np.zeros((16, 16))
        af = a.astype(np.float64)
        for i in range(16):
            for j in range(16):
                acc = 0.0
                for oy in range(8):
                    for ox in range(8):
                        acc += (
                            w[oy] * w[ox]
                            * af[pad - 3 + 2 * i + oy, pad - 3 + 2 * j + ox]
                        )
                ref[i, j] = min(max(np.floor(acc + 0.5), 0), 255)
        np.testing.assert_array_equal(got, ref)


def test_warp_cutline_masks_outside(spark):
    """gdalwarp -cutline composition: dst pixels whose center falls
    outside the cutline polygon emit nodata; inside pixels are
    identical to the uncut warp."""
    from gdal_spark import wkb
    from gdal_spark.operators.tiling import formula_tiles, warp_affine

    ts = 64
    src_gt = (0.0, 1.0, 0.0, 64.0, 0.0, -1.0)
    dst_gt = (0.0, 1.0, 0.0, 64.0, 0.0, -1.0)  # identity warp
    tiles = formula_tiles(spark, 1, 1, ts)
    cut = wkb.polygon([np.array(
        [[10.0, 54.0], [30.0, 54.0], [30.0, 34.0], [10.0, 34.0],
         [10.0, 54.0]]
    )])
    plain = {
        (r.di, r.dj): r.val
        for r in warp_affine(
            tiles, src_gt, ts, ts, dst_gt, ts, ts, method="nearest"
        ).collect()
    }
    cutl = {
        (r.di, r.dj): r.val
        for r in warp_affine(
            tiles, src_gt, ts, ts, dst_gt, ts, ts, method="nearest",
            cutline_wkb=cut,
        ).collect()
    }
    assert len(cutl) == ts * ts
    n_in = 0
    for (di, dj), v in cutl.items():
        # pixel center geo coords under dst_gt
        gx, gy = di + 0.5, 64.0 - (dj + 0.5)
        inside = 10.0 < gx < 30.0 and 34.0 < gy < 54.0
        if inside:
            assert v == plain[(di, dj)]
            n_in += 1
        else:
            assert v == raster.NODATA
    assert n_in == 20 * 20

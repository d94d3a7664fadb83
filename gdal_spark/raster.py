"""Raster kernels: pure numpy over tile arrays.

The reference's raster core re-expressed as vectorized array math to
run inside Arrow-batched pandas UDFs:

* point burn        — GDALdllImagePoint / MERGE_ALG=ADD semantics
                      (alg/llrasterize.cpp:233+, alg/gdalrasterize.cpp:800-817)
* polygon fill      — pixel-center even-odd scanline fill
                      (GDALdllImageFilledPolygon, alg/llrasterize.cpp:58)
* affine warp       — nearest / bilinear kernels of the warper
                      (alg/gdalwarpkernel.cpp:171-196; geotransform math
                      alg/gdaltransformer.cpp:4477)
* 2x2 block reduce  — overview decimation NEAREST / AVERAGE
                      (gcore/overview.cpp:158, :892 — integer average
                      rounds half-up like GDAL's (total + n/2) / n)
* connected labels  — polygonize per-tile pass (alg/polygonize.cpp:73;
                      cross-tile merge lives in operators/tiling.py)
* checksum          — GDAL-checksum-style per-tile digest
                      (cf. GDALChecksumImage, alg/gdalchecksum.cpp:48;
                      formula here is this engine's own, documented below)

Tiles are 2-D numpy arrays, row 0 = top (image convention).
"""

from __future__ import annotations

import numpy as np

from . import geometry

NODATA = -1


# ---------------------------------------------------------------------------
# fixtures / synthesis
# ---------------------------------------------------------------------------


def formula_block(x0: int, y0: int, w: int, h: int) -> np.ndarray:
    """The deterministic test raster: value(x, y) = (x*7 + y*13) % 251
    over global integer pixel coords (FIXTURES.md F4) — reproducible in
    ANSI SQL for oracle parity."""
    x = x0 + np.arange(w, dtype=np.int64)[None, :]
    y = y0 + np.arange(h, dtype=np.int64)[:, None]
    return ((x * 7 + y * 13) % 251).astype(np.uint8)


# ---------------------------------------------------------------------------
# rasterize
# ---------------------------------------------------------------------------


def burn_points(
    ix: np.ndarray, iy: np.ndarray, w: int, h: int, clamp: int = 255
) -> np.ndarray:
    """Count of points per pixel, clamped (uint8 tile). MERGE_ALG=ADD
    with saturation — in-bounds indices only."""
    flat = np.bincount(
        np.asarray(iy, dtype=np.int64) * w + np.asarray(ix, dtype=np.int64),
        minlength=w * h,
    )
    return np.minimum(flat, clamp).astype(np.uint8).reshape(h, w)


def fill_polygon_mask(
    rings: list[np.ndarray],
    w: int,
    h: int,
    x0: float,
    y0: float,
    xres: float,
    yres: float,
) -> np.ndarray:
    """Boolean mask of pixels whose CENTER is inside the polygon
    (even-odd incl. holes) — the ALL_TOUCHED=FALSE default of
    GDALdllImageFilledPolygon (alg/llrasterize.cpp:58), evaluated as a
    vectorized center-point PIP instead of a per-scanline loop.

    (x0, y0) is the geo position of the top-left corner of pixel
    (0, 0); yres is negative for north-up rasters.
    """
    cx = x0 + (np.arange(w, dtype=np.float64) + 0.5) * xres
    cy = y0 + (np.arange(h, dtype=np.float64) + 0.5) * yres
    gx, gy = np.meshgrid(cx, cy)
    inside = geometry.points_in_polygon(gx.ravel(), gy.ravel(), rings)
    return inside.reshape(h, w)


# ---------------------------------------------------------------------------
# affine warp (nearest / bilinear)
# ---------------------------------------------------------------------------


def apply_gt(gt: tuple, px, py):
    """Pixel → geo (GDALApplyGeoTransform, alg/gdaltransformer.cpp:4477)."""
    px = np.asarray(px, dtype=np.float64)
    py = np.asarray(py, dtype=np.float64)
    return gt[0] + px * gt[1] + py * gt[2], gt[3] + px * gt[4] + py * gt[5]


def inv_gt(gt: tuple) -> tuple:
    """Inverse 6-coeff affine (GDALInvGeoTransform, gcore/gdal_misc.cpp:3370)."""
    det = gt[1] * gt[5] - gt[2] * gt[4]
    if det == 0.0:
        raise ValueError("non-invertible geotransform")
    inv_det = 1.0 / det
    a = gt[5] * inv_det
    b = -gt[2] * inv_det
    d = -gt[4] * inv_det
    e = gt[1] * inv_det
    return (
        -(gt[0] * a + gt[3] * b),
        a,
        b,
        -(gt[0] * d + gt[3] * e),
        d,
        e,
    )


def dst_to_src_coords(
    dst_gt: tuple, src_gt: tuple, w: int, h: int, i0: int = 0, j0: int = 0
):
    """Continuous src pixel coords of every dst pixel CENTER in the
    (w x h) dst window starting at dst pixel (i0, j0)."""
    di = i0 + np.arange(w, dtype=np.float64)[None, :] + 0.5
    dj = j0 + np.arange(h, dtype=np.float64)[:, None] + 0.5
    gx, gy = apply_gt(dst_gt, di, dj)
    igt = inv_gt(src_gt)
    sx = igt[0] + gx * igt[1] + gy * igt[2]
    sy = igt[3] + gx * igt[4] + gy * igt[5]
    return sx, sy


def warp_nearest(
    src: np.ndarray, sx: np.ndarray, sy: np.ndarray, nodata: int = NODATA
) -> np.ndarray:
    """Nearest kernel: the containing src pixel of each dst-center
    inverse map — floor of the continuous coord (GWKNearestNoMasks...,
    alg/gdalwarpkernel.cpp:171). Out-of-src → nodata."""
    ix = np.floor(sx).astype(np.int64)
    iy = np.floor(sy).astype(np.int64)
    h, w = src.shape
    ok = (ix >= 0) & (ix < w) & (iy >= 0) & (iy < h)
    out = np.full(sx.shape, nodata, dtype=np.int64)
    out[ok] = src[iy[ok], ix[ok]].astype(np.int64)
    return out


def warp_bilinear_q(
    src: np.ndarray,
    sx: np.ndarray,
    sy: np.ndarray,
    scale: int = 64,
    nodata: int = NODATA,
) -> np.ndarray:
    """Bilinear kernel between the 4 surrounding pixel CENTERS
    (GWKBilinear semantics, alg/gdalwarpkernel.cpp:177), returned as
    round(scale * value) so dyadic-rational weights stay integer-exact
    across engines. Dst pixels whose 2x2 support is not fully inside
    the src → nodata."""
    fx = np.asarray(sx, dtype=np.float64) - 0.5
    fy = np.asarray(sy, dtype=np.float64) - 0.5
    x0 = np.floor(fx).astype(np.int64)
    y0 = np.floor(fy).astype(np.int64)
    wx = fx - x0
    wy = fy - y0
    h, w = src.shape
    ok = (x0 >= 0) & (x0 + 1 < w) & (y0 >= 0) & (y0 + 1 < h)
    out = np.full(fx.shape, nodata, dtype=np.int64)
    xo, yo = x0[ok], y0[ok]
    v00 = src[yo, xo].astype(np.float64)
    v10 = src[yo, xo + 1].astype(np.float64)
    v01 = src[yo + 1, xo].astype(np.float64)
    v11 = src[yo + 1, xo + 1].astype(np.float64)
    wxo, wyo = wx[ok], wy[ok]
    val = (
        v00 * (1.0 - wxo) * (1.0 - wyo)
        + v10 * wxo * (1.0 - wyo)
        + v01 * (1.0 - wxo) * wyo
        + v11 * wxo * wyo
    )
    out[ok] = np.round(val * scale).astype(np.int64)
    return out


# ---------------------------------------------------------------------------
# overview decimation
# ---------------------------------------------------------------------------


CUBIC_SCALE = 1 << 20
CUBIC_NODATA = -(10 ** 9)


def cubic_weights(t: np.ndarray) -> tuple:
    """Catmull-Rom (a = -0.5) cubic-convolution weights for the four
    taps at offsets -1, 0, +1, +2 (GWKCubicComputeWeights,
    alg/gdalwarpkernel.cpp:101-135). For dyadic t every weight is an
    exactly-representable dyadic rational (denominator 2^10 when t has
    denominator 8), so any summation order is exact."""
    t2 = t * t
    t3 = t2 * t
    w0 = (-t3 + 2.0 * t2 - t) * 0.5
    w1 = (3.0 * t3 - 5.0 * t2 + 2.0) * 0.5
    w2 = (-3.0 * t3 + 4.0 * t2 + t) * 0.5
    w3 = (t3 - t2) * 0.5
    return w0, w1, w2, w3


def _warp_4x4_q(
    src: np.ndarray,
    sx: np.ndarray,
    sy: np.ndarray,
    weights,
    scale: int,
    divisor: float,
    nodata: int,
) -> np.ndarray:
    """The 4x4-support gather behind the cubic warp kernels:
    floor(Σ wy_j wx_i p_ij * scale / divisor + 0.5), with
    ``weights(t)`` giving the taps at offsets -1, 0, +1, +2. Support
    outside the window → nodata."""
    fx = sx - 0.5
    fy = sy - 0.5
    x0 = np.floor(fx).astype(np.int64)
    y0 = np.floor(fy).astype(np.int64)
    t = fx - x0
    u = fy - y0
    h, w = src.shape
    ok = (x0 - 1 >= 0) & (x0 + 2 <= w - 1) & (y0 - 1 >= 0) & (y0 + 2 <= h - 1)
    xc = np.clip(x0, 1, max(w - 3, 1))
    yc = np.clip(y0, 1, max(h - 3, 1))
    wx = weights(t)
    wy = weights(u)
    acc = np.zeros(sx.shape, dtype=np.float64)
    for j in range(4):
        rowacc = np.zeros(sx.shape, dtype=np.float64)
        for i in range(4):
            rowacc += wx[i] * src[yc + j - 1, xc + i - 1]
        acc += wy[j] * rowacc
    out = np.floor(acc * scale / divisor + 0.5).astype(np.int64)
    out[~ok] = nodata
    return out


def warp_cubic_q(
    src: np.ndarray,
    sx: np.ndarray,
    sy: np.ndarray,
    scale: int = CUBIC_SCALE,
    nodata: int = CUBIC_NODATA,
) -> np.ndarray:
    """Cubic (Catmull-Rom) warp kernel, integer-quantized: round(scale
    * Σ wy_j wx_i p_ij) over the 4x4 support (GWKCubic,
    alg/gdalwarpkernel.cpp; the reference benchmark's `-r cubic` rig,
    autotest/benchmark/test_gdalwarp.py:31-80). With dyadic source
    grids (fx denominators ≤ 8) the scaled result is an EXACT integer
    — bit-reproducible against an ANSI-SQL oracle. Support outside the
    window → nodata (large negative: cubic undershoot makes small
    negatives legitimate values)."""
    return _warp_4x4_q(src, sx, sy, cubic_weights, scale, 1.0, nodata)


def bspline_weights(t: np.ndarray) -> tuple:
    """Cubic B-spline weights (GWKCubicSpline, alg/gdalwarpkernel.cpp
    CubicSpline path): smoothing (non-interpolating) kernel; dyadic t
    → exact dyadic weights (denominator 6·2^9 — factor 6 cancels in
    the /6 normalization below, kept as *(1/6) exact? 1/6 is NOT
    dyadic, so weights are computed as integer-numerator/6 at use
    time: see warp_cubicspline_q)."""
    t2 = t * t
    t3 = t2 * t
    # numerators of the B-spline basis, BEFORE the common /6
    w0 = -t3 + 3.0 * t2 - 3.0 * t + 1.0
    w1 = 3.0 * t3 - 6.0 * t2 + 4.0
    w2 = -3.0 * t3 + 3.0 * t2 + 3.0 * t + 1.0
    w3 = t3
    return w0, w1, w2, w3


def warp_cubicspline_q(
    src: np.ndarray,
    sx: np.ndarray,
    sy: np.ndarray,
    scale: int = 1 << 14,
    nodata: int = CUBIC_NODATA,
) -> np.ndarray:
    """Cubic B-spline warp kernel, integer-quantized:
    round(scale * (Σ wy_j wx_i p_ij) / 36) with the UNNORMALIZED
    integer-exact basis numerators (the /6 per axis folds into one
    exact /36). For dyadic source grids the pre-division accumulator
    is an exact dyadic double, and /36 + rounding is deterministic in
    both engines."""
    return _warp_4x4_q(src, sx, sy, bspline_weights, scale, 36.0, nodata)


def lanczos_weights(t: np.ndarray, a: int = 3) -> list:
    """Lanczos-a windowed-sinc weights at taps -a+1..a for fractional
    offset t (GWKLanczosSinc, alg/gdalwarpkernel.cpp; GDAL uses a=3 →
    6x6 support), normalized to sum 1. Transcendental — verified
    against a scalar reference in tests, not oracle-gated."""
    ws = []
    for k in range(-a + 1, a + 1):
        x = t - k
        sing = np.abs(x) < 1e-12
        xd = np.where(sing, 1.0, x)  # masked denominator: no 0/0 warn
        w = np.where(
            sing,
            1.0,
            a * np.sin(np.pi * x) * np.sin(np.pi * x / a)
            / (np.pi * np.pi * xd * xd),
        )
        ws.append(np.where(np.abs(x) >= a, 0.0, w))
    total = np.sum(ws, axis=0)
    return [w / total for w in ws]


def warp_lanczos(
    src: np.ndarray,
    sx: np.ndarray,
    sy: np.ndarray,
    a: int = 3,
    nodata: float = float(CUBIC_NODATA),
) -> np.ndarray:
    """Lanczos-3 warp (6x6 gather). Float output (quantize at the
    caller if needed)."""
    fx = sx - 0.5
    fy = sy - 0.5
    x0 = np.floor(fx).astype(np.int64)
    y0 = np.floor(fy).astype(np.int64)
    t = fx - x0
    u = fy - y0
    h, w = src.shape
    ok = (
        (x0 - a + 1 >= 0) & (x0 + a <= w - 1)
        & (y0 - a + 1 >= 0) & (y0 + a <= h - 1)
    )
    xc = np.clip(x0, a - 1, max(w - a - 1, a - 1))
    yc = np.clip(y0, a - 1, max(h - a - 1, a - 1))
    wx = lanczos_weights(t, a)
    wy = lanczos_weights(u, a)
    acc = np.zeros(sx.shape, dtype=np.float64)
    for j in range(2 * a):
        rowacc = np.zeros(sx.shape, dtype=np.float64)
        for i in range(2 * a):
            rowacc += wx[i] * src[yc + j - a + 1, xc + i - a + 1]
        acc += wy[j] * rowacc
    acc[~ok] = nodata
    return acc


def block_reduce_2x2(arr: np.ndarray, method: str = "average") -> np.ndarray:
    """One overview level (factor 2). ``average`` on integers rounds
    half-up exactly like GDAL's (total + n/2) / n (gcore/overview.cpp
    average path); ``nearest`` picks the top-left source pixel of each
    block (overview.cpp:158 nSrcXOff = 2*iDstPixel)."""
    h, w = arr.shape
    if h % 2 or w % 2:
        raise ValueError("block_reduce_2x2 needs even dims")
    if method == "nearest":
        return arr[::2, ::2].copy()
    if method == "average":
        a = arr.astype(np.int64)
        s = a[0::2, 0::2] + a[0::2, 1::2] + a[1::2, 0::2] + a[1::2, 1::2]
        return ((s + 2) // 4).astype(arr.dtype)
    if method == "mode":
        # most frequent of the 4 children; ties → smallest value (a
        # deterministic stand-in for overview.cpp:2163's scan-order
        # tie, which is not parallel-reduction-safe)
        a = arr.astype(np.int64)
        c = np.stack(
            [a[0::2, 0::2], a[0::2, 1::2], a[1::2, 0::2], a[1::2, 1::2]]
        )
        c.sort(axis=0)
        # runs within the sorted 4-stack: count occurrences of each
        same = np.zeros_like(c)
        for i in range(4):
            same[i] = (c == c[i]).sum(axis=0)
        best = np.where(
            same == same.max(axis=0, keepdims=True), c, np.iinfo(np.int64).max
        ).min(axis=0)
        return best.astype(arr.dtype)
    if method == "rms":
        # round(sqrt(mean of squares)) — overview.cpp RMS path; sqrt
        # of an exact small integer/4 is correctly rounded → SQL-exact
        a = arr.astype(np.int64)
        sq = (
            a[0::2, 0::2] ** 2 + a[0::2, 1::2] ** 2
            + a[1::2, 0::2] ** 2 + a[1::2, 1::2] ** 2
        )
        return np.floor(np.sqrt(sq / 4.0) + 0.5).astype(arr.dtype)
    raise ValueError(f"unknown method {method!r}")


# Catmull-Rom weights for 2× decimation at half-pixel phase, ×128:
# t = ±0.25, ±0.75, ±1.25, ±1.75 → all dyadic → integer-exact math
_CUBIC_DEC_W = np.array([-3, -9, 29, 111, 111, 29, -9, -3], dtype=np.int64)


def cubic_decimate_2x(padded: np.ndarray, pad: int = 3) -> np.ndarray:
    """CUBIC overview reduce (gcore/overview.cpp:3150 convolution
    path, Catmull-Rom, ratio 2): dst pixel i gathers src pixels
    2i−3..2i+4 per axis with the fixed dyadic 8-tap kernel (×128 per
    axis, /65536 total, half-up, clamped). ``padded`` carries a
    ``pad`` ≥ 3 halo."""
    a = padded.astype(np.int64)
    h2, w2 = a.shape
    ts_h, ts_w = h2 - 2 * pad, w2 - 2 * pad
    half_h, half_w = ts_h // 2, ts_w // 2
    # horizontal pass: out[:, i] = Σ_o w[o] * a[:, pad + 2i + o - 3]
    hor = np.zeros((h2, half_w), dtype=np.int64)
    for o in range(8):
        cols = pad - 3 + o + 2 * np.arange(half_w)
        hor += _CUBIC_DEC_W[o] * a[:, cols]
    out = np.zeros((half_h, half_w), dtype=np.int64)
    for o in range(8):
        rows = pad - 3 + o + 2 * np.arange(half_h)
        out += _CUBIC_DEC_W[o] * hor[rows, :]
    out = (out + 32768) >> 16  # floor((x + 0.5·65536)/65536): half-up
    return np.clip(out, 0, 255).astype(padded.dtype)


def gauss_3x3(padded: np.ndarray) -> np.ndarray:
    """GAUSS overview reduce (gcore/overview.cpp:1842): decimate by 2
    with the normalized 3x3 binomial kernel {1,2,1}⊗{1,2,1}/16 centered
    on each even pixel of a 1-px-padded array. Integer math: half-up
    exact — (sum + 8) // 16."""
    a = padded.astype(np.int64)
    k = (
        1 * a[0:-2:2, 0:-2:2] + 2 * a[0:-2:2, 1:-1:2] + 1 * a[0:-2:2, 2::2]
        + 2 * a[1:-1:2, 0:-2:2] + 4 * a[1:-1:2, 1:-1:2] + 2 * a[1:-1:2, 2::2]
        + 1 * a[2::2, 0:-2:2] + 2 * a[2::2, 1:-1:2] + 1 * a[2::2, 2::2]
    )
    return ((k + 8) // 16).astype(padded.dtype)


# ---------------------------------------------------------------------------
# polygonize: per-tile connected-component labeling
# ---------------------------------------------------------------------------


def label_components(
    arr: np.ndarray, connectivity: int = 4
) -> tuple[np.ndarray, int]:
    """4- or 8-connected labeling of equal-valued pixels (the per-tile
    half of alg/polygonize.cpp's scanline merge; GDAL's polygonize/
    sieve both take the connectedness flag). Returns (labels, count);
    labels are 0-based row-major-first-pixel order."""
    if connectivity not in (4, 8):
        raise ValueError("connectivity must be 4 or 8")
    h, w = arr.shape
    labels = -np.ones((h, w), dtype=np.int64)
    parent: list[int] = []

    def find(a: int) -> int:
        while parent[a] != a:
            parent[a] = parent[parent[a]]
            a = parent[a]
        return a

    def union(a: int, b: int) -> None:
        ra, rb = find(a), find(b)
        if ra != rb:
            if ra < rb:
                parent[rb] = ra
            else:
                parent[ra] = rb

    for y in range(h):
        row = arr[y]
        left_same = np.zeros(w, dtype=bool)
        left_same[1:] = row[1:] == row[:-1]
        up_same = (arr[y - 1] == row) if y > 0 else np.zeros(w, dtype=bool)
        if connectivity == 8 and y > 0:
            ul_same = np.zeros(w, dtype=bool)
            ul_same[1:] = arr[y - 1, :-1] == row[1:]
            ur_same = np.zeros(w, dtype=bool)
            ur_same[:-1] = arr[y - 1, 1:] == row[:-1]
        else:
            ul_same = ur_same = np.zeros(w, dtype=bool)
        for x in range(w):
            lab = -1
            for hit, ny, nx in (
                (left_same[x], y, x - 1),
                (up_same[x], y - 1, x),
                (ul_same[x], y - 1, x - 1),
                (ur_same[x], y - 1, x + 1),
            ):
                if not hit:
                    continue
                nlab = labels[ny, nx]
                if lab == -1:
                    lab = nlab
                else:
                    union(int(lab), int(nlab))
            if lab == -1:
                lab = len(parent)
                parent.append(lab)
            labels[y, x] = lab

    # flatten to canonical 0..k-1 in first-occurrence order
    roots = np.array([find(int(v)) for v in range(len(parent))], dtype=np.int64)
    flat = labels.ravel()
    flat_roots = roots[flat]
    uniq, canon = np.unique(flat_roots, return_inverse=True)
    labels = canon.reshape(h, w)
    return labels, len(uniq)


# ---------------------------------------------------------------------------
# proximity: nearest-target coordinate propagation (8SSEDT)
# ---------------------------------------------------------------------------

# packed nearest-target coords: gx * 2^21 + gy (grids < 2^21 px/axis);
# -1 = no target known yet
_PACK_SHIFT = 21
_PACK_MASK = (1 << _PACK_SHIFT) - 1
D2_INF = np.int64(1) << 62


def pack_coords(gx, gy, valid) -> np.ndarray:
    gx = np.asarray(gx, dtype=np.int64)
    gy = np.asarray(gy, dtype=np.int64)
    return np.where(valid, (gx << _PACK_SHIFT) | gy, np.int64(-1))


def unpack_coords(packed):
    packed = np.asarray(packed, dtype=np.int64)
    valid = packed >= 0
    gx = np.where(valid, packed >> _PACK_SHIFT, 0)
    gy = np.where(valid, packed & _PACK_MASK, 0)
    return valid, gx, gy


def propagate_nearest(packed: np.ndarray, gx0: int, gy0: int) -> np.ndarray:
    """One forward+backward 8SSEDT sweep over a (halo-padded) window of
    packed nearest-target coords — the per-chunk half of GDAL's
    proximity scan (alg/gdalproximity.cpp:94, which propagates nearest
    source coordinates scanline by scanline). (gx0, gy0) are the
    global coords of pixel [0, 0]. Returns the updated packed array.
    """
    H, W = packed.shape
    valid, bgx, bgy = unpack_coords(packed)
    bgx = bgx.copy()
    bgy = bgy.copy()
    valid = valid.copy()
    PX = gx0 + np.arange(W, dtype=np.int64)
    PY = gy0 + np.arange(H, dtype=np.int64)

    def row_d2(y):
        dx = bgx[y] - PX
        dy = bgy[y] - PY[y]
        return np.where(valid[y], dx * dx + dy * dy, D2_INF)

    def merge_from_row(y, src_y, shift):
        g = np.roll(bgx[src_y], shift)
        h = np.roll(bgy[src_y], shift)
        v = np.roll(valid[src_y], shift)
        if shift > 0:
            v[:shift] = False
        elif shift < 0:
            v[shift:] = False
        dx = g - PX
        dy = h - PY[y]
        cd = np.where(v, dx * dx + dy * dy, D2_INF)
        better = cd < row_d2(y)
        bgx[y][better] = g[better]
        bgy[y][better] = h[better]
        valid[y] |= better

    def inrow_scan(y, xs):
        py = PY[y]
        for x in xs:
            xp = x - 1 if xs.step == 1 else x + 1
            if not valid[y, xp]:
                continue
            dx = bgx[y, xp] - PX[x]
            dy = bgy[y, xp] - py
            cd = dx * dx + dy * dy
            if valid[y, x]:
                dx2 = bgx[y, x] - PX[x]
                dy2 = bgy[y, x] - py
                cur = dx2 * dx2 + dy2 * dy2
            else:
                cur = D2_INF
            if cd < cur:
                bgx[y, x] = bgx[y, xp]
                bgy[y, x] = bgy[y, xp]
                valid[y, x] = True

    # forward: top→bottom, in-row left→right
    for y in range(H):
        if y > 0:
            for s in (-1, 0, 1):
                merge_from_row(y, y - 1, s)
        inrow_scan(y, range(1, W))
    # backward: bottom→top, in-row right→left
    for y in range(H - 1, -1, -1):
        if y < H - 1:
            for s in (-1, 0, 1):
                merge_from_row(y, y + 1, s)
        inrow_scan(y, range(W - 2, -1, -1))

    return pack_coords(bgx, bgy, valid)


def nearest_d2(packed: np.ndarray, gx0: int, gy0: int) -> np.ndarray:
    """Squared distance of each pixel to its recorded nearest target
    (D2_INF where none)."""
    H, W = packed.shape
    valid, gx, gy = unpack_coords(packed)
    PX = gx0 + np.arange(W, dtype=np.int64)[None, :]
    PY = gy0 + np.arange(H, dtype=np.int64)[:, None]
    dx = gx - PX
    dy = gy - PY
    return np.where(valid, dx * dx + dy * dy, D2_INF)


# ---------------------------------------------------------------------------
# checksum
# ---------------------------------------------------------------------------

CHECKSUM_MOD = 1 << 31


def tile_checksum(arr: np.ndarray) -> int:
    """Deterministic tile digest in the spirit of GDALChecksumImage
    (alg/gdalchecksum.cpp:48): sum over row-major pixels of
    val * (idx % 11 + 1), mod 2^31. SQL-expressible."""
    a = arr.astype(np.int64).ravel()
    idx = np.arange(a.size, dtype=np.int64)
    return int(np.sum(a * (idx % 11 + 1)) % CHECKSUM_MOD)

"""End-to-end tests for distributed tiling operators vs driver-side
numpy ground truth (the GDAL-oracle pattern of SURVEY.md §5: same
answer computed two ways)."""

import hashlib

import numpy as np
import pandas as pd
import pytest

from gdal_spark import mercator, raster
from gdal_spark.operators import tiling


def _assemble(tiles_pdf: pd.DataFrame, ts: int) -> dict:
    """tile rows → {(tx, ty): 2-D array}."""
    return {
        (int(r["tx"]), int(r["ty"])): np.frombuffer(
            r["data"], dtype=np.uint8
        ).reshape(int(r["h"]), int(r["w"]))
        for _, r in tiles_pdf.iterrows()
    }


@pytest.fixture(scope="module")
def points_pdf():
    rng = np.random.default_rng(7)
    n = 4000
    return pd.DataFrame(
        {
            "lon": rng.uniform(-179, 179, n),
            "lat": rng.uniform(-80, 80, n),
        }
    )


def test_burn_points_tiles_matches_numpy(spark, points_pdf):
    zoom, ts = 2, 32
    df = spark.createDataFrame(points_pdf)
    tiles = tiling.burn_points_tiles(df, zoom, ts).toPandas()
    got = _assemble(tiles, ts)

    # ground truth on the driver with the same pixel math
    n_px = (1 << zoom) * ts
    mx, my = mercator.lat_lon_to_meters(
        points_pdf["lon"].to_numpy(), points_pdf["lat"].to_numpy()
    )
    px, py = mercator.meters_to_pixels(mx, my, zoom, ts)
    gx = np.clip(np.floor(px).astype(np.int64), 0, n_px - 1)
    gy = n_px - 1 - np.clip(np.floor(py).astype(np.int64), 0, n_px - 1)
    full = raster.burn_points(gx, gy, n_px, n_px, clamp=255)

    for (tx, ty), arr in got.items():
        np.testing.assert_array_equal(
            arr, full[ty * ts : (ty + 1) * ts, tx * ts : (tx + 1) * ts]
        )
    # every nonzero region of the full raster is covered by some tile
    lit = {(int(x) // ts, int(y) // ts) for x, y in zip(gx, gy)}
    assert lit == set(got.keys())


def test_pyramid_matches_numpy(spark, points_pdf):
    zoom, ts = 2, 32
    df = spark.createDataFrame(points_pdf)
    base = tiling.burn_points_tiles(df, zoom, ts)
    pyr = tiling.pyramid(base, base_zoom=zoom, min_zoom=0).toPandas()

    n_px = (1 << zoom) * ts
    mx, my = mercator.lat_lon_to_meters(
        points_pdf["lon"].to_numpy(), points_pdf["lat"].to_numpy()
    )
    px, py = mercator.meters_to_pixels(mx, my, zoom, ts)
    gx = np.clip(np.floor(px).astype(np.int64), 0, n_px - 1)
    gy = n_px - 1 - np.clip(np.floor(py).astype(np.int64), 0, n_px - 1)
    levels = {zoom: raster.burn_points(gx, gy, n_px, n_px, clamp=255)}
    for z in range(zoom - 1, -1, -1):
        levels[z] = raster.block_reduce_2x2(levels[z + 1], "average")

    for _, row in pyr.iterrows():
        z, tx, ty = int(row["z"]), int(row["tx"]), int(row["ty"])
        arr = np.frombuffer(row["data"], dtype=np.uint8).reshape(ts, ts)
        np.testing.assert_array_equal(
            arr, levels[z][ty * ts : (ty + 1) * ts, tx * ts : (tx + 1) * ts],
            err_msg=f"tile z={z} {tx},{ty}",
        )


# tile_checksums of pyramid(formula_tiles(4, 4, 32), 2, 0, method),
# pinned before the six methods shared one overview body
PYRAMID_PINS = {
    "nearest":
    "f763b64e9df60de6d391b9afa820dfb719c196258e8731d696909a8b02798d47",
    "average":
    "3d9c328ac68b29e1b52dc219d46d40d8ca97136d0d59fba09852abbff90a0c37",
    "mode":
    "142250a38e128265b198fff8157061264c3f7128a7e664d29f01cd1f0b07c0a2",
    "rms":
    "2e635a005f6e0bc39a335186af2955377cb733ba53a7004b214fda43698b4e7b",
    "gauss":
    "5f92661cb50343bdc35a5459f37f1d02fa9de0104bc9a5be52a1a46fbf13fdfd",
    "cubic":
    "0fff1cc13862bb712cacd1e6845dc87b25ea53b1d8c3578b5b6cb7abe2de36ce",
}


@pytest.fixture(scope="module")
def formula_4x4(spark):
    return tiling.formula_tiles(spark, 4, 4, 32).localCheckpoint()


@pytest.mark.parametrize("method", sorted(PYRAMID_PINS))
def test_pyramid_checksums_pinned(formula_4x4, method):
    rows = tiling.tile_checksums(
        tiling.pyramid(formula_4x4, 2, 0, method)
    ).collect()
    assert len(rows) == 21
    key = repr(sorted((r.z, r.tx, r.ty, r.cks) for r in rows))
    assert hashlib.sha256(key.encode()).hexdigest() == PYRAMID_PINS[method]


def _final_plan(df) -> str:
    """AQE's final physical plan of ``df``, which has run."""
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "isFinalPlan=true" in plan
    return plan.split("== Initial Plan ==")[0]


@pytest.mark.parametrize("levels", [1, 2, 3])
@pytest.mark.parametrize("method", ["nearest", "average", "rms", "mode"])
def test_pyramid_runs_each_kernel_once(spark, points_pdf, method, levels):
    """The burn kernel and each level's kernel run once: every level's
    parent-key exchange feeds both its union branch and the next level,
    so the final plan holds L + 1 Python nodes, not 2L + 1."""
    base = tiling.burn_points_tiles(spark.createDataFrame(points_pdf), 3, 16)
    df = tiling.tile_checksums(tiling.pyramid(base, 3, 3 - levels, method))
    assert len(df.collect()) > levels
    plan = _final_plan(df)
    assert plan.count("FlatMapGroupsInPandas") == levels + 1
    assert plan.count("ReusedExchange") == levels


def test_pyramid_of_a_cached_base_reads_the_cache(spark, points_pdf):
    """AQE reuses no exchange over a cached relation, so a cached base
    keeps the plain union: no extra shuffle of the base, same tiles."""
    from pyspark import StorageLevel

    base = tiling.burn_points_tiles(spark.createDataFrame(points_pdf), 2, 16)
    plain = tiling.pyramid(base, 2, 0).collect()
    cached = base.persist(StorageLevel.MEMORY_AND_DISK)
    try:
        df = tiling.pyramid(cached, 2, 0)
        assert sorted(df.collect()) == sorted(plain)
        plan = _final_plan(df)
    finally:
        cached.unpersist()
    assert "REPARTITION_BY_COL" not in plan
    assert "ReusedExchange" not in plan


def test_unknown_overview_method_raises_on_the_driver(spark):
    """A bad method fails at the call, naming the method, before any
    plan is built, on empty input too (it used to surface only as a
    Python-worker task failure, or never)."""
    tiles = tiling.formula_tiles(spark, 2, 2, 16)
    for t in (tiles, tiles.limit(0)):
        with pytest.raises(ValueError, match="'bogus'"):
            tiling.pyramid(t, 2, 0, "bogus")
        with pytest.raises(ValueError, match="'bogus'"):
            tiling.overview_level(t, "bogus")


def test_tile_checksums_roundtrip(spark):
    tiles = tiling.formula_tiles(spark, 2, 2, 16)
    got = {
        (r["tx"], r["ty"]): r["cks"]
        for r in tiling.tile_checksums(tiles).collect()
    }
    for (tx, ty), cks in got.items():
        arr = raster.formula_block(tx * 16, ty * 16, 16, 16)
        assert cks == raster.tile_checksum(arr)


def test_pixels_df_global_coords(spark):
    tiles = tiling.formula_tiles(spark, 2, 1, 8)
    pix = tiling.pixels_df(tiles, nonzero_only=False).toPandas()
    assert len(pix) == 2 * 8 * 8
    full = raster.formula_block(0, 0, 16, 8)
    for _, r in pix.sample(40, random_state=0).iterrows():
        assert full[int(r["gy"]), int(r["gx"])] == r["val"]


SRC_GT = (440720.0, 60.0, 0.0, 3751320.0, 0.0, -60.0)
DST_GT = (440000.0, 75.0, 0.0, 3752000.0, 0.0, -75.0)


@pytest.mark.parametrize("method", ["nearest", "bilinear"])
def test_warp_affine_matches_numpy(spark, method):
    src_w = src_h = 128
    ts = 64
    tiles = tiling.formula_tiles(spark, src_w // ts, src_h // ts, ts)
    out = tiling.warp_affine(
        tiles, SRC_GT, src_w, src_h, DST_GT, 80, 60,
        method=method, dst_block=32, src_tile_size=ts,
    ).toPandas()
    assert len(out) == 80 * 60

    src = raster.formula_block(0, 0, src_w, src_h)
    sx, sy = raster.dst_to_src_coords(DST_GT, SRC_GT, 80, 60)
    if method == "nearest":
        expect = raster.warp_nearest(src, sx, sy)
    else:
        expect = raster.warp_bilinear_q(src, sx, sy, scale=64)
    got = np.full((60, 80), -999, dtype=np.int64)
    got[out["dj"].to_numpy(), out["di"].to_numpy()] = out["val"].to_numpy()
    np.testing.assert_array_equal(got, expect)
    # sanity: the dst grid must actually hit the src (not all nodata)
    assert (expect != raster.NODATA).any()


def _flood_fill_regions(arr: np.ndarray):
    """Driver-side oracle: 4-connected regions via BFS."""
    h, w = arr.shape
    seen = np.zeros((h, w), dtype=bool)
    regions = []
    for y in range(h):
        for x in range(w):
            if seen[y, x]:
                continue
            val = arr[y, x]
            stack = [(y, x)]
            seen[y, x] = True
            px_cnt = 0
            minx = maxx = x
            miny = maxy = y
            while stack:
                cy, cx = stack.pop()
                px_cnt += 1
                minx, maxx = min(minx, cx), max(maxx, cx)
                miny, maxy = min(miny, cy), max(maxy, cy)
                for ny, nx in (
                    (cy - 1, cx), (cy + 1, cx), (cy, cx - 1), (cy, cx + 1)
                ):
                    if 0 <= ny < h and 0 <= nx < w and not seen[ny, nx] \
                            and arr[ny, nx] == val:
                        seen[ny, nx] = True
                        stack.append((ny, nx))
            regions.append((int(val), px_cnt, minx, miny, maxx, maxy))
    return sorted(regions)


def test_polygonize_matches_flood_fill(spark):
    # threshold the formula raster into a striped binary image spanning
    # multiple tiles — regions cross tile borders in both directions
    nx = ny = 2
    ts = 32

    def threshold(pdf_iter):
        for pdf in pdf_iter:
            rows = []
            for _, r in pdf.iterrows():
                arr = np.frombuffer(r["data"], dtype=np.uint8).reshape(
                    int(r["h"]), int(r["w"])
                )
                rows.append(
                    (0, int(r["tx"]), int(r["ty"]), int(r["w"]), int(r["h"]),
                     (arr < 64).astype(np.uint8).tobytes())
                )
            yield pd.DataFrame(
                rows, columns=["z", "tx", "ty", "w", "h", "data"]
            )

    tiles = tiling.formula_tiles(spark, nx, ny, ts).mapInPandas(
        threshold, tiling.TILE_SCHEMA
    )
    got = sorted(
        (int(r["value"]), int(r["n_pixels"]), int(r["min_gx"]),
         int(r["min_gy"]), int(r["max_gx"]), int(r["max_gy"]))
        for r in tiling.polygonize(tiles).collect()
    )
    full = (raster.formula_block(0, 0, nx * ts, ny * ts) < 64).astype(np.uint8)
    expect = _flood_fill_regions(full)
    assert got == expect
    assert len(expect) > 4  # the fixture really produces multiple regions


def test_contour_segments_close_across_tiles(spark):
    """A single bump crossing tile borders yields segments that close
    into one loop (every endpoint shared by exactly two segments, also
    across tile borders), and the per-level census totals them."""
    import pandas as pd
    from gdal_spark.operators.tiling import (
        contour_level_stats, contour_segments,
    )

    n = 16
    yy, xx = np.meshgrid(np.arange(n), np.arange(n), indexing="ij")
    r2 = (xx - 8) ** 2 + (yy - 8) ** 2
    full = np.where(r2 <= 20, 200, 10).astype(np.uint8)
    rows = []
    for ty in range(2):
        for tx in range(2):
            rows.append(
                (0, tx, ty, 8, 8,
                 full[ty * 8:(ty + 1) * 8, tx * 8:(tx + 1) * 8].tobytes())
            )
    tiles = spark.createDataFrame(
        pd.DataFrame(rows, columns=["z", "tx", "ty", "w", "h", "data"])
    )
    segs = contour_segments(tiles, n, n, [100])
    stats = {r.level: r for r in contour_level_stats(segs).collect()}
    rows = segs.collect()
    ends: dict = {}
    for r in rows:
        for p in ((r.x1, r.y1), (r.x2, r.y2)):
            ends[p] = ends.get(p, 0) + 1
    assert set(ends.values()) == {2}  # closed, no dangling ends
    assert stats[100].n_segments == len(rows)
    want_q6 = sum(
        int(np.floor(np.hypot(r.x2 - r.x1, r.y2 - r.y1) * 1e6 + 0.5))
        for r in rows
    )
    assert stats[100].len_q6 == want_q6


def test_warp_affine_cubicspline_and_lanczos(spark):
    """End-to-end warp with the smoothing/sinc kernels: constant
    raster reproduces the constant; interior pixel counts match."""
    import pandas as pd
    from gdal_spark.operators.tiling import TILE_SCHEMA, warp_affine

    ts = 64
    rows = [
        (0, tx, ty, ts, ts,
         np.full((ts, ts), 9, dtype=np.uint8).tobytes())
        for ty in range(2) for tx in range(2)
    ]
    tiles = spark.createDataFrame(
        pd.DataFrame(rows, columns=["z", "tx", "ty", "w", "h", "data"])
    )
    src_gt = (0.0, 1.0, 0.0, 128.0, 0.0, -1.0)
    dst_gt = (8.0, 1.25, 0.0, 120.0, 0.0, -1.25)
    for method, scale in [("cubicspline", 1 << 14), ("lanczos", 16384)]:
        out = warp_affine(
            tiles, src_gt, 128, 128, dst_gt, 40, 40,
            method=method, dst_block=20, src_tile_size=ts,
        ).collect()
        vals = {r.val for r in out}
        assert 9 * scale in vals
        good = [r for r in out if r.val != -(10 ** 9)]
        for r in good:
            assert abs(r.val - 9 * scale) <= 1


def test_warp_affine_masks_absent_src_tiles(spark):
    """Sparse raster: dst pixels whose source tile is missing must be
    nodata, not silently 0 (the mosaic-window fill value)."""
    import pandas as pd
    from gdal_spark.operators.tiling import TILE_SCHEMA, warp_affine

    ts = 64
    # only 3 of the 4 tiles present — (1, 1) missing
    rows = [
        (0, tx, ty, ts, ts,
         np.full((ts, ts), 50, dtype=np.uint8).tobytes())
        for tx, ty in [(0, 0), (1, 0), (0, 1)]
    ]
    tiles = spark.createDataFrame(
        pd.DataFrame(rows, columns=["z", "tx", "ty", "w", "h", "data"])
    )
    gt = (0.0, 1.0, 0.0, 128.0, 0.0, -1.0)
    out = {
        (r.di, r.dj): r.val
        for r in warp_affine(
            tiles, gt, 128, 128, gt, 128, 128,
            method="nearest", dst_block=64, src_tile_size=ts,
        ).collect()
    }
    assert out[(10, 10)] == 50          # present tile
    assert out[(100, 100)] == -1        # absent tile → nodata
    assert out.get((100, 10), 50) == 50  # tx=1,ty=0 present


def test_polygonize_8_connectivity_merges_tile_corner_diagonal(spark):
    """Two pixels touching only diagonally ACROSS a tile corner are one
    region under 8-connectivity, two under 4 (the GDAL -8 flag)."""
    import pandas as pd
    from gdal_spark.operators.tiling import polygonize

    ts = 8
    full = np.zeros((16, 16), dtype=np.uint8)
    full[7, 7] = 9    # bottom-right corner pixel of tile (0, 0)
    full[8, 8] = 9    # top-left corner pixel of tile (1, 1)
    rows = [
        (0, tx, ty, ts, ts,
         full[ty * ts:(ty + 1) * ts, tx * ts:(tx + 1) * ts].tobytes())
        for ty in range(2) for tx in range(2)
    ]
    tiles = spark.createDataFrame(
        pd.DataFrame(rows, columns=["z", "tx", "ty", "w", "h", "data"])
    )
    r4 = [r for r in polygonize(tiles).collect() if r.value == 9]
    r8 = [
        r for r in polygonize(tiles, connectivity=8).collect()
        if r.value == 9
    ]
    assert len(r4) == 2 and all(r.n_pixels == 1 for r in r4)
    assert len(r8) == 1 and r8[0].n_pixels == 2


class TestPolygonizeRings:
    def _tiles(self, spark, full, ts):
        import pandas as pd
        h, w = full.shape
        rows = [
            (0, tx, ty, ts, ts,
             full[ty * ts:(ty + 1) * ts, tx * ts:(tx + 1) * ts]
             .astype(np.uint8).tobytes())
            for ty in range(h // ts) for tx in range(w // ts)
        ]
        return spark.createDataFrame(
            pd.DataFrame(rows, columns=["z", "tx", "ty", "w", "h", "data"])
        )

    def test_square_with_hole(self, spark):
        from gdal_spark import geometry, wkb
        from gdal_spark.operators.tiling import polygonize_rings

        full = np.zeros((16, 16), dtype=np.uint8)
        full[2:10, 2:10] = 7
        full[4:7, 4:7] = 0  # hole of background value inside the 7s
        out = polygonize_rings(self._tiles(spark, full, 8)).collect()
        regions = {(r.value, r.n_pixels): r for r in out}
        seven = regions[(7, 64 - 9)]
        assert seven.n_holes == 1
        rings = wkb.polygon_rings(bytes(seven.geom_wkb))[0]
        assert len(rings) == 2
        assert abs(geometry.ring_area(rings[0])) == 64.0
        assert abs(geometry.ring_area(rings[1])) == 9.0
        # background: one region (8 pixels inside the hole connect out?
        # no: hole zeros are ENCLOSED -> separate region)
        zero_regions = [r for r in out if r.value == 0]
        assert sorted(r.n_pixels for r in zero_regions) == [
            9, 256 - 64,
        ]

    def test_cross_tile_region_single_ring(self, spark):
        from gdal_spark import geometry, wkb
        from gdal_spark.operators.tiling import polygonize_rings

        full = np.zeros((16, 16), dtype=np.uint8)
        full[5:12, 5:12] = 3  # spans all four tiles at ts=8
        out = [
            r for r in polygonize_rings(
                self._tiles(spark, full, 8)
            ).collect() if r.value == 3
        ]
        assert len(out) == 1
        r = out[0]
        assert r.n_pixels == 49 and r.n_holes == 0
        ring = wkb.polygon_rings(bytes(r.geom_wkb))[0][0]
        assert abs(geometry.ring_area(ring)) == 49.0
        # rectangle boundary compresses to 4 corners (+ closure)
        assert len(ring) == 5

    def test_diagonal_hole_contact_splits_holes(self, spark):
        from gdal_spark.operators.tiling import polygonize_rings

        full = np.full((8, 8), 5, dtype=np.uint8)
        full[2, 2] = 0
        full[3, 3] = 0  # diagonal holes sharing one vertex
        out = [
            r for r in polygonize_rings(
                self._tiles(spark, full, 8)
            ).collect() if r.value == 5
        ]
        assert len(out) == 1
        assert out[0].n_holes == 2
        assert out[0].n_pixels == 62


def test_distributed_root_map_long_snake_component(spark):
    """The cross-tile merge is fully distributed (hash-min + pointer
    jumping, no driver edge collect): a boustrophedon snake threading
    every tile of a 16x16 tile grid forms ONE component whose
    tile-graph diameter (~32 hops) exercises multi-round convergence;
    the background forms a second serpentine component."""
    n, ts = 128, 8
    full = np.zeros((n, n), dtype=np.uint8)
    for i, y in enumerate(range(0, n, 16)):
        full[y, :] = 1
        if y + 16 < n:
            xcol = n - 1 if i % 2 == 0 else 0
            full[y:y + 16, xcol] = 1
    rows = []
    for ty in range(n // ts):
        for tx in range(n // ts):
            rows.append(
                (0, tx, ty, ts, ts,
                 full[ty * ts:(ty + 1) * ts, tx * ts:(tx + 1) * ts]
                 .tobytes())
            )
    tiles = spark.createDataFrame(
        pd.DataFrame(rows, columns=["z", "tx", "ty", "w", "h", "data"])
    )
    got = sorted(
        (int(r["value"]), int(r["n_pixels"]))
        for r in tiling.polygonize(tiles).collect()
    )
    expect = sorted(
        (v, c) for v, c, *_ in _flood_fill_regions(full)
    )
    assert got == expect
    assert len([g for g in got if g[0] == 1]) == 1  # one snake component


class TestContourPolygons:
    """Contour polygon mode (gdal_contour -p analog): per-cell
    marching-squares band polygons → exact quantized areas."""

    def _tiles(self, spark, full, ts):
        n = full.shape[0]
        rows = []
        for ty in range(n // ts):
            for tx in range(n // ts):
                rows.append(
                    (0, tx, ty, ts, ts,
                     full[ty * ts:(ty + 1) * ts,
                          tx * ts:(tx + 1) * ts].tobytes())
                )
        return spark.createDataFrame(
            pd.DataFrame(rows, columns=["z", "tx", "ty", "w", "h", "data"])
        )

    def _cone(self, n):
        yy, xx = np.meshgrid(np.arange(n), np.arange(n), indexing="ij")
        r = np.sqrt((xx - n / 2) ** 2 + (yy - n / 2) ** 2)
        return np.clip(200 - 14 * r, 0, 255).astype(np.uint8)

    def test_area_monotone_and_exact_flat(self, spark):
        from gdal_spark.operators.tiling import contour_polygon_areas

        n, ts = 32, 16
        full = self._cone(n)
        tiles = self._tiles(spark, full, ts)
        got = {
            int(r.level): int(r.area_q8)
            for r in contour_polygon_areas(
                tiles, n, n, [50, 120, 190]
            ).collect()
        }
        # areas strictly decrease with level for a cone
        assert got[50] > got[120] > got[190] > 0
        # fully-above level on a constant raster = whole cell grid
        const = np.full((n, n), 80, dtype=np.uint8)
        g2 = {
            int(r.level): int(r.area_q8)
            for r in contour_polygon_areas(
                self._tiles(spark, const, ts), n, n, [10]
            ).collect()
        }
        assert g2[10] == (n - 1) * (n - 1) * 10**8

class TestRasterizeVariants:
    """Polygon ALL_TOUCHED and MERGE_ALG=ADD (alg/gdalrasterize.cpp
    :779-817 / additive burn)."""

    def _pdf(self):
        ring = np.array(
            [[3.0, 2.0], [17.5, 2.0], [17.5, 11.5], [3.0, 11.5],
             [3.0, 2.0]]
        )
        ring2 = ring + np.array([6.0, 4.0])
        rows = []
        for pid, r in enumerate((ring, ring2)):
            rows.append({
                "poly_id": pid,
                "geom_wkb": __import__(
                    "gdal_spark.wkb", fromlist=["wkb"]
                ).polygon([r]),
                "bbox_minx": float(r[:, 0].min()),
                "bbox_miny": float(r[:, 1].min()),
                "bbox_maxx": float(r[:, 0].max()),
                "bbox_maxy": float(r[:, 1].max()),
            })
        return pd.DataFrame(rows)

    def test_all_touched_superset_and_exact(self, spark):
        from gdal_spark.operators.tiling import rasterize_polygons_count

        pdf = self._pdf()
        # identity geotransform: geo == pixel coords, grid 32x32
        args = (32, 32, 0.0, 32.0, 1.0, -1.0)
        center = {
            r.poly_id: r.n_filled
            for r in rasterize_polygons_count(
                spark, pdf, *args, tile_size=8
            ).collect()
        }
        touched = {
            r.poly_id: r.n_filled
            for r in rasterize_polygons_count(
                spark, pdf, *args, tile_size=8, all_touched=True
            ).collect()
        }
        # poly 0: x in [3, 17.5], y in [2, 11.5] (pixel y = 32 - geo y
        # -> py in [20.5, 30]). centers: 14 cols x 9 rows; touched:
        # cols 3..17 (15), rows 20..30 (11 — the bottom edge lies
        # exactly ON py=30, and the sweep burns a row its span
        # touches, GDALdllImageLineAllTouched convention)
        assert center[0] == 14 * 9
        assert touched[0] == 15 * 11
        assert all(touched[p] > center[p] for p in center)

    def test_add_mode_histogram(self, spark):
        from gdal_spark.operators.tiling import rasterize_polygons_add

        pdf = self._pdf()
        hist = {
            r.val: r.n_pixels
            for r in rasterize_polygons_add(
                spark, pdf, 32, 32, 0.0, 32.0, 1.0, -1.0, tile_size=8
            ).collect()
        }
        # overlap of the two rects: x [9, 17.5], y [6, 11.5] -> 8x5
        # centers = 40 depth-2 pixels; singles = 2*126 - 2*40
        assert hist[2] == 8 * 5
        assert hist[1] == 2 * (14 * 9) - 2 * (8 * 5)
        assert hist[1] + 2 * hist[2] == 2 * 14 * 9


def test_overview_cubic_matches_whole_array(spark):
    """CUBIC overview (8-tap Catmull-Rom decimation) through the halo
    exchange equals the whole-array kernel; tile borders invisible."""
    from pyspark.sql import functions as F

    from gdal_spark.operators.tiling import formula_tiles, overview_level

    n, ts = 2, 64
    tiles = formula_tiles(spark, n, n, ts).withColumn("z", F.lit(5))
    out = {
        (int(r["tx"]), int(r["ty"])): np.frombuffer(
            r["data"], dtype=np.uint8
        ).reshape(ts, ts)
        for _, r in overview_level(tiles, "cubic").toPandas().iterrows()
    }
    assert set(out) == {(0, 0)}
    full = raster.formula_block(0, 0, n * ts, n * ts)
    padded = np.pad(full, 3, mode="constant")
    want = raster.cubic_decimate_2x(padded, pad=3)
    np.testing.assert_array_equal(out[(0, 0)], want)


def test_pyramid_dispatches_halo_resamplers(spark):
    """pyramid(method=gauss|cubic) must route through the halo-
    exchange reducers, matching one overview_level level-for-level."""
    import pandas as pd  # noqa: F401

    from gdal_spark.operators.tiling import (
        formula_tiles, overview_level, pyramid,
    )

    tiles = formula_tiles(spark, 2, 2, 32)
    for method in ("gauss", "cubic"):
        got = {
            (r.z, r.tx, r.ty): r.data
            for r in pyramid(tiles, base_zoom=1, min_zoom=0,
                             method=method).collect()
            if r.z == -1  # formula_tiles emits z=0 -> one level down
        }
        ref = {
            (r.z, r.tx, r.ty): r.data
            for r in overview_level(tiles, method).collect()
        }
        assert got == ref

"""From-spec GeoTIFF codec + Spark source tests: byte round trips
across dtypes/layouts/compression/predictor, BigTIFF, georeferencing
tags, and file-parallel vs COG-ranged scan equality."""

import os

import numpy as np
import pytest

from gdal_spark import gtiff


def _rand(shape, dtype, seed=0):
    rng = np.random.default_rng(seed)
    dt = np.dtype(dtype)
    if dt.kind == "f":
        return rng.standard_normal(shape).astype(dt)
    info = np.iinfo(dt)
    return rng.integers(
        info.min, int(info.max) + 1, size=shape, dtype=dt
    )


@pytest.mark.parametrize("dtype", [
    "u1", "u2", "i2", "u4", "i4", "f4", "f8",
])
@pytest.mark.parametrize("layout", ["strips", "tiles"])
def test_round_trip_dtypes(dtype, layout):
    a = _rand((37, 53), dtype, seed=hash(dtype) % 1000)
    kw = {"tile": (16, 16)} if layout == "tiles" else {
        "rows_per_strip": 7
    }
    pred = np.dtype(dtype).kind != "f"
    buf = gtiff.tiff_encode(a, compression="deflate", predictor=pred,
                            **kw)
    back = gtiff.tiff_decode(buf)
    np.testing.assert_array_equal(back, a)
    m = gtiff.tiff_meta(buf)
    assert (m["width"], m["height"]) == (53, 37)
    assert m["dtype"] == dtype
    assert m["tiled"] == (layout == "tiles")


def test_round_trip_uncompressed_and_bigtiff():
    a = _rand((40, 40), "u2", seed=3)
    for big in (False, True):
        buf = gtiff.tiff_encode(
            a, tile=(32, 32), compression="none", bigtiff=big
        )
        assert gtiff.tiff_meta(buf)["bigtiff"] == big
        np.testing.assert_array_equal(gtiff.tiff_decode(buf), a)


def test_round_trip_multiband_rgb():
    a = _rand((25, 31, 3), "u1", seed=9)
    buf = gtiff.tiff_encode(a, rows_per_strip=9, predictor=True)
    np.testing.assert_array_equal(gtiff.tiff_decode(buf), a)


def test_geotags_round_trip():
    a = np.zeros((16, 16), dtype=np.uint8)
    gt = (500000.0, 30.0, 0.0, 4649776.0, 0.0, -30.0)
    buf = gtiff.tiff_encode(a, geotransform=gt, epsg=32633)
    m = gtiff.tiff_meta(buf)
    assert m["gt"] == pytest.approx(gt)
    assert m["epsg"] == 32633
    # geographic CRS goes through the 2048 key
    buf2 = gtiff.tiff_encode(a, geotransform=gt, epsg=4326)
    assert gtiff.tiff_meta(buf2)["epsg"] == 4326
    # rotated geotransform via ModelTransformation
    rgt = (10.0, 2.0, 0.5, 20.0, -0.5, -2.0)
    m3 = gtiff.tiff_meta(gtiff.tiff_encode(a, geotransform=rgt))
    assert m3["gt"] == pytest.approx(rgt)


def test_predictor_actually_helps_and_wraps():
    # a smooth ramp compresses far better with differencing, and
    # wraparound survives (values near the dtype max)
    x = np.arange(64, dtype=np.uint16)
    a = (x[None, :] * 1000 + x[:, None] * 997) % 65536
    a = a.astype(np.uint16)
    plain = gtiff.tiff_encode(a, compression="deflate", predictor=False)
    pred = gtiff.tiff_encode(a, compression="deflate", predictor=True)
    np.testing.assert_array_equal(gtiff.tiff_decode(pred), a)
    assert len(pred) < len(plain)


def _write_fixture_files(tmp_path, n_files=3):
    paths, arrays = [], []
    for i in range(n_files):
        a = _rand((70 + 7 * i, 90 + 5 * i), "u2", seed=i)
        p = str(tmp_path / f"f{i}.tif")
        with open(p, "wb") as f:
            f.write(
                gtiff.tiff_encode(
                    a, tile=(32, 32), compression="deflate",
                    predictor=True,
                    geotransform=(i * 100.0, 1.0, 0.0, 0.0, 0.0, -1.0),
                    epsg=32601 + i,
                )
            )
        paths.append(p)
        arrays.append(a)
    return paths, arrays


def _reassemble(rows, shape):
    out = np.zeros(shape, dtype=np.uint16)
    for r in rows:
        blk = np.frombuffer(r["data"], dtype="<u2").reshape(
            r["h"], r["w"]
        )
        out[r["y0"]:r["y0"] + r["h"], r["x0"]:r["x0"] + r["w"]] = blk
    return out


def test_read_gtiff_file_parallel(spark, tmp_path):
    paths, arrays = _write_fixture_files(tmp_path)
    df = gtiff.read_gtiff(spark, str(tmp_path / "*.tif"))
    rows = [r.asDict() for r in df.collect()]
    for p, a in zip(paths, arrays):
        mine = [r for r in rows if r["path"].endswith(os.path.basename(p))]
        assert all(r["dtype"] == "u2" and r["band"] == 0 for r in mine)
        np.testing.assert_array_equal(_reassemble(mine, a.shape), a)


def test_meta_df(spark, tmp_path):
    paths, arrays = _write_fixture_files(tmp_path)
    meta = {
        os.path.basename(r["path"]): r.asDict()
        for r in gtiff.gtiff_meta_df(
            spark, str(tmp_path / "*.tif")
        ).collect()
    }
    for i, (p, a) in enumerate(zip(paths, arrays)):
        m = meta[os.path.basename(p)]
        assert (m["height"], m["width"]) == a.shape
        assert m["epsg"] == 32601 + i
        assert m["gt"] == pytest.approx(
            [i * 100.0, 1.0, 0.0, 0.0, 0.0, -1.0]
        )
        assert m["tiled"] and m["compression"] == 8


def test_ranged_scan_equals_file_parallel(spark, tmp_path):
    """The COG path (header-only index → per-block seek reads) emits
    exactly the same tile rows as the whole-file scan."""
    _write_fixture_files(tmp_path)
    key = lambda r: (os.path.basename(r["path"]), r["band"], r["tx"],
                     r["ty"])
    a = {
        key(r.asDict()): bytes(r["data"])
        for r in gtiff.read_gtiff(
            spark, str(tmp_path / "*.tif")
        ).collect()
    }
    b = {
        key(r.asDict()): bytes(r["data"])
        for r in gtiff.read_gtiff_ranged(
            spark, str(tmp_path / "*.tif"), partitions=8
        ).collect()
    }
    assert a == b and len(a) > 0


# ---------------------------------------------------------------------------
# distributed sink: write_gtiff_dir
# ---------------------------------------------------------------------------


def test_write_gtiff_dir_round_trip(spark, tmp_path):
    from gdal_spark.operators.tiling import formula_tiles
    from gdal_spark.raster import formula_block

    gt = (1000.0, 10.0, 0.0, 2000.0, 0.0, -10.0)
    tiles = formula_tiles(spark, 4, 4, 64)
    man = gtiff.write_gtiff_dir(
        tiles, str(tmp_path), geotransform=gt, epsg=32632
    ).collect()
    assert len(man) == 1 and man[0]["n_blocks"] == 16
    assert man[0]["w"] == 256 and man[0]["h"] == 256
    # read back through the file-parallel source
    back = gtiff.read_gtiff(spark, man[0]["path"]).collect()
    got = np.zeros((256, 256), dtype=np.uint8)
    for r in back:
        a = np.frombuffer(r["data"], np.uint8).reshape(r["h"], r["w"])
        got[r["y0"]:r["y0"] + r["h"], r["x0"]:r["x0"] + r["w"]] = a
    assert np.array_equal(got, formula_block(0, 0, 256, 256))
    meta = gtiff.tiff_meta(open(man[0]["path"], "rb").read())
    assert tuple(meta["gt"]) == gt
    assert meta["epsg"] == 32632


def test_write_gtiff_dir_grouped_and_deterministic(spark, tmp_path):
    from gdal_spark.operators.tiling import formula_tiles
    from pyspark.sql import functions as F

    tiles = formula_tiles(spark, 4, 2, 32).withColumn(
        "grp", F.col("ty")
    )
    m1 = {r["key"]: r for r in gtiff.write_gtiff_dir(
        tiles, str(tmp_path / "a"), group_col="grp",
        geotransform=(0.0, 1.0, 0.0, 0.0, 0.0, -1.0),
    ).collect()}
    assert sorted(m1) == [0, 1]
    # row-1 granule origin is translated to its tile origin
    meta1 = gtiff.tiff_meta(open(m1[1]["path"], "rb").read())
    assert meta1["gt"][3] == -32.0
    # rerun converges to identical bytes (deterministic sink)
    m2 = {r["key"]: r for r in gtiff.write_gtiff_dir(
        tiles, str(tmp_path / "b"), group_col="grp",
        geotransform=(0.0, 1.0, 0.0, 0.0, 0.0, -1.0),
    ).collect()}
    for k in (0, 1):
        assert m1[k]["md5"] == m2[k]["md5"]


def test_write_gtiff_dir_non_multiple16_uses_strips(spark, tmp_path):
    import pandas as pd

    a = _rand((40, 40), "u1", seed=3)
    pdf = pd.DataFrame(
        [(0, 0, 0, 40, 40, a.tobytes())],
        columns=["z", "tx", "ty", "w", "h", "data"],
    )
    tiles = spark.createDataFrame(pdf)
    man = gtiff.write_gtiff_dir(tiles, str(tmp_path)).collect()
    arr = gtiff.tiff_decode(open(man[0]["path"], "rb").read())
    assert np.array_equal(arr.reshape(40, 40), a)


def test_ranged_scan_bbox_prunes_blocks(spark, tmp_path):
    """-projwin analog: only blocks intersecting the georef window are
    decoded; the pruned scan's pixels equal the full scan's for those
    blocks, and pruning happens on the index (no pixel read)."""
    a = _rand((96, 128), "u2", seed=42)
    p = str(tmp_path / "big.tif")
    gt = (1000.0, 2.0, 0.0, 500.0, 0.0, -2.0)
    with open(p, "wb") as f:
        f.write(
            gtiff.tiff_encode(
                a, tile=(32, 32), compression="deflate",
                geotransform=gt, epsg=32601,
            )
        )
    # window covering only the top-left 32x32 block (+ a sliver of
    # nothing else): georef x in [1000, 1063], y in [437, 500)
    bbox = (1000.0, 500.0 - 63.0, 1000.0 + 63.0, 500.0)
    full = gtiff.read_gtiff_ranged(spark, [p]).collect()
    pruned = gtiff.read_gtiff_ranged(spark, [p], bbox=bbox).collect()
    assert len(full) == (96 // 32) * (128 // 32)
    assert len(pruned) == 1
    r = pruned[0]
    assert (r.tx, r.ty) == (0, 0)
    want = next(q for q in full if (q.tx, q.ty) == (0, 0))
    assert bytes(r.data) == bytes(want.data)
    # a disjoint window selects nothing
    assert (
        gtiff.read_gtiff_ranged(
            spark, [p], bbox=(0.0, 0.0, 10.0, 10.0)
        ).count()
        == 0
    )

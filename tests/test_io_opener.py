"""The object-store seam (gdal_spark.io): every ranged reader routes
ALL byte access — driver and executors — through its ``opener``.
Proof by remap: the PrefixOpener serves path → path+".shadow"; the
original path does not exist, so any bare open() fails loudly."""

import os
import shutil

import numpy as np
import pandas as pd
import pytest

from gdal_spark import fgb, pmtiles, wkb
from gdal_spark.io import PrefixOpener, local_opener


def _shadow(tmp_path, name: str, blob: bytes) -> str:
    """Write blob ONLY at <name>.shadow; return the virtual path."""
    p = str(tmp_path / name)
    with open(p + ".shadow", "wb") as f:
        f.write(blob)
    assert not os.path.exists(p)
    return p


def test_read_fgb_all_bytes_via_opener(spark, tmp_path):
    rng = np.random.default_rng(3)
    n = 500
    pdf = pd.DataFrame({
        "gid": np.arange(n),
        "geometry": [
            wkb.point(float(x), float(y))
            for x, y in rng.uniform(0, 100, (n, 2))
        ],
    })
    p = _shadow(tmp_path, "pts.fgb", fgb.fgb_encode(pdf))
    out = fgb.read_fgb(
        spark, p, records_per_task=100, opener=PrefixOpener()
    ).toPandas()
    assert sorted(out["gid"]) == list(range(n))
    # bbox path exercises the index read through the opener too
    hit = fgb.read_fgb(
        spark, p, bbox=(0, 0, 50, 50), opener=PrefixOpener()
    ).toPandas()
    assert len(hit) > 0
    # and the virtual path genuinely has no bare-open fallback
    with pytest.raises(FileNotFoundError):
        fgb.read_fgb(spark, p).toPandas()


def test_read_pmtiles_all_bytes_via_opener(spark, tmp_path):
    tiles = [
        (3, x, y, bytes(f"t{x}.{y}", "ascii"))
        for x in range(8) for y in range(8)
    ]
    p = _shadow(
        tmp_path, "a.pmtiles", pmtiles.pmtiles_encode(tiles, fmt="png")
    )
    out = pmtiles.read_pmtiles(
        spark, p, tiles_per_task=16, opener=PrefixOpener()
    ).toPandas()
    assert len(out) == 64
    with pytest.raises(FileNotFoundError):
        pmtiles.read_pmtiles(spark, p).toPandas()


def test_read_gtiff_ranged_all_bytes_via_opener(spark, tmp_path):
    from gdal_spark.gtiff import read_gtiff_ranged, tiff_encode

    a = (np.arange(64 * 48, dtype=np.uint16) % 251).reshape(48, 64)
    blob = tiff_encode(a, tile=(32, 32))
    p = _shadow(tmp_path, "r.tif", blob)
    df = read_gtiff_ranged(spark, [p], opener=PrefixOpener())
    got = df.toPandas()
    assert got["w"].count() > 0
    total = sum(
        np.frombuffer(r["data"], dtype=np.uint16).sum()
        for _, r in got.iterrows()
    )
    assert total == int(a.astype(np.int64).sum())


def test_read_shapefile_ranged_all_bytes_via_opener(spark, tmp_path):
    from gdal_spark.shapefile import (
        read_shapefile, read_shapefile_ranged, write_shp,
    )

    geoms = [wkb.point(float(i), float(2 * i)) for i in range(50)]
    shp, shx = write_shp(geoms)
    base = str(tmp_path / "pts")
    with open(base + ".shp.shadow", "wb") as f:
        f.write(shp)
    with open(base + ".shx.shadow", "wb") as f:
        f.write(shx)
    out = read_shapefile_ranged(
        spark, base + ".shp", records_per_task=20,
        schema="fid long, geometry binary",
        opener=PrefixOpener(),
    ).toPandas()
    assert len(out) == 50
    assert bytes(out.sort_values("fid")["geometry"].iloc[7]) == geoms[7]


def test_read_shapefile_all_bytes_via_opener(spark, tmp_path):
    """The whole-file scan reads the .shp and the .dbf through the
    opener, for the schema probe on the driver and in the tasks; the
    ranged scan finds the .dbf through it too."""
    from gdal_spark.shapefile import (
        read_shapefile, read_shapefile_ranged, write_dbf, write_shp,
    )

    geoms = [wkb.point(float(i), float(2 * i)) for i in range(30)]
    shp, shx = write_shp(geoms)
    dbf = write_dbf(pd.DataFrame({"name": [f"n{i}" for i in range(30)]}))
    base = str(tmp_path / "pts")
    for ext, blob in ((".shp", shp), (".shx", shx), (".dbf", dbf)):
        _shadow(tmp_path, "pts" + ext, blob)
    for out in (
        read_shapefile(spark, [base + ".shp"], opener=PrefixOpener()),
        read_shapefile_ranged(
            spark, base + ".shp", records_per_task=7, opener=PrefixOpener()
        ),
    ):
        got = out.orderBy("fid").toPandas()
        assert list(got["name"]) == [f"n{i}" for i in range(30)]
        assert [bytes(g) for g in got["geometry"]] == geoms
    with pytest.raises(FileNotFoundError):
        read_shapefile(spark, [base + ".shp"]).toPandas()


def test_tile_index_reads_headers_via_opener(spark, tmp_path):
    from gdal_spark.gtiff import tile_index, tiff_encode

    a = np.zeros((20, 30), dtype=np.uint8)
    blob = tiff_encode(
        a, geotransform=(5.0, 1.0, 0.0, 40.0, 0.0, -1.0), epsg=4326
    )
    p = _shadow(tmp_path, "r.tif", blob)
    rows = tile_index(spark, [p], opener=PrefixOpener()).collect()
    assert [(r.location, r.width, r.height, r.epsg) for r in rows] == [
        (p, 30, 20, 4326)
    ]
    assert (rows[0].minx, rows[0].maxy) == (5.0, 40.0)
    with pytest.raises(Exception, match="FileNotFoundError"):
        tile_index(spark, [p]).collect()


def test_local_opener_is_plain_open(tmp_path):
    p = str(tmp_path / "f.bin")
    with open(p, "wb") as f:
        f.write(b"abc")
    with local_opener(p) as f:
        f.seek(1)
        assert f.read() == b"bc"

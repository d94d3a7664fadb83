"""GeoParquet sink/source tests: spec-shaped footer metadata, bbox
correctness, round-trip through plain Spark parquet, and bbox from
every WKB type."""

import json

import numpy as np
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from gdal_spark import geoparquet as gpq
from gdal_spark import wkb


def _geoms_df(spark):
    rows = [
        (1, wkb.point(2.0, 3.0), "a"),
        (2, wkb.linestring([(0.0, 0.0), (4.0, 1.0)]), "b"),
        (3, wkb.polygon([[(0, 0), (2, 0), (2, 2), (0, 2), (0, 0)]]), "c"),
        (4, wkb.multipolygon(
            [[[(5, 5), (6, 5), (6, 6), (5, 6), (5, 5)]],
             [[(7, 7), (9, 7), (9, 9), (7, 9), (7, 7)]]]
        ), "d"),
    ]
    return spark.createDataFrame(
        rows, "fid long, geometry binary, name string"
    )


def test_wkb_bbox_all_types():
    assert wkb.bbox(wkb.point(2.0, 3.0)) == (2.0, 3.0, 2.0, 3.0)
    assert wkb.bbox(
        wkb.linestring([(0.0, 1.0), (4.0, -2.0)])
    ) == (0.0, -2.0, 4.0, 1.0)
    assert wkb.bbox(
        wkb.polygon([[(0, 0), (2, 0), (2, 2), (0, 2), (0, 0)]])
    ) == (0.0, 0.0, 2.0, 2.0)
    assert wkb.bbox(
        wkb.multipolygon(
            [[[(5, 5), (6, 5), (6, 6), (5, 6), (5, 5)]],
             [[(7, 7), (9, 7), (9, 9), (7, 9), (7, 7)]]]
        )
    ) == (5.0, 5.0, 9.0, 9.0)


def test_write_and_read_geoparquet(spark, tmp_path):
    out = str(tmp_path / "gp")
    df = _geoms_df(spark).repartition(2)
    manifest = gpq.write_geoparquet(df, out).toPandas()
    assert manifest["n_rows"].sum() == 4
    assert len(manifest) <= 2

    # footer carries spec-shaped geo metadata
    meta = pq.ParquetFile(manifest["path"].iloc[0]).schema_arrow.metadata
    geo = json.loads(meta[b"geo"])
    assert geo["version"] == "1.1.0"
    assert geo["primary_column"] == "geometry"
    col = geo["columns"]["geometry"]
    assert col["encoding"] == "WKB"
    assert "bbox" in col and len(col["bbox"]) == 4

    # reads back through plain spark.read.parquet with data intact
    back, merged = gpq.read_geoparquet(spark, out)
    assert back.count() == 4
    assert sorted(back.columns) == ["fid", "geometry", "name"]
    got = {r["fid"]: bytes(r["geometry"]) for r in back.collect()}
    want = {r["fid"]: bytes(r["geometry"]) for r in _geoms_df(spark).collect()}
    assert got == want

    # merged metadata covers the union bbox and all types
    mcol = merged["columns"]["geometry"]
    assert mcol["bbox"] == [0.0, 0.0, 9.0, 9.0]
    assert set(mcol["geometry_types"]) == {
        "Point", "LineString", "Polygon", "MultiPolygon"
    }


def test_per_file_bbox_is_local(spark, tmp_path):
    """Each part file's bbox covers only ITS rows (per-file metadata
    law), while the merged read-side bbox covers everything."""
    out = str(tmp_path / "gp2")
    df = _geoms_df(spark).repartition(4, "fid")
    manifest = gpq.write_geoparquet(df, out).toPandas()
    # every file's bbox is contained in the union
    ux0, uy0 = manifest[["xmin", "ymin"]].min()
    ux1, uy1 = manifest[["xmax", "ymax"]].max()
    assert (ux0, uy0, ux1, uy1) == (0.0, 0.0, 9.0, 9.0)
    for _, m in manifest.iterrows():
        assert m["xmin"] >= ux0 and m["xmax"] <= ux1


def test_missing_geometry_column_raises(spark):
    with pytest.raises(ValueError):
        gpq.write_geoparquet(
            _geoms_df(spark).drop("geometry"), "/tmp/nope"
        )


def test_null_geometries_survive_write_and_read(spark, tmp_path):
    """NULL geometry is legal GeoParquet (the reference Parquet driver
    writes it): nulls are skipped for geometry_types/bbox, an all-null
    partition omits bbox from its footer, and rows round-trip."""
    out = str(tmp_path / "gp_null")
    rows = [
        (1, wkb.point(1.0, 2.0)),
        (2, None),
        (3, wkb.point(3.0, 4.0)),
    ]
    df = spark.createDataFrame(rows, "fid long, geometry binary")
    man = gpq.write_geoparquet(df.repartition(2), out).toPandas()
    assert man["n_rows"].sum() == 3
    back, meta = gpq.read_geoparquet(spark, out)
    got = back.orderBy("fid").collect()
    assert [r["fid"] for r in got] == [1, 2, 3]
    assert got[1]["geometry"] is None
    col = meta["columns"][meta["primary_column"]]
    assert col["geometry_types"] == ["Point"]
    assert col["bbox"] == [1.0, 2.0, 3.0, 4.0]

    # all-null frame: footer omits bbox entirely (spec: bbox optional)
    out2 = str(tmp_path / "gp_allnull")
    df2 = spark.createDataFrame([(1, None), (2, None)],
                                "fid long, geometry binary")
    man2 = gpq.write_geoparquet(df2.coalesce(1), out2).toPandas()
    assert man2["n_rows"].sum() == 2
    import os as _os
    p = [f for f in _os.listdir(out2) if f.endswith(".parquet")][0]
    md = pq.ParquetFile(_os.path.join(out2, p)).schema_arrow.metadata
    footer = json.loads(md[b"geo"])
    fcol = footer["columns"][footer["primary_column"]]
    assert "bbox" not in fcol
    assert fcol["geometry_types"] == []

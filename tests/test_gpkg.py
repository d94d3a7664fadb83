"""GeoPackage source/sink tests (ogr/ogrsf_frmts/gpkg analog): GPB
blob codec against the spec layout, sink->source round trips, the
rowid-ranged big-file scan, and metadata-table shape."""

import sqlite3
import struct

import numpy as np
import pytest

from gdal_spark import gpkg, wkb


def test_gpb_codec_point_no_envelope():
    w = wkb.point(3.0, 4.0)
    blob = gpkg.wkb_to_gpb(w, srs_id=4326)
    assert blob[:2] == b"GP"
    assert blob[2] == 0  # version
    assert blob[3] == 0x01  # little-endian, no envelope
    assert struct.unpack("<i", blob[4:8])[0] == 4326
    assert gpkg.gpb_to_wkb(blob) == w


def test_gpb_codec_polygon_envelope():
    w = wkb.polygon([[(0, 0), (4, 0), (4, 3), (0, 3), (0, 0)]])
    blob = gpkg.wkb_to_gpb(w, srs_id=0)
    assert blob[3] == 0x03  # LE + XY envelope (code 1)
    x0, x1, y0, y1 = struct.unpack("<4d", blob[8:40])
    assert (x0, x1, y0, y1) == (0.0, 4.0, 0.0, 3.0)  # minx,maxx,miny,maxy
    assert gpkg.gpb_to_wkb(blob) == w


def test_gpb_rejects_garbage():
    with pytest.raises(ValueError):
        gpkg.gpb_to_wkb(b"\x00\x01\x02\x03\x04\x05\x06\x07\x08")


def _feature_df(spark, n=40):
    rows = []
    for i in range(n):
        geom = (
            wkb.point(float(i), float(2 * i))
            if i % 2
            else wkb.polygon(
                [[(i, i), (i + 1, i), (i + 1, i + 1), (i, i + 1), (i, i)]]
            )
        )
        rows.append((i, f"name-{i}", float(i) * 1.5, geom))
    return spark.createDataFrame(
        rows, "fid_src long, name string, score double, geometry binary"
    )


def test_write_read_round_trip(spark, tmp_path):
    out = str(tmp_path / "gp")
    df = _feature_df(spark).repartition(3)
    manifest = gpkg.write_gpkg_dir(df, out, table="feat").toPandas()
    assert manifest["n_rows"].sum() == 40

    # spec metadata present in each file
    con = sqlite3.connect(manifest["path"].iloc[0])
    assert con.execute(
        "SELECT data_type FROM gpkg_contents"
    ).fetchone()[0] == "features"
    assert con.execute(
        "SELECT column_name FROM gpkg_geometry_columns"
    ).fetchone()[0] == "geometry"
    app_id = con.execute("PRAGMA application_id").fetchone()[0]
    assert app_id == 0x47504B47
    con.close()

    assert gpkg.gpkg_tables(manifest["path"].iloc[0]) == ["feat"]

    back = gpkg.read_gpkg(
        spark, sorted(manifest["path"]), "feat"
    ).toPandas()
    assert len(back) == 40
    got = {
        int(r["fid_src"]): (r["name"], r["score"], bytes(r["geometry"]))
        for _, r in back.iterrows()
    }
    want = {
        int(r["fid_src"]): (r["name"], r["score"], bytes(r["geometry"]))
        for r in _feature_df(spark).collect()
    }
    assert got == want


def test_write_gpkg_dir_one_file_per_partition(
    spark, tmp_path, check_granule_sink
):
    src = _feature_df(spark, 60).repartition(4, "fid_src")
    rows = check_granule_sink(
        src,
        lambda s: gpkg.write_gpkg_dir(s, str(tmp_path / "gp"), table="feat"),
        "gpkg",
    )
    back = gpkg.read_gpkg(spark, [r.path for r in rows], "feat").toPandas()
    assert sorted(back["fid_src"]) == list(range(60))


def test_ranged_scan_equals_file_scan(spark, tmp_path):
    out = str(tmp_path / "gp1")
    df = _feature_df(spark, 57).coalesce(1)
    manifest = gpkg.write_gpkg_dir(df, out, table="feat").toPandas()
    path = manifest["path"].iloc[0]
    a = (
        gpkg.read_gpkg(spark, [path], "feat")
        .orderBy("fid_src")
        .toPandas()
    )
    b = (
        gpkg.read_gpkg_ranged(spark, path, "feat", rows_per_task=10)
        .orderBy("fid_src")
        .toPandas()
    )
    assert len(b) == 57
    assert a["fid_src"].tolist() == b["fid_src"].tolist()
    assert [bytes(x) for x in a["geometry"]] == [
        bytes(x) for x in b["geometry"]
    ]


def test_downstream_composition(spark, tmp_path):
    """GPKG -> WKB column feeds the existing geometry machinery."""
    out = str(tmp_path / "gp2")
    manifest = gpkg.write_gpkg_dir(
        _feature_df(spark, 8).coalesce(1), out
    ).toPandas()
    back = gpkg.read_gpkg(spark, [manifest["path"].iloc[0]], "features")
    boxes = [
        wkb.bbox(bytes(r["geometry"]))
        for r in back.collect()
    ]
    assert len(boxes) == 8
    assert all(b[0] <= b[2] and b[1] <= b[3] for b in boxes)


def test_write_gpkg_dir_curve_geometry(spark, tmp_path):
    """The sink must carry curve WKB: GPB envelope and contents
    extent computed from the LINEARIZED geometry (control points
    do not bound arc bulges)."""
    import pandas as pd

    from gdal_spark import curves
    from gdal_spark.gpkg import gpb_to_wkb, read_gpkg, write_gpkg_dir

    cp = curves.curvepolygon([
        curves.circularstring([[3.0, 0.0], [-3.0, 0.0], [3.0, 0.0]])
    ])
    df = spark.createDataFrame(
        pd.DataFrame({"k": [1], "geometry": [cp]})
    )
    manifest = write_gpkg_dir(
        df, str(tmp_path / "curved_out"), table="t"
    ).toPandas()
    assert manifest["n_rows"].sum() == 1
    got = read_gpkg(spark, list(manifest["path"]), "t").toPandas()
    assert bytes(got["geometry"].iloc[0]) == cp
    # envelope written from the densified arc: spans ±3 in x AND y
    import sqlite3
    import struct as _struct

    con = sqlite3.connect(manifest["path"].iloc[0])
    blob = con.execute('SELECT "geometry" FROM t').fetchone()[0]
    con.close()
    env = _struct.unpack_from("<4d", blob, 8)
    assert env[0] == pytest.approx(-3.0, abs=1e-2)
    assert env[1] == pytest.approx(3.0, abs=1e-2)
    assert env[2] == pytest.approx(-3.0, abs=1e-2)
    assert env[3] == pytest.approx(3.0, abs=1e-2)

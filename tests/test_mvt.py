"""MVT (ogr/ogrsf_frmts/mvt; Mapbox Vector Tile spec 2.1) tests:
wire-format primitives against hand-assembled bytes, geometry command
round trips, tile encode/decode, and the distributed z/x/y.mvt sink."""

import os

import numpy as np
import pytest

from gdal_spark import mvt, wkb, mercator


# ------------------------------------------------------- wire format


def test_varint_known_bytes():
    assert mvt._varint(0) == b"\x00"
    assert mvt._varint(1) == b"\x01"
    assert mvt._varint(127) == b"\x7f"
    assert mvt._varint(128) == b"\x80\x01"
    assert mvt._varint(300) == b"\xac\x02"  # protobuf docs example


def test_zigzag_spec_examples():
    # spec: 0->0, -1->1, 1->2, -2->3
    assert [mvt._zigzag(v) for v in (0, -1, 1, -2, 2)] == [0, 1, 2, 3, 4]
    for v in (-500, -1, 0, 7, 12345):
        assert mvt._unzigzag(mvt._zigzag(v)) == v


def test_geometry_command_spec_example():
    """Spec §4.3.5.1 example: a point at (25, 17) encodes to
    [9, 50, 34] (MoveTo count 1, zigzag 25, zigzag 17)."""
    cmds = mvt.encode_geometry(
        [np.array([[25, 17]])], mvt.POINT
    )
    assert cmds == [9, 50, 34]
    back = mvt.decode_geometry(cmds, mvt.POINT)
    assert back[0].tolist() == [[25, 17]]


@pytest.mark.parametrize(
    "gtype,parts",
    [
        (mvt.POINT, [np.array([[5, 7], [3, 2]])]),
        (mvt.LINESTRING,
         [np.array([[2, 2], [2, 10], [10, 10]]),
          np.array([[1, 1], [3, 5]])]),
        (mvt.POLYGON,
         [np.array([[3, 6], [8, 12], [20, 34], [3, 6]])]),
    ],
)
def test_geometry_round_trip(gtype, parts):
    cmds = mvt.encode_geometry(parts, gtype)
    back = mvt.decode_geometry(cmds, gtype)
    assert len(back) == len(parts)
    for a, b in zip(parts, back):
        want = np.asarray(a)
        if gtype == mvt.POLYGON and not (want[0] == want[-1]).all():
            want = np.vstack([want, want[:1]])
        np.testing.assert_array_equal(np.asarray(b), want)


def test_tile_encode_decode_round_trip():
    feats = [
        {
            "id": 42,
            "type": mvt.POINT,
            "parts": [np.array([[100, 200]])],
            "props": {"name": "a", "rank": 3, "score": 1.5,
                      "flag": True},
        },
        {
            "id": None,
            "type": mvt.POLYGON,
            "parts": [np.array([[0, 0], [10, 0], [10, 10], [0, 10]])],
            "props": {"name": "b"},
        },
    ]
    buf = mvt.encode_tile("roads", feats, extent=4096)
    layers = mvt.decode_tile(buf)
    assert len(layers) == 1
    lyr = layers[0]
    assert lyr["name"] == "roads"
    assert lyr["extent"] == 4096
    assert len(lyr["features"]) == 2
    f0, f1 = lyr["features"]
    assert f0["id"] == 42 and f0["type"] == mvt.POINT
    assert f0["props"] == {"name": "a", "rank": 3, "score": 1.5,
                           "flag": True}
    assert f0["parts"][0].tolist() == [[100, 200]]
    assert f1["props"] == {"name": "b"}
    # value table dedup: shared key "name" appears once in the wire
    assert buf.count(b"name") == 1


# ------------------------------------------------------ distributed


def _features_df(spark):
    # lon/lat around the unit area of tile math; small polygon + points
    rows = [
        (1, "p1", wkb.point(10.0, 20.0)),
        (2, "p2", wkb.point(10.01, 20.01)),
        (3, "poly", wkb.polygon(
            [[(9.99, 19.99), (10.02, 19.99), (10.02, 20.02),
              (9.99, 20.02), (9.99, 19.99)]]
        )),
        (4, "line", wkb.linestring([(9.98, 19.98), (10.03, 20.03)])),
        (5, "far", wkb.point(-100.0, -40.0)),
    ]
    return spark.createDataFrame(
        rows, "fid long, name string, geometry binary"
    )


def test_distributed_mvt_sink(spark, tmp_path):
    out = str(tmp_path / "mvt")
    zoom = 6
    manifest = mvt.write_tiles_mvt(
        _features_df(spark).repartition(3), out, zoom,
        layer_name="test", id_col="fid", prop_cols=["name"],
    ).toPandas()
    assert len(manifest) >= 2  # cluster tile + far tile at least
    assert (manifest["n_features"] >= 1).all()

    # the cluster tile: locate via mercator math
    mx, my = mercator.lat_lon_to_meters(
        np.array([10.0]), np.array([20.0])
    )
    tx, ty_tms = mercator.meters_to_tile(mx, my, zoom)
    ty_xyz = (1 << zoom) - 1 - int(ty_tms[0])
    path = os.path.join(out, str(zoom), str(int(tx[0])),
                        f"{ty_xyz}.mvt")
    assert os.path.exists(path)
    layers = mvt.decode_tile(open(path, "rb").read())
    lyr = layers[0]
    assert lyr["name"] == "test"
    names = sorted(f["props"]["name"] for f in lyr["features"])
    assert "p1" in names and "poly" in names
    # point coordinates match the direct tile-local computation
    f_p1 = next(f for f in lyr["features"] if f["props"]["name"] == "p1")
    want = mvt._tile_local(
        np.array([[10.0, 20.0]]), int(tx[0]), int(ty_tms[0]),
        zoom, 4096,
    )
    np.testing.assert_array_equal(f_p1["parts"][0], want)
    assert f_p1["id"] == 1
    # polygon decoded as closed ring inside the buffered extent
    f_poly = next(
        f for f in lyr["features"] if f["props"]["name"] == "poly"
    )
    ring = f_poly["parts"][0]
    assert (ring[0] == ring[-1]).all()
    assert ring.min() >= -64 and ring.max() <= 4096 + 64



def test_multipoint_is_one_point_feature(spark, tmp_path):
    """A MultiPoint row becomes one MVT POINT feature carrying all of
    its members (it was skipped before: only POINT was encoded)."""
    out = str(tmp_path / "mvt_mp")
    zoom = 6
    members = [(10.0, 20.0), (10.01, 20.01), (10.02, 19.99)]
    df = spark.createDataFrame(
        [(7, wkb.multipoint(members))], "fid long, geometry binary"
    )
    manifest = mvt.write_tiles_mvt(df, out, zoom, id_col="fid").toPandas()
    assert (manifest["n_features"] == 1).all()
    mx, my = mercator.lat_lon_to_meters(
        np.array([10.0]), np.array([20.0])
    )
    tx, ty_tms = mercator.meters_to_tile(mx, my, zoom)
    ty_xyz = (1 << zoom) - 1 - int(ty_tms[0])
    path = os.path.join(out, str(zoom), str(int(tx[0])), f"{ty_xyz}.mvt")
    (feat,) = mvt.decode_tile(open(path, "rb").read())[0]["features"]
    assert feat["type"] == mvt.POINT and feat["id"] == 7
    want = mvt._tile_local(
        np.array(members), int(tx[0]), int(ty_tms[0]), zoom, 4096
    )
    np.testing.assert_array_equal(np.vstack(feat["parts"]), want)

def test_polygon_spanning_tiles_is_clipped_per_tile(spark, tmp_path):
    """A polygon wider than one tile lands (clipped) in several."""
    out = str(tmp_path / "mvt2")
    zoom = 8
    # ~3 tiles wide at z8 (tile ~1.4 deg at equator)
    big = wkb.polygon(
        [[(0.1, 0.1), (4.0, 0.1), (4.0, 1.0), (0.1, 1.0), (0.1, 0.1)]]
    )
    df = spark.createDataFrame(
        [(1, big)], "fid long, geometry binary"
    )
    manifest = mvt.write_tiles_mvt(
        df, out, zoom, id_col="fid"
    ).toPandas()
    assert len(manifest) >= 3
    for _, m in manifest.iterrows():
        layers = mvt.decode_tile(open(m["path"], "rb").read())
        for f in layers[0]["features"]:
            for ring in f["parts"]:
                assert ring.min() >= -64
                assert ring.max() <= 4096 + 64


def test_polygon_ring_winding_matches_spec(spark, tmp_path):
    """MVT 2.1 §4.3.4.4: exterior rings have POSITIVE shoelace area in
    y-down tile coords, interior rings NEGATIVE — GDAL's MVT reader
    (ogrmvtdataset.cpp:3827) classifies rings solely by this sign, so
    wrong winding turns exteriors into holes for every conformant
    consumer."""
    from gdal_spark import geometry as geom

    out = str(tmp_path / "mvt_wind")
    zoom = 6
    # polygon with a hole, both in the engine's WKB convention
    shell = [(9.95, 19.95), (10.05, 19.95), (10.05, 20.05),
             (9.95, 20.05), (9.95, 19.95)]
    hole = [(9.99, 19.99), (9.99, 20.01), (10.01, 20.01),
            (10.01, 19.99), (9.99, 19.99)]
    df = spark.createDataFrame(
        [(1, wkb.polygon([shell, hole]))],
        "fid long, geometry binary",
    )
    manifest = mvt.write_tiles_mvt(df, out, zoom, id_col="fid").toPandas()
    assert len(manifest) >= 1
    saw_exterior = saw_hole = False
    for _, m in manifest.iterrows():
        layers = mvt.decode_tile(open(m["path"], "rb").read())
        for f in layers[0]["features"]:
            for ring in f["parts"]:
                sa = geom.ring_area(ring.astype(np.float64))
                assert sa != 0
                # decode order preserves encode order: first ring of a
                # polygon is the exterior
            areas = [geom.ring_area(r.astype(np.float64))
                     for r in f["parts"]]
            assert areas[0] > 0
            saw_exterior = True
            for a in areas[1:]:
                assert a < 0
                saw_hole = True
    assert saw_exterior and saw_hole

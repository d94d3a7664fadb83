"""Curve geometry types (CircularString/CompoundCurve/CurvePolygon/
MultiCurve/MultiSurface): WKB codec + getLinearGeometry-analog
densification, pinned with closed-form circle geometry."""

import numpy as np
import pytest

from gdal_spark import curves, geometry, wkb


def _pts(buf):
    t, p = wkb.parse(buf)
    return t, p


def test_quarter_arc_points_on_circle_and_step_bound():
    # unit circle, CCW quarter from (1,0) through (√2/2,√2/2) to (0,1)
    s = np.sqrt(0.5)
    cs = curves.circularstring([[1, 0], [s, s], [0, 1]])
    lin = curves.linearize(cs, max_step_deg=4.0)
    t, pts = _pts(lin)
    assert t == wkb.LINESTRING
    # exact endpoints
    assert tuple(pts[0]) == (1.0, 0.0) and tuple(pts[-1]) == (0.0, 1.0)
    # every vertex on the circle
    assert np.allclose(np.hypot(pts[:, 0], pts[:, 1]), 1.0, atol=1e-12)
    # angular steps uniform and <= 4 degrees
    ang = np.unwrap(np.arctan2(pts[:, 1], pts[:, 0]))
    steps = np.degrees(np.diff(ang))
    assert (steps > 0).all() and steps.max() <= 4.0 + 1e-9
    assert np.allclose(steps, steps[0], atol=1e-9)
    # ceil(90/4) = 23 segments
    assert len(pts) == 24


def test_collinear_triplet_degrades_to_segments():
    cs = curves.circularstring([[0, 0], [1, 1], [2, 2]])
    t, pts = _pts(curves.linearize(cs))
    assert t == wkb.LINESTRING
    assert np.array_equal(pts, [[0, 0], [1, 1], [2, 2]])


def test_full_circle_curvepolygon_area_closed_form():
    # CURVEPOLYGON with one circularstring ring = full circle r=5
    # (two half arcs), center (10, 20)
    r, cx, cy = 5.0, 10.0, 20.0
    ring = curves.circularstring(
        [[cx + r, cy], [cx - r, cy], [cx + r, cy]]
    )
    # degenerate 3-point full circle: sweep = 2π through the single
    # interior point
    cp = curves.curvepolygon([ring])
    lin = curves.linearize(cp, max_step_deg=4.0)
    t, rings = wkb.parse(lin)
    assert t == wkb.POLYGON and len(rings) == 1
    pts = rings[0]
    assert np.allclose(
        np.hypot(pts[:, 0] - cx, pts[:, 1] - cy), r, atol=1e-12
    )
    n = len(pts) - 1  # closed ring
    want = 0.5 * n * r * r * np.sin(2 * np.pi / n)  # inscribed n-gon
    got = abs(geometry.ring_area(pts))
    assert got == pytest.approx(want, rel=1e-12)
    # and the n-gon area approaches πr² within the 4° budget
    assert got == pytest.approx(np.pi * r * r, rel=1e-3)


def test_compoundcurve_stadium_ring():
    # stadium: straight top edge, half circle, straight bottom edge,
    # half circle — a CURVEPOLYGON of one COMPOUNDCURVE ring
    seg1 = wkb.linestring([[0, 1], [4, 1]])
    arc1 = curves.circularstring([[4, 1], [5, 0], [4, -1]])
    seg2 = wkb.linestring([[4, -1], [0, -1]])
    arc2 = curves.circularstring([[0, -1], [-1, 0], [0, 1]])
    cc = curves.compoundcurve([seg1, arc1, seg2, arc2])
    cp = curves.curvepolygon([cc])
    t, rings = wkb.parse(curves.linearize(cp, max_step_deg=2.0))
    assert t == wkb.POLYGON
    pts = rings[0]
    assert np.array_equal(pts[0], pts[-1])  # closed
    # area = rectangle 4x2 + inscribed polygon of the full circle r=1
    n_arc_segments = int(np.ceil(180 / 2.0))
    ngon_full = n_arc_segments * 2
    circle_part = 0.5 * ngon_full * np.sin(2 * np.pi / ngon_full)
    want = 8.0 + circle_part
    assert abs(geometry.ring_area(pts)) == pytest.approx(
        want, rel=1e-9
    )


def test_compoundcurve_endpoint_validation():
    seg1 = wkb.linestring([[0, 0], [1, 0]])
    seg2 = wkb.linestring([[5, 5], [6, 6]])
    with pytest.raises(ValueError, match="share endpoints"):
        curves.compoundcurve([seg1, seg2])


def test_multicurve_and_multisurface():
    s = np.sqrt(0.5)
    mc = curves.multicurve([
        wkb.linestring([[0, 0], [1, 0]]),
        curves.circularstring([[3, 0], [4, 1], [5, 0]]),
    ])
    t, lines = wkb.parse(curves.linearize(mc))
    assert t == wkb.MULTILINESTRING and len(lines) == 2
    assert np.array_equal(lines[0], [[0, 0], [1, 0]])
    # half circle r=1 center (4,0): all points on it
    assert np.allclose(
        np.hypot(lines[1][:, 0] - 4, lines[1][:, 1]), 1.0, atol=1e-12
    )

    r = 2.0
    ms = curves.multisurface([
        wkb.polygon([np.array(
            [[10, 10], [14, 10], [14, 13], [10, 13], [10, 10]], float
        )]),
        curves.curvepolygon([
            curves.circularstring([[r, 0], [-r, 0], [r, 0]])
        ]),
    ])
    t, polys = wkb.parse(curves.linearize(ms))
    assert t == wkb.MULTIPOLYGON and len(polys) == 2
    assert abs(geometry.ring_area(polys[0][0])) == pytest.approx(12.0)
    assert abs(geometry.ring_area(polys[1][0])) == pytest.approx(
        np.pi * r * r, rel=1e-3
    )


def test_linear_passthrough_byte_identical():
    for g in (
        wkb.point(1, 2),
        wkb.linestring([[0, 0], [1, 1]]),
        wkb.polygon([np.array([[0, 0], [1, 0], [1, 1], [0, 0]], float)]),
    ):
        assert curves.linearize(g) == g


def test_curve_codec_round_trip_tree():
    s = np.sqrt(0.5)
    cs = curves.circularstring([[1, 0], [s, s], [0, 1]])
    t, pts = wkb.parse(cs)
    assert t == curves.CIRCULARSTRING
    assert np.allclose(pts, [[1, 0], [s, s], [0, 1]])
    cc = curves.compoundcurve([wkb.linestring([[0, 1], [1, 0]]), cs][::-1])
    t2, kids = wkb.parse(cc)
    assert t2 == curves.COMPOUNDCURVE and len(kids) == 2
    assert kids[0][0] == curves.CIRCULARSTRING
    assert kids[1][0] == wkb.LINESTRING


def test_curved_gpkg_flows_into_linear_operators(spark, tmp_path):
    """End-to-end: a GeoPackage carrying CURVEPOLYGON geometry (GPKG
    allows curve types in GPB blobs) reads through the ranged scan,
    linearizes in the task, and lands in a linear kernel — the
    closed-form inscribed-n-gon area comes out exact."""
    import os
    import sqlite3

    import pandas as pd
    from pyspark.sql import functions as F

    from gdal_spark import gpkg

    path = str(tmp_path / "curved.gpkg")
    con = sqlite3.connect(path)
    con.execute("PRAGMA application_id = 0x47504B47")
    for ddl in gpkg._GPKG_META_DDL:
        con.execute(ddl)
    con.execute(
        "INSERT INTO gpkg_spatial_ref_sys VALUES "
        "('undefined', 0, 'NONE', 0, 'undefined', NULL)"
    )
    con.execute(
        'CREATE TABLE t (fid INTEGER PRIMARY KEY, "r" DOUBLE, '
        '"geometry" BLOB)'
    )
    rows = []
    for k in range(6):
        r = 1.0 + 0.5 * k
        cp = curves.curvepolygon([
            curves.circularstring(
                [[10 * k + r, 0.0], [10 * k - r, 0.0], [10 * k + r, 0.0]]
            )
        ])
        rows.append((r, gpkg.wkb_to_gpb(cp)))
    con.executemany('INSERT INTO t ("r", "geometry") VALUES (?, ?)', rows)
    con.execute(
        "INSERT INTO gpkg_contents VALUES ('t', 'features', 't', '', "
        "'2026-01-01T00:00:00Z', NULL, NULL, NULL, NULL, 0)"
    )
    con.execute(
        "INSERT INTO gpkg_geometry_columns VALUES "
        "('t', 'geometry', 'CURVEPOLYGON', 0, 0, 0)"
    )
    con.commit()
    con.close()

    df = gpkg.read_gpkg_ranged(spark, path, "t", rows_per_task=2)

    def area(batches):
        import pandas as pd

        for pdf in batches:
            out = []
            for rr, g in zip(pdf["r"], pdf["geometry"]):
                lin = curves.linearize(bytes(g), 3.7)
                rings = wkb.polygon_rings(lin)[0]
                out.append(
                    (float(rr), abs(geometry.ring_area(rings[0])))
                )
            yield pd.DataFrame(out, columns=["r", "area"])

    got = {
        round(rec.r, 3): rec.area
        for rec in df.mapInPandas(area, "r double, area double").collect()
    }
    n = int(np.ceil(360.0 / 3.7))
    for k in range(6):
        r = 1.0 + 0.5 * k
        want = 0.5 * n * r * r * np.sin(2 * np.pi / n)
        assert got[round(r, 3)] == pytest.approx(want, rel=1e-12)


def test_st_curvetoline_in_sql(spark):
    """ST_CurveToLine through a real SQL string (the Spatialite
    function the reference's dialect exposes): curved rows linearize,
    st_area over the result gives the inscribed n-gon area."""
    import pandas as pd

    from gdal_spark import stsql

    stsql.register_st_functions(spark)
    r = 2.0
    cp = curves.curvepolygon([
        curves.circularstring([[r, 0.0], [-r, 0.0], [r, 0.0]])
    ])
    spark.createDataFrame(
        pd.DataFrame({"k": [1], "g": [cp]})
    ).createOrReplaceTempView("curved")
    got = spark.sql(
        "SELECT st_area(st_curvetoline(g)) AS a FROM curved"
    ).collect()[0].a
    n = int(np.ceil(360.0 / 4.0))
    want = 0.5 * n * r * r * np.sin(2 * np.pi / n)
    assert got == pytest.approx(want, rel=1e-12)

"""Line × polygon: Cyrus-Beck clip kernel and clip pieces
(KEEP_LOWER_DIMENSION_GEOMETRIES, ogr/ogrlayer.cpp:3514-3541)."""

import numpy as np
import pandas as pd
import pytest

from gdal_spark import geometry, wkb


def sq(x0, y0, x1, y1):
    return np.array(
        [[x0, y0], [x1, y0], [x1, y1], [x0, y1], [x0, y0]], dtype=float
    )


class TestSegmentClipKernel:
    def test_chord(self):
        t0, t1, ok = geometry.clip_segments_convex(
            np.array([[-5.0, 5.0]]), np.array([[15.0, 5.0]]),
            sq(0, 0, 10, 10),
        )
        assert ok[0] and t0[0] == pytest.approx(0.25) \
            and t1[0] == pytest.approx(0.75)

    def test_miss_and_parallel(self):
        t0, t1, ok = geometry.clip_segments_convex(
            np.array([[-5.0, 20.0], [-5.0, -1.0]]),
            np.array([[15.0, 20.0], [15.0, -1.0]]),
            sq(0, 0, 10, 10),
        )
        assert not ok[0] and not ok[1]

    def test_inside_segment(self):
        t0, t1, ok = geometry.clip_segments_convex(
            np.array([[2.0, 2.0]]), np.array([[8.0, 8.0]]),
            sq(0, 0, 10, 10),
        )
        assert ok[0] and t0[0] == 0.0 and t1[0] == 1.0


@pytest.fixture()
def donut_b():
    return pd.DataFrame({
        "poly_id": [0],
        "geom_wkb": [wkb.polygon([sq(0, 0, 10, 10), sq(4, 4, 6, 6)])],
    })


def _line_df(spark, rows):
    return spark.createDataFrame(
        pd.DataFrame(rows, columns=["line_id", "geom_wkb"])
    )


class TestLinePieces:
    def test_clip_through_donut(self, spark, donut_b):
        from gdal_spark.operators.layer_algebra import clip_line_pieces

        # y=5 across the donut: inside length = 10 - 2 (hole) = 8
        lines = _line_df(spark, [
            (0, wkb.linestring([[-5.0, 5.0], [15.0, 5.0]])),
        ])
        out = clip_line_pieces(lines, donut_b).collect()
        assert sum(r.length for r in out) == pytest.approx(8.0)

    def test_multisegment_polyline(self, spark, donut_b):
        from gdal_spark.operators.layer_algebra import clip_line_pieces

        # L-shaped polyline clipped by the solid part
        lines = _line_df(spark, [
            (0, wkb.linestring([[2.0, -5.0], [2.0, 2.0], [12.0, 2.0]])),
        ])
        out = clip_line_pieces(lines, donut_b).collect()
        # vertical: y 0..2 -> 2; horizontal: x 2..10 -> 8
        assert sum(r.length for r in out) == pytest.approx(10.0)

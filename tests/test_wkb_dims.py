"""Z / M / ZM WKB matrix: every linear and curve type, in ISO and
EWKB form (EWKB with and without an SRID word), in both byte orders,
through every engine path that reads geometry. Each path must give
the same answer as for the geometry's 2-D twin: the reader keeps XY
and drops Z/M. Linear-only paths must reject curves with ValueError.
Also: every strict prefix of every geometry raises ValueError."""

import struct

import numpy as np
import pandas as pd
import pytest

from gdal_spark import curves, fgb, geojson, geoparquet, gpkg, shapefile, wkb
from gdal_spark.operators import reproject

S = float(np.sqrt(0.5))
RING = [(0.0, 0.0), (4.0, 0.0), (4.0, 4.0), (0.0, 4.0), (0.0, 0.0)]
HOLE = [(1.0, 1.0), (1.0, 3.0), (3.0, 3.0), (3.0, 1.0), (1.0, 1.0)]
ARC = [(1.0, 0.0), (S, S), (0.0, 1.0)]
CIRCLE = [(3.0, 0.0), (-3.0, 0.0), (3.0, 0.0)]
COMPOUND = [
    (wkb.CIRCULARSTRING, ARC),
    (wkb.LINESTRING, [(0.0, 1.0), (0.0, 0.0), (1.0, 0.0)]),
]

# 2-D geometries in wkb.parse's payload shape
GEOMS = {
    wkb.POINT: (1.5, -2.25),
    wkb.LINESTRING: [(0.0, 0.0), (1.0, 2.0), (3.0, 1.0)],
    wkb.POLYGON: [RING, HOLE],
    wkb.MULTIPOINT: [(1.0, 2.0), (3.0, 4.0)],
    wkb.MULTILINESTRING: [
        [(0.0, 0.0), (1.0, 1.0)], [(2.0, 2.0), (3.0, 5.0), (4.0, 4.0)],
    ],
    wkb.MULTIPOLYGON: [
        [RING, HOLE], [[(5.0, 5.0), (6.0, 5.0), (6.0, 6.0), (5.0, 5.0)]],
    ],
    wkb.CIRCULARSTRING: ARC,
    wkb.COMPOUNDCURVE: COMPOUND,
    wkb.CURVEPOLYGON: [
        (wkb.CIRCULARSTRING, CIRCLE),
        (wkb.LINESTRING, [(-1.0, -1.0), (1.0, -1.0), (1.0, 1.0),
                          (-1.0, -1.0)]),
    ],
    wkb.MULTICURVE: [
        (wkb.LINESTRING, [(5.0, 5.0), (6.0, 6.0)]),
        (wkb.CIRCULARSTRING, ARC),
        (wkb.COMPOUNDCURVE, COMPOUND),
    ],
    wkb.MULTISURFACE: [
        (wkb.POLYGON, [RING]),
        (wkb.CURVEPOLYGON, [(wkb.CIRCULARSTRING, CIRCLE)]),
    ],
}

VARIANTS = [
    (dims, flavor, order)
    for dims in ("", "Z", "M", "ZM")
    for flavor in ("iso", "ewkb", "ewkb_srid")
    for order in (1, 0)
]


def encode(gtype, payload, dims="", flavor="iso", order=1, top=True):
    """Independent WKB writer: 2-D payload → WKB carrying Z = 1000 + i
    and M = -1000 - i ordinates, so any misread stride shows."""
    fmt = "<" if order == 1 else ">"
    has_z, has_m = "Z" in dims, "M" in dims
    srid = flavor == "ewkb_srid" and top
    if flavor == "iso":
        code = gtype + 1000 * (has_z + 2 * has_m)
    else:
        code = (gtype | 0x80000000 * has_z | 0x40000000 * has_m
                | 0x20000000 * srid)
    out = struct.pack(fmt + "BI", order, code)
    if srid:
        out += struct.pack(fmt + "I", 4326)

    def coords(pts):
        flat = []
        for i, (x, y) in enumerate(pts):
            flat += [x, y] + [1000.0 + i] * has_z + [-1000.0 - i] * has_m
        return struct.pack(fmt + "%dd" % len(flat), *flat)

    def seq(pts):
        return struct.pack(fmt + "I", len(pts)) + coords(pts)

    def member(t, p):
        return encode(t, p, dims, flavor, order, top=False)

    if gtype == wkb.POINT:
        return out + coords([payload])
    if gtype in (wkb.LINESTRING, wkb.CIRCULARSTRING):
        return out + seq(payload)
    if gtype == wkb.POLYGON:
        return out + struct.pack(fmt + "I", len(payload)) + b"".join(
            seq(r) for r in payload
        )
    out += struct.pack(fmt + "I", len(payload))
    if gtype in (wkb.MULTIPOINT, wkb.MULTILINESTRING, wkb.MULTIPOLYGON):
        return out + b"".join(member(gtype - 3, p) for p in payload)
    return out + b"".join(member(t, p) for t, p in payload)


def plain(v):
    """Parsed payload → nested lists of floats, comparable with ==."""
    if isinstance(v, np.ndarray):
        return v.tolist()
    if isinstance(v, (list, tuple)):
        return [plain(x) for x in v]
    return v


def _transform(x, y):
    return 2.0 * x + 1.0, y - 3.0


def _fgb(g):
    return fgb.fgb_encode(pd.DataFrame({"geometry": [g]}))


def _gpkg(g):
    gpb = gpkg.wkb_to_gpb(g, srs_id=4326)
    assert gpkg.gpb_to_wkb(gpb) == g
    return gpb[: len(gpb) - len(g)]  # header + envelope


def _geoparquet(g):
    # the GeoParquet sink's per-geometry summary: bbox + type name
    return wkb.bbox(g), geoparquet._TYPE_NAMES[wkb.header(g)[1]]


# path name → (function of WKB, accepts curve types)
PATHS = {
    "parse": (lambda g: plain(wkb.parse(g)), True),
    "linearize": (lambda g: plain(wkb.parse(curves.linearize(g))), True),
    "gpkg": (_gpkg, True),
    "fgb": (_fgb, False),
    "geojson": (geojson.wkb_to_geometry, False),
    "geoparquet_bbox": (_geoparquet, False),
    "shapefile": (lambda g: shapefile.write_shp([g]), False),
    "reproject": (
        lambda g: reproject.transform_wkb_batch([g], _transform, 0.5),
        False,
    ),
}


def test_twin_encoder_matches_engine_writers():
    """The test writer's 2-D form is the engine's own WKB."""
    assert encode(wkb.POINT, GEOMS[wkb.POINT]) == wkb.point(1.5, -2.25)
    for t in wkb.LINEAR[1:]:
        assert encode(t, GEOMS[t]) == wkb.build(t, GEOMS[t]), t


@pytest.mark.parametrize("gtype", sorted(GEOMS))
def test_parse_keeps_xy(gtype):
    assert plain(wkb.parse(encode(gtype, GEOMS[gtype]))) == [
        gtype, plain(GEOMS[gtype])
    ]


@pytest.mark.parametrize("gtype", sorted(GEOMS))
@pytest.mark.parametrize("path", sorted(PATHS))
def test_zm_variant_matches_2d_twin(path, gtype):
    fn, takes_curves = PATHS[path]
    twin = encode(gtype, GEOMS[gtype])
    if gtype not in wkb.LINEAR and not takes_curves:
        for v in VARIANTS:
            with pytest.raises(ValueError):
                fn(encode(gtype, GEOMS[gtype], *v))
        return
    want = fn(twin)
    for v in VARIANTS:
        assert fn(encode(gtype, GEOMS[gtype], *v)) == want, v


@pytest.mark.parametrize("gtype", sorted(GEOMS))
def test_every_strict_prefix_raises(gtype):
    for v in (("", "iso", 1), ("ZM", "ewkb_srid", 0), ("M", "iso", 0)):
        buf = encode(gtype, GEOMS[gtype], *v)
        wkb.parse(buf)
        for k in range(len(buf)):
            with pytest.raises(ValueError):
                wkb.parse(buf[:k])

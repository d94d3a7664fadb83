"""WKB encode/decode roundtrips + cross-check against DuckDB spatial
(if available) / struct layout constants."""

import numpy as np
import pytest

from gdal_spark import wkb

RING = np.array([[0, 0], [4, 0], [4, 4], [0, 4], [0, 0]], dtype=float)
HOLE = np.array([[1, 1], [1, 3], [3, 3], [3, 1], [1, 1]], dtype=float)


def test_point_roundtrip():
    buf = wkb.point(1.5, -2.25)
    t, (x, y) = wkb.parse(buf)
    assert t == wkb.POINT and (x, y) == (1.5, -2.25)
    assert len(buf) == 21  # 1 + 4 + 16


def test_linestring_roundtrip():
    buf = wkb.linestring(RING[:3])
    t, coords = wkb.parse(buf)
    assert t == wkb.LINESTRING
    assert np.array_equal(coords, RING[:3])


def test_polygon_roundtrip_with_hole():
    buf = wkb.polygon([RING, HOLE])
    t, rings = wkb.parse(buf)
    assert t == wkb.POLYGON and len(rings) == 2
    assert np.array_equal(rings[0], RING)
    assert np.array_equal(rings[1], HOLE)


def test_polygon_autocloses_open_ring():
    buf = wkb.polygon([RING[:-1]])
    _, rings = wkb.parse(buf)
    assert np.array_equal(rings[0][0], rings[0][-1])


def test_multipolygon_roundtrip():
    buf = wkb.multipolygon([[RING], [HOLE]])
    t, polys = wkb.parse(buf)
    assert t == wkb.MULTIPOLYGON and len(polys) == 2
    assert np.array_equal(polys[0][0], RING)
    rings = wkb.polygon_rings(buf)
    assert len(rings) == 2


def test_polygon_rings_rejects_point():
    with pytest.raises(ValueError):
        wkb.polygon_rings(wkb.point(0, 0))


def test_wkt_output():
    assert wkb.wkt(wkb.point(1, 2)) == "POINT (1 2)"
    assert wkb.wkt(wkb.polygon([RING])) == (
        "POLYGON ((0 0, 4 0, 4 4, 0 4, 0 0))"
    )


def test_big_endian_parse():
    import struct

    # hand-build a big-endian point
    buf = struct.pack(">BIdd", 0, wkb.POINT, 3.0, 4.0)
    t, (x, y) = wkb.parse(buf)
    assert t == wkb.POINT and (x, y) == (3.0, 4.0)


def test_ewkb_srid_flag_consumes_srid_word():
    """PostGIS EWKB sets 0x20000000 on the type word and inserts a
    4-byte SRID before the coordinates; the parser must skip it (the
    old behavior masked the flag and decoded the SRID bytes as the
    first coordinate)."""
    import struct

    # hand-build EWKB: little-endian point(1,2) with SRID=4326
    buf = (b"\x01"
           + struct.pack("<I", 0x20000001)
           + struct.pack("<I", 4326)
           + struct.pack("<dd", 1.0, 2.0))
    gt, payload = wkb.parse(buf)
    assert gt == wkb.POINT
    assert payload == (1.0, 2.0)

    # EWKB polygon with SRID
    ring = [(0.0, 0.0), (4.0, 0.0), (4.0, 4.0), (0.0, 0.0)]
    body = struct.pack("<I", 1) + struct.pack("<I", len(ring))
    for x, y in ring:
        body += struct.pack("<dd", x, y)
    pbuf = (b"\x01" + struct.pack("<I", 0x20000003)
            + struct.pack("<I", 3857) + body)
    gt, rings = wkb.parse(pbuf)
    assert gt == wkb.POLYGON
    assert len(rings) == 1 and len(rings[0]) == 4
    assert rings[0][1][0] == 4.0


def test_bad_byte_order_raises():
    buf = bytearray(wkb.point(1.0, 2.0))
    buf[0] = 2
    with pytest.raises(ValueError, match="byte order at byte offset 0"):
        wkb.parse(bytes(buf))
    # a nested member's byte order is checked too
    mp = bytearray(wkb.multipoint([[1.0, 2.0]]))
    mp[9] = 7
    with pytest.raises(ValueError, match="byte order at byte offset 9"):
        wkb.parse(bytes(mp))


def test_truncated_buffer_names_field_and_offset():
    with pytest.raises(ValueError, match="point count at byte offset 5"):
        wkb.parse(b"\x01\x02\x00\x00\x00")
    with pytest.raises(ValueError, match="header at byte offset 0"):
        wkb.parse(b"")


def test_unknown_type_word_raises():
    import struct

    for code in (0, 7, 13, 4001, 0x10000001):
        with pytest.raises(ValueError, match="type word at byte offset 1"):
            wkb.parse(struct.pack("<BI", 1, code) + bytes(32))


def test_member_type_must_fit_collection():
    import struct

    # a MULTIPOLYGON whose member is a POINT
    bad = struct.pack("<BII", 1, wkb.MULTIPOLYGON, 1) + wkb.point(1, 2)
    with pytest.raises(ValueError, match="member type 1 not allowed"):
        wkb.parse(bad)

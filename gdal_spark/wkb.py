"""WKB codec — the one module that knows the WKB format.

The reference's Arrow export carries geometry as WKB binary
(ogr/ogrsf_frmts/generic/ogrlayerarrow.cpp geometry columns); the
engine adopts the same at-rest representation: geometry is a
``BinaryType`` column, decoded to numpy coordinate arrays inside
vectorized UDFs. No shapely dependency.

Read contract (:func:`parse`, :func:`header`):
* ISO WKB and PostGIS EWKB, either byte order; an EWKB SRID word is
  skipped;
* any dimension — XY, Z, M or ZM, from the ISO 1000/2000/3000 type
  offsets or the EWKB Z/M flag bits. Coordinates are read with a
  stride of the dimension count and only X, Y are kept, as the
  reference's linear pipelines flatten to 2-D (ogrgeometry.cpp
  importFromWkb);
* the linear types (Point, LineString, Polygon, MultiPoint,
  MultiLineString, MultiPolygon) and the curve types (CircularString,
  CompoundCurve, CurvePolygon, MultiCurve, MultiSurface — densified by
  ``curves.linearize``);
* anything else — a bad byte-order byte, an unknown type word, a
  member type its collection cannot hold, a truncated buffer — raises
  ``ValueError`` naming the field and byte offset.

:func:`map_coords` / :func:`parts` / :func:`bbox` are the one walk
over a parsed geometry's vertices. The writers emit little-endian 2-D
WKB; :func:`build` is the inverse of :func:`parse` for the linear
types.
"""

from __future__ import annotations

import struct

import numpy as np

POINT = 1
LINESTRING = 2
POLYGON = 3
MULTIPOINT = 4
MULTILINESTRING = 5
MULTIPOLYGON = 6
CIRCULARSTRING = 8
COMPOUNDCURVE = 9
CURVEPOLYGON = 10
MULTICURVE = 11
MULTISURFACE = 12

LINEAR = (POINT, LINESTRING, POLYGON, MULTIPOINT, MULTILINESTRING,
          MULTIPOLYGON)

_LE = 1


def point(x: float, y: float) -> bytes:
    return struct.pack("<BIdd", _LE, POINT, x, y)


def linestring(coords) -> bytes:
    coords = np.asarray(coords, dtype=np.float64)
    return (
        struct.pack("<BII", _LE, LINESTRING, coords.shape[0])
        + coords.astype("<f8").tobytes()
    )


def polygon(rings) -> bytes:
    """rings: list of (M, 2) arrays; first = outer, rest = holes."""
    out = [struct.pack("<BII", _LE, POLYGON, len(rings))]
    for ring in rings:
        ring = np.asarray(ring, dtype=np.float64)
        if not (ring[0] == ring[-1]).all():
            ring = np.vstack([ring, ring[:1]])
        out.append(struct.pack("<I", ring.shape[0]))
        out.append(ring.astype("<f8").tobytes())
    return b"".join(out)


def multipolygon(polys) -> bytes:
    """polys: list of ring-lists."""
    out = [struct.pack("<BII", _LE, MULTIPOLYGON, len(polys))]
    for rings in polys:
        out.append(polygon(rings))
    return b"".join(out)


def multipoint(coords) -> bytes:
    coords = np.asarray(coords, dtype=np.float64)
    out = [struct.pack("<BII", _LE, MULTIPOINT, coords.shape[0])]
    for x, y in coords:
        out.append(point(float(x), float(y)))
    return b"".join(out)


def multilinestring(lines) -> bytes:
    """lines: list of (M, 2) arrays."""
    out = [struct.pack("<BII", _LE, MULTILINESTRING, len(lines))]
    for ln in lines:
        out.append(linestring(ln))
    return b"".join(out)


# collection type -> the member types it may hold
_MEMBERS = {
    MULTIPOINT: (POINT,),
    MULTILINESTRING: (LINESTRING,),
    MULTIPOLYGON: (POLYGON,),
    COMPOUNDCURVE: (LINESTRING, CIRCULARSTRING),
    CURVEPOLYGON: (LINESTRING, CIRCULARSTRING, COMPOUNDCURVE),
    MULTICURVE: (LINESTRING, CIRCULARSTRING, COMPOUNDCURVE),
    MULTISURFACE: (POLYGON, CURVEPOLYGON),
}

# EWKB (PostGIS) flag bits on the type word
_EWKB_Z = 0x80000000
_EWKB_M = 0x40000000
_EWKB_SRID = 0x20000000


def _truncated(field: str, pos: int, need: int, have: int):
    return ValueError(
        f"WKB truncated: {field} at byte offset {pos} needs {need} "
        f"bytes, {have} left"
    )


def header(buf: bytes, pos: int = 0) -> tuple[str, int, int, bool]:
    """Decode the WKB header (byte-order byte + type word) at ``pos``
    → (struct byte-order prefix, base type, dims, EWKB SRID flag).

    dims is 2, 3 or 4: Z and M come from the ISO 1000/2000/3000 type
    offsets or the EWKB Z/M flag bits."""
    if len(buf) - pos < 5:
        raise _truncated("header", pos, 5, len(buf) - pos)
    order = buf[pos]
    if order not in (0, 1):
        raise ValueError(
            f"WKB byte order at byte offset {pos} is {order}, not 0 or 1"
        )
    fmt = "<" if order == 1 else ">"
    (code,) = struct.unpack_from(fmt + "I", buf, pos + 1)
    iso, gtype = divmod(code & ~(_EWKB_Z | _EWKB_M | _EWKB_SRID), 1000)
    # 7 (GeometryCollection) is not read
    if iso > 3 or gtype in (0, 7) or gtype > MULTISURFACE:
        raise ValueError(
            f"WKB type word at byte offset {pos + 1}: unsupported "
            f"geometry type {code}"
        )
    has_z = bool(code & _EWKB_Z) or iso in (1, 3)
    has_m = bool(code & _EWKB_M) or iso in (2, 3)
    return fmt, gtype, 2 + has_z + has_m, bool(code & _EWKB_SRID)


class _Reader:
    __slots__ = ("buf", "pos")

    def __init__(self, buf: bytes):
        self.buf = buf
        self.pos = 0

    def take(self, n: int, field: str) -> int:
        """Claim the next ``n`` bytes for ``field``; → their offset."""
        pos = self.pos
        if len(self.buf) - pos < n:
            raise _truncated(field, pos, n, len(self.buf) - pos)
        self.pos = pos + n
        return pos

    def u32(self, fmt: str, field: str) -> int:
        return struct.unpack_from(fmt + "I", self.buf, self.take(4, field))[0]

    def coords(self, fmt: str, dims: int, n: int, field: str) -> np.ndarray:
        """n vertices of ``dims`` doubles each → (n, 2) XY."""
        off = self.take(8 * dims * n, field)
        arr = np.frombuffer(self.buf, fmt + "f8", dims * n, off)
        return np.ascontiguousarray(
            arr.reshape(n, dims)[:, :2], dtype=np.float64
        )


def parse(buf: bytes):
    """Parse WKB → (type_code, payload), XY only.

    Point                      → (POINT, (x, y))
    LineString/CircularString  → (type, (M,2) array)
    Polygon                    → (POLYGON, [rings])
    MultiPoint/-LineString/-Polygon → (type, [member payloads])
    CompoundCurve/CurvePolygon/MultiCurve/MultiSurface
                               → (type, [(member type, payload)])
    """
    return _parse_geom(_Reader(bytes(buf)))


def _parse_geom(r: _Reader, allowed: tuple = ()):
    at = r.pos
    fmt, gtype, dims, has_srid = header(r.buf, at)
    if allowed and gtype not in allowed:
        raise ValueError(
            f"WKB type word at byte offset {at + 1}: member type "
            f"{gtype} not allowed here"
        )
    r.pos += 5
    if has_srid:
        r.take(4, "SRID")
    if gtype == POINT:
        return POINT, tuple(r.coords(fmt, dims, 1, "point")[0].tolist())
    if gtype in (LINESTRING, CIRCULARSTRING):
        n = r.u32(fmt, "point count")
        return gtype, r.coords(fmt, dims, n, "coordinates")
    if gtype == POLYGON:
        rings = []
        for _ in range(r.u32(fmt, "ring count")):
            n = r.u32(fmt, "ring point count")
            rings.append(r.coords(fmt, dims, n, "ring coordinates"))
        return POLYGON, rings
    members = [
        _parse_geom(r, _MEMBERS[gtype])
        for _ in range(r.u32(fmt, "member count"))
    ]
    if gtype in (MULTIPOINT, MULTILINESTRING, MULTIPOLYGON):
        return gtype, [payload for _, payload in members]
    return gtype, members


def map_coords(gtype: int, payload, fn):
    """The one vertex walk: rebuild a parsed payload with every
    coordinate sequence ``a`` replaced by ``fn(a)``. A point passes as
    a one-row array and keeps row 0 of the result."""
    if gtype == POINT:
        return fn(np.array([payload], dtype=np.float64))[0]
    if gtype in (LINESTRING, CIRCULARSTRING):
        return fn(payload)
    if gtype == POLYGON:
        return [fn(ring) for ring in payload]
    if gtype in (MULTIPOINT, MULTILINESTRING, MULTIPOLYGON):
        return [map_coords(_MEMBERS[gtype][0], p, fn) for p in payload]
    return [(t, map_coords(t, p, fn)) for t, p in payload]


def parts(gtype: int, payload) -> list[np.ndarray]:
    """Every coordinate sequence of a parsed geometry as an (M, 2)
    array, in WKB order."""
    out: list[np.ndarray] = []

    def keep(a):
        out.append(np.asarray(a, dtype=np.float64))
        return a

    map_coords(gtype, payload, keep)
    return out


def bbox(buf: bytes) -> tuple[float, float, float, float]:
    """(xmin, ymin, xmax, ymax) of a linear geometry. Curve types
    raise: their control points do not bound the arcs, so linearize
    them first (``curves.linearize``)."""
    gtype, payload = parse(buf)
    if gtype not in LINEAR:
        raise ValueError(
            f"bbox of curve geometry type {gtype}: linearize it first"
        )
    a = np.vstack(parts(gtype, payload))
    return (
        float(a[:, 0].min()), float(a[:, 1].min()),
        float(a[:, 0].max()), float(a[:, 1].max()),
    )


def build(gtype: int, payload) -> bytes:
    """Inverse of :func:`parse` for the linear types (2-D,
    little-endian)."""
    if gtype not in _BUILDERS:
        raise ValueError(f"cannot build WKB geometry type {gtype}")
    return _BUILDERS[gtype](payload)


_BUILDERS = {
    POINT: lambda p: point(float(p[0]), float(p[1])),
    LINESTRING: linestring,
    POLYGON: polygon,
    MULTIPOINT: multipoint,
    MULTILINESTRING: multilinestring,
    MULTIPOLYGON: multipolygon,
}


def polygon_rings(buf: bytes) -> list[list[np.ndarray]]:
    """Any polygonal WKB → list of polygons, each a list of rings.
    Point/LineString inputs raise."""
    gtype, payload = parse(buf)
    if gtype == POLYGON:
        return [payload]
    if gtype == MULTIPOLYGON:
        return payload
    raise ValueError(f"not a polygonal geometry: type {gtype}")


def wkt(buf: bytes) -> str:
    """WKB → WKT (ST_AsText analog, ogrsqlitesqlfunctions.cpp:723)."""
    gtype, payload = parse(buf)
    if gtype == POINT:
        return f"POINT ({_fmt(payload[0])} {_fmt(payload[1])})"
    if gtype == LINESTRING:
        return f"LINESTRING ({_ring_wkt(payload)})"
    if gtype == POLYGON:
        inner = ", ".join(f"({_ring_wkt(ring)})" for ring in payload)
        return f"POLYGON ({inner})"
    if gtype == MULTIPOLYGON:
        polys = ", ".join(
            "(" + ", ".join(f"({_ring_wkt(ring)})" for ring in rings) + ")"
            for rings in payload
        )
        return f"MULTIPOLYGON ({polys})"
    raise ValueError(f"unsupported type {gtype}")


def _fmt(v: float) -> str:
    return repr(float(v)) if v != int(v) else str(int(v))


def _ring_wkt(ring: np.ndarray) -> str:
    return ", ".join(f"{_fmt(x)} {_fmt(y)}" for x, y in np.asarray(ring))


def _parse_coord_seq(s: str) -> np.ndarray:
    pts = []
    for pair in s.split(","):
        xy = pair.split()
        pts.append((float(xy[0]), float(xy[1])))
    return np.asarray(pts, dtype=np.float64)


def _split_groups(s: str) -> list[str]:
    """Split 'a, b' at top-level commas where a/b are '(...)' groups."""
    out, depth, start = [], 0, None
    for i, ch in enumerate(s):
        if ch == "(":
            if depth == 0:
                start = i + 1
            depth += 1
        elif ch == ")":
            depth -= 1
            if depth == 0:
                out.append(s[start:i])
    return out


def from_wkt(text: str) -> bytes:
    """WKT → WKB (ST_GeomFromText analog,
    ogrsqlitesqlfunctions.cpp:779). POINT / LINESTRING / POLYGON /
    MULTIPOLYGON, matching the writer above."""
    s = text.strip()
    head = s.split("(", 1)[0].strip().upper()
    body = s[s.index("(") :] if "(" in s else ""
    if head == "POINT":
        c = _parse_coord_seq(body.strip()[1:-1])
        return point(float(c[0, 0]), float(c[0, 1]))
    if head == "LINESTRING":
        return linestring(_parse_coord_seq(body.strip()[1:-1]))
    if head == "POLYGON":
        rings = [_parse_coord_seq(g) for g in _split_groups(body[1:-1])]
        return polygon(rings)
    if head == "MULTIPOLYGON":
        inner = body.strip()[1:-1]
        polys = []
        depth = 0
        start = None
        # top-level groups are '((...),(...))' per polygon
        for i, ch in enumerate(inner):
            if ch == "(":
                if depth == 0:
                    start = i
                depth += 1
            elif ch == ")":
                depth -= 1
                if depth == 0:
                    grp = inner[start : i + 1]
                    polys.append(
                        [_parse_coord_seq(g) for g in _split_groups(grp[1:-1])]
                    )
        return multipolygon(polys)
    raise ValueError(f"unsupported WKT type {head!r}")

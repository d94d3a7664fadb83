"""Curve geometry types: CircularString / CompoundCurve /
CurvePolygon / MultiCurve / MultiSurface — WKB codec + linearization.

The reference models these as first-class OGRGeometry subclasses
(ogr/ogr_geometry.h:359+ — OGRCircularString, OGRCompoundCurve,
OGRCurvePolygon, OGRMultiCurve, OGRMultiSurface) and converts them to
linear geometry on demand via OGRGeometry::getLinearGeometry, whose
arc densification is OGRGeometryFactory::approximateArcAngles /
curveToLineString (ogr/ogrgeometryfactory.cpp) with the
OGR_ARC_STEPSIZE default of 4° per segment. Curved content arriving
from GML/GPKG/PostGIS flows through that conversion into every linear
operator.

This module does the same for the engine: ISO WKB codes 8-12
serialize here and parse in ``wkb.parse`` (every operator kernel
consumes LINEAR geometry only, exactly like the reference's
linear-geometry pipelines), and
:func:`linearize` densifies arcs by a maximum angular step so curved
inputs become ordinary LINESTRING/POLYGON/MULTI* WKB.

Arc semantics: each CircularString triplet (p0, p1, p2) is the unique
circle arc from p0 through p1 to p2; exactly-collinear triplets
degrade to straight segments (the reference does the same). Emitted
vertices INCLUDE the exact endpoints; interior vertices sit exactly
on the circle at uniform angular steps ≤ the requested maximum.
"""

from __future__ import annotations

import struct

import numpy as np

from . import wkb
from .wkb import (
    CIRCULARSTRING, COMPOUNDCURVE, CURVEPOLYGON, MULTICURVE, MULTISURFACE,
)

DEFAULT_MAX_STEP_DEG = 4.0  # OGR_ARC_STEPSIZE default

_LE = 1


# ---------------------------------------------------------------------------
# WKB writers (codes 8-12; nested geometries carry their own headers,
# exactly as ISO 13249-3 / PostGIS serialize them)
# ---------------------------------------------------------------------------


def circularstring(coords) -> bytes:
    coords = np.asarray(coords, dtype=np.float64)
    if len(coords) < 3 or len(coords) % 2 == 0:
        raise ValueError(
            "CIRCULARSTRING needs an odd point count >= 3"
        )
    return (
        struct.pack("<BII", _LE, CIRCULARSTRING, coords.shape[0])
        + coords.astype("<f8").tobytes()
    )


def compoundcurve(parts: list[bytes]) -> bytes:
    """parts: WKB LINESTRING / CIRCULARSTRING blobs; consecutive
    parts must share endpoints (validated)."""
    prev_end = None
    for p in parts:
        t, payload = wkb.parse(p)
        pts = np.asarray(payload)
        if prev_end is not None and not np.array_equal(
            pts[0], prev_end
        ):
            raise ValueError(
                "COMPOUNDCURVE components must share endpoints"
            )
        prev_end = pts[-1]
    return (
        struct.pack("<BII", _LE, COMPOUNDCURVE, len(parts))
        + b"".join(parts)
    )


def curvepolygon(rings: list[bytes]) -> bytes:
    """rings: WKB LINESTRING / CIRCULARSTRING / COMPOUNDCURVE blobs,
    each closed."""
    return (
        struct.pack("<BII", _LE, CURVEPOLYGON, len(rings))
        + b"".join(rings)
    )


def multicurve(curves: list[bytes]) -> bytes:
    return (
        struct.pack("<BII", _LE, MULTICURVE, len(curves))
        + b"".join(curves)
    )


def multisurface(surfaces: list[bytes]) -> bytes:
    return (
        struct.pack("<BII", _LE, MULTISURFACE, len(surfaces))
        + b"".join(surfaces)
    )


# ---------------------------------------------------------------------------
# arc densification
# ---------------------------------------------------------------------------


def _arc_points(
    p0, p1, p2, max_step_rad: float
) -> np.ndarray:
    """Points of the circular arc p0→p1→p2, INCLUDING p0, EXCLUDING
    the exact endpoint p2 (caller appends). Exactly-collinear →
    the two straight segments' start vertices."""
    ax, ay = p0
    bx, by = p1
    cx, cy = p2
    if ax == cx and ay == cy:
        # closed triplet = FULL CIRCLE with p1 antipodal (the
        # reference's CIRCULARSTRING(p, q, p) convention)
        ux, uy = (ax + bx) / 2.0, (ay + by) / 2.0
        r = float(np.hypot(ax - ux, ay - uy))
        a0 = np.arctan2(ay - uy, ax - ux)
        n = max(2, int(np.ceil(2.0 * np.pi / max_step_rad)))
        ang = a0 + 2.0 * np.pi * np.arange(n) / n
        pts = np.column_stack(
            [ux + r * np.cos(ang), uy + r * np.sin(ang)]
        )
        pts[0] = (ax, ay)
        return pts
    d = 2.0 * (
        (ax - cx) * (by - cy) - (bx - cx) * (ay - cy)
    )
    if d == 0.0:
        return np.array([p0, p1])
    ux = (
        ((ax * ax + ay * ay) - (cx * cx + cy * cy)) * (by - cy)
        - ((bx * bx + by * by) - (cx * cx + cy * cy)) * (ay - cy)
    ) / d
    uy = (
        ((bx * bx + by * by) - (cx * cx + cy * cy)) * (ax - cx)
        - ((ax * ax + ay * ay) - (cx * cx + cy * cy)) * (bx - cx)
    ) / d
    r = float(np.hypot(ax - ux, ay - uy))
    a0 = np.arctan2(ay - uy, ax - ux)
    a1 = np.arctan2(by - uy, bx - ux)
    a2 = np.arctan2(cy - uy, cx - ux)
    ccw = (bx - ax) * (cy - by) - (by - ay) * (cx - bx) > 0
    two_pi = 2.0 * np.pi

    def fwd(s, e):
        t = (e - s) if ccw else (s - e)
        t %= two_pi
        return t

    total = fwd(a0, a1) + fwd(a1, a2)
    if total == 0.0:
        total = two_pi  # p0 == p2 through p1: a full circle
    n = max(2, int(np.ceil(total / max_step_rad)))
    sign = 1.0 if ccw else -1.0
    ang = a0 + sign * total * np.arange(n) / n
    pts = np.column_stack([ux + r * np.cos(ang), uy + r * np.sin(ang)])
    pts[0] = (ax, ay)  # exact start
    return pts


def _linearize_curve_pts(
    gtype: int, payload, max_step_rad: float
) -> np.ndarray:
    """CIRCULARSTRING/LINESTRING payload (or COMPOUNDCURVE children)
    → densified vertex array with exact endpoints."""
    if gtype == wkb.LINESTRING:
        return np.asarray(payload, dtype=np.float64)
    if gtype == CIRCULARSTRING:
        pts = np.asarray(payload, dtype=np.float64)
        out = []
        for i in range(0, len(pts) - 2, 2):
            out.append(
                _arc_points(
                    pts[i], pts[i + 1], pts[i + 2], max_step_rad
                )
            )
        out.append(pts[-1:])
        return np.vstack(out)
    if gtype == COMPOUNDCURVE:
        segs = [
            _linearize_curve_pts(t, pl, max_step_rad)
            for t, pl in payload
        ]
        out = [segs[0]]
        for s in segs[1:]:
            out.append(s[1:])  # shared endpoint emitted once
        return np.vstack(out)
    raise ValueError(f"not a curve/line type: {gtype}")


def linearize(
    buf: bytes, max_step_deg: float = DEFAULT_MAX_STEP_DEG
) -> bytes:
    """Any WKB (curve or linear) → LINEAR WKB
    (OGRGeometry::getLinearGeometry analog; arcs densified at ≤
    ``max_step_deg`` per segment, endpoints exact). Linear input
    passes through byte-identical."""
    gtype, payload = wkb.parse(buf)
    if gtype in wkb.LINEAR:
        return bytes(buf)
    step = np.radians(max_step_deg)
    if gtype in (CIRCULARSTRING, COMPOUNDCURVE):
        return wkb.linestring(
            _linearize_curve_pts(gtype, payload, step)
        )
    if gtype == CURVEPOLYGON:
        rings = [
            _linearize_curve_pts(t, pl, step) for t, pl in payload
        ]
        return wkb.polygon(rings)
    if gtype == MULTICURVE:
        return wkb.multilinestring(
            [_linearize_curve_pts(t, pl, step) for t, pl in payload]
        )
    # MULTISURFACE: members are POLYGON or CURVEPOLYGON (parse checks)
    return wkb.multipolygon([
        pl if t == wkb.POLYGON
        else [_linearize_curve_pts(rt, rpl, step) for rt, rpl in pl]
        for t, pl in payload
    ])

"""Constructive full-polygon operators (numpy kernels, no GEOS):
union fold, buffer and make-valid — the engine's renderings of the
reference's GEOS-backed ST_Buffer (ogr/ogrgeometry.cpp:4526) and
ST_MakeValid (:3922), reached through the ST_ SQL functions of
stsql.py.
"""

from __future__ import annotations

import numpy as np

from .. import geometry


def union_rings(rings: list) -> tuple[list, float]:
    """Union of simple rings via the erase-fold (the dissolve
    accumulator, STRtree-indexed): each incoming ring contributes only
    the part not already covered. Returns (disjoint simple pieces
    tiling the union, exact union area)."""
    from .layer_algebra import _AccIndex

    acc_simple: list[np.ndarray] = []
    acc_convex: list[np.ndarray] = []
    idx = _AccIndex()
    for ring in rings:
        s = geometry._open_ring(np.asarray(ring, dtype=np.float64))
        if len(s) < 3:
            continue
        sb = geometry.ring_bbox(s)
        clips = [acc_convex[i] for i in idx.query(sb)]
        residue = (
            geometry.erase_poly_convex(s, clips) if clips
            else [s]
        )
        for r in residue:
            if len(r) < 3 or abs(
                geometry.ring_area(np.vstack([r, r[:1]]))
            ) == 0.0:
                continue
            acc_simple.append(r)
            parts = (
                [r] if geometry.ring_is_convex(r)
                else geometry.ear_triangulate(r)
            )
            for cp in parts:
                acc_convex.append(cp)
                idx.add(geometry.ring_bbox(cp))
    return acc_simple, geometry.pieces_area(acc_simple)


def buffer_polygon(
    buf: bytes, dist: float, quad_segs: int = 8
) -> tuple[list, float]:
    """FULL-polygon positive ST_Buffer (ogr/ogrgeometry.cpp:4526
    semantics): holes and multiparts handled. The polygon decomposes
    to convex pieces (``_decompose_full`` — holes erased exactly,
    concave residue triangulated); the buffer of a region equals the
    union of the buffers of any cover, and the buffer of a CONVEX
    piece is exactly :func:`geometry.buffer_ring` (convex, round
    joins at quad_segs arcs) — so the result is the erase-fold UNION
    of the per-piece buffers. Narrow holes (< 2·dist) fill in and
    surviving holes shrink with sharp inner corners, both emerging
    from the union with no special casing. Returns (disjoint simple
    pieces, exact area of the piece tiling)."""
    from .layer_algebra import _decompose_full

    _, convex, _, _ = _decompose_full(bytes(buf))
    buffered = [
        geometry.buffer_ring(cp, float(dist), quad_segs)
        for cp in convex
    ]
    return union_rings(buffered)


def make_valid_polygon(buf: bytes) -> tuple[list, float]:
    """FULL-polygon ST_MakeValid (ogr/ogrgeometry.cpp:3922): every
    part's outer ring resolves its self-intersections into simple
    rings (recursive bowtie split), every hole likewise, hole pieces
    erase from the part's outer pieces, and overlapping parts of an
    invalid multipolygon union away through the erase-fold. Returns
    (disjoint simple pieces, exact valid area)."""
    from .layer_algebra import _subject_parts

    out_rings: list[np.ndarray] = []
    for outer, holes in _subject_parts(bytes(buf)):
        outer_pieces: list[np.ndarray] = []
        for op_ in geometry.make_valid(outer):
            outer_pieces.append(geometry._open_ring(op_))
        hole_convex: list[np.ndarray] = []
        for h in holes:
            for hp in geometry.make_valid(h):
                hp = geometry._open_ring(hp)
                if geometry.ring_is_convex(hp):
                    hole_convex.append(hp)
                else:
                    hole_convex.extend(geometry.ear_triangulate(hp))
        for op_ in outer_pieces:
            if hole_convex:
                ob = geometry.ring_bbox(op_)
                clips = [
                    hc for hc in hole_convex
                    if not (
                        (b := geometry.ring_bbox(hc))[2] <= ob[0]
                        or ob[2] <= b[0]
                        or b[3] <= ob[1]
                        or ob[3] <= b[1]
                    )
                ]
                out_rings.extend(
                    geometry.erase_poly_convex(op_, clips)
                    if clips else [op_]
                )
            else:
                out_rings.append(op_)
    return union_rings(out_rings)

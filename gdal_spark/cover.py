"""Polygon → mixed-resolution cell covers with full/boundary labels.

This is the engine's replacement for the reference's per-feature
spatial-filter pushdown (OGRLayer::Intersection, ogrlayer.cpp:3345+):
instead of installing each geometry as a filter and nested-looping,
every polygon is decomposed ONCE (driver-side, numpy) into a compact
quadtree cover whose cells are labeled:

  full=True  — the cell rectangle lies strictly inside the polygon
               interior: any point in it is inside with NO exact test
               (the analog of GDAL's prepared-geometry Contains
               pretest, ogrlayer.cpp:3489-3503);
  full=False — the cell touches the polygon boundary: candidate points
               need the exact ray-cast kernel.

The cover is an equi-joinable table (poly_id, cell_id, res, full), so
Catalyst plans the spatial prefilter as a broadcast hash join.
Mixed resolution (coarse interior cells, fine boundary cells) keeps
giant polygons from exploding into millions of rows — the skew defense
mandated by the north rule.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from . import cells, geometry, wkb

INSIDE, OUTSIDE, BOUNDARY = 1, 0, 2
# (cell, edge) lanes per numpy pass: bounds driver memory when big
# frontiers meet rings with many vertices
_LANES = 1 << 20


def _spans(starts: np.ndarray, counts: np.ndarray):
    """Concatenated ranges [start, start + count): (owner, index)."""
    owner = np.repeat(np.arange(counts.size), counts)
    first = np.cumsum(counts) - counts
    return owner, np.repeat(starts - first, counts) + np.arange(owner.size)


class _Rings:
    """Flat edge table over the ring slots of a list of polygon parts.

    Slot 0 of a part is its outer ring, slot k its k-th hole. Each slot
    keeps its bbox (over the ring's vertices) and a run of edges of the
    closed ring in ``ax, ay → bx, by``."""

    def __init__(self, parts: list[list[np.ndarray]]):
        self.n_slots = np.array([len(r) for r in parts], dtype=np.int64)
        self.slot0 = np.cumsum(self.n_slots) - self.n_slots
        bbox, n_edges, pip_ok, hole, ends = [], [], [], [], []
        for rings in parts:
            for k, ring in enumerate(rings):
                ring = np.asarray(ring, dtype=np.float64)
                bbox.append(geometry.ring_bbox(ring))
                # points_in_ring treats a ring of < 3 vertices as empty
                pip_ok.append(ring.shape[0] >= 3)
                hole.append(k > 0)
                if not (ring[0] == ring[-1]).all():
                    ring = np.vstack([ring, ring[:1]])
                n_edges.append(ring.shape[0] - 1)
                ends.append(np.hstack([ring[:-1], ring[1:]]))
        self.bbox = np.array(bbox, dtype=np.float64).reshape(-1, 4)
        self.n_edges = np.array(n_edges, dtype=np.int64)
        self.edge0 = np.cumsum(self.n_edges) - self.n_edges
        self.pip_ok = np.array(pip_ok, dtype=bool)
        self.hole = np.array(hole, dtype=bool)
        self.ax, self.ay, self.bx, self.by = np.vstack(ends).T

    def classify(self, part, minx, miny, maxx, maxy) -> np.ndarray:
        """Rectangle i vs the polygon of part[i]: INSIDE / OUTSIDE /
        BOUNDARY per rectangle.

        Slots decide in order (outer ring, then holes); the first that
        decides wins, and a rectangle no slot decides is INSIDE. The
        outer ring decides OUTSIDE when its bbox misses the rectangle or
        the centre is not inside it; a hole is skipped when its bbox
        misses, and decides OUTSIDE when the centre is inside it. Either
        decides BOUNDARY when an edge crosses the rectangle or its bbox
        lies within the rectangle."""
        rect, slot = _spans(self.slot0[part], self.n_slots[part])
        rx0, ry0, rx1, ry1 = minx[rect], miny[rect], maxx[rect], maxy[rect]
        sx0, sy0, sx1, sy1 = self.bbox[slot].T
        disjoint = (rx0 > sx1) | (rx1 < sx0) | (ry0 > sy1) | (ry1 < sy0)
        within = (sx0 >= rx0) & (sx1 <= rx1) & (sy0 >= ry0) & (sy1 <= ry1)
        cross = np.zeros(slot.size, dtype=bool)
        centre_in = np.zeros(slot.size, dtype=bool)
        near = np.nonzero(~disjoint)[0]
        ends = np.cumsum(self.n_edges[slot[near]])
        lo = 0
        while lo < near.size:
            before = ends[lo - 1] if lo else 0
            hi = max(lo + 1, int(np.searchsorted(ends, before + _LANES, "right")))
            cs = near[lo:hi]
            cross[cs], centre_in[cs] = self._edge_tests(
                slot[cs], rx0[cs], ry0[cs], rx1[cs], ry1[cs]
            )
            lo = hi
        hole = self.hole[slot]
        decision = np.select(
            [
                disjoint & ~hole,
                disjoint,
                cross | within,
                hole & centre_in,
                ~hole & ~centre_in,
            ],
            [OUTSIDE, INSIDE, BOUNDARY, OUTSIDE, OUTSIDE],
            INSIDE,
        )
        decisive = np.nonzero(decision != INSIDE)[0]
        labels = np.full(part.size, INSIDE)
        r, first = np.unique(rect[decisive], return_index=True)
        labels[r] = decision[decisive[first]]
        return labels

    def _edge_tests(self, slot, minx, miny, maxx, maxy):
        """Per (rectangle, slot) pair: does an edge of the slot cross
        the rectangle, and is the rectangle's centre inside the ring
        (points_in_ring's crossing arithmetic)."""
        pair, e = _spans(self.edge0[slot], self.n_edges[slot])
        ax, ay, bx, by = self.ax[e], self.ay[e], self.bx[e], self.by[e]
        lx0, ly0, lx1, ly1 = minx[pair], miny[pair], maxx[pair], maxy[pair]
        # bbox rejection per edge, exact clip for the survivors
        hit = ~(
            (np.maximum(ax, bx) < lx0)
            | (np.minimum(ax, bx) > lx1)
            | (np.maximum(ay, by) < ly0)
            | (np.minimum(ay, by) > ly1)
        )
        hit[hit] = geometry.segs_intersect_rects(
            ax[hit], ay[hit], bx[hit], by[hit],
            lx0[hit], ly0[hit], lx1[hit], ly1[hit],
        )
        cross = np.bincount(pair[hit], minlength=slot.size) > 0

        cx = ((minx + maxx) * 0.5)[pair]
        cy = ((miny + maxy) * 0.5)[pair]
        x1, y1 = bx - cx, by - cy  # segment end
        x2, y2 = ax - cx, ay - cy  # segment start
        straddles = ((y1 > 0) & (y2 <= 0)) | ((y2 > 0) & (y1 <= 0))
        with np.errstate(divide="ignore", invalid="ignore"):
            xint = (x1 * y2 - x2 * y1) / (y2 - y1)
        crossings = np.bincount(
            pair[straddles & (xint > 0.0)], minlength=slot.size
        )
        return cross, (crossings % 2 == 1) & self.pip_ok[slot]


def classify_rect(
    rings: list[np.ndarray], minx: float, miny: float, maxx: float, maxy: float
) -> int:
    """Rectangle vs polygon(outer+holes): INSIDE / OUTSIDE / BOUNDARY."""
    return int(
        _Rings([rings]).classify(
            np.zeros(1, dtype=np.int64),
            *(np.array([v], dtype=np.float64) for v in (minx, miny, maxx, maxy)),
        )[0]
    )


def _cover_parts(parts, res_min: int, res_max: int, max_cells: int):
    """Quadtree refinement of every part at once: (part, cell_id, full).

    Each part starts from the res_min cells over its outer bbox and
    refines BOUNDARY cells until res_max or its cell budget is reached;
    interior cells stay coarse (compact mixed-res cover). Rows come
    per part: full cells in level order, then boundary cells."""
    rings = _Rings(parts)
    start = [
        cells.cover_bbox(*rings.bbox[rings.slot0[p]], res_min)
        for p in range(len(parts))
    ]
    part = np.repeat(np.arange(len(parts)), [c.size for c in start])
    frontier = np.concatenate(start)
    n_full = [0] * len(parts)
    n_boundary = [0] * len(parts)
    kept: list[tuple[np.ndarray, np.ndarray, np.ndarray]] = []
    res = res_min
    while frontier.size:
        labels = rings.classify(part, *cells.cell_bounds(frontier))
        refine = np.zeros(frontier.size, dtype=bool)
        if res < res_max:
            # the budget counts cells in frontier order, so it is an
            # int loop; 4 children enter the next frontier per refined
            # cell and the budget weighs each of those 4 times
            n_refined = [0] * len(parts)
            live = np.nonzero(labels != OUTSIDE)[0]
            for i, p, lab in zip(
                live.tolist(), part[live].tolist(), labels[live].tolist()
            ):
                if lab == INSIDE:
                    n_full[p] += 1
                elif n_full[p] + n_boundary[p] + n_refined[p] * 16 < max_cells:
                    refine[i] = True
                    n_refined[p] += 1
                else:
                    n_boundary[p] += 1
        keep = (labels != OUTSIDE) & ~refine
        kept.append((part[keep], frontier[keep], labels[keep] == INSIDE))
        frontier = cells.children(frontier[refine])
        part = np.repeat(part[refine], 4)
        res += 1
    part, cid, full = (np.concatenate(a) for a in zip(*kept))
    order = np.argsort(part * 2 + ~full, kind="stable")
    return part[order], cid[order], full[order]


def cover_polygon(
    rings: list[np.ndarray],
    res_min: int = 3,
    res_max: int = 9,
    max_cells: int = 1024,
) -> tuple[np.ndarray, np.ndarray]:
    """One polygon (outer + holes) → (cell_ids, full_flags)."""
    _, cid, full = _cover_parts([rings], res_min, res_max, max_cells)
    return cid, full


def _merge_parts(poly, cid, full):
    """Merge the part covers of each polygon: rows keep the order of
    their first occurrence, ``full`` ORs over duplicates, and a cell
    with an ancestor in the same polygon's cover is dropped (multipart
    overlap).

    Keeping the coarsest cell is safe: full ancestors accept outright;
    boundary ancestors route the pair to the exact PIP kernel, which
    evaluates ALL parts of the multipolygon."""
    merged = (
        pd.DataFrame({"poly": poly, "cid": cid, "full": full})
        .groupby(["poly", "cid"], sort=False, as_index=False)["full"]
        .any()
    )
    poly, cid, full = (merged[c].to_numpy() for c in ("poly", "cid", "full"))
    present = pd.MultiIndex.from_arrays([poly, cid])
    res, ix, iy = cells.decode(cid)
    covered = np.zeros(cid.size, dtype=bool)
    for r in np.unique(res)[:-1].tolist():
        finer = res > r
        up = res[finer] - r
        anc = cells.from_rixy(r, ix[finer] >> up, iy[finer] >> up)
        covered[finer] |= pd.MultiIndex.from_arrays([poly[finer], anc]).isin(present)
    return poly[~covered], cid[~covered], full[~covered]


def cover_polygons_pdf(
    polygons: pd.DataFrame,
    res_min: int = 3,
    res_max: int = 9,
    max_cells: int = 1024,
) -> pd.DataFrame:
    """Cover every polygon → (poly_id, cell_id, res, full) rows.

    Runs on the driver: the polygon side is the small/broadcast side by
    design (the indexed side, like GDAL's method layer). Multipolygon
    parts are covered independently, then merged so one polygon never
    emits overlapping cells (a point must match at most ONE cover row
    per polygon — join-fanout invariant)."""
    parts, owner = [], []
    for i, buf in enumerate(polygons["geom_wkb"]):
        for rings in wkb.polygon_rings(bytes(buf)):
            if rings:
                parts.append(rings)
                owner.append(i)
    if parts:
        part, cid, full = _cover_parts(parts, res_min, res_max, max_cells)
        poly, cid, full = _merge_parts(
            np.asarray(owner, dtype=np.int64)[part], cid, full
        )
    else:
        poly = cid = np.empty(0, dtype=np.int64)
        full = np.empty(0, dtype=bool)
    pids = polygons["poly_id"].to_numpy().astype(np.int64)
    return pd.DataFrame(
        {
            "poly_id": pids[poly],
            "cell_id": cid,
            "res": (cid >> 58).astype(np.int32),
            "full": full,
        }
    )

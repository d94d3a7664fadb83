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
import pyarrow as pa

from . import cells, geometry, wkb

INSIDE, OUTSIDE, BOUNDARY = 1, 0, 2
# (cell, edge) lanes per numpy pass: bounds driver memory when big
# frontiers meet rings with many vertices
_LANES = 1 << 20
# A point's cell id (cells.cell_sql) can round across the float bounds
# of cells.cell_bounds, so cells are classified, and edges clipped,
# against the cell widened by this fraction of its size on each side.
_CLIP_MARGIN = 1e-6
# ring slots per BIGINT mask word (the sign bit stays clear)
_WORD_BITS = 63


def _spans(starts: np.ndarray, counts: np.ndarray):
    """Concatenated ranges [start, start + count): (owner, index)."""
    owner = np.repeat(np.arange(counts.size), counts)
    first = np.cumsum(counts) - counts
    return owner, np.repeat(starts - first, counts) + np.arange(owner.size)


def _batches(ends: np.ndarray):
    """[lo, hi) runs of items, ``ends`` their cumulative lane counts:
    about _LANES lanes per run, at least one item."""
    lo = 0
    while lo < ends.size:
        before = ends[lo - 1] if lo else 0
        hi = max(lo + 1, int(np.searchsorted(ends, before + _LANES, "right")))
        yield lo, hi
        lo = hi


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
        self.edge_slot = np.repeat(np.arange(self.n_edges.size), self.n_edges)
        self.pip_ok = np.array(pip_ok, dtype=bool)
        self.hole = np.array(hole, dtype=bool)
        self.ax, self.ay, self.bx, self.by = np.vstack(
            ends or [np.empty((0, 4))]
        ).T

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
        for lo, hi in _batches(np.cumsum(self.n_edges[slot[near]])):
            cs = near[lo:hi]
            cross[cs], centre_in[cs] = self._edge_tests(
                slot[cs], rx0[cs], ry0[cs], rx1[cs], ry1[cs]
            )
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


def _reach(cid):
    """Where the points whose cell id is ``cid`` can lie, as
    (minx, miny, maxx, maxy): the cell's bounds widened by _CLIP_MARGIN
    of its size on each side, and open to infinity on each side on the
    grid's outer ring, past which cell ids clamp out-of-range points
    into the cell."""
    res, ix, iy = cells.decode(cid)
    n = np.left_shift(np.int64(1), res)
    dx, dy = 360.0 * _CLIP_MARGIN / n, 180.0 * _CLIP_MARGIN / n
    x0, y0, x1, y1 = cells.cell_bounds(cid)
    return (
        np.where(ix == 0, -np.inf, x0 - dx),
        np.where(iy == 0, -np.inf, y0 - dy),
        np.where(ix == n - 1, np.inf, x1 + dx),
        np.where(iy == n - 1, np.inf, y1 + dy),
    )


def _cover_parts(rings: _Rings, res_min: int, res_max: int, max_cells: int):
    """Quadtree refinement of every part at once: (part, cell_id, full).

    Each part starts from the res_min cells over its outer bbox and
    refines BOUNDARY cells until res_max or its cell budget is reached;
    interior cells stay coarse (compact mixed-res cover). Rows come
    per part: full cells in level order, then boundary cells. A full
    cell holds every point that rounds into it; a cell on the grid's
    outer ring reaches to infinity (``_reach``), so it is never full,
    and it meets a polygon that lies past the grid's edge."""
    n_parts = rings.n_slots.size
    start = [
        cells.cover_bbox(*rings.bbox[rings.slot0[p]], res_min)
        for p in range(n_parts)
    ]
    part = np.repeat(np.arange(n_parts), [c.size for c in start])
    frontier = np.concatenate(start)
    n_full = [0] * n_parts
    n_boundary = [0] * n_parts
    kept: list[tuple[np.ndarray, np.ndarray, np.ndarray]] = []
    res = res_min
    while frontier.size:
        labels = rings.classify(part, *_reach(frontier))
        refine = np.zeros(frontier.size, dtype=bool)
        if res < res_max:
            # the budget counts cells in frontier order, so it is an
            # int loop; 4 children enter the next frontier per refined
            # cell and the budget weighs each of those 4 times
            n_refined = [0] * n_parts
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
    _, cid, full = _cover_parts(_Rings([rings]), res_min, res_max, max_cells)
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


def _cover_rows(polygons: pd.DataFrame, res_min, res_max, max_cells):
    """(rings, owner, poly, cell_id, full): the ring table of every
    non-empty polygon part, the polygon row of each part, and the merged
    cover rows with ``poly`` a polygon row."""
    parts, owner = [], []
    for i, buf in enumerate(polygons["geom_wkb"]):
        for rings in wkb.polygon_rings(bytes(buf)):
            if rings:
                parts.append(rings)
                owner.append(i)
    owner = np.asarray(owner, dtype=np.int64)
    rings = _Rings(parts)
    if not parts:
        none = np.empty(0, dtype=np.int64)
        return rings, owner, none, none, np.empty(0, dtype=bool)
    part, cid, full = _cover_parts(rings, res_min, res_max, max_cells)
    return (rings, owner, *_merge_parts(owner[part], cid, full))


def _cover_columns(polygons: pd.DataFrame, poly, cid, full) -> dict:
    pids = polygons["poly_id"].to_numpy().astype(np.int64)
    return {
        "poly_id": pids[poly],
        "cell_id": cid,
        "res": (cid >> 58).astype(np.int32),
        "full": full,
    }


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
    _, _, poly, cid, full = _cover_rows(polygons, res_min, res_max, max_cells)
    return pd.DataFrame(_cover_columns(polygons, poly, cid, full))


def word_name(name: str, word: int) -> str:
    """Column or field ``name`` of mask word ``word``: word 0 keeps the
    bare name, word k > 0 gets the suffix ``_k``."""
    return f"{name}_{word}" if word else name


def refine_cover(
    polygons: pd.DataFrame,
    res_min: int = 3,
    res_max: int = 9,
    max_cells: int = 1024,
) -> tuple[pa.Table, int]:
    """The rows of :func:`cover_polygons_pdf` with what the exact
    point-in-polygon test of a boundary row needs, and the number W of
    BIGINT mask words.

    A full row carries nulls. A boundary row numbers the ring slots of
    its polygon that a rightward ray from inside its cell can cross,
    bit ``n % 63`` of word ``n // 63`` for slot n, and carries:

    - per word k, the column ``word_name("edges", k)``:
      array<struct<ax, ay, bx, by, bit>>, every edge of those slots in
      word k that meets the cell's y-range and does not lie wholly left
      of it, with its slot's bit. Both tests are widened by the clip
      margin, and the grid's outer cells stay open outwards, because
      cell ids clamp there;
    - ``parts``: array<struct<x0, y0, x1, y1, outer, holes>>, one per
      polygon part: the outer ring's bbox (points_in_polygon's envelope
      pretest), and per word k the fields ``word_name("outer", k)``,
      the outer ring's bit, and ``word_name("holes", k)``, the OR of
      its holes' bits.

    A slot with no kept edge has no crossing from any point of the
    cell. It is not numbered, and when it is an outer ring, neither is
    any slot of its part."""
    rings, owner, poly, cid, full = _cover_rows(
        polygons, res_min, res_max, max_cells
    )
    bnd = np.nonzero(~full)[0]
    row, edge = _clip_edges(rings, owner, len(polygons), poly[bnd], cid[bnd])
    n_slots = rings.n_edges.size
    outer_of_slot = np.repeat(rings.slot0, rings.n_slots)
    # (row, slot) keys of the numbered slots, sorted
    lane = row * n_slots + rings.edge_slot[edge]
    key = np.unique(lane)
    r, s = np.divmod(key, n_slots)
    key = key[np.isin(r * n_slots + outer_of_slot[s], key)]
    r, s = np.divmod(key, n_slots)
    word, bit = np.divmod(np.arange(key.size) - np.searchsorted(r, r), _WORD_BITS)
    bit = np.left_shift(np.int64(1), bit)
    n_words = 1 + int(word.max()) if word.size else 1

    numbered = np.isin(lane, key)
    row, edge = row[numbered], edge[numbered]
    at = np.searchsorted(key, lane[numbered])
    nulls = pa.array(full)
    table = pa.table(_cover_columns(polygons, poly, cid, full))
    for k in range(n_words):
        e = word[at] == k
        table = table.append_column(word_name("edges", k), _row_lists(
            nulls, bnd, row[e],
            ax=rings.ax[edge[e]], ay=rings.ay[edge[e]],
            bx=rings.bx[edge[e]], by=rings.by[edge[e]], bit=bit[at[e]],
        ))
    outer = np.nonzero(~rings.hole[s])[0]
    hole = np.nonzero(rings.hole[s])[0]
    part = np.searchsorted(key[outer], r[hole] * n_slots + outer_of_slot[s[hole]])
    fields = dict(zip(("x0", "y0", "x1", "y1"), rings.bbox[s[outer]].T))
    for k in range(n_words):
        fields[word_name("outer", k)] = np.where(word[outer] == k, bit[outer], 0)
        holes = np.zeros(outer.size, dtype=np.int64)
        h = word[hole] == k
        np.bitwise_or.at(holes, part[h], bit[hole[h]])
        fields[word_name("holes", k)] = holes
    table = table.append_column("parts", _row_lists(nulls, bnd, r[outer], **fields))
    return table, n_words


def _clip_edges(rings: _Rings, owner, n_poly: int, poly, cid):
    """(row, edge) of every edge of polygon row ``poly[row]`` that a
    rightward ray from inside cell ``cid[row]`` can cross, in row then
    edge order. Rings of fewer than 3 vertices have no crossings."""
    poly_of_edge = owner[np.repeat(np.arange(owner.size), rings.n_slots)][
        rings.edge_slot
    ]
    edge0 = np.searchsorted(poly_of_edge, np.arange(n_poly))
    n_edges = np.bincount(poly_of_edge, minlength=n_poly)[poly]
    x0, y0, _, y1 = _reach(cid)
    rows, edges = [np.empty(0, dtype=np.int64)], [np.empty(0, dtype=np.int64)]
    for lo, hi in _batches(np.cumsum(n_edges)):
        row, e = _spans(edge0[poly[lo:hi]], n_edges[lo:hi])
        row += lo
        ay, by = rings.ay[e], rings.by[e]
        keep = (
            rings.pip_ok[rings.edge_slot[e]]
            & (np.maximum(ay, by) >= y0[row])
            & (np.minimum(ay, by) <= y1[row])
            & (np.maximum(rings.ax[e], rings.bx[e]) >= x0[row])
        )
        rows.append(row[keep])
        edges.append(e[keep])
    return np.concatenate(rows), np.concatenate(edges)


def _row_lists(null: pa.Array, bnd, row, **fields) -> pa.ListArray:
    """One list of structs per cover row, null where ``null`` is set:
    boundary row ``bnd[i]`` holds the items with ``row == i`` (``row``
    is sorted)."""
    counts = np.zeros(len(null), dtype=np.int32)
    counts[bnd] = np.bincount(row, minlength=bnd.size)
    offsets = np.concatenate([[0], np.cumsum(counts)]).astype(np.int32)
    values = pa.StructArray.from_arrays(
        [pa.array(v) for v in fields.values()], names=list(fields)
    )
    return pa.ListArray.from_arrays(pa.array(offsets), values, mask=null)

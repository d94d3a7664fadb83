"""Layer algebra with geometric output (polygon × polygon).

Spark re-expression of the reference's OGRLayer::Intersection
(ogr/ogrlayer.cpp:3345) and Clip (:5497), plus the ST predicate
matrix, the line × polygon clip and the ST_Union dissolve; semantics
corpus autotest/ogr/ogr_layer_algebra.py.

The reference runs a nested loop with per-feature spatial-index
pushdown and hands each surviving pair to GEOS. Here the big side (A)
is a DataFrame, the method side (B) a small broadcast polygon set
(the STRtree-broadcast pattern of the spatial join), and the pieces
come from ``geometry.clip_poly_convex`` (Sutherland-Hodgman), so each
row carries a REAL result geometry (WKB), not just row semantics.
Concave method polygons are handled by ear-clipping them into
disjoint triangles at broadcast build (geometry.ear_triangulate):
piece areas then sum exactly; convex rings keep the single-clip fast
path. ``intersection_join`` lifts the B-fits-on-driver limit with a
grid-cell equi-join.

Scale: A never collects; per-pair work is bbox-prefiltered against the
broadcast B set (envelope pretest, ogrlayer.cpp:3427).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .. import geometry, wkb
from ..strtree import STRtree

PIECE_SCHEMA = "a_id long, b_id long, piece_wkb binary, area double"


def _b_rings(b_pdf: pd.DataFrame, id_col: str = "poly_id"):
    """Decode the broadcast side once: [(b_id, open_ring, bbox)] —
    FIRST outer ring only (predicate_pairs' single-ring contract)."""
    out = []
    for pid, buf in zip(b_pdf[id_col], b_pdf["geom_wkb"]):
        ring = wkb.polygon_rings(bytes(buf))[0][0]
        opened = geometry._open_ring(ring)
        bb = geometry.ring_bbox(opened)
        out.append((int(pid), opened, bb))
    return out


def _decompose_full(buf: bytes):
    """Full (multi)polygon WKB → (simple_pieces, convex_pieces, bbox,
    area): simple_pieces are disjoint hole-free rings tiling
    (outer − holes) over every part; convex_pieces further split the
    concave ones for use as Sutherland-Hodgman clip windows. Piece
    areas sum exactly to the polygon area either way."""
    simple: list[np.ndarray] = []
    bb = None
    for outer, holes in _subject_parts(buf):
        pieces = (
            geometry.erase_poly_simple(outer, holes) if holes else [outer]
        )
        simple.extend(
            p for p in pieces
            if len(p) >= 3
            and abs(geometry.ring_area(np.vstack([p, p[:1]]))) > 0.0
        )
        ob = geometry.ring_bbox(outer)
        bb = ob if bb is None else (
            min(bb[0], ob[0]), min(bb[1], ob[1]),
            max(bb[2], ob[2]), max(bb[3], ob[3]),
        )
    convex: list[np.ndarray] = []
    for r in simple:
        if geometry.ring_is_convex(r):
            convex.append(r)
        else:
            convex.extend(geometry.ear_triangulate(r))
    area = geometry.pieces_area(simple)
    return simple, convex, bb, area


class _BSet:
    """Broadcast payload for the method (B) layer: full geometries —
    holes and multiparts included (the r02 gap: only the first outer
    ring was decoded, so donut B's clipped as if solid; reference
    handles arbitrary geometries via GEOS, ogr/ogrlayer.cpp:3489-3503)
    — indexed by an STR-packed bbox R-tree so per-A candidate lookup
    is O(log |B|), not a linear scan (reference analog: per-feature
    spatial-index pushdown, ogrlayer.cpp:3427)."""

    def __init__(self, b_pdf: pd.DataFrame, id_col: str = "poly_id"):
        self.ids: list[int] = []
        self.simple: list[list[np.ndarray]] = []
        self.convex: list[list[np.ndarray]] = []
        self.rings: list[list[np.ndarray]] = []  # true boundary rings
        self.wkbs: list[bytes] = []
        self.areas: list[float] = []
        boxes = []
        for pid, buf in zip(b_pdf[id_col], b_pdf["geom_wkb"]):
            s, c, bb, area = _decompose_full(bytes(buf))
            if bb is None:
                continue
            self.ids.append(int(pid))
            self.simple.append(s)
            self.convex.append(c)
            self.rings.append([
                geometry._open_ring(r)
                for part in wkb.polygon_rings(bytes(buf))
                for r in part
            ])
            self.wkbs.append(bytes(buf))
            self.areas.append(area)
            boxes.append(bb)
        self.boxes = np.array(boxes, dtype=np.float64).reshape(-1, 4)
        self.tree = STRtree(self.boxes)

    def candidates(self, bb) -> np.ndarray:
        """Indices of B features whose bbox meets ``bb``."""
        return self.tree.query(bb[0], bb[1], bb[2], bb[3])


def _subject_parts(buf: bytes):
    """Decode a (multi)polygon WKB into [(outer_ring, [hole_rings])]
    open-ring parts — the full subject geometry, not just the first
    outer ring."""
    out = []
    for part in wkb.polygon_rings(bytes(buf)):
        outer = geometry._open_ring(part[0])
        holes = [geometry._open_ring(h) for h in part[1:]]
        out.append((outer, holes))
    return out


def _clip_part(outer, holes, clip_pieces):
    """(outer − holes) ∩ clip_pieces as disjoint piece rings: clip the
    outer by each convex piece, then subtract the holes from every
    resulting piece (holes lie inside the outer, so piece-wise
    subtraction stays exact)."""
    pieces = []
    for cp in clip_pieces:
        p = geometry.clip_poly_convex(outer, cp)
        if len(p) < 3:
            continue
        if holes:
            pieces.extend(geometry.erase_poly_simple(p, holes))
        else:
            pieces.append(p)
    return pieces


def _piece_rows(a_id, b_id, pieces):
    rows = []
    for p in pieces:
        if len(p) < 3:
            continue
        area = abs(geometry.ring_area(np.vstack([p, p[:1]])))
        rows.append(
            (a_id, b_id, wkb.polygon([np.vstack([p, p[:1]])]), area)
        )
    return rows


def intersection_pieces(
    a_df: DataFrame,
    b_pdf: pd.DataFrame,
    id_col: str = "a_id",
    b_id_col: str = "poly_id",
    min_area: float = 0.0,
) -> DataFrame:
    """A ∩ B per overlapping pair → (a_id, b_id, piece_wkb, area).

    OGRLayer::Intersection / Clip geometry path (Clip keeps only A's
    attributes — same rows, caller drops b_id). B geometries are full:
    concave rings, holes, and multiparts all decompose to disjoint
    convex clip pieces at broadcast build — a pair's intersection
    emits one row per disjoint piece (areas sum exactly), and a donut
    B's hole interiors are correctly excluded. Candidate B's come from
    the broadcast STRtree (O(log |B|) per A part)."""
    spark = a_df.sparkSession
    brc = spark.sparkContext.broadcast(_BSet(b_pdf, b_id_col))

    def run(batches):
        bset = brc.value
        for pdf in batches:
            rows = []
            for aid, buf in zip(pdf[id_col], pdf["geom_wkb"]):
                for outer, holes in _subject_parts(buf):
                    bb = geometry.ring_bbox(outer)
                    for bi in bset.candidates(bb):
                        inters = _clip_part(outer, holes, bset.convex[bi])
                        for row in _piece_rows(
                            int(aid), bset.ids[bi], inters
                        ):
                            if row[3] > min_area:
                                rows.append(row)
            yield pd.DataFrame(
                rows, columns=["a_id", "b_id", "piece_wkb", "area"]
            )

    return a_df.select(id_col, "geom_wkb").mapInPandas(run, PIECE_SCHEMA)


def predicate_pairs(
    a_df: DataFrame,
    b_pdf: pd.DataFrame,
    id_col: str = "a_id",
    b_id_col: str = "poly_id",
    dense: bool = False,
) -> DataFrame:
    """ST predicate matrix per bbox-overlapping (A, B) pair →
    (a_id, b_id, intersects, .., crosses) as 0/1 longs — the
    polygon×polygon half of the SQLite-dialect predicate registry
    (ogr/ogrsqlitesqlfunctions.cpp:876-883).

    SPARSE by default (the scale-safe contract): only pairs whose
    envelopes overlap are emitted; a consumer treats an absent pair
    as disjoint. At 100 TB the dense matrix's |A|·|B| output — rows
    of mostly ``disjoint=1`` — is the bottleneck regardless of how
    cheap each row is to compute; the envelope pretest
    (ogrlayer.cpp:3427) already proves the absent rows' entire
    predicate vector, so materializing them adds no information.
    ``dense=True`` restores the full-matrix output for consumers that
    require it (small B only)."""
    spark = a_df.sparkSession
    brc = spark.sparkContext.broadcast(_b_rings(b_pdf, b_id_col))
    preds = geometry._PREDICATES
    # st_ prefix: bare names like "within"/"contains" collide with SQL
    # keywords in the oracle dialect
    cols = [f"st_{p}" for p in preds]
    schema = "a_id long, b_id long, " + ", ".join(
        f"{c} long" for c in cols
    )

    # predicate vector of a bbox-disjoint pair — no kernel needed
    disjoint_row = tuple(int(p == "disjoint") for p in preds)

    def run(batches):
        bset = brc.value
        for pdf in batches:
            rows = []
            for aid, buf in zip(pdf[id_col], pdf["geom_wkb"]):
                ring = geometry._open_ring(
                    wkb.polygon_rings(bytes(buf))[0][0]
                )
                ax0, ay0, ax1, ay1 = geometry.ring_bbox(ring)
                for bid, bring, (bx0, by0, bx1, by1) in bset:
                    # envelope pretest (ogrlayer.cpp:3427): disjoint
                    # envelopes are proven disjoint — dropped in
                    # sparse mode, emitted kernel-free in dense mode
                    if (bx1 < ax0 or bx0 > ax1
                            or by1 < ay0 or by0 > ay1):
                        if dense:
                            rows.append((int(aid), bid, *disjoint_row))
                        continue
                    d = geometry.polygon_pair_predicates(ring, bring)
                    rows.append(
                        (int(aid), bid, *[int(d[p]) for p in preds])
                    )
            yield pd.DataFrame(
                rows, columns=["a_id", "b_id", *cols]
            )

    return a_df.select(id_col, "geom_wkb").mapInPandas(run, schema)


def predicate_pairs_join(
    a_df: DataFrame,
    b_df: DataFrame,
    id_a: str = "a_id",
    id_b: str = "b_id",
    cell: float = 32.0,
) -> DataFrame:
    """DataFrame×DataFrame ST predicate matrix — sparse only: the
    same grid-cell-cover equi-join prefilter as
    :func:`intersection_join` (no cross join, no driver-resident B),
    then the polygon-pair kernel per surviving candidate. Candidates
    whose exact envelopes don't overlap are dropped before the
    kernel; consumers treat an absent (a, b) pair as disjoint. Output
    cardinality is bounded by grid-cover candidates, never |A|·|B|."""
    preds = geometry._PREDICATES
    cols = [f"st_{p}" for p in preds]
    schema = "a_id long, b_id long, " + ", ".join(
        f"{c} long" for c in cols
    )
    pairs = _cell_cover_pairs(a_df, b_df, id_a, id_b, cell)
    a_geo = a_df.select(F.col(id_a), F.col("geom_wkb").alias("a_wkb"))
    b_geo = b_df.select(F.col(id_b), F.col("geom_wkb").alias("b_wkb"))
    paired = pairs.join(a_geo, id_a).join(b_geo, id_b)

    def run(batches):
        for pdf in batches:
            rows = []
            for aid, bid, abuf, bbuf in zip(
                pdf[id_a], pdf[id_b], pdf["a_wkb"], pdf["b_wkb"]
            ):
                aring = geometry._open_ring(
                    wkb.polygon_rings(bytes(abuf))[0][0]
                )
                bring = geometry._open_ring(
                    wkb.polygon_rings(bytes(bbuf))[0][0]
                )
                ax0, ay0, ax1, ay1 = geometry.ring_bbox(aring)
                bx0, by0, bx1, by1 = geometry.ring_bbox(bring)
                if (bx1 < ax0 or bx0 > ax1
                        or by1 < ay0 or by0 > ay1):
                    continue  # cell-coarse candidate, envelope-exact no
                d = geometry.polygon_pair_predicates(aring, bring)
                rows.append(
                    (int(aid), int(bid), *[int(d[p]) for p in preds])
                )
            yield pd.DataFrame(rows, columns=["a_id", "b_id", *cols])

    out = paired.mapInPandas(run, schema)
    if id_a != "a_id" or id_b != "b_id":
        out = out.withColumnRenamed("a_id", id_a).withColumnRenamed(
            "b_id", id_b
        )
    return out


# ---------------------------------------------------------------------------
# line × polygon (KEEP_LOWER_DIMENSION_GEOMETRIES family)
# ---------------------------------------------------------------------------

LINE_PIECE_SCHEMA = "line_id long, b_id long, piece_wkb binary, length double"


def _line_parts(buf: bytes) -> list[np.ndarray]:
    """LINESTRING / MULTILINESTRING WKB → list of (M, 2) vertex arrays."""
    gtype, payload = wkb.parse(bytes(buf))
    if gtype == wkb.LINESTRING:
        return [payload]
    if gtype == wkb.MULTILINESTRING:
        return list(payload)
    raise ValueError(f"not a line geometry: type {gtype}")


def _seg_arrays(parts: list[np.ndarray]):
    """Polyline parts → stacked (p1s, p2s) segment endpoint arrays."""
    p1, p2 = [], []
    for v in parts:
        if len(v) < 2:
            continue
        p1.append(v[:-1])
        p2.append(v[1:])
    if not p1:
        return np.empty((0, 2)), np.empty((0, 2))
    return np.vstack(p1), np.vstack(p2)


def _pair_intervals(p1s, p2s, pieces) -> list[list[tuple]]:
    """Per segment: [(t0, t1)] intervals inside the union of the
    DISJOINT convex pieces (piece interiors are disjoint, so interval
    interiors are too — lengths sum exactly)."""
    out: list[list[tuple]] = [[] for _ in range(len(p1s))]
    for cp in pieces:
        t0, t1, ok = geometry.clip_segments_convex(p1s, p2s, cp)
        for k in np.nonzero(ok & (t1 > t0))[0]:
            out[int(k)].append((float(t0[k]), float(t1[k])))
    return out


def clip_line_pieces(
    lines_df: DataFrame,
    b_pdf: pd.DataFrame,
    id_col: str = "line_id",
    b_id_col: str = "poly_id",
) -> DataFrame:
    """Line-layer ∩ polygon-layer with KEEP_LOWER_DIMENSION_GEOMETRIES
    (ogr/ogrlayer.cpp:3514-3541): per overlapping (line, B) pair the
    clipped sub-segments as LINESTRING WKB + exact length → (line_id,
    b_id, piece_wkb, length). Holed/multipart B handled through the
    disjoint convex decomposition (a donut's hole interior clips
    AWAY). Candidates from the broadcast STRtree."""
    spark = lines_df.sparkSession
    brc = spark.sparkContext.broadcast(_BSet(b_pdf, b_id_col))

    def run(batches):
        bset = brc.value
        for pdf in batches:
            rows = []
            for lid, buf in zip(pdf[id_col], pdf["geom_wkb"]):
                p1s, p2s = _seg_arrays(_line_parts(buf))
                if not len(p1s):
                    continue
                bb = (
                    min(p1s[:, 0].min(), p2s[:, 0].min()),
                    min(p1s[:, 1].min(), p2s[:, 1].min()),
                    max(p1s[:, 0].max(), p2s[:, 0].max()),
                    max(p1s[:, 1].max(), p2s[:, 1].max()),
                )
                d = p2s - p1s
                seg_len = np.sqrt((d * d).sum(axis=1))
                for bi in bset.candidates(bb):
                    for k, ivs in enumerate(
                        _pair_intervals(p1s, p2s, bset.convex[bi])
                    ):
                        for t0, t1 in ivs:
                            a = p1s[k] + t0 * d[k]
                            b = p1s[k] + t1 * d[k]
                            rows.append((
                                int(lid), bset.ids[bi],
                                wkb.linestring([a, b]),
                                (t1 - t0) * float(seg_len[k]),
                            ))
            yield pd.DataFrame(
                rows,
                columns=["line_id", "b_id", "piece_wkb", "length"],
            )

    return lines_df.select(id_col, "geom_wkb").mapInPandas(
        run, LINE_PIECE_SCHEMA
    )


# ---------------------------------------------------------------------------
# DataFrame × DataFrame layer algebra (no B-fits-on-driver limit)
# ---------------------------------------------------------------------------


def _grid_cells_for_bbox(bb, cell: float):
    """All (ix, iy) grid cells intersecting bbox ``bb``."""
    ix0 = int(np.floor(bb[0] / cell))
    ix1 = int(np.floor(bb[2] / cell))
    iy0 = int(np.floor(bb[1] / cell))
    iy1 = int(np.floor(bb[3] / cell))
    return [
        (ix, iy)
        for ix in range(ix0, ix1 + 1)
        for iy in range(iy0, iy1 + 1)
    ]


def _cell_key(ix: int, iy: int) -> int:
    return (ix + (1 << 20)) * (1 << 21) + (iy + (1 << 20))


def _cell_cover_pairs(
    a_df: DataFrame,
    b_df: DataFrame,
    id_a: str,
    id_b: str,
    cell: float,
) -> DataFrame:
    """Shared candidate prefilter for the DF×DF spatial operators:
    each side maps to (cell_id, id) grid-cover rows (narrow
    mapInPandas, fanout = cells per feature bbox), an EQUI-join on
    cell_id co-locates candidates (shuffle on cell keys — no cross
    join, no broadcast), then (a, b) dedupes. Output is the candidate
    pair set; exact-geometry tests run downstream."""

    def cover(idc):
        def run(batches):
            for pdf in batches:
                ids, keys = [], []
                for rid, buf in zip(pdf[idc], pdf["geom_wkb"]):
                    bb = None
                    for part in wkb.polygon_rings(bytes(buf)):
                        ob = geometry.ring_bbox(
                            geometry._open_ring(part[0])
                        )
                        bb = ob if bb is None else (
                            min(bb[0], ob[0]), min(bb[1], ob[1]),
                            max(bb[2], ob[2]), max(bb[3], ob[3]),
                        )
                    if bb is None:
                        continue
                    for ix, iy in _grid_cells_for_bbox(bb, cell):
                        ids.append(int(rid))
                        keys.append(_cell_key(ix, iy))
                yield pd.DataFrame({idc: ids, "cell_id": keys})

        return run

    a_cells = a_df.select(id_a, "geom_wkb").mapInPandas(
        cover(id_a), f"{id_a} long, cell_id long"
    )
    b_cells = b_df.select(id_b, "geom_wkb").mapInPandas(
        cover(id_b), f"{id_b} long, cell_id long"
    )
    return (
        a_cells.join(b_cells, "cell_id")
        .select(id_a, id_b)
        .distinct()
    )


def intersection_join(
    a_df: DataFrame,
    b_df: DataFrame,
    id_a: str = "a_id",
    id_b: str = "b_id",
    cell: float = 32.0,
    min_area: float = 0.0,
) -> DataFrame:
    """A ∩ B where BOTH layers are DataFrames — the r02 gap: every
    layer-algebra mode took ``b_pdf: pd.DataFrame`` (method layer had
    to fit on the driver and broadcast), while the reference's nested
    loop works on any two layers (ogr/ogrlayer.cpp:3345 with
    per-feature spatial-filter pushdown :3450). At 100 TB both layers
    are big.

    Plan: each side maps to (cell_id, id) grid-cover rows (a narrow
    mapInPandas — fanout = cells per feature bbox); an EQUI-join on
    cell_id co-locates candidate pairs (shuffle on cell keys, no
    cross join, no broadcast of B); pairs dedupe on (a_id, b_id); the
    two geometries join back by id and the per-pair convex-piece clip
    kernel (the same one the broadcast path uses) runs in a final
    mapInPandas. Skewed hot cells are bounded by the ``cell`` size
    parameter (smaller cells → finer candidate pruning) and AQE skew
    splitting on the pair shuffle.

    Returns (a_id, b_id, piece_wkb, area) disjoint intersection
    pieces — holed/multipart geometries on BOTH sides handled via
    _decompose_full / _subject_parts."""
    pairs = _cell_cover_pairs(a_df, b_df, id_a, id_b, cell)
    a_geo = a_df.select(
        F.col(id_a), F.col("geom_wkb").alias("a_wkb")
    )
    b_geo = b_df.select(
        F.col(id_b), F.col("geom_wkb").alias("b_wkb")
    )
    paired = pairs.join(a_geo, id_a).join(b_geo, id_b)

    def clip(batches):
        for pdf in batches:
            rows = []
            bcache: dict[bytes, list] = {}
            for aid, bid, abuf, bbuf in zip(
                pdf[id_a], pdf[id_b], pdf["a_wkb"], pdf["b_wkb"]
            ):
                key = bytes(bbuf)
                if key not in bcache:
                    _, convex, _, _ = _decompose_full(key)
                    bcache[key] = convex
                convex = bcache[key]
                for outer, holes in _subject_parts(bytes(abuf)):
                    for row in _piece_rows(
                        int(aid), int(bid),
                        _clip_part(outer, holes, convex),
                    ):
                        if row[3] > min_area:
                            rows.append(row)
            yield pd.DataFrame(
                rows, columns=["a_id", "b_id", "piece_wkb", "area"]
            )

    out = paired.mapInPandas(clip, PIECE_SCHEMA)
    if id_a != "a_id" or id_b != "b_id":
        out = out.withColumnRenamed("a_id", id_a).withColumnRenamed(
            "b_id", id_b
        )
    return out


class _AccIndex:
    """Amortized bbox index for the dissolve accumulator: an STRtree
    over the pieces present at the last rebuild plus a linear tail of
    recent inserts; rebuilt when the tail outgrows the indexed part
    (O(n log n) total build work). Turns the fold's per-piece
    candidate lookup from O(pieces) into O(log pieces + hits) — the
    hot-key dissolve is no longer quadratic in accumulated pieces."""

    def __init__(self):
        self.boxes: list[tuple] = []
        self._tree = None
        self._built_n = 0

    def add(self, box: tuple) -> None:
        self.boxes.append(box)

    def query(self, sb: tuple) -> list[int]:
        from ..strtree import STRtree

        n = len(self.boxes)
        if n - self._built_n > max(64, self._built_n):
            self._tree = STRtree(np.array(self.boxes))
            self._built_n = n
        hits: list[int] = []
        if self._tree is not None:
            for i in self._tree.query(sb[0], sb[1], sb[2], sb[3]):
                cb = self.boxes[int(i)]
                # strict-overlap refilter (the tree test is inclusive)
                if not (
                    cb[2] <= sb[0] or sb[2] <= cb[0]
                    or cb[3] <= sb[1] or sb[3] <= cb[1]
                ):
                    hits.append(int(i))
        for i in range(self._built_n, n):
            cb = self.boxes[i]
            if not (
                cb[2] <= sb[0] or sb[2] <= cb[0]
                or cb[3] <= sb[1] or sb[3] <= cb[1]
            ):
                hits.append(i)
        return hits


def dissolve(
    df: DataFrame,
    key_col: str = "key",
    wkb_col: str = "geom_wkb",
    prefold_salts: int | None = 16,
    prefold_threshold: int = 64,
) -> DataFrame:
    """ST_Union aggregate / dissolve-by-attribute: union every
    (multi)polygon sharing a key into one geometry per key →
    (key, area, n_geoms, geom_wkb).

    Reference: the SQLite-dialect aggregate ST_Union behind
    ``ogr2ogr ... "SELECT ST_Union(geometry) ... GROUP BY attr"``
    (GEOS cascaded union per group); semantics corpus
    autotest/ogr/ogr_sql_sqlite.py. Each incoming geometry decomposes
    to disjoint hole-free pieces (``_decompose_full``: holes and
    multiparts handled exactly) and only the part NOT already covered
    joins the accumulated union (``erase_poly_convex`` against the
    union's convex decomposition, candidates via the amortized
    :class:`_AccIndex` STRtree), so piece areas sum to the exact
    union area no matter how the inputs overlap.

    Scale shape (DEFAULT): ADAPTIVE, AQE-style. Calling ``dissolve``
    runs ONE cheap eager count job (map-side combine — only
    (key, partial-count) pairs cross its shuffle; on parquet sources
    the scan prunes to the key column) to find HOT keys, those with
    more than ``prefold_threshold`` rows. No hot keys → the plan IS
    the single-shuffle plan: one groupBy(key) fold, no salt column,
    no second Arrow stage. With hot keys (at most N/threshold of
    them — enumerable; past a 10⁶ cap the plan falls back to salting
    every row) the fold runs in TWO LEVELS: a pre-fold per
    (key, salt-of-geometry) group bounds the hot level-1 task to
    ~1/``prefold_salts`` of its group, then a per-key re-fold merges
    at most ``prefold_salts`` pre-unions — a country-sized hot key no
    longer serializes one task for its whole group, while cold keys
    pre-fold whole (salt 0) and the re-fold passes their single
    pre-row through untouched. ``prefold_salts=None`` forces the
    single-shuffle plan unconditionally (and skips the count job).

    The emitted multipolygon is a disjoint TILING of the union (piece
    boundaries are not dissolved away) — area-exact and PIP-exact,
    which is what every downstream operator here consumes; minimal
    boundary extraction is the polygonize ring-tracing problem and
    lives there. The tiling (not its area) may differ between the
    one- and two-level plans — fold order changes which erase residue
    pieces appear, never what region they cover.
    """

    def fold(pdf: pd.DataFrame) -> pd.DataFrame:
        acc_simple: list[np.ndarray] = []
        acc_convex: list[np.ndarray] = []
        idx = _AccIndex()
        n = 0
        has_n = "n_geoms" in pdf.columns
        for pos, buf in enumerate(pdf[wkb_col]):
            simple, _convex, _bb, _area = _decompose_full(bytes(buf))
            n += int(pdf["n_geoms"].iloc[pos]) if has_n else 1
            for s in simple:
                sb = geometry.ring_bbox(s)
                clips = [acc_convex[i] for i in idx.query(sb)]
                residue = (
                    geometry.erase_poly_convex(s, clips) if clips
                    else [geometry._open_ring(s)]
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
        area = geometry.pieces_area(acc_simple)
        buf = wkb.multipolygon(
            [[np.vstack([p, p[:1]])] for p in acc_simple]
        )
        return pd.DataFrame(
            {
                "key": [pdf[key_col].iloc[0]],
                "area": [area],
                "n_geoms": [n],
                "geom_wkb": [buf],
            }
        )

    out_schema = "key long, area double, n_geoms long, geom_wkb binary"
    src = df.select(
        F.col(key_col).cast("long").alias(key_col), wkb_col
    )
    if prefold_salts is None:
        return src.groupBy(key_col).applyInPandas(fold, out_schema)

    # ADAPTIVE two-level fold: only keys with more than
    # ``prefold_threshold`` rows take the salted pre-fold + re-fold
    # path; every other key folds exactly once and passes through —
    # restoring the single-shuffle cost for even key distributions
    # while keeping the hot-key task bound.  The count pass shuffles
    # only (key, partial-count) pairs (map-side combine), and the hot
    # list is provably small — at most N/threshold keys — so it
    # broadcasts; no data-sized geometry bytes move for the decision.
    HOT_CAP = 1_000_000  # hot keys we'll enumerate on the driver
    hot_rows = (
        src.groupBy(key_col)
        .agg(F.count(F.lit(1)).alias("__cnt"))
        .filter(F.col("__cnt") > F.lit(int(prefold_threshold)))
        .select(key_col)
        .limit(HOT_CAP + 1)
        .collect()
    )
    if not hot_rows:
        # no skew anywhere: the single-shuffle plan IS the fastest
        # correct plan — no salt column, no second Exchange, no
        # second Arrow stage
        return src.groupBy(key_col).applyInPandas(fold, out_schema)

    if len(hot_rows) > HOT_CAP:
        # pathological "everything is hot": enumerating keys stops
        # paying — salt every row (the unconditional two-level plan)
        salt_expr = F.pmod(
            F.xxhash64(F.col(wkb_col)), F.lit(int(prefold_salts))
        )
    else:
        hot_df = src.sparkSession.createDataFrame(
            # a NULL hot key can't equi-join anyway; it stays on the
            # cold (salt-0) path
            [(int(r[0]),) for r in hot_rows if r[0] is not None],
            f"{key_col} long",
        ).withColumn("__hot", F.lit(True))
        src = src.join(F.broadcast(hot_df), key_col, "left")
        salt_expr = F.when(
            F.col("__hot").isNotNull(),
            F.pmod(F.xxhash64(F.col(wkb_col)), F.lit(int(prefold_salts))),
        ).otherwise(F.lit(0))

    salted = src.withColumn("__salt", salt_expr)
    if "__hot" in salted.columns:
        salted = salted.drop("__hot")
    pre = salted.groupBy(key_col, "__salt").applyInPandas(
        lambda pdf: fold(pdf).assign(__salt=pdf["__salt"].iloc[0]),
        out_schema + ", __salt long",
    )

    def refold(pdf: pd.DataFrame) -> pd.DataFrame:
        # a single pre-row IS the complete fold of its key (cold keys
        # pre-fold in one salt-0 group; a hot key whose rows all
        # hashed to one salt is equally complete) — pass it through
        # instead of re-decomposing the union
        if len(pdf) == 1:
            return pdf[["key", "area", "n_geoms", "geom_wkb"]]
        return fold(
            pdf.rename(
                columns={"key": key_col, "geom_wkb": wkb_col}
            ) if (key_col != "key" or wkb_col != "geom_wkb") else pdf
        )

    return pre.groupBy("key").applyInPandas(refold, out_schema)

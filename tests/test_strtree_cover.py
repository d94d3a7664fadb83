"""STRtree and polygon cell-cover tests."""

import hashlib

import numpy as np
import pandas as pd

from gdal_spark import cells, cover, geometry, strtree, testdata, wkb


def test_strtree_matches_bruteforce():
    rng = np.random.default_rng(5)
    n = 500
    x = rng.uniform(-100, 100, n)
    y = rng.uniform(-100, 100, n)
    w = rng.uniform(0.1, 5, n)
    h = rng.uniform(0.1, 5, n)
    boxes = np.column_stack([x, y, x + w, y + h])
    tree = strtree.STRtree(boxes)
    for _ in range(50):
        qx, qy = rng.uniform(-100, 100, 2)
        qw, qh = rng.uniform(0.5, 20, 2)
        q = (qx, qy, qx + qw, qy + qh)
        want = np.nonzero(
            (boxes[:, 0] <= q[2])
            & (boxes[:, 2] >= q[0])
            & (boxes[:, 1] <= q[3])
            & (boxes[:, 3] >= q[1])
        )[0]
        got = tree.query(*q)
        assert sorted(got.tolist()) == sorted(want.tolist())


def test_strtree_empty_and_single():
    assert strtree.STRtree(np.empty((0, 4))).query(0, 0, 1, 1).size == 0
    t = strtree.STRtree(np.array([[0.0, 0.0, 1.0, 1.0]]))
    assert t.query(0.5, 0.5, 2, 2).tolist() == [0]
    assert t.query(2, 2, 3, 3).size == 0


def test_strtree_query_many():
    boxes = np.array([[0, 0, 1, 1], [10, 10, 11, 11]], dtype=float)
    t = strtree.STRtree(boxes)
    pi, ti = t.query_many(np.array([[0.5, 0.5, 0.6, 0.6], [10.5, 10.5, 12, 12]]))
    assert list(zip(pi.tolist(), ti.tolist())) == [(0, 0), (1, 1)]


SQUARE = np.array([[0, 0], [10, 0], [10, 10], [0, 10], [0, 0]], dtype=float)


def test_classify_rect():
    assert cover.classify_rect([SQUARE], 2, 2, 3, 3) == cover.INSIDE
    assert cover.classify_rect([SQUARE], 20, 20, 30, 30) == cover.OUTSIDE
    assert cover.classify_rect([SQUARE], -1, -1, 1, 1) == cover.BOUNDARY
    # rect swallowing the polygon entirely
    assert cover.classify_rect([SQUARE], -5, -5, 15, 15) == cover.BOUNDARY
    # with a hole
    hole = np.array([[4, 4], [6, 4], [6, 6], [4, 6], [4, 4]], dtype=float)
    assert cover.classify_rect([SQUARE, hole], 4.5, 4.5, 5.5, 5.5) == cover.OUTSIDE
    assert cover.classify_rect([SQUARE, hole], 3, 3, 5, 5) == cover.BOUNDARY
    assert cover.classify_rect([SQUARE, hole], 1, 1, 2, 2) == cover.INSIDE


def test_cover_polygon_full_cells_are_inside():
    ring = testdata._blob_ring(10.0, 20.0, 4.0, 10, 99)
    cids, flags = cover.cover_polygon([ring], res_min=4, res_max=9)
    assert cids.size > 0 and flags.any() and (~flags).any()
    rng = np.random.default_rng(0)
    for c, f in zip(cids.tolist(), flags.tolist()):
        lo_lon, lo_lat, hi_lon, hi_lat = (
            float(v) for v in cells.cell_bounds(np.int64(c))
        )
        px = rng.uniform(lo_lon, hi_lon, 30)
        py = rng.uniform(lo_lat, hi_lat, 30)
        inside = geometry.points_in_ring(px, py, ring)
        if f:
            assert inside.all()  # full cell ⇒ every point inside


def test_cover_cells_disjoint_per_polygon():
    ring = testdata._blob_ring(-50.0, -10.0, 6.0, 12, 3)
    cids, _ = cover.cover_polygon([ring], res_min=3, res_max=8)
    cellset = set(cids.tolist())
    # no cell is an ancestor of another
    for c in cids.tolist():
        cur = np.int64(c)
        r = c >> 58
        for _ in range(int(r) - 3):
            cur = np.int64(int(cells.parent(cur)))
            assert int(cur) not in cellset


def test_cover_correctness_vs_pip():
    """The cover + PIP pipeline must match direct PIP for random points."""
    ring = testdata._blob_ring(0.0, 0.0, 8.0, 11, 42)
    cids, flags = cover.cover_polygon([ring], res_min=3, res_max=9)
    full_set = set(cids[flags].tolist())
    bd_set = set(cids[~flags].tolist())
    levels = sorted({c >> 58 for c in cids.tolist()})

    rng = np.random.default_rng(2)
    px = rng.uniform(-10, 10, 2000)
    py = rng.uniform(-10, 10, 2000)
    want = geometry.points_in_ring(px, py, ring)

    got = np.zeros(px.shape, dtype=bool)
    for i in range(px.size):
        matched = False
        for r in levels:
            c = int(cells.encode(px[i], py[i], int(r)))
            if c in full_set:
                got[i] = True
                matched = True
                break
            if c in bd_set:
                got[i] = bool(geometry.points_in_ring(px[i : i + 1], py[i : i + 1], ring)[0])
                matched = True
                break
        if not matched:
            got[i] = False
    assert (got == want).all()


def test_cover_multipolygon_no_overlap():
    buf = wkb.multipolygon(
        [
            [np.array([[0, 0], [4, 0], [4, 4], [0, 4], [0, 0]], float)],
            [np.array([[2, 2], [6, 2], [6, 6], [2, 6], [2, 2]], float)],
        ]
    )
    pdf = pd.DataFrame({"poly_id": [1], "geom_wkb": [buf]})
    cov = cover.cover_polygons_pdf(pdf, res_min=5, res_max=8)
    # invariant: per polygon, no cover cell is an ancestor of another
    cellset = set(cov["cell_id"].tolist())
    for c in cov["cell_id"]:
        cur = np.int64(c)
        for _ in range(int(c >> 58) - 5):
            cur = np.int64(int(cells.parent(cur)))
            assert int(cur) not in cellset


def _holed_multipolygons(n: int = 24, seed: int = 11) -> pd.DataFrame:
    """Seeded multipolygons: 1-3 blob parts scattered around a centre,
    so parts of one polygon often overlap, each part with 0-2 holes."""
    rng = np.random.default_rng(seed)
    rows = []
    for pid in range(n):
        x0, y0 = rng.uniform(-150, 150), rng.uniform(-70, 70)
        parts = []
        for _ in range(int(rng.integers(1, 4))):
            r = float(rng.uniform(0.5, 12.0))
            cx, cy = x0 + rng.uniform(-r, r), y0 + rng.uniform(-r, r)
            k, ring_seed = int(rng.integers(6, 16)), int(rng.integers(1 << 30))
            rings = [testdata._blob_ring(cx, cy, r, k, ring_seed)]
            for _ in range(int(rng.integers(0, 3))):
                hx = cx + rng.uniform(-0.2, 0.2) * r
                hy = cy + rng.uniform(-0.2, 0.2) * r
                hole = testdata._blob_ring(hx, hy, 0.2 * r, 7, int(rng.integers(1 << 30)))
                rings.append(hole[::-1].copy())
            parts.append(rings)
        rows.append({"poly_id": pid, "geom_wkb": wkb.multipolygon(parts)})
    return pd.DataFrame(rows)


def _cover_sha256(cov: pd.DataFrame) -> str:
    h = hashlib.sha256()
    for col in ("poly_id", "cell_id", "res", "full"):
        h.update(np.ascontiguousarray(cov[col].to_numpy()).tobytes())
    return h.hexdigest()


# sha256 of the cover rows, in row order, as the per-cell quadtree walk
# produced them; the batched cover must reproduce them byte for byte
# (order, dtypes and the refinement budget included).
COVER_SHA256 = {
    ("polygons_pdf(100)", 2, 7, 1024):
        "5602ac3ef17dc2ce07120d88b86e10e801f4fb1d2278beab8dc44f696a0439d5",
    ("polygons_pdf(100)", 3, 9, 1024):
        "e098d8ae214c6108098248029bc59292ab70bbc929adb088405f5839a73c29c2",
    ("polygons_pdf(100)", 2, 9, 64):
        "c0b75572d5009787482588fa82a0b0c7ca644955db8de842d57f7274eae6d748",
    ("holed multipolygons", 2, 9, 256):
        "503cf0f7174f7103016c6a526860fc5d99db77d3b26f314dba0f85e06a254242",
}


def test_cover_bytes_pinned():
    inputs = {
        "polygons_pdf(100)": testdata.polygons_pdf(100),
        "holed multipolygons": _holed_multipolygons(),
    }
    for (name, res_min, res_max, max_cells), want in COVER_SHA256.items():
        cov = cover.cover_polygons_pdf(inputs[name], res_min, res_max, max_cells)
        assert cov.dtypes.tolist() == ["int64", "int64", "int32", "bool"]
        assert _cover_sha256(cov) == want, (name, res_min, res_max, max_cells)

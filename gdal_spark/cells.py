"""Hierarchical quadtree cell index over lon/lat (H3/S2 analog).

The reference's spatial bucketing structures — CPLQuadTree
(port/cpl_quad_tree.cpp:138), shapefile .qix quadtrees, and the
gdal2tiles quadkey (swig/python/gdal-utils/osgeo_utils/gdal2tiles.py:517)
— all partition space by recursive 4-way splits.  This module provides
the same structure as pure arithmetic on int64 cell ids, so that cell
assignment runs JVM-side in Spark (a Column expression, whole-stage
codegen, zero Python) and is equally expressible in ANSI SQL for
oracle parity.

Encoding (res in [0, 26]):
    ix = clamp(floor((lon + 180) / 360 * 2^res), 0, 2^res - 1)
    iy = clamp(floor((lat +  90) / 180 * 2^res), 0, 2^res - 1)
    cell_id = res * 2^58 + ix * 2^29 + iy

Properties: globally unique across resolutions; parent/children are
O(1) arithmetic; equality join on cell_id is the spatial prefilter.
A separate Morton (z-order) key provides locality for range
partitioning — it never needs a SQL oracle, it only orders shuffles.
"""

from __future__ import annotations

import numpy as np

MAX_RES = 26
_RES_SHIFT = 58
_IX_SHIFT = 29

# ---------------------------------------------------------------------------
# numpy kernels (vectorized; used inside pandas UDFs and on the driver)
# ---------------------------------------------------------------------------


def encode(lon, lat, res: int) -> np.ndarray:
    """Vectorized lon/lat → cell_id at resolution ``res``."""
    if not 0 <= res <= MAX_RES:
        raise ValueError(f"res must be in [0, {MAX_RES}], got {res}")
    n = np.int64(1) << res
    lon = np.asarray(lon, dtype=np.float64)
    lat = np.asarray(lat, dtype=np.float64)
    ix = np.clip(np.floor((lon + 180.0) / 360.0 * n).astype(np.int64), 0, n - 1)
    iy = np.clip(np.floor((lat + 90.0) / 180.0 * n).astype(np.int64), 0, n - 1)
    return (
        np.int64(res) << np.int64(_RES_SHIFT)
    ) + (ix << np.int64(_IX_SHIFT)) + iy


def decode(cell_id) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """cell_id → (res, ix, iy)."""
    cell_id = np.asarray(cell_id, dtype=np.int64)
    res = cell_id >> np.int64(_RES_SHIFT)
    rem = cell_id - (res << np.int64(_RES_SHIFT))
    ix = rem >> np.int64(_IX_SHIFT)
    iy = rem - (ix << np.int64(_IX_SHIFT))
    return res, ix, iy


def cell_bounds(cell_id) -> tuple[np.ndarray, np.ndarray, np.ndarray, np.ndarray]:
    """cell_id → (min_lon, min_lat, max_lon, max_lat)."""
    res, ix, iy = decode(cell_id)
    n = (np.int64(1) << res).astype(np.float64)
    min_lon = ix / n * 360.0 - 180.0
    max_lon = (ix + 1) / n * 360.0 - 180.0
    min_lat = iy / n * 180.0 - 90.0
    max_lat = (iy + 1) / n * 180.0 - 90.0
    return min_lon, min_lat, max_lon, max_lat


def parent(cell_id, steps: int = 1) -> np.ndarray:
    """Parent cell ``steps`` resolutions up."""
    res, ix, iy = decode(cell_id)
    if np.any(res - steps < 0):
        raise ValueError("parent below res 0")
    return from_rixy(res - steps, ix >> steps, iy >> steps)


def children(cell_id) -> np.ndarray:
    """The 4 child cells one resolution down of each input cell, flat
    in input order (a scalar gives 4 cells)."""
    res, ix, iy = decode(np.atleast_1d(cell_id))
    n = res.size
    xs = (np.repeat(ix, 4) << 1) + np.tile(np.array([0, 0, 1, 1]), n)
    ys = (np.repeat(iy, 4) << 1) + np.tile(np.array([0, 1, 0, 1]), n)
    return from_rixy(np.repeat(res + 1, 4), xs, ys)


def from_rixy(res, ix, iy) -> np.ndarray:
    res = np.asarray(res, dtype=np.int64)
    ix = np.asarray(ix, dtype=np.int64)
    iy = np.asarray(iy, dtype=np.int64)
    return (res << np.int64(_RES_SHIFT)) + (ix << np.int64(_IX_SHIFT)) + iy


def k_ring(cell_id: int, k: int = 1) -> np.ndarray:
    """All cells within Chebyshev distance k on the same-res grid
    (clamped at grid edges; no lon wraparound — matches the planar
    quadtree semantics of CPLQuadTree, port/cpl_quad_tree.cpp:253)."""
    res, ix, iy = decode(np.int64(cell_id))
    res_i, ix_i, iy_i = int(res), int(ix), int(iy)
    n = 1 << res_i
    xs = np.arange(max(0, ix_i - k), min(n, ix_i + k + 1), dtype=np.int64)
    ys = np.arange(max(0, iy_i - k), min(n, iy_i + k + 1), dtype=np.int64)
    gx, gy = np.meshgrid(xs, ys, indexing="ij")
    return from_rixy(res_i, gx.ravel(), gy.ravel())


def ring_only(cell_id: int, k: int) -> np.ndarray:
    """Only the hollow ring at exactly Chebyshev distance k (for
    incremental ring-expansion kNN, cf. the quadtree radius search in
    alg/gdalgrid.cpp:241-341)."""
    if k == 0:
        return np.array([cell_id], dtype=np.int64)
    inner = set(k_ring(cell_id, k - 1).tolist())
    outer = k_ring(cell_id, k)
    return np.array([c for c in outer.tolist() if c not in inner], dtype=np.int64)


def cover_bbox(min_lon, min_lat, max_lon, max_lat, res: int) -> np.ndarray:
    """All res-``res`` cells whose rectangle intersects the bbox."""
    n = np.int64(1) << res
    eps = 0.0
    x0 = int(np.clip(np.floor((min_lon + 180.0) / 360.0 * n), 0, n - 1))
    x1 = int(np.clip(np.floor((max_lon - eps + 180.0) / 360.0 * n), 0, n - 1))
    y0 = int(np.clip(np.floor((min_lat + 90.0) / 180.0 * n), 0, n - 1))
    y1 = int(np.clip(np.floor((max_lat - eps + 90.0) / 180.0 * n), 0, n - 1))
    xs = np.arange(x0, x1 + 1, dtype=np.int64)
    ys = np.arange(y0, y1 + 1, dtype=np.int64)
    gx, gy = np.meshgrid(xs, ys, indexing="ij")
    return from_rixy(res, gx.ravel(), gy.ravel())


def compact(cell_ids) -> np.ndarray:
    """Replace any complete set of 4 siblings by their parent,
    repeatedly (quadtree compaction — the mixed-res cover that keeps
    giant polygons from exploding into millions of fine cells)."""
    cells = set(np.asarray(cell_ids, dtype=np.int64).tolist())
    changed = True
    while changed:
        changed = False
        by_parent: dict[int, list[int]] = {}
        for c in cells:
            res = c >> _RES_SHIFT
            if res == 0:
                continue
            p = int(parent(np.int64(c)))
            by_parent.setdefault(p, []).append(c)
        for p, kids in by_parent.items():
            if len(kids) == 4:
                for kid in kids:
                    cells.discard(kid)
                cells.add(p)
                changed = True
    return np.array(sorted(cells), dtype=np.int64)


def uncompact(cell_ids, res: int) -> np.ndarray:
    """Expand every cell to its res-``res`` descendants (cells already
    at ``res`` pass through; finer cells are rejected)."""
    out = []
    for c in np.asarray(cell_ids, dtype=np.int64).tolist():
        r = c >> _RES_SHIFT
        if r > res:
            raise ValueError(f"cell res {r} finer than target {res}")
        if r == res:
            out.append(np.array([c], dtype=np.int64))
        else:
            steps = res - r
            _, ix, iy = decode(np.int64(c))
            size = 1 << steps
            xs = (int(ix) << steps) + np.arange(size, dtype=np.int64)
            ys = (int(iy) << steps) + np.arange(size, dtype=np.int64)
            gx, gy = np.meshgrid(xs, ys, indexing="ij")
            out.append(from_rixy(res, gx.ravel(), gy.ravel()))
    if not out:
        return np.array([], dtype=np.int64)
    return np.concatenate(out)


def morton_key(cell_id) -> np.ndarray:
    """Z-order (Morton) key for locality-preserving range partitioning.
    Interleaves ix/iy bits; same-res cells sort in Z-curve order
    (the gdal2tiles QuadTree key, gdal2tiles.py:517, as an integer)."""
    res, ix, iy = decode(cell_id)
    ix = ix.astype(np.uint64)
    iy = iy.astype(np.uint64)
    m = np.zeros_like(ix)
    for b in range(MAX_RES + 1):
        m |= ((ix >> np.uint64(b)) & np.uint64(1)) << np.uint64(2 * b + 1)
        m |= ((iy >> np.uint64(b)) & np.uint64(1)) << np.uint64(2 * b)
    return (res.astype(np.int64) << np.int64(_RES_SHIFT)) + m.astype(np.int64)


# ---------------------------------------------------------------------------
# Spark Column expressions (JVM-side, whole-stage codegen — the hot path)
# ---------------------------------------------------------------------------


def cell_index_exprs(lon_col, lat_col, res: int):
    """The clamped (ix, iy) grid indices of encode() as two long
    Columns."""
    from pyspark.sql import functions as F

    n = 1 << res
    ix = F.least(
        F.greatest(F.floor((lon_col + 180.0) / 360.0 * n), F.lit(0)),
        F.lit(n - 1),
    ).cast("long")
    iy = F.least(
        F.greatest(F.floor((lat_col + 90.0) / 180.0 * n), F.lit(0)),
        F.lit(n - 1),
    ).cast("long")
    return ix, iy


def cell_expr(lon_col, lat_col, res: int):
    """Spark Column computing encode(lon, lat, res) entirely JVM-side.

    This is the engine's answer to the reference's per-feature spatial
    hashing: no Python is involved in assigning billions of points to
    cells — Catalyst codegens the arithmetic.
    """
    from pyspark.sql import functions as F

    ix, iy = cell_index_exprs(lon_col, lat_col, res)
    return (
        F.lit(res).cast("long") * F.lit(1 << _RES_SHIFT).cast("long")
        + ix * F.lit(1 << _IX_SHIFT).cast("long")
        + iy
    )


def cell_sql(lon_sql: str, lat_sql: str, res: int) -> str:
    """The identical encoding as an ANSI-SQL fragment (oracle parity)."""
    n = 1 << res
    ix = (
        f"LEAST(GREATEST(CAST(FLOOR(({lon_sql} + 180.0) / 360.0 * {n}) "
        f"AS BIGINT), 0), {n - 1})"
    )
    iy = (
        f"LEAST(GREATEST(CAST(FLOOR(({lat_sql} + 90.0) / 180.0 * {n}) "
        f"AS BIGINT), 0), {n - 1})"
    )
    return (
        f"(CAST({res} AS BIGINT) * CAST({1 << _RES_SHIFT} AS BIGINT) "
        f"+ {ix} * CAST({1 << _IX_SHIFT} AS BIGINT) + {iy})"
    )

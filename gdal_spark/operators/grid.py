"""Grid interpolation: scattered points → per-cell values.

The Spark rendering of GDAL's gridding engine (alg/gdalgrid.cpp): IDW
(inverse distance weighting, :109), the data metrics family (:1033+,
covered by the sp_grid_metrics query) and linear (TIN) interpolation.
GDAL answers each output pixel with a quadtree radius search; the
engine inverts the data flow — each point SCATTERS its contribution to
the target cells within the search radius (a JVM-side neighbor-offset
explode), then one groupBy(cell) reduces the weighted sums. No
per-pixel search structure, no Python in the plan, shuffle volume =
points x (2r+1)^2.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .. import cells


def idw_grid_quantized(
    points: DataFrame,
    res: int,
    z_col: str = "z",
    lon_col: str = "lon",
    lat_col: str = "lat",
    radius_cells: int = 1,
) -> DataFrame:
    """IDW with INTEGER-quantized weights (alg/gdalgrid.cpp:109):
    bit-exact, so a SQL oracle can gate it.

    Float Σw / Σzw are aggregation-order-dependent, so this kernel
    quantizes per-point: d2q = floor(d2·1e6)+1, w = 1e12 DIV d2q, and
    reduces in pure integers; the output millis come from the exact
    long-division split q·1000 + (rem·1000) DIV Σw. Bit-reproducible
    under ANY aggregation order/partitioning.

    Output: (cell_ix, cell_iy, n_points, idw_m3)."""
    n = 1 << res
    r = radius_cells
    ix, iy = cells.cell_index_exprs(F.col(lon_col), F.col(lat_col), res)
    offs = F.expr(
        f"flatten(transform(sequence({-r}, {r}), dx -> "
        f"transform(sequence({-r}, {r}), dy -> struct(dx, dy))))"
    )
    pts = (
        points.withColumn("__ix", ix)
        .withColumn("__iy", iy)
        .withColumn("__o", F.explode(offs))
        .withColumn("cell_ix", F.col("__ix") + F.col("__o.dx"))
        .withColumn("cell_iy", F.col("__iy") + F.col("__o.dy"))
        .filter(
            (F.col("cell_ix") >= 0) & (F.col("cell_ix") < n)
            & (F.col("cell_iy") >= 0) & (F.col("cell_iy") < n)
        )
    )
    cx = (F.col("cell_ix") + 0.5) / n * 360.0 - 180.0
    cy = (F.col("cell_iy") + 0.5) / n * 180.0 - 90.0
    dx = F.col(lon_col) - cx
    dy = F.col(lat_col) - cy
    d2 = dx * dx + dy * dy
    d2q = F.floor(d2 * 1000000.0).cast("long") + 1
    agg = (
        pts.withColumn("__d2q", d2q)
        .withColumn("__w", F.expr("1000000000000 DIV __d2q"))
        .withColumn("__zw", F.col(z_col) * F.col("__w"))
        .groupBy("cell_ix", "cell_iy")
        .agg(
            F.count(F.lit(1)).alias("n_points"),
            F.sum("__w").alias("__sw"),
            F.sum("__zw").alias("__szw"),
        )
    )
    return agg.select(
        "cell_ix", "cell_iy", "n_points",
        F.expr(
            "(__szw DIV __sw) * 1000 + ((__szw % __sw) * 1000) DIV __sw"
        ).alias("idw_m3"),
    )


# ---------------------------------------------------------------------------
# linear (Delaunay/TIN) interpolation — alg/gdalgrid.cpp:2459 GDALGridLinear,
# triangulation alg/delaunay.c. GDAL loads the WHOLE point set in memory and
# triangulates once; the engine keeps that split: triangulation is a
# driver-side numpy step over the (small) scattered point set, the per-pixel
# barycentric interpolation is fully distributed over the (huge) raster.
# ---------------------------------------------------------------------------

import numpy as np  # noqa: E402
import pandas as pd  # noqa: E402


def _in_circumcircle(a, b, c, px, py) -> bool:
    ax, ay = a[0] - px, a[1] - py
    bx, by = b[0] - px, b[1] - py
    cx, cy = c[0] - px, c[1] - py
    d = (
        (ax * ax + ay * ay) * (bx * cy - cx * by)
        - (bx * bx + by * by) * (ax * cy - cx * ay)
        + (cx * cx + cy * cy) * (ax * by - bx * ay)
    )
    orient = (b[0] - a[0]) * (c[1] - a[1]) - (b[1] - a[1]) * (c[0] - a[0])
    return d * (1.0 if orient > 0 else -1.0) > 0


def _boundary_on_hull(pts: np.ndarray, out: list) -> bool:
    """True iff every boundary point of the triangulation (endpoint of
    an edge used by exactly one triangle) lies EXACTLY on the convex
    hull boundary — a strict-hull vertex, or exactly collinear inside
    a hull edge. A finite Bowyer-Watson super-triangle drops hull-
    adjacent sliver triangles whose circumdisk reaches past the super
    vertices, leaving a hole whose apex is a strictly-interior point
    with an open fan; this validator detects that so the caller can
    retry with a geometrically larger super-triangle."""
    from .. import geometry

    if not out:
        return True  # no triangles at all is fine (n < 3)
    tris = np.asarray(out, dtype=np.int64)
    e = np.concatenate(
        [tris[:, (0, 1)], tris[:, (1, 2)], tris[:, (2, 0)]]
    )
    e.sort(axis=1)
    keys = e[:, 0] * np.int64(len(pts)) + e[:, 1]
    uk, cnt = np.unique(keys, return_counts=True)
    once = uk[cnt == 1]
    if len(once) == 0:
        return True
    bpts = np.unique(
        np.concatenate([once // len(pts), once % len(pts)])
    )
    ring = np.asarray(geometry.convex_hull(pts)[:-1], dtype=np.float64)
    A = ring
    B = np.roll(ring, -1, axis=0)
    P = np.asarray(pts, dtype=np.float64)[bpts]
    ax, ay = A[:, 0][None, :], A[:, 1][None, :]
    bx, by = B[:, 0][None, :], B[:, 1][None, :]
    px, py = P[:, 0][:, None], P[:, 1][:, None]
    cross = (bx - ax) * (py - ay) - (by - ay) * (px - ax)
    dot = (px - ax) * (bx - ax) + (py - ay) * (by - ay)
    ll = (bx - ax) ** 2 + (by - ay) ** 2
    on = (cross == 0.0) & (dot >= 0.0) & (dot <= ll)
    return bool(on.any(axis=1).all())


def delaunay_triangulate(pts: np.ndarray) -> list[tuple[int, int, int]]:
    """Bowyer-Watson incremental Delaunay triangulation (the qhull /
    alg/delaunay.c role, reimplemented from the textbook algorithm).
    Deterministic for a fixed point order; returns CCW-oriented vertex
    index triples sorted canonically. O(n²) — intended for the
    in-memory scattered point set, not raster-sized data.

    Near-collinear hull points produce sliver triangles whose
    circumdisks can dwarf any fixed super-triangle, punching holes in
    the result; :func:`_boundary_on_hull` validates the boundary and
    the build retries with a 1000× larger super-triangle (up to two
    escalations) until every open fan sits exactly on the hull."""
    pts = np.asarray(pts, dtype=np.float64)
    for mult in (8.0, 8e3, 8e6):
        out = _bowyer_watson(pts, mult)
        if _boundary_on_hull(pts, out):
            return out
    return out  # exactly-degenerate leftovers: caller's certify decides


def _bowyer_watson(pts: np.ndarray, mult: float) -> list[tuple[int, int, int]]:
    n = len(pts)
    cx, cy = float(pts[:, 0].mean()), float(pts[:, 1].mean())
    span = float(max(np.ptp(pts[:, 0]), np.ptp(pts[:, 1]))) * 16 + 1.0
    allp = np.vstack([
        pts,
        [[cx - mult * span, cy - span], [cx + mult * span, cy - span],
         [cx, cy + mult * span]],
    ])
    tris: list[tuple[int, int, int]] = [(n, n + 1, n + 2)]
    for i in range(n):
        px, py = float(allp[i, 0]), float(allp[i, 1])
        bad = [
            t for t in tris
            if _in_circumcircle(allp[t[0]], allp[t[1]], allp[t[2]], px, py)
        ]
        edge_cnt: dict[tuple[int, int], int] = {}
        edge_dir: dict[tuple[int, int], tuple[int, int]] = {}
        for t in bad:
            for e in ((t[0], t[1]), (t[1], t[2]), (t[2], t[0])):
                k = (min(e), max(e))
                edge_cnt[k] = edge_cnt.get(k, 0) + 1
                edge_dir[k] = e
        for t in bad:
            tris.remove(t)
        for k, cnt in edge_cnt.items():
            if cnt == 1:
                a, b = edge_dir[k]  # keep boundary orientation → CCW
                tris.append((a, b, i))
    out = []
    for t in tris:
        if max(t) >= n:
            continue
        a, b, c = t
        orient = (
            (allp[b][0] - allp[a][0]) * (allp[c][1] - allp[a][1])
            - (allp[b][1] - allp[a][1]) * (allp[c][0] - allp[a][0])
        )
        if orient < 0:
            b, c = c, b
        lo = min(a, b, c)
        while a != lo:  # rotate so the smallest index leads (canonical)
            a, b, c = b, c, a
        out.append((a, b, c))
    out.sort()
    return out


def tin_grid(
    spark,
    pts_xyz: pd.DataFrame,
    width: int,
    height: int,
    x0: float,
    y0: float,
    step: float,
    n_partitions: int = 32,
):
    """Linear (TIN) gridding: Delaunay-triangulate the point set
    driver-side, broadcast the triangle list, barycentric-interpolate
    every pixel center distributively (GDALGridLinear semantics,
    alg/gdalgrid.cpp:2459). Pixels outside the hull emit nothing
    (GDAL nodata). On shared edges the lowest triangle id wins.

    Output: (gx, gy, z_q3 = floor(z * 1000 + 0.5))."""
    from pyspark.sql import functions as F  # noqa: F401

    P = pts_xyz[["x", "y"]].to_numpy(dtype=np.float64)
    Z = pts_xyz["z"].to_numpy(dtype=np.float64)
    tris = delaunay_triangulate(P)
    tri_arr = np.array(
        [
            [P[a][0], P[a][1], Z[a], P[b][0], P[b][1], Z[b],
             P[c][0], P[c][1], Z[c]]
            for a, b, c in tris
        ],
        dtype=np.float64,
    )
    # bucket triangles by a coarse pixel-cell grid (driver-side bbox
    # cover — triangles ≪ raster): per-pixel work is then O(triangles
    # overlapping its cell), not O(all triangles) — the quadtree role
    # of the reference's per-pixel search, precomputed once
    bucket = 32  # pixels per bucket side
    nbx = (width + bucket - 1) // bucket
    nby = (height + bucket - 1) // bucket
    cell_tris: dict[int, list] = {}
    if len(tri_arr):
        xs = tri_arr[:, [0, 3, 6]]
        ys = tri_arr[:, [1, 4, 7]]
        for tid in range(len(tri_arr)):
            bx0 = int((xs[tid].min() - x0) / step) // bucket
            bx1 = int((xs[tid].max() - x0) / step) // bucket
            by0 = int((ys[tid].min() - y0) / step) // bucket
            by1 = int((ys[tid].max() - y0) / step) // bucket
            for byi in range(max(by0, 0), min(by1, nby - 1) + 1):
                for bxi in range(max(bx0, 0), min(bx1, nbx - 1) + 1):
                    cell_tris.setdefault(byi * nbx + bxi, []).append(tid)
    bc = spark.sparkContext.broadcast((tri_arr, cell_tris))

    def run(batches):
        T, buckets = bc.value
        for pdf in batches:
            ids = pdf["id"].to_numpy(dtype=np.int64)
            gx = ids % width
            gy = ids // width
            px = x0 + (gx + 0.5) * step
            py = y0 + (gy + 0.5) * step
            assigned = np.full(len(ids), -1, dtype=np.int64)
            zout = np.zeros(len(ids), dtype=np.float64)
            cell = (gy // bucket) * nbx + (gx // bucket)
            for c in np.unique(cell):
                tids = buckets.get(int(c))
                if not tids:
                    continue
                sel = np.nonzero(cell == c)[0]
                pxs, pys = px[sel], py[sel]
                done = np.zeros(len(sel), dtype=bool)
                for tid in tids:
                    ax, ay, az, bx, by, bz, cx, cy, cz = T[tid]
                    det = (bx - ax) * (cy - ay) - (by - ay) * (cx - ax)
                    wa = ((by - cy) * (pxs - cx)
                          + (cx - bx) * (pys - cy)) / det
                    wb = ((cy - ay) * (pxs - cx)
                          + (ax - cx) * (pys - cy)) / det
                    m = (~done) & (wa >= 0) & (wb >= 0) & (wa + wb <= 1)
                    if not m.any():
                        continue
                    z = (
                        wa[m] * az + wb[m] * bz
                        + (1.0 - wa[m] - wb[m]) * cz
                    )
                    idxs = sel[m]
                    zout[idxs] = z
                    assigned[idxs] = tid
                    done |= m
            got = assigned >= 0
            yield pd.DataFrame({
                "gx": gx[got], "gy": gy[got],
                "z_q3": np.floor(zout[got] * 1000.0 + 0.5).astype(np.int64),
            })

    rng = spark.range(0, width * height, 1, n_partitions)
    return rng.mapInPandas(run, "gx long, gy long, z_q3 long")


# ---------------------------------------------------------------------------
# distributed Delaunay — removes the driver-side O(n²) triangulation
# (the one remaining scale limit of tin_grid). Standard parallel-
# Delaunay decomposition: triangulate each grid cell over a halo-
# gathered neighborhood and CERTIFY each candidate triangle by
# circumcircle containment — a locally-Delaunay triangle whose
# circumdisk (clipped to the global point bbox: outside it there are
# provably no points) fits inside the gathered rectangle is empty of
# ALL points, hence globally Delaunay. Cells whose home points cannot
# be fully certified escalate with a doubled halo; the terminal halo
# covers the whole bbox, where local == global, so termination is
# guaranteed. Exactness (== the driver Bowyer-Watson triple set) holds
# for point sets in general position (no 4 cocircular neighbors).
# ---------------------------------------------------------------------------


def _circumdisk(a, b, c):
    """Circumcenter and radius of triangle (a, b, c) — 2D points."""
    d = 2.0 * (
        a[0] * (b[1] - c[1]) + b[0] * (c[1] - a[1]) + c[0] * (a[1] - b[1])
    )
    a2 = a[0] * a[0] + a[1] * a[1]
    b2 = b[0] * b[0] + b[1] * b[1]
    c2 = c[0] * c[0] + c[1] * c[1]
    ux = (a2 * (b[1] - c[1]) + b2 * (c[1] - a[1]) + c2 * (a[1] - b[1])) / d
    uy = (a2 * (c[0] - b[0]) + b2 * (a[0] - c[0]) + c2 * (b[0] - a[0])) / d
    return ux, uy, float(np.hypot(a[0] - ux, a[1] - uy))


def _part_boundary(batches):
    """Keep every point ON its partition-hull boundary — including
    collinear edge points, which monotone chain drops but whose
    Delaunay fans are half-planes. If p is on the GLOBAL hull
    boundary it is on the hull boundary of EVERY subset containing
    it, so this filter never loses a global-boundary point — it can
    be iterated to contract the candidate set round over round."""
    from .. import geometry

    chunks = [pdf for pdf in batches]
    if not chunks:
        return
    pdf = pd.concat(chunks, ignore_index=True)
    P = pdf[["x", "y"]].to_numpy(dtype=np.float64)
    ring = geometry.convex_hull(P)[:-1]
    if len(ring) <= 2 or len(P) <= 3:
        yield pdf[["id", "x", "y"]]
        return
    keep = np.zeros(len(P), dtype=bool)
    for i in range(len(ring)):
        ax, ay = float(ring[i][0]), float(ring[i][1])
        bx, by = (
            float(ring[(i + 1) % len(ring)][0]),
            float(ring[(i + 1) % len(ring)][1]),
        )
        cross = (bx - ax) * (P[:, 1] - ay) - (by - ay) * (P[:, 0] - ax)
        t = (
            (P[:, 0] - ax) * (bx - ax) + (P[:, 1] - ay) * (by - ay)
        ) / ((bx - ax) ** 2 + (by - ay) ** 2)
        keep |= (cross == 0.0) & (t >= 0.0) & (t <= 1.0)
    yield pdf.loc[keep, ["id", "x", "y"]]


def _cycle_assemble(batches):
    """Terminal (single-task, EXECUTOR-side) stage of the distributed
    hull: strict monotone-chain hull of the contracted candidates,
    collinear candidates threaded into the cycle by position along
    their edge → one (id, nbr1, nbr2) row per boundary point."""
    from .. import geometry

    chunks = [pdf for pdf in batches]
    if not chunks:
        return
    cand = pd.concat(chunks, ignore_index=True)
    cx = cand["x"].to_numpy(dtype=np.float64)
    cy = cand["y"].to_numpy(dtype=np.float64)
    P = cand[["x", "y"]].to_numpy(dtype=np.float64)
    ring = geometry.convex_hull(P)[:-1]
    by_xy = {
        (float(x), float(y)): int(i)
        for i, x, y in zip(cand["id"], cand["x"], cand["y"])
    }
    verts = [by_xy[(float(x), float(y))] for x, y in ring]
    nv = len(verts)
    cycle: list[int] = []
    for ei in range(nv):
        ax, ay = float(ring[ei][0]), float(ring[ei][1])
        bx, by = (
            float(ring[(ei + 1) % nv][0]), float(ring[(ei + 1) % nv][1]),
        )
        cycle.append(verts[ei])
        cross = (bx - ax) * (cy - ay) - (by - ay) * (cx - ax)
        t = ((cx - ax) * (bx - ax) + (cy - ay) * (by - ay)) / (
            (bx - ax) ** 2 + (by - ay) ** 2
        )
        m = (cross == 0.0) & (t > 0.0) & (t < 1.0)
        order = np.argsort(t[m], kind="stable")
        cycle.extend(int(i) for i in cand["id"].to_numpy()[m][order])
    n = len(cycle)
    yield pd.DataFrame(
        {
            "id": cycle,
            "nbr1": [cycle[(i - 1) % n] for i in range(n)],
            "nbr2": [cycle[(i + 1) % n] for i in range(n)],
        }
    )


def _global_hull_neighbors_df(spark, pts_df: DataFrame):
    """Exact global hull BOUNDARY CYCLE with NO driver-side point
    stage: per-partition boundary filter (:func:`_part_boundary`),
    geometric 8× contraction rounds over the shrinking candidate
    set, then a single-TASK executor-side cycle assembly
    (:func:`_cycle_assemble`). Returns (cycle DF of (id, nbr1, nbr2),
    (minx, maxx, miny, maxy)) — the bbox rides the candidate set
    (coordinate extremes are always partition-hull-boundary points),
    so the SOURCE table is scanned exactly once here. The driver
    never holds a point row — candidates flow candidate-DF →
    candidate-DF (the tiny filtered set is persisted for the two
    consumers); worst-case degenerate inputs (every point on one
    circle) bound the terminal task by the true hull size, which for
    such inputs is the OUTPUT size, not an artifact of the plan."""
    cand = pts_df.select("id", "x", "y").mapInPandas(
        _part_boundary, "id long, x double, y double"
    )
    # intermediate 8× contraction rounds only pay past ~64 source
    # partitions — below that the per-partition boundary filter alone
    # already bounds the terminal task to P × per-partition-hull-size
    n = max(1, int(spark.sparkContext.defaultParallelism))
    while n > 64:
        n = max(1, n // 8)
        cand = cand.repartition(n).mapInPandas(
            _part_boundary, "id long, x double, y double"
        )
    cand = cand.persist()
    bx0, bx1, by0, by1 = cand.agg(
        F.min("x"), F.max("x"), F.min("y"), F.max("y")
    ).first()
    cycle = cand.coalesce(1).mapInPandas(
        _cycle_assemble, "id long, nbr1 long, nbr2 long"
    )
    return cycle, (bx0, bx1, by0, by1)


def delaunay_distributed(
    spark,
    pts_df: DataFrame,
    cell_size: float,
    with_coords: bool = False,
    max_rounds: int = 12,
):
    """Global Delaunay triangulation of pts_df(id, x, y[, z]) as a
    DataFrame of canonical vertex-id triples (smallest id first, CCW
    cyclic order preserved) — alg/delaunay.c's role without GDAL's
    whole-set-in-memory model (gdal_grid loads every point on one
    machine; here no single task ever needs more than one escalated
    neighborhood).

    Round k (halo in cells): every point ships to the unresolved cells
    within Chebyshev distance k (round 1: a JVM 3×3 offset explode —
    the classic halo exchange; later rounds: the unresolved-cell list
    is tiny → broadcast-join). Each cell task Bowyer-Watson-
    triangulates its gathered set, then certifies per HOME point that
    (a) every incident triangle's circumdisk∩bbox fits in the gathered
    rect and (b) the point's fan is closed (interior) or matches its
    two GLOBAL hull neighbors (the exact distributed hull, computed
    first). A certified home fan is provably the global fan; uncertified
    cells re-run next round with k doubled. Output = distinct certified
    triangles over all cells.

    with_coords=True appends per-vertex (x, y, z) so consumers need no
    join back to the point table (z defaults to 0 if absent).
    """
    has_z = "z" in pts_df.columns
    cols = ["id", "x", "y"] + (["z"] if has_z else [])
    pts = pts_df.select(*cols)
    if not has_z:
        pts = pts.withColumn("z", F.lit(0.0))

    # hull cycle: fully distributed candidate contraction, joined on
    # as (nbr1, nbr2) columns; the bbox rides the same candidate pass
    # (4 doubles cross the driver, never a point row). The join
    # broadcasts the CYCLE side — it is hull-sized (O(√n) typical;
    # output-sized for the all-points-cocircular worst case, where any
    # representation is), so the point table never takes an extra
    # full shuffle for it.
    hull_df, (bx0, bx1, by0, by1) = _global_hull_neighbors_df(
        spark, pts
    )
    pts = pts.join(F.broadcast(hull_df), "id", "left")

    pts = pts.withColumn(
        "hcx", F.floor((F.col("x") - F.lit(bx0)) / F.lit(cell_size)).cast("long")
    ).withColumn(
        "hcy", F.floor((F.col("y") - F.lit(by0)) / F.lit(cell_size)).cast("long")
    )
    ncx = int(np.floor((bx1 - bx0) / cell_size)) + 1
    ncy = int(np.floor((by1 - by0) / cell_size)) + 1

    bcast = spark.sparkContext.broadcast(
        (bx0, by0, bx1, by1, cell_size)
    )

    coord_cols = (
        ", ax double, ay double, az double,"
        " bx double, by double, bz double,"
        " cx double, cy double, cz double"
        if with_coords else ""
    )
    out_schema = (
        f"tcx long, tcy long, a long, b long, c long{coord_cols},"
        " done boolean"
    )

    def make_kernel(k: int):
        def kernel(key, pdf):
            tcx, tcy = int(key[0]), int(key[1])
            gx0, gy0, gx1, gy1, cs = bcast.value
            hn1 = pdf["nbr1"].to_numpy(dtype=np.float64)
            hn2 = pdf["nbr2"].to_numpy(dtype=np.float64)
            home = (
                (pdf["hcx"].to_numpy() == tcx)
                & (pdf["hcy"].to_numpy() == tcy)
            )
            cols_out = ["tcx", "tcy", "a", "b", "c"] + (
                ["ax", "ay", "az", "bx", "by", "bz", "cx", "cy", "cz"]
                if with_coords else []
            ) + ["done"]
            fail = pd.DataFrame(
                [[tcx, tcy, -1, -1, -1]
                 + ([0.0] * 9 if with_coords else []) + [False]],
                columns=cols_out,
            )
            if not home.any():
                return fail.iloc[:0]  # no home points: vacuously done
            P = pdf[["x", "y"]].to_numpy(dtype=np.float64)
            Z = pdf["z"].to_numpy(dtype=np.float64)
            ids = pdf["id"].to_numpy(dtype=np.int64)
            if len(P) < 3:
                return fail
            tris = delaunay_triangulate(P)
            # gathered rect (closed); clip the circumdisk to the bbox
            rx0, ry0 = gx0 + (tcx - k) * cs, gy0 + (tcy - k) * cs
            rx1, ry1 = gx0 + (tcx + k + 1) * cs, gy0 + (tcy + k + 1) * cs
            cert = []
            for t in tris:
                ux, uy, r = _circumdisk(P[t[0]], P[t[1]], P[t[2]])
                ok = (
                    max(ux - r, gx0) >= rx0
                    and min(ux + r, gx1) <= rx1
                    and max(uy - r, gy0) >= ry0
                    and min(uy + r, gy1) <= ry1
                )
                cert.append(ok)
            incident: dict[int, list[int]] = {}
            for ti, t in enumerate(tris):
                for v in t:
                    incident.setdefault(v, []).append(ti)
            emit: set = set()
            for i in np.nonzero(home)[0]:
                inc = incident.get(int(i))
                if not inc or not all(cert[ti] for ti in inc):
                    return fail
                nbr_cnt: dict[int, int] = {}
                for ti in inc:
                    for v in tris[ti]:
                        if v != i:
                            nbr_cnt[v] = nbr_cnt.get(v, 0) + 1
                ones = [v for v, cn in nbr_cnt.items() if cn == 1]
                if ones:
                    # boundary fan: only legitimate on the GLOBAL hull
                    # with the same two hull neighbors (carried as
                    # joined columns; NaN = interior point)
                    if (
                        len(ones) != 2
                        or np.isnan(hn1[i])
                        or {int(hn1[i]), int(hn2[i])} != {
                            int(ids[ones[0]]), int(ids[ones[1]])
                        }
                    ):
                        return fail
                emit.update(inc)
            rows = []
            for ti in sorted(emit):
                t = tris[ti]
                ga, gb, gc = (int(ids[v]) for v in t)
                la, lb, lc = t
                # rotate so the smallest GLOBAL id leads (CCW kept)
                while not (ga < gb and ga < gc):
                    ga, gb, gc = gb, gc, ga
                    la, lb, lc = lb, lc, la
                if with_coords:
                    rows.append(
                        [tcx, tcy, ga, gb, gc,
                         P[la][0], P[la][1], Z[la],
                         P[lb][0], P[lb][1], Z[lb],
                         P[lc][0], P[lc][1], Z[lc], True]
                    )
                else:
                    rows.append([tcx, tcy, ga, gb, gc, True])
            return pd.DataFrame(rows, columns=cols_out)

        return kernel

    results = []
    # round 1: all home cells unresolved — classic 3×3 halo explode,
    # JVM-side (no Python until the per-cell kernel)
    gathered = (
        pts.withColumn("dx", F.explode(F.expr("sequence(-1, 1)")))
        .withColumn("dy", F.explode(F.expr("sequence(-1, 1)")))
        .withColumn("tcx", F.col("hcx") + F.col("dx"))
        .withColumn("tcy", F.col("hcy") + F.col("dy"))
        .filter(
            (F.col("tcx") >= 0) & (F.col("tcx") < ncx)
            & (F.col("tcy") >= 0) & (F.col("tcy") < ncy)
        )
        .drop("dx", "dy")
    )
    k = 1
    span = max(ncx, ncy)
    cached = []
    for _ in range(max_rounds):
        res = gathered.groupBy("tcx", "tcy").applyInPandas(
            make_kernel(k), out_schema
        ).persist()
        cached.append(res)
        results.append(
            res.filter(F.col("done")).drop("tcx", "tcy", "done")
        )
        unresolved = [
            (int(r.tcx), int(r.tcy))
            for r in res.filter(~F.col("done"))
            .select("tcx", "tcy").distinct().collect()
        ]
        if not unresolved:
            break
        if k > 2 * span:  # terminal halo already covered the bbox
            raise RuntimeError(
                f"delaunay_distributed: {len(unresolved)} cells "
                "unresolved at full gather (degenerate/cocircular "
                "input?)"
            )
        # escalation: the unresolved-cell list is small — broadcast it
        # and re-gather each with a doubled Chebyshev halo
        k *= 2
        ucells = spark.createDataFrame(
            pd.DataFrame(unresolved, columns=["tcx", "tcy"])
        )
        gathered = pts.join(
            F.broadcast(ucells),
            (F.abs(F.col("hcx") - F.col("tcx")) <= k)
            & (F.abs(F.col("hcy") - F.col("tcy")) <= k),
        )
    out = results[0]
    for r in results[1:]:
        out = out.unionByName(r)
    # triangles incident to home points of several cells arrive once
    # per cell — exact duplicates (same canonical triple and coords).
    # The per-round caches stay persisted: the returned plan reads
    # them (one materialization already happened for the unresolved
    # collect), so the consumer's single job is a cache read; they age
    # out of the session's LRU store like the other shared candidate
    # sets in this engine.
    _ = cached
    return out.distinct()


def tin_grid_distributed(
    spark,
    pts_df: DataFrame,
    width: int,
    height: int,
    x0: float,
    y0: float,
    step: float,
    cell_size: float,
    bucket: int = 32,
):
    """Linear (TIN) gridding with NO driver-side stage: distributed
    Delaunay (delaunay_distributed) → each triangle ships to the pixel
    BUCKETS its bbox can reach (one JVM explode — the only shuffle) →
    each bucket task barycentric-fills its own pixels against its local
    triangle list. A pixel's winning triangle is the lowest canonical
    id-triple among those containing it — identical to tin_grid's
    lowest-tid rule, because tin_grid assigns tids in canonical-triple
    sort order; the arithmetic mirrors tin_grid expression-for-
    expression, so the two paths (and the SQL oracle) agree bitwise.

    Output: (gx, gy, z_q3) — same contract as tin_grid. Requires
    pts_df(id, x, y, z); ids must be unique (row order works)."""
    tri = delaunay_distributed(
        spark, pts_df, cell_size, with_coords=True
    )
    nbx = (width + bucket - 1) // bucket
    nby = (height + bucket - 1) // bucket
    # triangle bbox → conservative pixel range → bucket range (JVM)
    fx = lambda c: (F.col(c) - F.lit(x0)) / F.lit(step)  # noqa: E731
    fy = lambda c: (F.col(c) - F.lit(y0)) / F.lit(step)  # noqa: E731
    tri = (
        tri.withColumn(
            "gx_lo",
            F.greatest(
                F.floor(F.least(fx("ax"), fx("bx"), fx("cx"))) - 1,
                F.lit(0),
            ).cast("long"),
        )
        .withColumn(
            "gx_hi",
            F.least(
                F.floor(F.greatest(fx("ax"), fx("bx"), fx("cx"))) + 1,
                F.lit(width - 1),
            ).cast("long"),
        )
        .withColumn(
            "gy_lo",
            F.greatest(
                F.floor(F.least(fy("ay"), fy("by"), fy("cy"))) - 1,
                F.lit(0),
            ).cast("long"),
        )
        .withColumn(
            "gy_hi",
            F.least(
                F.floor(F.greatest(fy("ay"), fy("by"), fy("cy"))) + 1,
                F.lit(height - 1),
            ).cast("long"),
        )
        .filter(
            (F.col("gx_lo") <= F.col("gx_hi"))
            & (F.col("gy_lo") <= F.col("gy_hi"))
        )
        .withColumn(
            "bxi",
            F.explode(
                F.expr(f"sequence(gx_lo div {bucket}, gx_hi div {bucket})")
            ),
        )
        .withColumn(
            "byi",
            F.explode(
                F.expr(f"sequence(gy_lo div {bucket}, gy_hi div {bucket})")
            ),
        )
        .drop("gx_lo", "gx_hi", "gy_lo", "gy_hi")
    )

    def fill(key, pdf):
        bxi, byi = int(key[0]), int(key[1])
        gx0p, gy0p = bxi * bucket, byi * bucket
        bw = min(bucket, width - gx0p)
        bh = min(bucket, height - gy0p)
        gx = (gx0p + np.arange(bw))[None, :].repeat(bh, 0).ravel()
        gy = (gy0p + np.arange(bh))[:, None].repeat(bw, 1).ravel()
        pxs = x0 + (gx + 0.5) * step
        pys = y0 + (gy + 0.5) * step
        done = np.zeros(len(gx), dtype=bool)
        zout = np.zeros(len(gx), dtype=np.float64)
        # lowest canonical triple first == tin_grid's ascending tid
        pdf = pdf.sort_values(["a", "b", "c"], kind="mergesort")
        for row in pdf.itertuples(index=False):
            ax, ay, az = row.ax, row.ay, row.az
            bx, by, bz = row.bx, row.by, row.bz
            cx, cy, cz = row.cx, row.cy, row.cz
            det = (bx - ax) * (cy - ay) - (by - ay) * (cx - ax)
            wa = ((by - cy) * (pxs - cx) + (cx - bx) * (pys - cy)) / det
            wb = ((cy - ay) * (pxs - cx) + (ax - cx) * (pys - cy)) / det
            m = (~done) & (wa >= 0) & (wb >= 0) & (wa + wb <= 1)
            if not m.any():
                continue
            zout[m] = (
                wa[m] * az + wb[m] * bz + (1.0 - wa[m] - wb[m]) * cz
            )
            done |= m
        return pd.DataFrame({
            "gx": gx[done], "gy": gy[done],
            "z_q3": np.floor(zout[done] * 1000.0 + 0.5).astype(np.int64),
        })

    _ = nbx, nby
    return tri.groupBy("bxi", "byi").applyInPandas(
        fill, "gx long, gy long, z_q3 long"
    )

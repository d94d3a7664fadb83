"""Cell-bucketed kNN with ring-expansion search.

Spark re-expression of the reference's radius-bounded quadtree nearest
search (GDALGridInverseDistanceToAPowerNearestNeighbor,
alg/gdalgrid.cpp:241-341: quadtree candidate gather, distance sort,
take ≤ nMaxPoints).

Algorithm (both sides are DataFrames; the point side is huge):
  1. points get a cell id at res r (JVM expression, zero Python);
  2. each query expands Chebyshev rings k = r0, 2 r0, 4 r0, ... around
     its cell; the (query, candidate-cell) table is a JVM offset
     explode, equi-joined (broadcast hash by default) against the
     bucketed points;
  3. exact squared distance + row_number() over (qid ORDER BY d2, pid)
     keeps the top K;
  4. termination bound: a result is final when its Kth distance is
     ≤ k * min(cell_w, cell_h) — no unexplored cell can hold a closer
     point.  Unresolved queries expand the next ring (few iterations;
     each is one Spark job over a tiny slice).

Exactness: ties broken by pid (FIXTURES.md F6 invariant 6).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from .. import cells


def knn_join_df(
    points: DataFrame,
    queries: DataFrame,
    k: int = 4,
    res: int = 6,
    id_col: str = "pid",
    lon_col: str = "lon",
    lat_col: str = "lat",
    qid_col: str = "qid",
    qlon_col: str = "qlon",
    qlat_col: str = "qlat",
    max_rings: int | None = None,
    broadcast_queries: bool = True,
    initial_ring: int | None = None,
) -> DataFrame:
    """Fully distributed exact kNN → (qid, rank, pid), the K nearest
    points per query. BOTH sides are DataFrames, so the query set may
    be as large as the point set (``broadcast_queries=False``).

    Each iteration expands every pending query's Chebyshev ring as a
    JVM offset explode ((2r+1)^2 literal offsets — no Python), joins on
    cell_id against the persisted bucketed points, ranks by exact
    squared distance, and retires queries whose Kth neighbor lies
    within the ring guarantee. Ring radius doubles per iteration, so
    the driver loop runs O(log grid) Spark jobs; per-iteration state
    (pending queries, finished results) stays distributed.

    ``initial_ring=None`` picks the first radius from a density
    estimate (one count over the already-persisted bucketed points):
    the smallest r whose (2r+1)^2-cell window is expected to hold 4k
    points under uniform density.  Most queries then retire in the
    FIRST round, so the sequential-job count — the latency term the
    ring doubling already bounds at O(log grid) — usually drops to 1-2
    regardless of k.  The termination bound is unchanged and exact, so
    this is latency tuning only, never a correctness trade.
    """
    n_grid = 1 << res
    min_dim = min(360.0 / n_grid, 180.0 / n_grid)
    if max_rings is None:
        max_rings = max(n_grid, 2)

    pts = points.withColumn(
        "cell_id", cells.cell_expr(F.col(lon_col), F.col(lat_col), res)
    ).persist()

    n = 1 << res
    ix, iy = cells.cell_index_exprs(F.col(qlon_col), F.col(qlat_col), res)
    pending = queries.select(
        qid_col, qlon_col, qlat_col, ix.alias("__ix"), iy.alias("__iy")
    ).persist()
    first_pending = pending

    done_parts: list[DataFrame] = []
    last_best: DataFrame | None = None
    if initial_ring is None:
        # density estimate: the count doubles as the cache warm-up for
        # the bucketed points (they are joined every round anyway)
        n_pts = pts.count()
        per_cell = n_pts / float(n_grid * n_grid)
        ring = 1
        while (
            ring * 2 <= max_rings
            and per_cell * (2 * ring + 1) ** 2 < 4.0 * k
        ):
            ring *= 2
    else:
        ring = max(1, min(int(initial_ring), max_rings))
    while ring <= max_rings:
        offs = F.expr(
            f"flatten(transform(sequence({-ring}, {ring}), dx -> "
            f"transform(sequence({-ring}, {ring}), dy -> struct(dx, dy))))"
        )
        cand_cells = (
            pending.withColumn("__o", F.explode(offs))
            .withColumn("__cx", F.col("__ix") + F.col("__o.dx"))
            .withColumn("__cy", F.col("__iy") + F.col("__o.dy"))
            .filter(
                (F.col("__cx") >= 0) & (F.col("__cx") < n)
                & (F.col("__cy") >= 0) & (F.col("__cy") < n)
            )
            .withColumn(
                "cell_id",
                F.lit(res).cast("long")
                * F.lit(1 << cells._RES_SHIFT).cast("long")
                + F.col("__cx") * F.lit(1 << cells._IX_SHIFT).cast("long")
                + F.col("__cy"),
            )
            .select(qid_col, qlon_col, qlat_col, "cell_id")
        )
        probe = F.broadcast(cand_cells) if broadcast_queries else cand_cells
        d2 = (F.col(lon_col) - F.col(qlon_col)) ** 2 + (
            F.col(lat_col) - F.col(qlat_col)
        ) ** 2
        w = Window.partitionBy(qid_col).orderBy(
            F.col("__d2").asc(), F.col(id_col).asc()
        )
        best = (
            pts.join(probe, "cell_id")
            .withColumn("__d2", d2)
            .withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k)
            .select(qid_col, "rank", id_col, "__d2")
        )
        # the returned plan reads these caches (one per ring), so they
        # live until the session ends, not released here
        best = best.persist()
        last_best = best
        guarantee = (ring * min_dim) ** 2
        stats = best.groupBy(qid_col).agg(
            F.count(F.lit(1)).alias("__n"), F.max("__d2").alias("__worst")
        )
        if ring >= max_rings:
            # final ring: retire EVERY pending query, including ones
            # with zero candidates (e.g. caller passed a small
            # max_rings, or the points table is empty) — they emit
            # their best-so-far rows (possibly none, which is the
            # correct kNN of an unreachable/empty point set) instead
            # of silently vanishing from the loop state
            done_q = pending.select(qid_col)
        else:
            done_q = stats.filter(
                (F.col("__n") >= k) & (F.col("__worst") <= guarantee)
            ).select(qid_col)
        done_parts.append(
            best.join(F.broadcast(done_q), qid_col, "left_semi")
        )
        prev_pending = pending
        pending = pending.join(
            F.broadcast(done_q), qid_col, "left_anti"
        ).persist()
        empty = pending.limit(1).count() == 0
        # the new pending is materialized; the previous ring's pending
        # (except the tracked first one) has no remaining consumer
        if prev_pending is not first_pending:
            prev_pending.unpersist()
        if empty:
            pending.unpersist()
            first_pending.unpersist()
            break
        ring *= 2

    if last_best is not None:
        # max_rings exhausted with queries still pending: keep their
        # best-so-far (covers the whole grid by construction)
        done_parts.append(
            last_best.join(
                F.broadcast(pending.select(qid_col)), qid_col, "left_semi"
            )
        )
    out = done_parts[0]
    for p in done_parts[1:]:
        out = out.unionByName(p)
    return out.select(qid_col, "rank", id_col).dropDuplicates(
        [qid_col, "rank"]
    )

"""Distributed spatial join: points-in-polygons at scale.

The north-rule operator. Reference semantics: OGRLayer::Intersection
(ogr/ogrlayer.cpp:3345+) — per-feature envelope prefilter, prepared-
geometry Contains pretest, exact Intersects test. Re-expressed for
Spark's execution model as a three-stage declarative plan:

  1. PREFILTER (JVM, zero Python): points get cell ids at each
     resolution present in the polygon cover — a posexplode of a small
     literal-array of codegen'd cell expressions — then a BROADCAST
     hash equi-join against the cover table (poly_id, cell_id, full, …).
     Catalyst broadcasts the cover (small by construction: compact
     mixed-res covers), so the big side never shuffles.
  2. CONTAINS PRETEST (free): pairs landing in ``full`` cover cells are
     accepted outright (cell rect ⊂ polygon interior) — the analog of
     the prepared-geometry Contains shortcut (ogrlayer.cpp:3489-3503).
     For typical admin-boundary polygons this resolves the bulk of hits.
  3. EXACT (JVM, zero Python): a boundary-cell pair runs the ray-cast
     test (ogrlinearring.cpp:462-532 semantics) as one Catalyst
     expression over the edges its cover row carries: only those a
     rightward ray from inside the cell can cross (``cover.refine_cover``).

Scale posture: no shuffle on the point side at all (broadcast join
with the refine as its condition); skewed hot cells are bounded by
cover refinement (res_max deepens where boundary density is high) and
AQE skew handling covers any downstream aggregation.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .. import cover as cover_mod
from ..cells import cell_sql


def build_cover_df(
    spark: SparkSession,
    polygons_pdf: pd.DataFrame,
    res_min: int = 3,
    res_max: int = 9,
    max_cells: int = 1024,
) -> DataFrame:
    cov = cover_mod.cover_polygons_pdf(polygons_pdf, res_min, res_max, max_cells)
    return spark.createDataFrame(cov)


# points_in_ring's crossing test of edge _e for the point (px, py), in
# its float operations and their order. The division runs only for a
# straddling edge, whose divisor is never 0 (ANSI mode raises on 0).
_CROSSES = (
    "IF(({y1} > 0D AND {y2} <= 0D) OR ({y2} > 0D AND {y1} <= 0D), "
    "IF(({x1} * {y2} - {x2} * {y1}) / ({y2} - {y1}) > 0D, _e.bit, 0L), 0L)"
).format(
    x1="(_e.bx - {px})", y1="(_e.by - {py})",  # segment end
    x2="(_e.ax - {px})", y2="(_e.ay - {py})",  # segment start
)
# points_on_ring_boundary's on-segment test of edge _e, likewise
_SX, _SY = "(_e.bx - _e.ax)", "(_e.by - _e.ay)"
_ON_EDGE = (
    "IF(({dx1} * {dy2} - {dx2} * {dy1}) = 0D "
    "AND NOT ({dx1} = {dx2} AND {dy1} = {dy2}) "
    "AND {t} >= 0D AND {t} <= {sx} * {sx} + {sy} * {sy}, _e.bit, 0L)"
).format(
    dx1="({px} - _e.bx)", dy1="({py} - _e.by)",  # to segment end
    dx2="({px} - _e.ax)", dy2="({py} - _e.ay)",  # to segment start
    t=f"(({{px}} - _e.ax) * {_SX} + ({{py}} - _e.ay) * {_SY})",
    sx=_SX, sy=_SY,
)


def _refine_sql(px: str, py: str, n_words: int, boundary_is_inside: bool) -> str:
    """The exact test of a boundary cover row (see
    ``cover.refine_cover``; its columns join as ``__<name>``) as one
    SQL expression: per mask word k, one ``aggregate`` over the row's
    edges XORs the bit of every crossed ring into ``_m<k>`` (ray-cast
    parity) and, with ``boundary_is_inside``, a second one ORs the bit
    of every ring the point lies on into ``_o<k>``. Each aggregate
    binds its mask in its finish lambda, so it runs once per row; the
    innermost finish asks whether some part holds the point: inside
    its envelope, inside or on its outer ring, and strictly inside
    none of its holes."""
    tests = [("_m", _CROSSES, " ^ ")]
    if boundary_is_inside:
        tests.append(("_o", _ON_EDGE, " | "))
    inside, in_hole = [], []
    for k in range(n_words):
        m = f"_m{k} | _o{k}" if boundary_is_inside else f"_m{k}"
        h = f"_m{k} & ~_o{k}" if boundary_is_inside else f"_m{k}"
        inside.append(f"(({m}) & _q.{cover_mod.word_name('outer', k)})")
        in_hole.append(f"(({h}) & _q.{cover_mod.word_name('holes', k)})")
    sql = (
        f"exists(__parts, _q -> {px} >= _q.x0 AND {px} <= _q.x1 "
        f"AND {py} >= _q.y0 AND {py} <= _q.y1 "
        f"AND ({' | '.join(inside)}) != 0 AND ({' | '.join(in_hole)}) = 0)"
    )
    for k in reversed(range(n_words)):
        for mask, test, op in reversed(tests):
            sql = (
                f"aggregate(__{cover_mod.word_name('edges', k)}, 0L, "
                f"(_a, _e) -> _a{op}{test.format(px=px, py=py)}, "
                f"{mask}{k} -> {sql})"
            )
    return sql


def spatial_join(
    points: DataFrame,
    polygons_pdf: pd.DataFrame,
    lon_col: str = "lon",
    lat_col: str = "lat",
    res_min: int = 3,
    res_max: int = 9,
    max_cells: int = 1024,
    boundary_is_inside: bool = False,
) -> DataFrame:
    """points ⨝ polygons → point rows + matching poly_id.

    Output: all columns of ``points`` plus ``poly_id`` (inner join —
    points in no polygon are dropped; use a left join downstream for
    Identity-style semantics)."""
    spark = points.sparkSession
    cov, n_words = cover_mod.refine_cover(polygons_pdf, res_min, res_max, max_cells)
    res_levels = np.unique(cov.column("res")).tolist()
    if not res_levels:
        return points.limit(0).withColumn("poly_id", F.lit(None).cast("long"))
    # every cover column but poly_id joins under a "__" name, so no
    # column of ``points`` is shadowed or dropped
    cover_df = spark.createDataFrame(
        cov.rename_columns(
            [c if c == "poly_id" else f"__{c}" for c in cov.column_names]
        )
    )

    # point cell id at every cover resolution, JVM-side; explode is a
    # narrow op (fanout = number of distinct res levels, typically ≤ 7).
    # One SQL fragment is one parse on the JVM; the same expression built
    # from Column objects costs over a thousand py4j round trips.
    lon, lat = f"`{lon_col}`", f"`{lat_col}`"
    cells_arr = F.expr(
        "array(" + ", ".join(cell_sql(lon, lat, r) for r in res_levels) + ")"
    )
    pts = points.select("*", F.explode(cells_arr).alias("__cell_id"))

    cand = pts.join(F.broadcast(cover_df), "__cell_id", "inner")

    # single pass: one plan, no union. A full-cover pair is accepted
    # by the OR's first operand and never evaluates the exact test.
    refine = F.expr(_refine_sql(lon, lat, n_words, boundary_is_inside))
    return cand.filter(F.col("__full") | refine).drop(
        *(f"__{c}" for c in cov.column_names if c != "poly_id")
    )


def spatial_join_count(
    points: DataFrame, polygons_pdf: pd.DataFrame, **kwargs
) -> DataFrame:
    """Points-per-polygon counts (the flagship aggregate)."""
    joined = spatial_join(points, polygons_pdf, **kwargs)
    return joined.groupBy("poly_id").agg(F.count(F.lit(1)).alias("n_points"))

"""Distributed spatial join: points-in-polygons at scale.

The north-rule operator. Reference semantics: OGRLayer::Intersection
(ogr/ogrlayer.cpp:3345+) — per-feature envelope prefilter, prepared-
geometry Contains pretest, exact Intersects test. Re-expressed for
Spark's execution model as a three-stage declarative plan:

  1. PREFILTER (JVM, zero Python): points get cell ids at each
     resolution present in the polygon cover — a posexplode of a small
     literal-array of codegen'd cell expressions — then a BROADCAST
     hash equi-join against the cover table (poly_id, cell_id, full).
     Catalyst broadcasts the cover (small by construction: compact
     mixed-res covers), so the big side never shuffles.
  2. CONTAINS PRETEST (free): pairs landing in ``full`` cover cells are
     accepted outright (cell rect ⊂ polygon interior) — the analog of
     the prepared-geometry Contains shortcut (ogrlayer.cpp:3489-3503).
     For typical admin-boundary polygons this resolves the bulk of hits.
  3. EXACT (vectorized Python): only boundary-cell pairs reach the
     ray-cast PIP pandas UDF (ogrlinearring.cpp:462-532 semantics),
     with polygon rings shipped once per executor via a broadcast.

Scale posture: no shuffle on the point side at all (broadcast join +
narrow UDF); skewed hot cells are bounded by cover refinement (res_max
deepens where boundary density is high) and AQE skew handling covers
any downstream aggregation.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .. import cover as cover_mod
from .. import geometry, wkb
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


def broadcast_polygon_rings(spark: SparkSession, polygons_pdf: pd.DataFrame):
    """Broadcast {poly_id: [part][ring] coordinate arrays} once."""
    rings = {
        int(pid): wkb.polygon_rings(bytes(buf))
        for pid, buf in zip(polygons_pdf["poly_id"], polygons_pdf["geom_wkb"])
    }
    return spark.sparkContext.broadcast(rings)


def _pip_kernel(
    lon_np: np.ndarray,
    lat_np: np.ndarray,
    pid_np: np.ndarray,
    full_np: np.ndarray,
    rings_by_pid: dict,
    boundary_is_inside: bool,
) -> np.ndarray:
    """Vectorized PIP with the full-cover shortcut INSIDE the kernel:
    rows whose cover cell lies fully inside the polygon are accepted
    by a mask copy and never reach the ray-cast (nor the ring
    lookup). Catalyst extracts Python UDFs and evaluates them on
    every row regardless of surrounding CASE WHEN (the r02 finding:
    `Filter CASE WHEN full THEN true ELSE pythonUDF0 END` still ran
    the UDF on 100% of candidates), so the masking must happen here
    — the prepared-geometry-Contains analog, ogrlayer.cpp:3489-3503."""
    out = np.zeros(len(lon_np), dtype=bool)
    out[full_np] = True
    need = np.nonzero(~full_np)[0]
    if need.size == 0:
        return out
    pid_need = pid_np[need]
    for pid in np.unique(pid_need):
        m = need[pid_need == pid]
        px, py = lon_np[m], lat_np[m]
        inside = np.zeros(px.shape, dtype=bool)
        for part in rings_by_pid[int(pid)]:  # multipolygon = any part
            inside |= geometry.points_in_polygon(
                px, py, part, boundary_is_inside=boundary_is_inside
            )
        out[m] = inside
    return out


def _pip_udf(rings_bc, boundary_is_inside: bool):
    """Vectorized pandas UDF: (lon, lat, poly_id, full) → bool."""
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("boolean")
    def pip(
        lon: pd.Series, lat: pd.Series, poly_id: pd.Series, full: pd.Series
    ) -> pd.Series:
        return pd.Series(
            _pip_kernel(
                lon.to_numpy(dtype=np.float64),
                lat.to_numpy(dtype=np.float64),
                poly_id.to_numpy(dtype=np.int64),
                full.to_numpy(dtype=bool),
                rings_bc.value,
                boundary_is_inside,
            )
        )

    return pip


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
    cov = cover_mod.cover_polygons_pdf(polygons_pdf, res_min, res_max, max_cells)
    res_levels = np.unique(cov["res"]).tolist()
    if not res_levels:
        return points.limit(0).withColumn("poly_id", F.lit(None).cast("long"))
    cover_df = spark.createDataFrame(cov)
    rings_bc = broadcast_polygon_rings(spark, polygons_pdf)

    # point cell id at every cover resolution, JVM-side; explode is a
    # narrow op (fanout = number of distinct res levels, typically ≤ 7).
    # One SQL fragment is one parse on the JVM; the same expression built
    # from Column objects costs over a thousand py4j round trips.
    lon, lat = f"`{lon_col}`", f"`{lat_col}`"
    cells_arr = F.expr(
        "array(" + ", ".join(cell_sql(lon, lat, r) for r in res_levels) + ")"
    )
    pts = points.select("*", F.explode(cells_arr).alias("cell_id"))

    cand = pts.join(F.broadcast(cover_df), "cell_id", "inner")

    # single pass: one plan, no union — the upstream (scan/extract)
    # executes exactly once. ``full`` rides INTO the UDF as a mask
    # argument: full-cover pairs resolve to a vectorized copy inside
    # the kernel (the interior bulk at scale pays Arrow transfer but
    # zero ray-cast work), boundary pairs get the exact test.
    pip = _pip_udf(rings_bc, boundary_is_inside)
    return (
        cand.filter(
            pip(
                F.col(lon_col), F.col(lat_col),
                F.col("poly_id"), F.col("full"),
            )
        )
        .drop("cell_id", "res", "full")
    )


def spatial_join_count(
    points: DataFrame, polygons_pdf: pd.DataFrame, **kwargs
) -> DataFrame:
    """Points-per-polygon counts (the flagship aggregate)."""
    joined = spatial_join(points, polygons_pdf, **kwargs)
    return joined.groupBy("poly_id").agg(F.count(F.lit(1)).alias("n_points"))

"""Spherical-mercator tile math (EPSG:3857 pyramid).

Pure arithmetic port of the *semantics* of gdal2tiles's GlobalMercator
(swig/python/gdal-utils/osgeo_utils/gdal2tiles.py): LatLonToMeters
(:422), MetersToLatLon (:431), Resolution (:497, = 2*pi*R/256/2^z),
MetersToPixels/PixelsToTile with the ceil-minus-1 convention (:460-466),
TileBounds (:479), GoogleTile XYZ<->TMS y-flip (:511), QuadTree key
(:517).  Everything is vectorized numpy plus equivalent Spark Column /
ANSI-SQL fragments so tile assignment runs JVM-side (codegen) and is
oracle-checkable in DuckDB.

Tile scheme: TMS (ty=0 at the south edge) internally, like gdal2tiles;
``tms_to_xyz`` flips to the web/XYZ convention.
"""

from __future__ import annotations

import math

import numpy as np

R = 6378137.0
ORIGIN = math.pi * R  # 20037508.342789244
MAX_LAT = 85.05112877980659  # web-mercator clamp


def resolution(zoom: int, tile_size: int = 256) -> float:
    """Meters per pixel at ``zoom`` (gdal2tiles.py:497)."""
    return 2.0 * ORIGIN / tile_size / (1 << zoom)


def lat_lon_to_meters(lon, lat) -> tuple[np.ndarray, np.ndarray]:
    """EPSG:4326 → EPSG:3857 (gdal2tiles.py:422). lat is clamped to the
    mercator validity range first (web-map convention)."""
    lon = np.asarray(lon, dtype=np.float64)
    lat = np.clip(np.asarray(lat, dtype=np.float64), -MAX_LAT, MAX_LAT)
    mx = lon * ORIGIN / 180.0
    my = np.log(np.tan((90.0 + lat) * math.pi / 360.0)) / (math.pi / 180.0)
    my = my * ORIGIN / 180.0
    return mx, my


def meters_to_lat_lon(mx, my) -> tuple[np.ndarray, np.ndarray]:
    """Inverse of lat_lon_to_meters (gdal2tiles.py:431)."""
    mx = np.asarray(mx, dtype=np.float64)
    my = np.asarray(my, dtype=np.float64)
    lon = mx / ORIGIN * 180.0
    lat = my / ORIGIN * 180.0
    lat = (
        180.0
        / math.pi
        * (2.0 * np.arctan(np.exp(lat * math.pi / 180.0)) - math.pi / 2.0)
    )
    return lon, lat


def meters_to_pixels(mx, my, zoom: int, tile_size: int = 256):
    """Meters → global pixel coords at ``zoom`` (py origin = south/bottom,
    the TMS convention gdal2tiles uses internally)."""
    res = resolution(zoom, tile_size)
    px = (np.asarray(mx, dtype=np.float64) + ORIGIN) / res
    py = (np.asarray(my, dtype=np.float64) + ORIGIN) / res
    return px, py


def pixels_to_tile(px, py, tile_size: int = 256):
    """Global pixel → TMS tile, gdal2tiles ceil-minus-1 convention
    (gdal2tiles.py:460-466): tx = ceil(px / size) - 1, so a pixel
    exactly on a tile's left/bottom edge belongs to the tile to its
    left/below — boundary semantics the oracle must reproduce."""
    px = np.asarray(px, dtype=np.float64)
    py = np.asarray(py, dtype=np.float64)
    tx = (np.ceil(px / float(tile_size)) - 1).astype(np.int64)
    ty = (np.ceil(py / float(tile_size)) - 1).astype(np.int64)
    return tx, ty


def meters_to_tile(mx, my, zoom: int, tile_size: int = 256):
    px, py = meters_to_pixels(mx, my, zoom, tile_size)
    return pixels_to_tile(px, py, tile_size)


def tile_bounds_meters(tx, ty, zoom: int, tile_size: int = 256):
    """TMS tile → (minx, miny, maxx, maxy) in meters (gdal2tiles.py:479)."""
    res = resolution(zoom, tile_size)
    tx = np.asarray(tx, dtype=np.float64)
    ty = np.asarray(ty, dtype=np.float64)
    minx = tx * tile_size * res - ORIGIN
    miny = ty * tile_size * res - ORIGIN
    maxx = (tx + 1) * tile_size * res - ORIGIN
    maxy = (ty + 1) * tile_size * res - ORIGIN
    return minx, miny, maxx, maxy


def tms_to_xyz(ty, zoom: int):
    """TMS ↔ Google/XYZ y-flip (gdal2tiles.py:511). Involutive."""
    return (np.int64(1) << zoom) - 1 - np.asarray(ty, dtype=np.int64)


def quadkey(tx, ty, zoom: int) -> np.ndarray:
    """Bing-style quadkey from TMS coords (gdal2tiles.py:517): flip to
    XYZ internally, then one base-4 digit per zoom level, digit =
    x_bit + 2*y_bit, most significant level first."""
    tx = np.asarray(tx, dtype=np.int64)
    gy = tms_to_xyz(ty, zoom)
    keys = np.full(tx.shape, "", dtype=object)
    for i in range(zoom, 0, -1):
        mask = np.int64(1) << (i - 1)
        digit = ((tx & mask) > 0).astype(np.int64) + 2 * (
            (gy & mask) > 0
        ).astype(np.int64)
        keys = np.char.add(keys.astype(str), digit.astype(str)).astype(object)
    return keys.astype(str)


# ---------------------------------------------------------------------------
# Spark Column expressions (JVM-side tile assignment — zero Python)
# ---------------------------------------------------------------------------


def pixel_expr(lon_col, lat_col, zoom: int, tile_size: int = 256):
    """(px, py) global-pixel Columns at ``zoom`` (TMS, py up)."""
    from pyspark.sql import functions as F

    res = resolution(zoom, tile_size)
    latc = F.least(F.greatest(lat_col, F.lit(-MAX_LAT)), F.lit(MAX_LAT))
    mx = lon_col * (ORIGIN / 180.0)
    my = (
        F.log(F.tan((latc + 90.0) * (math.pi / 360.0)))
        / (math.pi / 180.0)
        * (ORIGIN / 180.0)
    )
    return (mx + ORIGIN) / res, (my + ORIGIN) / res


def tile_expr(lon_col, lat_col, zoom: int, tile_size: int = 256):
    """(tx, ty) TMS tile Columns — ceil-minus-1 convention."""
    from pyspark.sql import functions as F

    px, py = pixel_expr(lon_col, lat_col, zoom, tile_size)
    tx = (F.ceil(px / float(tile_size)) - 1).cast("long")
    ty = (F.ceil(py / float(tile_size)) - 1).cast("long")
    return tx, ty


def pixel_sql(lon_sql: str, lat_sql: str, zoom: int, tile_size: int = 256):
    """The identical (px, py) arithmetic as SQL fragments (DuckDB+Spark
    dialect-common) for oracle parity."""
    res = resolution(zoom, tile_size)
    latc = f"LEAST(GREATEST({lat_sql}, {-MAX_LAT!r}), {MAX_LAT!r})"
    mx = f"({lon_sql}) * {ORIGIN / 180.0!r}"
    my = (
        f"LN(TAN(({latc} + 90e0) * {math.pi / 360.0!r})) / {math.pi / 180.0!r}"
        f" * {ORIGIN / 180.0!r}"
    )
    px = f"(({mx}) + {ORIGIN!r}) / {res!r}"
    py = f"(({my}) + {ORIGIN!r}) / {res!r}"
    return px, py

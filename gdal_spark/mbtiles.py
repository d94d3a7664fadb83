"""MBTiles 1.3 source/sink — the single-file tile container.

The reference ships tile pyramids as MBTiles (raster:
frmts/mbtiles/mbtilesdataset.cpp; vector MVT-in-MBTiles:
ogr/ogrsf_frmts/mvt + the same container). The format is public and
tiny: a SQLite database with a ``metadata`` (name, value) table and a
``tiles`` (zoom_level, tile_column, tile_row, tile_data) table whose
``tile_row`` is TMS (south-up) — the y-flip of the engine's XYZ tile
convention. ``format=pbf`` payloads must be gzip-wrapped per spec
§"Vector tilesets".

Spark design (100 TB posture): a SQLite file has a single writer, so
the write unit is a GRANULE — one .mbtiles per ``group_col`` value
(shard by region/zoom for planet-scale pyramids), or one file total
when ``group_col=None`` (the common "ship me a tileset" case; the
groupBy is then a single-task gather, sized by the output tileset,
not the input). Encoding (PNG/JPEG) happens inside the task with the
repo's from-spec codecs; no pixel byte ever shuffles twice. The
reader mirrors :func:`gdal_spark.gpkg.read_gpkg_ranged`: rowid-ranged
parallel SELECTs so one big container fans out across executors.

Same shared-FS deployment contract as the other granule sinks.
"""

from __future__ import annotations

import gzip
import hashlib
import os
import sqlite3
import uuid

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import IntegralType

from . import mercator

_MBT_DDL = [
    "CREATE TABLE metadata (name text, value text)",
    "CREATE TABLE tiles (zoom_level integer, tile_column integer, "
    "tile_row integer, tile_data blob)",
    "CREATE UNIQUE INDEX tile_index ON tiles "
    "(zoom_level, tile_column, tile_row)",
]

MANIFEST_SCHEMA = (
    "path string, n_tiles long, minzoom int, maxzoom int, "
    "n_bytes long, md5 string"
)


def _tile_payloads(pdf: pd.DataFrame, fmt: str, quality: int,
                   png_level: int) -> list[bytes]:
    """Encode one granule's rows → payload blobs. ``png``/``jpg``
    expect raw uint8 rasters (TILE_SCHEMA w/h/data); ``pbf`` expects
    already-encoded MVT bytes and applies the spec's gzip wrap
    (deterministic: mtime=0)."""
    if fmt == "pbf":
        return [
            gzip.compress(bytes(d), 6, mtime=0) for d in pdf["data"]
        ]
    out = []
    for r in pdf.itertuples(index=False):
        a = np.frombuffer(r.data, dtype=np.uint8).reshape(
            int(r.h), int(r.w)
        )
        if fmt == "png":
            from .png import png_encode

            out.append(png_encode(a, level=png_level))
        else:
            from .jpeg import jpeg_encode

            out.append(jpeg_encode(a, quality=quality))
    return out


def write_mbtiles(
    tiles: DataFrame,
    out: str,
    *,
    format: str = "png",
    name: str = "tiles",
    quality: int = 90,
    png_level: int = 6,
    metadata: dict | None = None,
    group_col: str | None = None,
) -> DataFrame:
    """Distributed MBTiles sink. Input rows use the engine's XYZ
    convention — ``(z, tx, ty, w, h, data)`` raw uint8 rasters for
    ``format in ("png", "jpg")``, ``(z, tx, ty, data)`` encoded MVT
    payloads for ``format="pbf"`` (gzip applied here per spec).
    ``tile_row`` is stored TMS: ``2**z - 1 - ty`` (mbtilesdataset.cpp
    does the same flip).

    ``group_col=None`` → ONE file at path ``out``. Otherwise ``out``
    is a directory and each distinct value of the integral
    ``group_col`` becomes ``out/part-<key>.mbtiles`` written in
    parallel (the granule pattern shared with
    write_gtiff_dir/write_gpkg_dir).

    Returns the manifest (path, n_tiles, minzoom, maxzoom, n_bytes,
    md5); deterministic bytes per granule content (rows sorted,
    fixed codec params, gzip mtime=0 — byte-stable reruns land
    atomically via tmp+rename)."""
    if format not in ("png", "jpg", "pbf"):
        raise ValueError(f"unsupported format {format!r}")
    need = ("z", "tx", "ty", "data") if format == "pbf" else (
        "z", "tx", "ty", "w", "h", "data"
    )
    for c in need:
        if c not in tiles.columns:
            raise ValueError(f"missing column {c!r}")
    single = group_col is None
    if single:
        os.makedirs(os.path.dirname(os.path.abspath(out)),
                    exist_ok=True)
        src = tiles.select(F.lit(0).cast("long").alias("__key"), *need)
    else:
        key_type = tiles.schema[group_col].dataType
        if not isinstance(key_type, IntegralType):
            raise ValueError(
                f"group_col {group_col!r} must be an integral column, "
                f"got {key_type.simpleString()}"
            )
        os.makedirs(out, exist_ok=True)
        src = tiles.select(
            F.col(group_col).cast("long").alias("__key"), *need
        )
    user_meta = dict(metadata or {})

    def sink(kt, pdf: pd.DataFrame) -> pd.DataFrame:
        k = int(kt[0])
        pdf = pdf.sort_values(["z", "ty", "tx"]).reset_index(drop=True)
        payloads = _tile_payloads(pdf, format, quality, png_level)
        zmin, zmax = int(pdf["z"].min()), int(pdf["z"].max())
        # bounds (lon/lat, OpenLayers order) from the max-zoom extent
        mz = pdf[pdf["z"] == zmax]
        n = 1 << zmax
        w_m, s_m, _, _ = mercator.tile_bounds_meters(
            int(mz["tx"].min()), n - 1 - int(mz["ty"].max()), zmax
        )
        _, _, e_m, n_m = mercator.tile_bounds_meters(
            int(mz["tx"].max()), n - 1 - int(mz["ty"].min()), zmax
        )
        (w_d,), (s_d,) = mercator.meters_to_lat_lon(
            np.array([w_m]), np.array([s_m])
        )
        (e_d,), (n_d,) = mercator.meters_to_lat_lon(
            np.array([e_m]), np.array([n_m])
        )
        meta = {
            "name": name,
            "format": format,
            "type": "baselayer",
            "version": "1",
            "minzoom": str(zmin),
            "maxzoom": str(zmax),
            "bounds": f"{w_d:.8f},{s_d:.8f},{e_d:.8f},{n_d:.8f}",
        }
        meta.update(user_meta)
        path = out if single else os.path.join(
            out, f"part-{k:05d}.mbtiles"
        )
        tmp = f"{path}.tmp-{uuid.uuid4().hex}"
        con = sqlite3.connect(tmp)
        try:
            for ddl in _MBT_DDL:
                con.execute(ddl)
            con.executemany(
                "INSERT INTO metadata VALUES (?, ?)",
                sorted(meta.items()),
            )
            con.executemany(
                "INSERT INTO tiles VALUES (?, ?, ?, ?)",
                [
                    (
                        int(r.z), int(r.tx),
                        (1 << int(r.z)) - 1 - int(r.ty),  # TMS flip
                        payloads[i],
                    )
                    for i, r in enumerate(pdf.itertuples(index=False))
                ],
            )
            con.commit()
        finally:
            con.close()
        os.replace(tmp, path)
        with open(path, "rb") as f:
            blob = f.read()
        return pd.DataFrame(
            [(
                path, len(pdf), zmin, zmax, len(blob),
                hashlib.md5(blob).hexdigest(),
            )],
            columns=[
                "path", "n_tiles", "minzoom", "maxzoom", "n_bytes",
                "md5",
            ],
        )

    return src.groupBy("__key").applyInPandas(sink, MANIFEST_SCHEMA)


def mbtiles_metadata(path: str) -> dict:
    """The metadata table as a dict (driver-side, header-sized)."""
    con = sqlite3.connect(f"file:{path}?mode=ro", uri=True)
    try:
        return dict(con.execute("SELECT name, value FROM metadata"))
    finally:
        con.close()


def read_mbtiles(
    spark: SparkSession,
    path: str,
    partitions: int | None = None,
) -> DataFrame:
    """Rowid-ranged parallel MBTiles scan → (z, tx, ty, data) with ty
    back in XYZ and pbf payloads un-gzipped — the read twin of
    :func:`write_mbtiles` (mbtilesdataset.cpp GetTile analog). The
    driver reads only MIN/MAX(rowid) + metadata; each task SELECTs
    its own rowid slice, so one planet container fans out without any
    single reader holding it."""
    con = sqlite3.connect(f"file:{path}?mode=ro", uri=True)
    try:
        lo, hi = con.execute(
            "SELECT MIN(rowid), MAX(rowid) FROM tiles"
        ).fetchone()
        fmt = dict(
            con.execute("SELECT name, value FROM metadata")
        ).get("format", "png")
    finally:
        con.close()
    if lo is None:
        return spark.createDataFrame(
            [], "z long, tx long, ty long, data binary"
        )
    n = partitions or spark.sparkContext.defaultParallelism
    step = max(1, (hi - lo + 1 + n - 1) // n)
    ranges = pd.DataFrame(
        {
            "lo": list(range(lo, hi + 1, step)),
            "hi": [min(s + step - 1, hi)
                   for s in range(lo, hi + 1, step)],
        }
    )
    src = spark.createDataFrame(ranges)
    gunzip = fmt == "pbf"

    def gen(batches):
        for b in batches:
            for r in b.itertuples(index=False):
                con = sqlite3.connect(f"file:{path}?mode=ro", uri=True)
                try:
                    rows = con.execute(
                        "SELECT zoom_level, tile_column, tile_row, "
                        "tile_data FROM tiles WHERE rowid BETWEEN ? "
                        "AND ? ORDER BY rowid",
                        (int(r.lo), int(r.hi)),
                    ).fetchall()
                finally:
                    con.close()
                yield pd.DataFrame(
                    {
                        "z": [int(z) for z, *_ in rows],
                        "tx": [int(x) for _, x, *_ in rows],
                        "ty": [
                            (1 << int(z)) - 1 - int(y)
                            for z, _, y, _ in rows
                        ],
                        "data": [
                            gzip.decompress(d) if gunzip else bytes(d)
                            for *_, d in rows
                        ],
                    }
                )

    return src.mapInPandas(gen, "z long, tx long, ty long, data binary")

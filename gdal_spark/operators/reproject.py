"""Vector layer reprojection — the ``ogr2ogr -t_srs`` path
(``OGRGeometry::transform`` via OGRCoordinateTransformation,
``ogr/ogrgeometry.cpp:3380`` + the ct apply in ogrct.cpp; long-edge
densification per ``OGRGeometryFactory::transformWithOptions``).

One Arrow-batched kernel: parse WKB, stack EVERY coordinate of the
batch into one (N, 2) array, apply the picklable transform ONCE
(vectorized — the same callable protocol every transform family in
this package exports: proj/UTM/LCC, datum Helmert, GCP poly, TPS,
RPC, homography, geoloc, approx, compose), then re-encode. Per-batch
cost is one transform call regardless of geometry count — the
row loop only slices offsets.

``densify_max_len`` (source units) subdivides segments longer than
the threshold BEFORE transforming, so curved projections bend long
edges instead of cutting corners — transformWithOptions' option.

Scale: a pure map (no shuffle); composes with any source (shapefile
/ GPKG / GeoJSON / GeoParquet scans) and any sink.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame

from .. import wkb as _wkb


def _densify(coords: np.ndarray, max_len: float) -> np.ndarray:
    if max_len <= 0 or len(coords) < 2:
        return coords
    out = [coords[:1]]
    for a, b in zip(coords[:-1], coords[1:]):
        d = float(np.hypot(b[0] - a[0], b[1] - a[1]))
        k = int(np.ceil(d / max_len))
        if k > 1:
            t = np.linspace(0.0, 1.0, k + 1)[1:, None]
            out.append(a[None, :] * (1 - t) + b[None, :] * t)
        else:
            out.append(b[None, :])
    return np.vstack(out)


def transform_wkb_batch(
    bufs: list[bytes | None], transform, densify_max_len: float = 0.0
) -> list[bytes | None]:
    """Apply ``transform(x, y) -> (X, Y)`` to a batch of WKB blobs
    with ONE vectorized call over every coordinate in the batch."""
    geoms: list = []
    arrays: list[np.ndarray] = []

    def densify(a):
        a = _densify(np.asarray(a, dtype=np.float64), densify_max_len)
        arrays.append(a)
        return a

    for buf in bufs:
        if buf is None:
            geoms.append(None)
            continue
        gt, payload = _wkb.parse(bytes(buf))
        if gt not in _wkb.LINEAR:
            raise ValueError(f"unsupported WKB type {gt}")
        geoms.append((gt, _wkb.map_coords(gt, payload, densify)))
    if arrays:
        stacked = np.vstack(arrays)
        X, Y = transform(stacked[:, 0], stacked[:, 1])
        stacked = np.column_stack(
            [np.asarray(X, np.float64), np.asarray(Y, np.float64)]
        )
    k = 0

    def transformed(a):
        # the same walk order as densify: each sequence takes the
        # next len(a) rows of the transformed stack
        nonlocal k
        k += len(a)
        return stacked[k - len(a): k]

    return [
        None if g is None
        else _wkb.build(g[0], _wkb.map_coords(*g, transformed))
        for g in geoms
    ]


def reproject_geometries(
    df: DataFrame,
    transform,
    geometry_col: str = "geometry",
    densify_max_len: float = 0.0,
) -> DataFrame:
    """ogr2ogr -t_srs over a WKB column: schema-preserving map."""
    cols = df.columns
    schema = ", ".join(f"`{n}` {t}" for n, t in df.dtypes)

    def gen(batches):
        for pdf in batches:
            out = pdf.copy()
            out[geometry_col] = transform_wkb_batch(
                [
                    None if b is None else bytes(b)
                    for b in pdf[geometry_col]
                ],
                transform,
                densify_max_len,
            )
            yield out[cols]

    return df.mapInPandas(gen, schema)

"""Seeded benchmark inputs and their independently computed answers.

Every input is a pure function of ``(seed, size)``. Page row ``i`` of a
``size``-page fixture is ``testdata.page_fields`` at page id
``i + seed * size``, so two seeds never share a page. Fixtures are
written once per ``(seed, size)`` under the work directory and reused;
the engine only ever sees the parquet files.

The reference answers are computed here on the driver, single process,
without touching the code under test:

* points: a plain ``re`` parse of the page text (not ``extract``);
* join counts: ``geometry.points_in_polygon`` over every polygon, with
  no cell cover and no Spark;
* tile checksums: a numpy point burn plus a 2x2-average pyramid over a
  dict of tiles, and the checksum formula written out again.
"""

from __future__ import annotations

import json
import math
import os
import re
import shutil
from collections import Counter

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from gdal_spark import geometry, testdata, wkb

# Files per fixture: enough for Spark to split the scan across every
# core of a small host without any conf change.
N_FILES = 16
N_POLYGONS = 100
RES_MIN, RES_MAX = 2, 7

_MENTION = re.compile(r"\(([-+]?\d+\.\d{6}),([-+]?\d+\.\d{6})\)")
_CHECKSUM_MOD = 1 << 31
_ORIGIN = math.pi * 6378137.0
_MAX_LAT = 85.05112877980659


def page_ids(seed: int, n_pages: int) -> np.ndarray:
    return np.arange(n_pages, dtype=np.int64) + np.int64(seed) * n_pages


def polygons():
    return testdata.polygons_pdf(N_POLYGONS)


def polygons_fixture(work: str) -> str:
    """The polygon layer (seedless) as one parquet file."""
    path = os.path.join(work, "fixtures", f"polygons-{N_POLYGONS}.parquet")
    if not os.path.exists(path):
        os.makedirs(os.path.dirname(path), exist_ok=True)
        table = pa.Table.from_pandas(polygons(), preserve_index=False)
        pq.write_table(table, path + ".tmp")
        os.replace(path + ".tmp", path)
    return path


def _write_parts(table: pa.Table, out_dir: str) -> None:
    """Write ``table`` as N_FILES parquet files, atomically."""
    tmp = out_dir + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    bounds = np.linspace(0, table.num_rows, N_FILES + 1).astype(int)
    for k in range(N_FILES):
        part = table.slice(bounds[k], bounds[k + 1] - bounds[k])
        pq.write_table(part, os.path.join(tmp, f"part-{k:03d}.parquet"))
    shutil.rmtree(out_dir, ignore_errors=True)  # left by a killed run
    os.replace(tmp, out_dir)


def _parse_points(texts: list[str]) -> tuple[np.ndarray, np.ndarray]:
    coords = np.array(_MENTION.findall("\n".join(texts)), dtype=np.float64)
    return coords[:, 0].copy(), coords[:, 1].copy()


# ---------------------------------------------------------------------------
# reference answers
# ---------------------------------------------------------------------------


def join_counts(lon: np.ndarray, lat: np.ndarray, polys) -> dict[int, int]:
    """Points per polygon by brute-force PIP over every polygon."""
    out = {}
    for pid, buf in zip(polys["poly_id"], polys["geom_wkb"]):
        inside = np.zeros(lon.shape, dtype=bool)
        for rings in wkb.polygon_rings(bytes(buf)):
            inside |= geometry.points_in_polygon(lon, lat, rings)
        if inside.any():
            out[int(pid)] = int(inside.sum())
    return out


def _global_pixels(lon, lat, zoom: int, tile_size: int):
    """Web-mercator global pixel (gx, gy), top-down, as the engine's
    burn defines it; same operation order as its JVM expression."""
    n_px = (1 << zoom) * tile_size
    res = 2 * _ORIGIN / tile_size / (1 << zoom)
    latc = np.minimum(np.maximum(lat, -_MAX_LAT), _MAX_LAT)
    mx = lon * (_ORIGIN / 180.0)
    my = (
        np.log(np.tan((latc + 90.0) * (math.pi / 360.0)))
        / (math.pi / 180.0)
        * (_ORIGIN / 180.0)
    )
    px = (mx + _ORIGIN) / res
    py = (my + _ORIGIN) / res
    gx = np.clip(np.floor(px), 0, n_px - 1).astype(np.int64)
    gy = (n_px - 1) - np.clip(np.floor(py), 0, n_px - 1).astype(np.int64)
    return gx, gy


def _checksum(arr: np.ndarray) -> int:
    a = arr.astype(np.int64).ravel()
    w = np.arange(a.size, dtype=np.int64) % 11 + 1
    return int(np.sum(a * w) % _CHECKSUM_MOD)


def pyramid_checksums(lon, lat, zoom: int, tile_size: int) -> list:
    """Sorted [z, tx, ty, checksum] of burn(zoom) plus its 2x2-average
    overviews down to zoom 0."""
    gx, gy = _global_pixels(lon, lat, zoom, tile_size)
    level: dict[tuple[int, int], np.ndarray] = {}
    key = gy * ((1 << zoom) * tile_size) + gx
    uniq, counts = np.unique(key, return_counts=True)
    ugy, ugx = np.divmod(uniq, (1 << zoom) * tile_size)
    for x, y, c in zip(ugx.tolist(), ugy.tolist(), counts.tolist()):
        t = (x // tile_size, y // tile_size)
        if t not in level:
            level[t] = np.zeros((tile_size, tile_size), dtype=np.int64)
        level[t][y % tile_size, x % tile_size] = c
    level = {t: np.minimum(a, 255) for t, a in level.items()}
    out = [[zoom, tx, ty, _checksum(a)] for (tx, ty), a in level.items()]
    half = tile_size // 2
    for z in range(zoom - 1, -1, -1):
        parents: dict[tuple[int, int], np.ndarray] = {}
        for (tx, ty), a in level.items():
            p = parents.setdefault(
                (tx // 2, ty // 2), np.zeros((tile_size, tile_size), np.int64)
            )
            s = a[0::2, 0::2] + a[0::2, 1::2] + a[1::2, 0::2] + a[1::2, 1::2]
            qx, qy = tx % 2, ty % 2
            p[qy * half:(qy + 1) * half, qx * half:(qx + 1) * half] = (s + 2) // 4
        level = parents
        out += [[z, tx, ty, _checksum(a)] for (tx, ty), a in level.items()]
    return sorted(out)


# ---------------------------------------------------------------------------
# cached fixtures
# ---------------------------------------------------------------------------


def _cached(path: str, build) -> dict:
    # a leading "_" keeps Spark's parquet scan from listing it
    ref = os.path.join(path, "_reference.json")
    if not os.path.exists(ref):
        answer = build()
        with open(ref + ".tmp", "w") as f:
            json.dump(answer, f)
        os.replace(ref + ".tmp", ref)
    with open(ref) as f:
        return json.load(f)


def pages_fixture(work: str, seed: int, n_pages: int) -> tuple[str, dict]:
    """(url, text) pages → (parquet dir, {"counts", "rows"}) where
    counts maps poly_id to its point count."""
    path = os.path.join(work, "fixtures", f"pages-n{n_pages}-s{seed}")

    def build():
        pdf = testdata.page_fields(page_ids(seed, n_pages), columns=["text"])
        lon, lat = _parse_points(pdf["text"].tolist())
        counts = join_counts(lon, lat, polygons())
        _write_parts(pa.Table.from_pandas(pdf, preserve_index=False), path)
        return {"counts": {str(k): v for k, v in counts.items()},
                "rows": sum(counts.values())}

    ref = _cached(path, build)
    ref["counts"] = {int(k): v for k, v in ref["counts"].items()}
    return path, ref


def points_fixture(
    work: str, seed: int, n_pages: int, zoom: int, tile_size: int
) -> tuple[str, dict]:
    """(lon, lat) points of the ``n_pages`` pages → (parquet dir,
    {"checksums", "tiles", "base_tiles"})."""
    path = os.path.join(work, "fixtures", f"points-n{n_pages}-s{seed}-z{zoom}")

    def build():
        pdf = testdata.page_fields(page_ids(seed, n_pages), columns=["text"])
        lon, lat = _parse_points(pdf["text"].tolist())
        cks = pyramid_checksums(lon, lat, zoom, tile_size)
        _write_parts(pa.table({"lon": lon, "lat": lat}), path)
        return {"checksums": cks, "tiles": len(cks),
                "base_tiles": sum(1 for c in cks if c[0] == zoom)}

    ref = _cached(path, build)
    ref["checksums"] = Counter(tuple(c) for c in ref["checksums"])
    return path, ref

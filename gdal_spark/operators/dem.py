"""DEM focal terrain metrics: TPI / TRI / roughness (the gdaldem
family, apps/gdaldem_lib.cpp:2347-2420).

A 3x3 focal operator: one halo exchange (tiling.add_halo), then
per-tile numpy. Output tiles keep the input grid; grid-edge pixels see
the halo zero fill, matching a nodata-less GDAL run on the interior
(the tests compare interior pixels).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame

from .tiling import TILE_SCHEMA, add_halo


# 3x3 neighbor offsets (dy, dx) excluding the center — afWin[0..8]
# minus afWin[4] in the reference kernels (apps/gdaldem_lib.cpp:2352).
_N8 = [(-1, -1), (-1, 0), (-1, 1), (0, -1), (0, 1), (1, -1), (1, 0), (1, 1)]


def _focal_metric(a: np.ndarray, mode: str) -> np.ndarray:
    """One padded tile → core metric array.

    Exact-integer variants of the reference kernels so the result is
    bit-stable across engines and SQL-oracle friendly:

    * ``tpi8``       = 8*TPI      (apps/gdaldem_lib.cpp:2384: center −
                       mean of the 8 neighbors; ×8 keeps it integral)
    * ``tri_wilson8``= 8*TRI      (:2352: mean |neighbor − center|)
    * ``tri_riley``  = float TRI  (:2367: sqrt Σ (neighbor − center)²)
    * ``roughness``  = max − min over the full 3x3 window (:2399)
    """
    z = a.astype(np.int64)
    c = z[1:-1, 1:-1]
    nbrs = [z[1 + dy: z.shape[0] - 1 + dy, 1 + dx: z.shape[1] - 1 + dx]
            for dy, dx in _N8]
    if mode == "tpi8":
        return 8 * c - sum(nbrs)
    if mode == "tri_wilson8":
        return sum(np.abs(n - c) for n in nbrs)
    if mode == "tri_riley":
        sq = sum((n - c) ** 2 for n in nbrs)
        return np.sqrt(sq.astype(np.float64))
    if mode == "roughness":
        mx, mn = c.copy(), c.copy()
        for n in nbrs:
            np.maximum(mx, n, out=mx)
            np.minimum(mn, n, out=mn)
        return mx - mn
    raise ValueError(f"unknown focal metric {mode!r}")


def dem_focal(tiles: DataFrame, mode: str) -> DataFrame:
    """gdaldem TPI/TRI/roughness analog over a tile DataFrame.

    Output rows keep TILE_SCHEMA; ``data`` is int32 for the integer
    metrics and float32 for ``tri_riley`` (documented dtype — tiles
    carry raw bytes). A 3x3 focal op: one halo exchange then
    per-tile numpy; grid-edge pixels see
    the halo zero fill (the reference leaves edges to the
    -compute_edges option; compare interiors)."""
    if mode not in ("tpi8", "tri_wilson8", "tri_riley", "roughness"):
        raise ValueError(f"unknown focal metric {mode!r}")
    padded = add_halo(tiles, pad=1)
    out_dtype = np.float32 if mode == "tri_riley" else np.int32

    def run(batches):
        for pdf in batches:
            rows = []
            for _, r in pdf.iterrows():
                ts_w, ts_h, p = int(r["w"]), int(r["h"]), int(r["pad"])
                a = np.frombuffer(r["data"], dtype=np.uint8).reshape(
                    ts_h + 2 * p, ts_w + 2 * p
                )
                out = _focal_metric(a, mode).astype(out_dtype)
                rows.append(
                    (int(r["z"]), int(r["tx"]), int(r["ty"]),
                     ts_w, ts_h, out.tobytes())
                )
            yield pd.DataFrame(
                rows, columns=["z", "tx", "ty", "w", "h", "data"]
            )

    return padded.mapInPandas(run, TILE_SCHEMA)

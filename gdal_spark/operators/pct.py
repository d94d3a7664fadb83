"""Color quantization — GDALComputeMedianCutPCT + the non-dithered
GDALDitherRGB2PCT path (the ``rgb2pct`` utility pair).

Reference semantics:
* ``alg/gdalmediancut.cpp`` — Heckbert median cut (SIGGRAPH '82) over
  an ``nBits``-per-channel RGB histogram (default 5 bits -> 32768
  cells): repeatedly split the box with the LARGEST PIXEL TOTAL along
  its WIDEST axis at the cumulative-median level (splitbox:
  median scan ``sum >= total/2``, split index forced past ``first``),
  shrink both halves to their occupied bounds, stop at ``n_colors``
  boxes; color entry i = ``((min + max) << (8 - nBits)) / 2`` per
  channel (STEP 4).
* ``alg/gdaldither.cpp`` — nearest color = MANHATTAN distance, first
  index wins ties, strict ``<`` (FindNearestColor,
  gdaldither.cpp:667-682); the non-dither path maps through the
  ``nCLevels``-cube colormap with ``i = v * nCLevels / 256``
  indexing (gdaldither.cpp:484-490).

Spark shape:
* the HISTOGRAM is the distributed stage — per-tile numpy bincount
  over the packed nBits code inside ``mapInPandas``, then one
  ``groupBy(code).sum`` whose key space is bounded at ``8^nBits``
  (32768 for the default): map-side partial aggregation makes the
  shuffle O(distinct codes x partitions) regardless of raster size,
  and the driver-side median cut sees AT MOST 32768 rows no matter
  whether the input is 60 kB or 100 TB — the same bounded-state
  contract as the reference, which also reduces the image to this
  histogram before any box math (gdalmediancut.cpp STEP 2).
* the NEAREST-COLOR APPLY is distributed and stateless: the 256-entry
  table ships in the task closure, each tile maps through the
  precomputed cube in one vectorized gather.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T


# --------------------------------------------------------------------------
# distributed histogram
# --------------------------------------------------------------------------

_HIST_SCHEMA = T.StructType(
    [
        T.StructField("code", T.IntegerType()),
        T.StructField("cnt", T.LongType()),
    ]
)


def rgb_histogram(tiles: DataFrame, bits: int = 5) -> DataFrame:
    """(code, cnt) histogram of packed ``bits``-per-channel RGB codes
    (code = r' << 2*bits | g' << bits | b', channel values
    right-shifted by 8-bits like the reference's HISTOGRAM macro,
    gdalmediancut.cpp:41-47 with nCLevels = 1 << bits).

    Input tiles: columns (w, h, r, g, b) with r/g/b uint8 tile
    payloads. Output is at most ``8^bits`` rows after one agg."""
    shift = 8 - bits

    def gen(batches):
        for pdf in batches:
            for w, h, r, g, b in zip(
                pdf["w"], pdf["h"], pdf["r"], pdf["g"], pdf["b"]
            ):
                n = int(w) * int(h)
                rr = np.frombuffer(r, dtype=np.uint8)[:n].astype(np.int64)
                gg = np.frombuffer(g, dtype=np.uint8)[:n].astype(np.int64)
                bb = np.frombuffer(b, dtype=np.uint8)[:n].astype(np.int64)
                code = (
                    (rr >> shift) << (2 * bits)
                    | (gg >> shift) << bits
                    | (bb >> shift)
                )
                cnt = np.bincount(code, minlength=1 << (3 * bits))
                nz = np.nonzero(cnt)[0]
                yield pd.DataFrame(
                    {"code": nz.astype(np.int32), "cnt": cnt[nz]}
                )

    return (
        tiles.mapInPandas(gen, _HIST_SCHEMA)
        .groupBy("code")
        .agg(F.sum("cnt").alias("cnt"))
    )


# --------------------------------------------------------------------------
# driver-side median cut over the (bounded) histogram
# --------------------------------------------------------------------------


class _Box:
    __slots__ = ("rmin", "rmax", "gmin", "gmax", "bmin", "bmax", "total")

    def __init__(self, rmin, rmax, gmin, gmax, bmin, bmax, total):
        self.rmin, self.rmax = rmin, rmax
        self.gmin, self.gmax = gmin, gmax
        self.bmin, self.bmax = bmin, bmax
        self.total = total

    def splittable(self):
        return (
            self.rmax > self.rmin
            or self.gmax > self.gmin
            or self.bmax > self.bmin
        )


def _shrink(box: _Box, hist: np.ndarray):
    """Contract box bounds to occupied cells (shrinkbox,
    gdalmediancut.cpp:1160+)."""
    sub = hist[
        box.rmin : box.rmax + 1,
        box.gmin : box.gmax + 1,
        box.bmin : box.bmax + 1,
    ]
    r_any = np.nonzero(sub.any(axis=(1, 2)))[0]
    g_any = np.nonzero(sub.any(axis=(0, 2)))[0]
    b_any = np.nonzero(sub.any(axis=(0, 1)))[0]
    box.rmin, box.rmax = box.rmin + r_any[0], box.rmin + r_any[-1]
    box.gmin, box.gmax = box.gmin + g_any[0], box.gmin + g_any[-1]
    box.bmin, box.bmax = box.bmin + b_any[0], box.bmin + b_any[-1]


def median_cut_pct(
    hist_df: DataFrame | np.ndarray, n_colors: int = 256, bits: int = 5
) -> np.ndarray:
    """Run the median cut over a (code, cnt) histogram DataFrame (or a
    dense 3-D ndarray) -> (n, 3) uint8 color table.

    Collecting the histogram is BOUNDED at 8^bits rows — the only
    driver-side state, same as the reference which holds the identical
    32768-cell histogram in memory (gdalmediancut.cpp:348-377)."""
    if not 2 <= n_colors <= 256:
        raise ValueError("n_colors must be in [2, 256]")
    n_levels = 1 << bits
    if isinstance(hist_df, np.ndarray):
        hist = hist_df.astype(np.int64)
    else:
        pdf = hist_df.toPandas()
        hist = np.zeros(n_levels**3, dtype=np.int64)
        hist[pdf["code"].to_numpy()] = pdf["cnt"].to_numpy()
        hist = hist.reshape(n_levels, n_levels, n_levels)

    box = _Box(0, n_levels - 1, 0, n_levels - 1, 0, n_levels - 1,
               int(hist.sum()))
    _shrink(box, hist)
    used = [box]

    # STEP 3: split the largest-total splittable box until n_colors
    while len(used) < n_colors:
        cand = [b for b in used if b.splittable()]
        if not cand:
            break
        ptr = max(cand, key=lambda b: b.total)  # largest_box
        # widest axis, RED >= GREEN >= BLUE tie order (splitbox)
        dr = ptr.rmax - ptr.rmin
        dg = ptr.gmax - ptr.gmin
        db = ptr.bmax - ptr.bmin
        if dr >= dg and dr >= db:
            axis, first, last = 0, ptr.rmin, ptr.rmax
        elif dg >= db:
            axis, first, last = 1, ptr.gmin, ptr.gmax
        else:
            axis, first, last = 2, ptr.bmin, ptr.bmax
        sub = hist[
            ptr.rmin : ptr.rmax + 1,
            ptr.gmin : ptr.gmax + 1,
            ptr.bmin : ptr.bmax + 1,
        ]
        others = tuple(a for a in (0, 1, 2) if a != axis)
        marg = sub.sum(axis=others)
        # median scan: first i with cumsum >= total/2, forced past
        # `first` (gdalmediancut.cpp "if (i == first) i++")
        csum = np.cumsum(marg)
        half = ptr.total // 2
        # first i with cumsum(first..i) >= total/2 — exactly the
        # reference's `(sum += *histp++) < sum2` scan
        i = first + int(np.searchsorted(csum, half, side="left"))
        if i == first:
            i += 1
        lo_total = int(csum[i - first - 1])
        new = _Box(ptr.rmin, ptr.rmax, ptr.gmin, ptr.gmax,
                   ptr.bmin, ptr.bmax, lo_total)
        ptr.total = ptr.total - lo_total
        if axis == 0:
            new.rmax, ptr.rmin = i - 1, i
        elif axis == 1:
            new.gmax, ptr.gmin = i - 1, i
        else:
            new.bmax, ptr.bmin = i - 1, i
        _shrink(new, hist)
        _shrink(ptr, hist)
        # reference prepends the new box to usedboxes; order only
        # affects color-index assignment, we append for stable ids
        used.append(new)

    # STEP 4: entry = ((min + max) << shift) / 2
    shift = 8 - bits
    table = np.array(
        [
            [
                ((b.rmin + b.rmax) << shift) // 2,
                ((b.gmin + b.gmax) << shift) // 2,
                ((b.bmin + b.bmax) << shift) // 2,
            ]
            for b in used
        ],
        dtype=np.uint8,
    )
    return table


# --------------------------------------------------------------------------
# nearest-color apply (distributed)
# --------------------------------------------------------------------------


def _nearest_color(pct: np.ndarray, r, g, b) -> np.ndarray:
    """Vectorized FindNearestColor: MANHATTAN distance, first index
    wins ties (strict <, gdaldither.cpp:667-682)."""
    p = pct.astype(np.int64)
    d = (
        np.abs(np.asarray(r, np.int64)[..., None] - p[None, :, 0])
        + np.abs(np.asarray(g, np.int64)[..., None] - p[None, :, 1])
        + np.abs(np.asarray(b, np.int64)[..., None] - p[None, :, 2])
    )
    return np.argmin(d, axis=-1).astype(np.uint8)  # argmin = first min


def color_cube(pct: np.ndarray, bits: int = 5) -> np.ndarray:
    """The precomputed nCLevels^3 nearest-color cube the non-dither
    path maps through (void FindNearestColor, gdaldither.cpp:692-720:
    cell (iR,iG,iB) matches value ``i*255/(nCLevels-1)``)."""
    n = 1 << bits
    v = (np.arange(n) * 255) // (n - 1)
    rr, gg, bb = np.meshgrid(v, v, v, indexing="ij")
    return _nearest_color(pct, rr, gg, bb)


def pct_map_tiles(
    tiles: DataFrame, pct: np.ndarray, bits: int = 5
) -> DataFrame:
    """Distributed non-dithered RGB -> PCT-index mapping: each tile
    gathers through the closure-shipped cube with
    ``i = v * nCLevels / 256`` indexing (gdaldither.cpp:484-490).
    Emits (tx, ty, w, h, idx) with idx a uint8 payload."""
    cube = color_cube(pct, bits)
    n_levels = 1 << bits
    schema = T.StructType(
        [
            T.StructField("tx", T.LongType()),
            T.StructField("ty", T.LongType()),
            T.StructField("w", T.IntegerType()),
            T.StructField("h", T.IntegerType()),
            T.StructField("idx", T.BinaryType()),
        ]
    )

    def gen(batches):
        for pdf in batches:
            rows = []
            for tx, ty, w, h, r, g, b in zip(
                pdf["tx"], pdf["ty"], pdf["w"], pdf["h"],
                pdf["r"], pdf["g"], pdf["b"],
            ):
                n = int(w) * int(h)
                rr = np.frombuffer(r, np.uint8)[:n].astype(np.int64)
                gg = np.frombuffer(g, np.uint8)[:n].astype(np.int64)
                bb = np.frombuffer(b, np.uint8)[:n].astype(np.int64)
                idx = cube[
                    rr * n_levels // 256,
                    gg * n_levels // 256,
                    bb * n_levels // 256,
                ]
                rows.append(
                    (int(tx), int(ty), int(w), int(h), idx.tobytes())
                )
            yield pd.DataFrame(
                rows, columns=["tx", "ty", "w", "h", "idx"]
            )

    return tiles.mapInPandas(gen, schema)

"""From-spec GeoTIFF/COG source + codec → tile DataFrames.

The reference's single most-used capability is reading GeoTIFF
(frmts/gtiff/geotiff.cpp; block model gcore/gdal_priv.h:1592; block
cache reads gcore/rasterio.cpp). No GDAL/libtiff ships in this
container, but — like the repo's WARC (ISO 28500) and PNG (RFC 2083)
modules — the format needs none: classic TIFF 6.0 / BigTIFF is
struct-packed IFD walking, DEFLATE (tag 8 / legacy 32946) is stdlib
``zlib``, and the GeoTIFF 1.1 georeferencing tags (OGC 19-008r4:
ModelPixelScale 33550, ModelTiepoint 33922, GeoKeyDirectory 34735)
are plain doubles/shorts. This module is a from-spec implementation
of exactly the subset a cloud-optimized analytic raster needs:

* both byte orders, classic (42) and BigTIFF (43) readers; writer
  emits either;
* tiled (322/323/324/325) and stripped (273/278/279) layouts;
* uint8/uint16/int16/uint32/int32/float32/float64 samples, 1..N
  contiguous (PlanarConfiguration=1) bands;
* Compression 1 (none) and 8/32946 (DEFLATE), horizontal-differencing
  Predictor 2 for integer samples;
* geotransform from PixelScale+Tiepoint (or full
  ModelTransformation 34264), EPSG code from the GeoKey directory.

Spark design (100 TB posture): a GeoTIFF becomes a DataFrame of
native blocks ``(path, band, tx, ty, x0, y0, w, h, dtype, data)`` —
edge blocks cropped to the image, ``data`` = raw little-endian
C-order bytes — so every downstream tiling operator composes. Two
scan paths:

* :func:`read_gtiff` — file-parallel ``binaryFile`` scan, one task
  per file, works on any Hadoop filesystem. Right when files are
  many and modest (the Landsat/Sentinel granule layout).
* :func:`read_gtiff_ranged` — the COG path: a header-only pass
  builds a BLOCK INDEX DataFrame (path, offset, nbytes, geometry),
  which is repartitioned so decode parallelism is per-block, not
  per-file; each task then seek-reads only its own byte ranges.
  Right when single files are huge (one 100 GB COG fans out to
  thousands of tasks without any single executor holding the file).
  Like :func:`gdal_spark.warc.write_warc_dir`, the range reads use
  plain ``open()`` and therefore need a filesystem every executor
  mounts (local mode, NFS, FUSE'd object store).

No bytes are shuffled by either path: the index shuffle carries
~50-byte rows, pixel payloads move straight from storage into the
decoding task.
"""

from __future__ import annotations

import glob as _glob
import hashlib
import os
import struct
import zlib

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

# TIFF tag ids (TIFF 6.0 §8; GeoTIFF OGC 19-008r4 §7)
_T_SUBFILE_TYPE = 254  # NewSubfileType: bit 0 = reduced-res (overview)
_T_WIDTH, _T_HEIGHT = 256, 257
_T_BITS, _T_COMPRESSION, _T_PHOTOMETRIC = 258, 259, 262
_T_STRIP_OFFSETS, _T_SPP, _T_ROWS_PER_STRIP, _T_STRIP_COUNTS = (
    273, 277, 278, 279,
)
_T_PLANAR, _T_PREDICTOR = 284, 317
_T_TILE_W, _T_TILE_H, _T_TILE_OFFSETS, _T_TILE_COUNTS = (
    322, 323, 324, 325,
)
_T_SAMPLE_FORMAT = 339
_T_PIXEL_SCALE, _T_TIEPOINT, _T_TRANSFORM, _T_GEOKEYS = (
    33550, 33922, 34264, 34735,
)

# GeoKey ids (OGC 19-008r4 table 13)
_GK_MODEL_TYPE, _GK_RASTER_TYPE = 1024, 1025
_GK_GEOGRAPHIC_CRS, _GK_PROJECTED_CRS = 2048, 3072

# field type → (struct char, byte size)
_FIELD = {
    1: ("B", 1), 2: ("s", 1), 3: ("H", 2), 4: ("I", 4),
    6: ("b", 1), 8: ("h", 2), 9: ("i", 4), 11: ("f", 4),
    12: ("d", 8), 16: ("Q", 8), 17: ("q", 8),
}

# (bits, sample_format) → numpy dtype char (little-endian applied on use)
_DTYPES = {
    (8, 1): "u1", (16, 1): "u2", (16, 2): "i2",
    (32, 1): "u4", (32, 2): "i4", (32, 3): "f4", (64, 3): "f8",
}
_DTYPE_TO_BITS = {v: k for k, v in _DTYPES.items()}


# ---------------------------------------------------------------------------
# low-level codec: encode
# ---------------------------------------------------------------------------


def _predict2_encode(block: np.ndarray) -> np.ndarray:
    """Horizontal differencing (Predictor=2): per row, per band,
    store v[x]-v[x-1] with modular wraparound (TIFF 6.0 §14)."""
    ud = np.dtype(f"u{block.dtype.itemsize}")
    u = np.ascontiguousarray(block).view(ud)
    d = u.copy()
    d[:, 1:, :] = u[:, 1:, :] - u[:, :-1, :]
    return d.view(block.dtype)


def _predict2_decode(block: np.ndarray) -> np.ndarray:
    """Inverse of :func:`_predict2_encode` — modular prefix sum
    (np.cumsum with an explicit unsigned dtype wraps like the
    encoder's subtraction)."""
    ud = np.dtype(f"u{block.dtype.itemsize}")
    u = np.ascontiguousarray(block).view(ud)
    out = np.cumsum(u, axis=1, dtype=ud)
    return out.view(block.dtype)


def tiff_encode(
    arr: np.ndarray,
    *,
    tile: tuple[int, int] | None = None,
    rows_per_strip: int | None = None,
    compression: str = "deflate",
    predictor: bool = False,
    level: int = 6,
    geotransform: tuple | None = None,
    epsg: int | None = None,
    bigtiff: bool = False,
) -> bytes:
    """Encode a (H, W) or (H, W, bands) array as a little-endian
    GeoTIFF byte string (classic or BigTIFF).

    ``tile=(tw, th)`` writes a tiled file (dims must be multiples of
    16 per spec §15; edge tiles zero-padded in the file); otherwise
    strips of ``rows_per_strip`` rows (default sized to ~64 KiB).
    ``predictor=True`` applies horizontal differencing before DEFLATE
    (integer dtypes only). ``geotransform`` is the GDAL 6-tuple; only
    north-up (no rotation terms) maps to PixelScale+Tiepoint, rotated
    transforms use ModelTransformation. Deterministic: same inputs →
    same bytes."""
    spec = _ifd_spec(
        arr, tile=tile, rows_per_strip=rows_per_strip,
        compression=compression, predictor=predictor, level=level,
        geotransform=geotransform, epsg=epsg, bigtiff=bigtiff,
    )
    return _serialize_ifds([spec], bigtiff=bigtiff)


def _ifd_spec(
    arr,
    *,
    tile=None,
    rows_per_strip=None,
    compression="deflate",
    predictor=False,
    level=6,
    geotransform=None,
    epsg=None,
    bigtiff=False,
    subfile_type=None,
):
    """Build one image's (sorted tag list, compressed block list) —
    the unit :func:`_serialize_ifds` chains into a (multi-)IFD file.
    Offset tag values are placeholders the serializer fills once the
    data section is laid out."""
    a = np.asarray(arr)
    if a.ndim == 2:
        a = a[:, :, None]
    h, w, spp = a.shape
    dt = np.dtype(a.dtype.str.replace(">", "<"))
    if dt.str[1:] not in _DTYPE_TO_BITS:
        raise ValueError(f"unsupported dtype {a.dtype}")
    bits, sfmt = _DTYPE_TO_BITS[dt.str[1:]]
    a = np.ascontiguousarray(a, dtype=dt)
    if predictor and dt.kind == "f":
        raise ValueError("predictor=2 is integer-only here")
    comp_code = {"none": 1, "deflate": 8}[compression]

    # --- blocks ---------------------------------------------------------
    blocks: list[bytes] = []
    if tile is not None:
        tw, th = tile
        if tw % 16 or th % 16:
            raise ValueError("tile dims must be multiples of 16")
        ntx, nty = -(-w // tw), -(-h // th)
        for ty in range(nty):
            for tx in range(ntx):
                blk = np.zeros((th, tw, spp), dtype=dt)
                ys, xs = ty * th, tx * tw
                part = a[ys:ys + th, xs:xs + tw]
                blk[: part.shape[0], : part.shape[1]] = part
                blocks.append(_pack_block(blk, comp_code, predictor,
                                          level))
    else:
        if rows_per_strip is None:
            rows_per_strip = max(1, 65536 // max(1, w * spp * dt.itemsize))
        rows_per_strip = min(rows_per_strip, h)
        for ys in range(0, h, rows_per_strip):
            blk = a[ys:ys + rows_per_strip]
            blocks.append(_pack_block(blk, comp_code, predictor, level))

    # --- tags -----------------------------------------------------------
    tags: list[tuple[int, int, list]] = [
        (_T_WIDTH, 4, [w]),
        (_T_HEIGHT, 4, [h]),
        (_T_BITS, 3, [bits] * spp),
        (_T_COMPRESSION, 3, [comp_code]),
        (_T_PHOTOMETRIC, 3, [1]),  # BlackIsZero
        (_T_SPP, 3, [spp]),
        (_T_PLANAR, 3, [1]),  # contiguous
        (_T_SAMPLE_FORMAT, 3, [sfmt] * spp),
    ]
    if predictor:
        tags.append((_T_PREDICTOR, 3, [2]))
    off_type = 16 if bigtiff else 4
    if tile is not None:
        tags += [
            (_T_TILE_W, 3, [tw]),
            (_T_TILE_H, 3, [th]),
            (_T_TILE_OFFSETS, off_type, [0] * len(blocks)),
            (_T_TILE_COUNTS, 4, [len(b) for b in blocks]),
        ]
    else:
        tags += [
            (_T_STRIP_OFFSETS, off_type, [0] * len(blocks)),
            (_T_ROWS_PER_STRIP, 4, [rows_per_strip]),
            (_T_STRIP_COUNTS, 4, [len(b) for b in blocks]),
        ]
    if geotransform is not None:
        gt = tuple(float(v) for v in geotransform)
        if gt[2] == 0.0 and gt[4] == 0.0:
            tags.append((_T_PIXEL_SCALE, 12, [gt[1], -gt[5], 0.0]))
            tags.append(
                (_T_TIEPOINT, 12, [0.0, 0.0, 0.0, gt[0], gt[3], 0.0])
            )
        else:  # rotated: full 4×4 model transformation matrix
            tags.append((_T_TRANSFORM, 12, [
                gt[1], gt[2], 0.0, gt[0],
                gt[4], gt[5], 0.0, gt[3],
                0.0, 0.0, 0.0, 0.0,
                0.0, 0.0, 0.0, 1.0,
            ]))
    if epsg is not None:
        geographic = 4000 <= epsg <= 4999
        keys = [
            (_GK_MODEL_TYPE, 0, 1, 2 if geographic else 1),
            (_GK_RASTER_TYPE, 0, 1, 1),  # PixelIsArea
            (
                _GK_GEOGRAPHIC_CRS if geographic else _GK_PROJECTED_CRS,
                0, 1, int(epsg),
            ),
        ]
        gk = [1, 1, 0, len(keys)]
        for k in keys:
            gk += list(k)
        tags.append((_T_GEOKEYS, 3, gk))
    if subfile_type is not None:
        tags.append((_T_SUBFILE_TYPE, 4, [int(subfile_type)]))
    tags.sort()
    return tags, blocks


def _serialize_ifds(
    specs: list, *, bigtiff: bool = False, data_order=None
) -> bytes:
    """Chain N (tags, blocks) specs into one little-endian TIFF:
    ``header | IFD0..IFDn | external values | block data``. With a
    single spec this reproduces the historical ``tiff_encode`` layout
    byte-for-byte. ``data_order`` places block PAYLOADS in a custom
    spec order (the COG writer passes overviews-first, the layout
    GDAL's COG driver emits — frmts/cog/cogdriver.cpp) while IFDs
    always chain in spec order (full resolution first)."""
    if bigtiff:
        head_sz, entry_sz, cnt_sz, inl = 16, 20, 8, 8
    else:
        head_sz, entry_sz, cnt_sz, inl = 8, 12, 2, 4
    next_sz = 8 if bigtiff else 4
    off_fmt = "<Q" if bigtiff else "<I"

    ifd_offs: list[int] = []
    pos = head_sz
    for tags, _ in specs:
        ifd_offs.append(pos)
        pos += cnt_sz + entry_sz * len(tags) + next_sz

    # size-only pass: where does each oversized value land, where do
    # the blocks start (value CONTENT is filled after block offsets
    # are known)
    ext_off = pos
    placed_all: list[list[tuple[int, int, list, int | None]]] = []
    for tags, _ in specs:
        placed: list[tuple[int, int, list, int | None]] = []
        for tag, ttype, values in tags:
            nbytes = len(values) * _FIELD[ttype][1]
            if nbytes <= inl:
                placed.append((tag, ttype, values, None))
            else:
                ext_off += ext_off % 2
                placed.append((tag, ttype, values, ext_off))
                ext_off += nbytes
        placed_all.append(placed)
    data_off = ext_off + (ext_off % 2)

    order = (
        list(data_order)
        if data_order is not None
        else list(range(len(specs)))
    )
    offsets_per: list[list[int] | None] = [None] * len(specs)
    dpos = data_off
    for i in order:
        offs = []
        for b in specs[i][1]:
            offs.append(dpos)
            dpos += len(b) + (len(b) % 2)
        offsets_per[i] = offs

    # --- serialize ------------------------------------------------------
    parts = []
    if bigtiff:
        parts.append(struct.pack("<2sHHHQ", b"II", 43, 8, 0, ifd_offs[0]))
    else:
        parts.append(struct.pack("<2sHI", b"II", 42, ifd_offs[0]))
    ext_chunks: list[tuple[int, bytes]] = []
    for i, placed in enumerate(placed_all):
        parts.append(struct.pack("<Q" if bigtiff else "<H", len(placed)))
        for tag, ttype, values, voff in placed:
            if tag in (_T_TILE_OFFSETS, _T_STRIP_OFFSETS):
                values = offsets_per[i]
            ch, _ = _FIELD[ttype]
            raw = struct.pack(f"<{len(values)}{ch}", *values)
            if voff is None:
                field = raw + b"\0" * (inl - len(raw))
            else:
                field = struct.pack(off_fmt, voff)
                ext_chunks.append((voff, raw))
            parts.append(
                struct.pack(
                    "<HHQ" if bigtiff else "<HHI",
                    tag, ttype, len(values),
                )
                + field
            )
        nxt = ifd_offs[i + 1] if i + 1 < len(ifd_offs) else 0
        parts.append(struct.pack(off_fmt, nxt))
    pos2 = pos
    for voff, raw in ext_chunks:  # already in ascending voff order
        parts.append(b"\0" * (voff - pos2))
        parts.append(raw)
        pos2 = voff + len(raw)
    parts.append(b"\0" * (data_off - pos2))
    for i in order:
        for b in specs[i][1]:
            parts.append(b)
            if len(b) % 2:
                parts.append(b"\0")
    return b"".join(parts)


def _cog_reduce(a: np.ndarray, method: str) -> np.ndarray:
    """One 2× overview level for the COG writer, any (H, W[, B])
    shape. Odd dims are edge-replicated to even first — for
    ``average`` this reproduces GDAL's partial-window semantics
    exactly (a 1-wide remainder column averages its 2 real pixels:
    (2a+2b+2)//4 == (a+b+1)//2, the reference's (total+n/2)/n with
    n=2; a corner remainder keeps its value), for ``nearest`` the
    top-left pick is a real pixel by construction."""
    from gdal_spark import raster

    a3 = a[:, :, None] if a.ndim == 2 else a
    h, w, nb = a3.shape
    if h % 2 or w % 2:
        a3 = np.pad(a3, ((0, h % 2), (0, w % 2), (0, 0)), mode="edge")
    if a3.dtype.kind == "f" and method == "average":
        out = (
            a3[0::2, 0::2] + a3[0::2, 1::2]
            + a3[1::2, 0::2] + a3[1::2, 1::2]
        ) / 4.0
        out = out.astype(a3.dtype)
    else:
        out = np.stack(
            [
                raster.block_reduce_2x2(a3[:, :, b], method)
                for b in range(nb)
            ],
            axis=-1,
        )
    return out[:, :, 0] if a.ndim == 2 else out


def cog_encode(
    arr: np.ndarray,
    *,
    tile: tuple[int, int] = (256, 256),
    compression: str = "deflate",
    predictor: bool = False,
    level: int = 6,
    geotransform: tuple | None = None,
    epsg: int | None = None,
    bigtiff: bool = False,
    resampling: str = "average",
) -> bytes:
    """Encode a Cloud-Optimized GeoTIFF with EMBEDDED OVERVIEWS —
    the reference's flagship output format (frmts/cog/cogdriver.cpp;
    overview build gdaladdo / gcore/overview.cpp).

    Layout per the COG spec: all IFDs up front (full resolution
    first, then one reduced-resolution IFD per 2× level, each tagged
    NewSubfileType=1), tile payloads at the back ordered smallest
    overview first so a renderer streaming from byte 0 hits the
    coarse levels before the full-res data — the order the
    reference's COG driver writes. Overviews are generated with
    :func:`_cog_reduce` (GDAL-exact ``average`` by default) until
    both dims fit in one tile, gdaladdo's default stopping rule.
    Georeferencing lives on IFD 0 only (overview geotransforms are
    implicit ×2 scalings, as in the reference). Deterministic:
    same inputs → same bytes."""
    a = np.asarray(arr)
    levels = [a]
    while (
        levels[-1].shape[0] > tile[1] or levels[-1].shape[1] > tile[0]
    ):
        levels.append(_cog_reduce(levels[-1], resampling))
    specs = [
        _ifd_spec(
            a, tile=tile, compression=compression, predictor=predictor,
            level=level, geotransform=geotransform, epsg=epsg,
            bigtiff=bigtiff,
        )
    ]
    for ov in levels[1:]:
        specs.append(
            _ifd_spec(
                ov, tile=tile, compression=compression,
                predictor=predictor, level=level, bigtiff=bigtiff,
                subfile_type=1,
            )
        )
    return _serialize_ifds(
        specs,
        bigtiff=bigtiff,
        data_order=list(range(len(specs) - 1, -1, -1)),
    )


def _pack_block(
    blk: np.ndarray, comp_code: int, predictor: bool, level: int
) -> bytes:
    if predictor:
        blk = _predict2_encode(blk)
    raw = np.ascontiguousarray(blk).tobytes()
    return zlib.compress(raw, level) if comp_code == 8 else raw


# ---------------------------------------------------------------------------
# low-level codec: parse / decode
# ---------------------------------------------------------------------------


class _Reader:
    """Random-access tag reader over either a bytes buffer or an open
    file — the same IFD walk serves whole-file decode and the
    header-only COG index pass (which never touches pixel bytes)."""

    def __init__(self, src):
        self._buf = src if isinstance(src, (bytes, bytearray)) else None
        self._f = None if self._buf is not None else src

    def read(self, off: int, n: int) -> bytes:
        if self._buf is not None:
            b = self._buf[off:off + n]
        else:
            self._f.seek(off)
            b = self._f.read(n)
        if len(b) != n:
            raise ValueError("truncated TIFF")
        return b


def _tiff_header(r: _Reader) -> tuple[str, bool, int]:
    """Parse the 8/16-byte file header → (endian, bigtiff, IFD0 off)."""
    order = r.read(0, 2)
    if order == b"II":
        e = "<"
    elif order == b"MM":
        e = ">"
    else:
        raise ValueError("not a TIFF (bad byte-order mark)")
    version = struct.unpack(e + "H", r.read(2, 2))[0]
    if version == 42:
        return e, False, struct.unpack(e + "I", r.read(4, 4))[0]
    if version == 43:
        osz = struct.unpack(e + "H", r.read(4, 2))[0]
        if osz != 8:
            raise ValueError("bad BigTIFF offset size")
        return e, True, struct.unpack(e + "Q", r.read(8, 8))[0]
    raise ValueError(f"not a TIFF (version {version})")


def _next_ifd_off(r: _Reader, e: str, big: bool, ifd_off: int) -> int:
    """Offset of the IFD after ``ifd_off`` (0 = end of chain) —
    reads the entry count + the trailing next pointer only."""
    if big:
        n = struct.unpack(e + "Q", r.read(ifd_off, 8))[0]
        p = ifd_off + 8 + 20 * n
        return struct.unpack(e + "Q", r.read(p, 8))[0]
    n = struct.unpack(e + "H", r.read(ifd_off, 2))[0]
    p = ifd_off + 2 + 12 * n
    return struct.unpack(e + "I", r.read(p, 4))[0]


def tiff_n_ifds(src) -> int:
    """Number of IFDs in the chain (1 + embedded overview count) —
    header/tag-count bytes only, a few reads however large the file
    (the GetOverviewCount analog, gcore/gdaldefaultoverviews.cpp)."""
    r = _Reader(src)
    e, big, off = _tiff_header(r)
    n = 0
    while off:
        n += 1
        off = _next_ifd_off(r, e, big, off)
    return n


def tiff_meta(src, ifd: int = 0) -> dict:
    """Parse IFD ``ifd`` (0 = full resolution; 1.. = embedded
    overview levels, NewSubfileType=1) of a classic or BigTIFF
    buffer/file object into a metadata dict: dimensions, dtype, band
    count, compression, predictor, block layout with per-block
    (offset, nbytes), and — when the GeoTIFF tags are present —
    ``gt`` (GDAL 6-tuple) and ``epsg``. Reads only header/tag bytes:
    on a COG this touches a few KiB regardless of file size."""
    r = _Reader(src)
    e, big, ifd_off = _tiff_header(r)
    for _ in range(ifd):
        ifd_off = _next_ifd_off(r, e, big, ifd_off)
        if ifd_off == 0:
            raise ValueError(f"IFD {ifd} out of range")

    if big:
        n = struct.unpack(e + "Q", r.read(ifd_off, 8))[0]
        ents_off, entry_sz, inl = ifd_off + 8, 20, 8
    else:
        n = struct.unpack(e + "H", r.read(ifd_off, 2))[0]
        ents_off, entry_sz, inl = ifd_off + 2, 12, 4
    ents = r.read(ents_off, n * entry_sz)
    tags: dict[int, list] = {}
    for i in range(n):
        rec = ents[i * entry_sz:(i + 1) * entry_sz]
        if big:
            tag, ttype, count = struct.unpack(e + "HHQ", rec[:12])
            field = rec[12:]
        else:
            tag, ttype, count = struct.unpack(e + "HHI", rec[:8])
            field = rec[8:]
        if ttype not in _FIELD:
            continue
        ch, isz = _FIELD[ttype]
        total = count * isz
        raw = (
            field[:total]
            if total <= inl
            else r.read(
                struct.unpack(e + ("Q" if big else "I"), field)[0],
                total,
            )
        )
        if ttype == 2:
            tags[tag] = [raw.rstrip(b"\0").decode("latin-1")]
        else:
            tags[tag] = list(struct.unpack(e + f"{count}{ch}", raw))

    def one(tag, default=None):
        v = tags.get(tag)
        return v[0] if v else default

    width, height = one(_T_WIDTH), one(_T_HEIGHT)
    spp = one(_T_SPP, 1)
    bits = tags.get(_T_BITS, [8])[0]
    sfmt = tags.get(_T_SAMPLE_FORMAT, [1])[0]
    if (bits, sfmt) not in _DTYPES:
        raise ValueError(f"unsupported sample type bits={bits} fmt={sfmt}")
    comp = one(_T_COMPRESSION, 1)
    if comp not in (1, 8, 32946):
        raise ValueError(f"unsupported compression {comp}")
    meta = {
        "endian": e,
        "bigtiff": big,
        "width": int(width),
        "height": int(height),
        "bands": int(spp),
        "dtype": _DTYPES[(bits, sfmt)],
        "compression": int(comp),
        "predictor": int(one(_T_PREDICTOR, 1)),
        "planar": int(one(_T_PLANAR, 1)),
        "ifd": int(ifd),
        "subfile_type": int(one(_T_SUBFILE_TYPE, 0)),
        "has_next_ifd": _next_ifd_off(r, e, big, ifd_off) != 0,
    }
    if meta["planar"] != 1:
        raise ValueError("PlanarConfiguration=2 not supported")
    if _T_TILE_OFFSETS in tags:
        meta["tiled"] = True
        meta["tile_w"] = int(one(_T_TILE_W))
        meta["tile_h"] = int(one(_T_TILE_H))
        offs, cnts = tags[_T_TILE_OFFSETS], tags[_T_TILE_COUNTS]
    else:
        meta["tiled"] = False
        rps = int(one(_T_ROWS_PER_STRIP, height))
        meta["tile_w"], meta["tile_h"] = int(width), min(rps, int(height))
        offs, cnts = tags[_T_STRIP_OFFSETS], tags[_T_STRIP_COUNTS]
    meta["offsets"] = [int(v) for v in offs]
    meta["bytecounts"] = [int(v) for v in cnts]

    gt = None
    if _T_TRANSFORM in tags:
        m = tags[_T_TRANSFORM]
        gt = (m[3], m[0], m[1], m[7], m[4], m[5])
    elif _T_PIXEL_SCALE in tags and _T_TIEPOINT in tags:
        sx, sy = tags[_T_PIXEL_SCALE][0], tags[_T_PIXEL_SCALE][1]
        i, j, _, x, y, _ = tags[_T_TIEPOINT][:6]
        gt = (x - i * sx, sx, 0.0, y + j * sy, 0.0, -sy)
    meta["gt"] = gt
    epsg = None
    gk = tags.get(_T_GEOKEYS)
    if gk and len(gk) >= 4:
        for k in range(4, 4 + 4 * gk[3], 4):
            if gk[k] in (_GK_GEOGRAPHIC_CRS, _GK_PROJECTED_CRS) and \
                    gk[k + 1] == 0:
                epsg = int(gk[k + 3])
    meta["epsg"] = epsg
    return meta


def block_windows(meta: dict):
    """Yield (block_index, tx, ty, x0, y0, cropped_w, cropped_h) for
    every block of the first IFD, row-major — the file's native
    read unit (gcore/gdal_priv.h:1592 GetBlockSize analog)."""
    w, h = meta["width"], meta["height"]
    tw, th = meta["tile_w"], meta["tile_h"]
    ntx, nty = -(-w // tw), -(-h // th)
    bi = 0
    for ty in range(nty):
        for tx in range(ntx):
            x0, y0 = tx * tw, ty * th
            yield bi, tx, ty, x0, y0, min(tw, w - x0), min(th, h - y0)
            bi += 1


def decode_block(
    raw: bytes, meta: dict, crop_w: int, crop_h: int
) -> np.ndarray:
    """Decode one block's file bytes → (crop_h, crop_w, bands) array
    in the file's dtype (native byte order)."""
    dt = np.dtype(meta["endian"] + meta["dtype"])
    if meta["compression"] in (8, 32946):
        raw = zlib.decompress(raw)
    tw, th, spp = meta["tile_w"], meta["tile_h"], meta["bands"]
    if meta["tiled"]:
        a = np.frombuffer(raw, dtype=dt).reshape(th, tw, spp)
    else:  # short last strip: infer rows from payload size
        rows = len(raw) // (meta["width"] * spp * dt.itemsize)
        a = np.frombuffer(raw, dtype=dt).reshape(rows, meta["width"], spp)
    # native byte order BEFORE the predictor pass — the differences
    # were computed on values, not on byte-swapped representations
    a = a.astype(a.dtype.newbyteorder("="), copy=False)
    if meta["predictor"] == 2:
        a = _predict2_decode(a)
    return a[:crop_h, :crop_w]


def tiff_decode(buf: bytes, ifd: int = 0) -> np.ndarray:
    """Full-image decode (tests/oracles): (H, W) for single band,
    (H, W, bands) otherwise. ``ifd`` selects an overview level."""
    meta = tiff_meta(buf, ifd=ifd)
    r = _Reader(buf)
    out = np.zeros(
        (meta["height"], meta["width"], meta["bands"]),
        dtype=np.dtype(meta["dtype"]),
    )
    for bi, tx, ty, x0, y0, cw, ch in block_windows(meta):
        raw = r.read(meta["offsets"][bi], meta["bytecounts"][bi])
        out[y0:y0 + ch, x0:x0 + cw] = decode_block(raw, meta, cw, ch)
    return out[:, :, 0] if meta["bands"] == 1 else out


# ---------------------------------------------------------------------------
# Spark sources
# ---------------------------------------------------------------------------

GTIFF_TILE_SCHEMA = T.StructType(
    [
        T.StructField("path", T.StringType()),
        T.StructField("band", T.IntegerType()),
        T.StructField("tx", T.LongType()),
        T.StructField("ty", T.LongType()),
        T.StructField("x0", T.LongType()),
        T.StructField("y0", T.LongType()),
        T.StructField("w", T.IntegerType()),
        T.StructField("h", T.IntegerType()),
        T.StructField("dtype", T.StringType()),
        T.StructField("data", T.BinaryType()),
    ]
)

GTIFF_META_SCHEMA = T.StructType(
    [
        T.StructField("path", T.StringType()),
        T.StructField("width", T.LongType()),
        T.StructField("height", T.LongType()),
        T.StructField("bands", T.IntegerType()),
        T.StructField("dtype", T.StringType()),
        T.StructField("compression", T.IntegerType()),
        T.StructField("predictor", T.IntegerType()),
        T.StructField("tiled", T.BooleanType()),
        T.StructField("tile_w", T.IntegerType()),
        T.StructField("tile_h", T.IntegerType()),
        T.StructField("n_blocks", T.LongType()),
        T.StructField("gt", T.ArrayType(T.DoubleType())),
        T.StructField("epsg", T.IntegerType()),
        T.StructField("bigtiff", T.BooleanType()),
    ]
)

_INDEX_SCHEMA = T.StructType(
    [
        T.StructField("path", T.StringType()),
        T.StructField("tx", T.LongType()),
        T.StructField("ty", T.LongType()),
        T.StructField("x0", T.LongType()),
        T.StructField("y0", T.LongType()),
        T.StructField("w", T.IntegerType()),
        T.StructField("h", T.IntegerType()),
        T.StructField("offset", T.LongType()),
        T.StructField("nbytes", T.LongType()),
        # codec params each decode task needs, denormalized so the
        # decode stage is join-free
        T.StructField("dtype", T.StringType()),
        T.StructField("endian", T.StringType()),
        T.StructField("compression", T.IntegerType()),
        T.StructField("predictor", T.IntegerType()),
        T.StructField("tiled", T.BooleanType()),
        T.StructField("tile_w", T.IntegerType()),
        T.StructField("tile_h", T.IntegerType()),
        T.StructField("bands", T.IntegerType()),
        T.StructField("img_w", T.LongType()),
        # per-file geotransform, denormalized per block so spatial
        # window pruning is a plain JVM filter on this frame
        T.StructField("gt", T.ArrayType(T.DoubleType())),
    ]
)


def _tile_rows(path: str, meta: dict, reader: _Reader) -> list:
    rows = []
    for bi, tx, ty, x0, y0, cw, chh in block_windows(meta):
        raw = reader.read(meta["offsets"][bi], meta["bytecounts"][bi])
        a = decode_block(raw, meta, cw, chh)
        for b in range(meta["bands"]):
            rows.append(
                (
                    path, b, tx, ty, x0, y0, cw, chh, meta["dtype"],
                    np.ascontiguousarray(a[:, :, b]).tobytes(),
                )
            )
    return rows


def read_gtiff(spark: SparkSession, path: str) -> DataFrame:
    """File-parallel GeoTIFF scan: ``binaryFile`` → per-file IFD walk
    + block decode, one row per (block, band). Works on any Hadoop
    filesystem (the whole file ships to the task); for huge
    single-file COGs prefer :func:`read_gtiff_ranged`."""

    def run(batches):
        for pdf in batches:
            rows = []
            for path_, content in zip(pdf["path"], pdf["content"]):
                buf = bytes(content)
                rows += _tile_rows(path_, tiff_meta(buf), _Reader(buf))
            yield pd.DataFrame(
                rows, columns=[f.name for f in GTIFF_TILE_SCHEMA]
            )

    files = (
        spark.read.format("binaryFile")
        .load(path)
        .select("path", "content")
    )
    return files.mapInPandas(run, GTIFF_TILE_SCHEMA)


def gtiff_meta_df(spark: SparkSession, path: str) -> DataFrame:
    """One metadata row per file (header bytes only — the pixel
    payload is read but unused here under ``binaryFile``; for the
    pure header read use the ranged path's local parse)."""

    def run(batches):
        for pdf in batches:
            rows = []
            for path_, content in zip(pdf["path"], pdf["content"]):
                m = tiff_meta(bytes(content))
                rows.append(
                    (
                        path_, m["width"], m["height"], m["bands"],
                        m["dtype"], m["compression"], m["predictor"],
                        m["tiled"], m["tile_w"], m["tile_h"],
                        len(m["offsets"]),
                        list(m["gt"]) if m["gt"] else None,
                        m["epsg"], m["bigtiff"],
                    )
                )
            yield pd.DataFrame(
                rows, columns=[f.name for f in GTIFF_META_SCHEMA]
            )

    files = (
        spark.read.format("binaryFile")
        .load(path)
        .select("path", "content")
    )
    return files.mapInPandas(run, GTIFF_META_SCHEMA)


def gtiff_block_index(
    spark: SparkSession, paths: list[str], ifd: int = 0, opener=None
) -> DataFrame:
    """COG index pass: parallelize the path list, each task opens its
    files and walks ONLY the IFD (a few KiB however large the file),
    emitting one ~50-byte row per block with its byte range and
    denormalized codec params. This is the 100 TB fan-out point: a
    single 100 GB COG becomes tens of thousands of independently
    decodable rows before any pixel byte is read. ``ifd`` selects an
    embedded overview level (1..) instead of the full resolution."""
    from .io import local_opener

    opener = opener or local_opener
    pdf = pd.DataFrame({"path": [str(p) for p in paths]})
    src = spark.createDataFrame(pdf)

    def run(batches):
        for b in batches:
            rows = []
            for path_ in b["path"]:
                with opener(path_) as f:
                    m = tiff_meta(f, ifd=ifd)
                gt = list(m["gt"]) if m["gt"] else None
                for bi, tx, ty, x0, y0, cw, chh in block_windows(m):
                    rows.append(
                        (
                            path_, tx, ty, x0, y0, cw, chh,
                            m["offsets"][bi], m["bytecounts"][bi],
                            m["dtype"], m["endian"], m["compression"],
                            m["predictor"], m["tiled"], m["tile_w"],
                            m["tile_h"], m["bands"], m["width"], gt,
                        )
                    )
            yield pd.DataFrame(
                rows, columns=[f.name for f in _INDEX_SCHEMA]
            )

    return src.mapInPandas(run, _INDEX_SCHEMA)


TINDEX_SCHEMA = T.StructType(
    [
        T.StructField("location", T.StringType()),
        T.StructField("width", T.LongType()),
        T.StructField("height", T.LongType()),
        T.StructField("epsg", T.IntegerType()),
        T.StructField("minx", T.DoubleType()),
        T.StructField("miny", T.DoubleType()),
        T.StructField("maxx", T.DoubleType()),
        T.StructField("maxy", T.DoubleType()),
        T.StructField("wkb", T.BinaryType()),
    ]
)


def tile_index(
    spark: SparkSession,
    path_or_glob,
    transform=None,
    densify: int = 21,
    opener=None,
) -> DataFrame:
    """gdaltindex analog (apps/gdaltindex_lib.cpp): one footprint row
    per raster file — location, dims, EPSG, bbox columns, and the
    exact footprint polygon as WKB (outer-edge ring through the
    geotransform, so rotated rasters index correctly).

    ``transform`` (optional picklable ``(x, y) -> (X, Y)`` numpy
    callable, e.g. from :mod:`gdal_spark.proj`) reprojects the
    footprint — the -t_srs option; the ring is densified to
    ``densify`` points per edge first so curved projections don't get
    cut to their chords (GDALTranslate-style edge sampling).

    Header-only: each task walks the IFD of its files (a few KiB per
    file however large the raster) through ``opener`` (picklable
    path→file-like; default shared-FS open — gdal_spark.io); no pixel
    byte is read. The result
    is the driver table a mosaic/buildvrt step prunes against — at
    100 TB, the index pass touches ~0.0001% of the bytes.
    """
    paths = (
        sorted(_glob.glob(path_or_glob))
        if isinstance(path_or_glob, str)
        else [str(p) for p in path_or_glob]
    )
    if not paths:
        raise FileNotFoundError(f"no files match {path_or_glob!r}")
    from .io import local_opener

    opener = opener or local_opener
    src = spark.createDataFrame(pd.DataFrame({"path": paths}))
    d = max(int(densify), 2)

    def run(batches):
        from . import wkb as _wkb

        for b in batches:
            rows = []
            for path_ in b["path"]:
                with opener(path_) as f:
                    m = tiff_meta(f)
                w, h = m["width"], m["height"]
                gt = m["gt"] or (0.0, 1.0, 0.0, 0.0, 0.0, 1.0)
                t = np.linspace(0.0, 1.0, d)
                # ring around the outer pixel edge, px/py in [0,w]x[0,h]
                px = np.concatenate(
                    [t * w, np.full(d, float(w)), (1 - t) * w, np.zeros(d)]
                )
                py = np.concatenate(
                    [np.zeros(d), t * h, np.full(d, float(h)), (1 - t) * h]
                )
                gx = gt[0] + px * gt[1] + py * gt[2]
                gy = gt[3] + px * gt[4] + py * gt[5]
                if transform is not None:
                    gx, gy = transform(gx, gy)
                ring = np.column_stack([gx, gy])
                ring = np.vstack([ring, ring[:1]])
                rows.append(
                    (
                        path_, w, h, m["epsg"],
                        float(gx.min()), float(gy.min()),
                        float(gx.max()), float(gy.max()),
                        _wkb.polygon([ring]),
                    )
                )
            yield pd.DataFrame(
                rows, columns=[f.name for f in TINDEX_SCHEMA]
            )

    return src.mapInPandas(run, TINDEX_SCHEMA)


def _block_bbox_filter(idx: DataFrame, bbox: tuple) -> DataFrame:
    """Keep only index rows whose block footprint intersects the
    georef ``bbox = (minx, miny, maxx, maxy)`` — the gdal_translate
    -projwin / GDALDataset::RasterIO window-pruning analog, as a plain
    JVM filter over the (tiny) block-index frame: the four block
    corners go through the per-row geotransform with least/greatest
    expressions (rotated geotransforms handled), so at 100 TB the
    decode stage never even enqueues a block outside the query window.
    Files without a geotransform are kept (no basis to prune)."""
    minx, miny, maxx, maxy = (float(v) for v in bbox)
    g = [F.element_at(F.col("gt"), i + 1) for i in range(6)]
    px0 = F.col("x0").cast("double")
    py0 = F.col("y0").cast("double")
    px1 = px0 + F.col("w").cast("double")
    py1 = py0 + F.col("h").cast("double")
    xs, ys = [], []
    for px, py in ((px0, py0), (px1, py0), (px0, py1), (px1, py1)):
        xs.append(g[0] + px * g[1] + py * g[2])
        ys.append(g[3] + px * g[4] + py * g[5])
    return idx.filter(
        F.col("gt").isNull()
        | (
            (F.least(*xs) <= F.lit(maxx))
            & (F.greatest(*xs) >= F.lit(minx))
            & (F.least(*ys) <= F.lit(maxy))
            & (F.greatest(*ys) >= F.lit(miny))
        )
    )


def read_gtiff_ranged(
    spark: SparkSession,
    path_or_glob,
    partitions: int | None = None,
    bbox: tuple | None = None,
    ifd: int = 0,
    opener=None,
) -> DataFrame:
    """The COG scan: header-only block index → repartition so decode
    parallelism is per-BLOCK (not per-file) → each task seek-reads
    exactly its own byte ranges. No pixel byte is ever shuffled.

    ``bbox = (minx, miny, maxx, maxy)`` (optional, georef coords)
    prunes the block index BEFORE the decode stage — only blocks whose
    footprint intersects the window are read at all (see
    :func:`_block_bbox_filter`).

    Accepts a glob string or an explicit path list. Byte access
    flows through ``opener`` (picklable path→file-like; default
    shared-FS open — see gdal_spark.io for the object-store seam,
    the VSI analog). ``ifd`` selects an
    embedded COG overview level (1..) instead of the full
    resolution — the scan that serves a zoomed-out render touches
    only the (4^-ifd)-sized overview byte ranges."""
    paths = (
        sorted(_glob.glob(path_or_glob))
        if isinstance(path_or_glob, str)
        else [str(p) for p in path_or_glob]
    )
    if not paths:
        raise FileNotFoundError(f"no files match {path_or_glob!r}")
    from .io import local_opener

    opener = opener or local_opener
    idx = gtiff_block_index(spark, paths, ifd=ifd, opener=opener)
    if bbox is not None:
        idx = _block_bbox_filter(idx, bbox)
    n = partitions or spark.sparkContext.defaultParallelism
    idx = idx.repartition(n, "path", "tx", "ty")

    def run(batches):
        handles: dict[str, object] = {}
        try:
            for pdf in batches:
                rows = []
                for r in pdf.itertuples(index=False):
                    f = handles.get(r.path)
                    if f is None:
                        f = handles[r.path] = opener(r.path)
                    f.seek(r.offset)
                    raw = f.read(r.nbytes)
                    m = {
                        "endian": r.endian, "dtype": r.dtype,
                        "compression": int(r.compression),
                        "predictor": int(r.predictor),
                        "tiled": bool(r.tiled),
                        "tile_w": int(r.tile_w),
                        "tile_h": int(r.tile_h),
                        "bands": int(r.bands),
                        "width": int(r.img_w),
                    }
                    a = decode_block(raw, m, int(r.w), int(r.h))
                    for b in range(int(r.bands)):
                        rows.append(
                            (
                                r.path, b, r.tx, r.ty, r.x0, r.y0,
                                int(r.w), int(r.h), r.dtype,
                                np.ascontiguousarray(
                                    a[:, :, b]
                                ).tobytes(),
                            )
                        )
                yield pd.DataFrame(
                    rows, columns=[f.name for f in GTIFF_TILE_SCHEMA]
                )
        finally:
            for f in handles.values():
                f.close()

    return idx.mapInPandas(run, GTIFF_TILE_SCHEMA)


def to_engine_tiles(df: DataFrame, z: int = 0) -> DataFrame:
    """Adapt a single-band uint8 GeoTIFF tile frame to the engine's
    ``TILE_SCHEMA`` (z, tx, ty, w, h, data) so every operator in
    :mod:`gdal_spark.operators.tiling` composes directly."""
    return df.select(
        F.lit(int(z)).alias("z"),
        F.col("tx"), F.col("ty"),
        F.col("w"), F.col("h"), F.col("data"),
    )


# ---------------------------------------------------------------------------
# distributed sink: tile DataFrame → GeoTIFF granule files
# ---------------------------------------------------------------------------

GTIFF_MANIFEST_SCHEMA = (
    "path string, key long, w int, h int, n_blocks int, "
    "n_bytes long, md5 string"
)


def write_gtiff_dir(
    tiles: DataFrame,
    out_dir: str,
    *,
    group_col: str | None = None,
    compression: str = "deflate",
    predictor: bool = False,
    geotransform: tuple | None = None,
    epsg: int | None = None,
    bigtiff: bool = False,
    cog_overviews: str | None = None,
) -> DataFrame:
    """Granule-parallel GeoTIFF sink: assemble the engine's uint8
    tiles (TILE_SCHEMA: z, tx, ty, w, h, data) into one tiled
    DEFLATE GeoTIFF per ``group_col`` value (default: one file per
    ``z``), written from inside the task; returns the manifest
    DataFrame (path, key, w, h, n_blocks, n_bytes, md5).

    The write unit is a GRANULE (one group = one file = one task):
    a 100 TB mosaic lands as many granule files written in parallel —
    the COG-granule practice — because a TIFF's block offsets must be
    known before its header can be written, so a single file cannot
    stream from multiple tasks (the reference serializes block writes
    into one file for the same reason: gcore/gdaldataset.cpp
    RasterIO → GTiffDataset::WriteEncodedTile). Per-task memory is
    one granule. Each file's geotransform is ``geotransform``
    translated to the granule's min (tx, ty) tile origin.

    Deterministic bytes per granule content (zlib level fixed, tiles
    sorted); existing files are replaced atomically (tmp + rename) so
    reruns converge. DEPLOYMENT: like write_warc_dir, ``out_dir``
    must be a shared filesystem (or local mode) — tasks open plain
    ``open()`` paths.

    ``cog_overviews`` (a resampling name, e.g. ``"average"``) writes
    each granule as a full COG with embedded overview IFDs via
    :func:`cog_encode` — the gdaladdo-at-write-time path the
    reference's COG driver takes (frmts/cog/cogdriver.cpp).
    """
    os.makedirs(out_dir, exist_ok=True)
    key = F.col(group_col) if group_col else F.col("z")
    src = tiles.select(
        key.cast("long").alias("__key"), "tx", "ty", "w", "h", "data"
    )
    gt = tuple(float(v) for v in geotransform) if geotransform else None

    def sink(kt, pdf: pd.DataFrame) -> pd.DataFrame:
        k = int(kt[0])
        ts_w = int(pdf["w"].max())
        ts_h = int(pdf["h"].max())
        tx0, ty0 = int(pdf["tx"].min()), int(pdf["ty"].min())
        ntx = int(pdf["tx"].max()) - tx0 + 1
        nty = int(pdf["ty"].max()) - ty0 + 1
        mosaic = np.zeros((nty * ts_h, ntx * ts_w), dtype=np.uint8)
        wmax = hmax = 0
        for r in pdf.sort_values(["ty", "tx"]).itertuples(index=False):
            a = np.frombuffer(r.data, np.uint8).reshape(r.h, r.w)
            ys, xs = (r.ty - ty0) * ts_h, (r.tx - tx0) * ts_w
            mosaic[ys:ys + r.h, xs:xs + r.w] = a
            hmax = max(hmax, ys + r.h)
            wmax = max(wmax, xs + r.w)
        mosaic = mosaic[:hmax, :wmax]
        file_gt = None
        if gt is not None:
            file_gt = (
                gt[0] + tx0 * ts_w * gt[1] + ty0 * ts_h * gt[2],
                gt[1], gt[2],
                gt[3] + tx0 * ts_w * gt[4] + ty0 * ts_h * gt[5],
                gt[4], gt[5],
            )
        use_tile = (ts_w % 16 == 0) and (ts_h % 16 == 0)
        if cog_overviews is not None:
            if not use_tile:
                raise ValueError("COG output needs 16-multiple tiles")
            data = cog_encode(
                mosaic,
                tile=(ts_w, ts_h),
                compression=compression,
                predictor=predictor,
                geotransform=file_gt,
                epsg=epsg,
                bigtiff=bigtiff,
                resampling=cog_overviews,
            )
        else:
            data = tiff_encode(
                mosaic,
                tile=(ts_w, ts_h) if use_tile else None,
                compression=compression,
                predictor=predictor,
                geotransform=file_gt,
                epsg=epsg,
                bigtiff=bigtiff,
            )
        path = os.path.join(out_dir, f"granule-{k:06d}.tif")
        tmp = path + ".tmp"
        with open(tmp, "wb") as f:
            f.write(data)
        os.replace(tmp, path)
        n_blocks = len(pdf)
        return pd.DataFrame(
            [(
                path, k, wmax, hmax, n_blocks, len(data),
                hashlib.md5(data).hexdigest(),
            )],
            columns=[
                "path", "key", "w", "h", "n_blocks", "n_bytes", "md5",
            ],
        )

    return src.groupBy("__key").applyInPandas(
        sink, GTIFF_MANIFEST_SCHEMA
    )

"""PMTiles v3 single-file tile archive — source + sink, from-spec.

The reference ships a PMTiles driver (ogr/ogrsf_frmts/pmtiles/,
vendored pmtiles library) for the public PMTiles v3 specification
(https://github.com/protomaps/PMTiles/blob/main/spec/v3): a
cloud-optimized, clustered archive of z/x/y tiles addressed by
Hilbert tile IDs through varint-coded directories, built so a reader
needs only the 127-byte header + the (gzipped) root directory to
locate any tile by byte range.

This module implements the spec directly with the stdlib + the
engine's existing pieces: the Hilbert curve from `fgb.hilbert_d` (+
the inverse here), gzip for internal compression, and the PNG/JPEG/
MVT payload codecs already in-tree.

Scale shape (the gtiff/fgb pattern): `read_pmtiles`'s DRIVER reads
the header + directories only — never a tile byte; executors
seek-read their tile byte ranges. `write_pmtiles_dir` is the
granule-parallel sink (one archive per group, encoded inside the
task). Shared-FS contract.
"""

from __future__ import annotations

import gzip
import os
import struct

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .fgb import hilbert_d

MAGIC = b"PMTiles"
VERSION = 3
HEADER_BYTES = 127
MAX_ROOT_ENTRIES = 16384

TILE_TYPE = {"mvt": 1, "png": 2, "jpeg": 3, "webp": 4}
COMPRESSION_NONE = 1
COMPRESSION_GZIP = 2


# ---------------------------------------------------------------------------
# tile id ↔ (z, x, y): Hilbert position at zoom z + cumulative base
# ---------------------------------------------------------------------------


def zxy_to_tileid(z: int, x: int, y: int) -> int:
    """Spec §tile-ids: base = Σ_{k<z} 4^k, position = Hilbert d of
    (x, y) on the 2^z grid."""
    if z == 0:
        return 0
    base = ((1 << (2 * z)) - 1) // 3
    d = int(hilbert_d(np.array([x]), np.array([y]), 1 << z)[0])
    return base + d


def tileid_to_zxy(t: int) -> tuple[int, int, int]:
    z = 0
    acc = 0
    while acc + (1 << (2 * z)) <= t:
        acc += 1 << (2 * z)
        z += 1
    d = t - acc
    # inverse Hilbert (classic d2xy)
    n = 1 << z
    x = y = 0
    s = 1
    while s < n:
        rx = 1 & (d // 2)
        ry = 1 & (d ^ rx)
        if ry == 0:
            if rx == 1:
                x, y = s - 1 - x, s - 1 - y
            x, y = y, x
        x += s * rx
        y += s * ry
        d //= 4
        s *= 2
    return z, x, y


# ---------------------------------------------------------------------------
# varint + directory codec (spec §directories: four runs — delta tile
# ids, run lengths, lengths, offsets with the 0="previous+length"
# clustering shortcut)
# ---------------------------------------------------------------------------


def _uvarint(v: int) -> bytes:
    out = bytearray()
    while True:
        b = v & 0x7F
        v >>= 7
        if v:
            out.append(b | 0x80)
        else:
            out.append(b)
            return bytes(out)


def _read_uvarint(buf: bytes, pos: int) -> tuple[int, int]:
    shift = 0
    v = 0
    while True:
        b = buf[pos]
        pos += 1
        v |= (b & 0x7F) << shift
        if not b & 0x80:
            return v, pos
        shift += 7


def serialize_directory(entries: list[tuple[int, int, int, int]]) -> bytes:
    """entries: (tile_id, offset, length, run_length), SORTED by
    tile_id. Returns the uncompressed directory bytes."""
    out = bytearray(_uvarint(len(entries)))
    last = 0
    for tid, _, _, _ in entries:
        out += _uvarint(tid - last)
        last = tid
    for _, _, _, rl in entries:
        out += _uvarint(rl)
    for _, _, ln, _ in entries:
        out += _uvarint(ln)
    prev_off = prev_len = None
    for _, off, ln, _ in entries:
        if prev_off is not None and off == prev_off + prev_len:
            out += _uvarint(0)  # clustered shortcut
        else:
            out += _uvarint(off + 1)
        prev_off, prev_len = off, ln
    return bytes(out)


def parse_directory(buf: bytes) -> list[tuple[int, int, int, int]]:
    n, pos = _read_uvarint(buf, 0)
    tids = []
    last = 0
    for _ in range(n):
        d, pos = _read_uvarint(buf, pos)
        last += d
        tids.append(last)
    rls = []
    for _ in range(n):
        v, pos = _read_uvarint(buf, pos)
        rls.append(v)
    lens = []
    for _ in range(n):
        v, pos = _read_uvarint(buf, pos)
        lens.append(v)
    out = []
    prev_off = prev_len = None
    for i in range(n):
        v, pos = _read_uvarint(buf, pos)
        off = prev_off + prev_len if v == 0 else v - 1
        out.append((tids[i], off, lens[i], rls[i]))
        prev_off, prev_len = off, lens[i]
    return out


# ---------------------------------------------------------------------------
# header
# ---------------------------------------------------------------------------


def _pack_header(
    root_off, root_len, meta_off, meta_len, leaf_off, leaf_len,
    data_off, data_len, n_addressed, n_entries, n_contents,
    tile_type, min_z, max_z, bounds,
) -> bytes:
    h = bytearray(HEADER_BYTES)
    h[0:7] = MAGIC
    h[7] = VERSION
    struct.pack_into(
        "<QQQQQQQQQQQ", h, 8,
        root_off, root_len, meta_off, meta_len, leaf_off, leaf_len,
        data_off, data_len, n_addressed, n_entries, n_contents,
    )
    h[96] = 1                     # clustered
    h[97] = COMPRESSION_GZIP      # internal (directory) compression
    h[98] = COMPRESSION_NONE      # tile compression (payloads as-is)
    h[99] = tile_type
    h[100] = min_z
    h[101] = max_z
    x0, y0, x1, y1 = bounds
    struct.pack_into(
        "<iiii", h, 102,
        int(round(x0 * 1e7)), int(round(y0 * 1e7)),
        int(round(x1 * 1e7)), int(round(y1 * 1e7)),
    )
    h[118] = min_z                # center zoom
    struct.pack_into(
        "<ii", h, 119,
        int(round((x0 + x1) / 2 * 1e7)),
        int(round((y0 + y1) / 2 * 1e7)),
    )
    return bytes(h)


def _parse_header(h: bytes) -> dict:
    if h[:7] != MAGIC or h[7] != VERSION:
        raise ValueError(
            "not a PMTiles v3 file: bad magic/version at byte offset 0"
        )
    vals = struct.unpack_from("<QQQQQQQQQQQ", h, 8)
    return {
        "root_off": vals[0], "root_len": vals[1],
        "meta_off": vals[2], "meta_len": vals[3],
        "leaf_off": vals[4], "leaf_len": vals[5],
        "data_off": vals[6], "data_len": vals[7],
        "n_addressed": vals[8], "n_entries": vals[9],
        "n_contents": vals[10],
        "clustered": h[96], "internal_compression": h[97],
        "tile_compression": h[98], "tile_type": h[99],
        "min_z": h[100], "max_z": h[101],
    }


# ---------------------------------------------------------------------------
# whole-archive encode / directory walk
# ---------------------------------------------------------------------------


def pmtiles_encode(
    tiles: list[tuple[int, int, int, bytes]],
    fmt: str = "png",
    bounds=(-180.0, -85.05112878, 180.0, 85.05112878),
    metadata: bytes = b"{}",
) -> bytes:
    """tiles: (z, x, y, payload). Clustered layout in tile-id order;
    byte-identical payloads dedupe to one content (spec
    n_tile_contents); directories spill to leaves past the 16384-
    entry root budget."""
    if not tiles:
        raise ValueError("no tiles")
    ordered = sorted(
        (zxy_to_tileid(z, x, y), bytes(d)) for z, x, y, d in tiles
    )
    tids = [t for t, _ in ordered]
    if len(set(tids)) != len(tids):
        raise ValueError("duplicate (z, x, y) tiles")
    # content dedup: identical payloads share bytes
    data = bytearray()
    content_at: dict[bytes, tuple[int, int]] = {}
    entries = []
    for tid, payload in ordered:
        if payload in content_at:
            off, ln = content_at[payload]
        else:
            off, ln = len(data), len(payload)
            data += payload
            content_at[payload] = (off, ln)
        entries.append((tid, off, ln, 1))
    n_entries = len(entries)
    if n_entries <= MAX_ROOT_ENTRIES:
        root = gzip.compress(serialize_directory(entries), 6, mtime=0)
        leaves = b""
        leaf_count = 0
    else:
        # leaf directories of ≤ MAX_ROOT_ENTRIES entries; root entries
        # have run_length=0 and point at leaf byte ranges (the spec's
        # leaf marker)
        leaves_b = bytearray()
        root_entries = []
        for i in range(0, n_entries, MAX_ROOT_ENTRIES):
            chunk = entries[i: i + MAX_ROOT_ENTRIES]
            blob = gzip.compress(
                serialize_directory(chunk), 6, mtime=0
            )
            root_entries.append(
                (chunk[0][0], len(leaves_b), len(blob), 0)
            )
            leaves_b += blob
        root = gzip.compress(
            serialize_directory(root_entries), 6, mtime=0
        )
        leaves = bytes(leaves_b)
        leaf_count = len(root_entries)
    meta = gzip.compress(metadata, 6, mtime=0)
    root_off = HEADER_BYTES
    meta_off = root_off + len(root)
    leaf_off = meta_off + len(meta)
    data_off = leaf_off + len(leaves)
    zs = [tileid_to_zxy(t)[0] for t in (tids[0], tids[-1])]
    hdr = _pack_header(
        root_off, len(root), meta_off, len(meta), leaf_off,
        len(leaves), data_off, len(data), len(tids), n_entries,
        len(content_at), TILE_TYPE[fmt], zs[0], zs[1], bounds,
    )
    return hdr + root + meta + leaves + bytes(data)


def _decompressor(hdr: dict, field: str):
    """The decode a header compression field asks for: none or gzip;
    any other codec raises."""
    code = hdr[field]
    if code == COMPRESSION_NONE:
        return bytes
    if code == COMPRESSION_GZIP:
        return gzip.decompress
    at = {"internal_compression": 97, "tile_compression": 98}[field]
    raise ValueError(
        f"PMTiles {field} at byte offset {at} is {code}: only none "
        f"({COMPRESSION_NONE}) and gzip ({COMPRESSION_GZIP}) are read"
    )


def _all_entries(buf: bytes, hdr: dict) -> list[tuple[int, int, int, int]]:
    """Header + directories → every tile entry (leaf dirs resolved)."""
    unzip = _decompressor(hdr, "internal_compression")
    root = unzip(buf[hdr["root_off"]: hdr["root_off"] + hdr["root_len"]])
    out = []
    for tid, off, ln, rl in parse_directory(root):
        if rl == 0:  # leaf pointer
            leaf = unzip(
                buf[hdr["leaf_off"] + off: hdr["leaf_off"] + off + ln]
            )
            out.extend(parse_directory(leaf))
        else:
            out.append((tid, off, ln, rl))
    return out


def pmtiles_decode(buf: bytes) -> pd.DataFrame:
    """One archive → (z, tx, ty, data)."""
    hdr = _parse_header(buf[:HEADER_BYTES])
    unzip = _decompressor(hdr, "tile_compression")
    rows = []
    for tid, off, ln, rl in _all_entries(buf, hdr):
        data = unzip(buf[hdr["data_off"] + off: hdr["data_off"] + off + ln])
        for k in range(max(1, rl)):
            z, x, y = tileid_to_zxy(tid + k)
            rows.append((z, x, y, data))
    return pd.DataFrame(rows, columns=["z", "tx", "ty", "data"])


# ---------------------------------------------------------------------------
# Spark source / sink
# ---------------------------------------------------------------------------


def read_pmtiles(
    spark: SparkSession,
    path: str,
    zoom: int | None = None,
    tiles_per_task: int = 2048,
    opener=None,
) -> DataFrame:
    """Ranged PMTiles scan: the driver reads the 127-byte header +
    the directories (KBs — never a tile byte) and chunks the
    entry list; executors seek-read their tile byte ranges. ``zoom``
    prunes entries by the tile-id interval of that zoom level before
    any read (the directory IS the index). ``opener`` (picklable
    path→file-like; default shared-FS open — gdal_spark.io) is the
    object-store seam for every byte, driver and executors."""
    from .io import local_opener

    opener = opener or local_opener
    with opener(path) as f:
        hdr = _parse_header(f.read(HEADER_BYTES))
        f.seek(0)
        head_blob = f.read(hdr["data_off"])
    entries = _all_entries(head_blob, hdr)
    unzip = _decompressor(hdr, "tile_compression")
    zrange = None
    if zoom is not None:
        zlo = ((1 << (2 * zoom)) - 1) // 3 if zoom else 0
        zhi = ((1 << (2 * (zoom + 1))) - 1) // 3
        # keep every entry whose RUN intersects the zoom's tile-id
        # interval (spec v3 allows a run to cross a zoom boundary);
        # emitted run positions are clipped in the task
        entries = [
            e for e in entries
            if e[0] < zhi and e[0] + max(1, e[3]) > zlo
        ]
        zrange = (zlo, zhi)
    if not entries:
        return spark.createDataFrame(
            [], "z long, tx long, ty long, data binary"
        )
    n_chunks = (len(entries) + tiles_per_task - 1) // tiles_per_task
    # per-chunk entries ride DATA rows as compact int64 blobs (never
    # the task closure); explicit repartition count so AQE cannot
    # coalesce the tiny-rowcount exchange into one task
    chunk_rows = [
        (
            int(i),
            np.asarray(
                entries[i * tiles_per_task: (i + 1) * tiles_per_task],
                dtype="<i8",
            ).tobytes(),
        )
        for i in range(n_chunks)
    ]
    data_off = hdr["data_off"]
    rng = spark.createDataFrame(
        chunk_rows, "cid long, entries binary"
    ).repartitionByRange(min(n_chunks, 64), "cid")

    def gen(batches):
        for b in batches:
            for eb in b["entries"]:
                chunk = np.frombuffer(eb, "<i8").reshape(-1, 4)
                lo = int(chunk[:, 1].min())
                hi = int((chunk[:, 1] + chunk[:, 2]).max())
                with opener(path) as f:
                    f.seek(data_off + lo)
                    blob = f.read(hi - lo)
                rows = []
                for tid, off, ln, rl in chunk:
                    payload = unzip(blob[off - lo: off - lo + ln])
                    for k in range(max(1, int(rl))):
                        t = int(tid) + k
                        if zrange is not None and not (
                            zrange[0] <= t < zrange[1]
                        ):
                            continue
                        z, x, y = tileid_to_zxy(t)
                        rows.append((z, x, y, payload))
                yield pd.DataFrame(
                    rows, columns=["z", "tx", "ty", "data"]
                )

    return rng.mapInPandas(gen, "z long, tx long, ty long, data binary")


def write_pmtiles_dir(
    df: DataFrame,
    out_dir: str,
    fmt: str = "png",
    group_col: str | None = None,
) -> DataFrame:
    """Granule-parallel sink: one .pmtiles archive per group (or per
    partition), encoded inside the task from (z, tx, ty, data) rows.
    Manifest (path, n_tiles). Shared-FS contract."""
    os.makedirs(out_dir, exist_ok=True)
    if group_col is None:
        src = df.withColumn("__g", F.spark_partition_id())
        gcol = "__g"
    else:
        src = df.withColumn("__g", F.col(group_col))
        gcol = "__g"
    n_gran = max(1, df.rdd.getNumPartitions())

    def sink(batches):
        pdfs = [p for p in batches if len(p)]
        if not pdfs:
            return
        pdf = pd.concat(pdfs, ignore_index=True)
        for g, grp in pdf.groupby(gcol):
            tiles = [
                (int(r.z), int(r.tx), int(r.ty), bytes(r.data))
                for r in grp.itertuples(index=False)
            ]
            blob = pmtiles_encode(tiles, fmt=fmt)
            p = os.path.join(out_dir, f"part-{int(g):05d}.pmtiles")
            tmp = p + ".tmp"
            with open(tmp, "wb") as f:
                f.write(blob)
            os.replace(tmp, p)
            yield pd.DataFrame(
                {"path": [p], "n_tiles": [len(tiles)]}
            )

    return src.repartition(n_gran, gcol).mapInPandas(
        sink, "path string, n_tiles long"
    )

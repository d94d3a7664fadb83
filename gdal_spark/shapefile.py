"""Shapefile source/sink — the OGR Shapefile driver analog
(``ogr/ogrsf_frmts/shape``, shapelib), from the PUBLIC ESRI Shapefile
Technical Description (1998) and the dBase III .dbf layout.

From-spec like WARC/GeoTIFF/PNG/JPEG:
* ``.shp`` — 100-byte header (file code 9994 BE, length in 16-bit
  words BE, version 1000 LE, shape type LE, bbox doubles), records
  of (record#, content length) BE headers + LE shape payloads; shape
  types Null(0) Point(1) PolyLine(3) Polygon(5) MultiPoint(8).
* ``.shx`` — same header + (offset, length) BE pairs per record —
  the RANGED-SCAN index: any record range is two seeks away.
* ``.dbf`` — dBase III: version byte 0x03, record count/offsets,
  32-byte field descriptors (name[11], type C/N/F/L/D, length,
  decimals), fixed-width ASCII records.

Geometry mapping follows the reference: shapefile polygons store all
rings flat with OUTER rings clockwise and holes counter-clockwise;
assembly assigns each hole to the first outer ring containing its
first vertex — OGRGeometryFactory::organizePolygons' default
heuristic (ogr/ogrgeometryfactory.cpp:1997-2064), evaluated with the
engine's own ray-cast PIP.

Spark shape:
* :func:`read_shapefile` — file-parallel (one granule per task).
* :func:`read_shapefile_ranged` — the big-file scale path: the
  driver reads ONLY the .shx (8 bytes/record) to enumerate record
  ranges JVM-side; each task seek-reads its slice of .shp/.dbf —
  a multi-GB shapefile scans with full parallelism and zero
  record bytes through the driver.
* :func:`write_shapefile_dir` — partition-parallel sink (one
  .shp/.shx/.dbf triple per partition, manifest per file) — which
  also makes every test fixture self-contained.

Same shared-filesystem/local-mode deployment contract as the other
granule sources/sinks.
"""

from __future__ import annotations

import os
import struct

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from . import geometry as geom
from . import wkb as _wkb

NULL, POINT, POLYLINE, POLYGON, MULTIPOINT = 0, 1, 3, 5, 8


# ------------------------------------------------------------------
# shape record codec
# ------------------------------------------------------------------


def _ring_cw(ring: np.ndarray) -> bool:
    """Shapefile outer rings are CLOCKWISE (signed area < 0 in the
    usual CCW-positive convention)."""
    return geom.ring_area(np.asarray(ring, dtype=np.float64)) < 0


def shape_to_wkb(buf: bytes) -> bytes | None:
    """One .shp record payload -> WKB (None for Null shapes)."""
    (stype,) = struct.unpack_from("<i", buf, 0)
    if stype == NULL:
        return None
    if stype == POINT:
        x, y = struct.unpack_from("<2d", buf, 4)
        return _wkb.point(x, y)
    if stype == MULTIPOINT:
        (n,) = struct.unpack_from("<i", buf, 36)
        pts = np.frombuffer(buf, "<f8", 2 * n, 40).reshape(n, 2)
        return _wkb.multipoint(pts)
    if stype in (POLYLINE, POLYGON):
        nparts, npoints = struct.unpack_from("<2i", buf, 36)
        parts = np.frombuffer(buf, "<i4", nparts, 44)
        pts = np.frombuffer(
            buf, "<f8", 2 * npoints, 44 + 4 * nparts
        ).reshape(npoints, 2)
        bounds = list(parts) + [npoints]
        rings = [
            pts[bounds[i] : bounds[i + 1]] for i in range(nparts)
        ]
        if stype == POLYLINE:
            if nparts == 1:
                return _wkb.linestring(rings[0])
            return _wkb.multilinestring(rings)
        # polygon: organize rings (stored outer CW, holes CCW) and
        # normalize to the engine's WKB convention (outer CCW, holes
        # CW) — reversal preserves the first vertex of a closed ring,
        # so write->read round trips are byte-exact
        outers = [r[::-1] for r in rings if _ring_cw(r)]
        holes = [r[::-1] for r in rings if not _ring_cw(r)]
        if not outers:  # degenerate: treat all as outers
            outers, holes = [r[::-1] for r in rings], []
        polys: list[list[np.ndarray]] = [[o] for o in outers]
        for h in holes:
            placed = False
            for p in polys:
                if geom.points_in_ring(
                    h[0:1, 0], h[0:1, 1], p[0]
                )[0]:
                    p.append(h)
                    placed = True
                    break
            if not placed:
                polys.append([h])  # orphan hole -> own polygon
        if len(polys) == 1:
            return _wkb.polygon([r.tolist() for r in polys[0]])
        return _wkb.multipolygon(
            [[r.tolist() for r in p] for p in polys]
        )
    raise ValueError(f"unsupported shape type {stype}")


def wkb_to_shape(wkb_buf: bytes | None) -> bytes:
    """WKB -> one .shp record payload (inverse of shape_to_wkb)."""
    if wkb_buf is None:
        return struct.pack("<i", NULL)
    gt, payload = _wkb.parse(bytes(wkb_buf))
    if gt == _wkb.POINT:
        return struct.pack("<i2d", POINT, payload[0], payload[1])

    def _poly_parts(gtype, rings_sets):
        rings = []
        for k, rset in enumerate(rings_sets):
            for j, r in enumerate(rset):
                r = np.asarray(r, dtype=np.float64)
                if not (r[0] == r[-1]).all():
                    r = np.vstack([r, r[:1]])
                cw = geom.ring_area(r) < 0
                outer = j == 0
                # enforce spec orientation: outer CW, holes CCW
                if outer != cw:
                    r = r[::-1]
                rings.append(r)
        return rings

    if gt in (_wkb.LINESTRING, _wkb.MULTILINESTRING):
        parts = _wkb.parts(gt, payload)
        stype = POLYLINE
    elif gt in (_wkb.POLYGON, _wkb.MULTIPOLYGON):
        polys = [payload] if gt == _wkb.POLYGON else payload
        parts = _poly_parts(gt, polys)
        stype = POLYGON
    elif gt == _wkb.MULTIPOINT:
        pts = np.asarray(payload, dtype=np.float64).reshape(-1, 2)
        out = struct.pack(
            "<i4d", MULTIPOINT,
            pts[:, 0].min(), pts[:, 1].min(),
            pts[:, 0].max(), pts[:, 1].max(),
        ) + struct.pack("<i", len(pts)) + pts.astype("<f8").tobytes()
        return out
    else:
        raise ValueError(f"unsupported WKB type {gt}")
    allpts = np.vstack(parts)
    offs = np.cumsum([0] + [len(p) for p in parts[:-1]])
    return (
        struct.pack(
            "<i4d", stype,
            allpts[:, 0].min(), allpts[:, 1].min(),
            allpts[:, 0].max(), allpts[:, 1].max(),
        )
        + struct.pack("<2i", len(parts), len(allpts))
        + np.asarray(offs, "<i4").tobytes()
        + allpts.astype("<f8").tobytes()
    )


# ------------------------------------------------------------------
# file-level codec
# ------------------------------------------------------------------


def _main_header(total_words: int, stype: int, bbox) -> bytes:
    return (
        struct.pack(">i5i", 9994, 0, 0, 0, 0, 0)
        + struct.pack(">i", total_words)
        + struct.pack("<2i", 1000, stype)
        + struct.pack("<4d", *bbox)
        + struct.pack("<4d", 0, 0, 0, 0)
    )


def write_shp(geoms: list[bytes | None]) -> tuple[bytes, bytes]:
    """WKB list -> (.shp bytes, .shx bytes)."""
    payloads = [wkb_to_shape(g) for g in geoms]
    boxes = [_wkb.bbox(g) for g in geoms if g is not None]
    bx = (
        np.asarray(boxes) if boxes else np.zeros((1, 4))
    )
    bbox = (
        float(bx[:, 0].min()), float(bx[:, 1].min()),
        float(bx[:, 2].max()), float(bx[:, 3].max()),
    )
    stypes = {struct.unpack_from("<i", p, 0)[0] for p in payloads}
    stypes.discard(NULL)
    stype = stypes.pop() if len(stypes) == 1 else (
        next(iter(stypes)) if stypes else NULL
    )
    recs = bytearray()
    shx = bytearray()
    offset_words = 50  # header = 100 bytes
    for i, p in enumerate(payloads, start=1):
        clen = len(p) // 2
        shx += struct.pack(">2i", offset_words, clen)
        recs += struct.pack(">2i", i, clen) + p
        offset_words += 4 + clen
    shp = _main_header(offset_words, stype, bbox) + bytes(recs)
    shx_full = _main_header(50 + 4 * len(payloads), stype, bbox) + bytes(shx)
    return shp, shx_full


def write_dbf(pdf: pd.DataFrame) -> bytes:
    """Attribute frame -> dBase III bytes. Strings -> C, ints -> N,
    floats -> N with 6 decimals, bools -> L."""
    fields = []
    for c in pdf.columns:
        s = pdf[c]
        if s.dtype.kind in "iu":
            fields.append((c, "N", 18, 0))
        elif s.dtype.kind == "f":
            fields.append((c, "N", 24, 6))
        elif s.dtype.kind == "b":
            fields.append((c, "L", 1, 0))
        else:
            width = max(
                [1] + [len(str(v)) for v in s if v is not None]
            )
            fields.append((c, "C", min(width, 254), 0))
    rec_size = 1 + sum(f[2] for f in fields)
    hdr_size = 32 + 32 * len(fields) + 1
    out = bytearray()
    out += struct.pack(
        "<B3BIHH20x", 0x03, 99, 1, 1, len(pdf), hdr_size, rec_size
    )
    for name, typ, ln, dec in fields:
        out += struct.pack(
            "<11sc4xBB14x",
            name.encode("ascii", "replace")[:10].ljust(11, b"\x00"),
            typ.encode(), ln, dec,
        )
    out += b"\x0d"
    for i in range(len(pdf)):
        out += b" "
        for (name, typ, ln, dec) in fields:
            v = pdf[name].iloc[i]
            if typ == "C":
                s = ("" if v is None else str(v))[:ln].ljust(ln)
            elif typ == "L":
                s = ("T" if v else "F")
            elif dec:
                s = ("" if v is None else f"{float(v):.{dec}f}")[:ln].rjust(ln)
            else:
                s = ("" if v is None else str(int(v)))[:ln].rjust(ln)
            out += s.encode("ascii", "replace")
    out += b"\x1a"
    return bytes(out)


def read_dbf(buf: bytes) -> pd.DataFrame:
    n_rec, hdr_size, rec_size = struct.unpack_from("<IHH", buf, 4)
    fields = []
    pos = 32
    while buf[pos] != 0x0D:
        name = buf[pos : pos + 11].split(b"\x00")[0].decode("ascii")
        typ = chr(buf[pos + 11])
        ln = buf[pos + 16]
        dec = buf[pos + 17]
        fields.append((name, typ, ln, dec))
        pos += 32
    cols: dict[str, list] = {f[0]: [] for f in fields}
    for r in range(n_rec):
        rp = hdr_size + r * rec_size
        if buf[rp : rp + 1] == b"*":  # deleted
            continue
        fp = rp + 1
        for name, typ, ln, dec in fields:
            raw = buf[fp : fp + ln].decode("ascii", "replace")
            fp += ln
            s = raw.strip()
            if typ == "C":
                cols[name].append(raw.rstrip())
            elif typ == "L":
                cols[name].append(s in ("T", "t", "Y", "y"))
            elif not s:
                cols[name].append(None)
            elif dec or typ == "F":
                cols[name].append(float(s))
            else:
                cols[name].append(int(s))
    return pd.DataFrame(cols)


def _iter_shp_records(shp: bytes):
    pos = 100
    while pos + 8 <= len(shp):
        recno, clen = struct.unpack_from(">2i", shp, pos)
        payload = shp[pos + 8 : pos + 8 + 2 * clen]
        yield recno, payload
        pos += 8 + 2 * clen


# ------------------------------------------------------------------
# Spark sources / sink
# ------------------------------------------------------------------


def _granule_pdf(shp: bytes, dbf: bytes | None) -> pd.DataFrame:
    geoms = []
    for _, payload in _iter_shp_records(shp):
        geoms.append(shape_to_wkb(payload))
    if dbf is not None:
        pdf = read_dbf(dbf)
        pdf = pdf.iloc[: len(geoms)].copy()
    else:
        pdf = pd.DataFrame(index=range(len(geoms)))
    pdf.insert(0, "fid", range(len(geoms)))
    pdf["geometry"] = geoms
    return pdf


def _read_granule(opener, shp_path: str) -> tuple[bytes, bytes | None]:
    """(.shp bytes, .dbf bytes or None when there is no .dbf), both
    through ``opener``."""
    with opener(shp_path) as f:
        shp = f.read()
    try:
        with opener(os.path.splitext(shp_path)[0] + ".dbf") as f:
            return shp, f.read()
    except FileNotFoundError:
        return shp, None


def read_shapefile(
    spark: SparkSession,
    paths: list[str],
    schema: str | None = None,
    opener=None,
) -> DataFrame:
    """File-parallel shapefile scan: one .shp(+.dbf) granule per
    task. ``schema`` (Spark DDL for the attribute columns) comes from
    the first granule when omitted. ``opener`` (picklable path→file-like;
    default shared-FS open — gdal_spark.io) reads every byte, driver
    and executors."""
    from .io import local_opener

    opener = opener or local_opener
    if schema is None:
        pdf0 = _granule_pdf(*_read_granule(opener, paths[0]))
        parts = ["fid long"]
        for c in pdf0.columns:
            if c in ("fid", "geometry"):
                continue
            k = pdf0[c].dtype.kind
            t = {"i": "long", "u": "long", "f": "double",
                 "b": "boolean"}.get(k, "string")
            parts.append(f"`{c}` {t}")
        parts.append("geometry binary")
        schema = ", ".join(parts)

    pdf = spark.createDataFrame([(p,) for p in paths], "path string")

    def gen(batches):
        for b in batches:
            for p in b["path"]:
                yield _granule_pdf(*_read_granule(opener, p))

    return pdf.repartition(len(paths)).mapInPandas(gen, schema)


def read_shapefile_ranged(
    spark: SparkSession,
    path: str,
    records_per_task: int = 100_000,
    schema: str | None = None,
    opener=None,
) -> DataFrame:
    """Big-file scale path: the driver reads ONLY the .shx
    (8 bytes/record) for the record index; tasks seek-read their
    .shp slice (and their fixed-stride .dbf slice). Record ranges
    enumerate JVM-side via spark.range. ``opener`` (picklable
    path→file-like; default shared-FS open — gdal_spark.io) is the
    object-store seam for every byte, driver and executors."""
    from .io import local_opener

    opener = opener or local_opener
    shx_p = os.path.splitext(path)[0] + ".shx"
    dbf_p = os.path.splitext(path)[0] + ".dbf"
    with opener(shx_p) as f:
        shx = f.read()
    n_rec = (len(shx) - 100) // 8
    idx = np.frombuffer(shx, ">i4", 2 * n_rec, 100).reshape(n_rec, 2)
    try:
        with opener(dbf_p) as f:
            dbf_head = f.read(32 + 32 * 128)
        has_dbf = True
    except FileNotFoundError:
        has_dbf = False
    if has_dbf:
        hdr_size, rec_size = struct.unpack_from("<HH", dbf_head, 8)
        fields_blob = dbf_head[: hdr_size]
    if schema is None:
        probe = read_shapefile(spark, [path], opener=opener).limit(0)
        schema = ", ".join(
            f"`{n}` {t}" for n, t in probe.dtypes
        )
    n_chunks = (n_rec + records_per_task - 1) // records_per_task
    rng = spark.range(0, n_chunks, 1, min(max(n_chunks, 1), 64))
    idx_b = idx.tobytes()  # ships in the closure (8 B/record)

    def gen(batches):
        index = np.frombuffer(idx_b, ">i4").reshape(-1, 2)
        for b in batches:
            for cid in b["id"]:
                a = int(cid) * records_per_task
                z = min(n_rec, a + records_per_task)
                if a >= z:
                    continue
                start = int(index[a, 0]) * 2
                end = int(index[z - 1, 0] + 4 + index[z - 1, 1]) * 2
                with opener(path) as f:
                    f.seek(start)
                    blob = f.read(end - start)
                geoms = []
                pos = 0
                for r in range(a, z):
                    clen = int(index[r, 1])
                    geoms.append(
                        shape_to_wkb(blob[pos + 8 : pos + 8 + 2 * clen])
                    )
                    pos += 8 + 2 * clen
                if has_dbf:
                    with opener(dbf_p) as f:
                        f.seek(hdr_size + a * rec_size)
                        recs = f.read((z - a) * rec_size)
                    dbf_blob = (
                        fields_blob
                        + recs + b"\x1a"
                    )
                    # patch the record count for the slice parser
                    dbf_blob = (
                        dbf_blob[:4]
                        + struct.pack("<I", z - a)
                        + dbf_blob[8:]
                    )
                    pdf = read_dbf(dbf_blob)
                else:
                    pdf = pd.DataFrame(index=range(z - a))
                pdf.insert(0, "fid", range(a, z))
                pdf["geometry"] = geoms
                yield pdf

    return rng.mapInPandas(gen, schema)


def write_shapefile_dir(
    df: DataFrame,
    out_dir: str,
    geometry_col: str = "geometry",
) -> DataFrame:
    """Partition-parallel sink: one .shp/.shx/.dbf triple per
    partition, manifest (path, n_rows). Shared-FS contract."""
    os.makedirs(out_dir, exist_ok=True)
    attr_cols = [c for c in df.columns if c != geometry_col]
    src = df.withColumn("__pid", F.spark_partition_id())

    def sink(batches):
        pdfs = [p for p in batches if len(p)]
        if not pdfs:
            return
        pdf = pd.concat(pdfs, ignore_index=True)
        pid = int(pdf["__pid"].iloc[0])
        base = os.path.join(out_dir, f"part-{pid:05d}")
        geoms = [
            None if g is None else bytes(g)
            for g in pdf[geometry_col]
        ]
        shp, shx = write_shp(geoms)
        dbf = write_dbf(pdf[attr_cols])
        for ext, blob in ((".shp", shp), (".shx", shx), (".dbf", dbf)):
            tmp = base + ext + ".tmp"
            with open(tmp, "wb") as f:
                f.write(blob)
            os.replace(tmp, base + ext)
        yield pd.DataFrame(
            {"path": [base + ".shp"], "n_rows": [len(pdf)]}
        )

    # explicit partition count: a bare repartition("__pid") is a
    # default-numbered shuffle, which AQE happily coalesces into
    # ONE task for small batches — serializing the granule encode;
    # pinning it to the upstream partition count keeps the sink
    # granule-parallel at every scale
    n_gran = max(1, df.rdd.getNumPartitions())
    return src.repartition(n_gran, "__pid").mapInPandas(
        sink, "path string, n_rows long"
    )

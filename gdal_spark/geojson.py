"""GeoJSON / GeoJSONSeq source+sink — the OGR GeoJSON driver analog
(``ogr/ogrsf_frmts/geojson``), from the PUBLIC RFC 7946 spec.

Two container shapes, matching the reference's two drivers:
* **GeoJSONSeq** (newline-delimited features, the reference's
  scale-preferred variant): reading is ``spark.read.text`` — Spark's
  native splittable line source, so a 10 TB .geojsonl reads with
  full parallelism and no custom input format — followed by one
  Arrow-batched parse kernel; writing emits one part file per
  partition.
* **GeoJSON** (one FeatureCollection per file): file-parallel, one
  granule per task, for the sharded-small-files layout.

Schema philosophy (Spark-first): the parser emits ``geometry`` as
plain WKB binary (feeding every downstream operator unchanged) plus
``properties`` as a CANONICAL JSON string and ``feature_id`` — so
property access is native Spark (``F.get_json_object`` /
``from_json`` with a user schema) instead of a Python-side schema
guess; the reference does the equivalent field-type sniffing in
OGRGeoJSONReaderAddOrUpdateField, which we deliberately leave to
Catalyst's from_json.
"""

from __future__ import annotations

import json
import os
import uuid

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from . import wkb as _wkb


# --------------------------------------------------------------------------
# geometry codec (RFC 7946 §3.1 <-> WKB)
# --------------------------------------------------------------------------


_GEOJSON_TYPES = {
    "Point": _wkb.POINT,
    "LineString": _wkb.LINESTRING,
    "Polygon": _wkb.POLYGON,
    "MultiPoint": _wkb.MULTIPOINT,
    "MultiLineString": _wkb.MULTILINESTRING,
    "MultiPolygon": _wkb.MULTIPOLYGON,
}
_GEOJSON_NAMES = {v: k for k, v in _GEOJSON_TYPES.items()}


def _xy(positions) -> list[tuple[float, float]]:
    """RFC 7946 positions → XY pairs (any altitude dropped)."""
    return [(float(p[0]), float(p[1])) for p in positions]


def geometry_to_wkb(geom: dict) -> bytes:
    t = geom["type"]
    if t not in _GEOJSON_TYPES:
        raise ValueError(f"unsupported GeoJSON geometry type {t!r}")
    gtype = _GEOJSON_TYPES[t]
    return _wkb.build(
        gtype, _wkb.map_coords(gtype, geom["coordinates"], _xy)
    )


def wkb_to_geometry(buf: bytes) -> dict:
    gtype, payload = _wkb.parse(bytes(buf))
    if gtype not in _GEOJSON_NAMES:
        raise ValueError(f"unsupported WKB type {gtype}")
    return {
        "type": _GEOJSON_NAMES[gtype],
        "coordinates": _wkb.map_coords(gtype, payload, np.ndarray.tolist),
    }


# --------------------------------------------------------------------------
# feature line codec
# --------------------------------------------------------------------------

_FEATURE_SCHEMA = "feature_id string, properties string, geometry binary"


def _parse_features(objs) -> pd.DataFrame:
    ids, props, geoms = [], [], []
    for o in objs:
        if not o or o.get("type") != "Feature":
            continue
        g = o.get("geometry")
        ids.append(None if o.get("id") is None else str(o["id"]))
        props.append(
            json.dumps(o.get("properties") or {}, sort_keys=True,
                       separators=(",", ":"))
        )
        geoms.append(None if g is None else geometry_to_wkb(g))
    return pd.DataFrame(
        {"feature_id": ids, "properties": props, "geometry": geoms}
    )


def read_geojson_seq(spark: SparkSession, path: str) -> DataFrame:
    """Newline-delimited features via the native splittable text
    source + one Arrow parse kernel. Leading RS (0x1e, the RFC 8142
    framing the reference also accepts) is stripped."""
    return _parse_lines(spark.read.text(path))


def _parse_lines(lines: DataFrame) -> DataFrame:
    """The line parse kernel shared by the batch and the streaming
    GeoJSONSeq scan: text ``value`` rows → _FEATURE_SCHEMA features."""

    def gen(batches):
        for pdf in batches:
            objs = []
            for ln in pdf["value"]:
                s = ln.strip().lstrip("\x1e")
                if s:
                    objs.append(json.loads(s))
            if objs:
                yield _parse_features(objs)

    return lines.mapInPandas(gen, _FEATURE_SCHEMA)


def read_geojson(spark: SparkSession, paths: list[str]) -> DataFrame:
    """One FeatureCollection per file, one granule per task."""
    pdf = spark.createDataFrame([(p,) for p in paths], "path string")

    def gen(batches):
        for b in batches:
            for p in b["path"]:
                with open(p, "r", encoding="utf-8") as f:
                    doc = json.load(f)
                feats = (
                    doc.get("features", [])
                    if doc.get("type") == "FeatureCollection"
                    else [doc]
                )
                if feats:
                    yield _parse_features(feats)

    return pdf.repartition(len(paths)).mapInPandas(gen, _FEATURE_SCHEMA)


def write_geojson_seq(
    df: DataFrame,
    out_dir: str,
    geometry_col: str = "geometry",
    id_col: str | None = None,
) -> DataFrame:
    """Partition-parallel GeoJSONSeq sink: every non-geometry column
    becomes a property (canonical separators, sorted keys —
    deterministic bytes per partition content); one part file per
    partition, manifest (path, n_rows). Shared-FS contract like the
    other granule sinks."""
    os.makedirs(out_dir, exist_ok=True)
    attr_cols = [
        c for c in df.columns if c not in (geometry_col, id_col)
    ]
    src = df.withColumn("__pid", F.spark_partition_id())

    def sink(batches):
        pdfs = [p for p in batches if len(p)]
        if not pdfs:
            return
        pdf = pd.concat(pdfs, ignore_index=True)
        pid = int(pdf["__pid"].iloc[0])
        path = os.path.join(out_dir, f"part-{pid:05d}.geojsonl")
        tmp = f"{path}.tmp-{uuid.uuid4().hex}"
        n = 0
        with open(tmp, "w", encoding="utf-8") as f:
            cols = [pdf[c] for c in attr_cols]
            geos = pdf[geometry_col]
            fids = pdf[id_col] if id_col else [None] * len(pdf)
            for i, (g, fid) in enumerate(zip(geos, fids)):
                props = {}
                for name, col in zip(attr_cols, cols):
                    v = col.iloc[i]
                    if isinstance(v, np.generic):
                        v = v.item()
                    props[name] = v
                feat = {"type": "Feature"}
                if fid is not None:
                    feat["id"] = (
                        fid.item() if isinstance(fid, np.generic) else fid
                    )
                feat["properties"] = props
                feat["geometry"] = (
                    None if g is None else wkb_to_geometry(bytes(g))
                )
                f.write(
                    json.dumps(feat, sort_keys=True,
                               separators=(",", ":"))
                    + "\n"
                )
                n += 1
        os.replace(tmp, path)
        yield pd.DataFrame({"path": [path], "n_rows": [n]})

    # explicit partition count: a bare repartition("__pid") is a
    # default-numbered shuffle, which AQE happily coalesces into
    # ONE task for small batches — serializing the granule encode;
    # pinning it to the upstream partition count keeps the sink
    # granule-parallel at every scale
    n_gran = max(1, df.rdd.getNumPartitions())
    return src.repartition(n_gran, "__pid").mapInPandas(
        sink, "path string, n_rows long"
    )


def read_geojson_seq_stream(spark: SparkSession, path: str) -> DataFrame:
    """Streaming twin of :func:`read_geojson_seq` — the OGR
    GeoJSONSeq driver's append-friendly arrival model: a text
    file-arrival stream over a landing directory, each new
    .geojsonl micro-batched through the SAME parse kernel as the
    batch scan (parity by construction). Stateless projection: no
    watermark or state store; downstream streaming stages compose
    with it."""
    return _parse_lines(spark.readStream.format("text").load(path))

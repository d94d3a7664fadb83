"""From-spec WARC/1.1 container source + sink (ISO 28500).

Common Crawl — the corpus the north-rule pages table models — ships as
WARC files: concatenated records, each (by CC convention) its own gzip
member, holding an HTTP response whose body is the page HTML. No WARC
library ships in this container and none is needed: the format is
line-oriented headers + a counted payload block, and per-record gzip
members decode with stdlib ``zlib``. This module is a from-spec
implementation of both directions (public spec:
https://iipc.github.io/warc-specifications/specifications/warc-format/warc-1.1/).

Reference analog: GDAL's container-format drivers + streamed VSI
readers (``port/cpl_vsil_gzip.cpp`` handles exactly this
multi-gzip-member layout for .gz inputs; ``frmts/`` drivers parse
record-framed binary containers the same header-then-payload way).

Scale notes
-----------
* **Reading is file-parallel.** Common Crawl publishes ~1 GB WARC
  files by the tens of thousands; one task per file is the natural
  (and upstream-standard) parallelism, expressed here as a
  ``binaryFile`` scan → ``mapInPandas`` parse. A 100 TB crawl is
  ~10^5 files → plenty of tasks for a 1000-executor cluster, no
  shuffle at all: parsing is a pure per-file projection.
* **Writing is partition-parallel.** ``write_warc_dir`` emits one
  ``part-NNNNN.warc.gz`` per input partition from inside
  ``mapInPandas`` and returns a manifest row per file (path, record
  count, byte size) — the same sink shape as ``lineage``'s bucketed
  parquet writer, so a killed write resumes by skipping files whose
  manifest row exists.
* **Byte-determinism.** Gzip members are written with mtime=0 and a
  fixed filename field, record IDs derive from (url, ts) — the same
  rows always produce the same bytes, which is what lets the
  round-trip gate hash-compare against the table it started from.
"""

from __future__ import annotations

import os
import zlib

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

_CRLF = b"\r\n"
_WARC_VERSION = b"WARC/1.1"

READ_SCHEMA = T.StructType(
    [
        T.StructField("url", T.StringType()),
        T.StructField("warc_ts", T.StringType()),  # WARC-Date, ISO-8601 Z
        T.StructField("record_type", T.StringType()),
        T.StructField("http_status", T.IntegerType()),
        T.StructField("content_type", T.StringType()),
        T.StructField("html", T.BinaryType()),
        T.StructField("warc_file", T.StringType()),
        T.StructField("record_offset", T.LongType()),
    ]
)

MANIFEST_SCHEMA = T.StructType(
    [
        T.StructField("path", T.StringType()),
        T.StructField("n_records", T.LongType()),
        T.StructField("n_bytes", T.LongType()),
    ]
)


def _record_id(url: str, ts: str) -> str:
    """Deterministic WARC-Record-ID: the spec only requires a globally
    unique URI per record; a urn built from a 64-bit FNV-1a of
    (url, ts) keeps identical inputs byte-identical across runs."""
    h = 0xCBF29CE484222325
    for b in (url + "\x00" + ts).encode("utf-8"):
        h = ((h ^ b) * 0x100000001B3) & 0xFFFFFFFFFFFFFFFF
    return f"<urn:gdal-spark:{h:016x}>"


def response_record(url: str, ts: str, body: bytes,
                    content_type: str = "text/html") -> bytes:
    """One WARC/1.1 ``response`` record (uncompressed): WARC headers,
    then an HTTP/1.1 200 response with the page body — the Common
    Crawl layout. ``ts`` is the WARC-Date string
    (``YYYY-MM-DDThh:mm:ssZ``)."""
    http = (
        b"HTTP/1.1 200 OK" + _CRLF
        + b"Content-Type: " + content_type.encode("ascii") + _CRLF
        + b"Content-Length: " + str(len(body)).encode("ascii") + _CRLF
        + _CRLF
        + body
    )
    headers = [
        _WARC_VERSION,
        b"WARC-Type: response",
        b"WARC-Record-ID: " + _record_id(url, ts).encode("ascii"),
        b"WARC-Date: " + ts.encode("ascii"),
        b"WARC-Target-URI: " + url.encode("ascii"),
        b"Content-Type: application/http; msgtype=response",
        b"Content-Length: " + str(len(http)).encode("ascii"),
    ]
    return _CRLF.join(headers) + _CRLF + _CRLF + http + _CRLF + _CRLF


def gzip_member(raw: bytes) -> bytes:
    """Wrap bytes as one deterministic gzip member (mtime=0, no
    filename) — the per-record-gzip convention that makes WARC files
    seekable by member boundary."""
    co = zlib.compressobj(6, zlib.DEFLATED, 16 + zlib.MAX_WBITS)
    return co.compress(raw) + co.flush()


def warc_file_bytes(records, per_record_gzip: bool = True) -> bytes:
    """Serialize [(url, ts, body), ...] into one WARC file's bytes."""
    out = []
    for url, ts, body in records:
        raw = response_record(url, ts, bytes(body))
        out.append(gzip_member(raw) if per_record_gzip else raw)
    return b"".join(out)


def _split_gzip_members(buf: bytes):
    """Yield (offset, decompressed_bytes) per gzip member of a
    multi-member stream; a non-gzip buffer yields itself at offset 0."""
    if not buf.startswith(b"\x1f\x8b"):
        yield 0, buf
        return
    pos = 0
    n = len(buf)
    while pos < n:
        d = zlib.decompressobj(16 + zlib.MAX_WBITS)
        chunk = d.decompress(buf[pos:])
        chunk += d.flush()
        yield pos, chunk
        consumed = len(buf) - pos - len(d.unused_data)
        if consumed <= 0:
            break
        pos += consumed


def _parse_headers(block: bytes) -> dict:
    headers = {}
    for line in block.split(_CRLF):
        if b":" in line:
            k, v = line.split(b":", 1)
            headers[k.strip().lower().decode("ascii", "replace")] = (
                v.strip().decode("utf-8", "replace")
            )
    return headers


def parse_warc_bytes(buf: bytes, warc_file: str = ""):
    """Iterate records of one WARC file's bytes → dicts matching
    READ_SCHEMA. Handles per-record-gzip, whole-file-gzip and plain
    concatenated layouts; non-response records pass through with a
    null payload so callers can filter on ``record_type``."""
    for member_off, raw in _split_gzip_members(bytes(buf)):
        pos = 0
        n = len(raw)
        while pos < n:
            # skip inter-record blank lines
            while raw.startswith(_CRLF, pos):
                pos += 2
            if pos >= n:
                break
            hdr_end = raw.find(_CRLF + _CRLF, pos)
            if hdr_end < 0 or not raw.startswith(b"WARC/", pos):
                break  # trailing garbage: stop this member
            headers = _parse_headers(raw[pos:hdr_end])
            clen = int(headers.get("content-length", "0"))
            body = raw[hdr_end + 4:hdr_end + 4 + clen]
            rtype = headers.get("warc-type", "")
            url = headers.get("warc-target-uri")
            ts = headers.get("warc-date")
            status = None
            ctype = None
            payload = None
            if rtype == "response" and body.startswith(b"HTTP/"):
                he = body.find(_CRLF + _CRLF)
                if he >= 0:
                    http_hdr = body[:he]
                    payload = body[he + 4:]
                    first = http_hdr.split(_CRLF, 1)[0].split(b" ")
                    if len(first) >= 2 and first[1].isdigit():
                        status = int(first[1])
                    ctype = _parse_headers(http_hdr).get("content-type")
            yield {
                "url": url,
                "warc_ts": ts,
                "record_type": rtype,
                "http_status": status,
                "content_type": ctype,
                "html": payload,
                "warc_file": warc_file,
                "record_offset": member_off + pos,
            }
            pos = hdr_end + 4 + clen


def read_warc(spark, path: str, responses_only: bool = True) -> DataFrame:
    """Distributed WARC scan: ``binaryFile`` rows (one per file) →
    per-file parse in mapInPandas. File-level parallelism is the
    upstream-standard unit for crawls (~1 GB/file); no shuffle."""

    def parse(batches):
        for pdf in batches:
            rows = []
            for p, buf in zip(pdf["path"], pdf["content"]):
                for rec in parse_warc_bytes(bytes(buf), warc_file=p):
                    if responses_only and rec["record_type"] != "response":
                        continue
                    rows.append(rec)
            yield pd.DataFrame(
                rows, columns=[f.name for f in READ_SCHEMA.fields]
            )

    return (spark.read.format("binaryFile").load(path)
            .select("path", "content").mapInPandas(parse, READ_SCHEMA))


def write_warc_dir(df: DataFrame, out_dir: str,
                   url_col: str = "url", ts_col: str = "warc_ts",
                   body_col: str = "html") -> DataFrame:
    """Partition-parallel WARC sink: one ``part-NNNNN.warc.gz`` per
    partition, written from inside the task; returns the manifest
    DataFrame (path, n_records, n_bytes). Deterministic bytes per
    partition content; existing files are overwritten atomically
    (tmp + rename) so reruns converge instead of appending.

    DEPLOYMENT REQUIREMENT: ``out_dir`` must be a filesystem shared by
    every executor AND the driver (NFS/Lustre/FUSE-mounted object
    store), or the job must run in local mode — the tasks open plain
    ``open()`` paths, so on a multi-node cluster without a shared
    mount each executor would write to its own local disk and the
    manifest paths would be unreachable from the driver. For a
    cluster-native object-store sink, write the same
    ``warc_file_bytes`` payloads through a Hadoop-FS-aware writer
    (e.g. ``df.write.format("binaryFile")`` is read-only, so route
    bytes via a foreachPartition + ``org.apache.hadoop.fs``, or land
    them as parquet-of-binary with :func:`warc_file_bytes` applied
    downstream)."""
    os.makedirs(out_dir, exist_ok=True)
    part_col = F.spark_partition_id()
    src = df.select(
        F.col(url_col).alias("url"),
        F.col(ts_col).cast("string").alias("ts"),
        F.col(body_col).alias("body"),
        part_col.alias("__pid"),
    )

    def sink(batches):
        parts: dict[int, list] = {}
        for pdf in batches:
            for url, ts, body, pid in zip(
                pdf["url"], pdf["ts"], pdf["body"], pdf["__pid"]
            ):
                parts.setdefault(int(pid), []).append(
                    (url, _iso_z(ts), body)
                )
        rows = []
        for pid, recs in parts.items():
            recs.sort(key=lambda r: (r[0], r[1]))
            data = warc_file_bytes(recs)
            path = os.path.join(out_dir, f"part-{pid:05d}.warc.gz")
            tmp = path + ".tmp"
            with open(tmp, "wb") as f:
                f.write(data)
            os.replace(tmp, path)
            rows.append((path, len(recs), len(data)))
        yield pd.DataFrame(
            rows, columns=["path", "n_records", "n_bytes"]
        )

    return src.mapInPandas(sink, MANIFEST_SCHEMA)


def _iso_z(ts: str) -> str:
    """'2026-01-01 00:12:34[.frac]' or ISO → 'YYYY-MM-DDThh:mm:ssZ'."""
    s = str(ts).replace(" ", "T")
    if "." in s:
        s = s.split(".", 1)[0]
    if not s.endswith("Z"):
        s += "Z"
    return s

"""WARC container source/sink: from-spec round trips, distributed
read/write parity, byte determinism."""

import os

import pandas as pd
import pytest
from pyspark.sql import functions as F

from gdal_spark import warc
from gdal_spark.testdata import pages_df


def _recs(n=7):
    return [
        (
            f"https://example.org/p/{i}",
            f"2026-01-0{1 + i % 9}T00:00:{i % 60:02d}Z",
            f"<html><body>page {i} éè</body></html>".encode(),
        )
        for i in range(n)
    ]


class TestCodec:
    def test_roundtrip_gzip_members(self):
        recs = _recs()
        buf = warc.warc_file_bytes(recs, per_record_gzip=True)
        got = list(warc.parse_warc_bytes(buf, warc_file="f"))
        assert len(got) == len(recs)
        for (url, ts, body), rec in zip(recs, got):
            assert rec["url"] == url
            assert rec["warc_ts"] == ts
            assert rec["html"] == body
            assert rec["http_status"] == 200
            assert rec["record_type"] == "response"
            assert rec["content_type"] == "text/html"

    def test_roundtrip_plain(self):
        recs = _recs(3)
        buf = warc.warc_file_bytes(recs, per_record_gzip=False)
        got = list(warc.parse_warc_bytes(buf))
        assert [r["html"] for r in got] == [b for _, _, b in recs]

    def test_deterministic_bytes(self):
        recs = _recs()
        assert warc.warc_file_bytes(recs) == warc.warc_file_bytes(recs)

    def test_member_offsets_strictly_increase(self):
        buf = warc.warc_file_bytes(_recs(5))
        offs = [r["record_offset"]
                for r in warc.parse_warc_bytes(buf)]
        assert offs == sorted(set(offs))

    def test_non_response_records_skippable(self):
        # hand-build a warcinfo record followed by a response
        info = (
            b"WARC/1.1\r\nWARC-Type: warcinfo\r\n"
            b"Content-Length: 4\r\n\r\nabcd\r\n\r\n"
        )
        resp = warc.response_record(
            "https://x.test/a", "2026-01-01T00:00:00Z", b"<html/>"
        )
        got = list(warc.parse_warc_bytes(info + resp))
        assert [r["record_type"] for r in got] == ["warcinfo", "response"]
        assert got[0]["html"] is None
        assert got[1]["html"] == b"<html/>"


class TestDistributed:
    @pytest.fixture(scope="class")
    def warc_dir(self, spark, tmp_path_factory):
        out = str(tmp_path_factory.mktemp("warcsink"))
        pages = pages_df(spark, 200, partitions=4)
        manifest = warc.write_warc_dir(pages, out).collect()
        return out, manifest, pages

    def test_sink_manifest(self, warc_dir):
        out, manifest, pages = warc_dir
        assert sum(r.n_records for r in manifest) == 200
        for r in manifest:
            assert os.path.getsize(r.path) == r.n_bytes

    def test_read_back_byte_identical(self, spark, warc_dir):
        out, _, pages = warc_dir
        got = warc.read_warc(spark, out)
        # html bytes must round-trip exactly, keyed by url
        left = {r["url"]: bytes(r["html"])
                for r in pages.select("url", "html").collect()}
        right = {r["url"]: bytes(r["html"])
                 for r in got.select("url", "html").collect()}
        assert left == right

    def test_read_schema_and_status(self, spark, warc_dir):
        out, _, _ = warc_dir
        got = warc.read_warc(spark, out)
        assert [f.name for f in got.schema.fields] == [
            f.name for f in warc.READ_SCHEMA.fields
        ]
        assert got.where(F.col("http_status") != 200).count() == 0

    def test_rewrite_converges(self, spark, warc_dir):
        out, manifest, pages = warc_dir
        sizes1 = {r.path: r.n_bytes for r in manifest}
        manifest2 = warc.write_warc_dir(pages, out).collect()
        sizes2 = {r.path: r.n_bytes for r in manifest2}
        assert sizes1 == sizes2

"""Baseline JPEG codec + tile sink (frmts/jpeg/jpgdataset.cpp analog;
gdal2tiles --tiledriver=JPEG output layout)."""

import os
import struct

import numpy as np
import pytest

from gdal_spark import jpeg


def _gradient(h, w):
    x = np.arange(w, dtype=np.int64)[None, :]
    y = np.arange(h, dtype=np.int64)[:, None]
    return ((x * 7 + y * 13) % 251).astype(np.uint8)


class TestCodec:
    def test_coef_roundtrip_exact(self):
        """The entropy layer is exact: decoded quantized coefficients
        equal the encoder's bit-for-bit (the determinism contract —
        only DCT quantization is lossy)."""
        a = _gradient(80, 96)
        buf = jpeg.jpeg_encode(a, quality=90)
        (got,) = jpeg.jpeg_decode(buf, coefs=True)
        qy, _ = jpeg._quality_tables(90)
        want = jpeg._quantize_plane(
            jpeg._pad8(a.astype(np.float64)), qy
        )
        np.testing.assert_array_equal(got, want)

    def test_gray_pixel_error_bound(self):
        a = _gradient(64, 64)
        out = jpeg.jpeg_decode(jpeg.jpeg_encode(a, quality=90))
        assert out.shape == a.shape
        err = np.abs(out.astype(int) - a.astype(int))
        assert err.max() <= 16 and err.mean() < 2.0

    def test_quality_100_smooth_is_lossless(self):
        x = np.arange(48)[None, :]
        y = np.arange(40)[:, None]
        a = (((x + y) // 2) % 256).astype(np.uint8)
        out = jpeg.jpeg_decode(jpeg.jpeg_encode(a, quality=100))
        np.testing.assert_array_equal(out, a)

    def test_rgb_roundtrip(self):
        g = _gradient(40, 56)
        rgb = np.stack([g, g[::-1], g // 2], axis=-1)
        out = jpeg.jpeg_decode(jpeg.jpeg_encode(rgb, quality=95))
        assert out.shape == rgb.shape
        assert np.abs(out.astype(int) - rgb.astype(int)).max() <= 24

    def test_non_multiple_of_8_dims(self):
        rng = np.random.default_rng(3)
        a = rng.integers(0, 256, size=(37, 23), dtype=np.uint8)
        out = jpeg.jpeg_decode(jpeg.jpeg_encode(a, quality=85))
        assert out.shape == (37, 23)

    def test_deterministic_bytes(self):
        a = _gradient(64, 64)
        assert jpeg.jpeg_encode(a, 80) == jpeg.jpeg_encode(a.copy(), 80)

    def test_marker_structure(self):
        buf = jpeg.jpeg_encode(_gradient(16, 16), quality=90)
        assert buf[:2] == b"\xff\xd8" and buf[-2:] == b"\xff\xd9"
        assert buf[2:4] == b"\xff\xe0" and buf[6:11] == b"JFIF\x00"
        # SOF0 present with our dims, 8-bit, 1 component, no subsample
        i = buf.index(b"\xff\xc0")
        _ln, prec, h, w, nc = struct.unpack(">HBHHB", buf[i + 2 : i + 10])
        assert (prec, h, w, nc) == (8, 16, 16, 1)
        assert buf[i + 11] == 0x11

    def test_quality_monotone_size(self):
        rng = np.random.default_rng(9)
        a = rng.integers(0, 256, size=(64, 64), dtype=np.uint8)
        sizes = [len(jpeg.jpeg_encode(a, q)) for q in (25, 50, 75, 95)]
        assert sizes == sorted(sizes)

    def test_rejects_bad_input(self):
        with pytest.raises(ValueError):
            jpeg.jpeg_encode(np.zeros((4, 4), dtype=np.int32))
        with pytest.raises(ValueError):
            jpeg.jpeg_decode(b"not a jpeg")

    def test_bit_stuffing_roundtrip(self):
        # all-255 blocks push large DC values -> 0xFF bytes in the
        # entropy stream exercise the stuffing path
        a = np.full((24, 24), 255, dtype=np.uint8)
        out = jpeg.jpeg_decode(jpeg.jpeg_encode(a, quality=50))
        assert np.abs(out.astype(int) - 255).max() <= 4


class TestSink:
    def test_write_tiles_jpeg(self, spark, tmp_path, tree_sha256):
        from gdal_spark.operators.tiling import formula_tiles

        tiles = formula_tiles(spark, 2, 2, 32)
        out = jpeg.write_tiles_jpeg(
            tiles, str(tmp_path), quality=90
        ).collect()
        assert len(out) == 4
        assert tree_sha256(str(tmp_path)) == (
            "b96395c0533814c8186e214b05b8acc52d83b774d0990c83d8da709ef74bb13c"
        )
        for r in out:
            assert os.path.getsize(r.path) == r.n_bytes
            dec = jpeg.jpeg_decode(open(r.path, "rb").read())
            assert dec.shape == (32, 32)

    def test_tms_flip(self, spark, tmp_path, tree_sha256):
        from pyspark.sql import functions as F

        from gdal_spark.operators.tiling import formula_tiles

        tiles = formula_tiles(spark, 1, 1, 16).withColumn("z", F.lit(2))
        rows = jpeg.write_tiles_jpeg(
            tiles, str(tmp_path), scheme="tms"
        ).collect()
        assert rows[0].path.endswith(os.path.join("2", "0", "3.jpg"))
        assert tree_sha256(str(tmp_path)) == (
            "cfe3c16e5084a40a61f26483165fc19d8c9ae3b6eb5880bbc26760c4cde0333c"
        )

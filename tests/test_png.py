"""PNG codec + tile sink (gdal2tiles PNG output analog,
swig/python/gdal-utils/osgeo_utils/gdal2tiles.py; frmts/png)."""

import os
import struct
import zlib

import numpy as np
import pytest

from gdal_spark import png


class TestCodec:
    def test_roundtrip_gray(self):
        rng = np.random.default_rng(5)
        a = rng.integers(0, 256, size=(37, 23), dtype=np.uint8)
        np.testing.assert_array_equal(png.png_decode(png.png_encode(a)), a)

    def test_roundtrip_rgb_rgba(self):
        rng = np.random.default_rng(6)
        for ch in (3, 4):
            a = rng.integers(0, 256, size=(16, 9, ch), dtype=np.uint8)
            np.testing.assert_array_equal(
                png.png_decode(png.png_encode(a)), a
            )

    def test_deterministic_bytes(self):
        a = (np.arange(64 * 64, dtype=np.int64) % 251).astype(
            np.uint8
        ).reshape(64, 64)
        assert png.png_encode(a) == png.png_encode(a.copy())

    def test_wellformed_chunks(self):
        a = np.zeros((8, 8), dtype=np.uint8)
        buf = png.png_encode(a)
        assert buf[:8] == b"\x89PNG\r\n\x1a\n"
        # IHDR dims
        w, h, depth, ctype = struct.unpack(">IIBB", buf[16:26])
        assert (w, h, depth, ctype) == (8, 8, 8, 0)
        assert buf.endswith(
            struct.pack(">I", 0) + b"IEND"
            + struct.pack(">I", zlib.crc32(b"IEND") & 0xFFFFFFFF)
        )

    def test_decode_rejects_corruption(self):
        a = np.zeros((4, 4), dtype=np.uint8)
        buf = bytearray(png.png_encode(a))
        buf[30] ^= 0xFF  # inside IHDR payload -> CRC break
        with pytest.raises(ValueError):
            png.png_decode(bytes(buf))

    def test_unfilter_all_filter_types(self):
        # hand-build a 3x4 gray PNG using Sub/Up/Paeth rows and check
        # the decoder reverses them (encoder only emits filter 0, but
        # the decoder must accept any spec-compliant file)
        rows = np.array(
            [[10, 20, 30, 40], [15, 25, 35, 45], [90, 80, 70, 60]],
            dtype=np.uint8,
        )
        raw = bytearray()
        # row 0: Sub
        raw += bytes([1, 10, 10, 10, 10])
        # row 1: Up
        raw += bytes(
            [2] + [int((rows[1, x] - rows[0, x]) % 256) for x in range(4)]
        )
        # row 2: Paeth
        line = []
        for x in range(4):
            left = int(rows[2, x - 1]) if x else 0
            up = int(rows[1, x])
            ul = int(rows[1, x - 1]) if x else 0
            p = left + up - ul
            pa, pb, pc = abs(p - left), abs(p - up), abs(p - ul)
            pred = left if pa <= pb and pa <= pc else up if pb <= pc else ul
            line.append((int(rows[2, x]) - pred) % 256)
        raw += bytes([4] + line)
        ihdr = struct.pack(">IIBBBBB", 4, 3, 8, 0, 0, 0, 0)
        buf = (
            b"\x89PNG\r\n\x1a\n"
            + png._chunk(b"IHDR", ihdr)
            + png._chunk(b"IDAT", zlib.compress(bytes(raw)))
            + png._chunk(b"IEND", b"")
        )
        np.testing.assert_array_equal(png.png_decode(buf), rows)


class TestTileSink:
    def test_write_pyramid_tiles(self, spark, tmp_path, tree_sha256):
        from gdal_spark.operators.tiling import formula_tiles

        tiles = formula_tiles(spark, 2, 2, 64)
        out = str(tmp_path / "tiles")
        manifest = png.write_tiles_png(tiles, out).collect()
        assert len(manifest) == 4
        assert tree_sha256(out) == (
            "25d87547d9099a8245d288ede27bc9ec40be580a48161933f93f9696cb31d000"
        )
        for r in manifest:
            assert r.path.endswith(f"{r.z}/{r.tx}/{r.ty}.png")
            assert os.path.getsize(r.path) == r.n_bytes
        # round-trip one tile against the source formula
        r0 = min(manifest, key=lambda r: (r.tx, r.ty))
        arr = png.png_decode(open(r0.path, "rb").read())
        src = {
            (t.tx, t.ty): np.frombuffer(t.data, dtype=np.uint8).reshape(
                64, 64
            )
            for t in tiles.collect()
        }
        np.testing.assert_array_equal(arr, src[(r0.tx, r0.ty)])

    def test_tms_flips_rows(self, spark, tmp_path, tree_sha256):
        from gdal_spark.operators.tiling import formula_tiles

        tiles = formula_tiles(spark, 2, 2, 16)
        out = str(tmp_path / "tms")
        rows = png.write_tiles_png(tiles, out, scheme="tms").collect()
        assert rows
        assert tree_sha256(out) == (
            "7e688bfcc1ddef3f899c6f44da15dcd75edc217169ab00dde5c3cac1b02551c2"
        )
        for r in rows:
            flipped = (1 << r.z) - 1 - r.ty
            assert os.path.basename(r.path) == f"{flipped}.png"

"""Distributed GDALChecksumImage (alg/gdalchecksum.cpp) tests."""

from gdal_spark import raster
from gdal_spark.operators import stats, tiling


def _checksum_oracle(arr, x_off, y_off, xs, ys):
    """Literal transcription of GDALChecksumImage's scan order."""
    primes = [7, 11, 13, 17, 19, 23, 29, 31, 37, 41, 43]
    cs = 0
    i = 0
    for y in range(y_off, y_off + ys):
        for x in range(x_off, x_off + xs):
            cs += int(arr[y, x]) % primes[i % 11]
            i += 1
        cs &= 0xFFFF
    return cs


def test_checksum_matches_sequential_oracle(spark):
    ts = 64
    tiles = tiling.formula_tiles(spark, 3, 2, ts)
    full = raster.formula_block(0, 0, 3 * ts, 2 * ts)
    got = stats.checksum_image(
        tiles, 0, 0, 3 * ts, 2 * ts, tile_size=ts
    ).collect()[0]["checksum"]
    assert got == _checksum_oracle(full, 0, 0, 3 * ts, 2 * ts)


def test_checksum_sub_window(spark):
    ts = 64
    tiles = tiling.formula_tiles(spark, 3, 2, ts)
    full = raster.formula_block(0, 0, 3 * ts, 2 * ts)
    got = stats.checksum_image(
        tiles, 37, 21, 101, 77, tile_size=ts
    ).collect()[0]["checksum"]
    assert got == _checksum_oracle(full, 37, 21, 101, 77)


def test_checksum_partition_invariant(spark):
    ts = 64
    tiles = tiling.formula_tiles(spark, 2, 2, ts)
    a = stats.checksum_image(
        tiles.repartition(1), 0, 0, 2 * ts, 2 * ts, tile_size=ts
    ).collect()[0]["checksum"]
    b = stats.checksum_image(
        tiles.repartition(16), 0, 0, 2 * ts, 2 * ts, tile_size=ts
    ).collect()[0]["checksum"]
    assert a == b

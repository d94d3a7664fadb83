"""MBTiles 1.3 container sink/source (frmts/mbtiles/mbtilesdataset.cpp
analog). Pins: payload bytes equal the directory sink's bytes for the
same tiles, TMS row flip, spec metadata, pbf gzip wrap, read-back
parity, and granule sharding."""

import gzip
import os
import sqlite3

import numpy as np
import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from gdal_spark import mbtiles
from gdal_spark.png import png_encode


def _tiles_df(spark, zs=(1, 2), ts=32, seed=4):
    rng = np.random.default_rng(seed)
    rows = []
    for z in zs:
        for ty in range(min(2, 1 << z)):
            for tx in range(min(2, 1 << z)):
                a = rng.integers(0, 255, (ts, ts), dtype=np.uint8)
                rows.append(
                    Row(z=z, tx=tx, ty=ty, w=ts, h=ts,
                        data=bytes(a.tobytes()))
                )
    return spark.createDataFrame(rows)


def test_png_container_matches_directory_sink_bytes(spark, tmp_path):
    df = _tiles_df(spark)
    out = str(tmp_path / "t.mbtiles")
    man = mbtiles.write_mbtiles(df, out, format="png").collect()
    assert len(man) == 1 and man[0].n_tiles == 8
    assert man[0].minzoom == 1 and man[0].maxzoom == 2

    con = sqlite3.connect(out)
    stored = {
        (z, x, y): bytes(d)
        for z, x, y, d in con.execute(
            "SELECT zoom_level, tile_column, tile_row, tile_data "
            "FROM tiles"
        )
    }
    con.close()
    for r in df.collect():
        a = np.frombuffer(r.data, np.uint8).reshape(r.h, r.w)
        tms_row = (1 << r.z) - 1 - r.ty  # spec: tile_row is TMS
        assert stored[(r.z, r.tx, tms_row)] == png_encode(a)


def test_metadata_table_spec_fields(spark, tmp_path):
    out = str(tmp_path / "m.mbtiles")
    mbtiles.write_mbtiles(
        _tiles_df(spark), out, format="png", name="demo",
        metadata={"attribution": "synthetic"},
    ).collect()
    meta = mbtiles.mbtiles_metadata(out)
    assert meta["name"] == "demo" and meta["format"] == "png"
    assert meta["minzoom"] == "1" and meta["maxzoom"] == "2"
    assert meta["attribution"] == "synthetic"
    w, s, e, n = map(float, meta["bounds"].split(","))
    assert -180.0 <= w < e <= 180.0 and -86.0 <= s < n <= 86.0
    # z=2 tiles 0..1 cover the west half up from the equator? no:
    # ty(xyz) 0..1 of 4 = north half; check the actual window
    assert w == pytest.approx(-180.0) and e == pytest.approx(0.0)
    assert n == pytest.approx(85.0511287798066)
    # unique index required by spec
    con = sqlite3.connect(out)
    idx = [r[1] for r in con.execute("PRAGMA index_list(tiles)")]
    con.close()
    assert "tile_index" in idx


def test_pbf_payloads_are_gzipped(spark, tmp_path):
    payload = b"\x1a\x03xyz-fake-mvt"
    df = spark.createDataFrame(
        [Row(z=0, tx=0, ty=0, data=payload)]
    )
    out = str(tmp_path / "v.mbtiles")
    mbtiles.write_mbtiles(df, out, format="pbf").collect()
    con = sqlite3.connect(out)
    (blob,) = con.execute("SELECT tile_data FROM tiles").fetchone()
    con.close()
    assert bytes(blob)[:2] == b"\x1f\x8b"  # gzip magic, per spec
    assert gzip.decompress(bytes(blob)) == payload
    # reader un-gzips back to the encoder's bytes
    back = mbtiles.read_mbtiles(spark, out).collect()
    assert back[0].data == payload and back[0].ty == 0


def test_read_back_parity_and_xyz_flip(spark, tmp_path):
    df = _tiles_df(spark, zs=(3,), seed=8)
    out = str(tmp_path / "r.mbtiles")
    mbtiles.write_mbtiles(df, out, format="png").collect()
    back = {
        (r.z, r.tx, r.ty): r.data
        for r in mbtiles.read_mbtiles(spark, out, partitions=3)
        .collect()
    }
    src = {(r.z, r.tx, r.ty): r for r in df.collect()}
    assert back.keys() == src.keys()
    for k, blob in back.items():
        a = np.frombuffer(src[k].data, np.uint8).reshape(32, 32)
        assert bytes(blob) == png_encode(a)


def test_group_col_shards(spark, tmp_path):
    df = _tiles_df(spark)  # zooms 1 and 2
    out = str(tmp_path / "shards")
    man = mbtiles.write_mbtiles(
        df, out, format="png", group_col="z"
    ).collect()
    assert len(man) == 2
    files = sorted(os.listdir(out))
    assert files == ["part-00001.mbtiles", "part-00002.mbtiles"]
    for m in man:
        meta = mbtiles.mbtiles_metadata(m.path)
        assert meta["minzoom"] == meta["maxzoom"]



def test_group_col_must_be_integral(spark, tmp_path):
    # a string key used to cast to NULL, merge every row into one
    # granule and then fail with a TypeError
    df = _tiles_df(spark).withColumn("zs", F.col("z").cast("string"))
    with pytest.raises(ValueError, match="'zs'.*integral.*string"):
        mbtiles.write_mbtiles(df, str(tmp_path / "s"), group_col="zs")
    assert not os.path.exists(tmp_path / "s")

def test_deterministic_rerun_bytes(spark, tmp_path):
    df = _tiles_df(spark)
    p1, p2 = str(tmp_path / "a.mbtiles"), str(tmp_path / "b.mbtiles")
    m1 = mbtiles.write_mbtiles(df, p1).collect()[0]
    m2 = mbtiles.write_mbtiles(df, p2).collect()[0]
    assert m1.md5 == m2.md5

"""FlatGeobuf source/sink: flatbuffer codec round trips, packed
Hilbert R-tree exactness, ranged==file parity, granule sink."""

import os

import numpy as np
import pandas as pd
import pytest

from gdal_spark import fgb, wkb


def rect(x0, y0, x1, y1):
    return np.array(
        [[x0, y0], [x1, y0], [x1, y1], [x0, y1], [x0, y0]], float
    )


def _mixed_pdf():
    return pd.DataFrame({
        "name": ["a", "b", None, "d", "e", "f"],
        "val": [1, 2, 3, 4, 5, 6],
        "w": [1.5, 2.5, np.nan, 4.5, 5.5, 6.5],
        "flag": [True, False, True, False, True, False],
        "blob": [b"\x00\x01", b"", None, b"xyz", b"\xff", b"q"],
        "geometry": [
            wkb.point(1, 2),
            wkb.linestring([[0, 0], [5, 5], [10, 0]]),
            wkb.polygon([rect(0, 0, 10, 10), rect(4, 4, 6, 6)]),
            wkb.multipolygon(
                [[rect(0, 0, 2, 2)],
                 [rect(5, 5, 7, 7), rect(5.5, 5.5, 6, 6)]]
            ),
            wkb.multipoint([[1, 1], [2, 2]]),
            wkb.multilinestring(
                [np.array([[0, 0], [1, 1.0]]),
                 np.array([[2, 2], [3, 3.0]])]
            ),
        ],
    })


def test_codec_round_trip_all_types():
    pdf = _mixed_pdf()
    out = fgb.fgb_decode(fgb.fgb_encode(pdf))
    src_geo = {v: bytes(g) for v, g in zip(pdf["val"], pdf["geometry"])}
    src = pdf.set_index("val")
    assert sorted(out["val"]) == [1, 2, 3, 4, 5, 6]
    for _, r in out.iterrows():
        assert bytes(r["geometry"]) == src_geo[r["val"]]
        want_name = src.loc[r["val"], "name"]
        assert (r["name"] is None and want_name is None) or (
            r["name"] == want_name
        )
        assert r["flag"] == bool(src.loc[r["val"], "flag"])
        want_blob = src.loc[r["val"], "blob"]
        got_blob = r["blob"]
        assert (got_blob is None and want_blob is None) or (
            bytes(got_blob) == bytes(want_blob)
        )


def test_null_geometry_round_trip():
    pdf = pd.DataFrame({
        "val": [1, 2],
        "geometry": [None, wkb.point(3, 4)],
    })
    # indexed write refuses NULL geometry (the reference writer's
    # ICreateFeature behavior); unindexed round-trips it
    with pytest.raises(ValueError, match="null geometry"):
        fgb.fgb_encode(pdf)
    out = fgb.fgb_decode(fgb.fgb_encode(pdf, index=False))
    by = {r["val"]: r["geometry"] for _, r in out.iterrows()}
    assert by[1] is None
    assert bytes(by[2]) == wkb.point(3, 4)


def test_header_fields():
    pdf = _mixed_pdf()
    blob = fgb.fgb_encode(pdf, name="mylayer", node_size=4)
    cols, n, node_size, idx_start, feat_start, env = fgb._header_info(
        blob
    )
    assert n == 6 and node_size == 4
    assert [c for c, _ in cols] == ["name", "val", "w", "flag", "blob"]
    # envelope spans all finite geometry bboxes
    assert env[0] == 0.0 and env[1] == 0.0
    assert env[2] == 10.0 and env[3] == 10.0
    h = fgb._root(blob, 12)
    assert h.string(0) == "mylayer"
    assert h.scalar(2, "B", 0) == 0  # mixed geometry types → Unknown


def test_hilbert_curve_properties():
    # bijection on a small grid + unit-step adjacency (the defining
    # property of the curve)
    n = 64
    xs, ys = np.meshgrid(np.arange(n), np.arange(n))
    d = fgb.hilbert_d(xs.ravel(), ys.ravel(), n)
    assert sorted(d.tolist()) == list(range(n * n))
    order = np.argsort(d)
    px, py = xs.ravel()[order], ys.ravel()[order]
    steps = np.abs(np.diff(px)) + np.abs(np.diff(py))
    assert (steps == 1).all()


def test_rtree_search_equals_bruteforce():
    rng = np.random.default_rng(11)
    n = 777
    x0 = rng.uniform(0, 900, n)
    y0 = rng.uniform(0, 900, n)
    boxes = np.column_stack(
        [x0, y0, x0 + rng.uniform(1, 40, n), y0 + rng.uniform(1, 40, n)]
    )
    order = fgb._hilbert_order(boxes)
    sboxes = boxes[order]
    offsets = np.arange(n) * 100
    idx = fgb.build_rtree(sboxes, offsets, node_size=8)
    for bbox in [(0, 0, 1000, 1000), (100, 100, 200, 220),
                 (500.5, 0, 501, 900), (2000, 2000, 3000, 3000)]:
        got = set(fgb.rtree_search(idx, n, 8, bbox).tolist())
        bx0, by0, bx1, by1 = bbox
        hit = ~(
            (sboxes[:, 2] < bx0) | (sboxes[:, 0] > bx1)
            | (sboxes[:, 3] < by0) | (sboxes[:, 1] > by1)
        )
        want = set((np.arange(n)[hit] * 100).tolist())
        assert got == want


def test_read_fgb_ranged_equals_full(spark, tmp_path):
    rng = np.random.default_rng(5)
    n = 2000
    xs = rng.uniform(0, 1000, n)
    ys = rng.uniform(0, 1000, n)
    pdf = pd.DataFrame({
        "gid": np.arange(n),
        "score": rng.uniform(0, 1, n),
        "geometry": [
            wkb.point(float(x), float(y)) for x, y in zip(xs, ys)
        ],
    })
    p = str(tmp_path / "pts.fgb")
    open(p, "wb").write(fgb.fgb_encode(pdf))

    def key(df):
        return sorted(
            zip(df["gid"], df["fid"], df["score"],
                [bytes(g) for g in df["geometry"]])
        )

    full = fgb.read_fgb(spark, p).toPandas()
    ranged = fgb.read_fgb(spark, p, records_per_task=333).toPandas()
    assert len(full) == n
    assert key(full) == key(ranged)

    # bbox-pruned scan: exact for points (leaf box == the point)
    bbox = (100, 100, 300, 250)
    hit = fgb.read_fgb(spark, p, bbox=bbox).toPandas()
    inb = (xs >= 100) & (xs <= 300) & (ys >= 100) & (ys <= 250)
    assert set(hit["gid"]) == set(np.arange(n)[inb])


def test_read_fgb_no_index_framing_walk(spark, tmp_path):
    pdf = _mixed_pdf()
    p = str(tmp_path / "noidx.fgb")
    open(p, "wb").write(fgb.fgb_encode(pdf, index=False))
    out = fgb.read_fgb(spark, p).toPandas()
    assert sorted(out["val"]) == [1, 2, 3, 4, 5, 6]
    src_geo = {v: bytes(g) for v, g in zip(pdf["val"], pdf["geometry"])}
    for _, r in out.iterrows():
        assert bytes(r["geometry"]) == src_geo[r["val"]]


def test_write_fgb_dir_round_trip(spark, tmp_path):
    rng = np.random.default_rng(7)
    n = 400
    pdf = pd.DataFrame({
        "gid": np.arange(n),
        "geometry": [
            wkb.point(float(x), float(y))
            for x, y in rng.uniform(0, 100, (n, 2))
        ],
    })
    src = spark.createDataFrame(pdf).repartition(4)
    out_dir = str(tmp_path / "sink")
    manifest = fgb.write_fgb_dir(src, out_dir).toPandas()
    assert manifest["n_rows"].sum() == n
    got = pd.concat(
        [
            fgb.read_fgb(spark, p).toPandas()
            for p in sorted(manifest["path"])
        ],
        ignore_index=True,
    )
    assert sorted(got["gid"]) == list(range(n))
    src_geo = {g: bytes(w) for g, w in zip(pdf["gid"], pdf["geometry"])}
    for _, r in got.iterrows():
        assert bytes(r["geometry"]) == src_geo[r["gid"]]


def test_flatbuffer_defaults_and_absent_fields():
    """Reader returns declared defaults for absent slots (flatbuffers
    vtable contract)."""
    fb = fgb._FBuilder()
    t = fb.table({2: ("scalar", "B", 3)})
    buf = fb.finish(t, size_prefixed=False)
    tbl = fgb._root(buf, 0)
    assert tbl.scalar(2, "B", 0) == 3
    assert tbl.scalar(8, "Q", 42) == 42      # beyond vtable
    assert tbl.scalar(1, "B", 7) == 7        # absent slot
    assert tbl.table(0) is None
    assert tbl.vector(5) is None


def test_sink_stays_granule_parallel(spark, tmp_path):
    """Regression pin for the AQE-coalesce trap: a multi-partition
    input must produce MULTIPLE granules (a bare repartition("__pid")
    used to let AQE collapse the sink into one task)."""
    rng = np.random.default_rng(9)
    pdf = pd.DataFrame({
        "gid": np.arange(800),
        "geometry": [
            wkb.point(float(x), float(y))
            for x, y in rng.uniform(0, 100, (800, 2))
        ],
    })
    src = spark.createDataFrame(pdf).repartition(8)
    manifest = fgb.write_fgb_dir(
        src, str(tmp_path / "par")
    ).toPandas()
    assert manifest["n_rows"].sum() == 800
    assert len(manifest) >= 2


def test_write_fgb_dir_one_file_per_partition(
    spark, tmp_path, check_granule_sink
):
    """The sink writes each partition of its input as it stands: no
    shuffle, and no job before the caller's action."""
    pdf = pd.DataFrame({
        "gid": np.arange(300),
        "geometry": [wkb.point(float(i % 17), float(i % 13)) for i in range(300)],
    })
    src = spark.createDataFrame(pdf).repartition(4, "gid")
    rows = check_granule_sink(
        src, lambda s: fgb.write_fgb_dir(s, str(tmp_path / "sink")), "fgb"
    )
    back = pd.concat(
        [fgb.read_fgb(spark, r.path).toPandas() for r in rows],
        ignore_index=True,
    )
    assert sorted(back["gid"]) == list(range(300))


def test_bbox_without_index_matches_indexed_semantics(spark, tmp_path):
    """bbox pruning must not depend on index presence: an unindexed
    file applies the same envelope filter post-decode (the old code
    silently returned everything)."""
    rng = np.random.default_rng(13)
    n = 400
    xs = rng.uniform(0, 1000, n)
    ys = rng.uniform(0, 1000, n)
    pdf = pd.DataFrame({
        "gid": np.arange(n),
        "geometry": [
            wkb.point(float(x), float(y)) for x, y in zip(xs, ys)
        ],
    })
    bbox = (200, 100, 500, 400)
    want = set(np.arange(n)[
        (xs >= 200) & (xs <= 500) & (ys >= 100) & (ys <= 400)
    ])
    for index in (True, False):
        p = str(tmp_path / f"i{index}.fgb")
        open(p, "wb").write(fgb.fgb_encode(pdf, index=index))
        hit = fgb.read_fgb(spark, p, bbox=bbox).toPandas()
        assert set(hit["gid"]) == want, f"index={index}"


def test_nonfinite_coords_with_index_rejected():
    pdf = pd.DataFrame({
        "gid": [1, 2],
        "geometry": [wkb.point(float("nan"), 2.0), wkb.point(3, 4)],
    })
    with pytest.raises(ValueError, match="non-finite"):
        fgb.fgb_encode(pdf)
    out = fgb.fgb_decode(fgb.fgb_encode(pdf, index=False))
    assert len(out) == 2

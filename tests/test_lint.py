"""Static lints promised by SURVEY.md §7.3: the engine must never use
per-row Python on the hot path — Arrow-batched pandas UDFs only — and
never drop to RDDs."""

import ast
import pathlib
import re

SRC = pathlib.Path(__file__).resolve().parent.parent / "gdal_spark"


def _sources():
    return list(SRC.rglob("*.py"))


def test_no_rdd_usage():
    """No RDD DATA paths (the DataFrame API is the engine contract).
    `.rdd.getNumPartitions()` is exempt: plan metadata only — the
    granule sinks pin their repartition width with it so AQE can't
    coalesce the shuffle into one task."""
    offenders = []
    for p in _sources():
        for i, line in enumerate(p.read_text().splitlines(), 1):
            if (
                re.search(r"\.rdd\b", line)
                and "sparkContext" not in line
                and ".rdd.getNumPartitions()" not in line
            ):
                offenders.append(f"{p.name}:{i}")
    assert not offenders, offenders


def test_no_row_at_a_time_udfs():
    """Only pandas_udf / mapInPandas / applyInPandas are allowed;
    `F.udf(` registers a per-row Python UDF (the 10-100x slow path)."""
    offenders = []
    for p in _sources():
        txt = p.read_text()
        for i, line in enumerate(txt.splitlines(), 1):
            if re.search(r"\bF\.udf\(|\budf\(lambda", line):
                offenders.append(f"{p.name}:{i}")
    assert not offenders, offenders


def test_iterrows_only_on_tile_cardinality():
    """`iterrows` is legal ONLY for per-tile loops (a batch holds a
    handful of tiles); per-POINT or per-PIXEL row loops must be
    vectorized. Files allowed to iterate rows are the tile/geometry
    operators whose row unit is a tile/polygon, plus driver-side
    fixture builders."""
    allowed = {
        "tiling.py",        # row = tile
        "layer_algebra.py", # row = polygon
        "multimodal.py",    # row = media blob
        "raster.py",        # kernels (no iterrows expected, guard)
        "compat.py",
        "knn.py",           # driver-side probe loop over the SMALL
                            # broadcast query set (scale path
                            # knn_join_df has no row loop)
        "dem.py",           # row = tile (focal kernels)
        "png.py",           # row = tile (encode+write per tile)
        "jpeg.py",          # row = tile (encode+write per tile)
        "grid.py",          # row = TRIANGLE in the bucket fill loop
                            # (pixels inside are vectorized numpy)
        "fillnodata.py",    # row = tile (quadrant-IDW fill per tile)
        "stats.py",         # row = tile (bincount partials per tile)
        "gtiff.py",         # row = raster BLOCK (seek+decode per
                            # block in the ranged COG scan)
        "pixfn.py",         # row = tile (band assembly per tile key)
        "pansharpen.py",    # row = pan tile (upsample+combine per tile)
        "mbtiles.py",       # row = tile (encode / sqlite insert / ranged
                            # rowid scan — one iteration per tile blob)
        "pmtiles.py",       # row = tile (archive encode per granule)
    }
    offenders = []
    for p in _sources():
        if p.name in allowed:
            continue
        for i, line in enumerate(p.read_text().splitlines(), 1):
            if "iterrows" in line or "itertuples" in line:
                offenders.append(f"{p.name}:{i}")
    assert not offenders, offenders


def test_no_assert_in_engine():
    """Engine code validates input with exceptions, never `assert`:
    `python -O` strips asserts, so the check would silently vanish."""
    offenders = [
        f"{p.name}:{node.lineno}"
        for p in _sources()
        for node in ast.walk(ast.parse(p.read_text()))
        if isinstance(node, ast.Assert)
    ]
    assert not offenders, offenders

"""OGR-SQL dialect quirks, mirroring the reference's own test corpus
(SURVEY.md §5: autotest/ogr/ogr_join_test.py, ogr_sql_test.py).

Each test names the reference case whose semantics it pins.
"""

import pandas as pd
import pytest
from pyspark.sql import functions as F

from gdal_spark import geometry, testdata, wkb
from gdal_spark.operators import compat


@pytest.fixture(scope="module")
def poly_idlink(spark):
    """The shape of autotest/ogr's poly/idlink fixtures: 10 primary
    rows; secondary has 0-3 matches per key."""
    poly = spark.createDataFrame(
        pd.DataFrame(
            {"fid": range(10), "eas_id": [168, 179, 171, 173, 172,
                                          169, 166, 158, 165, 170]}
        )
    )
    rows = []
    sec_fid = 0
    for eas in [168, 168, 168, 179, 171, 173, 166, 158, 165]:
        rows.append({"sfid": sec_fid, "eas_id2": eas, "name": f"n{sec_fid}"})
        sec_fid += 1
    idlink = spark.createDataFrame(pd.DataFrame(rows))
    return poly, idlink


def test_join_is_first_match_one_row_per_primary(spark, poly_idlink):
    """test_ogr_join_1 (autotest/ogr/ogr_join_test.py:40-55): LEFT
    JOIN returns exactly one row per primary feature, even with
    multiple secondary matches; unmatched primaries get NULLs."""
    poly, idlink = poly_idlink
    out = compat.first_match_left_join(
        poly, idlink,
        F.col("eas_id") == F.col("eas_id2"),
        secondary_fid="sfid", primary_fid="fid",
    ).collect()
    assert len(out) == 10  # one per primary — never 1:N fanout
    by_eas = {r["eas_id"]: r for r in out}
    # eas 168 has 3 secondary matches → the FIRST (lowest sfid) wins
    assert by_eas[168]["name"] == "n0"
    # unmatched keys (169, 170, 172) → NULL secondary fields
    for eas in (169, 170, 172):
        assert by_eas[eas]["name"] is None


def test_like_is_case_insensitive_by_default(spark):
    """ogr_sql_test LIKE cases: OGR LIKE behaves as ILIKE on UTF-8
    layers (ogr/swq_op_general.cpp:41 swq_test_like)."""
    df = spark.createDataFrame(
        pd.DataFrame({"s": ["Hello World", "HELLO", "help", "yellow"]})
    )
    got = sorted(
        r["s"] for r in df.filter(compat.ogr_like(F.col("s"), "hel%")).collect()
    )
    assert got == ["HELLO", "Hello World", "help"]
    # ESCAPE clause
    df2 = spark.createDataFrame(pd.DataFrame({"s": ["10% off", "100 off"]}))
    got2 = [
        r["s"]
        for r in df2.filter(
            compat.ogr_like(F.col("s"), "10!% off", escape="!")
        ).collect()
    ]
    assert got2 == ["10% off"]


def test_ogr_geom_area_special_field(spark):
    """OGR_GEOM_AREA special field (ogr/ogrfeaturequery.cpp:37):
    usable in expressions; area = outer minus holes."""
    pdf = testdata.polygons_pdf(10)[["poly_id", "geom_wkb"]]
    df = spark.createDataFrame(pdf)
    got = {
        r["poly_id"]: r["a"]
        for r in df.select(
            "poly_id", compat.geom_area(F.col("geom_wkb")).alias("a")
        ).collect()
    }
    for pid, buf in zip(pdf["poly_id"], pdf["geom_wkb"]):
        parts = wkb.polygon_rings(bytes(buf))
        want = sum(geometry.polygon_area(p) for p in parts)
        assert got[pid] == pytest.approx(want, rel=1e-12)
    # the holed fixture polygon (poly_id=1) is smaller than its outer ring
    outer_only = abs(
        geometry.ring_area(wkb.polygon_rings(bytes(pdf["geom_wkb"][1]))[0][0])
    )
    assert got[1] < outer_only


def test_hstore_get_value_missing_key_is_null(spark):
    """OGRHStoreGetValue (swq_op_general.cpp:215): missing key → NULL."""
    df = spark.createDataFrame(pd.DataFrame({"h": ["a=>1,b=>2", "x=>9"]}))
    rows = df.select(
        compat.hstore_get_value(F.col("h"), "a").alias("a"),
        compat.hstore_get_value(F.col("h"), "zz").alias("zz"),
    ).collect()
    assert rows[0]["a"] == "1" and rows[0]["zz"] is None
    assert rows[1]["a"] is None

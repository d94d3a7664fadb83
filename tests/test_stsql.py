"""ST functions through SQL strings: registry parity with the
DataFrame kernels, plus the OGR SQL dialect front-end routing
st_* calls to the registered UDFs."""

import numpy as np
import pandas as pd
import pytest

from gdal_spark import geometry, stsql, wkb


def rect(x0, y0, x1, y1):
    return np.array(
        [[x0, y0], [x1, y0], [x1, y1], [x0, y1], [x0, y0]],
        dtype=np.float64,
    )


@pytest.fixture(scope="module")
def st(spark):
    stsql.register_st_functions(spark)
    pdf = pd.DataFrame(
        {
            "gid": [0, 1, 2],
            "g": [
                wkb.polygon([rect(0, 0, 4, 3)]),
                wkb.polygon([rect(2, 1, 8, 5)]),
                # donut: area = 24 - 1
                wkb.polygon([rect(10, 10, 16, 14), rect(12, 11, 13, 12)]),
            ],
        }
    )
    spark.createDataFrame(pdf).createOrReplaceTempView("geoms")
    return spark


def test_area_length_centroid_with_holes(st):
    rows = {
        r.gid: r
        for r in st.sql(
            "SELECT gid, st_area(g) a, st_length(g) l, "
            "st_centroid_x(g) cx, st_centroid_y(g) cy FROM geoms"
        ).collect()
    }
    assert rows[0].a == 12.0 and rows[0].l == 14.0
    assert (rows[0].cx, rows[0].cy) == (2.0, 1.5)
    assert rows[2].a == 23.0          # hole subtracted
    assert rows[2].l == 20.0 + 4.0    # outer + hole boundary


def test_predicates_in_sql_join(st):
    got = sorted(
        (r.a, r.b)
        for r in st.sql(
            "SELECT x.gid a, y.gid b FROM geoms x JOIN geoms y "
            "ON st_intersects(x.g, y.g) AND x.gid < y.gid"
        ).collect()
    )
    assert got == [(0, 1)]


def test_buffer_isvalid_makevalid(st):
    r = st.sql(
        "SELECT st_area(st_buffer(g, 2.0)) a, st_isvalid(g) v "
        "FROM geoms WHERE gid = 0"
    ).collect()[0]
    # rect buffer area: A + P*d + corner fans (8 segs/quadrant)
    want = 12.0 + 14.0 * 2.0 + 16.0 * 4.0 * np.sin(np.pi / 16)
    assert r.a == pytest.approx(want, rel=1e-12)
    assert r.v

    # bowtie: invalid; makevalid splits into two triangles, area 2*0.25
    bow = wkb.polygon([np.array(
        [[0, 0], [1, 1], [1, 0], [0, 1], [0, 0]], dtype=np.float64
    )])
    pdf = pd.DataFrame({"gid": [9], "g": [bow]})
    st.createDataFrame(pdf).createOrReplaceTempView("bow")
    r2 = st.sql(
        "SELECT st_isvalid(g) v, st_area(st_makevalid(g)) a FROM bow"
    ).collect()[0]
    assert not r2.v
    assert r2.a == pytest.approx(0.5)


def test_ogr_dialect_routes_st_functions(st):
    """The OGR SQL string front-end compiles st_* calls to the
    registered UDFs — the two-dialect story of the reference."""
    from gdal_spark import ogrsql

    pdf = pd.DataFrame(
        {
            "fid": [1, 2],
            "geom_wkb": [
                wkb.polygon([rect(0, 0, 4, 3)]),
                wkb.polygon([rect(0, 0, 2, 2)]),
            ],
        }
    )
    df = st.createDataFrame(pdf)
    out = ogrsql.execute(
        st,
        "SELECT fid, st_area(geom_wkb) AS a FROM t "
        "WHERE st_area(geom_wkb) > 5 ORDER BY fid",
        {"t": df},
    ).collect()
    assert [(r.fid, r.a) for r in out] == [(1, 12.0)]


def test_text_binary_conversions(st):
    spark = st
    rows = spark.sql(
        "SELECT gid, st_astext(g) AS w, st_asbinary(g) AS b, "
        "st_isempty(g) AS e FROM geoms ORDER BY gid"
    ).collect()
    assert rows[0].w.startswith("POLYGON ((0 0, 4 0, 4 3, 0 3, 0 0))")
    assert not rows[0].e
    # from_wkt round trip through SQL
    back = spark.sql(
        "SELECT st_area(st_geomfromtext(st_astext(g))) AS a, "
        "st_area(g) AS a0 FROM geoms"
    ).collect()
    for r in back:
        assert r.a == pytest.approx(r.a0, abs=1e-9)


def test_constructive_areas_exact(st):
    spark = st
    r = spark.sql(
        "SELECT st_intersection_area(a.g, b.g) AS i, "
        "st_union_area(a.g, b.g) AS u, "
        "st_difference_area(a.g, b.g) AS d, "
        "st_symdifference_area(a.g, b.g) AS s "
        "FROM geoms a JOIN geoms b ON a.gid = 0 AND b.gid = 1"
    ).collect()[0]
    # rect(0,0,4,3) ∩ rect(2,1,8,5) = rect(2,1,4,3) → area 4
    assert r.i == pytest.approx(4.0, abs=1e-9)
    assert r.u == pytest.approx(12.0 + 24.0 - 4.0, abs=1e-9)
    assert r.d == pytest.approx(12.0 - 4.0, abs=1e-9)
    assert r.s == pytest.approx(12.0 + 24.0 - 8.0, abs=1e-9)
    # a donut's hole is excluded from the intersection
    r2 = spark.sql(
        "SELECT st_intersection_area(a.g, b.g) AS i "
        "FROM geoms a JOIN geoms b ON a.gid = 2 AND b.gid = 2"
    ).collect()[0]
    assert r2.i == pytest.approx(23.0, abs=1e-9)


def test_deflate_inflate_round_trip(st):
    spark = st
    rows = spark.sql(
        "SELECT gid, ogr_inflate(ogr_deflate(g)) AS rt, g FROM geoms"
    ).collect()
    for r in rows:
        assert bytes(r.rt) == bytes(r.g)
        comp = spark.sql(
            f"SELECT length(ogr_deflate(g)) < length(g) + 16 AS small "
            f"FROM geoms WHERE gid = {r.gid}"
        ).collect()[0]
        assert comp.small


def test_st_transform_in_sql(st):
    spark = st
    # 4326 → 3857 → 4326 round trip preserves coordinates
    r = spark.sql(
        "SELECT st_astext(st_transform(st_transform("
        "st_geomfromtext('POINT (13.37 52.5)'), "
        "'EPSG:4326', 'EPSG:3857'), 'EPSG:3857', 'EPSG:4326')) AS w"
    ).collect()[0]
    x, y = (
        float(v) for v in r.w.replace("POINT (", "").rstrip(")").split()
    )
    assert x == pytest.approx(13.37, abs=1e-9)
    assert y == pytest.approx(52.5, abs=1e-9)
    # 4326 → UTM 33N: central-meridian point lands on 500 km easting
    r2 = spark.sql(
        "SELECT st_transform(st_geomfromtext('POINT (15 52)'), "
        "'EPSG:4326', 'EPSG:32633') AS g"
    ).collect()[0]
    from gdal_spark import wkb as _wkb

    _, (e, n) = _wkb.parse(bytes(r2.g))
    assert e == pytest.approx(500000.0, abs=1e-6)
    assert 5_700_000 < n < 5_800_000



def test_st_transform_multilinestring_round_trip(st):
    lines = [
        np.array([[13.0, 52.0], [13.5, 52.25], [14.0, 52.5]]),
        np.array([[-70.25, -33.5], [-70.0, -33.0]]),
    ]
    pdf = pd.DataFrame({"g": [wkb.multilinestring(lines)]})
    st.createDataFrame(pdf).createOrReplaceTempView("mls")
    r = st.sql(
        "SELECT st_transform(g, 'EPSG:4326', 'EPSG:3857') AS m, "
        "st_transform(st_transform(g, 'EPSG:4326', 'EPSG:3857'), "
        "'EPSG:3857', 'EPSG:4326') AS g FROM mls"
    ).collect()[0]
    mtype, merc = wkb.parse(bytes(r.m))
    assert mtype == wkb.MULTILINESTRING
    assert merc[0][0, 0] == pytest.approx(13.0 * 20037508.342789244 / 180)
    gtype, back = wkb.parse(bytes(r.g))
    assert gtype == wkb.MULTILINESTRING
    assert len(back) == len(lines)
    for got, want in zip(back, lines):
        np.testing.assert_allclose(got, want, rtol=0, atol=1e-9)

def test_st_distance(st):
    spark = st
    # disjoint rects: rect(0,0,4,3) gid0 and donut at (10,10,16,14)
    # gid2 — min distance is corner (4,3) to corner (10,10)
    r = spark.sql(
        "SELECT st_distance(a.g, b.g) AS d "
        "FROM geoms a JOIN geoms b ON a.gid = 0 AND b.gid = 2"
    ).collect()[0]
    assert r.d == pytest.approx(np.hypot(6.0, 7.0), abs=1e-9)
    # overlapping rects → 0
    r2 = spark.sql(
        "SELECT st_distance(a.g, b.g) AS d "
        "FROM geoms a JOIN geoms b ON a.gid = 0 AND b.gid = 1"
    ).collect()[0]
    assert r2.d == 0.0
    # point variants: inside → 0, outside → exact
    r3 = spark.sql(
        "SELECT st_distance(st_geomfromtext('POINT (1 1)'), g) AS din, "
        "st_distance(st_geomfromtext('POINT (-3 0)'), g) AS dout "
        "FROM geoms WHERE gid = 0"
    ).collect()[0]
    assert r3.din == 0.0
    assert r3.dout == pytest.approx(3.0, abs=1e-12)
    # point-point
    r4 = spark.sql(
        "SELECT st_distance(st_geomfromtext('POINT (0 0)'), "
        "st_geomfromtext('POINT (3 4)')) AS d"
    ).collect()[0]
    assert r4.d == pytest.approx(5.0, abs=1e-12)


# ---------------------------------------------------------------------------
# spatial_join_sql: the SQL-string spatial join routed through the
# cell-cover equi-join (no BroadcastNestedLoopJoin ever)
# ---------------------------------------------------------------------------


def _rect(x0, y0, x1, y1):
    return np.array(
        [[x0, y0], [x1, y0], [x1, y1], [x0, y1], [x0, y0]], float
    )


def _sj_tables(spark):
    import pandas as pd

    from gdal_spark import wkb

    a = spark.createDataFrame(pd.DataFrame({
        "a_id": [1, 2, 3, 4],
        "geom_wkb": [
            wkb.polygon([_rect(0, 0, 10, 10)]),
            wkb.polygon([_rect(20, 0, 30, 10)]),
            wkb.polygon([_rect(100, 100, 101, 101)]),
            wkb.polygon([_rect(8, 8, 12, 12)]),
        ],
    }))
    b = spark.createDataFrame(pd.DataFrame({
        "poly_id": [7, 8, 9],
        "geom_wkb": [
            wkb.polygon([_rect(2, 2, 5, 5)]),      # inside a1
            wkb.polygon([_rect(25, 5, 35, 15)]),   # overlaps a2
            wkb.polygon([_rect(10, 10, 11, 11)]),  # touches a1, in a4
        ],
    }))
    return a, b


def test_spatial_join_sql_matches_dataframe_path(spark):
    """SQL string path ≡ DataFrame predicate_pairs_join on the same
    tables, for the join set and each predicate column."""
    from gdal_spark import stsql
    from gdal_spark.operators.layer_algebra import predicate_pairs_join

    a, b = _sj_tables(spark)
    got = stsql.spatial_join_sql(
        spark,
        """SELECT a.a_id AS a_id, b.poly_id AS b_id,
                  st_contains(a.geom_wkb, b.geom_wkb) AS cont,
                  st_within(b.geom_wkb, a.geom_wkb) AS cont_swapped,
                  st_touches(a.geom_wkb, b.geom_wkb) AS tch
           FROM ta a JOIN tb b ON st_intersects(a.geom_wkb, b.geom_wkb)""",
        tables={"ta": a, "tb": b},
        id_cols={"ta": "a_id", "tb": "poly_id"},
    )
    rows = {(r.a_id, r.b_id): r for r in got.collect()}
    ref = {
        (r.a_id, r.poly_id): r
        for r in predicate_pairs_join(a, b, "a_id", "poly_id")
        .filter("st_intersects = 1").collect()
    }
    assert set(rows) == set(ref) and len(rows) > 0
    for k, r in rows.items():
        assert r.cont == ref[k].st_contains
        # st_within(b, a) ≡ st_contains(a, b): direction-aware rewrite
        assert r.cont_swapped == ref[k].st_contains
        assert r.tch == ref[k].st_touches


def test_spatial_join_sql_no_nested_loop_plan(spark):
    """The scale pin: the physical plan contains NO
    BroadcastNestedLoopJoin and NO CartesianProduct — every join is
    an equi-join over the sparse pair table."""
    from gdal_spark import stsql

    a, b = _sj_tables(spark)
    df = stsql.spatial_join_sql(
        spark,
        "SELECT a.a_id AS a_id, b.poly_id AS b_id FROM ta a "
        "JOIN tb b ON st_intersects(a.geom_wkb, b.geom_wkb)",
        tables={"ta": a, "tb": b},
        id_cols={"ta": "a_id", "tb": "poly_id"},
    )
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_spatial_join_sql_where_group_order_pass_through(spark):
    """Clauses around the rewritten JOIN survive: WHERE on an
    attribute, GROUP BY + agg, ORDER BY."""
    from gdal_spark import stsql

    a, b = _sj_tables(spark)
    out = stsql.spatial_join_sql(
        spark,
        """SELECT a.a_id AS a_id, COUNT(*) AS n
           FROM ta a JOIN tb b ON st_intersects(a.geom_wkb, b.geom_wkb)
           WHERE b.poly_id < 9
           GROUP BY a.a_id ORDER BY a_id""",
        tables={"ta": a, "tb": b},
        id_cols={"ta": "a_id", "tb": "poly_id"},
    ).collect()
    assert [(r.a_id, r.n) for r in out] == [(1, 1), (2, 1)]


def test_spatial_join_sql_rejections(spark):
    from gdal_spark import stsql

    a, b = _sj_tables(spark)
    with pytest.raises(ValueError, match="st_disjoint"):
        stsql.spatial_join_sql(
            spark,
            "SELECT a.a_id FROM ta a JOIN tb b "
            "ON st_disjoint(a.geom_wkb, b.geom_wkb)",
            tables={"ta": a, "tb": b},
            id_cols={"ta": "a_id", "tb": "poly_id"},
        )
    with pytest.raises(ValueError, match="pattern"):
        stsql.spatial_join_sql(
            spark, "SELECT 1", tables={}, id_cols={},
        )


def test_spatial_join_sql_other_geometry_column_not_rewritten(spark):
    """A select-list predicate over a DIFFERENT geometry column must
    NOT read the pair table (it was computed from the ON columns) —
    it stays a UDF call over the joined rows."""
    import pandas as pd

    from gdal_spark import stsql, wkb

    stsql.register_st_functions(spark)
    a = spark.createDataFrame(pd.DataFrame({
        "a_id": [1],
        "geom_wkb": [wkb.polygon([_rect(0, 0, 10, 10)])],
        # a second geometry: tiny box far from b's buf_wkb
        "buf_wkb": [wkb.polygon([_rect(90, 90, 91, 91)])],
    }))
    b = spark.createDataFrame(pd.DataFrame({
        "poly_id": [7],
        "geom_wkb": [wkb.polygon([_rect(2, 2, 5, 5)])],
        "buf_wkb": [wkb.polygon([_rect(50, 50, 60, 60)])],
    }))
    out = stsql.spatial_join_sql(
        spark,
        """SELECT a.a_id AS a_id,
                  st_intersects(a.geom_wkb, b.geom_wkb) AS on_cols,
                  CAST(st_intersects(a.buf_wkb, b.buf_wkb) AS BIGINT)
                    AS other_cols
           FROM ta a JOIN tb b ON st_intersects(a.geom_wkb, b.geom_wkb)""",
        tables={"ta": a, "tb": b},
        id_cols={"ta": "a_id", "tb": "poly_id"},
    ).collect()[0]
    assert out.on_cols == 1       # pair-table column (rewritten)
    assert out.other_cols == 0    # UDF over the real buf geometries


def test_spatial_join_sql_string_id_rejected(spark):
    import pandas as pd

    from gdal_spark import stsql, wkb

    a = spark.createDataFrame(pd.DataFrame({
        "code": ["US-CA"],
        "geom_wkb": [wkb.polygon([_rect(0, 0, 1, 1)])],
    }))
    b = spark.createDataFrame(pd.DataFrame({
        "poly_id": [1],
        "geom_wkb": [wkb.polygon([_rect(0, 0, 1, 1)])],
    }))
    with pytest.raises(ValueError, match="integral ids"):
        stsql.spatial_join_sql(
            spark,
            "SELECT a.code FROM ta a JOIN tb b "
            "ON st_intersects(a.geom_wkb, b.geom_wkb)",
            tables={"ta": a, "tb": b},
            id_cols={"ta": "code", "tb": "poly_id"},
        )

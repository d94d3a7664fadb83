"""ST_* functions registered into Spark SQL — the engine's analog of
the reference's SQLite-dialect function registry
(ogr/ogrsf_frmts/sqlite/ogrsqlitesqlfunctions.cpp:876-1054), which
makes ST_Area/ST_Intersects/... callable from a real SQL string
rather than only from the DataFrame API.

``register_st_functions(spark)`` registers every function as an
Arrow-batched pandas UDF over WKB binary columns, wrapping the SAME
numpy kernels the DataFrame operators use (`geometry.py`), so SQL
results are value-identical to the operator results by construction.
After registration the functions work in ``spark.sql(...)`` AND in
the OGR SQL dialect front-end (``ogrsql.execute`` compiles unknown
``st_*`` calls to the registered UDFs).

Scale notes: each UDF is a per-row geometry kernel behind Arrow
transfer — the right tool for SELECT-list evaluation and ad-hoc SQL.
Joins ON st_intersects(...) evaluated this way are nested-loop; for
large joins use the cell-cover operators (`spatial_join`,
`intersection_join`, `predicate_pairs_join`), exactly as the
reference steers big joins away from per-pair SQL functions.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf

from . import geometry, wkb


def _parts(buf) -> list:
    return wkb.polygon_rings(bytes(buf))


def _first_ring(buf) -> np.ndarray:
    return geometry._open_ring(_parts(buf)[0][0])


def _area(buf) -> float:
    return float(
        sum(geometry.polygon_area(rings) for rings in _parts(buf))
    )


def _length(buf) -> float:
    return float(
        sum(
            geometry.ring_perimeter(r)
            for rings in _parts(buf)
            for r in rings
        )
    )


def _centroid(buf) -> tuple[float, float]:
    """Area-weighted centroid over parts, holes subtracted."""
    wsum = 0.0
    cx = cy = 0.0
    for rings in _parts(buf):
        for i, r in enumerate(rings):
            a = abs(geometry.ring_area(r))
            x, y = geometry.ring_centroid(r)
            sgn = 1.0 if i == 0 else -1.0
            wsum += sgn * a
            cx += sgn * a * x
            cy += sgn * a * y
    if wsum == 0.0:
        return float("nan"), float("nan")
    return cx / wsum, cy / wsum


def _pair_pred(name):
    def fn(a, b) -> bool:
        d = geometry.polygon_pair_predicates(
            _first_ring(a), _first_ring(b)
        )
        return bool(d[name])

    return fn


def register_st_functions(spark) -> list[str]:
    """Register the ST function set; returns the registered names.
    Idempotent (re-registration replaces)."""

    def scalar_d(py):
        @pandas_udf("double")
        def u(s: pd.Series) -> pd.Series:
            return s.map(py).astype("float64")

        return u

    def pred(py):
        @pandas_udf("boolean")
        def u(a: pd.Series, b: pd.Series) -> pd.Series:
            return pd.Series(
                [py(x, y) for x, y in zip(a, b)], dtype="bool"
            )

        return u

    names: list[str] = []

    def reg(name, udf):
        spark.udf.register(name, udf)
        names.append(name)

    reg("st_area", scalar_d(_area))
    reg("st_length", scalar_d(_length))
    reg("st_perimeter", scalar_d(_length))
    reg("st_centroid_x", scalar_d(lambda b: _centroid(b)[0]))
    reg("st_centroid_y", scalar_d(lambda b: _centroid(b)[1]))

    for p in geometry._PREDICATES:
        reg(f"st_{p}", pred(_pair_pred(p)))

    @pandas_udf("binary")
    def _buf_udf(g: pd.Series, d: pd.Series) -> pd.Series:
        from .operators.geom_ops import buffer_polygon

        out = []
        for b, dist in zip(g, d):
            pieces, _ = buffer_polygon(bytes(b), float(dist))
            out.append(
                wkb.multipolygon(
                    [[np.vstack([p, p[:1]])] for p in pieces]
                )
            )
        return pd.Series(out)

    reg("st_buffer", _buf_udf)

    @pandas_udf("boolean")
    def _valid_udf(g: pd.Series) -> pd.Series:
        return pd.Series(
            [
                len(geometry.ring_self_intersections(_first_ring(b)))
                == 0
                for b in g
            ],
            dtype="bool",
        )

    reg("st_isvalid", _valid_udf)

    @pandas_udf("binary")
    def _mkvalid_udf(g: pd.Series) -> pd.Series:
        from .operators.geom_ops import make_valid_polygon

        out = []
        for b in g:
            pieces, _ = make_valid_polygon(bytes(b))
            out.append(
                wkb.multipolygon(
                    [[np.vstack([p, p[:1]])] for p in pieces]
                )
            )
        return pd.Series(out)

    reg("st_makevalid", _mkvalid_udf)

    @pandas_udf("long")
    def _npoints_udf(g: pd.Series) -> pd.Series:
        return pd.Series(
            [
                sum(len(r) for rings in _parts(b) for r in rings)
                for b in g
            ],
            dtype="int64",
        )

    reg("st_npoints", _npoints_udf)

    # --- text/binary conversions (ogrsqlitesqlfunctions.cpp:723-808) ---
    @pandas_udf("string")
    def _astext_udf(g: pd.Series) -> pd.Series:
        return pd.Series([wkb.wkt(bytes(b)) for b in g], dtype="object")

    reg("st_astext", _astext_udf)

    @pandas_udf("binary")
    def _asbinary_udf(g: pd.Series) -> pd.Series:
        # geometry at rest IS WKB in this engine — identity, kept for
        # SQL-compat with the reference's spatialite-blob conversion
        return g

    reg("st_asbinary", _asbinary_udf)

    @pandas_udf("binary")
    def _fromtext_udf(s: pd.Series) -> pd.Series:
        return pd.Series(
            [wkb.from_wkt(str(t)) for t in s], dtype="object"
        )

    reg("st_geomfromtext", _fromtext_udf)

    @pandas_udf("boolean")
    def _isempty_udf(g: pd.Series) -> pd.Series:
        def one(b) -> bool:
            if b is None or len(b) == 0:
                return True
            _, payload = wkb.parse(bytes(b))
            return (
                len(payload) == 0
                if isinstance(payload, list)
                else np.asarray(payload).size == 0
            )

        return pd.Series([one(b) for b in g], dtype="bool")

    reg("st_isempty", _isempty_udf)

    # --- constructive-op AREAS (exact; the piece-decomposition
    # kernels of layer_algebra applied per pair). The reference's
    # ST_Intersection/Union return GEOS geometries; this engine's
    # canonical constructive output is the piece table
    # (layer_algebra.intersection_pieces etc.) — in SQL the exact
    # measure is what aggregates need, so these return it directly. ---
    def _pair_areas(a, b) -> tuple[float, float]:
        from .operators.layer_algebra import _decompose_full

        a_simple, _, abb, a_area = _decompose_full(bytes(a))
        _, b_convex, bbb, b_area = _decompose_full(bytes(b))
        inter = 0.0
        if not (
            abb is None or bbb is None
            or abb[2] < bbb[0] or bbb[2] < abb[0]
            or abb[3] < bbb[1] or bbb[3] < abb[1]
        ):
            for sa in a_simple:
                for cb in b_convex:
                    piece = geometry.clip_poly_convex(sa, cb)
                    if len(piece) >= 3:
                        inter += abs(
                            geometry.ring_area(
                                np.vstack([piece, piece[:1]])
                            )
                        )
        return inter, a_area + b_area - inter

    def pair_area(which):
        @pandas_udf("double")
        def u(a: pd.Series, b: pd.Series) -> pd.Series:
            out = []
            for x, y in zip(a, b):
                inter, union = _pair_areas(x, y)
                from_a = abs(
                    sum(
                        geometry.polygon_area(r)
                        for r in wkb.polygon_rings(bytes(x))
                    )
                )
                from_b = union - from_a + inter  # == area(B)
                out.append(
                    {
                        "intersection": inter,
                        "union": union,
                        "difference": from_a - inter,
                        "symdifference": from_a + from_b - 2 * inter,
                    }[which]
                )
            return pd.Series(out, dtype="float64")

        return u

    for which in ("intersection", "union", "difference", "symdifference"):
        reg(f"st_{which}_area", pair_area(which))

    # --- ogr_deflate / ogr_inflate (ogrsqlitesqlfunctions.cpp:127,180) ---
    import zlib

    @pandas_udf("binary")
    def _deflate_udf(b: pd.Series) -> pd.Series:
        return pd.Series(
            [zlib.compress(bytes(x), 6) for x in b], dtype="object"
        )

    reg("ogr_deflate", _deflate_udf)

    @pandas_udf("binary")
    def _inflate_udf(b: pd.Series) -> pd.Series:
        return pd.Series(
            [zlib.decompress(bytes(x)) for x in b], dtype="object"
        )

    reg("ogr_inflate", _inflate_udf)

    # --- st_transform(geom, 'EPSG:a', 'EPSG:b') — the SQLite
    # dialect's Transform() (ogrsqlitesqlfunctions.cpp:61), routed
    # through proj.compose over every ring coordinate ---
    @pandas_udf("binary")
    def _transform_udf(
        g: pd.Series, src: pd.Series, dst: pd.Series
    ) -> pd.Series:
        from .proj import crs_transform

        out = []
        for b, s, d in zip(g, src, dst):
            tf = crs_transform(str(s), str(d))
            gtype, payload = wkb.parse(bytes(b))
            # curve types parse but wkb.build raises ValueError on them
            out.append(wkb.build(gtype, wkb.map_coords(
                gtype, payload,
                lambda a: np.column_stack(tf(a[:, 0], a[:, 1])),
            )))
        return pd.Series(out, dtype="object")

    reg("st_transform", _transform_udf)

    # --- st_distance (OGRGeometry::Distance, ogrgeometry.cpp:3562):
    # min Euclidean distance between two geometries. POINT and
    # (MULTI)POLYGON combos; 0 when the filled regions touch or
    # overlap. For non-intersecting boundaries the min is attained at
    # a vertex of one against an edge of the other, so vertex↔ring
    # sweeps both ways are exact. ---
    def _geom_points(b):
        """All vertices as (N, 2) + whether the geometry is areal."""
        gtype, payload = wkb.parse(bytes(b))
        if gtype not in (wkb.POINT, wkb.POLYGON, wkb.MULTIPOLYGON):
            raise ValueError(
                "st_distance supports POINT and (MULTI)POLYGON"
            )
        return np.vstack(wkb.parts(gtype, payload)), gtype != wkb.POINT

    def _dist_one(a, b) -> float:
        pa, areal_a = _geom_points(a)
        pb, areal_b = _geom_points(b)
        # containment / overlap → 0
        if areal_a and areal_b:
            inter, _ = _pair_areas(a, b)
            if inter > 0.0:
                return 0.0
        if areal_a and not areal_b:
            for rings in wkb.polygon_rings(bytes(a)):
                if geometry.points_in_polygon(
                    pb[:, 0], pb[:, 1], rings, boundary_is_inside=True
                ).any():
                    return 0.0
        if areal_b and not areal_a:
            for rings in wkb.polygon_rings(bytes(b)):
                if geometry.points_in_polygon(
                    pa[:, 0], pa[:, 1], rings, boundary_is_inside=True
                ).any():
                    return 0.0
        # boundary min distance: vertices of one vs rings of the other
        best = np.inf
        rb = (
            [r for p in wkb.polygon_rings(bytes(b)) for r in p]
            if areal_b
            else []
        )
        ra = (
            [r for p in wkb.polygon_rings(bytes(a)) for r in p]
            if areal_a
            else []
        )
        for r in rb:
            best = min(
                best,
                float(
                    geometry.points_to_ring_distance(
                        pa[:, 0], pa[:, 1], r
                    ).min()
                ),
            )
        for r in ra:
            best = min(
                best,
                float(
                    geometry.points_to_ring_distance(
                        pb[:, 0], pb[:, 1], r
                    ).min()
                ),
            )
        if not ra and not rb:  # point vs point
            best = float(np.hypot(*(pa[0] - pb[0])))
        return best

    @pandas_udf("double")
    def _distance_udf(a: pd.Series, b: pd.Series) -> pd.Series:
        return pd.Series(
            [_dist_one(x, y) for x, y in zip(a, b)], dtype="float64"
        )

    reg("st_distance", _distance_udf)

    @pandas_udf("binary")
    def _curvetoline_udf(g: pd.Series) -> pd.Series:
        from . import curves as _curves

        return g.map(
            lambda b: None if b is None
            else _curves.linearize(bytes(b))
        )

    # Spatialite's CurveToLine / ST_CurveToLine (the dialect the
    # reference's SQL layer rides) — getLinearGeometry from SQL text
    reg("st_curvetoline", _curvetoline_udf)
    return names


# ---------------------------------------------------------------------------
# Spatial-join SQL rewrite (SURVEY §4 sugar): JOIN ... ON st_pred(a.g, b.g)
# routed through the cell-cover candidate equi-join instead of the
# nested-loop plan Catalyst produces for a theta-join on a black-box UDF.
# ---------------------------------------------------------------------------

import re as _re

# predicates servable from the SPARSE pair table (absent pair ⇒ false);
# st_disjoint is the dense complement and cannot join sparsely
_SPARSE_PREDS = (
    "intersects", "contains", "within", "touches", "overlaps",
    "equals", "crosses",
)
# direction swap when a select-list call names the args (B, A) instead
# of the JOIN's (A, B) order; every other pair predicate is symmetric
_SWAP = {"contains": "within", "within": "contains"}

_JOIN_RE = _re.compile(
    r"\bFROM\s+(?P<t1>\w+)\s+(?:AS\s+)?(?P<a1>\w+)\s+"
    r"(?:INNER\s+)?JOIN\s+(?P<t2>\w+)\s+(?:AS\s+)?(?P<a2>\w+)\s+"
    r"ON\s+st_(?P<pred>\w+)\s*\(\s*"
    r"(?P<g1>\w+)\.(?P<c1>\w+)\s*,\s*(?P<g2>\w+)\.(?P<c2>\w+)\s*\)",
    _re.IGNORECASE,
)


def spatial_join_sql(
    spark,
    sql: str,
    tables: dict,
    id_cols: dict,
    cell: float = 32.0,
):
    """Execute a SQL string whose JOIN condition is a spatial ST
    predicate — at scale. The reference evaluates such joins row by
    row through its SQLite dialect (each ST_Intersects() call is a
    black-box C function: ogr/ogrsf_frmts/sqlite/
    ogrsqlitesqlfunctions.cpp:876-883), and Spark does the analogous
    thing with a registered UDF: a theta-join on an opaque predicate
    plans BroadcastNestedLoopJoin — |A|·|B| kernel evaluations.

    This front-end rewrite (the Catalyst-rule analog SURVEY §4 names)
    computes the sparse cell-cover predicate pair table FIRST
    (:func:`~gdal_spark.operators.layer_algebra.predicate_pairs_join`
    — grid-cell equi-join prefilter, envelope check, exact pair
    kernel; output bounded by candidates, never |A|·|B|), registers
    it as a temp view, and rewrites the query so Catalyst only ever
    sees hash/merge EQUI-joins:

        FROM A a JOIN B b ON st_intersects(a.g, b.g)
      ⇒ FROM A a JOIN __sj ON __sj.a_id = a.<id>
                 JOIN B b ON b.<id> = __sj.b_id  [WHERE __sj.st_intersects=1]

    Select-list calls ``st_pred(a.g, b.g)`` between the SAME two
    aliases become pair-table column references (direction-aware:
    ``st_contains(b.g, a.g)`` reads the ``st_within`` column).

    Parameters: ``tables`` maps SQL table names to DataFrames with a
    binary WKB geometry column; ``id_cols`` maps table names to their
    unique id column. Supported shape: one two-table JOIN whose ON
    clause is a single sparse ST predicate (everything else —
    SELECT list, WHERE, GROUP BY, ORDER BY — passes through).
    ``st_disjoint`` is rejected: absent pairs ARE the disjoint set,
    so a sparse pair table cannot serve it as a join condition.
    """
    m = _JOIN_RE.search(sql)
    if not m:
        raise ValueError(
            "no 'FROM t1 a JOIN t2 b ON st_<pred>(a.col, b.col)' "
            "pattern found"
        )
    pred = m.group("pred").lower()
    if pred not in _SPARSE_PREDS:
        raise ValueError(
            f"st_{pred} is not servable from the sparse pair table "
            f"(supported: {', '.join('st_' + p for p in _SPARSE_PREDS)})"
        )
    t1, a1, t2, a2 = (
        m.group("t1"), m.group("a1"), m.group("t2"), m.group("a2")
    )
    g1, g2 = m.group("g1"), m.group("g2")
    if {g1, g2} != {a1, a2}:
        raise ValueError(
            f"ON-clause arguments ({g1}, {g2}) must reference the two "
            f"joined aliases ({a1}, {a2})"
        )
    # pair-table A side = the alias named FIRST in the ON predicate
    first, second = g1, g2
    tbl_of = {a1: t1, a2: t2}
    col_of = {g1: m.group("c1"), g2: m.group("c2")}
    from .operators.layer_algebra import predicate_pairs_join

    def side(alias):
        t = tbl_of[alias]
        df = tables[t]
        idc = id_cols[t]
        dt = dict(df.dtypes).get(idc)
        if dt not in ("tinyint", "smallint", "int", "bigint"):
            raise ValueError(
                f"id column {t}.{idc} has type {dt}; the pair table "
                "joins on integral ids — add a numeric surrogate "
                "(e.g. monotonically_increasing_id) first"
            )
        return df.select(
            F.col(idc).cast("long").alias(idc),
            F.col(col_of[alias]).alias("geom_wkb"),
        ), idc

    a_sel, ida = side(first)
    b_sel, idb = side(second)
    pairs = predicate_pairs_join(
        a_sel, b_sel, id_a=ida, id_b=idb, cell=cell
    )
    if ida == idb:  # same id column name on both sides
        pairs = pairs.toDF(
            "__a_id", "__b_id",
            *[c for c in pairs.columns if c.startswith("st_")],
        )
        pa, pb = "__a_id", "__b_id"
    else:
        pa, pb = ida, idb
    pairs = pairs.filter(F.col(f"st_{pred}") == 1)
    pairs.createOrReplaceTempView("__sj")
    for t, df in tables.items():
        df.createOrReplaceTempView(t)

    # rewrite select-list / WHERE predicate calls between the two
    # joined aliases into pair-table column references
    def _key(alias, col):
        return alias.lower(), col.lower()

    k_first = _key(first, col_of[first])
    k_second = _key(second, col_of[second])

    def repl_call(mm):
        p = mm.group("p").lower()
        # rewrite ONLY the eight pair-table predicates (disjoint is
        # dense; a two-geometry NON-predicate like a user-registered
        # st_distance must stay a UDF call), and ONLY over the exact
        # alias.column pairs — case-insensitively, as Spark resolves
        # identifiers — the pair table was computed from
        if p == "disjoint" or p not in _SPARSE_PREDS:
            return mm.group(0)
        kx = _key(mm.group("x"), mm.group("cx"))
        ky = _key(mm.group("y"), mm.group("cy"))
        if kx == k_first and ky == k_second:
            return f"__sj.st_{p}"
        if kx == k_second and ky == k_first:
            return f"__sj.st_{_SWAP.get(p, p)}"
        return mm.group(0)  # leave for the UDF path

    call_re = _re.compile(
        r"\bst_(?P<p>\w+)\s*\(\s*(?P<x>\w+)\.(?P<cx>\w+)\s*,\s*"
        r"(?P<y>\w+)\.(?P<cy>\w+)\s*\)",
        _re.IGNORECASE,
    )
    head, tail = sql[: m.start()], sql[m.end():]
    head = call_re.sub(repl_call, head)
    tail = call_re.sub(repl_call, tail)
    mid = (
        f"FROM {t1} {a1} "
        f"JOIN __sj ON __sj.{pa if first == a1 else pb} = "
        f"{a1}.{id_cols[t1]} "
        f"JOIN {t2} {a2} ON {a2}.{id_cols[t2]} = "
        f"__sj.{pb if first == a1 else pa}"
    )
    return spark.sql(head + mid + tail)

"""Layer algebra: clipping kernels, piece decomposition, predicates.

Mirrors the semantics corpus of autotest/ogr/ogr_layer_algebra.py
(Intersection/Clip row and area semantics) with exact unit fixtures
plus conservation properties on the seeded convex fixture set.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest

from gdal_spark import geometry, wkb


def sq(x0, y0, x1, y1):
    return np.array(
        [[x0, y0], [x1, y0], [x1, y1], [x0, y1], [x0, y0]], dtype=float
    )


def area_of(p):
    return abs(geometry.ring_area(np.vstack([p, p[:1]]))) if len(p) else 0.0


class TestClipKernels:
    def test_overlapping_squares(self):
        inter = geometry.clip_poly_convex(sq(0, 0, 2, 2), sq(1, 1, 3, 3))
        assert area_of(inter) == pytest.approx(1.0)

    def test_disjoint(self):
        assert len(geometry.clip_poly_convex(sq(0, 0, 1, 1), sq(5, 5, 6, 6))) == 0

    def test_contained(self):
        inter = geometry.clip_poly_convex(sq(1, 1, 2, 2), sq(0, 0, 5, 5))
        assert area_of(inter) == pytest.approx(1.0)

    def test_split_conservation_exact(self):
        inside, outside = geometry.split_poly_convex(
            sq(0, 0, 4, 4), sq(2, -1, 6, 5)
        )
        assert area_of(inside) == pytest.approx(8.0)
        assert sum(area_of(p) for p in outside) == pytest.approx(8.0)

    def test_erase_overlapping_clips(self):
        # two overlapping clips must not double-subtract
        pieces = geometry.erase_poly_convex(
            sq(0, 0, 10, 10), [sq(0, 0, 6, 10), sq(4, 0, 8, 10)]
        )
        assert geometry.pieces_area(pieces) == pytest.approx(20.0)

    def test_split_conservation_fixture(self):
        import __spark_entry__ as e

        for pid in range(10):
            a = e._convex_ring(pid, 101, 8, 18)
            b = e._convex_ring(pid % 4, 202, 14, 30)
            inter = geometry.clip_poly_convex(a, b)
            _, outs = geometry.split_poly_convex(a, b)
            total = area_of(inter) + sum(area_of(p) for p in outs)
            assert total == pytest.approx(area_of(a[:-1]), abs=1e-8)


class TestPredicates:
    def test_matrix(self):
        cases = [
            # (A, B, expected true predicates)
            (sq(0, 0, 2, 2), sq(5, 5, 6, 6), {"disjoint"}),
            (sq(0, 0, 2, 2), sq(1, 1, 3, 3), {"intersects", "overlaps"}),
            (sq(0, 0, 4, 4), sq(1, 1, 2, 2),
             {"intersects", "contains"}),
            (sq(1, 1, 2, 2), sq(0, 0, 4, 4), {"intersects", "within"}),
            (sq(0, 0, 2, 2), sq(0, 0, 2, 2),
             {"intersects", "equals", "contains", "within"}),
            (sq(0, 0, 2, 2), sq(2, 0, 4, 2), {"intersects", "touches"}),
            (sq(0, 0, 2, 2), sq(2, 2, 4, 4), {"intersects", "touches"}),
        ]
        for a, b, want in cases:
            got = geometry.polygon_pair_predicates(a, b)
            on = {k for k, v in got.items() if v}
            assert on == want, (a[:2], b[:2], on, want)

    def test_boundary_touch_collinear(self):
        # shared partial edge (collinear overlap, no crossing)
        assert geometry.rings_boundary_touch(
            sq(0, 0, 2, 2), sq(2, 1, 4, 3)
        )


class TestPieceOperators:
    @pytest.fixture(scope="class")
    def fixture_dfs(self, spark):
        from gdal_spark.operators.layer_algebra import _b_rings  # noqa

        a_pdf = pd.DataFrame(
            {
                "a_id": [0, 1],
                "geom_wkb": [
                    wkb.polygon([sq(0, 0, 4, 4)]),
                    wkb.polygon([sq(10, 10, 12, 12)]),
                ],
            }
        )
        b_pdf = pd.DataFrame(
            {
                "poly_id": [0, 1],
                "geom_wkb": [
                    wkb.polygon([sq(2, 0, 6, 4)]),
                    wkb.polygon([sq(100, 100, 101, 101)]),
                ],
            }
        )
        return spark.createDataFrame(a_pdf), b_pdf

    def test_intersection(self, fixture_dfs):
        from gdal_spark.operators.layer_algebra import intersection_pieces

        a_df, b_pdf = fixture_dfs
        rows = intersection_pieces(a_df, b_pdf).collect()
        assert len(rows) == 1
        r = rows[0]
        assert (r.a_id, r.b_id) == (0, 0)
        assert r.area == pytest.approx(8.0)
        ring = wkb.polygon_rings(bytes(r.piece_wkb))[0][0]
        assert area_of(ring[:-1]) == pytest.approx(8.0)

class TestConcave:
    def L(self):
        # L-shape: 4x4 square minus its 2x2 top-right quadrant
        return np.array(
            [[0, 0], [4, 0], [4, 2], [2, 2], [2, 4], [0, 4], [0, 0]],
            dtype=float,
        )

    def test_ear_triangulate_tiles_exactly(self):
        tris = geometry.ear_triangulate(self.L())
        assert sum(area_of(t) for t in tris) == pytest.approx(12.0)
        assert len(tris) >= 4

    def test_concave_clip_and_erase(self):
        # unit squares probing the notch
        probe_in = sq(1, 1, 2, 2)      # fully inside the L
        probe_notch = sq(3, 3, 4, 4)   # fully inside the notch (outside)
        probe_half = sq(1, 1, 3, 3)    # overlaps the notch by 1 unit
        L = self.L()
        assert geometry.pieces_area(
            geometry.clip_poly_simple(probe_in, L)
        ) == pytest.approx(1.0)
        assert geometry.pieces_area(
            geometry.clip_poly_simple(probe_notch, L)
        ) == pytest.approx(0.0)
        assert geometry.pieces_area(
            geometry.clip_poly_simple(probe_half, L)
        ) == pytest.approx(3.0)
        # erase: probe_half minus L leaves only the notch unit
        left = geometry.erase_poly_simple(probe_half, [L])
        assert geometry.pieces_area(left) == pytest.approx(1.0)

    def test_concave_predicates(self):
        L = self.L()
        got = geometry.polygon_pair_predicates(sq(3, 3, 4, 4), L)
        # small square strictly inside the notch: disjoint from the L
        assert got["disjoint"]
        # the FULL notch shares the L's re-entrant edges: touches
        got = geometry.polygon_pair_predicates(sq(2, 2, 4, 4), L)
        assert got["touches"] and not got["overlaps"]
        got = geometry.polygon_pair_predicates(sq(1, 1, 2, 2), L)
        assert got["within"]

    def test_operator_with_concave_b(self, spark):
        import pandas as pd
        from gdal_spark.operators.layer_algebra import intersection_pieces

        a_pdf = pd.DataFrame(
            {"a_id": [0], "geom_wkb": [wkb.polygon([sq(1, 1, 3, 3)])]}
        )
        b_pdf = pd.DataFrame(
            {"poly_id": [0], "geom_wkb": [wkb.polygon([self.L()])]}
        )
        a_df = spark.createDataFrame(a_pdf)
        inter = intersection_pieces(a_df, b_pdf).collect()
        assert sum(r.area for r in inter) == pytest.approx(3.0)


class TestHoledSubject:
    def donut_wkb(self):
        outer = sq(0, 0, 10, 10)
        hole = sq(3, 3, 7, 7)
        return wkb.polygon([outer, hole])  # area 100 - 16 = 84

    def test_intersection_respects_holes(self, spark):
        from gdal_spark.operators.layer_algebra import intersection_pieces

        a_df = spark.createDataFrame(
            pd.DataFrame({"a_id": [0], "geom_wkb": [self.donut_wkb()]})
        )
        # probe covering part of the ring and part of the hole
        b_pdf = pd.DataFrame(
            {"poly_id": [0], "geom_wkb": [wkb.polygon([sq(2, 2, 8, 8)])]}
        )
        rows = intersection_pieces(a_df, b_pdf).collect()
        # probe 36 sq units minus the 16-unit hole = 20
        assert sum(r.area for r in rows) == pytest.approx(20.0)

    def test_multipolygon_subject(self, spark):
        from gdal_spark.operators.layer_algebra import intersection_pieces

        mp = wkb.multipolygon([
            [sq(0, 0, 2, 2)], [sq(10, 10, 14, 14)],
        ])
        a_df = spark.createDataFrame(
            pd.DataFrame({"a_id": [7], "geom_wkb": [mp]})
        )
        b_pdf = pd.DataFrame(
            {"poly_id": [0],
             "geom_wkb": [wkb.polygon([sq(1, 1, 12, 12)])]}
        )
        rows = intersection_pieces(a_df, b_pdf).collect()
        # 1x1 from the first part + 2x2 from the second
        assert sum(r.area for r in rows) == pytest.approx(1.0 + 4.0)

class TestHoledMethod:
    """Method-side (B) holes and multiparts — the r02 gap: _b_pieces
    decoded only B's first outer ring, so a donut B clipped as if
    solid. Reference semantics: arbitrary geometries via GEOS
    (ogr/ogrlayer.cpp:3489-3503); corpus autotest/ogr/
    ogr_layer_algebra.py. All coords integral → exact areas."""

    def _donut_b(self):
        # B: outer (2,2)-(8,8) with hole (4,4)-(6,6) → area 36-4 = 32
        return pd.DataFrame({
            "poly_id": [0],
            "geom_wkb": [wkb.polygon([sq(2, 2, 8, 8), sq(4, 4, 6, 6)])],
        })

    def _a_df(self, spark, x0, y0, x1, y1):
        return spark.createDataFrame(pd.DataFrame({
            "a_id": [0], "geom_wkb": [wkb.polygon([sq(x0, y0, x1, y1)])],
        }))

    def test_intersection_excludes_b_hole(self, spark):
        from gdal_spark.operators.layer_algebra import intersection_pieces

        out = intersection_pieces(
            self._a_df(spark, 0, 0, 10, 10), self._donut_b(),
        ).collect()
        assert sum(r.area for r in out) == pytest.approx(32.0)

    def test_partial_overlap_intersection(self, spark):
        from gdal_spark.operators import layer_algebra as la

        # A = (0,0)-(5,5); B = donut. A∩B: outer∩A 9 − hole∩A 1 = 8
        a_df = self._a_df(spark, 0, 0, 5, 5)
        inter = sum(
            r.area
            for r in la.intersection_pieces(a_df, self._donut_b()).collect()
        )
        assert inter == pytest.approx(8.0)

    def test_multipart_b(self, spark):
        from gdal_spark.operators import layer_algebra as la

        # B: two disjoint unit-4 squares as ONE multipolygon feature
        b = pd.DataFrame({
            "poly_id": [0],
            "geom_wkb": [wkb.multipolygon([
                [sq(1, 1, 3, 3)], [sq(6, 6, 8, 8)],
            ])],
        })
        a_df = self._a_df(spark, 0, 0, 10, 10)
        inter = sum(r.area for r in la.intersection_pieces(a_df, b).collect())
        assert inter == pytest.approx(8.0)  # both parts, not just the first

    def test_strtree_candidate_lookup_sublinear(self):
        """The broadcast B index answers bbox probes from the STRtree
        (not a linear scan): probe hits only the overlapping B."""
        from gdal_spark.operators.layer_algebra import _BSet

        n = 200
        b = pd.DataFrame({
            "poly_id": list(range(n)),
            "geom_wkb": [
                wkb.polygon([sq(3 * i, 0, 3 * i + 2, 2)]) for i in range(n)
            ],
        })
        bset = _BSet(b)
        hits = bset.candidates((3 * 7 + 0.5, 0.5, 3 * 7 + 1.0, 1.0))
        assert [bset.ids[i] for i in hits] == [7]


class TestIntersectionJoin:
    """DataFrame × DataFrame layer algebra (no driver-resident B)."""

    def test_matches_broadcast_path(self, spark):
        from gdal_spark.operators.layer_algebra import (
            intersection_join, intersection_pieces,
        )

        a_pdf = pd.DataFrame({
            "a_id": [0, 1, 2],
            "geom_wkb": [
                wkb.polygon([sq(0, 0, 10, 10)]),
                wkb.polygon([sq(20, 20, 30, 30)]),
                wkb.polygon([sq(100, 100, 101, 101)]),  # hits nothing
            ],
        })
        b_pdf = pd.DataFrame({
            "poly_id": [0, 1],
            "geom_wkb": [
                # donut overlapping A0
                wkb.polygon([sq(2, 2, 8, 8), sq(4, 4, 6, 6)]),
                wkb.polygon([sq(25, 25, 40, 40)]),
            ],
        })
        a_df = spark.createDataFrame(a_pdf)
        b_df = spark.createDataFrame(
            b_pdf.rename(columns={"poly_id": "b_id"})
        )
        rows = intersection_join(a_df, b_df, cell=8.0).collect()
        agg = {}
        for r in rows:
            agg[(r.a_id, r.b_id)] = agg.get((r.a_id, r.b_id), 0.0) + r.area
        ref = {}
        for r in intersection_pieces(a_df, b_pdf).collect():
            ref[(r.a_id, r.b_id)] = ref.get((r.a_id, r.b_id), 0.0) + r.area
        assert set(agg) == set(ref)
        for k in agg:
            assert agg[k] == pytest.approx(ref[k])
        assert agg[(0, 0)] == pytest.approx(32.0)  # hole excluded
        assert agg[(1, 1)] == pytest.approx(25.0)

    def test_plan_has_no_cross_join(self, spark):
        from gdal_spark.operators.layer_algebra import intersection_join

        a_df = spark.createDataFrame(pd.DataFrame({
            "a_id": [0], "geom_wkb": [wkb.polygon([sq(0, 0, 4, 4)])],
        }))
        b_df = spark.createDataFrame(pd.DataFrame({
            "b_id": [0], "geom_wkb": [wkb.polygon([sq(1, 1, 5, 5)])],
        }))
        plan = intersection_join(a_df, b_df)._jdf.queryExecution() \
            .executedPlan().toString()
        assert "CartesianProduct" not in plan
        assert "BroadcastNestedLoopJoin" not in plan


class TestSparsePredicates:
    """Sparse-by-default predicate matrix (the 100 TB contract:
    output bounded by bbox candidates, not |A|·|B|) + the DF×DF
    cell-cover variant."""

    def _fixtures(self, spark):
        a_pdf = pd.DataFrame({
            "a_id": [0, 1, 2],
            "geom_wkb": [
                wkb.polygon([sq(0, 0, 4, 4)]),
                wkb.polygon([sq(10, 10, 14, 14)]),
                wkb.polygon([sq(100, 100, 101, 101)]),
            ],
        })
        b_pdf = pd.DataFrame({
            "poly_id": [0, 1],
            "geom_wkb": [
                wkb.polygon([sq(2, 2, 6, 6)]),      # overlaps A0
                wkb.polygon([sq(14, 10, 18, 14)]),  # touches A1 edge
            ],
        })
        return spark.createDataFrame(a_pdf), a_pdf, b_pdf

    def test_sparse_emits_only_candidates(self, spark):
        from gdal_spark.operators.layer_algebra import predicate_pairs

        a_df, _, b_pdf = self._fixtures(spark)
        rows = predicate_pairs(a_df, b_pdf).collect()
        got = {(r.a_id, r.b_id): r.asDict() for r in rows}
        # only the bbox-overlapping pairs exist — NOT 3×2 = 6 rows
        assert set(got) == {(0, 0), (1, 1)}
        assert got[(0, 0)]["st_overlaps"] == 1
        assert got[(1, 1)]["st_touches"] == 1

    def test_dense_mode_adds_proven_disjoint_rows(self, spark):
        from gdal_spark.operators.layer_algebra import predicate_pairs

        a_df, _, b_pdf = self._fixtures(spark)
        sparse = {
            (r.a_id, r.b_id): r.asDict()
            for r in predicate_pairs(a_df, b_pdf).collect()
        }
        dense = {
            (r.a_id, r.b_id): r.asDict()
            for r in predicate_pairs(a_df, b_pdf, dense=True).collect()
        }
        assert len(dense) == 6
        for k, v in dense.items():
            if k in sparse:
                assert v == sparse[k]
            else:  # implied row: pure disjoint vector
                assert v["st_disjoint"] == 1
                assert all(
                    v[c] == 0
                    for c in v
                    if c.startswith("st_") and c != "st_disjoint"
                )

    def test_df_join_variant_matches_broadcast(self, spark):
        from gdal_spark.operators.layer_algebra import (
            predicate_pairs, predicate_pairs_join,
        )

        a_df, _, b_pdf = self._fixtures(spark)
        b_df = spark.createDataFrame(
            b_pdf.rename(columns={"poly_id": "b_id"})
        )
        want = {
            (r.a_id, r.b_id): r.asDict()
            for r in predicate_pairs(a_df, b_pdf).collect()
        }
        got = {
            (r.a_id, r.b_id): r.asDict()
            for r in predicate_pairs_join(
                a_df, b_df, cell=4.0
            ).collect()
        }
        assert got == want

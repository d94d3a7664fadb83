"""End-to-end spatial join: pages → extract → cell join → PIP, verified
against a brute-force numpy oracle (every point × every polygon).
Mirrors the reference's layer-algebra oracle tests
(autotest/ogr/ogr_layer_algebra.py style — exact row-set equality)."""

import re

import numpy as np
import pandas as pd
import pytest

from gdal_spark import geometry, testdata, wkb
from gdal_spark.operators.extract import extract_features
from gdal_spark.operators.spatial_join import spatial_join, spatial_join_count

N_PAGES = 2000
N_POLY = 40


@pytest.fixture(scope="module")
def pages_pdf():
    return testdata.pages_pdf(N_PAGES)


@pytest.fixture(scope="module")
def polygons():
    return testdata.polygons_pdf(N_POLY)


# The mention grammar, written out independently of the engine.
MENTION = re.compile(r"\(([-+]?[0-9]+\.[0-9]{6}),([-+]?[0-9]+\.[0-9]{6})\)")


def reference_features(pages: pd.DataFrame) -> pd.DataFrame:
    """(url, feat_id, kind, lon, lat) by a plain ``re`` parse per page."""
    rows = [
        (url, k, "point", float(m.group(1)), float(m.group(2)))
        for url, text in zip(pages["url"], pages["text"])
        for k, m in enumerate(MENTION.finditer(text or ""))
    ]
    return pd.DataFrame(rows, columns=["url", "feat_id", "kind", "lon", "lat"])


def brute_force_pairs(feats: pd.DataFrame, polygons: pd.DataFrame) -> set:
    pairs = set()
    for pid, buf in zip(polygons["poly_id"], polygons["geom_wkb"]):
        parts = wkb.polygon_rings(bytes(buf))
        inside = np.zeros(len(feats), dtype=bool)
        for rings in parts:
            inside |= geometry.points_in_polygon(
                feats["lon"].to_numpy(), feats["lat"].to_numpy(), rings
            )
        for u, fi in zip(
            feats["url"].to_numpy()[inside], feats["feat_id"].to_numpy()[inside]
        ):
            pairs.add((u, int(fi), int(pid)))
    return pairs


def test_text_byte_identity(pages_pdf):
    """text is a pure function of url — regenerate and compare bytes."""
    again = testdata.pages_pdf(N_PAGES)
    assert (pages_pdf["text"] == again["text"]).all()
    assert all(
        a == b for a, b in zip(pages_pdf["html"], again["html"])
    )


def test_extract_deterministic_and_parses_own_format(spark, pages_pdf):
    feats = extract_features(spark.createDataFrame(pages_pdf)).toPandas()
    assert len(feats) >= N_PAGES  # 1-3 mentions per page
    assert feats["lon"].between(-180, 180).all()
    assert feats["lat"].between(-90, 90).all()
    # feat_id is the in-text mention ordinal
    assert (feats.groupby("url")["feat_id"].min() == 0).all()


def test_distributed_extract_matches_local(spark, pages_pdf):
    pages = spark.createDataFrame(pages_pdf)
    got = (
        extract_features(pages)
        .orderBy("url", "feat_id")
        .toPandas()
    )
    want = (
        reference_features(pages_pdf)
        .sort_values(["url", "feat_id"])
        .reset_index(drop=True)
    )
    pd.testing.assert_frame_equal(got, want, check_dtype=False)


def test_extract_mention_grammar(spark):
    """ASCII digits, an optional sign, exactly 6 fraction digits,
    matched left to right without overlap."""
    texts = {
        "u0": "a (1.000000,2.000000) b (+3.250000,-4.500000)",
        "u1": "(\u0661.000000,2.000000) (1.00000,2.000000) (1.0000001,2.000000)",
        "u2": "((10.123456,-0.000001)) (1.000000, 2.000000) (-.000000,1.000000)",
        "u3": "(999.999999,-999.999999)(0.000000,0.000000)",
    }
    pdf = pd.DataFrame({"url": list(texts), "text": list(texts.values())})
    got = (
        extract_features(spark.createDataFrame(pdf))
        .orderBy("url", "feat_id")
        .toPandas()
    )
    assert list(zip(got["url"], got["feat_id"], got["lon"], got["lat"])) == [
        ("u0", 0, 1.0, 2.0),
        ("u0", 1, 3.25, -4.5),
        ("u2", 0, 10.123456, -0.000001),
        ("u3", 0, 999.999999, -999.999999),
        ("u3", 1, 0.0, 0.0),
    ]
    assert (got["kind"] == "point").all()
    pd.testing.assert_frame_equal(
        got, reference_features(pdf), check_dtype=False
    )


def test_extract_null_and_empty_text_have_no_features(spark):
    """A NULL or empty text yields no rows and does not fail the task
    that also carries a page with mentions."""
    pdf = pd.DataFrame(
        {"url": ["n", "e", "ok"], "text": [None, "", "at (1.500000,2.500000)"]}
    )
    pages = spark.createDataFrame(pdf, "url string, text string").coalesce(1)
    got = extract_features(pages).collect()
    assert [(r.url, r.feat_id, r.lon, r.lat) for r in got] == [("ok", 0, 1.5, 2.5)]


def test_distributed_pages_generator_byte_identical(spark, pages_pdf):
    got = testdata.pages_df(spark, N_PAGES, partitions=7).toPandas()
    got = got.sort_values("url").reset_index(drop=True)
    want = pages_pdf.sort_values("url").reset_index(drop=True)
    assert (got["text"] == want["text"]).all()
    assert (got["lang"] == want["lang"]).all()


def test_spatial_join_matches_bruteforce(spark, pages_pdf, polygons):
    pages = spark.createDataFrame(pages_pdf)
    feats = extract_features(pages)
    sc = spark.sparkContext
    sc.setJobGroup("spatial_join_plan", "spatial_join planning")
    try:
        joined = spatial_join(feats, polygons, res_min=3, res_max=8)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    # planning reads the cover levels on the driver: no Spark job
    assert list(sc.statusTracker().getJobIdsForGroup("spatial_join_plan")) == []
    got = {
        (r.url, int(r.feat_id), int(r.poly_id))
        for r in joined.select("url", "feat_id", "poly_id").collect()
    }
    want = brute_force_pairs(reference_features(pages_pdf), polygons)
    assert got == want
    assert len(want) > 50  # fixture sanity: the join is non-trivial


def test_spatial_join_count(spark, pages_pdf, polygons):
    pages = spark.createDataFrame(pages_pdf)
    feats = extract_features(pages)
    counts = {
        int(r.poly_id): int(r.n_points)
        for r in spatial_join_count(feats, polygons, res_min=3, res_max=8).collect()
    }
    want_pairs = brute_force_pairs(reference_features(pages_pdf), polygons)
    want = {}
    for _, _, pid in want_pairs:
        want[pid] = want.get(pid, 0) + 1
    assert counts == want


def test_spatial_join_plan_is_broadcast(spark, pages_pdf, polygons):
    """The cover join must be a BroadcastHashJoin — no shuffle of the
    big (points) side."""
    pages = spark.createDataFrame(pages_pdf)
    feats = extract_features(pages)
    joined = spatial_join(feats, polygons, res_min=3, res_max=8)
    plan = joined._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_full_cover_rows_join_with_null_edges(spark):
    """A full cover row carries null edges and parts. The filter's
    first operand accepts it, so its points join without the exact
    test; a boundary row's points still get the test. Point columns
    named like the cover's pass through."""
    from gdal_spark import cover

    giant = testdata.polygons_pdf(1)  # [-60, 60] x [-40, 40]
    cov, _ = cover.refine_cover(giant, 2, 6)
    rows = cov.to_pylist()
    assert any(r["full"] for r in rows) and not all(r["full"] for r in rows)
    for r in rows:
        assert (r["edges"] is None and r["parts"] is None) == r["full"]
    own = ["cell_id", "res", "full", "edges", "parts"]
    pts = spark.createDataFrame(
        pd.DataFrame({"id": [0, 1, 2], "lon": [0.5, 59.9, 60.1], "lat": [0.5, 0.0, 0.0]})
        .assign(**{c: [10, 11, 12] for c in own})
    )
    out = spatial_join(pts, giant, res_min=2, res_max=6)
    assert out.columns == pts.columns + ["poly_id"]
    got = sorted((r.id, r.poly_id, *(r[c] for c in own)) for r in out.collect())
    assert got == [(0, 0, *[10] * 5), (1, 0, *[11] * 5)]


def _polygon_with_holes(n_holes: int = 72) -> list[np.ndarray]:
    """A rectangle with a row of small square holes along one band: a
    ray from the band's left end crosses every ring."""
    outer = np.array([[-1, 0], [12, 0], [12, 1.4], [-1, 1.4], [-1, 0]], float)
    holes = [
        np.array([[x, 0.5], [x, 0.6], [x + 0.05, 0.6], [x + 0.05, 0.5], [x, 0.5]])
        for x in 1.0 + 0.1 * np.arange(n_holes)
    ]
    return [outer] + holes


# A point at lon -1e-14 rounds into the cell whose float lower bound
# is 0.0, so the vertical edge at x = -1e-15 lies left of that cell
# but right of the point: only a widened clip keeps it.
_CLIP_PROBE = np.array(
    [[-3, -5], [10, -5], [1, 0.7], [-1e-15, 2], [-1e-15, -1], [-3, -1], [-3, -5]]
)


def _rect(x0, y0, x1, y1):
    return np.array([[x0, y0], [x1, y0], [x1, y1], [x0, y1], [x0, y0]])


# polygons with a cell that would be full although points outside them
# round (x = -1e-14 at the left edge x = -1e-15) or clamp (past 180°
# lon or 90° lat) into it, and one such point for each
_FULL_CELL_PROBES = {
    400: (_rect(-1e-15, -5, 10, 10), (-1e-14, 0.1)),
    500: (_rect(170, -5, 200, 5), (210, 0.1)),
    600: (_rect(-5, 80, 10, 95), (1, 96)),
}
# polygons wholly past the grid's edge, each with a point inside it:
# cell ids clamp both into the grid's outer ring
_PAST_EDGE_PROBES = {
    700: (_rect(190, -5, 200, 5), (195, 0.1)),
    800: (_rect(-10, 91, 10, 95), (0, 93)),
}


def _probe_points(polygons: pd.DataFrame, n_random: int, seed: int):
    """Every vertex, every edge midpoint, every vertex moved by 1e-12
    along each axis, and uniform points over each polygon's bbox."""
    rng = np.random.default_rng(seed)
    xs, ys = [np.array([-1e-14])], [np.array([0.1])]
    for buf in polygons["geom_wkb"]:
        for rings in wkb.polygon_rings(bytes(buf)):
            for ring in rings:
                ring = np.asarray(ring)
                mid = (ring[:-1] + ring[1:]) / 2
                xs += [ring[:, 0], mid[:, 0]]
                ys += [ring[:, 1], mid[:, 1]]
                for dx, dy in ((1e-12, 0), (-1e-12, 0), (0, 1e-12), (0, -1e-12)):
                    xs.append(ring[:, 0] + dx)
                    ys.append(ring[:, 1] + dy)
            x0, y0, x1, y1 = geometry.ring_bbox(np.asarray(rings[0]))
            xs.append(rng.uniform(x0, x1, n_random))
            ys.append(rng.uniform(y0, y1, n_random))
    return np.concatenate(xs), np.concatenate(ys)


@pytest.mark.parametrize("boundary_is_inside", [False, True])
def test_spatial_join_exact_on_edge_cases(spark, boundary_is_inside):
    """spatial_join equals points_in_polygon over every part, pair for
    pair, on overlapping holed multipolygons, the sliver and the
    shared-edge pair, a polygon whose 73 rings all reach one cell (two
    mask words), a point that rounds into a cell right of an edge it
    must cross, points outside a polygon that round or clamp into a
    cell it covers fully, and polygons wholly past the grid's edge."""
    from test_strtree_cover import _holed_multipolygons

    probed = {**_FULL_CELL_PROBES, **_PAST_EDGE_PROBES}
    polygons = pd.concat(
        [
            _holed_multipolygons(),
            testdata.polygons_pdf(7).assign(poly_id=lambda d: d.poly_id + 100),
            pd.DataFrame({
                "poly_id": [200, 300, *probed],
                "geom_wkb": [
                    wkb.polygon(_polygon_with_holes()),
                    wkb.polygon([_CLIP_PROBE]),
                    *(wkb.polygon([r]) for r, _ in probed.values()),
                ],
            }),
        ],
        ignore_index=True,
    )[["poly_id", "geom_wkb"]]
    lon, lat = _probe_points(polygons, 200, seed=4)
    probes = np.array([p for _, p in probed.values()])
    probe_ids = lon.size + np.arange(len(probes))
    lon, lat = np.append(lon, probes[:, 0]), np.append(lat, probes[:, 1])
    want = set()
    for pid, buf in zip(polygons["poly_id"], polygons["geom_wkb"]):
        inside = np.zeros(lon.size, dtype=bool)
        for rings in wkb.polygon_rings(bytes(buf)):
            inside |= geometry.points_in_polygon(
                lon, lat, rings, boundary_is_inside=boundary_is_inside
            )
        want |= {(int(i), int(pid)) for i in np.nonzero(inside)[0]}
    pts = spark.createDataFrame(
        pd.DataFrame({"id": np.arange(lon.size), "lon": lon, "lat": lat})
    )
    joined = spatial_join(
        pts, polygons, res_min=2, res_max=7,
        boundary_is_inside=boundary_is_inside,
    )
    got = {(int(r.id), int(r.poly_id)) for r in joined.collect()}
    assert got == want
    assert (0, 300) not in want and (0, 200) in want
    for i, pid in zip(probe_ids.tolist(), probed):
        assert ((i, pid) in want) == (pid in _PAST_EDGE_PROBES)


def test_refine_cover_needs_two_words_for_73_rings():
    from gdal_spark import cover

    polygons = pd.DataFrame(
        {"poly_id": [0], "geom_wkb": [wkb.polygon(_polygon_with_holes())]}
    )
    cov, n_words = cover.refine_cover(polygons, 2, 7)
    assert n_words == 2
    assert cov.column_names == [
        "poly_id", "cell_id", "res", "full", "edges", "edges_1", "parts"
    ]


# ---------------------------------------------------------------------------
# html → text extraction (north-rule invariant: byte-identical per url)
# ---------------------------------------------------------------------------


def test_extract_text_byte_identical_per_url(spark, pages_pdf):
    """extract_text(html) must reproduce the pages table's own text
    column byte-for-byte for every url, independent of partitioning."""
    from gdal_spark.operators.extract import extract_text

    pages = testdata.pages_df(spark, 500)
    got = {
        r["url"]: r["text_extracted"]
        for r in extract_text(pages.repartition(13)).collect()
    }
    want = dict(zip(pages_pdf["url"][:500], pages_pdf["text"][:500]))
    assert got == want


def test_extract_text_bytes_semantics():
    from gdal_spark.operators.extract import extract_text_bytes as e

    assert e(b"<html><body>hi &amp;lt; x</body></html>") == b"hi &lt; x"
    assert e(b'<p a="1">A<SCRIPT type=x>var s="<b>";</SCRIPT>B</p>') == b"AB"
    assert e(b"<style>p{color:red}</style>T &lt;&gt;&quot;&#39;") == b"T <>\"'"
    # multiline script subtree, tag split across content
    assert e(b"<script>\nif (a<b) {}\n</script>ok<br/>") == b"ok"

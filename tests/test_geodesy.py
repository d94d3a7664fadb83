"""Ellipsoidal geodesics: Vincenty fixed-unroll distance, authalic
Chamberlain-Duquette area."""

import hashlib

import numpy as np
import pytest

from gdal_spark import geodesy


def test_equatorial_arc_exact():
    # along the equator the geodesic is the equator: d = a * dlam
    d = geodesy.vincenty_distance(
        np.array([0.0]), np.array([0.0]), np.array([0.0]), np.array([1.0])
    )
    assert abs(d[0] - 6378137.0 * np.pi / 180.0) < 1e-3


def test_meridian_arc_known():
    # 1 degree of meridian arc from the equator ~ 110574.4 m
    d = geodesy.vincenty_distance(
        np.array([0.0]), np.array([10.0]), np.array([1.0]), np.array([10.0])
    )
    assert abs(d[0] - 110574.4) < 1.0


def test_coincident_zero_and_vs_haversine():
    d = geodesy.vincenty_distance(
        np.array([45.0]), np.array([7.0]), np.array([45.0]), np.array([7.0])
    )
    assert d[0] == 0.0
    # ellipsoid vs sphere agree to ~0.5%
    lat1, lon1, lat2, lon2 = 52.5, 13.4, 48.9, 2.4  # Berlin-Paris
    dv = geodesy.vincenty_distance(
        np.array([lat1]), np.array([lon1]),
        np.array([lat2]), np.array([lon2]),
    )[0]
    R = 6371000.0
    p1, p2 = np.radians(lat1), np.radians(lat2)
    dp, dl = np.radians(lat2 - lat1), np.radians(lon2 - lon1)
    h = (np.sin(dp / 2) ** 2
         + np.cos(p1) * np.cos(p2) * np.sin(dl / 2) ** 2)
    dh = 2 * R * np.arcsin(np.sqrt(h))
    assert abs(dv - dh) / dh < 0.005
    assert 800_000 < dv < 900_000


def test_vincenty_bytes_pinned():
    """Both Vincenty entry points over 10k seeded pairs, 500 of them
    coincident and 500 near-antipodal, byte for byte (pinned before
    vincenty_distance became the first output of
    vincenty_inverse_full)."""
    rng = np.random.default_rng(0)
    n = 10_000
    lat1, lon1 = rng.uniform(-90, 90, n), rng.uniform(-180, 180, n)
    lat2, lon2 = rng.uniform(-90, 90, n), rng.uniform(-180, 180, n)
    lat2[:500], lon2[:500] = lat1[:500], lon1[:500]
    eps = rng.uniform(-1e-3, 1e-3, (2, 500))
    lat2[500:1000] = -lat1[500:1000] + eps[0]
    lon2[500:1000] = lon1[500:1000] + 180.0 + eps[1]
    d = geodesy.vincenty_distance(lat1, lon1, lat2, lon2)
    s, a1 = geodesy.vincenty_inverse_full(lat1, lon1, lat2, lon2)
    dist = "d7e42eae9a242b28a14afbb3628b4683779ad894462cee96fbe38112ea886053"
    assert hashlib.sha256(d.tobytes()).hexdigest() == dist
    assert hashlib.sha256(s.tobytes()).hexdigest() == dist
    assert hashlib.sha256(a1.tobytes()).hexdigest() == (
        "69142d22d690af23d3d98af93502b89835c3b77a0dd765145dfd050475b0230d"
    )
    assert (d[:500] == 0.0).all() and (a1[:500] == 0.0).all()


def test_cd_area_latlon_band_closed_form():
    """CD on a meridian/parallel quadrilateral equals the exact
    authalic band area R^2 * dlam * |sin xi1 - sin xi2|."""
    lam1, lam2, phi1, phi2 = 10.0, 12.0, 40.0, 43.0
    lats = np.array([phi1, phi1, phi2, phi2])
    lons = np.array([lam1, lam2, lam2, lam1])
    got = geodesy.authalic_cd_area(lats, lons)
    s1 = float(geodesy._authalic_q(np.sin(np.radians([phi1])))[0]) / geodesy._QP
    s2 = float(geodesy._authalic_q(np.sin(np.radians([phi2])))[0]) / geodesy._QP
    want = (
        geodesy.AUTHALIC_R ** 2
        * np.radians(lam2 - lam1) * abs(s2 - s1)
    )
    assert abs(got - want) / want < 1e-9
    # sanity scale: ~2deg x 3deg at 41N -> ~5.6e10 m2
    assert 4e10 < got < 8e10

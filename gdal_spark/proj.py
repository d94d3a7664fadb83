"""Projected CRS transforms beyond web-mercator: UTM forward AND
inverse (transverse Mercator, 4th-order Krüger flattening series,
standard published coefficients — Karney 2011 / OGP Guidance 7-2).

Spark re-expression of OGRCoordinateTransformation::Transform
(ogr/ogrct.cpp:2254) for the UTM family — the reference's own
headline warp is UTM 31N → EPSG:4326
(autotest/benchmark/test_gdalwarp.py:31-80). Vectorized numpy
kernels, usable inside mapInPandas/pandas UDFs; `utm_forward_sql`
emits the identical series as a dialect-common SQL expression so a
DuckDB oracle can evaluate the same tree.

Accuracy: 4th order in n ≈ 1.68e-3 → series truncation < 10 nm;
round-trip error dominated by float64 libm (≲ 1e-9 deg).
"""

from __future__ import annotations

import numpy as np

# WGS84
_F = 1.0 / 298.257223563
_A = 6378137.0
_N = _F / (2.0 - _F)
_K0 = 0.9996
# rectifying radius
_BIG_A = _A / (1.0 + _N) * (1.0 + _N**2 / 4.0 + _N**4 / 64.0)
# forward (geodetic → transverse-mercator) series α
_ALPHA = (
    _N / 2.0 - 2.0 / 3.0 * _N**2 + 5.0 / 16.0 * _N**3
    + 41.0 / 180.0 * _N**4,
    13.0 / 48.0 * _N**2 - 3.0 / 5.0 * _N**3 + 557.0 / 1440.0 * _N**4,
    61.0 / 240.0 * _N**3 - 103.0 / 140.0 * _N**4,
    49561.0 / 161280.0 * _N**4,
)
# inverse series β
_BETA = (
    _N / 2.0 - 2.0 / 3.0 * _N**2 + 37.0 / 96.0 * _N**3
    - 1.0 / 360.0 * _N**4,
    1.0 / 48.0 * _N**2 + 1.0 / 15.0 * _N**3 - 437.0 / 1440.0 * _N**4,
    17.0 / 480.0 * _N**3 - 37.0 / 840.0 * _N**4,
    4397.0 / 161280.0 * _N**4,
)
# conformal → geodetic latitude series δ
_DELTA = (
    2.0 * _N - 2.0 / 3.0 * _N**2 - 2.0 * _N**3 + 116.0 / 45.0 * _N**4,
    7.0 / 3.0 * _N**2 - 8.0 / 5.0 * _N**3 - 227.0 / 45.0 * _N**4,
    56.0 / 15.0 * _N**3 - 136.0 / 35.0 * _N**4,
    4279.0 / 630.0 * _N**4,
)
_E2SQRT = 2.0 * np.sqrt(_N) / (1.0 + _N)  # = e (first eccentricity)

FALSE_EASTING = 500_000.0
FALSE_NORTHING_SOUTH = 10_000_000.0


def utm_zone(lon: np.ndarray) -> np.ndarray:
    """Standard 6° zone from longitude (1..60)."""
    lon = np.asarray(lon, dtype=np.float64)
    return np.minimum(
        np.floor((lon + 180.0) / 6.0).astype(np.int64) + 1, 60
    )


def zone_central_meridian(zone) -> np.ndarray:
    return np.asarray(zone, dtype=np.float64) * 6.0 - 183.0


def utm_forward(
    lat: np.ndarray,
    lon: np.ndarray,
    zone: np.ndarray | int | None = None,
    northern: bool | None = None,
) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """WGS84 (lat, lon degrees) → (easting, northing, zone) metres.

    ``zone=None`` picks the standard zone per point; pass a fixed
    zone to project a whole grid into one zone (the warp case).
    ``northern=None`` applies the 10,000 km false northing south of
    the equator per point; a bool forces one hemisphere convention.
    """
    lat = np.asarray(lat, dtype=np.float64)
    lon = np.asarray(lon, dtype=np.float64)
    zs = utm_zone(lon) if zone is None else np.broadcast_to(
        np.asarray(zone, dtype=np.int64), lat.shape
    )
    lam0 = zone_central_meridian(zs)
    phi = np.radians(np.clip(lat, -84.0, 84.0))
    dlam = np.radians(lon - lam0)
    sphi = np.sin(phi)
    # conformal latitude via Gudermannian form
    u = np.arctanh(sphi) - _E2SQRT * np.arctanh(_E2SQRT * sphi)
    t = np.sinh(u)
    xip = np.arctan2(t, np.cos(dlam))
    etap = np.arctanh(np.sin(dlam) / np.sqrt(1.0 + t * t))
    xi = xip.copy()
    eta = etap.copy()
    for j, c in enumerate(_ALPHA, start=1):
        xi = xi + c * np.sin(2.0 * j * xip) * np.cosh(2.0 * j * etap)
        eta = eta + c * np.cos(2.0 * j * xip) * np.sinh(2.0 * j * etap)
    easting = FALSE_EASTING + _K0 * _BIG_A * eta
    north_raw = _K0 * _BIG_A * xi
    if northern is None:
        south = lat < 0
    else:
        south = np.broadcast_to(not northern, lat.shape)
    northing = np.where(
        south, north_raw + FALSE_NORTHING_SOUTH, north_raw
    )
    return easting, northing, zs


def utm_inverse(
    easting: np.ndarray,
    northing: np.ndarray,
    zone: np.ndarray | int,
    northern: bool | np.ndarray = True,
) -> tuple[np.ndarray, np.ndarray]:
    """UTM (E, N, zone) → WGS84 (lat, lon degrees) — the Krüger
    INVERSE series (absent in r02: the engine was forward-only)."""
    easting = np.asarray(easting, dtype=np.float64)
    northing = np.asarray(northing, dtype=np.float64)
    north_raw = np.where(
        np.broadcast_to(northern, easting.shape),
        northing,
        northing - FALSE_NORTHING_SOUTH,
    )
    xi = north_raw / (_K0 * _BIG_A)
    eta = (easting - FALSE_EASTING) / (_K0 * _BIG_A)
    xip = xi.copy()
    etap = eta.copy()
    for j, c in enumerate(_BETA, start=1):
        xip = xip - c * np.sin(2.0 * j * xi) * np.cosh(2.0 * j * eta)
        etap = etap - c * np.cos(2.0 * j * xi) * np.sinh(2.0 * j * eta)
    chi = np.arcsin(np.sin(xip) / np.cosh(etap))
    phi = chi.copy()
    for j, c in enumerate(_DELTA, start=1):
        phi = phi + c * np.sin(2.0 * j * chi)
    lam = np.arctan2(np.sinh(etap), np.cos(xip))
    lon = zone_central_meridian(zone) + np.degrees(lam)
    return np.degrees(phi), lon


class UTMForwardTransform:
    """Picklable georef mapper for ``warp_affine(transform=...)``:
    dst georef = (lon, lat) degrees → src georef = UTM (E, N) of a
    fixed zone. Composes the reference's headline warp UTM→EPSG:4326
    (autotest/benchmark/test_gdalwarp.py:31-80): warping a UTM raster
    ONTO a geographic grid needs the FORWARD projection per dst
    pixel."""

    def __init__(self, zone: int, northern: bool = True):
        self.zone = int(zone)
        self.northern = northern

    def __call__(self, gx: np.ndarray, gy: np.ndarray):
        e, n, _ = utm_forward(
            gy, gx, zone=self.zone, northern=self.northern
        )
        return e, n


class UTMInverseTransform:
    """dst georef = UTM (E, N) → src georef = (lon, lat): the
    4326→UTM warp direction (per-dst-pixel INVERSE projection)."""

    def __init__(self, zone: int, northern: bool = True):
        self.zone = int(zone)
        self.northern = northern

    def __call__(self, gx: np.ndarray, gy: np.ndarray):
        lat, lon = utm_inverse(gx, gy, self.zone, self.northern)
        return lon, lat


def series_constants() -> dict:
    """The exact float64 constants of the series, for building
    dialect-common SQL oracles (CTE form — see __spark_entry__'s
    _utm_sql) that evaluate the same tree as these kernels."""
    return {
        "n": _N,
        "big_a": _BIG_A,
        "k0a": _K0 * _BIG_A,
        "e": _E2SQRT,
        "alpha": _ALPHA,
        "beta": _BETA,
        "delta": _DELTA,
    }


# ---------------------------------------------------------------------------
# Lambert Conformal Conic, 2 standard parallels (Snyder 1987, pp. 107-109)
# ---------------------------------------------------------------------------

_E = _E2SQRT  # WGS84 first eccentricity


def _lcc_m(phi: np.ndarray) -> np.ndarray:
    s = np.sin(phi)
    return np.cos(phi) / np.sqrt(1.0 - _E * _E * s * s)


def _lcc_t(phi: np.ndarray) -> np.ndarray:
    s = np.sin(phi)
    return np.tan(np.pi / 4.0 - phi / 2.0) / (
        (1.0 - _E * s) / (1.0 + _E * s)
    ) ** (_E / 2.0)


class LCC:
    """Lambert Conformal Conic (2SP) on WGS84 — the workhorse conic of
    national CRSs (e.g. the EPSG 3857-adjacent Lambert families used
    by US State Plane / Canada / France). From-spec implementation of
    the published ellipsoidal formulas (Snyder, "Map Projections — A
    Working Manual", USGS PP 1395, 1987, eq. 15-1..15-11 / 7-9..7-10);
    reference analog: the PROJ `lcc` pipeline behind
    OGRCoordinateTransformation (ogr/ogrct.cpp:2254).

    Verification strategy (tests/test_proj.py::TestLCC): the defining
    property of a conformal conic with two standard parallels is
    k(phi1) == k(phi2) == 1 (true scale on both parallels) with k > 1
    outside and a minimum between — asserted directly from the
    projection's own scale factor — plus round-trip identity to
    sub-millimeter and central-meridian symmetry. No external data.
    """

    def __init__(self, phi1_deg: float, phi2_deg: float,
                 phi0_deg: float, lon0_deg: float,
                 false_e: float = 0.0, false_n: float = 0.0):
        p1, p2, p0 = (np.radians(v) for v in (phi1_deg, phi2_deg,
                                              phi0_deg))
        m1, m2 = _lcc_m(np.array(p1)), _lcc_m(np.array(p2))
        t1, t2 = _lcc_t(np.array(p1)), _lcc_t(np.array(p2))
        t0 = _lcc_t(np.array(p0))
        self.n = float(
            (np.log(m1) - np.log(m2)) / (np.log(t1) - np.log(t2))
        )
        self.F = float(m1 / (self.n * t1**self.n))
        self.rho0 = float(_A * self.F * t0**self.n)
        self.lon0 = np.radians(lon0_deg)
        self.fe, self.fn = float(false_e), float(false_n)

    def forward(self, lon_deg, lat_deg):
        lam = np.radians(np.asarray(lon_deg, dtype=np.float64))
        phi = np.radians(np.asarray(lat_deg, dtype=np.float64))
        rho = _A * self.F * _lcc_t(phi) ** self.n
        th = self.n * (lam - self.lon0)
        return (
            self.fe + rho * np.sin(th),
            self.fn + self.rho0 - rho * np.cos(th),
        )

    def inverse(self, x, y, iters: int = 8):
        x = np.asarray(x, dtype=np.float64) - self.fe
        y = np.asarray(y, dtype=np.float64) - self.fn
        sgn = np.sign(self.n) or 1.0
        rho = sgn * np.hypot(x, self.rho0 - y)
        t = (rho / (_A * self.F)) ** (1.0 / self.n)
        th = np.arctan2(sgn * x, sgn * (self.rho0 - y))
        lam = th / self.n + self.lon0
        phi = np.pi / 2.0 - 2.0 * np.arctan(t)
        for _ in range(iters):  # Snyder eq. 7-9, fixed point
            s = np.sin(phi)
            phi = np.pi / 2.0 - 2.0 * np.arctan(
                t * ((1.0 - _E * s) / (1.0 + _E * s)) ** (_E / 2.0)
            )
        return np.degrees(lam), np.degrees(phi)

    def scale_k(self, lat_deg):
        """Point scale factor k (Snyder eq. 15-4): 1 on both standard
        parallels by construction — the property the tests pin."""
        phi = np.radians(np.asarray(lat_deg, dtype=np.float64))
        rho = _A * self.F * _lcc_t(phi) ** self.n
        return rho * self.n / (_A * _lcc_m(phi))


class ComposedTransform:
    """Chain of picklable ``(gx, gy) -> (X, Y)`` numpy mappers applied
    left → right — the engine's analog of the reference's transformer
    chaining (GDALGenImgProjTransformer pipelines,
    alg/gdaltransformer.cpp:1379; OGRCoordinateTransformation
    composition via PROJ, ogr/ogrct.cpp:2254). Any warp between two
    projected CRSs is ``compose(dst_to_geodetic, geodetic_to_src)``
    without hand-writing the pair; each step stays a vectorized numpy
    kernel, so the composition runs inside the same mapInPandas
    gather as a single-step transform."""

    def __init__(self, *steps):
        self.steps = steps

    def __call__(self, gx: np.ndarray, gy: np.ndarray):
        for s in self.steps:
            gx, gy = s(gx, gy)
        return gx, gy


def compose(*steps) -> ComposedTransform:
    """``compose(f, g, ...)`` → transform applying f, then g, ... —
    see :class:`ComposedTransform`."""
    return ComposedTransform(*steps)


_R_MERC = 6378137.0  # web-mercator sphere radius (EPSG:3857)


class WebMercatorToLonLat:
    """EPSG:3857 metres → (lon, lat) degrees: the spherical inverse
    (lat via atan∘sinh). Chain head for warping ANY projected source
    onto a web-mercator destination grid via :func:`compose`."""

    def __call__(self, gx: np.ndarray, gy: np.ndarray):
        lon = np.degrees(
            np.asarray(gx, dtype=np.float64) / _R_MERC
        )
        lat = np.degrees(
            np.arctan(
                np.sinh(np.asarray(gy, dtype=np.float64) / _R_MERC)
            )
        )
        return lon, lat


class LonLatToWebMercator:
    """(lon, lat) degrees → EPSG:3857 metres (spherical forward) —
    chain tail for warping onto a projected grid from a geographic
    source."""

    def __call__(self, gx: np.ndarray, gy: np.ndarray):
        x = _R_MERC * np.radians(np.asarray(gx, dtype=np.float64))
        y = _R_MERC * np.arctanh(
            np.sin(np.radians(np.asarray(gy, dtype=np.float64)))
        )
        return x, y


class LCCForwardTransform:
    """Picklable (lon, lat) -> (x, y) for the general warp path."""

    def __init__(self, *params):
        self.params = params

    def __call__(self, gx, gy):
        return LCC(*self.params).forward(gx, gy)


class LCCInverseTransform:
    """Picklable (x, y) -> (lon, lat) for the general warp path."""

    def __init__(self, *params):
        self.params = params

    def __call__(self, gx, gy):
        return LCC(*self.params).inverse(gx, gy)


class _Identity:
    def __call__(self, gx, gy):
        return np.asarray(gx, dtype=np.float64), np.asarray(
            gy, dtype=np.float64
        )


def _crs_legs(code: str):
    """'EPSG:n' → (to_lonlat, from_lonlat) picklable leg pair.
    Supported: 4326 (geographic, lon/lat axis order as the engine uses
    throughout), 3857 (web mercator), 32601-32660 / 32701-32760
    (WGS84 UTM north/south)."""
    c = code.strip().upper()
    if not c.startswith("EPSG:"):
        raise ValueError(f"expected 'EPSG:n', got {code!r}")
    n = int(c[5:])
    if n == 4326:
        return _Identity(), _Identity()
    if n == 3857:
        return WebMercatorToLonLat(), LonLatToWebMercator()
    if 32601 <= n <= 32660:
        z = n - 32600
        return UTMInverseTransform(z, True), UTMForwardTransform(z, True)
    if 32701 <= n <= 32760:
        z = n - 32700
        return UTMInverseTransform(z, False), UTMForwardTransform(z, False)
    if n == 5070:  # NAD83 / CONUS Albers (GRS80)
        p = (29.5, 45.5, 23.0, -96.0, 0.0, 0.0)
        kw = {"f": GRS80_F}
        return (
            _InvTransform(AlbersEqualArea, *p, **kw),
            _FwdTransform(AlbersEqualArea, *p, **kw),
        )
    if n == 3577:  # GDA94 / Australian Albers (GRS80)
        p = (-18.0, -36.0, 0.0, 132.0, 0.0, 0.0)
        kw = {"f": GRS80_F}
        return (
            _InvTransform(AlbersEqualArea, *p, **kw),
            _FwdTransform(AlbersEqualArea, *p, **kw),
        )
    if n == 3413:  # WGS84 / NSIDC Sea Ice Polar Stereographic North
        kw = {"lat_ts_deg": 70.0}
        return (
            _InvTransform(PolarStereographic, -45.0, True, **kw),
            _FwdTransform(PolarStereographic, -45.0, True, **kw),
        )
    if n == 3031:  # WGS84 / Antarctic Polar Stereographic
        kw = {"lat_ts_deg": -71.0}
        return (
            _InvTransform(PolarStereographic, 0.0, False, **kw),
            _FwdTransform(PolarStereographic, 0.0, False, **kw),
        )
    if n in (32661, 32761):  # WGS84 / UPS North / South
        north = n == 32661
        kw = {"k0": 0.994, "false_e": 2e6, "false_n": 2e6}
        return (
            _InvTransform(PolarStereographic, 0.0, north, **kw),
            _FwdTransform(PolarStereographic, 0.0, north, **kw),
        )
    raise ValueError(f"unsupported CRS {code!r}")


def crs_transform(src: str, dst: str) -> ComposedTransform:
    """'EPSG:a' → 'EPSG:b' picklable coordinate transform — the
    OGRCoordinateTransformation factory (ogr/ogrct.cpp:2254) for the
    codes this engine projects natively. Same-code pairs collapse to
    identity; everything else routes src→geodetic→dst through
    :func:`compose`, exactly like PROJ pipelines."""
    if src.strip().upper() == dst.strip().upper():
        return ComposedTransform(_Identity())
    src_inv, _ = _crs_legs(src)
    _, dst_fwd = _crs_legs(dst)
    return ComposedTransform(src_inv, dst_fwd)


# ---------------------------------------------------------------------------
# Albers Equal-Area Conic + Stereographic families (Snyder, USGS PP
# 1395: Albers pp. 101-102 eq. 14-1..14-19 / 3-12 / 3-16; polar
# stereographic pp. 160-162 eq. 21-33/21-34/15-9; oblique
# stereographic pp. 160-161 eq. 21-27/21-28 via conformal latitude).
# Reference analog: the PROJ `aea` / `stere` pipelines behind
# OGRCoordinateTransformation (ogr/ogrct.cpp:2254).
# ---------------------------------------------------------------------------

GRS80_F = 1.0 / 298.257222101  # NAD83 ellipsoid (EPSG:7019)


def _ellipsoid(a: float, f: float):
    e2 = f * (2.0 - f)
    return float(a), float(e2), float(np.sqrt(e2))


def _m_of(phi, e):
    s = np.sin(phi)
    return np.cos(phi) / np.sqrt(1.0 - e * e * s * s)


def _q_of(phi, e):
    """Snyder eq. 3-12: q(φ) for the equal-area family."""
    s = np.sin(phi)
    e2 = e * e
    return (1.0 - e2) * (
        s / (1.0 - e2 * s * s)
        - (1.0 / (2.0 * e)) * np.log((1.0 - e * s) / (1.0 + e * s))
    )


def _t_of(phi, e):
    """Snyder eq. 15-9 (isometric-latitude t), any ellipsoid."""
    s = np.sin(phi)
    return np.tan(np.pi / 4.0 - phi / 2.0) / (
        (1.0 - e * s) / (1.0 + e * s)
    ) ** (e / 2.0)


class AlbersEqualArea:
    """Albers Equal-Area Conic (2SP), ellipsoidal — the continental
    statistics projection (EPSG:5070 CONUS, EPSG:3577 Australia).
    From-spec Snyder PP 1395 eq. 14-1..14-19.

    Verification strategy (tests/test_albers_stereo.py): the DEFINING
    property is exact area preservation — the forward Jacobian
    determinant equals the ellipsoidal area element everywhere — plus
    true scale along both standard parallels (k(φ1)=k(φ2)=1, eq.
    14-16) and sub-µm round trips. No external data needed."""

    def __init__(self, phi1_deg: float, phi2_deg: float,
                 phi0_deg: float, lon0_deg: float,
                 false_e: float = 0.0, false_n: float = 0.0,
                 a: float = _A, f: float = _F):
        self.a, self.e2, self.e = _ellipsoid(a, f)
        p1, p2, p0 = (np.radians(v) for v in (phi1_deg, phi2_deg,
                                              phi0_deg))
        m1 = _m_of(np.float64(p1), self.e)
        m2 = _m_of(np.float64(p2), self.e)
        q1 = _q_of(np.float64(p1), self.e)
        q2 = _q_of(np.float64(p2), self.e)
        q0 = _q_of(np.float64(p0), self.e)
        self.n = float((m1 * m1 - m2 * m2) / (q2 - q1))
        self.C = float(m1 * m1 + self.n * q1)
        self.rho0 = float(
            self.a * np.sqrt(self.C - self.n * q0) / self.n
        )
        self.lon0 = float(np.radians(lon0_deg))
        self.fe, self.fn = float(false_e), float(false_n)

    def forward(self, lon_deg, lat_deg):
        lam = np.radians(np.asarray(lon_deg, dtype=np.float64))
        phi = np.radians(np.asarray(lat_deg, dtype=np.float64))
        q = _q_of(phi, self.e)
        rho = self.a * np.sqrt(self.C - self.n * q) / self.n
        th = self.n * (lam - self.lon0)
        return (
            self.fe + rho * np.sin(th),
            self.fn + self.rho0 - rho * np.cos(th),
        )

    def inverse(self, x, y, iters: int = 12):
        x = np.asarray(x, dtype=np.float64) - self.fe
        y = np.asarray(y, dtype=np.float64) - self.fn
        sgn = 1.0 if self.n >= 0 else -1.0
        rho = np.hypot(x, self.rho0 - y)
        th = np.arctan2(sgn * x, sgn * (self.rho0 - y))
        q = (self.C - (rho * self.n / self.a) ** 2) / self.n
        # Snyder eq. 3-16 fixed point from φ = asin(q/2)
        phi = np.arcsin(np.clip(q / 2.0, -1.0, 1.0))
        e, e2 = self.e, self.e2
        for _ in range(iters):
            s = np.sin(phi)
            one = 1.0 - e2 * s * s
            phi = phi + one * one / (2.0 * np.cos(phi)) * (
                q / (1.0 - e2)
                - s / one
                + (1.0 / (2.0 * e))
                * np.log((1.0 - e * s) / (1.0 + e * s))
            )
        lam = self.lon0 + th / self.n
        return np.degrees(lam), np.degrees(phi)

    def scale_k(self, lat_deg):
        """Scale along a parallel (Snyder eq. 14-16): √(C−nq)/m —
        exactly 1 on both standard parallels; h = 1/k (equal area)."""
        phi = np.radians(np.asarray(lat_deg, dtype=np.float64))
        return np.sqrt(
            self.C - self.n * _q_of(phi, self.e)
        ) / _m_of(phi, self.e)


class PolarStereographic:
    """Polar Stereographic (variant A: k0 at the pole, e.g. UPS
    EPSG:32661/32761; variant B: true-scale parallel φ_ts, e.g.
    EPSG:3413 Arctic / EPSG:3031 Antarctic). Snyder PP 1395 eq.
    21-33/21-34 forward, 7-9 fixed-point inverse."""

    def __init__(self, lon0_deg: float, north: bool = True,
                 k0: float | None = None,
                 lat_ts_deg: float | None = None,
                 false_e: float = 0.0, false_n: float = 0.0,
                 a: float = _A, f: float = _F):
        if (k0 is None) == (lat_ts_deg is None):
            raise ValueError("give exactly one of k0 / lat_ts_deg")
        self.a, self.e2, self.e = _ellipsoid(a, f)
        self.north = bool(north)
        self.lon0 = float(np.radians(lon0_deg))
        self.fe, self.fn = float(false_e), float(false_n)
        e = self.e
        if k0 is not None:
            # eq. 21-33 coefficient: ρ = a·coef·t
            self.coef = float(
                2.0 * k0 / np.sqrt(
                    (1.0 + e) ** (1.0 + e) * (1.0 - e) ** (1.0 - e)
                )
            )
        else:
            pts = np.float64(abs(np.radians(lat_ts_deg)))
            self.coef = float(
                _m_of(pts, e) / _t_of(pts, e)
            )  # eq. 21-34: ρ = a m(φts) t / t(φts)

    def forward(self, lon_deg, lat_deg):
        lam = np.radians(np.asarray(lon_deg, dtype=np.float64))
        phi = np.radians(np.asarray(lat_deg, dtype=np.float64))
        if not self.north:  # Snyder: reverse signs for south aspect
            lam, phi = -lam, -phi
            lon0 = -self.lon0
        else:
            lon0 = self.lon0
        t = _t_of(phi, self.e)
        rho = self.a * self.coef * t
        x = rho * np.sin(lam - lon0)
        y = -rho * np.cos(lam - lon0)
        if not self.north:
            x, y = -x, -y
        return self.fe + x, self.fn + y

    def inverse(self, x, y, iters: int = 10):
        x = np.asarray(x, dtype=np.float64) - self.fe
        y = np.asarray(y, dtype=np.float64) - self.fn
        if not self.north:
            x2, y2, lon0 = -x, -y, -self.lon0
        else:
            x2, y2, lon0 = x, y, self.lon0
        rho = np.hypot(x2, y2)
        t = rho / (self.a * self.coef)
        phi = np.pi / 2.0 - 2.0 * np.arctan(t)
        e = self.e
        for _ in range(iters):  # Snyder eq. 7-9
            s = np.sin(phi)
            phi = np.pi / 2.0 - 2.0 * np.arctan(
                t * ((1.0 - e * s) / (1.0 + e * s)) ** (e / 2.0)
            )
        lam = lon0 + np.arctan2(x2, -y2)
        if not self.north:
            lam, phi = -lam, -phi
        return np.degrees(lam), np.degrees(phi)


class ObliqueStereographic:
    """Oblique/equatorial stereographic centered on (lat0, lon0) with
    scale k0 at the center — Snyder PP 1395 pp. 160-161: ellipsoid →
    conformal latitude (eq. 3-1), spherical oblique stereographic
    (eq. 21-27/21-28), inverse via eq. 20-14..20-17 + the conformal
    inverse fixed point (eq. 3-4)."""

    def __init__(self, lat0_deg: float, lon0_deg: float,
                 k0: float = 1.0,
                 false_e: float = 0.0, false_n: float = 0.0,
                 a: float = _A, f: float = _F):
        self.a, self.e2, self.e = _ellipsoid(a, f)
        e = self.e
        p0 = np.float64(np.radians(lat0_deg))
        self.chi1 = float(
            2.0 * np.arctan(
                np.tan(np.pi / 4.0 + p0 / 2.0)
                * ((1.0 - e * np.sin(p0)) / (1.0 + e * np.sin(p0)))
                ** (e / 2.0)
            ) - np.pi / 2.0
        )
        self.m1 = float(_m_of(p0, e))
        self.k0 = float(k0)
        self.lon0 = float(np.radians(lon0_deg))
        self.fe, self.fn = float(false_e), float(false_n)

    def _chi(self, phi):
        e = self.e
        s = np.sin(phi)
        return 2.0 * np.arctan(
            np.tan(np.pi / 4.0 + phi / 2.0)
            * ((1.0 - e * s) / (1.0 + e * s)) ** (e / 2.0)
        ) - np.pi / 2.0

    def forward(self, lon_deg, lat_deg):
        lam = np.radians(np.asarray(lon_deg, dtype=np.float64))
        phi = np.radians(np.asarray(lat_deg, dtype=np.float64))
        chi = self._chi(phi)
        dl = lam - self.lon0
        c1, s1 = np.cos(self.chi1), np.sin(self.chi1)
        A = (2.0 * self.a * self.k0 * self.m1) / (
            c1 * (1.0 + s1 * np.sin(chi) + c1 * np.cos(chi) * np.cos(dl))
        )
        x = A * np.cos(chi) * np.sin(dl)
        y = A * (c1 * np.sin(chi) - s1 * np.cos(chi) * np.cos(dl))
        return self.fe + x, self.fn + y

    def inverse(self, x, y, iters: int = 10):
        x = np.asarray(x, dtype=np.float64) - self.fe
        y = np.asarray(y, dtype=np.float64) - self.fn
        c1, s1 = np.cos(self.chi1), np.sin(self.chi1)
        rho = np.hypot(x, y)
        ce = 2.0 * np.arctan2(rho * c1, 2.0 * self.a * self.k0 * self.m1)
        with np.errstate(invalid="ignore"):
            chi = np.where(
                rho == 0.0,
                self.chi1,
                np.arcsin(np.clip(
                    np.cos(ce) * s1 + (y * np.sin(ce) * c1) / rho,
                    -1.0, 1.0,
                )),
            )
            lam = self.lon0 + np.where(
                rho == 0.0,
                0.0,
                np.arctan2(
                    x * np.sin(ce),
                    rho * c1 * np.cos(ce) - y * s1 * np.sin(ce),
                ),
            )
        # conformal → geodetic latitude (Snyder eq. 3-4 fixed point)
        e = self.e
        phi = chi
        for _ in range(iters):
            s = np.sin(phi)
            phi = 2.0 * np.arctan(
                np.tan(np.pi / 4.0 + chi / 2.0)
                * ((1.0 + e * s) / (1.0 - e * s)) ** (e / 2.0)
            ) - np.pi / 2.0
        return np.degrees(lam), np.degrees(phi)


class _FwdTransform:
    """Picklable (lon, lat) -> (x, y) wrapper for the general warp
    path (projection rebuilt per call from params — executors never
    need the constructed object)."""

    def __init__(self, cls, *params, **kw):
        self.cls, self.params, self.kw = cls, params, kw

    def __call__(self, gx, gy):
        return self.cls(*self.params, **self.kw).forward(gx, gy)


class _InvTransform:
    """Picklable (x, y) -> (lon, lat) wrapper (see _FwdTransform)."""

    def __init__(self, cls, *params, **kw):
        self.cls, self.params, self.kw = cls, params, kw

    def __call__(self, gx, gy):
        return self.cls(*self.params, **self.kw).inverse(gx, gy)


def albers_forward_transform(*params, **kw):
    return _FwdTransform(AlbersEqualArea, *params, **kw)


class Sinusoidal:
    """Sinusoidal (Sanson-Flamsteed), ellipsoidal — the MODIS grid
    projection. From-spec Snyder PP 1395 pp. 243-248 eq. 30-1..30-11
    (forward) / 3-21 meridian arc / 3-26 footpoint-latitude series
    (inverse). ``f=0`` gives the exact sphere (the MODIS grid uses
    R=6371007.181). Reference surface: ogrct.cpp:2254 → PROJ sinu.

    Defining invariants (tests/test_sinu_aeqd.py): equal-area
    Jacobian everywhere, x = a·Δλ exactly on the equator, y on the
    central meridian = the meridian arc, sub-µm round trips."""

    def __init__(self, lon0_deg: float = 0.0,
                 false_e: float = 0.0, false_n: float = 0.0,
                 a: float = _A, f: float = _F):
        self.a, self.e2, self.e = _ellipsoid(a, f)
        # third-flattening (n) rectifying-latitude series, the same
        # machinery behind the UTM Krüger series: O(n⁵) truncation ≈
        # 0.1 µm, where Snyder 3-21's e²-series is only mm-level.
        # NOTE Snyder's e1 (3-26) IS n: (1-√(1-e²))/(1+√(1-e²)) =
        # (a-b)/(a+b).
        n = f / (2.0 - f)
        self.A_rect = (a / (1.0 + n)) * (
            1.0 + n * n / 4.0 + n ** 4 / 64.0
        )
        self.d2 = -3.0 * n / 2.0 + 9.0 * n ** 3 / 16.0
        self.d4 = 15.0 * n * n / 16.0 - 15.0 * n ** 4 / 32.0
        self.d6 = -35.0 * n ** 3 / 48.0
        self.d8 = 315.0 * n ** 4 / 512.0
        self.f2 = 3.0 * n / 2.0 - 27.0 * n ** 3 / 32.0
        self.f4 = 21.0 * n * n / 16.0 - 55.0 * n ** 4 / 32.0
        self.f6 = 151.0 * n ** 3 / 96.0
        self.f8 = 1097.0 * n ** 4 / 512.0
        self.lon0 = float(np.radians(lon0_deg))
        self.fe, self.fn = float(false_e), float(false_n)

    def merid_arc(self, phi):
        """M(φ), metres along the meridian from the equator
        (rectifying-latitude series to n⁴)."""
        return self.A_rect * (
            phi + self.d2 * np.sin(2.0 * phi)
            + self.d4 * np.sin(4.0 * phi)
            + self.d6 * np.sin(6.0 * phi)
            + self.d8 * np.sin(8.0 * phi)
        )

    def forward(self, lon_deg, lat_deg):
        lam = np.radians(np.asarray(lon_deg, dtype=np.float64))
        phi = np.radians(np.asarray(lat_deg, dtype=np.float64))
        s = np.sin(phi)
        x = self.a * (lam - self.lon0) * np.cos(phi) / np.sqrt(
            1.0 - self.e2 * s * s
        )
        return self.fe + x, self.fn + self.merid_arc(phi)

    def inverse(self, x, y):
        x = np.asarray(x, dtype=np.float64) - self.fe
        y = np.asarray(y, dtype=np.float64) - self.fn
        mu = y / self.A_rect
        phi = (
            mu + self.f2 * np.sin(2.0 * mu) + self.f4 * np.sin(4.0 * mu)
            + self.f6 * np.sin(6.0 * mu) + self.f8 * np.sin(8.0 * mu)
        )
        s = np.sin(phi)
        with np.errstate(divide="ignore", invalid="ignore"):
            lam = self.lon0 + x * np.sqrt(
                1.0 - self.e2 * s * s
            ) / (self.a * np.cos(phi))
        lam = np.where(np.abs(np.cos(phi)) < 1e-12, self.lon0, lam)
        return np.degrees(lam), np.degrees(phi)


class AzimuthalEquidistant:
    """Azimuthal Equidistant, ellipsoidal via GEODESIC polar
    coordinates — every straight line from the center has TRUE
    geodesic length and azimuth (x = s·sinα₁, y = s·cosα₁), which is
    how PROJ's `aeqd` defines the ellipsoidal case (Karney geodesics
    behind ogrct.cpp:2254); here the geodesics are the engine's
    fixed-unroll Vincenty pair (geodesy.py), forward = inverse
    geodesic problem, inverse = direct geodesic problem.

    Defining invariant: hypot(x, y) EQUALS vincenty_distance(center,
    p) by construction — the test pins it against the independently
    committed distance kernel, plus sub-µm round trips."""

    def __init__(self, lat0_deg: float, lon0_deg: float,
                 false_e: float = 0.0, false_n: float = 0.0):
        self.lat0, self.lon0 = float(lat0_deg), float(lon0_deg)
        self.fe, self.fn = float(false_e), float(false_n)

    def forward(self, lon_deg, lat_deg):
        from .geodesy import vincenty_inverse_full

        lon = np.asarray(lon_deg, dtype=np.float64)
        lat = np.asarray(lat_deg, dtype=np.float64)
        s, a1 = vincenty_inverse_full(
            np.full_like(lat, self.lat0),
            np.full_like(lon, self.lon0), lat, lon,
        )
        return self.fe + s * np.sin(a1), self.fn + s * np.cos(a1)

    def inverse(self, x, y):
        from .geodesy import vincenty_direct

        x = np.asarray(x, dtype=np.float64) - self.fe
        y = np.asarray(y, dtype=np.float64) - self.fn
        s = np.hypot(x, y)
        a1 = np.arctan2(x, y)
        lat, lon = vincenty_direct(
            np.full_like(s, self.lat0),
            np.full_like(s, self.lon0), a1, s,
        )
        # center maps to center (direct problem is 0/0 there)
        at0 = s == 0.0
        return (
            np.where(at0, self.lon0, lon),
            np.where(at0, self.lat0, lat),
        )


def sinusoidal_inverse_transform(*params, **kw):
    return _InvTransform(Sinusoidal, *params, **kw)


def aeqd_forward_transform(*params, **kw):
    return _FwdTransform(AzimuthalEquidistant, *params, **kw)

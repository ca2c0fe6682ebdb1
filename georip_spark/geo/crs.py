"""CRS transforms without pyproj/GDAL, as vectorized numpy:

- Transverse Mercator on any registered ellipsoid (Snyder 1987
  series, the standard public formulas — USGS PP 1395,
  eqs 8-9..8-17 / 8-18..8-25; sub-mm in-zone). WGS84/UTM, ETRS89/UTM,
  ED50/UTM and OSGB36/British National Grid are parameterizations of
  the same kernel.
- WGS84 ↔ Web Mercator EPSG:3857 (the closed-form spherical
  projection on the WGS84 semi-major axis — EPSG guidance note 7-2,
  "Popular Visualisation Pseudo-Mercator"; exact, no series).
- Datum shifts via the EPSG-published TOWGS84 Helmert 7-parameter
  transforms (position-vector convention, EPSG guidance note 7-2
  §4.3.3.2): geodetic → geocentric ECEF → Helmert → WGS84 ECEF →
  geodetic (Bowring's closed form). This is exactly what pyproj/PROJ
  fall back to when no distortion grid is installed, with the same
  published accuracy (OSGB36 ~2 m, ED50 ~10 m, NAD27 ~5 m CONUS;
  ETRS89 and NAD83 ≡ WGS84 at this accuracy). The grid-refined paths
  (OSTN15, NADCON) need data files this sandbox doesn't ship, so
  datums whose BEST published transform is a grid (NAD27) require the
  caller's explicit ``allow_approx=True`` — a silently-approximate
  transform is worse than none.
- Geographic WGS84 is the hub: any supported pair composes
  src → src-datum geographic → (Helmert) → WGS84 → (Helmert⁻¹) →
  dst-datum geographic → dst projection.

The reference aligns vector layers to the raster CRS before any
spatial op (georip/geoprocessing/utils.py:425-427 `to_crs`,
georip/datasets/utils.py:249-251) and accepts arbitrary EPSG codes
via pyproj. The fixtures' CRSs are UTM zones (EPSG:326xx); the datum
set here covers the common European grid-free codes a user brings
from outside the fixtures.

All functions are array-in/array-out numpy (used from Arrow-batched
pandas UDFs in operators/geom_udfs.py) — no per-row Python.
"""

from __future__ import annotations

import numpy as np

# ---------------------------------------------------------------- #
# Ellipsoids (a, 1/f⁻¹ as f) — EPSG registry values.
# ---------------------------------------------------------------- #
_ELLIPSOIDS: dict[str, tuple[float, float]] = {
    "WGS84": (6378137.0, 1.0 / 298.257223563),
    "GRS80": (6378137.0, 1.0 / 298.257222101),
    "airy1830": (6377563.396, 1.0 / 299.3249646),
    "intl1924": (6378388.0, 1.0 / 297.0),
    "clarke1866": (6378206.4, 1.0 / 294.978698214),   # EPSG:7008
}

# Datum → (ellipsoid, TOWGS84 position-vector params or None).
# Params = (tx, ty, tz [m], rx, ry, rz [arc-sec], ds [ppm]),
# source → WGS84, position-vector rotation convention.
_DATUMS: dict[str, tuple[str, tuple[float, ...] | None]] = {
    "WGS84": ("WGS84", None),
    # ETRS89 ≡ WGS84 within the Helmert accuracy class (EPSG:1149).
    "ETRS89": ("GRS80", None),
    # EPSG transformation 1314 (OSGB36 → WGS84), ~2 m accuracy.
    "OSGB36": ("airy1830",
               (446.448, -125.157, 542.060, 0.1502, 0.2470, 0.8421,
                -20.4894)),
    # EPSG transformation 1133 (ED50 → WGS84 mean European), ~10 m.
    "ED50": ("intl1924", (-87.0, -98.0, -121.0, 0.0, 0.0, 0.0, 0.0)),
    # NAD83 ≡ WGS84 within the Helmert accuracy class (EPSG:1188,
    # 0/0/0, ~1-2 m — same treatment EPSG gives ETRS89).
    "NAD83": ("GRS80", None),
    # EPSG transformation 1173 (NAD27 → WGS84 (1), CONUS geocentric
    # translation), ~5 m. The grid-refined path (NADCON) needs data
    # files this sandbox doesn't ship, so this datum is OPT-IN via
    # transform_xy(..., allow_approx=True) — a silently-approximate
    # transform would contradict the reference's pyproj+grids result.
    "NAD27": ("clarke1866", (-8.0, 160.0, 176.0, 0.0, 0.0, 0.0, 0.0)),
}

# Datums whose best published transform is a distortion grid; the
# Helmert params above are the EPSG grid-free fallback and require
# the caller's explicit allow_approx=True.
_APPROX_DATUMS = frozenset({"NAD27"})

# WGS84 kept as module constants: the UTM fast path and Web Mercator
# use them directly.
_A, _F = _ELLIPSOIDS["WGS84"]
_K0 = 0.9996
_FE = 500000.0


def parse_epsg_utm(crs: str) -> tuple[int, bool]:
    """'EPSG:326xx'/'EPSG:327xx' → (zone, is_north). Raises on
    non-WGS84-UTM codes (kept narrow; use transform_xy for the full
    supported set)."""
    code = int(str(crs).upper().replace("EPSG:", ""))
    if 32601 <= code <= 32660:
        return code - 32600, True
    if 32701 <= code <= 32760:
        return code - 32700, False
    raise ValueError(f"unsupported CRS for dependency-free transform: {crs}")


# ---------------------------------------------------------------- #
# Transverse Mercator kernel, parameterized by ellipsoid + grid
# constants (Snyder, USGS PP 1395). UTM and OSGB are instances.
# ---------------------------------------------------------------- #
def _tm_consts(a: float, f: float):
    e2 = f * (2.0 - f)
    ep2 = e2 / (1.0 - e2)
    m1 = 1 - e2 / 4 - 3 * e2 ** 2 / 64 - 5 * e2 ** 3 / 256
    m2 = 3 * e2 / 8 + 3 * e2 ** 2 / 32 + 45 * e2 ** 3 / 1024
    m3 = 15 * e2 ** 2 / 256 + 45 * e2 ** 3 / 1024
    m4 = 35 * e2 ** 3 / 3072
    return e2, ep2, m1, m2, m3, m4


def _tm_arc(phi, a, m1, m2, m3, m4):
    return a * (m1 * phi - m2 * np.sin(2 * phi) + m3 * np.sin(4 * phi)
                - m4 * np.sin(6 * phi))


def tm_forward(lon_deg, lat_deg, *, a: float, f: float, k0: float,
               lat0: float, lon0: float, fe: float, fn: float):
    """(lon, lat) degrees → projected (easting, northing) metres."""
    e2, ep2, m1, m2, m3, m4 = _tm_consts(a, f)
    lam = np.deg2rad(np.asarray(lon_deg, dtype=np.float64))
    phi = np.deg2rad(np.asarray(lat_deg, dtype=np.float64))
    lam0 = np.deg2rad(lon0)
    sin_p, cos_p, tan_p = np.sin(phi), np.cos(phi), np.tan(phi)
    n = a / np.sqrt(1 - e2 * sin_p ** 2)
    t = tan_p ** 2
    c = ep2 * cos_p ** 2
    a_ = (lam - lam0) * cos_p
    m = _tm_arc(phi, a, m1, m2, m3, m4)
    m0 = _tm_arc(np.deg2rad(lat0), a, m1, m2, m3, m4)
    x = fe + k0 * n * (
        a_ + (1 - t + c) * a_ ** 3 / 6
        + (5 - 18 * t + t ** 2 + 72 * c - 58 * ep2) * a_ ** 5 / 120
    )
    y = fn + k0 * (
        m - m0 + n * tan_p * (
            a_ ** 2 / 2 + (5 - t + 9 * c + 4 * c ** 2) * a_ ** 4 / 24
            + (61 - 58 * t + t ** 2 + 600 * c - 330 * ep2) * a_ ** 6 / 720
        )
    )
    return x, y


def tm_inverse(x, y, *, a: float, f: float, k0: float,
               lat0: float, lon0: float, fe: float, fn: float):
    """Projected (easting, northing) metres → (lon, lat) degrees."""
    e2, ep2, m1, m2, m3, m4 = _tm_consts(a, f)
    x = np.asarray(x, dtype=np.float64) - fe
    y = np.asarray(y, dtype=np.float64) - fn
    m0 = _tm_arc(np.deg2rad(lat0), a, m1, m2, m3, m4)
    m = m0 + y / k0
    mu = m / (a * m1)
    e1 = (1 - np.sqrt(1 - e2)) / (1 + np.sqrt(1 - e2))
    phi1 = (
        mu
        + (3 * e1 / 2 - 27 * e1 ** 3 / 32) * np.sin(2 * mu)
        + (21 * e1 ** 2 / 16 - 55 * e1 ** 4 / 32) * np.sin(4 * mu)
        + (151 * e1 ** 3 / 96) * np.sin(6 * mu)
        + (1097 * e1 ** 4 / 512) * np.sin(8 * mu)
    )
    sin1, cos1, tan1 = np.sin(phi1), np.cos(phi1), np.tan(phi1)
    c1 = ep2 * cos1 ** 2
    t1 = tan1 ** 2
    n1 = a / np.sqrt(1 - e2 * sin1 ** 2)
    r1 = a * (1 - e2) / (1 - e2 * sin1 ** 2) ** 1.5
    d = x / (n1 * k0)
    phi = phi1 - (n1 * tan1 / r1) * (
        d ** 2 / 2
        - (5 + 3 * t1 + 10 * c1 - 4 * c1 ** 2 - 9 * ep2) * d ** 4 / 24
        + (61 + 90 * t1 + 298 * c1 + 45 * t1 ** 2 - 252 * ep2 - 3 * c1 ** 2)
        * d ** 6 / 720
    )
    lam = np.deg2rad(lon0) + (
        d - (1 + 2 * t1 + c1) * d ** 3 / 6
        + (5 - 2 * c1 + 28 * t1 - 3 * c1 ** 2 + 8 * ep2 + 24 * t1 ** 2)
        * d ** 5 / 120
    ) / cos1
    return np.rad2deg(lam), np.rad2deg(phi)


def _utm_params(zone: int, north: bool, ellipsoid: str = "WGS84") -> dict:
    a, f = _ELLIPSOIDS[ellipsoid]
    return dict(a=a, f=f, k0=_K0, lat0=0.0, lon0=-183.0 + 6.0 * zone,
                fe=_FE, fn=0.0 if north else 10000000.0)


# WGS84/UTM wrappers (the fixtures' CRSs) — same signatures as ever.
def geographic_to_utm(lon_deg, lat_deg, zone: int, north: bool = True):
    """(lon, lat) degrees → (easting, northing) metres in the zone."""
    return tm_forward(lon_deg, lat_deg, **_utm_params(zone, north))


def utm_to_geographic(x, y, zone: int, north: bool = True):
    """(easting, northing) metres → (lon, lat) degrees."""
    return tm_inverse(x, y, **_utm_params(zone, north))


# ---------------------------------------------------------------- #
# Web Mercator (EPSG:3857): spherical formulas on the WGS84
# semi-major axis. Valid for |lat| < ~85.051129° (the square web-tile
# bound); beyond it y diverges, matching the projection's definition.
# ---------------------------------------------------------------- #
_R_MERC = _A


def geographic_to_webmercator(lon_deg, lat_deg):
    """(lon, lat) degrees → EPSG:3857 metres."""
    lon = np.asarray(lon_deg, dtype=np.float64)
    lat = np.asarray(lat_deg, dtype=np.float64)
    x = _R_MERC * np.deg2rad(lon)
    y = _R_MERC * np.log(np.tan(np.pi / 4.0 + np.deg2rad(lat) / 2.0))
    return x, y


def webmercator_to_geographic(x, y):
    """EPSG:3857 metres → (lon, lat) degrees."""
    lon = np.rad2deg(np.asarray(x, dtype=np.float64) / _R_MERC)
    lat = np.rad2deg(
        2.0 * np.arctan(np.exp(np.asarray(y, dtype=np.float64) / _R_MERC))
        - np.pi / 2.0
    )
    return lon, lat


# ---------------------------------------------------------------- #
# Datum shifts: geodetic ↔ geocentric ECEF + Helmert 7-parameter
# (position-vector convention), h = 0 (2-D workflow; the omitted
# height term moves horizontal positions < 1 mm at surface level).
# ---------------------------------------------------------------- #
def _geodetic_to_ecef(lon_deg, lat_deg, a: float, f: float):
    e2 = f * (2.0 - f)
    lam = np.deg2rad(np.asarray(lon_deg, dtype=np.float64))
    phi = np.deg2rad(np.asarray(lat_deg, dtype=np.float64))
    sin_p, cos_p = np.sin(phi), np.cos(phi)
    n = a / np.sqrt(1 - e2 * sin_p ** 2)
    return (n * cos_p * np.cos(lam), n * cos_p * np.sin(lam),
            n * (1 - e2) * sin_p)


def _ecef_to_geodetic(X, Y, Z, a: float, f: float):
    """Bowring's closed form (single pass; ~nm at surface level)."""
    e2 = f * (2.0 - f)
    b = a * (1.0 - f)
    ep2 = (a ** 2 - b ** 2) / b ** 2
    p = np.hypot(X, Y)
    theta = np.arctan2(Z * a, p * b)
    phi = np.arctan2(Z + ep2 * b * np.sin(theta) ** 3,
                     p - e2 * a * np.cos(theta) ** 3)
    lam = np.arctan2(Y, X)
    return np.rad2deg(lam), np.rad2deg(phi)


def _helmert(params: tuple[float, ...]):
    """TOWGS84 params → (3×3 matrix, translation). Position-vector
    convention: X_wgs = T + (1 + ds·1e-6) · R · X_src."""
    tx, ty, tz, rx, ry, rz, ds = params
    rx, ry, rz = (np.deg2rad(v / 3600.0) for v in (rx, ry, rz))
    s = 1.0 + ds * 1e-6
    m = s * np.array([[1.0, -rz, ry],
                      [rz, 1.0, -rx],
                      [-ry, rx, 1.0]])
    return m, np.array([tx, ty, tz])


def _shift_datum(lon, lat, src_datum: str, dst_datum: str):
    """Geographic (src datum) → geographic (dst datum) through WGS84
    ECEF. The inverse leg uses the exact matrix inverse, so a
    roundtrip is lossless to fp precision."""
    if src_datum == dst_datum:
        return lon, lat
    ell_s, pv_s = _DATUMS[src_datum]
    ell_d, pv_d = _DATUMS[dst_datum]
    xyz = np.stack(_geodetic_to_ecef(lon, lat, *_ELLIPSOIDS[ell_s]))
    if pv_s is not None:
        m, t = _helmert(pv_s)
        xyz = m @ xyz + t[:, None]
    if pv_d is not None:
        m, t = _helmert(pv_d)
        xyz = np.linalg.inv(m) @ (xyz - t[:, None])
    return _ecef_to_geodetic(xyz[0], xyz[1], xyz[2], *_ELLIPSOIDS[ell_d])


# ---------------------------------------------------------------- #
# EPSG code registry and the composing hub.
# ---------------------------------------------------------------- #
_GEOGRAPHIC_CODES = {4326: "WGS84", 4258: "ETRS89", 4277: "OSGB36",
                     4230: "ED50", 4269: "NAD83", 4267: "NAD27"}

# OSGB36 / British National Grid (EPSG:27700) grid constants —
# EPSG registry / OS "A guide to coordinate systems in Great Britain".
_BNG = dict(a=_ELLIPSOIDS["airy1830"][0], f=_ELLIPSOIDS["airy1830"][1],
            k0=0.9996012717, lat0=49.0, lon0=-2.0,
            fe=400000.0, fn=-100000.0)


def _decode(crs: str) -> tuple[str, dict | str | None]:
    """CRS → (datum, projection). projection is None (geographic),
    'webmerc', or a tm_forward/tm_inverse kwargs dict."""
    code = _epsg_code(crs)
    if code in _GEOGRAPHIC_CODES:
        return _GEOGRAPHIC_CODES[code], None
    if code == 3857:
        return "WGS84", "webmerc"
    if code == 27700:
        return "OSGB36", _BNG
    if 32601 <= code <= 32660:
        return "WGS84", _utm_params(code - 32600, True)
    if 32701 <= code <= 32760:
        return "WGS84", _utm_params(code - 32700, False)
    if 25828 <= code <= 25838:          # ETRS89 / UTM 28N–38N
        return "ETRS89", _utm_params(code - 25800, True, "GRS80")
    if 23028 <= code <= 23038:          # ED50 / UTM 28N–38N
        return "ED50", _utm_params(code - 23000, True, "intl1924")
    if 26901 <= code <= 26923:          # NAD83 / UTM 1N–23N
        return "NAD83", _utm_params(code - 26900, True, "GRS80")
    if 26701 <= code <= 26722:          # NAD27 / UTM 1N–22N
        return "NAD27", _utm_params(code - 26700, True, "clarke1866")
    raise ValueError(
        f"unsupported CRS for dependency-free transform: {crs} "
        "(supported: EPSG:4326/4258/4277/4230/4269/4267 geographic, "
        "EPSG:3857, UTM EPSG:326xx/327xx/258xx/230xx/269xx/267xx, "
        "EPSG:27700)"
    )


def _epsg_code(crs: str) -> int:
    s = str(crs).upper().strip()
    if s in ("WGS84", "CRS84", "OGC:CRS84"):
        return 4326
    try:
        return int(s.replace("EPSG:", ""))
    except ValueError:
        raise ValueError(
            f"unsupported CRS for dependency-free transform: {crs} "
            "(supported: EPSG:4326, EPSG:3857, UTM EPSG:326xx/327xx, "
            "EPSG:27700/4277, ED50 4230/230xx, ETRS89 4258/258xx)"
        ) from None


def transform_xy(x, y, src_crs: str, dst_crs: str, allow_approx: bool = False):
    """Transform point arrays between any two supported CRSs,
    composing src → geographic → (Helmert datum shift) → geographic →
    dst. Identity short-circuits.

    ``allow_approx``: datums whose BEST published transform is a
    distortion grid this sandbox can't ship (NAD27 → NADCON) are
    rejected by default; pass True to accept the EPSG grid-free
    Helmert fallback at its published accuracy (NAD27: EPSG:1173,
    ~5 m CONUS) — the same fallback pyproj/PROJ uses with no grids
    installed."""
    if str(src_crs) == str(dst_crs):
        return np.asarray(x, dtype=np.float64), np.asarray(y, dtype=np.float64)
    datum_s, proj_s = _decode(src_crs)
    datum_d, proj_d = _decode(dst_crs)
    # the gate fires only when a DATUM SHIFT actually crosses an
    # approx datum: same-datum transforms (e.g. NAD27 geographic ↔
    # NAD27/UTM) are pure projection math and exact
    if (
        not allow_approx
        and datum_s != datum_d
        and (datum_s in _APPROX_DATUMS or datum_d in _APPROX_DATUMS)
    ):
        d, crs = (
            (datum_s, src_crs) if datum_s in _APPROX_DATUMS else (datum_d, dst_crs)
        )
        raise ValueError(
            f"{crs} ({d}) shifts datum exactly only through a "
            "distortion grid (NADCON) not available here; pass "
            "allow_approx=True to accept the EPSG grid-free "
            "Helmert fallback (~5 m published accuracy)"
        )
    if datum_s == datum_d and proj_s == proj_d:
        return np.asarray(x, dtype=np.float64), np.asarray(y, dtype=np.float64)
    if proj_s is None:
        lon, lat = (np.asarray(x, dtype=np.float64),
                    np.asarray(y, dtype=np.float64))
    elif proj_s == "webmerc":
        lon, lat = webmercator_to_geographic(x, y)
    else:
        lon, lat = tm_inverse(x, y, **proj_s)
    lon, lat = _shift_datum(lon, lat, datum_s, datum_d)
    if proj_d is None:
        return lon, lat
    if proj_d == "webmerc":
        return geographic_to_webmercator(lon, lat)
    return tm_forward(lon, lat, **proj_d)

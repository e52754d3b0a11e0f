"""Coordinate reprojection — the gdalwarp/OGRCoordinateTransformation semantics.

Replicates the array-batched transform surface of GDAL's
``OGRCoordinateTransformation::TransformWithErrorCodes`` (ogr/ogrct.cpp:2344):
operate on whole coordinate arrays, per-point failures yield a success flag
and NaN outputs instead of aborting the batch. Axis order is always lon,lat
(OAMS_TRADITIONAL_GIS_ORDER, ogr/ogrsf_frmts/generic/ogr_gensql.cpp:400).

pyproj/PROJ is not available in this environment, so the projection math is
implemented directly (public formulas):

- EPSG:3857 WebMercator: spherical Mercator on the WGS84 semi-major axis.
- EPSG:326xx/327xx UTM: transverse Mercator via the Krüger series to n^6
  (Karney 2011, "Transverse Mercator with an accuracy of a few nanometers"),
  nanometer-accurate within UTM extents.
- EPSG:2154 Lambert-93 (LCC 2SP), EPSG:3031/3032 Polar Stereographic,
  EPSG:3577 Australian Albers (equal-area, GDA94≡WGS84 null transform),
  EPSG:25832 ETRS89 / UTM 32N (parameterized Krüger on GRS80, null
  ETRS89↔WGS84 transform EPSG:1149).
- Non-WGS84 datums via geocentric Helmert: EPSG:27700 OSGB36 / British
  National Grid (7-parameter, OS Guide §6.6) and EPSG:26718 NAD27 /
  UTM 18N (EPSG:1173 geocentric translation, Clarke 1866).

Dispatch is driven by the EPSG parameter table (``epsg_table()``): each
code maps to an EPSG projection-method family plus its parameter
object, so adding a code within a derived family is one table row.

DATUM CONTRACT (read this before adding codes): every registered family
except 27700/26718 sits on WGS84 (or a datum with a published null
transform to it); arbitrary-EPSG datum shifts are NOT supported — GDAL
does any pair via PROJ's transformation database
(ogr/ogrct.cpp:1705-1803). Adding a datum here requires its published
Helmert parameters (a HelmertParams instance) plus a worked example.
Grid-based corrections (NTv2/OSTN15/NADCON) have a structural seam in
gdal_spark.gridshift (broadcast cell-table join + bilinear, grid-exact
on its fixture — the flag-gated alternative 27700 path used by the
reproject_osgb36_grid query); this DEFAULT Helmert 27700 chain still
carries the documented ~3.5 m single-Helmert accuracy vs OSTN15 and
26718 the ~5 m CONUS accuracy vs NADCON until real grid files are
loaded into that seam (a parquet load away — the fixture differs from
OSTN15 only in where the table rows come from).

Two execution paths, same formulas:

1. **JVM path** (hot path): a staged list of (column, SQL-expr) assignments —
   pure Catalyst expressions, whole-stage codegen, zero Python. The identical
   SQL text also runs under DuckDB, which is how the test oracle checks it.
2. **numpy path**: vectorized kernels for use inside raster/warp pandas UDFs
   and for the inverse transforms (Newton iteration, not SQL-expressible).
"""

from __future__ import annotations

import math

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

WGS84_A = 6378137.0
WGS84_F = 1.0 / 298.257223563
WGS84_E2 = WGS84_F * (2.0 - WGS84_F)
WGS84_E = math.sqrt(WGS84_E2)

_N = WGS84_F / (2.0 - WGS84_F)
_N2 = _N * _N
_N3 = _N2 * _N
_N4 = _N3 * _N
_N5 = _N4 * _N
_N6 = _N5 * _N

# Rectifying radius and Krüger series coefficients (Karney 2011, eqs. 14-23).
KRUGER_A = WGS84_A / (1.0 + _N) * (1.0 + _N2 / 4.0 + _N4 / 64.0 + _N6 / 256.0)
ALPHA = (
    _N / 2.0 - 2.0 / 3.0 * _N2 + 5.0 / 16.0 * _N3 + 41.0 / 180.0 * _N4
    - 127.0 / 288.0 * _N5 + 7891.0 / 37800.0 * _N6,
    13.0 / 48.0 * _N2 - 3.0 / 5.0 * _N3 + 557.0 / 1440.0 * _N4
    + 281.0 / 630.0 * _N5 - 1983433.0 / 1935360.0 * _N6,
    61.0 / 240.0 * _N3 - 103.0 / 140.0 * _N4 + 15061.0 / 26880.0 * _N5
    + 167603.0 / 181440.0 * _N6,
    49561.0 / 161280.0 * _N4 - 179.0 / 168.0 * _N5 + 6601661.0 / 7257600.0 * _N6,
    34729.0 / 80640.0 * _N5 - 3418889.0 / 1995840.0 * _N6,
    212378941.0 / 319334400.0 * _N6,
)
BETA = (
    _N / 2.0 - 2.0 / 3.0 * _N2 + 37.0 / 96.0 * _N3 - 1.0 / 360.0 * _N4
    - 81.0 / 512.0 * _N5 + 96199.0 / 604800.0 * _N6,
    1.0 / 48.0 * _N2 + 1.0 / 15.0 * _N3 - 437.0 / 1440.0 * _N4
    + 46.0 / 105.0 * _N5 - 1118711.0 / 3870720.0 * _N6,
    17.0 / 480.0 * _N3 - 37.0 / 840.0 * _N4 - 209.0 / 4480.0 * _N5
    + 5569.0 / 90720.0 * _N6,
    4397.0 / 161280.0 * _N4 - 11.0 / 504.0 * _N5 - 830251.0 / 7257600.0 * _N6,
    4583.0 / 161280.0 * _N5 - 108847.0 / 3991680.0 * _N6,
    20648693.0 / 638668800.0 * _N6,
)

UTM_K0 = 0.9996
UTM_FE = 500000.0
# Fixed-point / Newton steps of every ellipsoidal inverse, numpy and SQL
INV_ITERS = 8
MAX_MERC_LAT = 89.9999999  # beyond this WebMercator y diverges → failure flag


def utm_lon0_deg(zone: int) -> float:
    return zone * 6.0 - 183.0


# ---------------------------------------------------------------------------
# numpy kernels
# ---------------------------------------------------------------------------


def webmercator_fwd_np(lon, lat):
    """EPSG:4326 → EPSG:3857. Returns (x, y, ok)."""
    lon = np.asarray(lon, dtype=np.float64)
    lat = np.asarray(lat, dtype=np.float64)
    ok = (
        np.isfinite(lon)
        & np.isfinite(lat)
        & (np.abs(lat) < MAX_MERC_LAT)
        & (np.abs(lon) <= 180.0)
    )
    phi = np.radians(np.where(ok, lat, 0.0))
    x = WGS84_A * np.radians(lon)
    s = np.sin(phi)
    y = WGS84_A * 0.5 * np.log((1.0 + s) / (1.0 - s))
    x = np.where(ok, x, np.nan)
    y = np.where(ok, y, np.nan)
    return x, y, ok


def webmercator_inv_np(x, y):
    x = np.asarray(x, dtype=np.float64)
    y = np.asarray(y, dtype=np.float64)
    lon = np.degrees(x / WGS84_A)
    lat = np.degrees(2.0 * np.arctan(np.exp(y / WGS84_A)) - np.pi / 2.0)
    ok = np.isfinite(lon) & np.isfinite(lat)
    return lon, lat, ok


def tmerc_fwd_np(lon, lat, lon0_deg: float, fn: float = 0.0):
    """Krüger-series forward transverse Mercator. Returns (E, N, ok)."""
    lon = np.asarray(lon, dtype=np.float64)
    lat = np.asarray(lat, dtype=np.float64)
    ok = (
        np.isfinite(lon) & np.isfinite(lat) & (np.abs(lat) <= 90.0)
    )
    phi = np.radians(np.where(ok, lat, 0.0))
    lam = np.radians(lon) - math.radians(lon0_deg)
    lam = np.arctan2(np.sin(lam), np.cos(lam))  # wrap to (-pi, pi]
    s = np.sin(phi)
    # conformal latitude tangent: t = sinh(atanh(s) - e*atanh(e*s))
    t = np.sinh(np.arctanh(s) - WGS84_E * np.arctanh(WGS84_E * s))
    cl = np.cos(lam)
    xi_p = np.arctan2(t, cl)
    eta_p = np.arcsinh(np.sin(lam) / np.sqrt(t * t + cl * cl))
    xi = xi_p.copy()
    eta = eta_p.copy()
    for j, a in enumerate(ALPHA, start=1):
        xi += a * np.sin(2 * j * xi_p) * np.cosh(2 * j * eta_p)
        eta += a * np.cos(2 * j * xi_p) * np.sinh(2 * j * eta_p)
    E = UTM_FE + UTM_K0 * KRUGER_A * eta
    N = fn + UTM_K0 * KRUGER_A * xi
    E = np.where(ok, E, np.nan)
    N = np.where(ok, N, np.nan)
    return E, N, ok


def tmerc_inv_np(E, N, lon0_deg: float, fn: float = 0.0):
    """Inverse transverse Mercator (Krüger + Newton on tau). (lon, lat, ok)."""
    E = np.asarray(E, dtype=np.float64)
    N = np.asarray(N, dtype=np.float64)
    xi = (N - fn) / (UTM_K0 * KRUGER_A)
    eta = (E - UTM_FE) / (UTM_K0 * KRUGER_A)
    xi_p = xi.copy()
    eta_p = eta.copy()
    for j, b in enumerate(BETA, start=1):
        xi_p -= b * np.sin(2 * j * xi) * np.cosh(2 * j * eta)
        eta_p -= b * np.cos(2 * j * xi) * np.sinh(2 * j * eta)
    sh = np.sinh(eta_p)
    cx = np.cos(xi_p)
    tau_p = np.sin(xi_p) / np.sqrt(sh * sh + cx * cx)
    # Newton-solve tau from tau' (Karney eq. 19-21)
    tau = tau_p.copy()
    e = WGS84_E
    for _ in range(5):
        sigma = np.sinh(e * np.arctanh(e * tau / np.sqrt(1.0 + tau * tau)))
        f_tau = tau * np.sqrt(1.0 + sigma * sigma) - sigma * np.sqrt(1.0 + tau * tau) - tau_p
        d_tau = (
            (np.sqrt((1.0 + sigma * sigma) * (1.0 + tau * tau)) - sigma * tau)
            * (1.0 - e * e)
            * np.sqrt(1.0 + tau * tau)
            / (1.0 + (1.0 - e * e) * tau * tau)
        )
        tau = tau - f_tau / d_tau
    lat = np.degrees(np.arctan(tau))
    lam = np.arctan2(sh, cx)
    lon = np.degrees(lam) + lon0_deg
    lon = (lon + 180.0) % 360.0 - 180.0
    ok = np.isfinite(lon) & np.isfinite(lat)
    return lon, lat, ok


def haversine_m(lon1, lat1, lon2, lat2):
    """Great-circle distance in meters on the WGS84 sphere (a as radius)."""
    lon1, lat1, lon2, lat2 = (np.radians(np.asarray(v, dtype=np.float64))
                              for v in (lon1, lat1, lon2, lat2))
    dlon = lon2 - lon1
    dlat = lat2 - lat1
    h = np.sin(dlat / 2.0) ** 2 + np.cos(lat1) * np.cos(lat2) * np.sin(dlon / 2.0) ** 2
    return 2.0 * WGS84_A * np.arcsin(np.sqrt(np.clip(h, 0.0, 1.0)))


def haversine_sql(lon1: str, lat1: str, lon2: str, lat2: str) -> str:
    """Great-circle distance (m) — same expression text for Spark & DuckDB,
    so engine and oracle compute bit-identical doubles."""
    return (
        f"(2.0 * {WGS84_A!r} * asin(sqrt("
        f"pow(sin((radians({lat2}) - radians({lat1})) / 2.0), 2)"
        f" + cos(radians({lat1})) * cos(radians({lat2}))"
        f" * pow(sin((radians({lon2}) - radians({lon1})) / 2.0), 2))))"
    )


# ---------------------------------------------------------------------------
# Shared staged-SQL pipelines (Spark Catalyst ≡ DuckDB, same text).
# sinh/cosh/atanh/asinh are spelled via exp/ln so DuckDB 1.0 accepts them.
# ---------------------------------------------------------------------------


def _fmt(x: float) -> str:
    return repr(float(x))


def webmercator_sql_stages(lon: str, lat: str) -> list[tuple[str, str]]:
    """Stages computing x_3857, y_3857, ok from lon/lat columns."""
    return [
        ("ok", f"(isnan({lon}) = false and isnan({lat}) = false"
               f" and abs({lat}) < {_fmt(MAX_MERC_LAT)} and abs({lon}) <= 180.0)"),
        ("_s", f"sin(radians(case when ok then {lat} else 0.0 end))"),
        ("x_3857", f"case when ok then {_fmt(WGS84_A)} * radians({lon})"
                   f" else cast('nan' as double) end"),
        ("y_3857", f"case when ok then {_fmt(WGS84_A)} * 0.5 *"
                   f" ln((1.0 + _s) / (1.0 - _s)) else cast('nan' as double) end"),
    ]


def tmerc_sql_stages(lon: str, lat: str, lon0_deg: float,
                     fn: float = 0.0) -> list[tuple[str, str]]:
    """Stages computing easting/northing/ok — Krüger forward, shared text.

    atanh(x) = 0.5*ln((1+x)/(1-x)); sinh(x) = (exp(x)-exp(-x))/2;
    asinh(x) = ln(x + sqrt(x*x+1)); cosh(x) = (exp(x)+exp(-x))/2.
    """
    e = _fmt(WGS84_E)
    stages: list[tuple[str, str]] = [
        ("ok", f"(isnan({lon}) = false and isnan({lat}) = false"
               f" and abs({lat}) <= 90.0)"),
        ("_phi", f"radians(case when ok then {lat} else 0.0 end)"),
        ("_lam", f"radians({lon}) - radians({_fmt(lon0_deg)})"),
        ("_lam", "atan2(sin(_lam), cos(_lam))"),
        ("_sp", "sin(_phi)"),
        ("_at1", "0.5 * ln((1.0 + _sp) / (1.0 - _sp))"),
        ("_at2", f"0.5 * ln((1.0 + {e} * _sp) / (1.0 - {e} * _sp))"),
        ("_w", f"_at1 - {e} * _at2"),
        ("_t", "(exp(_w) - exp(-_w)) / 2.0"),
        ("_cl", "cos(_lam)"),
        ("_xip", "atan2(_t, _cl)"),
        ("_q", "sin(_lam) / sqrt(_t * _t + _cl * _cl)"),
        ("_etap", "ln(_q + sqrt(_q * _q + 1.0))"),
        ("_xi", "_xip"),
        ("_eta", "_etap"),
    ]
    for j, a in enumerate(ALPHA, start=1):
        stages.append((f"_ch{j}", f"(exp({2*j} * _etap) + exp({-2*j} * _etap)) / 2.0"))
        stages.append((f"_sh{j}", f"(exp({2*j} * _etap) - exp({-2*j} * _etap)) / 2.0"))
        stages.append(("_xi", f"_xi + {_fmt(a)} * sin({2*j} * _xip) * _ch{j}"))
        stages.append(("_eta", f"_eta + {_fmt(a)} * cos({2*j} * _xip) * _sh{j}"))
    ka = _fmt(UTM_K0 * KRUGER_A)
    stages.append(("easting", f"case when ok then {_fmt(UTM_FE)}"
                              f" + {ka} * _eta"
                              f" else cast('nan' as double) end"))
    stages.append(("northing", f"case when ok then {_fmt(fn)} + {ka} * _xi"
                               f" else cast('nan' as double) end"))
    return stages


# ---------------------------------------------------------------------------
# Lambert Conformal Conic 2SP (EPSG method 9802) — e.g. EPSG:2154
# (RGF93 / Lambert-93 on GRS80). The projection constants (n, F, r_F) are
# computed once in Python and emitted as double literals into the shared
# SQL, so both engines start from identical values; the per-point math
# uses only tan/ln/exp/sin/cos (pow spelled exp(y·ln(x)) — the primitive
# set already verified bit-identical cross-engine by the Krüger stages).
# Ref: ogr/ogrct.cpp:1705-1803 (proj_create_crs_to_crs dispatch by code).
# ---------------------------------------------------------------------------

GRS80_A = 6378137.0
GRS80_F = 1.0 / 298.257222101
GRS80_E2 = GRS80_F * (2.0 - GRS80_F)
GRS80_E = math.sqrt(GRS80_E2)


class LccParams:
    """Precomputed 2SP constants for one LCC definition."""

    def __init__(self, phi1_deg: float, phi2_deg: float, phi0_deg: float,
                 lon0_deg: float, fe: float, fn: float,
                 a: float = GRS80_A, e: float = GRS80_E):
        self.lon0_deg = lon0_deg
        self.fe = fe
        self.fn = fn
        self.a = a
        self.e = e

        def m(phi):
            return math.cos(phi) / math.sqrt(
                1.0 - e * e * math.sin(phi) ** 2)

        def t(phi):
            return (math.tan(math.pi / 4.0 - phi / 2.0)
                    / ((1.0 - e * math.sin(phi))
                       / (1.0 + e * math.sin(phi))) ** (e / 2.0))

        p1, p2, p0 = (math.radians(v) for v in (phi1_deg, phi2_deg, phi0_deg))
        self.n = ((math.log(m(p1)) - math.log(m(p2)))
                  / (math.log(t(p1)) - math.log(t(p2))))
        self.big_f = m(p1) / (self.n * t(p1) ** self.n)
        self.r0 = a * self.big_f * t(p0) ** self.n


LCC_2154 = LccParams(phi1_deg=49.0, phi2_deg=44.0, phi0_deg=46.5,
                     lon0_deg=3.0, fe=700000.0, fn=6600000.0)


def lcc_fwd_np(lon, lat, p: LccParams = LCC_2154):
    """LCC 2SP forward. Returns (easting, northing, ok)."""
    lon = np.asarray(lon, dtype=np.float64)
    lat = np.asarray(lat, dtype=np.float64)
    ok = (np.isfinite(lon) & np.isfinite(lat) & (np.abs(lat) < 90.0))
    phi = np.radians(np.where(ok, lat, 0.0))
    s = np.sin(phi)
    t = (np.tan(np.pi / 4.0 - phi / 2.0)
         / np.exp((p.e / 2.0)
                  * np.log((1.0 - p.e * s) / (1.0 + p.e * s))))
    r = p.a * p.big_f * np.exp(p.n * np.log(t))
    th = p.n * (np.radians(lon) - math.radians(p.lon0_deg))
    easting = p.fe + r * np.sin(th)
    northing = p.fn + p.r0 - r * np.cos(th)
    easting = np.where(ok, easting, np.nan)
    northing = np.where(ok, northing, np.nan)
    return easting, northing, ok


def lcc_inv_np(E, N, p: LccParams = LCC_2154):
    """LCC 2SP inverse (fixed-point iteration on φ)."""
    E = np.asarray(E, dtype=np.float64)
    N = np.asarray(N, dtype=np.float64)
    x = E - p.fe
    y = p.r0 - (N - p.fn)
    r = np.sign(p.n) * np.sqrt(x * x + y * y)
    t = np.exp(np.log(r / (p.a * p.big_f)) / p.n)
    th = np.arctan2(x, y)
    lon = np.degrees(th / p.n + math.radians(p.lon0_deg))
    lon = lon - 360.0 * np.floor((lon + 180.0) / 360.0)
    phi = np.pi / 2.0 - 2.0 * np.arctan(t)
    for _ in range(INV_ITERS):
        s = p.e * np.sin(phi)
        phi = (np.pi / 2.0
               - 2.0 * np.arctan(t * ((1.0 - s) / (1.0 + s)) ** (p.e / 2.0)))
    lat = np.degrees(phi)
    ok = np.isfinite(lon) & np.isfinite(lat)
    return lon, lat, ok


def lcc_sql_stages(lon: str, lat: str,
                   p: LccParams = LCC_2154) -> list[tuple[str, str]]:
    """Stages computing easting, northing, ok — LCC 2SP, shared text."""
    e = _fmt(p.e)
    return [
        ("ok", f"(isnan({lon}) = false and isnan({lat}) = false"
               f" and abs({lat}) < 90.0)"),
        ("_phi", f"radians(case when ok then {lat} else 0.0 end)"),
        ("_s", "sin(_phi)"),
        ("_t", f"tan(pi() / 4.0 - _phi / 2.0)"
               f" / exp(({e} / 2.0) * ln((1.0 - {e} * _s) / (1.0 + {e} * _s)))"),
        ("_r", f"{_fmt(p.a * p.big_f)} * exp({_fmt(p.n)} * ln(_t))"),
        ("_th", f"{_fmt(p.n)} * (radians({lon}) - radians({_fmt(p.lon0_deg)}))"),
        ("easting", f"case when ok then {_fmt(p.fe)} + _r * sin(_th)"
                    f" else cast('nan' as double) end"),
        ("northing", f"case when ok then {_fmt(p.fn)} + {_fmt(p.r0)}"
                     f" - _r * cos(_th) else cast('nan' as double) end"),
    ]


# ---------------------------------------------------------------------------
# Polar Stereographic variant B (EPSG method 9829, south-pole aspect) —
# e.g. EPSG:3031 (WGS84 / Antarctic Polar Stereographic, φF = −71°,
# λ0 = 0, FE = FN = 0) and EPSG:3032 (Australian Antarctic, λ0 = 70°,
# FE = FN = 6,000,000). Constants precomputed in Python, emitted as
# shared double literals; per-point math restricted to the verified
# primitive set (tan/atan/sin/cos/ln/exp).
# ---------------------------------------------------------------------------

class PsParams:
    """Precomputed constants for one polar stereographic definition:
    ρ = k_rho · t (EPSG Guidance Note 7-2 §3.4.1).

    Both poles share one formula set through the south-equivalent
    latitude ψ = sgn·φ (sgn = +1 south aspect, −1 north): the north
    t(φ) equals the south t(−φ), E is aspect-independent, and N flips
    the cos term's sign. k_rho comes from either a standard parallel
    (variant B, ``phi_f_deg``) or a scale at the pole (variant A,
    ``k0`` — e.g. UPS k0 = 0.994), via the closed form
    k_rho = 2·a·k0 / sqrt((1+e)^(1+e) · (1−e)^(1−e))."""

    def __init__(self, phi_f_deg: float | None, lon0_deg: float,
                 fe: float, fn: float,
                 a: float = WGS84_A, e: float = WGS84_E,
                 south: bool = True, k0: float | None = None):
        self.lon0_deg = lon0_deg
        self.fe = fe
        self.fn = fn
        self.e = e
        self.sgn = 1.0 if south else -1.0
        if k0 is not None:
            self.k_rho = (2.0 * a * k0
                          / math.sqrt((1.0 + e) ** (1.0 + e)
                                      * (1.0 - e) ** (1.0 - e)))
        else:
            pf = math.radians(phi_f_deg) * self.sgn  # south-equivalent
            t_f = (math.tan(math.pi / 4.0 + pf / 2.0)
                   / ((1.0 + e * math.sin(pf))
                      / (1.0 - e * math.sin(pf))) ** (e / 2.0))
            m_f = math.cos(pf) / math.sqrt(
                1.0 - e * e * math.sin(pf) ** 2)
            self.k_rho = a * m_f / t_f


PS_3031 = PsParams(phi_f_deg=-71.0, lon0_deg=0.0, fe=0.0, fn=0.0)
PS_3032 = PsParams(phi_f_deg=-71.0, lon0_deg=70.0,
                   fe=6000000.0, fn=6000000.0)
# EPSG:3413 WGS 84 / NSIDC Sea Ice Polar Stereographic North
PS_3413 = PsParams(phi_f_deg=70.0, lon0_deg=-45.0, fe=0.0, fn=0.0,
                   south=False)
# EPSG:32661/32761 Universal Polar Stereographic (variant A, k0=0.994)
PS_32661 = PsParams(phi_f_deg=None, lon0_deg=0.0,
                    fe=2000000.0, fn=2000000.0, south=False, k0=0.994)
PS_32761 = PsParams(phi_f_deg=None, lon0_deg=0.0,
                    fe=2000000.0, fn=2000000.0, south=True, k0=0.994)


def ps_fwd_np(lon, lat, p: PsParams = PS_3031):
    """Polar Stereographic forward: (easting, northing, ok). Both
    aspects via the south-equivalent latitude ψ = sgn·φ (see PsParams);
    the opposite pole (ψ = +90°, where t → ∞) is rejected per point."""
    lon = np.asarray(lon, dtype=np.float64)
    lat = np.asarray(lat, dtype=np.float64)
    ok = (np.isfinite(lon) & np.isfinite(lat)
          & (p.sgn * lat < 90.0) & (p.sgn * lat >= -90.0))
    phi = p.sgn * np.radians(np.where(ok, lat, 0.0))
    s = np.sin(phi)
    t = (np.tan(np.pi / 4.0 + phi / 2.0)
         / np.exp((p.e / 2.0)
                  * np.log((1.0 + p.e * s) / (1.0 - p.e * s))))
    rho = p.k_rho * t
    th = np.radians(lon) - math.radians(p.lon0_deg)
    easting = np.where(ok, p.fe + rho * np.sin(th), np.nan)
    northing = np.where(ok, p.fn + p.sgn * rho * np.cos(th), np.nan)
    return easting, northing, ok


def ps_inv_np(E, N, p: PsParams = PS_3031):
    """Polar Stereographic inverse (fixed-point on the south-equivalent
    ψ, then φ = sgn·ψ)."""
    E = np.asarray(E, dtype=np.float64)
    N = np.asarray(N, dtype=np.float64)
    x = E - p.fe
    y = p.sgn * (N - p.fn)
    t = np.sqrt(x * x + y * y) / p.k_rho
    phi = 2.0 * np.arctan(t) - np.pi / 2.0
    for _ in range(INV_ITERS):
        s = p.e * np.sin(phi)
        phi = 2.0 * np.arctan(
            t * np.exp((p.e / 2.0) * np.log((1.0 + s) / (1.0 - s)))) \
            - np.pi / 2.0
    lon = np.degrees(np.arctan2(x, y) + math.radians(p.lon0_deg))
    lon = lon - 360.0 * np.floor((lon + 180.0) / 360.0)
    lat = p.sgn * np.degrees(phi)
    ok = np.isfinite(lon) & np.isfinite(lat)
    return lon, lat, ok


def ps_sql_stages(lon: str, lat: str,
                  p: PsParams = PS_3031) -> list[tuple[str, str]]:
    """Stages computing easting, northing, ok — PS both aspects via the
    south-equivalent latitude (see PsParams), shared text."""
    e = _fmt(p.e)
    g = _fmt(p.sgn)
    return [
        ("ok", f"(isnan({lon}) = false and isnan({lat}) = false"
               f" and {g} * {lat} < 90.0 and {g} * {lat} >= -90.0)"),
        ("_phi", f"{g} * radians(case when ok then {lat} else 0.0 end)"),
        ("_s", "sin(_phi)"),
        ("_t", f"tan(pi() / 4.0 + _phi / 2.0)"
               f" / exp(({e} / 2.0) * ln((1.0 + {e} * _s)"
               f" / (1.0 - {e} * _s)))"),
        ("_rho", f"{_fmt(p.k_rho)} * _t"),
        ("_th", f"radians({lon}) - radians({_fmt(p.lon0_deg)})"),
        ("easting", f"case when ok then {_fmt(p.fe)} + _rho * sin(_th)"
                    f" else cast('nan' as double) end"),
        ("northing", f"case when ok then {_fmt(p.fn)} + {g} * _rho"
                     f" * cos(_th) else cast('nan' as double) end"),
    ]


# ---------------------------------------------------------------------------
# Albers Equal Area 2SP (EPSG method 9822) — e.g. EPSG:3577 (GDA94 /
# Australian Albers, GRS80; the GDA94↔WGS84 transformation is the
# published null transform EPSG:1150, so no datum-shift step applies).
# Formulas: EPSG Guidance Note 7-2 §3.5.1 / Snyder 1987 §14. Constants
# (n, C, ρ0) precomputed in Python, emitted as shared double literals.
# Note n < 0 for southern two-parallel definitions: ρ and ρ0 carry n's
# sign (the PROJ/Snyder convention), so forward needs no case split and
# the inverse flips atan2's arguments by sign(n).
# ---------------------------------------------------------------------------


def _authalic_q(phi: float, e: float) -> float:
    """Snyder's q(φ) (eq. 3-12) on an ellipsoid of eccentricity ``e``."""
    e2 = e * e
    s = math.sin(phi)
    return (1.0 - e2) * (
        s / (1.0 - e2 * s * s)
        - (1.0 / (2.0 * e)) * math.log((1.0 - e * s) / (1.0 + e * s)))


class AeaParams:
    """Precomputed 2SP constants for one Albers Equal Area definition."""

    def __init__(self, phi1_deg: float, phi2_deg: float, phi0_deg: float,
                 lon0_deg: float, fe: float, fn: float,
                 a: float = GRS80_A, e: float = GRS80_E):
        self.lon0_deg = lon0_deg
        self.fe = fe
        self.fn = fn
        self.a = a
        self.e = e
        e2 = e * e

        def m(phi):
            return math.cos(phi) / math.sqrt(
                1.0 - e2 * math.sin(phi) ** 2)

        p1, p2, p0 = (math.radians(v) for v in (phi1_deg, phi2_deg, phi0_deg))
        q1, q2, q0 = (_authalic_q(p, e) for p in (p1, p2, p0))
        self.n = (m(p1) ** 2 - m(p2) ** 2) / (q2 - q1)
        self.c = m(p1) ** 2 + self.n * q1
        self.rho0 = a * math.sqrt(self.c - self.n * q0) / self.n


AEA_3577 = AeaParams(phi1_deg=-18.0, phi2_deg=-36.0, phi0_deg=0.0,
                     lon0_deg=132.0, fe=0.0, fn=0.0)
# EPSG:5070 NAD83 / Conus Albers (GRS80; NAD83↔WGS84 is the published
# null transform EPSG:1188, ~1-2 m plate-drift accuracy like GDA94)
AEA_5070 = AeaParams(phi1_deg=29.5, phi2_deg=45.5, phi0_deg=23.0,
                     lon0_deg=-96.0, fe=0.0, fn=0.0)


def aea_fwd_np(lon, lat, p: AeaParams = AEA_3577):
    """Albers Equal Area forward. Returns (easting, northing, ok)."""
    lon = np.asarray(lon, dtype=np.float64)
    lat = np.asarray(lat, dtype=np.float64)
    e2 = p.e * p.e
    ok = (np.isfinite(lon) & np.isfinite(lat) & (np.abs(lat) <= 90.0))
    phi = np.radians(np.where(ok, lat, 0.0))
    s = np.sin(phi)
    q = (1.0 - e2) * (
        s / (1.0 - e2 * s * s)
        - (1.0 / (2.0 * p.e)) * np.log((1.0 - p.e * s) / (1.0 + p.e * s)))
    arg = p.c - p.n * q
    ok = ok & (arg >= 0.0)
    rho = p.a * np.sqrt(np.where(ok, arg, 0.0)) / p.n
    th = p.n * (np.radians(lon) - math.radians(p.lon0_deg))
    easting = np.where(ok, p.fe + rho * np.sin(th), np.nan)
    northing = np.where(ok, p.fn + p.rho0 - rho * np.cos(th), np.nan)
    return easting, northing, ok


def aea_inv_np(E, N, p: AeaParams = AEA_3577):
    """Albers Equal Area inverse (fixed-point on φ, Snyder eq. 3-16)."""
    E = np.asarray(E, dtype=np.float64)
    N = np.asarray(N, dtype=np.float64)
    e2 = p.e * p.e
    sgn = 1.0 if p.n >= 0.0 else -1.0
    x = E - p.fe
    y = p.rho0 - (N - p.fn)
    rho = np.sqrt(x * x + y * y)
    th = np.arctan2(sgn * x, sgn * y)
    lon = np.degrees(th / p.n + math.radians(p.lon0_deg))
    lon = lon - 360.0 * np.floor((lon + 180.0) / 360.0)
    qp = (p.c - rho * rho * p.n * p.n / (p.a * p.a)) / p.n
    phi = np.arcsin(np.clip(qp / 2.0, -1.0, 1.0))
    for _ in range(INV_ITERS):
        s = np.sin(phi)
        es = p.e * s
        phi = phi + ((1.0 - e2 * s * s) ** 2 / (2.0 * np.cos(phi))) * (
            qp / (1.0 - e2) - s / (1.0 - e2 * s * s)
            + (1.0 / (2.0 * p.e)) * np.log((1.0 - es) / (1.0 + es)))
    lat = np.degrees(phi)
    ok = np.isfinite(lon) & np.isfinite(lat)
    return lon, lat, ok


def aea_sql_stages(lon: str, lat: str,
                   p: AeaParams = AEA_3577) -> list[tuple[str, str]]:
    """Stages computing easting, northing, ok — Albers 2SP, shared text."""
    e = _fmt(p.e)
    e2 = _fmt(p.e * p.e)
    return [
        ("ok", f"(isnan({lon}) = false and isnan({lat}) = false"
               f" and abs({lat}) <= 90.0)"),
        ("_phi", f"radians(case when ok then {lat} else 0.0 end)"),
        ("_s", "sin(_phi)"),
        ("_q", f"(1.0 - {e2}) * (_s / (1.0 - {e2} * _s * _s)"
               f" - (1.0 / (2.0 * {e}))"
               f" * ln((1.0 - {e} * _s) / (1.0 + {e} * _s)))"),
        ("_arg", f"{_fmt(p.c)} - {_fmt(p.n)} * _q"),
        ("ok", "(ok and _arg >= 0.0)"),
        ("_rho", f"{_fmt(p.a)} * sqrt(case when ok then _arg else 0.0 end)"
                 f" / {_fmt(p.n)}"),
        ("_th", f"{_fmt(p.n)} * (radians({lon})"
                f" - radians({_fmt(p.lon0_deg)}))"),
        ("easting", f"case when ok then {_fmt(p.fe)} + _rho * sin(_th)"
                    f" else cast('nan' as double) end"),
        ("northing", f"case when ok then {_fmt(p.fn)} + {_fmt(p.rho0)}"
                     f" - _rho * cos(_th) else cast('nan' as double) end"),
    ]


# ---------------------------------------------------------------------------
# Lambert Azimuthal Equal Area, oblique aspect (EPSG method 9820) —
# e.g. EPSG:3035 (ETRS89-extended / LAEA Europe, the standard EU
# statistical grid; ETRS89↔WGS84 is the published null transform
# EPSG:1149, so no datum-shift step applies). Formulas: EPSG Guidance
# Note 7-2 §3.5.2 / Snyder 1987 §24 (ellipsoidal oblique). Constants
# (qp, β0, Rq, D) precomputed in Python, emitted as shared double
# literals; the inverse latitude uses Snyder eq. 3-16 fixed-point.
# ---------------------------------------------------------------------------


class LaeaParams:
    """Precomputed oblique-aspect LAEA constants for one definition."""

    def __init__(self, phi0_deg: float, lon0_deg: float,
                 fe: float, fn: float,
                 a: float = GRS80_A, e: float = GRS80_E):
        self.lon0_deg = lon0_deg
        self.fe = fe
        self.fn = fn
        self.a = a
        self.e = e
        e2 = e * e

        p0 = math.radians(phi0_deg)
        self.qp = _authalic_q(math.pi / 2.0, e)
        self.beta0 = math.asin(_authalic_q(p0, e) / self.qp)
        self.rq = a * math.sqrt(self.qp / 2.0)
        m0 = math.cos(p0) / math.sqrt(1.0 - e2 * math.sin(p0) ** 2)
        self.d = a * m0 / (self.rq * math.cos(self.beta0))


LAEA_3035 = LaeaParams(phi0_deg=52.0, lon0_deg=10.0,
                       fe=4321000.0, fn=3210000.0)


def laea_fwd_np(lon, lat, p: LaeaParams = LAEA_3035):
    """LAEA oblique forward. Returns (easting, northing, ok); the
    antipodal point of the projection centre (where B diverges) is
    rejected per point."""
    lon = np.asarray(lon, dtype=np.float64)
    lat = np.asarray(lat, dtype=np.float64)
    ok = (np.isfinite(lon) & np.isfinite(lat) & (np.abs(lat) <= 90.0))
    e2 = p.e * p.e
    phi = np.radians(np.where(ok, lat, 0.0))
    s = np.sin(phi)
    q = (1.0 - e2) * (s / (1.0 - e2 * s * s)
                      - (1.0 / (2.0 * p.e))
                      * np.log((1.0 - p.e * s) / (1.0 + p.e * s)))
    beta = np.arcsin(np.clip(q / p.qp, -1.0, 1.0))
    dlam = np.radians(lon) - math.radians(p.lon0_deg)
    dlam = np.arctan2(np.sin(dlam), np.cos(dlam))
    sb0, cb0 = math.sin(p.beta0), math.cos(p.beta0)
    denom = 1.0 + sb0 * np.sin(beta) + cb0 * np.cos(beta) * np.cos(dlam)
    ok = ok & (denom > 1e-12)
    b = p.rq * np.sqrt(2.0 / np.where(ok, denom, 1.0))
    E = p.fe + b * p.d * np.cos(beta) * np.sin(dlam)
    N = p.fn + (b / p.d) * (cb0 * np.sin(beta)
                            - sb0 * np.cos(beta) * np.cos(dlam))
    return np.where(ok, E, np.nan), np.where(ok, N, np.nan), ok


def laea_inv_np(E, N, p: LaeaParams = LAEA_3035):
    """LAEA oblique inverse (Snyder 24-26..24-29 + 3-16 fixed-point)."""
    E = np.asarray(E, dtype=np.float64)
    N = np.asarray(N, dtype=np.float64)
    e2 = p.e * p.e
    x = E - p.fe
    y = N - p.fn
    rho = np.sqrt((x / p.d) ** 2 + (p.d * y) ** 2)
    at_centre = rho < 1e-9
    arg = np.clip(rho / (2.0 * p.rq), -1.0, 1.0)
    ce = 2.0 * np.arcsin(arg)
    sb0, cb0 = math.sin(p.beta0), math.cos(p.beta0)
    rho_safe = np.where(at_centre, 1.0, rho)
    sin_bp = (np.cos(ce) * sb0
              + p.d * y * np.sin(ce) * cb0 / rho_safe)
    sin_bp = np.where(at_centre, sb0, np.clip(sin_bp, -1.0, 1.0))
    lam = np.arctan2(x * np.sin(ce),
                     p.d * rho_safe * cb0 * np.cos(ce)
                     - p.d * p.d * y * sb0 * np.sin(ce))
    lam = np.where(at_centre, 0.0, lam)
    q = p.qp * sin_bp
    phi = np.arcsin(np.clip(q / 2.0, -1.0, 1.0))
    for _ in range(INV_ITERS):
        s = np.sin(phi)
        phi = phi + ((1.0 - e2 * s * s) ** 2 / (2.0 * np.cos(phi))) * (
            q / (1.0 - e2) - s / (1.0 - e2 * s * s)
            + (1.0 / (2.0 * p.e))
            * np.log((1.0 - p.e * s) / (1.0 + p.e * s)))
    lon = np.degrees(lam) + p.lon0_deg
    lon = (lon + 180.0) % 360.0 - 180.0
    lat = np.degrees(phi)
    ok = np.isfinite(lon) & np.isfinite(lat)
    return lon, lat, ok


def laea_sql_stages(lon: str, lat: str,
                    p: LaeaParams = LAEA_3035) -> list[tuple[str, str]]:
    """Stages computing easting, northing, ok — LAEA oblique, shared
    text (Catalyst + DuckDB)."""
    e = _fmt(p.e)
    e2 = _fmt(p.e * p.e)
    sb0, cb0 = _fmt(math.sin(p.beta0)), _fmt(math.cos(p.beta0))
    return [
        ("ok", f"(isnan({lon}) = false and isnan({lat}) = false"
               f" and abs({lat}) <= 90.0)"),
        ("_phi", f"radians(case when ok then {lat} else 0.0 end)"),
        ("_s", "sin(_phi)"),
        ("_q", f"(1.0 - {e2}) * (_s / (1.0 - {e2} * _s * _s)"
               f" - (1.0 / (2.0 * {e}))"
               f" * ln((1.0 - {e} * _s) / (1.0 + {e} * _s)))"),
        ("_beta", f"asin(greatest(-1.0, least(1.0, _q / {_fmt(p.qp)})))"),
        ("_dl0", f"radians({lon}) - radians({_fmt(p.lon0_deg)})"),
        ("_dl", "atan2(sin(_dl0), cos(_dl0))"),
        ("_den", f"1.0 + {sb0} * sin(_beta)"
                 f" + {cb0} * cos(_beta) * cos(_dl)"),
        ("ok", "(ok and _den > 1e-12)"),
        ("_b", f"{_fmt(p.rq)} * sqrt(2.0 / case when ok then _den"
               f" else 1.0 end)"),
        ("easting", f"case when ok then {_fmt(p.fe)} + _b * {_fmt(p.d)}"
                    f" * cos(_beta) * sin(_dl)"
                    f" else cast('nan' as double) end"),
        ("northing", f"case when ok then {_fmt(p.fn)}"
                     f" + (_b / {_fmt(p.d)}) * ({cb0} * sin(_beta)"
                     f" - {sb0} * cos(_beta) * cos(_dl))"
                     f" else cast('nan' as double) end"),
    ]


def laea_inv_sql_stages(x: str, y: str,
                        p: LaeaParams = LAEA_3035) -> list[tuple[str, str]]:
    """LAEA oblique inverse, Snyder 3-16 fixed-point unrolled (mirrors
    laea_inv_np)."""
    e = _fmt(p.e)
    e2 = _fmt(p.e * p.e)
    d = _fmt(p.d)
    sb0, cb0 = _fmt(math.sin(p.beta0)), _fmt(math.cos(p.beta0))
    stages: list[tuple[str, str]] = [
        ("_ix", f"({x} - {_fmt(p.fe)})"),
        ("_iy", f"({y} - {_fmt(p.fn)})"),
        ("_irho", f"sqrt((_ix / {d}) * (_ix / {d})"
                  f" + ({d} * _iy) * ({d} * _iy))"),
        ("_ictr", "(_irho < 1e-9)"),
        ("_irhos", "case when _ictr then 1.0 else _irho end"),
        # literal products precomputed: DuckDB types long decimal
        # literals as DECIMAL(18) and 2.0 * Rq overflows its width
        ("_ice", f"2.0 * asin(greatest(-1.0, least(1.0,"
                 f" _irho / {_fmt(2.0 * p.rq)})))"),
        ("_isbp", f"case when _ictr then {sb0} else"
                  f" greatest(-1.0, least(1.0, cos(_ice) * {sb0}"
                  f" + {d} * _iy * sin(_ice) * {cb0} / _irhos)) end"),
        ("_ilam", f"case when _ictr then 0.0 else"
                  f" atan2(_ix * sin(_ice), {d} * _irhos * {cb0}"
                  f" * cos(_ice) - {_fmt(p.d * p.d)} * _iy * {sb0}"
                  f" * sin(_ice)) end"),
        ("_iq", f"{_fmt(p.qp)} * _isbp"),
        ("_iphi", "asin(greatest(-1.0, least(1.0, _iq / 2.0)))"),
    ]
    for _ in range(INV_ITERS):
        stages.append(("_is", "sin(_iphi)"))
        stages.append((
            "_iphi",
            f"_iphi + ((1.0 - {e2} * _is * _is)"
            f" * (1.0 - {e2} * _is * _is) / (2.0 * cos(_iphi)))"
            f" * (_iq / (1.0 - {e2}) - _is / (1.0 - {e2} * _is * _is)"
            f" + (1.0 / (2.0 * {e}))"
            f" * ln((1.0 - {e} * _is) / (1.0 + {e} * _is)))"))
    stages.append(("_lonu", f"degrees(_ilam) + {_fmt(p.lon0_deg)}"))
    stages.append(("lon",
                   "(_lonu + 180.0) - 360.0"
                   " * floor((_lonu + 180.0) / 360.0) - 180.0"))
    stages.append(("lat", "degrees(_iphi)"))
    stages.append(("ok", "(isnan(lon) = false"
                         " and isnan(lat) = false)"))
    return stages


# ---------------------------------------------------------------------------
# Inverse staged-SQL pipelines (projected x/y → lon/lat), the dst-CRS⁻¹
# leg of a general `gdalwarp -t_srs` chain (alg/gdaltransformer.cpp:342:
# dst pixel → dst CRS⁻¹ → geographic → src CRS → src pixel). Fixed-point
# and Newton loops are unrolled to a constant iteration count so the
# identical expression text runs under Catalyst and DuckDB — the whole
# coordinate path stays oracle-checkable bit-for-bit.
# ---------------------------------------------------------------------------


def webmercator_inv_sql_stages(x: str, y: str) -> list[tuple[str, str]]:
    """WebMercator inverse (closed form): x/y meters → lon/lat degrees."""
    a = _fmt(WGS84_A)
    return [
        ("lon", f"degrees({x} / {a})"),
        ("lat", f"degrees(2.0 * atan(exp({y} / {a})) - pi() / 2.0)"),
        ("ok", "(isnan(lon) = false and isnan(lat) = false)"),
    ]


def lcc_inv_sql_stages(x: str, y: str,
                       p: LccParams = LCC_2154) -> list[tuple[str, str]]:
    """LCC 2SP inverse, fixed-point on φ unrolled INV_ITERS times
    (mirrors lcc_inv_np)."""
    e = _fmt(p.e)
    sgn = _fmt(1.0 if p.n >= 0.0 else -1.0)
    stages: list[tuple[str, str]] = [
        ("_ix", f"({x} - {_fmt(p.fe)})"),
        ("_iy", f"({_fmt(p.r0)} - ({y} - {_fmt(p.fn)}))"),
        ("_ir", f"{sgn} * sqrt(_ix * _ix + _iy * _iy)"),
        ("_it", f"exp(ln(_ir / {_fmt(p.a * p.big_f)}) / {_fmt(p.n)})"),
        ("_lonu", f"degrees(atan2(_ix, _iy) / {_fmt(p.n)}"
                  f" + radians({_fmt(p.lon0_deg)}))"),
        ("lon", "_lonu - 360.0 * floor((_lonu + 180.0) / 360.0)"),
        ("_iphi", "pi() / 2.0 - 2.0 * atan(_it)"),
    ]
    for _ in range(INV_ITERS):
        stages.append(("_is", f"{e} * sin(_iphi)"))
        stages.append(("_iphi",
                       f"pi() / 2.0 - 2.0 * atan(_it * exp(({e} / 2.0)"
                       f" * ln((1.0 - _is) / (1.0 + _is))))"))
    stages.append(("lat", "degrees(_iphi)"))
    stages.append(("ok", "(isnan(lon) = false"
                         " and isnan(lat) = false)"))
    return stages


def ps_inv_sql_stages(x: str, y: str,
                      p: PsParams = PS_3031) -> list[tuple[str, str]]:
    """Polar Stereographic inverse, fixed-point on the south-equivalent
    ψ unrolled INV_ITERS times (mirrors ps_inv_np)."""
    e = _fmt(p.e)
    stages: list[tuple[str, str]] = [
        ("_ix", f"({x} - {_fmt(p.fe)})"),
        ("_iy", f"{_fmt(p.sgn)} * ({y} - {_fmt(p.fn)})"),
        ("_it", f"sqrt(_ix * _ix + _iy * _iy) / {_fmt(p.k_rho)}"),
        ("_iphi", "2.0 * atan(_it) - pi() / 2.0"),
    ]
    for _ in range(INV_ITERS):
        stages.append(("_is", f"{e} * sin(_iphi)"))
        stages.append(("_iphi",
                       f"2.0 * atan(_it * exp(({e} / 2.0)"
                       f" * ln((1.0 + _is) / (1.0 - _is)))) - pi() / 2.0"))
    stages.append(("_lonu", f"degrees(atan2(_ix, _iy)"
                            f" + radians({_fmt(p.lon0_deg)}))"))
    stages.append(("lon", "_lonu - 360.0 * floor((_lonu + 180.0) / 360.0)"))
    stages.append(("lat", f"{_fmt(p.sgn)} * degrees(_iphi)"))
    stages.append(("ok", "(isnan(lon) = false"
                         " and isnan(lat) = false)"))
    return stages


def tmerc_inv_sql_stages(x: str, y: str, lon0_deg: float = 3.0,
                         fn: float = 0.0) -> list[tuple[str, str]]:
    """Krüger-series inverse transverse Mercator + Newton on τ (5
    iterations, mirrors tmerc_inv_np / Karney 2011 eqs. 19-21)."""
    e = _fmt(WGS84_E)
    ome2 = _fmt(1.0 - WGS84_E2)
    ka = _fmt(UTM_K0 * KRUGER_A)
    stages: list[tuple[str, str]] = [
        ("_xi", f"(({y} - {_fmt(fn)}) / {ka})"),
        ("_eta", f"(({x} - {_fmt(UTM_FE)}) / {ka})"),
        ("_xip", "_xi"),
        ("_etap", "_eta"),
    ]
    for j, b in enumerate(BETA, start=1):
        stages.append((f"_ich{j}",
                       f"(exp({2*j} * _eta) + exp({-2*j} * _eta)) / 2.0"))
        stages.append((f"_ish{j}",
                       f"(exp({2*j} * _eta) - exp({-2*j} * _eta)) / 2.0"))
        stages.append(("_xip",
                       f"_xip - {_fmt(b)} * sin({2*j} * _xi) * _ich{j}"))
        stages.append(("_etap",
                       f"_etap - {_fmt(b)} * cos({2*j} * _xi) * _ish{j}"))
    stages += [
        ("_shp", "(exp(_etap) - exp(-_etap)) / 2.0"),
        ("_cx", "cos(_xip)"),
        ("_taup", "sin(_xip) / sqrt(_shp * _shp + _cx * _cx)"),
        ("_tau", "_taup"),
    ]
    for _ in range(5):
        stages += [
            # σ = sinh(e·atanh(e·τ/√(1+τ²)))
            ("_z", f"{e} * _tau / sqrt(1.0 + _tau * _tau)"),
            ("_w", f"{e} * 0.5 * ln((1.0 + _z) / (1.0 - _z))"),
            ("_sig", "(exp(_w) - exp(-_w)) / 2.0"),
            ("_ft", "_tau * sqrt(1.0 + _sig * _sig)"
                    " - _sig * sqrt(1.0 + _tau * _tau) - _taup"),
            ("_dt", f"(sqrt((1.0 + _sig * _sig) * (1.0 + _tau * _tau))"
                    f" - _sig * _tau) * {ome2} * sqrt(1.0 + _tau * _tau)"
                    f" / (1.0 + {ome2} * _tau * _tau)"),
            ("_tau", "_tau - _ft / _dt"),
        ]
    stages += [
        ("lat", "degrees(atan(_tau))"),
        ("_lonu", f"degrees(atan2(_shp, _cx)) + {_fmt(lon0_deg)}"),
        ("lon", "_lonu - 360.0 * floor((_lonu + 180.0) / 360.0)"),
        ("ok", "(isnan(lon) = false and isnan(lat) = false)"),
    ]
    return stages


def aea_inv_sql_stages(x: str, y: str,
                       p: AeaParams = AEA_3577) -> list[tuple[str, str]]:
    """Albers Equal Area inverse, fixed-point on φ unrolled INV_ITERS
    times (mirrors aea_inv_np)."""
    e = _fmt(p.e)
    e2 = _fmt(p.e * p.e)
    sgn = _fmt(1.0 if p.n >= 0.0 else -1.0)
    stages: list[tuple[str, str]] = [
        ("_ix", f"({x} - {_fmt(p.fe)})"),
        ("_iy", f"({_fmt(p.rho0)} - ({y} - {_fmt(p.fn)}))"),
        ("_ir", "sqrt(_ix * _ix + _iy * _iy)"),
        ("_lonu", f"degrees(atan2({sgn} * _ix, {sgn} * _iy) / {_fmt(p.n)}"
                  f" + radians({_fmt(p.lon0_deg)}))"),
        ("lon", "_lonu - 360.0 * floor((_lonu + 180.0) / 360.0)"),
        ("_qp", f"({_fmt(p.c)} - _ir * _ir * {_fmt(p.n * p.n)}"
                f" / {_fmt(p.a * p.a)}) / {_fmt(p.n)}"),
        ("_iphi", "asin(greatest(-1.0, least(1.0, _qp / 2.0)))"),
    ]
    for _ in range(INV_ITERS):
        stages.append(("_is", "sin(_iphi)"))
        stages.append(("_iphi",
                       f"_iphi + ((1.0 - {e2} * _is * _is)"
                       f" * (1.0 - {e2} * _is * _is) / (2.0 * cos(_iphi)))"
                       f" * (_qp / (1.0 - {e2})"
                       f" - _is / (1.0 - {e2} * _is * _is)"
                       f" + (1.0 / (2.0 * {e}))"
                       f" * ln((1.0 - {e} * _is) / (1.0 + {e} * _is)))"))
    stages.append(("lat", "degrees(_iphi)"))
    stages.append(("ok", "(isnan(lon) = false"
                         " and isnan(lat) = false)"))
    return stages


# ---------------------------------------------------------------------------
# Sinusoidal (spherical — the MODIS land grid\'s sphere, R=6371007.181)
# and Equal Earth (EPSG:8857 — Savric/Patterson/Jenny 2018 polynomial
# over the AUTHALIC latitude, PROJ\'s ellipsoidal treatment). Both are
# equal-area world projections a GDAL user warps to routinely (MODIS
# tiles; modern world basemaps). Snyder p.243 (sinusoidal); the Equal
# Earth A1..A4 polynomial constants are the published ones.
# ---------------------------------------------------------------------------

MODIS_SPHERE_R = 6371007.181
SINU_LON0_DEG = 0.0


def sinu_fwd_np(lon, lat):
    """Spherical sinusoidal forward: x = R dlam cos(phi), y = R phi."""
    lon = np.asarray(lon, dtype=np.float64)
    lat = np.asarray(lat, dtype=np.float64)
    ok = np.isfinite(lon) & np.isfinite(lat) & (np.abs(lat) <= 90.0)
    phi = np.radians(lat)
    dlam = np.radians(lon - SINU_LON0_DEG)
    dlam = np.arctan2(np.sin(dlam), np.cos(dlam))
    E = MODIS_SPHERE_R * dlam * np.cos(phi)
    N = MODIS_SPHERE_R * phi
    return np.where(ok, E, np.nan), np.where(ok, N, np.nan), ok


def sinu_inv_np(E, N):
    E = np.asarray(E, dtype=np.float64)
    N = np.asarray(N, dtype=np.float64)
    phi = N / MODIS_SPHERE_R
    ok = np.abs(phi) <= np.pi / 2.0 + 1e-12
    cphi = np.cos(np.where(ok, phi, 0.0))
    pole = cphi < 1e-12
    lam = np.where(pole, 0.0,
                   E / (MODIS_SPHERE_R * np.where(pole, 1.0, cphi)))
    ok = ok & (np.abs(lam) <= np.pi + 1e-9)
    lon = np.degrees(lam) + SINU_LON0_DEG
    lon = (lon + 180.0) % 360.0 - 180.0
    return lon, np.degrees(phi), ok & np.isfinite(lon)


def sinu_sql_stages(lon: str, lat: str) -> list[tuple[str, str]]:
    r = _fmt(MODIS_SPHERE_R)
    return [
        ("ok", f"(isnan({lon}) = false and isnan({lat}) = false"
               f" and abs({lat}) <= 90.0)"),
        ("_phi", f"radians({lat})"),
        ("_dl0", f"radians({lon} - {_fmt(SINU_LON0_DEG)})"),
        ("_dl", "atan2(sin(_dl0), cos(_dl0))"),
        ("easting", f"case when ok then {r} * _dl * cos(_phi)"
                    f" else cast(\'nan\' as double) end"),
        ("northing", f"case when ok then {r} * _phi"
                     f" else cast(\'nan\' as double) end"),
    ]


# Equal Earth polynomial constants (published A1..A4) and M = sqrt(3)/2
EE_A1, EE_A2, EE_A3, EE_A4 = 1.340264, -0.081106, 0.000893, 0.003796
EE_M = math.sqrt(3.0) / 2.0
EE_ITERS = 10  # Newton on theta


class EqualEarthParams:
    """EPSG:8857 (WGS 84 / Equal Earth Greenwich): the polynomial runs
    on the PARAMETRIC angle theta with sin(theta) = M sin(beta), beta
    the authalic latitude; Rq is the authalic radius (same q/qp
    machinery as the LAEA family)."""

    def __init__(self, lon0_deg: float = 0.0,
                 a: float = WGS84_A, e: float = WGS84_E):
        self.lon0_deg = lon0_deg
        self.a = a
        self.e = e
        e2 = e * e
        self.qp = (1.0 - e2) * (
            1.0 / (1.0 - e2)
            - (1.0 / (2.0 * e)) * math.log((1.0 - e) / (1.0 + e)))
        self.rq = a * math.sqrt(self.qp / 2.0)


EQUAL_EARTH_8857 = EqualEarthParams()


def _ee_poly(theta):
    """y/Rq as a function of theta."""
    t2 = theta * theta
    t6 = t2 * t2 * t2
    return theta * (EE_A1 + EE_A2 * t2 + t6 * (EE_A3 + EE_A4 * t2))


def _ee_dpoly(theta):
    """d(y/Rq)/dtheta."""
    t2 = theta * theta
    t6 = t2 * t2 * t2
    return EE_A1 + 3.0 * EE_A2 * t2 + t6 * (7.0 * EE_A3
                                            + 9.0 * EE_A4 * t2)


def equal_earth_fwd_np(lon, lat,
                       p: EqualEarthParams = EQUAL_EARTH_8857):
    lon = np.asarray(lon, dtype=np.float64)
    lat = np.asarray(lat, dtype=np.float64)
    ok = np.isfinite(lon) & np.isfinite(lat) & (np.abs(lat) <= 90.0)
    e, e2 = p.e, p.e * p.e
    phi = np.radians(np.where(ok, lat, 0.0))
    s = np.sin(phi)
    q = (1.0 - e2) * (s / (1.0 - e2 * s * s)
                      - (1.0 / (2.0 * e))
                      * np.log((1.0 - e * s) / (1.0 + e * s)))
    beta = np.arcsin(np.clip(q / p.qp, -1.0, 1.0))
    theta = np.arcsin(EE_M * np.sin(beta))
    dlam = np.radians(lon) - math.radians(p.lon0_deg)
    dlam = np.arctan2(np.sin(dlam), np.cos(dlam))
    dp = _ee_dpoly(theta)
    E = p.rq * dlam * np.cos(theta) / (EE_M * dp)
    N = p.rq * _ee_poly(theta)
    return np.where(ok, E, np.nan), np.where(ok, N, np.nan), ok


def equal_earth_inv_np(E, N, p: EqualEarthParams = EQUAL_EARTH_8857):
    """Newton on theta from y, then beta, then the LAEA-family series
    back from authalic to geodetic latitude."""
    E = np.asarray(E, dtype=np.float64)
    N = np.asarray(N, dtype=np.float64)
    e, e2 = p.e, p.e * p.e
    yr = N / p.rq
    theta = yr.copy()
    for _ in range(EE_ITERS):
        theta = theta - (_ee_poly(theta) - yr) / _ee_dpoly(theta)
    sb = np.clip(np.sin(theta) / EE_M, -1.0, 1.0)
    beta = np.arcsin(sb)
    q = p.qp * sb
    phi = beta.copy()
    for _ in range(EE_ITERS):
        s = np.sin(phi)
        phi = phi + ((1.0 - e2 * s * s) ** 2 / (2.0 * np.cos(phi))) * (
            q / (1.0 - e2) - s / (1.0 - e2 * s * s)
            + (1.0 / (2.0 * e))
            * np.log((1.0 - e * s) / (1.0 + e * s)))
    lam = E * EE_M * _ee_dpoly(theta) / (p.rq * np.cos(theta))
    lon = np.degrees(lam) + p.lon0_deg
    lon = (lon + 180.0) % 360.0 - 180.0
    lat = np.degrees(phi)
    ok = np.isfinite(lon) & np.isfinite(lat) & (np.abs(lam) <= np.pi + 1e-9)
    return lon, lat, ok


def equal_earth_sql_stages(lon: str, lat: str,
                           p: EqualEarthParams = EQUAL_EARTH_8857
                           ) -> list[tuple[str, str]]:
    """Forward Equal Earth, shared text: authalic beta (the LAEA q
    formula), parametric theta, published polynomial."""
    e = _fmt(p.e)
    e2 = _fmt(p.e * p.e)
    m = _fmt(EE_M)
    a1, a2 = _fmt(EE_A1), _fmt(EE_A2)
    a3, a4 = _fmt(EE_A3), _fmt(EE_A4)
    return [
        ("ok", f"(isnan({lon}) = false and isnan({lat}) = false"
               f" and abs({lat}) <= 90.0)"),
        ("_phi", f"radians(case when ok then {lat} else 0.0 end)"),
        ("_s", "sin(_phi)"),
        ("_q", f"(1.0 - {e2}) * (_s / (1.0 - {e2} * _s * _s)"
               f" - (1.0 / (2.0 * {e}))"
               f" * ln((1.0 - {e} * _s) / (1.0 + {e} * _s)))"),
        ("_beta", f"asin(greatest(-1.0, least(1.0, _q / {_fmt(p.qp)})))"),
        ("_theta", f"asin({m} * sin(_beta))"),
        ("_t2", "_theta * _theta"),
        ("_t6", "_t2 * _t2 * _t2"),
        ("_dp", f"({a1} + 3.0 * {a2} * _t2"
                f" + _t6 * (7.0 * {a3} + 9.0 * {a4} * _t2))"),
        ("_dl0", f"radians({lon}) - radians({_fmt(p.lon0_deg)})"),
        ("_dl", "atan2(sin(_dl0), cos(_dl0))"),
        ("easting", f"case when ok then {_fmt(p.rq)} * _dl"
                    f" * cos(_theta) / ({m} * _dp)"
                    f" else cast(\'nan\' as double) end"),
        ("northing", f"case when ok then {_fmt(p.rq)} * _theta"
                     f" * ({a1} + {a2} * _t2"
                     f" + _t6 * ({a3} + {a4} * _t2))"
                     f" else cast(\'nan\' as double) end"),
    ]


def sinu_inv_sql_stages(x: str, y: str) -> list[tuple[str, str]]:
    """Spherical sinusoidal inverse, shared text (mirrors
    sinu_inv_np): phi = y/R; lam = x / (R cos phi)."""
    r = _fmt(MODIS_SPHERE_R)
    return [
        ("_iphi", f"({y} / {r})"),
        ("ok", "(abs(_iphi) <= pi() / 2.0 + 1e-12)"),
        ("_icphi", "cos(case when ok then _iphi else 0.0 end)"),
        ("_ipole", "(_icphi < 1e-12)"),
        ("_ilam", f"case when _ipole then 0.0 else {x}"
                  f" / ({r} * _icphi) end"),
        ("ok", "(ok and abs(_ilam) <= pi() + 1e-9)"),
        ("lon", f"(mod(degrees(_ilam) + {_fmt(SINU_LON0_DEG)}"
                  f" + 180.0 + 360.0, 360.0) - 180.0)"),
        ("lat", "degrees(_iphi)"),
    ]


def equal_earth_inv_sql_stages(x: str, y: str,
                               p: "EqualEarthParams" = None
                               ) -> list[tuple[str, str]]:
    """Equal Earth inverse, shared text: Newton on theta (unrolled,
    INV_ITERS-style), then the authalic->geodetic series (same
    fixed-point the LAEA inverse uses)."""
    p = p or EQUAL_EARTH_8857
    e = _fmt(p.e)
    e2 = _fmt(p.e * p.e)
    m = _fmt(EE_M)
    a1, a2 = _fmt(EE_A1), _fmt(EE_A2)
    a3, a4 = _fmt(EE_A3), _fmt(EE_A4)

    def poly(t: str) -> str:
        return (f"({t} * ({a1} + {a2} * {t} * {t}"
                f" + ({t} * {t}) * ({t} * {t}) * ({t} * {t})"
                f" * ({a3} + {a4} * {t} * {t})))")

    def dpoly(t: str) -> str:
        return (f"({a1} + 3.0 * {a2} * {t} * {t}"
                f" + ({t} * {t}) * ({t} * {t}) * ({t} * {t})"
                f" * (7.0 * {a3} + 9.0 * {a4} * {t} * {t}))")

    stages: list[tuple[str, str]] = [
        ("_eyr", f"({y} / {_fmt(p.rq)})"),
        ("_et", "_eyr"),
    ]
    for _ in range(EE_ITERS):
        stages.append(("_et", f"(_et - ({poly('_et')} - _eyr)"
                              f" / {dpoly('_et')})"))
    stages += [
        ("_esb", f"greatest(-1.0, least(1.0, sin(_et) / {m}))"),
        ("_eq", f"({_fmt(p.qp)} * _esb)"),
        ("_ephi", "asin(_esb)"),
    ]
    for _ in range(INV_ITERS):
        stages.append((
            "_ephi",
            f"(_ephi + ((1.0 - {e2} * sin(_ephi) * sin(_ephi))"
            f" * (1.0 - {e2} * sin(_ephi) * sin(_ephi))"
            f" / (2.0 * cos(_ephi))) * (_eq / (1.0 - {e2})"
            f" - sin(_ephi) / (1.0 - {e2} * sin(_ephi) * sin(_ephi))"
            f" + (1.0 / (2.0 * {e})) * ln((1.0 - {e} * sin(_ephi))"
            f" / (1.0 + {e} * sin(_ephi)))))"))
    stages += [
        ("_elam", f"({x} * {m} * {dpoly('_et')}"
                  f" / ({_fmt(p.rq)} * cos(_et)))"),
        ("ok", "(abs(_elam) <= pi() + 1e-9"
               " and isnan(_ephi) = false)"),
        ("lon", f"(mod(degrees(_elam) + {_fmt(p.lon0_deg)}"
                  f" + 180.0 + 360.0, 360.0) - 180.0)"),
        ("lat", "degrees(_ephi)"),
    ]
    return stages


# ---------------------------------------------------------------------------
# Mollweide (ESRI:54009 World Mollweide). PROJ's +proj=moll is a
# SPHERICAL projection: with +datum=WGS84 it clears the eccentricity and
# uses the semi-major axis as the sphere radius (R = a = 6378137) —
# matched here. Snyder p.251: solve 2θ + sin 2θ = π sin φ by Newton on
# θ' = 2θ, then x = (2√2/π) R Δλ cos θ, y = √2 R sin θ.
# ---------------------------------------------------------------------------

MOLL_R = WGS84_A
MOLL_S2 = math.sqrt(2.0)
MOLL_CX = 2.0 * math.sqrt(2.0) / math.pi
MOLL_ITERS = 12  # Newton on θ'; pole-guarded (denominator 1+cos θ' → 0)
MOLL_LON0_DEG = 0.0


def moll_fwd_np(lon, lat, r: float = MOLL_R,
                lon0_deg: float = MOLL_LON0_DEG):
    lon = np.asarray(lon, dtype=np.float64)
    lat = np.asarray(lat, dtype=np.float64)
    ok = np.isfinite(lon) & np.isfinite(lat) & (np.abs(lat) <= 90.0)
    phi = np.radians(np.where(ok, lat, 0.0))
    ps = np.pi * np.sin(phi)
    tp = 2.0 * np.arcsin(np.clip(np.sin(phi), -1.0, 1.0))
    for _ in range(MOLL_ITERS):
        denom = 1.0 + np.cos(tp)
        step = np.where(denom < 1e-14, 0.0,
                        (tp + np.sin(tp) - ps) / np.where(denom < 1e-14,
                                                          1.0, denom))
        tp = tp - step
    theta = tp / 2.0
    dlam = np.radians(lon) - math.radians(lon0_deg)
    dlam = np.arctan2(np.sin(dlam), np.cos(dlam))
    E = MOLL_CX * r * dlam * np.cos(theta)
    N = MOLL_S2 * r * np.sin(theta)
    return np.where(ok, E, np.nan), np.where(ok, N, np.nan), ok


def moll_inv_np(E, N):
    E = np.asarray(E, dtype=np.float64)
    N = np.asarray(N, dtype=np.float64)
    sth = N / (MOLL_S2 * MOLL_R)
    ok = np.abs(sth) <= 1.0 + 1e-12
    theta = np.arcsin(np.clip(sth, -1.0, 1.0))
    phi = np.arcsin(np.clip((2.0 * theta + np.sin(2.0 * theta)) / np.pi,
                            -1.0, 1.0))
    cth = np.cos(theta)
    pole = cth < 1e-12
    lam = np.where(pole, 0.0,
                   E / (MOLL_CX * MOLL_R * np.where(pole, 1.0, cth)))
    ok = ok & (np.abs(lam) <= np.pi + 1e-9)
    lon = np.degrees(lam) + MOLL_LON0_DEG
    lon = (lon + 180.0) % 360.0 - 180.0
    return lon, np.degrees(phi), ok & np.isfinite(lon)


def moll_sql_stages(lon: str, lat: str) -> list[tuple[str, str]]:
    """Forward Mollweide, shared text (mirrors moll_fwd_np): unrolled
    pole-guarded Newton on θ' = 2θ. Constant products are folded in
    Python — DuckDB would multiply two DECIMAL literals and overflow."""
    cx_r = _fmt(MOLL_CX * MOLL_R)
    s2_r = _fmt(MOLL_S2 * MOLL_R)
    stages: list[tuple[str, str]] = [
        ("ok", f"(isnan({lon}) = false and isnan({lat}) = false"
               f" and abs({lat}) <= 90.0)"),
        ("_mphi", f"radians(case when ok then {lat} else 0.0 end)"),
        ("_mps", "pi() * sin(_mphi)"),
        ("_mtp", "2.0 * asin(greatest(-1.0, least(1.0, sin(_mphi))))"),
    ]
    for _ in range(MOLL_ITERS):
        stages.append((
            "_mtp",
            "(_mtp - case when (1.0 + cos(_mtp)) < 1e-14 then 0.0"
            " else (_mtp + sin(_mtp) - _mps) / (1.0 + cos(_mtp)) end)"))
    stages += [
        ("_mth", "(_mtp / 2.0)"),
        ("_mdl0", f"radians({lon}) - radians({_fmt(MOLL_LON0_DEG)})"),
        ("_mdl", "atan2(sin(_mdl0), cos(_mdl0))"),
        ("easting", f"case when ok then {cx_r} * _mdl"
                    f" * cos(_mth) else cast('nan' as double) end"),
        ("northing", f"case when ok then {s2_r}"
                     f" * sin(_mth) else cast('nan' as double) end"),
    ]
    return stages


def moll_inv_sql_stages(x: str, y: str) -> list[tuple[str, str]]:
    """Mollweide inverse, shared text (mirrors moll_inv_np): closed
    form — θ from y, φ from the defining equation, λ from x."""
    cx_r = _fmt(MOLL_CX * MOLL_R)
    s2_r = _fmt(MOLL_S2 * MOLL_R)
    return [
        ("_msth", f"({y} / {s2_r})"),
        ("ok", "(abs(_msth) <= 1.0 + 1e-12)"),
        ("_mith", "asin(greatest(-1.0, least(1.0, _msth)))"),
        ("_miphi", "asin(greatest(-1.0, least(1.0,"
                   " (2.0 * _mith + sin(2.0 * _mith)) / pi())))"),
        ("_micth", "cos(_mith)"),
        ("_mipole", "(_micth < 1e-12)"),
        ("_milam", f"case when _mipole then 0.0 else {x}"
                   f" / ({cx_r} * _micth) end"),
        ("ok", "(ok and abs(_milam) <= pi() + 1e-9)"),
        ("lon", f"(mod(degrees(_milam) + {_fmt(MOLL_LON0_DEG)}"
                  f" + 180.0 + 360.0, 360.0) - 180.0)"),
        ("lat", "degrees(_miphi)"),
    ]


# ---------------------------------------------------------------------------
# EPSG-code-keyed dispatch (the proj_create_crs_to_crs surface,
# ogr/ogrct.cpp:1705-1803): forward SQL stages and numpy fwd/inv kernels
# per code; transforms route through the lon/lat hub. The staged-SQL
# surface covers both directions (epsg_fwd_stages / epsg_inv_stages), so
# a general code→code chain — e.g. gdalwarp -t_srs with any registered
# destination — stays pure Catalyst and oracle-checkable.
#
# Dispatch is PARAMETER-DRIVEN: epsg_table() maps code → (method, params)
# where `method` names an EPSG projection method family and `params` is
# its parameter object — the shape of PROJ's EPSG parameter database,
# scoped to the derived families. Adding a code in an existing family is
# one table row (the EPSG parameters), not a new function. Methods:
#   geographic  — identity lon/lat (4326)
#   webmerc     — spherical Mercator (EPSG 1024/3856)
#   lcc         — Lambert Conformal Conic 2SP (EPSG 9802), LccParams
#   ps          — Polar Stereographic B south (EPSG 9829), PsParams
#   aea         — Albers Equal Area 2SP (EPSG 9822), AeaParams
#   tmerc_wgs84 — transverse Mercator on WGS84 (EPSG 9807),
#                 (lon0_deg, false_northing); UTM 326xx/327xx resolve
#                 here by zone-range rule
#   tmerc       — transverse Mercator on an arbitrary ellipsoid with a
#                 null WGS84 datum transform, TmercParams (e.g. ETRS89,
#                 GDA94 — EPSG null transforms 1149/1150)
#   datum_tmerc — 7/3-parameter Helmert datum shift + transverse
#                 Mercator (EPSG 9606 + 9807),
#                 (HelmertParams WGS84→datum, TmercParams)
# ---------------------------------------------------------------------------


def _utm_epsg_params(code: int) -> tuple[float, float]:
    """(lon0_deg, false_northing) for EPSG:326xx / 327xx."""
    if 32601 <= code <= 32660:
        return utm_lon0_deg(code - 32600), 0.0
    if 32701 <= code <= 32760:
        return utm_lon0_deg(code - 32700), 10000000.0
    raise KeyError(code)


def epsg_table() -> dict[int, tuple[str, object]]:
    """The EPSG parameter table: code → (method, params). Built lazily
    because the parameter objects are defined through the module; the
    UTM WGS84 zone codes (326xx/327xx) resolve by range in
    _epsg_entry rather than 120 explicit rows."""
    return {
        4326: ("geographic", None),
        3857: ("webmerc", None),
        2154: ("lcc", LCC_2154),
        3031: ("ps", PS_3031),
        3032: ("ps", PS_3032),
        3577: ("aea", AEA_3577),
        5070: ("aea", AEA_5070),
        3035: ("laea", LAEA_3035),
        3413: ("ps", PS_3413),
        32661: ("ps", PS_32661),
        32761: ("ps", PS_32761),
        25832: ("tmerc", TMERC_25832),
        2193: ("tmerc", TMERC_2193),
        8857: ("equal_earth", EQUAL_EARTH_8857),
        6842: ("sinu", None),  # SR-ORG:6842 — MODIS sinusoidal sphere
        54009: ("moll", None),  # ESRI:54009 — World Mollweide
        27700: ("datum_tmerc", (HELMERT_WGS84_TO_OSGB36, TMERC_27700)),
        26718: ("datum_tmerc", (HELMERT_WGS84_TO_NAD27, TMERC_26718)),
    }


def _epsg_entry(code: int) -> tuple[str, object]:
    table = epsg_table()
    if code in table:
        return table[code]
    if 32601 <= code <= 32660 or 32701 <= code <= 32760:
        return "tmerc_wgs84", _utm_epsg_params(code)
    if 26901 <= code <= 26923:  # NAD83 / UTM zone 1N..23N
        return "tmerc", _grs80_utm_params(code - 26900, fn=0.0)
    if 25828 <= code <= 25838:  # ETRS89 / UTM zone 28N..38N
        return "tmerc", _grs80_utm_params(code - 25800, fn=0.0)
    if 28348 <= code <= 28358:  # GDA94 / MGA zone 48..58
        return "tmerc", _grs80_utm_params(code - 28300, fn=10000000.0)
    if 7846 <= code <= 7859:  # GDA2020 / MGA zone 46..59
        return "tmerc", _grs80_utm_params(code - 7800, fn=10000000.0)
    raise KeyError(f"EPSG:{code} not in the parameter table — add its "
                   f"EPSG parameters to crs.epsg_table() (GDAL does any "
                   f"pair via PROJ, ogr/ogrct.cpp:1705-1803)")


def epsg_fwd_stages(code: int, out_x: str = "x", out_y: str = "y",
                    ok_col: str = "ok") -> list[tuple[str, str]]:
    """Forward staged SQL for 4326 → code from the ``lon``/``lat``
    columns; output columns renamed to (out_x, out_y) plus the
    per-point failure flag (``ok_col`` — pass a distinct name when
    composing several projections over one row so a later stage list
    does not overwrite an earlier flag)."""
    method, p = _epsg_entry(code)
    lon, lat = "lon", "lat"
    if method == "geographic":
        st = [("ok", f"(isnan({lon}) = false and isnan({lat}) = false)"),
              (out_x, lon), (out_y, lat)]
        return st if ok_col == "ok" else st + [(ok_col, "ok")]
    if method == "webmerc":
        st = webmercator_sql_stages(lon, lat)
        ren = {"x_3857": out_x, "y_3857": out_y}
    else:
        st = {
            "lcc": lambda: lcc_sql_stages(lon, lat, p),
            "ps": lambda: ps_sql_stages(lon, lat, p),
            "aea": lambda: aea_sql_stages(lon, lat, p),
            "laea": lambda: laea_sql_stages(lon, lat, p),
            "sinu": lambda: sinu_sql_stages(lon, lat),
            "moll": lambda: moll_sql_stages(lon, lat),
            "equal_earth": lambda: equal_earth_sql_stages(lon, lat, p),
            "tmerc_wgs84": lambda: tmerc_sql_stages(lon, lat, p[0],
                                                    fn=p[1]),
            "tmerc": lambda: tmerc_sql_stages_p(lon, lat, p),
            "datum_tmerc": lambda: datum_tmerc_sql_stages(lon, lat, *p),
        }[method]()
        ren = {"easting": out_x, "northing": out_y}
    out = [(ren.get(name, name), expr) for name, expr in st]
    # the stage expressions reference the flag as ``ok`` internally, so a
    # caller-visible rename is an appended alias, not a definition rename
    if ok_col != "ok":
        out.append((ok_col, "ok"))
    return out


def epsg_fwd_np(code: int):
    """numpy forward kernel for 4326 → code: (lon, lat) → (x, y, ok)."""
    method, p = _epsg_entry(code)
    return {
        "geographic": lambda: lambda lon, lat: (
            np.asarray(lon, dtype=np.float64),
            np.asarray(lat, dtype=np.float64),
            np.isfinite(lon) & np.isfinite(lat)),
        "webmerc": lambda: webmercator_fwd_np,
        "lcc": lambda: lambda lon, lat: lcc_fwd_np(lon, lat, p),
        "ps": lambda: lambda lon, lat: ps_fwd_np(lon, lat, p),
        "aea": lambda: lambda lon, lat: aea_fwd_np(lon, lat, p),
        "laea": lambda: lambda lon, lat: laea_fwd_np(lon, lat, p),
        "sinu": lambda: sinu_fwd_np,
        "moll": lambda: moll_fwd_np,
        "equal_earth": lambda: lambda lon, lat: equal_earth_fwd_np(
            lon, lat, p),
        "tmerc_wgs84": lambda: lambda lon, lat: tmerc_fwd_np(
            lon, lat, p[0], fn=p[1]),
        "tmerc": lambda: lambda lon, lat: tmerc_fwd_np_p(lon, lat, p),
        "datum_tmerc": lambda: lambda lon, lat: datum_tmerc_fwd_np(
            lon, lat, *p),
    }[method]()


def epsg_inv_np(code: int):
    """numpy inverse kernel for code → 4326: (x, y) → (lon, lat, ok)."""
    method, p = _epsg_entry(code)
    return {
        "geographic": lambda: lambda x, y: (
            np.asarray(x, dtype=np.float64),
            np.asarray(y, dtype=np.float64),
            np.isfinite(x) & np.isfinite(y)),
        "webmerc": lambda: webmercator_inv_np,
        "lcc": lambda: lambda x, y: lcc_inv_np(x, y, p),
        "ps": lambda: lambda x, y: ps_inv_np(x, y, p),
        "aea": lambda: lambda x, y: aea_inv_np(x, y, p),
        "laea": lambda: lambda x, y: laea_inv_np(x, y, p),
        "sinu": lambda: sinu_inv_np,
        "moll": lambda: moll_inv_np,
        "equal_earth": lambda: lambda x, y: equal_earth_inv_np(x, y, p),
        "tmerc_wgs84": lambda: lambda x, y: tmerc_inv_np(
            x, y, p[0], fn=p[1]),
        "tmerc": lambda: lambda x, y: tmerc_inv_np_p(x, y, p),
        "datum_tmerc": lambda: lambda x, y: datum_tmerc_inv_np(x, y, *p),
    }[method]()


def epsg_inv_stages(code: int, x: str, y: str,
                    ok_col: str = "ok") -> list[tuple[str, str]]:
    """Inverse staged SQL for code → 4326 (projected x/y → lon/lat),
    the dst-CRS⁻¹ leg of a general cross-CRS warp. Same alias rule as
    epsg_fwd_stages: the flag is computed as ``ok`` and aliased to
    ``ok_col`` so several stage lists can compose over one row."""
    method, p = _epsg_entry(code)
    st = {
        "geographic": lambda: [
            ("ok", f"(isnan({x}) = false and isnan({y}) = false)"),
            ("lon", x), ("lat", y)],
        "webmerc": lambda: webmercator_inv_sql_stages(x, y),
        "lcc": lambda: lcc_inv_sql_stages(x, y, p),
        "ps": lambda: ps_inv_sql_stages(x, y, p),
        "aea": lambda: aea_inv_sql_stages(x, y, p),
        "laea": lambda: laea_inv_sql_stages(x, y, p),
        "sinu": lambda: sinu_inv_sql_stages(x, y),
        "moll": lambda: moll_inv_sql_stages(x, y),
        "equal_earth": lambda: equal_earth_inv_sql_stages(x, y, p),
        "tmerc_wgs84": lambda: tmerc_inv_sql_stages(x, y, p[0],
                                                    fn=p[1]),
        "tmerc": lambda: tmerc_inv_sql_stages_p(x, y, "lon", "lat",
                                                p),
        "datum_tmerc": lambda: datum_tmerc_inv_sql_stages(
            x, y, "lon", "lat", *p),
    }[method]()
    if ok_col != "ok":
        st = st + [(ok_col, "ok")]
    return st


def transform_np(src_epsg: int, dst_epsg: int, x, y):
    """Arbitrary EPSG pair via the lon/lat hub (the composed transformer
    chain of alg/gdaltransformer.cpp:342). Returns (x2, y2, ok) with
    per-point failure flags (ogrct.cpp:2344 TransformWithErrorCodes)."""
    lon, lat, ok1 = epsg_inv_np(src_epsg)(x, y)
    x2, y2, ok2 = epsg_fwd_np(dst_epsg)(lon, lat)
    return x2, y2, ok1 & ok2


def apply_sql_stages(df: DataFrame, stages: list[tuple[str, str]]) -> DataFrame:
    """Run a staged pipeline on a Spark DataFrame (pure Catalyst exprs)."""
    for name, expr in stages:
        df = df.withColumn(name, F.expr(expr))
    return df.drop(*[c for c, _ in stages if c.startswith("_")])


def stages_to_duckdb_sql(base_select: str, stages: list[tuple[str, str]],
                         final_cols: list[str]) -> str:
    """Render the same staged pipeline as nested DuckDB subqueries.

    Re-assigned stage names (e.g. ``_xi`` accumulating series terms) shadow
    the previous value via ``* EXCLUDE (name)``.
    """
    sql = base_select
    seen: set[str] = set()
    for name, expr in stages:
        star = f"* exclude ({name})" if name in seen else "*"
        sql = f"select {star}, {expr} as {name} from ({sql}) _t"
        seen.add(name)
    return f"select {', '.join(final_cols)} from ({sql}) _f"


# ---------------------------------------------------------------------------
# Non-WGS84 datums: parameterized Krüger + 7-parameter Helmert shift.
# EPSG:27700 (OSGB36 / British National Grid): transverse Mercator on
# Airy 1830 with the published WGS84↔OSGB36 Helmert transformation
# (EPSG:1314 / OS "A guide to coordinate systems in Great Britain",
# position-vector convention, EPSG method 9606). This breaks the
# rounds-1/2 WGS84-datum-only contract: the 4326→27700 chain is
# geodetic→geocentric XYZ → Helmert → XYZ→geodetic (Airy, fixed-point)
# → Krüger forward with Airy coefficients. The existing WGS84 tmerc
# functions stay byte-identical (their SQL text is hashed by the
# correctness gate); the parameterized versions live alongside.
# Ref: ogr/ogrct.cpp:1705-1803 (PROJ pipeline dispatch), PROJ +towgs84.
# ---------------------------------------------------------------------------


def _kruger_coeffs(f: float) -> tuple[float, tuple, tuple]:
    """(A/a ratio base, alpha[6], beta[6]) for third-flattening n of an
    arbitrary ellipsoid (Karney 2011 eqs. 14-23, same series as the
    WGS84 constants at module top)."""
    nn = f / (2.0 - f)
    n2, n3, n4 = nn * nn, nn ** 3, nn ** 4
    n5, n6 = nn ** 5, nn ** 6
    alpha = (
        nn / 2.0 - 2.0 / 3.0 * n2 + 5.0 / 16.0 * n3 + 41.0 / 180.0 * n4
        - 127.0 / 288.0 * n5 + 7891.0 / 37800.0 * n6,
        13.0 / 48.0 * n2 - 3.0 / 5.0 * n3 + 557.0 / 1440.0 * n4
        + 281.0 / 630.0 * n5 - 1983433.0 / 1935360.0 * n6,
        61.0 / 240.0 * n3 - 103.0 / 140.0 * n4 + 15061.0 / 26880.0 * n5
        + 167603.0 / 181440.0 * n6,
        49561.0 / 161280.0 * n4 - 179.0 / 168.0 * n5
        + 6601661.0 / 7257600.0 * n6,
        34729.0 / 80640.0 * n5 - 3418889.0 / 1995840.0 * n6,
        212378941.0 / 319334400.0 * n6,
    )
    beta = (
        nn / 2.0 - 2.0 / 3.0 * n2 + 37.0 / 96.0 * n3 - 1.0 / 360.0 * n4
        - 81.0 / 512.0 * n5 + 96199.0 / 604800.0 * n6,
        1.0 / 48.0 * n2 + 1.0 / 15.0 * n3 - 437.0 / 1440.0 * n4
        + 46.0 / 105.0 * n5 - 1118711.0 / 3870720.0 * n6,
        17.0 / 480.0 * n3 - 37.0 / 840.0 * n4 - 209.0 / 4480.0 * n5
        + 5569.0 / 90720.0 * n6,
        4397.0 / 161280.0 * n4 - 11.0 / 504.0 * n5
        - 830251.0 / 7257600.0 * n6,
        4583.0 / 161280.0 * n5 - 108847.0 / 3991680.0 * n6,
        20648693.0 / 638668800.0 * n6,
    )
    base = 1.0 / (1.0 + nn) * (1.0 + n2 / 4.0 + n4 / 64.0 + n6 / 256.0)
    return base, alpha, beta


class TmercParams:
    """Krüger transverse Mercator on an arbitrary ellipsoid with a
    non-equatorial latitude of origin (the national-grid shape)."""

    def __init__(self, a: float, f: float, lon0_deg: float, k0: float,
                 fe: float, fn: float, lat0_deg: float = 0.0):
        self.a = a
        self.f = f
        self.e2 = f * (2.0 - f)
        self.e = math.sqrt(self.e2)
        self.lon0_deg = lon0_deg
        self.k0 = k0
        self.fe = fe
        self.fn = fn
        base, self.alpha, self.beta = _kruger_coeffs(f)
        self.ka = a * base  # rectifying radius A
        # meridian-arc offset of the latitude of origin: at λ = λ0 the
        # Krüger ξ is the rectifying latitude, so N(φ0,λ0) = k0·A·ξ(φ0)
        phi0 = math.radians(lat0_deg)
        s0 = math.sin(phi0)
        t0 = math.sinh(math.atanh(s0) - self.e * math.atanh(self.e * s0))
        xi0 = math.atan(t0)
        for j, al in enumerate(self.alpha, start=1):
            xi0 += al * math.sin(2 * j * math.atan(t0))
        self.m0 = k0 * self.ka * xi0


def tmerc_fwd_np_p(lon, lat, p: TmercParams):
    """Parameterized Krüger forward (mirrors tmerc_fwd_np)."""
    lon = np.asarray(lon, dtype=np.float64)
    lat = np.asarray(lat, dtype=np.float64)
    ok = np.isfinite(lon) & np.isfinite(lat) & (np.abs(lat) <= 90.0)
    phi = np.radians(np.where(ok, lat, 0.0))
    lam = np.radians(lon) - math.radians(p.lon0_deg)
    lam = np.arctan2(np.sin(lam), np.cos(lam))
    s = np.sin(phi)
    t = np.sinh(np.arctanh(s) - p.e * np.arctanh(p.e * s))
    cl = np.cos(lam)
    xi_p = np.arctan2(t, cl)
    eta_p = np.arcsinh(np.sin(lam) / np.sqrt(t * t + cl * cl))
    xi = xi_p.copy()
    eta = eta_p.copy()
    for j, al in enumerate(p.alpha, start=1):
        xi += al * np.sin(2 * j * xi_p) * np.cosh(2 * j * eta_p)
        eta += al * np.cos(2 * j * xi_p) * np.sinh(2 * j * eta_p)
    E = p.fe + p.k0 * p.ka * eta
    N = p.fn + p.k0 * p.ka * xi - p.m0
    return np.where(ok, E, np.nan), np.where(ok, N, np.nan), ok


def tmerc_inv_np_p(E, N, p: TmercParams):
    """Parameterized Krüger inverse (mirrors tmerc_inv_np)."""
    E = np.asarray(E, dtype=np.float64)
    N = np.asarray(N, dtype=np.float64)
    xi = (N - p.fn + p.m0) / (p.k0 * p.ka)
    eta = (E - p.fe) / (p.k0 * p.ka)
    xi_p = xi.copy()
    eta_p = eta.copy()
    for j, bt in enumerate(p.beta, start=1):
        xi_p -= bt * np.sin(2 * j * xi) * np.cosh(2 * j * eta)
        eta_p -= bt * np.cos(2 * j * xi) * np.sinh(2 * j * eta)
    sh = np.sinh(eta_p)
    cx = np.cos(xi_p)
    tau_p = np.sin(xi_p) / np.sqrt(sh * sh + cx * cx)
    tau = tau_p.copy()
    e = p.e
    for _ in range(5):
        sigma = np.sinh(e * np.arctanh(e * tau / np.sqrt(1.0 + tau * tau)))
        f_tau = (tau * np.sqrt(1.0 + sigma * sigma)
                 - sigma * np.sqrt(1.0 + tau * tau) - tau_p)
        d_tau = ((np.sqrt((1.0 + sigma * sigma) * (1.0 + tau * tau))
                  - sigma * tau) * (1.0 - e * e)
                 * np.sqrt(1.0 + tau * tau)
                 / (1.0 + (1.0 - e * e) * tau * tau))
        tau = tau - f_tau / d_tau
    lat = np.degrees(np.arctan(tau))
    lon = np.degrees(np.arctan2(sh, cx)) + p.lon0_deg
    lon = (lon + 180.0) % 360.0 - 180.0
    ok = np.isfinite(lon) & np.isfinite(lat)
    return lon, lat, ok


class HelmertParams:
    """7-parameter position-vector Helmert transformation (EPSG method
    9606) between two geodetic datums, with the exact matrix inverse
    precomputed (negating small parameters would leave O(s²+r²)·R ≈ mm
    round-trip error; the exact inverse round-trips to float noise)."""

    def __init__(self, tx: float, ty: float, tz: float,
                 rx_as: float, ry_as: float, rz_as: float, s_ppm: float,
                 src_a: float, src_f: float, dst_a: float, dst_f: float):
        rx, ry, rz = (math.radians(v / 3600.0)
                      for v in (rx_as, ry_as, rz_as))
        s = s_ppm * 1e-6
        self.m = [[(1.0 + s) * 1.0, (1.0 + s) * -rz, (1.0 + s) * ry],
                  [(1.0 + s) * rz, (1.0 + s) * 1.0, (1.0 + s) * -rx],
                  [(1.0 + s) * -ry, (1.0 + s) * rx, (1.0 + s) * 1.0]]
        self.t = [tx, ty, tz]
        self.minv = np.linalg.inv(np.asarray(self.m)).tolist()
        self.src_a, self.src_e2 = src_a, src_f * (2.0 - src_f)
        self.dst_a, self.dst_e2 = dst_a, dst_f * (2.0 - dst_f)


AIRY_A, AIRY_B = 6377563.396, 6356256.909
AIRY_F = (AIRY_A - AIRY_B) / AIRY_A
# OS Guide §6.6: WGS84 → OSGB36 (EPSG:1314 approximation, ~3.5 m grid
# accuracy vs OSTN15 — the published single-Helmert national values)
HELMERT_WGS84_TO_OSGB36 = HelmertParams(
    -446.448, 125.157, -542.060, -0.1502, -0.2470, -0.8421, 20.4894,
    src_a=WGS84_A, src_f=WGS84_F, dst_a=AIRY_A, dst_f=AIRY_F)
TMERC_27700 = TmercParams(AIRY_A, AIRY_F, lon0_deg=-2.0,
                          k0=0.9996012717, fe=400000.0, fn=-100000.0,
                          lat0_deg=49.0)

# Clarke 1866 (the NAD27 ellipsoid, defined by a and b)
CLARKE1866_A, CLARKE1866_B = 6378206.4, 6356583.8
CLARKE1866_F = (CLARKE1866_A - CLARKE1866_B) / CLARKE1866_A
# EPSG:1173 "NAD27 to WGS 84 (3)" (CONUS): geocentric translation
# tx=-8, ty=160, tz=176 m, no rotation/scale. Our convention stores the
# WGS84→datum direction, and a pure translation reverses exactly by
# negation, so this is the exact published transform, ~5 m CONUS
# accuracy (grid-based NADCON is out of scope like OSTN15).
HELMERT_WGS84_TO_NAD27 = HelmertParams(
    8.0, -160.0, -176.0, 0.0, 0.0, 0.0, 0.0,
    src_a=WGS84_A, src_f=WGS84_F, dst_a=CLARKE1866_A, dst_f=CLARKE1866_F)
# EPSG:26718 NAD27 / UTM zone 18N: standard UTM on Clarke 1866
TMERC_26718 = TmercParams(CLARKE1866_A, CLARKE1866_F, lon0_deg=-75.0,
                          k0=UTM_K0, fe=UTM_FE, fn=0.0)
# EPSG:25832 ETRS89 / UTM zone 32N: standard UTM on GRS80.
# ETRS89↔WGS84 is the published null transform (EPSG:1149), so no
# datum-shift step applies — but the ellipsoid is GRS80, not WGS84,
# hence the parameterized Krüger rather than the WGS84 fast path.
TMERC_25832 = TmercParams(GRS80_A, GRS80_F, lon0_deg=9.0,
                          k0=UTM_K0, fe=UTM_FE, fn=0.0)
# EPSG:2193 NZGD2000 / New Zealand Transverse Mercator 2000 (GRS80;
# NZGD2000↔WGS84 is the published null transform EPSG:1565)
TMERC_2193 = TmercParams(GRS80_A, GRS80_F, lon0_deg=173.0,
                         k0=0.9996, fe=1600000.0, fn=10000000.0)


def _grs80_utm_params(zone: int, fn: float) -> TmercParams:
    """Standard UTM grid on GRS80 — the shared shape of NAD83 (269xx),
    ETRS89 (258xx), GDA94 MGA (283xx) and GDA2020 MGA (78xx) zones;
    each datum's transformation to WGS84 is a published null transform
    (EPSG:1188 / 1149 / 1150 / 8450 respectively)."""
    return TmercParams(GRS80_A, GRS80_F, lon0_deg=6.0 * zone - 183.0,
                       k0=UTM_K0, fe=UTM_FE, fn=fn)


def _geo_to_xyz_np(lon, lat, a: float, e2: float):
    phi = np.radians(np.asarray(lat, dtype=np.float64))
    lam = np.radians(np.asarray(lon, dtype=np.float64))
    nu = a / np.sqrt(1.0 - e2 * np.sin(phi) ** 2)
    return (nu * np.cos(phi) * np.cos(lam),
            nu * np.cos(phi) * np.sin(lam),
            nu * (1.0 - e2) * np.sin(phi))


def _xyz_to_geo_np(X, Y, Z, a: float, e2: float):
    lon = np.degrees(np.arctan2(Y, X))
    pr = np.hypot(X, Y)
    phi = np.arctan2(Z, pr * (1.0 - e2))
    for _ in range(INV_ITERS):
        nu = a / np.sqrt(1.0 - e2 * np.sin(phi) ** 2)
        phi = np.arctan2(Z + e2 * nu * np.sin(phi), pr)
    return lon, np.degrees(phi)


def datum_shift_np(lon, lat, h: HelmertParams, inverse: bool = False):
    """Geodetic (src datum) → geodetic (dst datum), ellipsoid height 0
    (the planar-analytics convention; OGR's default for 2D geometry)."""
    if inverse:
        X, Y, Z = _geo_to_xyz_np(lon, lat, h.dst_a, h.dst_e2)
        m, t = h.minv, h.t
        X2 = m[0][0] * (X - t[0]) + m[0][1] * (Y - t[1]) \
            + m[0][2] * (Z - t[2])
        Y2 = m[1][0] * (X - t[0]) + m[1][1] * (Y - t[1]) \
            + m[1][2] * (Z - t[2])
        Z2 = m[2][0] * (X - t[0]) + m[2][1] * (Y - t[1]) \
            + m[2][2] * (Z - t[2])
        return _xyz_to_geo_np(X2, Y2, Z2, h.src_a, h.src_e2)
    X, Y, Z = _geo_to_xyz_np(lon, lat, h.src_a, h.src_e2)
    m, t = h.m, h.t
    X2 = t[0] + m[0][0] * X + m[0][1] * Y + m[0][2] * Z
    Y2 = t[1] + m[1][0] * X + m[1][1] * Y + m[1][2] * Z
    Z2 = t[2] + m[2][0] * X + m[2][1] * Y + m[2][2] * Z
    return _xyz_to_geo_np(X2, Y2, Z2, h.dst_a, h.dst_e2)


def datum_tmerc_fwd_np(lon, lat, h: HelmertParams, tm: TmercParams):
    """4326 → datum-shifted transverse Mercator: WGS84 geodetic →
    Helmert (to the projection datum) → Krüger forward on the datum
    ellipsoid. The generic non-WGS84-datum forward kernel."""
    lon = np.asarray(lon, dtype=np.float64)
    lat = np.asarray(lat, dtype=np.float64)
    ok0 = np.isfinite(lon) & np.isfinite(lat) & (np.abs(lat) <= 90.0)
    lo, la = datum_shift_np(np.where(ok0, lon, 0.0),
                            np.where(ok0, lat, 0.0), h)
    E, N, ok = tmerc_fwd_np_p(lo, la, tm)
    E = np.where(ok0, E, np.nan)
    N = np.where(ok0, N, np.nan)
    return E, N, ok0 & ok


def datum_tmerc_inv_np(E, N, h: HelmertParams, tm: TmercParams):
    """Datum-shifted transverse Mercator → 4326: Krüger inverse on the
    datum ellipsoid then inverse Helmert (exact matrix)."""
    lo, la, ok = tmerc_inv_np_p(E, N, tm)
    lon, lat = datum_shift_np(lo, la, h, inverse=True)
    ok = ok & np.isfinite(lon) & np.isfinite(lat)
    return lon, lat, ok


def osgb36_fwd_np(lon, lat):
    """EPSG:4326 → EPSG:27700: Helmert datum shift then Airy Krüger."""
    return datum_tmerc_fwd_np(lon, lat, HELMERT_WGS84_TO_OSGB36,
                              TMERC_27700)


def osgb36_inv_np(E, N):
    """EPSG:27700 → EPSG:4326: Airy Krüger inverse then inverse
    Helmert (exact matrix)."""
    return datum_tmerc_inv_np(E, N, HELMERT_WGS84_TO_OSGB36,
                              TMERC_27700)


def _geo_to_xyz_stages(lon: str, lat: str, a: float,
                       e2: float) -> list[tuple[str, str]]:
    return [
        ("_gphi", f"radians({lat})"),
        ("_glam", f"radians({lon})"),
        ("_gs", "sin(_gphi)"),
        ("_gnu", f"{_fmt(a)} / sqrt(1.0 - {_fmt(e2)} * _gs * _gs)"),
        ("_gc", "cos(_gphi)"),
        ("_hx", "_gnu * _gc * cos(_glam)"),
        ("_hy", "_gnu * _gc * sin(_glam)"),
        ("_hz", f"_gnu * (1.0 - {_fmt(e2)}) * _gs"),
    ]


def _xyz_to_geo_stages(a: float, e2: float,
                       out_lon: str, out_lat: str) -> list[tuple[str, str]]:
    st = [
        (out_lon, "degrees(atan2(_hy2, _hx2))"),
        ("_gpr", "sqrt(_hx2 * _hx2 + _hy2 * _hy2)"),
        ("_gphi", f"atan2(_hz2, _gpr * (1.0 - {_fmt(e2)}))"),
    ]
    for _ in range(INV_ITERS):
        st.append(("_gs", "sin(_gphi)"))
        st.append(("_gnu", f"{_fmt(a)} / sqrt(1.0 - {_fmt(e2)}"
                           f" * _gs * _gs)"))
        st.append(("_gphi", f"atan2(_hz2 + {_fmt(e2)} * _gnu * _gs,"
                            f" _gpr)"))
    st.append((out_lat, "degrees(_gphi)"))
    return st


def _helmert_stages(h: HelmertParams,
                    inverse: bool = False) -> list[tuple[str, str]]:
    if inverse:
        m, t = h.minv, h.t
        dx = f"(_hx - {_fmt(t[0])})"
        dy = f"(_hy - {_fmt(t[1])})"
        dz = f"(_hz - {_fmt(t[2])})"
        return [
            ("_hx2", f"{_fmt(m[0][0])} * {dx} + {_fmt(m[0][1])} * {dy}"
                     f" + {_fmt(m[0][2])} * {dz}"),
            ("_hy2", f"{_fmt(m[1][0])} * {dx} + {_fmt(m[1][1])} * {dy}"
                     f" + {_fmt(m[1][2])} * {dz}"),
            ("_hz2", f"{_fmt(m[2][0])} * {dx} + {_fmt(m[2][1])} * {dy}"
                     f" + {_fmt(m[2][2])} * {dz}"),
        ]
    m, t = h.m, h.t
    return [
        ("_hx2", f"{_fmt(t[0])} + {_fmt(m[0][0])} * _hx"
                 f" + {_fmt(m[0][1])} * _hy + {_fmt(m[0][2])} * _hz"),
        ("_hy2", f"{_fmt(t[1])} + {_fmt(m[1][0])} * _hx"
                 f" + {_fmt(m[1][1])} * _hy + {_fmt(m[1][2])} * _hz"),
        ("_hz2", f"{_fmt(t[2])} + {_fmt(m[2][0])} * _hx"
                 f" + {_fmt(m[2][1])} * _hy + {_fmt(m[2][2])} * _hz"),
    ]


def tmerc_sql_stages_p(lon: str, lat: str,
                       p: TmercParams) -> list[tuple[str, str]]:
    """Parameterized Krüger forward stages (mirrors tmerc_sql_stages
    with arbitrary-ellipsoid coefficients and the m0 origin offset)."""
    e = _fmt(p.e)
    stages: list[tuple[str, str]] = [
        ("ok", f"(isnan({lon}) = false and isnan({lat}) = false"
               f" and abs({lat}) <= 90.0)"),
        ("_phi", f"radians(case when ok then {lat} else 0.0 end)"),
        ("_lam", f"radians({lon}) - radians({_fmt(p.lon0_deg)})"),
        ("_lam", "atan2(sin(_lam), cos(_lam))"),
        ("_sp", "sin(_phi)"),
        ("_at1", "0.5 * ln((1.0 + _sp) / (1.0 - _sp))"),
        ("_at2", f"0.5 * ln((1.0 + {e} * _sp) / (1.0 - {e} * _sp))"),
        ("_w", f"_at1 - {e} * _at2"),
        ("_t", "(exp(_w) - exp(-_w)) / 2.0"),
        ("_cl", "cos(_lam)"),
        ("_xip", "atan2(_t, _cl)"),
        ("_q", "sin(_lam) / sqrt(_t * _t + _cl * _cl)"),
        ("_etap", "ln(_q + sqrt(_q * _q + 1.0))"),
        ("_xi", "_xip"),
        ("_eta", "_etap"),
    ]
    for j, al in enumerate(p.alpha, start=1):
        stages.append((f"_ch{j}",
                       f"(exp({2*j} * _etap) + exp({-2*j} * _etap)) / 2.0"))
        stages.append((f"_sh{j}",
                       f"(exp({2*j} * _etap) - exp({-2*j} * _etap)) / 2.0"))
        stages.append(("_xi", f"_xi + {_fmt(al)} * sin({2*j} * _xip)"
                              f" * _ch{j}"))
        stages.append(("_eta", f"_eta + {_fmt(al)} * cos({2*j} * _xip)"
                               f" * _sh{j}"))
    ka = _fmt(p.k0 * p.ka)
    stages.append(("easting", f"case when ok then {_fmt(p.fe)}"
                              f" + {ka} * _eta"
                              f" else cast('nan' as double) end"))
    stages.append(("northing", f"case when ok then {_fmt(p.fn)}"
                               f" + {ka} * _xi - {_fmt(p.m0)}"
                               f" else cast('nan' as double) end"))
    return stages


def tmerc_inv_sql_stages_p(x: str, y: str, out_lon: str, out_lat: str,
                           p: TmercParams) -> list[tuple[str, str]]:
    """Parameterized Krüger inverse stages (mirrors
    tmerc_inv_sql_stages with arbitrary-ellipsoid coefficients)."""
    e = _fmt(p.e)
    ome2 = _fmt(1.0 - p.e2)
    ka = _fmt(p.k0 * p.ka)
    stages: list[tuple[str, str]] = [
        ("_xi", f"(({y} - {_fmt(p.fn)} + {_fmt(p.m0)}) / {ka})"),
        ("_eta", f"(({x} - {_fmt(p.fe)}) / {ka})"),
        ("_xip", "_xi"),
        ("_etap", "_eta"),
    ]
    for j, b in enumerate(p.beta, start=1):
        stages.append((f"_ich{j}",
                       f"(exp({2*j} * _eta) + exp({-2*j} * _eta)) / 2.0"))
        stages.append((f"_ish{j}",
                       f"(exp({2*j} * _eta) - exp({-2*j} * _eta)) / 2.0"))
        stages.append(("_xip",
                       f"_xip - {_fmt(b)} * sin({2*j} * _xi) * _ich{j}"))
        stages.append(("_etap",
                       f"_etap - {_fmt(b)} * cos({2*j} * _xi) * _ish{j}"))
    stages += [
        ("_shp", "(exp(_etap) - exp(-_etap)) / 2.0"),
        ("_cx", "cos(_xip)"),
        ("_taup", "sin(_xip) / sqrt(_shp * _shp + _cx * _cx)"),
        ("_tau", "_taup"),
    ]
    for _ in range(5):
        stages += [
            ("_z", f"{e} * _tau / sqrt(1.0 + _tau * _tau)"),
            ("_w", f"{e} * 0.5 * ln((1.0 + _z) / (1.0 - _z))"),
            ("_sig", "(exp(_w) - exp(-_w)) / 2.0"),
            ("_ft", "_tau * sqrt(1.0 + _sig * _sig)"
                    " - _sig * sqrt(1.0 + _tau * _tau) - _taup"),
            ("_dt", f"(sqrt((1.0 + _sig * _sig) * (1.0 + _tau * _tau))"
                    f" - _sig * _tau) * {ome2} * sqrt(1.0 + _tau * _tau)"
                    f" / (1.0 + {ome2} * _tau * _tau)"),
            ("_tau", "_tau - _ft / _dt"),
        ]
    stages += [
        (out_lat, "degrees(atan(_tau))"),
        ("_lonu", f"degrees(atan2(_shp, _cx)) + {_fmt(p.lon0_deg)}"),
        (out_lon, "_lonu - 360.0 * floor((_lonu + 180.0) / 360.0)"),
        ("ok", f"(isnan({out_lon}) = false and isnan({out_lat}) = false)"),
    ]
    return stages


def datum_tmerc_sql_stages(lon: str, lat: str, h: HelmertParams,
                           tm: TmercParams) -> list[tuple[str, str]]:
    """4326 → datum-shifted TM staged SQL: WGS84 geodetic→XYZ → Helmert
    → XYZ→geodetic (datum ellipsoid, fixed-point unrolled) → Krüger
    forward on the datum ellipsoid. Identical text both engines — the
    datum-shifted chain stays oracle-checkable like every other
    family."""
    st = [("ok0", f"(isnan({lon}) = false and isnan({lat}) = false"
                  f" and abs({lat}) <= 90.0)"),
          ("_slon", f"case when ok0 then {lon} else 0.0 end"),
          ("_slat", f"case when ok0 then {lat} else 0.0 end")]
    st += _geo_to_xyz_stages("_slon", "_slat", h.src_a, h.src_e2)
    st += _helmert_stages(h)
    st += _xyz_to_geo_stages(h.dst_a, h.dst_e2, "_olon", "_olat")
    st += tmerc_sql_stages_p("_olon", "_olat", tm)
    st += [("ok", "(ok0 and ok)")]
    return st


def datum_tmerc_inv_sql_stages(x: str, y: str, out_lon: str,
                               out_lat: str, h: HelmertParams,
                               tm: TmercParams) -> list[tuple[str, str]]:
    """Datum-shifted TM → 4326 staged SQL: Krüger inverse on the datum
    ellipsoid → geodetic→XYZ → exact inverse Helmert → XYZ→geodetic
    (WGS84, unrolled)."""
    st = tmerc_inv_sql_stages_p(x, y, "_ilon", "_ilat", tm)
    st += _geo_to_xyz_stages("_ilon", "_ilat", h.dst_a, h.dst_e2)
    st += _helmert_stages(h, inverse=True)
    st += _xyz_to_geo_stages(h.src_a, h.src_e2, out_lon, out_lat)
    st += [("ok", f"(isnan({out_lon}) = false"
                  f" and isnan({out_lat}) = false)")]
    return st

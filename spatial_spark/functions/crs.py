"""CRS reprojection in closed form: every frame composes with every
other through WGS84 lon/lat degrees.

The reference delegates CRS work to the GeoTools CRS factory
(geotools-common/, DefaultLayer.java:135-141; SURVEY §1.2).  This
module is the engine's one CRS tier, laid out as:

  * Frame table.  ``_frame`` resolves an EPSG code, a registry entry or
    a generic token to one canonical frame string (``wgs84``, ``merc``,
    ``cart``, ``utm:<zone>:<n|s>``, ``tm:…``, ``lcc:…``, ``psb:…``,
    ``psa:…``, ``laea:…``, ``aea:…``, ``tmd:…``, ``lccd:…``, ``sod:…``,
    ``soc:…``).  ``_KERNELS`` registers each frame kind once — its
    parameter count and its (to_wgs84, from_wgs84) numpy kernels — and
    ``transform_points`` is one lookup in it per side.
  * Kernels.  Spherical mercator; ONE Krüger/Karney transverse-Mercator
    series (``tm_forward``/``tm_inverse`` on any ellipsoid (a, f), with
    ``utm_forward``/``utm_inverse`` as zone adapters); Lambert conformal
    conic and polar stereographic (Snyder's t/m machinery); LAEA and
    Albers (authalic q); oblique stereographic and Swiss oblique
    cylindrical (the Gauss conformal sphere).
  * Datum leg.  Frames on a non-WGS84 datum (``tmd``, ``lccd``, ``sod``,
    ``soc``) reach WGS84 through geodetic → ECEF → position-vector
    Helmert → Bowring at h = 0: ``_wgs84_to_datum``/``_datum_to_wgs84``
    in numpy, ``_datum_ctes`` in SQL.
  * SQL spellings.  Each ``*_forward_ctes`` (and ``utm_inverse_ctes``)
    wraps a base query in a ``SELECT *`` WITH chain whose last stage
    (``_utm_out``, ``_utmi_out``, ``_tm_out``, ``_tmd_out``,
    ``_lcd_out``, ``_sod_out``, ``_soc_out``, ``_lcc_out``,
    ``_laea_out``, ``_aea_out``) adds the output columns.  The text is
    valid Spark SQL and DuckDB and replays the numpy kernel op for op:
    constants are repr'd from the same Python doubles and spelled
    ``CAST(v AS DOUBLE)`` (``columns.sql_cast_double``), sinh/cosh/atanh
    go through exp/ln.  No stage repeats an alias an earlier stage
    added: under ``SELECT *`` an engine silently reads the first one.
  * ``st_transform`` is an Arrow-batched UDF applying
    ``transform_points`` to every vertex of a WKB geometry; the
    ``cartesian`` frame passes through to itself only.

Spherical mercator (EPSG:3857 definition, R = WGS84 semi-major axis):

    x = R * radians(lon)
    y = R * ln(tan(pi/4 + radians(lat)/2))
    lon = degrees(x / R)
    lat = degrees(2 * atan(exp(y / R)) - pi/2)

No latitude clamp is applied — |lat| → 90 diverges by definition; the
tile layer (operators/tiles.py) clamps to ±85.05112878° where the
slippy grid requires it.

Transverse Mercator uses the Krüger/Karney series in the third
flattening n to 3rd order (Karney 2011 "Transverse Mercator with an
accuracy of a few nanometers", eqs. 7-15 and 21-26).  Truncation error
is sub-0.1 mm inside a zone — far below the libm-ulp level the
cross-engine gates absorb with cm rounding.  UTM is k0 = 0.9996, false
easting 500 000 m, false northing 0 (N hemisphere, EPSG:326zz) /
10 000 000 m (S, EPSG:327zz), central meridian 6z - 183 degrees.
"""

from __future__ import annotations

import math
import re

import numpy as np
import pandas as pd
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..geom import Geometry, GTYPE_POINT, GTYPE_LINESTRING, GTYPE_POLYGON, \
    from_wkb, to_wkb
from .columns import sql_cast_double as _c

__all__ = ["MERC_R", "merc_forward_sql", "merc_inverse_sql",
           "transform_points", "st_transform",
           "UTM_K0", "UTM_A", "UTM_ALPHA", "utm_forward", "utm_inverse",
           "utm_forward_ctes", "utm_inverse_ctes",
           "tm_forward", "tm_inverse", "tm_forward_ctes", "tm_xi0",
           "krueger_constants",
           "lcc_constants", "lcc_forward", "lcc_inverse",
           "ps_forward", "ps_inverse", "psa_forward", "psa_inverse",
           "lcc_forward_ctes",
           "laea_constants", "laea_forward", "laea_inverse",
           "laea_forward_ctes",
           "aea_constants", "aea_forward", "aea_inverse",
           "aea_forward_ctes"]

MERC_R = 6378137.0   # WGS84 semi-major axis, the EPSG:3857 sphere radius
_F = 1.0 / 298.257223563            # WGS84 flattening

_WGS84 = ("epsg:4326", "4326", "crs:84", "wgs84")
_MERC = ("epsg:3857", "3857", "epsg:900913", "web-mercator", "merc")
_CART = ("cartesian", "0", "none", "", "cart")


def krueger_constants(a: float, f: float):
    """(A, alpha, beta, delta, c) — the Krüger/Karney series constants
    for ellipsoid (a, f), 3rd order in the third flattening n: the
    rectifying radius A = a/(1+n) (1 + n²/4 + n⁴/64), the forward series
    alpha_j, the inverse series beta_j, the conformal → geographic
    latitude series delta_j, and the conformal-map coefficient c."""
    n = f / (2.0 - f)
    A = a / (1.0 + n) * (1.0 + n * n / 4.0 + n ** 4 / 64.0)
    alpha = (
        n / 2.0 - 2.0 * n ** 2 / 3.0 + 5.0 * n ** 3 / 16.0,
        13.0 * n ** 2 / 48.0 - 3.0 * n ** 3 / 5.0,
        61.0 * n ** 3 / 240.0,
    )
    beta = (
        n / 2.0 - 2.0 * n ** 2 / 3.0 + 37.0 * n ** 3 / 96.0,
        n ** 2 / 48.0 + n ** 3 / 15.0,
        17.0 * n ** 3 / 480.0,
    )
    delta = (
        2.0 * n - 2.0 * n ** 2 / 3.0 - 2.0 * n ** 3,
        7.0 * n ** 2 / 3.0 - 8.0 * n ** 3 / 5.0,
        56.0 * n ** 3 / 15.0,
    )
    c = 2.0 * math.sqrt(n) / (1.0 + n)
    return A, alpha, beta, delta, c


# --- UTM: the WGS84 transverse Mercator zones ------------------------------
UTM_K0 = 0.9996
UTM_E0 = 500000.0
UTM_FN_SOUTH = 10000000.0
UTM_A, UTM_ALPHA, UTM_BETA, UTM_DELTA, _UTM_C = krueger_constants(MERC_R, _F)

_UTM_RE = re.compile(r"^(?:epsg:)?(326|327)(\d{2})$")
# ETRS89 / UTM zones (EPSG 25828-25838) and ETRS89 / TM35FIN (EPSG
# 3067): ETRS89 is WGS84-family (sub-mm 1/f difference — the engine
# contract), and the projection parameters are exactly the northern
# UTM zone's, so these resolve as plain utm: frames.
_ETRS_UTM_RE = re.compile(r"^(?:epsg:)?258(2[8-9]|3[0-8])$")

# Named conic/azimuthal conformal frames (EPSG parameters; WGS84-family
# ellipsoids — GRS80's flattening differs from WGS84's at 1e-10, far
# below the series truncation, so ETRS89/RGF93 frames share the kernel):
#   2154  RGF93 / Lambert-93 (France)        LCC 2SP
#   3034  ETRS89 / LCC Europe               LCC 2SP
#   3031  Antarctic Polar Stereographic     PS variant B (lat_ts=-71)
#   3413  NSIDC Sea Ice Polar Stereo North  PS variant B (lat_ts=70)
#   3995  Arctic Polar Stereographic        PS variant B (lat_ts=71)
#   5041  UPS North                         PS variant A (k0=0.994)
#   5042  UPS South                         PS variant A (k0=0.994)
_EPSG_CONIC = {
    "2154": "lcc:49.0:44.0:46.5:3.0:700000.0:6600000.0",
    "3034": "lcc:35.0:65.0:52.0:10.0:4000000.0:2800000.0",
    "3031": "psb:-71.0:0.0:0.0:0.0",
    "3413": "psb:70.0:-45.0:0.0:0.0",
    "3995": "psb:71.0:0.0:0.0:0.0",
    "5041": "psa:0.994:0.0:2000000.0:2000000.0:n",
    "5042": "psa:0.994:0.0:2000000.0:2000000.0:s",
    "3035": "laea:52.0:10.0:4321000.0:3210000.0",
    # Albers Equal-Area Conic (EPSG method 9822): NAD83 / Conus Albers
    # (GRS80 == WGS84-family to sub-mm in 1/f — engine contract)
    "5070": "aea:29.5:45.5:23.0:-96.0:0.0:0.0",
    # generic transverse Mercator (the national-grid class; WGS84-family
    # datums only — NZGD2000 / ETRS89 / SVY21):
    #   2193  NZGD2000 / New Zealand Transverse Mercator 2000
    #   2180  ETRS89 / Poland CS92
    #   3414  SVY21 / Singapore TM
    "2193": "tm:0.0:173.0:0.9996:1600000.0:10000000.0",
    "2180": "tm:0.0:19.0:0.9993:500000.0:-5300000.0",
    "3414": "tm:1.3697222222222223:103.83333333333333:1.0:28001.642:38744.572",
}

# Datum-SHIFTED TM grids (r11): tmd:<lat0>:<lon0>:<k0>:<fe>:<fn>:<a>:<f>
# :<tx>:<ty>:<tz>:<rx>:<ry>:<rz>:<ds> — grid ellipsoid (a, f) plus the
# position-vector Helmert (datum → WGS84; meters / arc-seconds / ppm).
#   27700  OSGB36 / British National Grid (Airy 1830, EPSG tfm 1314)
_EPSG_TMD = {
    "27700": ("tmd:49.0:-2.0:0.9996012717:400000.0:-100000.0:"
              "6377563.396:" + repr(1.0 / 299.3249646) + ":"
              "446.448:-125.157:542.06:0.1502:0.247:0.8421:-20.4894"),
}

# Datum-SHIFTED OBLIQUE STEREOGRAPHIC grids (r11, second wave):
# sod:<lat0>:<lon0>:<k0>:<fe>:<fn>:<a>:<f>
#    :<tx>:<ty>:<tz>:<rx>:<ry>:<rz>:<ds>
# — EPSG method 9809 ("Oblique Stereographic", the double projection
# via Gauss conformal sphere) on ellipsoid (a, f), datum → WGS84 by
# the same position-vector Helmert convention as tmd.
#   28992  Amersfoort / RD New (Bessel 1841 + the RDNAPTRANS-class
#          national Helmert — EPSG tfm 15934 parameter values)
BESSEL_A = 6377397.155               # Bessel 1841 semi-major axis (m)
BESSEL_F = 1.0 / 299.1528128         # Bessel 1841 flattening
# Amersfoort → WGS84 position-vector parameters (EPSG transformation
# 15934, µrad rotations converted to arc-seconds):
AMERSFOORT_HELMERT = (565.2369, 50.0087, 465.658,
                      -0.406857, 0.350733, -1.870347, 4.0812)
_EPSG_SOD = {
    "28992": ("sod:" + ":".join(repr(v) for v in (
        52.0 + 9.0 / 60.0 + 22.178 / 3600.0,
        5.0 + 23.0 / 60.0 + 15.5 / 3600.0,
        0.9999079, 155000.0, 463000.0,
        BESSEL_A, BESSEL_F, *AMERSFOORT_HELMERT))),
}

# Datum-SHIFTED SWISS OBLIQUE CYLINDRICAL grids (r11, third wave):
# soc:<lat0>:<lon0>:<fe>:<fn>:<a>:<f>:<tx>:<ty>:<tz>:<rx>:<ry>:<rz>:<ds>
# — EPSG method 9814 ("Swiss Oblique Cylindrical", the Rosenmund
# double projection: ellipsoid → Gauss conformal sphere → Mercator on
# the sphere rotated so Bern sits on the pseudo-equator).  CH1903 →
# WGS84 is the official swisstopo GRANIT87 translation-only Helmert.
#   21781  CH1903 / LV03     (Bern 600 000 / 200 000)
#   2056   CH1903+ / LV95    (Bern 2 600 000 / 1 200 000)
CH1903_HELMERT = (674.374, 15.056, 405.346, 0.0, 0.0, 0.0, 0.0)
_SWISS_LAT0 = 46.0 + 57.0 / 60.0 + 8.66 / 3600.0
_SWISS_LON0 = 7.0 + 26.0 / 60.0 + 22.5 / 3600.0
_EPSG_SOC = {
    "21781": ("soc:" + ":".join(repr(v) for v in (
        _SWISS_LAT0, _SWISS_LON0, 600000.0, 200000.0,
        BESSEL_A, BESSEL_F, *CH1903_HELMERT))),
    "2056": ("soc:" + ":".join(repr(v) for v in (
        _SWISS_LAT0, _SWISS_LON0, 2600000.0, 1200000.0,
        BESSEL_A, BESSEL_F, *CH1903_HELMERT))),
}

# Legacy Pulkovo 1942 Gauss-Krüger zones (EPSG 28404-28432 = Pulkovo
# 1942 / GK zone 4..32): Krassovsky 1940 ellipsoid, k0 = 1, central
# meridian 6n−3, false easting n·1 000 000 + 500 000 (the zone number
# rides the easting), plus the published continent-wide 3-parameter
# shift Pulkovo 1942 → WGS84 (EPSG tfm 1254: dX 28, dY −130, dZ −95 m
# — the documented ~5-10 m accuracy class, the same contract as the
# NAD27 tier; regional 7-parameter refinements drop into the same
# tmd: token).  The family every legacy Russian / Eastern-European
# shapefile workflow hits first.
KRASSOVSKY_A = 6378245.0
KRASSOVSKY_F = 1.0 / 298.3
PULKOVO42_HELMERT = (28.0, -130.0, -95.0, 0.0, 0.0, 0.0, 0.0)
_PULKOVO_GK_RE = re.compile(r"^(?:epsg:)?284(0[4-9]|[12][0-9]|3[0-2])$")


def _pulkovo_gk_frame(zone: int) -> str:
    return _frame("tmd:" + ":".join(repr(v) for v in (
        0.0, 6.0 * zone - 3.0, 1.0, zone * 1_000_000.0 + 500_000.0,
        0.0, KRASSOVSKY_A, KRASSOVSKY_F, *PULKOVO42_HELMERT)))


# Legacy NAD27 UTM zones (EPSG 26701-26722 = NAD27 / UTM 1N..22N):
# Clarke 1866 ellipsoid + the published CONUS 3-parameter shift
# NAD27→WGS84 (EPSG tfm 1173: dX −8, dY 160, dZ 176 m) — the ~10 m
# accuracy class EPSG documents for a continent-wide 3-param shift,
# which is what 'legacy NAD27 shapefile' workflows expect absent a
# NADCON grid.  Same tmd machinery; the zone folds into the TM
# parameters.
CLARKE66_A = 6378206.4
CLARKE66_F = 1.0 / 294.9786982
NAD27_HELMERT = (-8.0, 160.0, 176.0, 0.0, 0.0, 0.0, 0.0)
_NAD27_UTM_RE = re.compile(r"^(?:epsg:)?267(0[1-9]|1[0-9]|2[0-2])$")


def _nad27_utm_frame(zone: int) -> str:
    return _frame("tmd:" + ":".join(repr(v) for v in (
        0.0, 6.0 * zone - 183.0, 0.9996, 500000.0, 0.0,
        CLARKE66_A, CLARKE66_F, *NAD27_HELMERT)))


# ---------------------------------------------------------------------
# r12 (VERDICT r11 ask #3): DATA-DRIVEN EPSG REGISTRY over the existing
# kernels.  Every entry maps a published EPSG code to a frame token on a
# method the engine already implements (tm/lcc/aea/utm), and every datum
# here is WGS84-family (GRS80 / GDA94 / GDA2020 / JGD2000 / KGD2002 /
# RGF93 / NAD83 — 1/f differs from WGS84 at 1e-10, far below the series
# truncation), so no datum shift is needed and the existing kernels and
# dual-engine CTE oracles apply byte-for-byte.  Codes on OTHER datums
# still refuse unless a tmd:/sod:/soc: entry carries the Helmert — the
# refusal is the correctness contract, the registry is pure data.
# Parity envelope: DefaultLayer.java:135-141 (the reference accepts any
# CRS GeoTools can decode; this table is the engine's decodable set).

# JGD2000 / Japan Plane Rectangular CS I..XIX (EPSG 2443-2461): each a
# plain TM with k0 = 0.9999, FE = FN = 0 and a per-zone natural origin.
_JPRCS_ORIGINS = (
    (33.0, 129.5), (33.0, 131.0), (36.0, 132.0 + 1.0 / 6.0),
    (33.0, 133.5), (36.0, 134.0 + 1.0 / 3.0), (36.0, 136.0),
    (36.0, 137.0 + 1.0 / 6.0), (36.0, 138.5), (36.0, 139.0 + 5.0 / 6.0),
    (40.0, 140.0 + 5.0 / 6.0), (44.0, 140.25), (44.0, 142.25),
    (44.0, 144.25), (26.0, 142.0), (26.0, 127.5), (26.0, 124.0),
    (26.0, 131.0), (20.0, 136.0), (26.0, 154.0),
)

EPSG_REGISTRY: dict = {}
for _i, (_la, _lo) in enumerate(_JPRCS_ORIGINS):
    EPSG_REGISTRY[str(2443 + _i)] = f"tm:{_la!r}:{_lo!r}:0.9999:0.0:0.0"
# RGF93 / CC42..CC50 (EPSG 3942-3950): France's 9 conic-conformal zones,
# lat0 = 42+i, parallels lat0 ± 0.75, lon0 = 3, FE 1 700 000,
# FN 1 200 000 + i * 1 000 000.
for _i in range(9):
    _la = 42.0 + _i
    EPSG_REGISTRY[str(3942 + _i)] = (
        f"lcc:{_la - 0.75!r}:{_la + 0.75!r}:{_la!r}:3.0:1700000.0:"
        f"{1200000.0 + _i * 1000000.0!r}")
# Korea 2000 / Unified CS (EPSG 5179, KGD2002 on GRS80)
EPSG_REGISTRY["5179"] = "tm:38.0:127.5:0.9996:1000000.0:2000000.0"
# GDA94 / Australian Albers (EPSG 3577)
EPSG_REGISTRY["3577"] = "aea:-18.0:-36.0:0.0:132.0:0.0:0.0"
# GDA94 / Geoscience Australia Lambert (EPSG 3112)
EPSG_REGISTRY["3112"] = "lcc:-18.0:-36.0:0.0:134.0:0.0:0.0"
# Belge 1972 / Belgian Lambert 72 (EPSG 31370): LCC 2SP on
# International 1924 + the national position-vector Helmert (the
# PROJ-mirrored BD72→WGS84 set; ~1-2 m class vs the cm-grade national
# transformation — same documented envelope as the NAD27/Pulkovo
# tiers).  lat0 = 90° is fine: t(90°) = 0 ⇒ rho0 = 0.
INTL24_A = 6378388.0
INTL24_F = 1.0 / 297.0
BD72_HELMERT = (-106.8686, 52.2978, -103.7239,
                0.3366, -0.457, 1.8422, -1.2747)
EPSG_REGISTRY["31370"] = ("lccd:" + ":".join(repr(v) for v in (
    51.16666723, 49.8333339, 90.0, 4.367486666666666,
    150000.013, 5400088.438, INTL24_A, INTL24_F, *BD72_HELMERT)))


def _dms(d: float, m: float = 0.0, s: float = 0.0) -> float:
    """Signed degrees-minutes-seconds → decimal degrees (sign on d)."""
    sgn = -1.0 if d < 0 else 1.0
    return sgn * (abs(d) + m / 60.0 + s / 3600.0)


# ---------------------------------------------------------------------
# r13 (VERDICT r12 ask #2): MECHANICAL REGISTRY COMPLETION — several
# hundred additional published EPSG codes, all pure table data over the
# kernels above (tm/lcc/aea/laea/utm/tmd).  Datum policy unchanged:
# every non-tmd entry is a WGS84-family frame (GRS80-class ellipsoid,
# realization within cm of WGS84 — NAD83, ETRS89, RGF93, SWEREF99,
# CGCS2000, NZGD2000, SIRGAS2000, JGD2011), so no shift applies and the
# pinned dual-engine kernels carry each code byte-for-byte.  Sources:
# the public EPSG dataset parameter tables; SPCS83 zone constants per
# NOAA Manual NOS NGS 5 Appendix A.  Unknown codes STILL refuse.

# JGD2011 (EPSG 6669-6687): Japan Plane Rectangular CS I-XIX on the
# JGD2011 frame — projection parameters IDENTICAL to JGD2000; the 2011
# realization moved the datum epoch, not the grid definitions.
for _i in range(19):
    EPSG_REGISTRY[str(6669 + _i)] = EPSG_REGISTRY[str(2443 + _i)]

# NAD83 State Plane (SPCS83, metre-based codes) — Transverse Mercator
# zones: code -> (lat0, lon0, k0, FE, FN).  k0 written as the exact
# 1 - 1/x the SPCS83 tables define.
_SPCS_TM = {
    26929: (_dms(30, 30), _dms(-85, 50), 1 - 1 / 25000, 200000.0, 0.0),
    26930: (30.0, -87.5, 1 - 1 / 15000, 600000.0, 0.0),
    # Alaska zones 2-9: CM = -142 - 4*(zone-2), lat0 54, 1/10000
    **{26930 + _z: (54.0, -142.0 - 4.0 * (_z - 2), 1 - 1 / 10000,
                    500000.0, 0.0) for _z in range(2, 10)},
    26948: (31.0, _dms(-110, 10), 1 - 1 / 10000, 213360.0, 0.0),
    26949: (31.0, _dms(-111, 55), 1 - 1 / 10000, 213360.0, 0.0),
    26950: (31.0, _dms(-113, 45), 1 - 1 / 15000, 213360.0, 0.0),
    26957: (38.0, _dms(-75, 25), 1 - 1 / 200000, 200000.0, 0.0),
    26958: (_dms(24, 20), -81.0, 1 - 1 / 17000, 200000.0, 0.0),
    26959: (_dms(24, 20), -82.0, 1 - 1 / 17000, 200000.0, 0.0),
    26961: (_dms(18, 50), -155.5, 1 - 1 / 30000, 500000.0, 0.0),
    26962: (_dms(20, 20), _dms(-156, 40), 1 - 1 / 30000, 500000.0, 0.0),
    26963: (_dms(21, 10), -158.0, 1 - 1 / 100000, 500000.0, 0.0),
    26964: (_dms(21, 50), -159.5, 1 - 1 / 100000, 500000.0, 0.0),
    26965: (_dms(21, 40), _dms(-160, 10), 1.0, 500000.0, 0.0),
    26966: (30.0, _dms(-82, 10), 1 - 1 / 10000, 200000.0, 0.0),
    26967: (30.0, _dms(-84, 10), 1 - 1 / 10000, 700000.0, 0.0),
    26968: (_dms(41, 40), _dms(-112, 10), 1 - 1 / 19000, 200000.0, 0.0),
    26969: (_dms(41, 40), -114.0, 1 - 1 / 19000, 500000.0, 0.0),
    26970: (_dms(41, 40), -115.75, 1 - 1 / 15000, 800000.0, 0.0),
    26971: (_dms(36, 40), _dms(-88, 20), 1 - 1 / 40000, 300000.0, 0.0),
    26972: (_dms(36, 40), _dms(-90, 10), 1 - 1 / 17000, 700000.0, 0.0),
    26973: (37.5, _dms(-85, 40), 1 - 1 / 30000, 100000.0, 250000.0),
    26974: (37.5, _dms(-87, 5), 1 - 1 / 30000, 900000.0, 250000.0),
    26983: (_dms(43, 40), -68.5, 1 - 1 / 10000, 300000.0, 0.0),
    26984: (_dms(42, 50), _dms(-70, 10), 1 - 1 / 30000, 900000.0, 0.0),
    26994: (29.5, _dms(-88, 50), 1 - 1 / 20000, 300000.0, 0.0),
    26995: (29.5, _dms(-90, 20), 1 - 1 / 20000, 700000.0, 0.0),
    26996: (_dms(35, 50), -90.5, 1 - 1 / 15000, 250000.0, 0.0),
    26997: (_dms(35, 50), -92.5, 1 - 1 / 15000, 500000.0, 0.0),
    26998: (_dms(36, 10), -94.5, 1 - 1 / 17000, 850000.0, 0.0),
    32107: (34.75, _dms(-115, 35), 1 - 1 / 10000, 200000.0, 8000000.0),
    32108: (34.75, _dms(-116, 40), 1 - 1 / 10000, 500000.0, 6000000.0),
    32109: (34.75, _dms(-118, 35), 1 - 1 / 10000, 800000.0, 4000000.0),
    32110: (42.5, _dms(-71, 40), 1 - 1 / 30000, 300000.0, 0.0),
    32111: (_dms(38, 50), -74.5, 1 - 1 / 10000, 150000.0, 0.0),
    32112: (31.0, _dms(-104, 20), 1 - 1 / 11000, 165000.0, 0.0),
    32113: (31.0, -106.25, 1 - 1 / 10000, 500000.0, 0.0),
    32114: (31.0, _dms(-107, 50), 1 - 1 / 12000, 830000.0, 0.0),
    32115: (_dms(38, 50), -74.5, 1 - 1 / 10000, 150000.0, 0.0),
    32116: (40.0, _dms(-76, 35), 1 - 1 / 16000, 250000.0, 0.0),
    32117: (40.0, _dms(-78, 35), 1 - 1 / 16000, 350000.0, 0.0),
    32130: (_dms(41, 5), -71.5, 1 - 1 / 160000, 100000.0, 0.0),
    32145: (42.5, -72.5, 1 - 1 / 28000, 500000.0, 0.0),
    32155: (40.5, _dms(-105, 10), 1 - 1 / 16000, 200000.0, 0.0),
    32156: (40.5, _dms(-107, 20), 1 - 1 / 16000, 400000.0, 100000.0),
    32157: (40.5, _dms(-108, 45), 1 - 1 / 16000, 600000.0, 0.0),
    32158: (40.5, _dms(-110, 5), 1 - 1 / 16000, 800000.0, 100000.0),
}
for _code, (_la0, _lo0, _k0, _fe, _fn) in _SPCS_TM.items():
    EPSG_REGISTRY[str(_code)] = \
        f"tm:{_la0!r}:{_lo0!r}:{_k0!r}:{_fe!r}:{_fn!r}"

# NAD83 State Plane — Lambert Conformal Conic (2SP) zones:
# code -> (lat1, lat2, lat0, lon0, FE, FN).
_SPCS_LCC = {
    26940: (_dms(51, 50), _dms(53, 50), 51.0, -176.0, 1000000.0, 0.0),
    26941: (40.0, _dms(41, 40), _dms(39, 20), -122.0,
            2000000.0, 500000.0),
    26942: (_dms(38, 20), _dms(39, 50), _dms(37, 40), -122.0,
            2000000.0, 500000.0),
    26943: (_dms(37, 4), _dms(38, 26), 36.5, -120.5,
            2000000.0, 500000.0),
    26944: (36.0, _dms(37, 15), _dms(35, 20), -119.0,
            2000000.0, 500000.0),
    26945: (_dms(34, 2), _dms(35, 28), 33.5, -118.0,
            2000000.0, 500000.0),
    26946: (_dms(32, 47), _dms(33, 53), _dms(32, 10), -116.25,
            2000000.0, 500000.0),
    26951: (_dms(34, 56), _dms(36, 14), _dms(34, 20), -92.0,
            400000.0, 0.0),
    26952: (_dms(33, 18), _dms(34, 46), _dms(32, 40), -92.0,
            400000.0, 400000.0),
    26953: (_dms(39, 43), _dms(40, 47), _dms(39, 20), -105.5,
            914401.8289, 304800.6096),
    26954: (_dms(38, 27), _dms(39, 45), _dms(37, 50), -105.5,
            914401.8289, 304800.6096),
    26955: (_dms(37, 14), _dms(38, 26), _dms(36, 40), -105.5,
            914401.8289, 304800.6096),
    26956: (_dms(41, 12), _dms(41, 52), _dms(40, 50), -72.75,
            304800.6096, 152400.3048),
    26960: (_dms(29, 35), _dms(30, 45), 29.0, -84.5, 600000.0, 0.0),
    26975: (_dms(42, 4), _dms(43, 16), 41.5, -93.5,
            1500000.0, 1000000.0),
    26976: (_dms(40, 37), _dms(41, 47), 40.0, -93.5, 500000.0, 0.0),
    26977: (_dms(38, 43), _dms(39, 47), _dms(38, 20), -98.0,
            400000.0, 0.0),
    26978: (_dms(37, 16), _dms(38, 34), _dms(36, 40), -98.5,
            400000.0, 400000.0),
    26979: (_dms(37, 58), _dms(38, 58), 37.5, -84.25, 500000.0, 0.0),
    26980: (_dms(36, 44), _dms(37, 56), _dms(36, 20), -85.75,
            500000.0, 500000.0),
    26981: (_dms(31, 10), _dms(32, 40), 30.5, -92.5, 1000000.0, 0.0),
    26982: (_dms(29, 18), _dms(30, 42), 28.5, _dms(-91, 20),
            1000000.0, 0.0),
    26985: (_dms(38, 18), _dms(39, 27), _dms(37, 40), -77.0,
            400000.0, 0.0),
    26986: (_dms(41, 43), _dms(42, 41), 41.0, -71.5,
            200000.0, 750000.0),
    26987: (_dms(41, 17), _dms(41, 29), 41.0, -70.5, 500000.0, 0.0),
    26988: (_dms(45, 29), _dms(47, 5), _dms(44, 47), -87.0,
            8000000.0, 0.0),
    26989: (_dms(44, 11), _dms(45, 42), _dms(43, 19), _dms(-84, 22),
            6000000.0, 0.0),
    26990: (_dms(42, 6), _dms(43, 40), 41.5, _dms(-84, 22),
            4000000.0, 0.0),
    26991: (_dms(47, 2), _dms(48, 38), 46.5, _dms(-93, 6),
            800000.0, 100000.0),
    26992: (_dms(45, 37), _dms(47, 3), 45.0, -94.25,
            800000.0, 100000.0),
    26993: (_dms(43, 47), _dms(45, 13), 43.0, -94.0,
            800000.0, 100000.0),
    32100: (45.0, 49.0, 44.25, -109.5, 600000.0, 0.0),
    32104: (40.0, 43.0, _dms(39, 50), -100.0, 500000.0, 0.0),
    32118: (_dms(40, 40), _dms(41, 2), _dms(40, 10), -74.0,
            300000.0, 0.0),
    32119: (_dms(34, 20), _dms(36, 10), 33.75, -79.0, 609601.22, 0.0),
    32120: (_dms(47, 26), _dms(48, 44), 47.0, -100.5, 600000.0, 0.0),
    32121: (_dms(46, 11), _dms(47, 29), _dms(45, 40), -100.5,
            600000.0, 0.0),
    32122: (_dms(40, 26), _dms(41, 42), _dms(39, 40), -82.5,
            600000.0, 0.0),
    32123: (_dms(38, 44), _dms(40, 2), 38.0, -82.5, 600000.0, 0.0),
    32124: (_dms(35, 34), _dms(36, 46), 35.0, -98.0, 600000.0, 0.0),
    32125: (_dms(33, 56), _dms(35, 14), _dms(33, 20), -98.0,
            600000.0, 0.0),
    32126: (_dms(44, 20), 46.0, _dms(43, 40), -120.5,
            2500000.0, 0.0),
    32127: (_dms(42, 20), 44.0, _dms(41, 40), -120.5,
            1500000.0, 0.0),
    32128: (_dms(40, 53), _dms(41, 57), _dms(40, 10), -77.75,
            600000.0, 0.0),
    32129: (_dms(39, 56), _dms(40, 58), _dms(39, 20), -77.75,
            600000.0, 0.0),
    32133: (32.5, _dms(34, 50), _dms(31, 50), -81.0, 609600.0, 0.0),
    32134: (_dms(44, 25), _dms(45, 41), _dms(43, 50), -100.0,
            600000.0, 0.0),
    32135: (_dms(42, 50), _dms(44, 24), _dms(42, 20), _dms(-100, 20),
            600000.0, 0.0),
    32136: (_dms(35, 15), _dms(36, 25), _dms(34, 20), -86.0,
            600000.0, 0.0),
    32137: (_dms(34, 39), _dms(36, 11), 34.0, -101.5,
            200000.0, 1000000.0),
    32138: (_dms(32, 8), _dms(33, 58), _dms(31, 40), -98.5,
            600000.0, 2000000.0),
    32139: (_dms(30, 7), _dms(31, 53), _dms(29, 40), _dms(-100, 20),
            700000.0, 3000000.0),
    32140: (_dms(28, 23), _dms(30, 17), _dms(27, 50), -99.0,
            600000.0, 4000000.0),
    32141: (_dms(26, 10), _dms(27, 50), _dms(25, 40), -98.5,
            300000.0, 5000000.0),
    32142: (_dms(40, 43), _dms(41, 47), _dms(40, 20), -111.5,
            500000.0, 1000000.0),
    32143: (_dms(39, 1), _dms(40, 39), _dms(38, 20), -111.5,
            500000.0, 2000000.0),
    32144: (_dms(37, 13), _dms(38, 21), _dms(36, 40), -111.5,
            500000.0, 3000000.0),
    32146: (_dms(38, 2), _dms(39, 12), _dms(37, 40), -78.5,
            3500000.0, 2000000.0),
    32147: (_dms(36, 46), _dms(37, 58), _dms(36, 20), -78.5,
            3500000.0, 1000000.0),
    32148: (47.5, _dms(48, 44), 47.0, _dms(-120, 50),
            500000.0, 0.0),
    32149: (_dms(45, 50), _dms(47, 20), _dms(45, 20), -120.5,
            500000.0, 0.0),
    32150: (39.0, _dms(40, 15), 38.5, -79.5, 600000.0, 0.0),
    32151: (_dms(37, 29), _dms(38, 53), 37.0, -81.0, 600000.0, 0.0),
    32152: (_dms(45, 34), _dms(46, 46), _dms(45, 10), -90.0,
            600000.0, 0.0),
    32153: (44.25, 45.5, _dms(43, 50), -90.0, 600000.0, 0.0),
    32154: (_dms(42, 44), _dms(44, 4), 42.0, -90.0, 600000.0, 0.0),
    3088: (_dms(37, 5), _dms(38, 40), _dms(36, 20), -85.75,
           1500000.0, 1000000.0),
}
for _code, (_l1, _l2, _la0, _lo0, _fe, _fn) in _SPCS_LCC.items():
    EPSG_REGISTRY[str(_code)] = \
        f"lcc:{_l1!r}:{_l2!r}:{_la0!r}:{_lo0!r}:{_fe!r}:{_fn!r}"

# Continental equal-area / conformal frames on WGS84-family datums.
EPSG_REGISTRY["5070"] = "aea:29.5:45.5:23.0:-96.0:0.0:0.0"  # CONUS Albers
EPSG_REGISTRY["3005"] = "aea:50.0:58.5:45.0:-126.0:1000000.0:0.0"  # BC
EPSG_REGISTRY["3338"] = "aea:55.0:65.0:50.0:-154.0:0.0:0.0"  # AK Albers
EPSG_REGISTRY["3978"] = "lcc:49.0:77.0:49.0:-95.0:0.0:0.0"  # Canada Atlas
EPSG_REGISTRY["3979"] = EPSG_REGISTRY["3978"]     # NAD83(CSRS) twin
# (2154 / 3034 / 3035 / 5070 / 2193 / 2180 already live in _EPSG_CONIC)
EPSG_REGISTRY["2157"] = \
    "tm:53.5:-8.0:0.99982:600000.0:750000.0"        # IRENET95 / ITM
EPSG_REGISTRY["3083"] = \
    "aea:27.5:35.0:18.0:-100.0:1500000.0:6000000.0"  # TX Centric Albers
EPSG_REGISTRY["3082"] = \
    "lcc:27.5:35.0:18.0:-100.0:1500000.0:5000000.0"  # TX Centric LCC

# Poland PL-2000 zones (PL-1992 = 2180 already in _EPSG_CONIC).
for _z in range(5, 9):     # 2176-2179 = CS2000 zones 5..8 (CM 15..24)
    EPSG_REGISTRY[str(2171 + _z)] = (
        f"tm:0.0:{3.0 * _z!r}:0.999923:{_z * 1000000.0 + 500000.0!r}:0.0")

# Sweden: SWEREF99 TM (3006) + the 12 local dd mm zones (3007-3018),
# k0 = 1, FE 150 000, FN 0, CM per the published zone list.
EPSG_REGISTRY["3006"] = "tm:0.0:15.0:0.9996:500000.0:0.0"
for _code, _cm in ((3007, 12.0), (3008, 13.5), (3009, 15.0),
                   (3010, 16.5), (3011, 18.0), (3012, 14.25),
                   (3013, 15.75), (3014, 17.25), (3015, 18.75),
                   (3016, 20.25), (3017, 21.75), (3018, 23.25)):
    EPSG_REGISTRY[str(_code)] = f"tm:0.0:{_cm!r}:1.0:150000.0:0.0"

# Norway: ETRS89 / NTM zones 5-30 (EPSG 5105-5130): lat0 58, CM
# zone + 0.5, k0 = 1, FE 100 000, FN 1 000 000.
for _z in range(5, 31):
    EPSG_REGISTRY[str(5100 + _z)] = \
        f"tm:58.0:{_z + 0.5!r}:1.0:100000.0:1000000.0"

# Finland: ETRS89 / GK19FIN..GK31FIN (EPSG 3873-3885): lat0 0, CM
# 19..31, k0 = 1, FE = CM * 1e6 + 500 000.
for _cm in range(19, 32):
    EPSG_REGISTRY[str(3854 + _cm)] = \
        f"tm:0.0:{float(_cm)!r}:1.0:{_cm * 1000000.0 + 500000.0!r}:0.0"

# China: CGCS2000 / Gauss-Krüger (CGCS2000 is WGS84-family GRS80-class:
# 1/f = 298.257222101).  4491-4501 = zones 13-23 (zone-prefixed FE),
# 4502-4512 = CM 75E..135E (FE 500 000); 6-degree zones, CM = 6z - 3.
for _z in range(13, 24):
    EPSG_REGISTRY[str(4478 + _z)] = (
        f"tm:0.0:{6.0 * _z - 3.0!r}:1.0:{_z * 1000000.0 + 500000.0!r}:0.0")
for _i, _cm in enumerate(range(75, 136, 6)):
    EPSG_REGISTRY[str(4502 + _i)] = \
        f"tm:0.0:{float(_cm)!r}:1.0:500000.0:0.0"

# SIRGAS 2000 / UTM (GRS80): 31965-31976 = zones 11N-22N,
# 31977-31985 = zones 17S-25S.
for _z in range(11, 23):
    EPSG_REGISTRY[str(31954 + _z)] = f"utm:{_z}:n"
for _z in range(17, 26):
    EPSG_REGISTRY[str(31960 + _z)] = f"utm:{_z}:s"

# Germany: DHDN / 3-degree Gauss-Krüger zones 2-5 (EPSG 31466-31469) —
# Bessel 1841 + the published position-vector Helmert DHDN→WGS84
# (EPSG tfm 1777: 598.1, 73.7, 418.2 m; 0.202", 0.045", -2.455";
# 6.7 ppm — the documented ~3 m national class, same contract as the
# NAD27/Pulkovo tiers).  CM = 3z, FE = z * 1e6 + 500 000, k0 = 1.
DHDN_HELMERT = (598.1, 73.7, 418.2, 0.202, 0.045, -2.455, 6.7)
for _z in range(2, 6):
    EPSG_REGISTRY[str(31464 + _z)] = ("tmd:" + ":".join(
        repr(v) for v in (0.0, 3.0 * _z, 1.0, _z * 1000000.0 + 500000.0,
                          0.0, BESSEL_A, BESSEL_F, *DHDN_HELMERT)))

# Zone families resolved by regex (parameter-identical to UTM zones):
#   26901-26923  NAD83 / UTM 1N-23N      (GRS80 — WGS84-family)
#   28348-28358  GDA94 / MGA zones 48-58 (southern TM, k0/FE/FN = UTM S)
#   7846-7856    GDA2020 / MGA zones 46-56
_NAD83_UTM_RE = re.compile(r"^(?:epsg:)?269(0[1-9]|1[0-9]|2[0-3])$")
_MGA94_RE = re.compile(r"^(?:epsg:)?283(4[89]|5[0-8])$")
_MGA2020_RE = re.compile(r"^(?:epsg:)?78(4[6-9]|5[0-6])$")


def list_supported_epsg() -> dict:
    """User-facing inventory: every EPSG code (or code range) the
    engine decodes, with the kernel family behind it — the
    spatial.layers-style discoverability surface for the CRS tier
    (r12).  Ranges are (lo, hi) inclusive."""
    out = {
        "4326": "geographic WGS84", "3857": "web mercator",
        ("32601", "32660"): "WGS84 / UTM north",
        ("32701", "32760"): "WGS84 / UTM south",
        ("25828", "25838"): "ETRS89 / UTM",
        "3067": "ETRS89 / TM35FIN",
        ("26901", "26923"): "NAD83 / UTM",
        ("28348", "28358"): "GDA94 / MGA",
        ("7846", "7856"): "GDA2020 / MGA",
        ("26701", "26722"): "NAD27 / UTM (Clarke 1866 + Helmert)",
        ("28404", "28432"): "Pulkovo 1942 / Gauss-Krüger "
                            "(Krassovsky + Helmert)",
        "27700": "OSGB36 / British National Grid (Airy + Helmert)",
        "28992": "Amersfoort / RD New (Bessel + Helmert, obl. stereo)",
        "21781": "CH1903 / LV03 (Bessel + Helmert, Swiss oblique)",
        "2056": "CH1903+ / LV95",
        "31370": "Belge 1972 / Belgian Lambert 72 (Intl 1924 + "
                 "Helmert, LCC 2SP)",
        # r13 mechanical completion — the registry families:
        ("6669", "6687"): "JGD2011 / Japan Plane Rectangular CS I-XIX",
        ("26929", "26998"): "NAD83 / SPCS83 state-plane (TM + LCC "
                            "zones, metre codes; AK zone 1 26931 "
                            "(oblique Mercator) refuses)",
        ("32100", "32158"): "NAD83 / SPCS83 state-plane (TM + LCC "
                            "zones, metre codes; codes absent from "
                            "EPSG refuse)",
        "3088": "NAD83 / Kentucky Single Zone",
        "5070": "NAD83 / Conus Albers", "3338": "NAD83 / Alaska Albers",
        "3005": "NAD83 / BC Albers",
        ("3978", "3979"): "NAD83(+CSRS) / Canada Atlas Lambert",
        ("3082", "3083"): "NAD83 / Texas Centric (LCC + Albers)",
        "2154": "RGF93 / Lambert-93",
        "3034": "ETRS89-extended / LCC Europe",
        "3035": "ETRS89-extended / LAEA Europe",
        "2157": "IRENET95 / Irish Transverse Mercator",
        "2193": "NZGD2000 / New Zealand TM 2000",
        "2180": "ETRS89 / Poland CS92",
        ("2176", "2179"): "ETRS89 / Poland CS2000 zones 5-8",
        ("3006", "3018"): "SWEREF99 TM + dd mm zones",
        ("5105", "5130"): "ETRS89 / Norway NTM zones 5-30",
        ("3873", "3885"): "ETRS89 / GK19FIN-GK31FIN",
        ("4491", "4501"): "CGCS2000 / Gauss-Krüger zones 13-23",
        ("4502", "4512"): "CGCS2000 / Gauss-Krüger CM 75E-135E",
        ("31965", "31976"): "SIRGAS 2000 / UTM 11N-22N",
        ("31977", "31985"): "SIRGAS 2000 / UTM 17S-25S",
        ("31466", "31469"): "DHDN / 3-degree Gauss-Krüger zones 2-5 "
                            "(Bessel + Helmert)",
    }
    for k, v in EPSG_REGISTRY.items():
        if k not in out:
            out[k] = v.split(":")[0] + " (registry)"
    for k, v in {**_EPSG_CONIC, **_EPSG_TMD, **_EPSG_SOD,
                 **_EPSG_SOC}.items():
        if k not in out:
            out[k] = v.split(":")[0]
    return out


_POLE_MSG = {
    "tm": "st_transform: TM origin latitude must be below the pole",
    "tmd": "st_transform: TM origin latitude must be below the pole",
    "sod": ("st_transform: oblique-stereographic origin latitude must be "
            "below the pole (use psb:/psa: for the polar aspect)"),
    "soc": ("st_transform: Swiss-oblique origin latitude must be below "
            "the pole"),
    "laea": ("st_transform: LAEA polar aspect is out of scope (oblique "
             "|lat0| < 90 only)"),
}
_DATUM_KINDS = ("tmd", "lccd", "sod", "soc")   # (a, f) + 7 Helmert last


def _frame(crs) -> str:
    """Canonical frame token: 'wgs84' | 'merc' | 'cart' |
    'utm:<zone>:<n|s>' | '<kind>:<params…>' for every other kind in
    ``_KERNELS`` ('psa:…' ends in ':<n|s>').  Generic tokens are
    accepted and re-canonicalized (float repr) so parameter-equal
    frames compare equal."""
    s = str(crs).strip().lower()
    if s in _WGS84:
        return "wgs84"
    if s in _MERC:
        return "merc"
    if s in _CART:
        return "cart"
    m = _UTM_RE.match(s)
    if m:
        zone = int(m.group(2))
        if not 1 <= zone <= 60:
            raise ValueError(f"st_transform: UTM zone {zone} out of 1..60")
        return f"utm:{zone}:{'n' if m.group(1) == '326' else 's'}"
    m = _NAD27_UTM_RE.match(s)
    if m:                       # EPSG:26701-26722 — NAD27 / UTM zones
        return _nad27_utm_frame(int(m.group(1)))
    m = _PULKOVO_GK_RE.match(s)
    if m:                       # EPSG:28404-28432 — Pulkovo 1942 / GK
        return _pulkovo_gk_frame(int(m.group(1)))
    m = _ETRS_UTM_RE.match(s)
    if m:                       # EPSG:25828-25838 — ETRS89 / UTM
        return f"utm:{int(m.group(1))}:n"
    if s in ("epsg:3067", "3067"):      # ETRS89 / TM35FIN == UTM 35N
        return "utm:35:n"
    m = _NAD83_UTM_RE.match(s)
    if m:                       # EPSG:26901-26923 — NAD83 / UTM
        return f"utm:{int(m.group(1))}:n"
    m = _MGA94_RE.match(s) or _MGA2020_RE.match(s)
    if m:                       # GDA94/GDA2020 / MGA — UTM-S twins
        return f"utm:{int(m.group(1))}:s"
    key = s[5:] if s.startswith("epsg:") else s
    if key in EPSG_REGISTRY:    # data-driven registry (r12)
        return _frame(EPSG_REGISTRY[key])
    for table in (_EPSG_CONIC, _EPSG_TMD, _EPSG_SOD, _EPSG_SOC):
        if key in table:
            return table[key]
    if s.startswith("utm:"):
        # canonical utm:<zone>:<n|s> token (registry zone aliases —
        # e.g. SIRGAS 2000 / UTM — resolve recursively through here)
        parts = s.split(":")
        if (len(parts) != 3 or not parts[1].isdigit()
                or parts[2] not in ("n", "s")):
            raise ValueError(f"st_transform: malformed frame {crs!r} "
                             "(utm:<zone>:<n|s>)")
        zone = int(parts[1])
        if not 1 <= zone <= 60:
            raise ValueError(f"st_transform: UTM zone {zone} out of 1..60")
        return f"utm:{zone}:{parts[2]}"
    kind, *parts = s.split(":")
    n_num = _KERNELS[kind][0] if parts and kind in _KERNELS else None
    if n_num:
        hemi = ()
        if kind == "psa":
            if len(parts) != 5 or parts[4] not in ("n", "s"):
                raise ValueError(f"st_transform: malformed frame {crs!r} "
                                 "(psa:<k0>:<lon0>:<fe>:<fn>:<n|s>)")
            hemi = (parts[4],)
            parts = parts[:4]
        if len(parts) != n_num:
            raise ValueError(f"st_transform: malformed frame {crs!r}")
        try:
            nums = [float(p) for p in parts]
        except ValueError:
            raise ValueError(f"st_transform: malformed frame {crs!r}")
        if kind == "psb" and nums[0] == 0.0:
            raise ValueError("st_transform: psb lat_ts must be nonzero "
                             "(sign selects the aspect)")
        if kind in _POLE_MSG and abs(nums[0]) >= 89.999999:
            raise ValueError(_POLE_MSG[kind])
        if kind in _DATUM_KINDS:
            a, f = nums[-9], nums[-8]
            if not (a > 0.0 and 0.0 < f < 0.01):
                raise ValueError(f"st_transform: {kind} ellipsoid must "
                                 "have a > 0 and 0 < f < 0.01")
        if kind == "aea" and abs(nums[0] + nums[1]) < 1e-9:
            raise ValueError("st_transform: Albers standard parallels "
                             "symmetric about the equator give n=0 "
                             "(cylindrical limit) — out of scope")
        return ":".join((kind, *(repr(v) for v in nums), *hemi))
    raise ValueError(
        f"st_transform: unsupported CRS {crs!r} "
        "(supported: EPSG:4326, EPSG:3857, EPSG:326xx/327xx UTM, "
        "EPSG:2154/3034 LCC, EPSG:3031/3413/3995 polar stereographic, "
        "EPSG:5041/5042 UPS, EPSG:3035 LAEA, EPSG:5070 Albers, "
        "EPSG:2193/2180/3414 TM, EPSG:27700 OSGB36 National Grid, "
        "EPSG:28992 Amersfoort / RD New, EPSG:21781/2056 Swiss LV03/"
        "LV95, EPSG:26701-26722 NAD27 UTM, EPSG:28404-28432 Pulkovo "
        "1942 Gauss-Krüger, EPSG:26901-26923 NAD83 UTM, EPSG:28348-"
        "28358 + 7846-7856 GDA MGA, EPSG:2443-2461 JGD2000 Japan CS, "
        "EPSG:3942-3950 RGF93 CC zones, EPSG:5179 Korea Unified, "
        "EPSG:3577/3112 GDA94 Albers/Lambert, "
        "generic lcc:/psb:/psa:/laea:/tm:/aea:/tmd:/sod:/soc: frames, "
        "cartesian)")


# --- SQL spellings: atanh/sinh/cosh through ln/exp, valid in both engines --
def _atanh(x: str) -> str:
    return f"(0.5 * ln((1.0 + {x}) / (1.0 - {x})))"


def _sinh(x: str) -> str:
    return f"((exp({x}) - exp(-({x}))) / 2.0)"


def _cosh(x: str) -> str:
    return f"((exp({x}) + exp(-({x}))) / 2.0)"


def _ksum(v: str, sign: str, coefs, trig: str, hyp, x: str, y: str) -> str:
    """One Krüger series as SQL: ``v`` ± Σ_j coef_j · trig(2j·x) ·
    hyp(2j·y), summed left to right as the numpy loop does."""
    return v + "".join(
        f"\n              {sign} {_c(k)} * {trig}({2.0 * j!r} * {x})"
        f" * {hyp(f'({2.0 * j!r} * {y})')}"
        for j, k in enumerate(coefs, start=1))


def merc_forward_sql(lon_sql: str, lat_sql: str) -> tuple[str, str]:
    """(x_meters, y_meters) SQL texts — valid in Spark SQL and DuckDB."""
    x = f"({MERC_R!r} * radians({lon_sql}))"
    y = f"({MERC_R!r} * ln(tan(pi() / 4.0 + radians({lat_sql}) / 2.0)))"
    return x, y


def merc_inverse_sql(x_sql: str, y_sql: str) -> tuple[str, str]:
    """(lon_degrees, lat_degrees) SQL texts — valid in both engines."""
    lon = f"(degrees(({x_sql}) / {MERC_R!r}))"
    lat = f"(degrees(2.0 * atan(exp(({y_sql}) / {MERC_R!r})) - pi() / 2.0))"
    return lon, lat


def _merc_forward(ll: np.ndarray) -> np.ndarray:
    out = np.empty_like(ll, dtype=np.float64)
    out[:, 0] = MERC_R * np.radians(ll[:, 0])
    out[:, 1] = MERC_R * np.log(
        np.tan(np.pi / 4.0 + np.radians(ll[:, 1]) / 2.0))
    return out


def _merc_inverse(xy: np.ndarray) -> np.ndarray:
    ll = np.empty_like(xy, dtype=np.float64)
    ll[:, 0] = np.degrees(xy[:, 0] / MERC_R)
    ll[:, 1] = np.degrees(
        2.0 * np.arctan(np.exp(xy[:, 1] / MERC_R)) - np.pi / 2.0)
    return ll


# --- Transverse Mercator: one Krüger/Karney series -------------------------
def tm_xi0(lat0: float, alpha, c: float) -> float:
    """ξ of (lat0, central meridian) in the Krüger series with constants
    (alpha, c) — the meridian-arc origin shift a TM frame subtracts
    (exactly 0 for lat0 = 0, the UTM case)."""
    sphi = math.sin(math.radians(lat0))
    t = math.sinh(math.atanh(sphi) - c * math.atanh(c * sphi))
    xip = math.atan(t)
    xi = xip
    for j, a_j in enumerate(alpha, start=1):
        xi += a_j * math.sin(2.0 * j * xip)
    return xi


def tm_forward(xy: np.ndarray, lat0: float, lon0: float, k0: float,
               fe: float, fn: float, a: float = MERC_R,
               f: float = _F) -> np.ndarray:
    """Lon/lat degrees on ellipsoid (a, f) → transverse-Mercator meters
    (Krüger/Karney forward series) with natural origin (lat0, lon0),
    scale k0 and false origin (fe, fn).  Coordinates are in the grid's
    own datum: a datum-shifted caller moves them there first."""
    A, alpha, _, _, c = krueger_constants(a, f)
    phi = np.radians(xy[:, 1])
    lam = np.radians(xy[:, 0] - lon0)
    sphi = np.sin(phi)
    t = np.sinh(np.arctanh(sphi) - c * np.arctanh(c * sphi))
    xip = np.arctan2(t, np.cos(lam))
    etap = np.arctanh(np.sin(lam) / np.sqrt(1.0 + t * t))
    xi, eta = xip.copy(), etap.copy()
    for j, a_j in enumerate(alpha, start=1):
        xi += a_j * np.sin(2.0 * j * xip) * np.cosh(2.0 * j * etap)
        eta += a_j * np.cos(2.0 * j * xip) * np.sinh(2.0 * j * etap)
    out = np.empty_like(xy, dtype=np.float64)
    out[:, 0] = fe + k0 * A * eta
    out[:, 1] = fn + k0 * A * (xi - tm_xi0(lat0, alpha, c))
    return out


def tm_inverse(xy: np.ndarray, lat0: float, lon0: float, k0: float,
               fe: float, fn: float, a: float = MERC_R,
               f: float = _F) -> np.ndarray:
    """Transverse-Mercator meters → lon/lat degrees on ellipsoid (a, f)
    (inverse series; conformal → geographic latitude by the delta
    series)."""
    A, alpha, beta, delta, c = krueger_constants(a, f)
    xi = (xy[:, 1] - fn) / (k0 * A) + tm_xi0(lat0, alpha, c)
    eta = (xy[:, 0] - fe) / (k0 * A)
    xip, etap = xi.copy(), eta.copy()
    for j, b_j in enumerate(beta, start=1):
        xip -= b_j * np.sin(2.0 * j * xi) * np.cosh(2.0 * j * eta)
        etap -= b_j * np.cos(2.0 * j * xi) * np.sinh(2.0 * j * eta)
    chi = np.arcsin(np.sin(xip) / np.cosh(etap))
    phi = chi.copy()
    for j, d_j in enumerate(delta, start=1):
        phi += d_j * np.sin(2.0 * j * chi)
    lam = np.arctan2(np.sinh(etap), np.cos(xip))
    out = np.empty_like(xy, dtype=np.float64)
    out[:, 0] = lon0 + np.degrees(lam)
    out[:, 1] = np.degrees(phi)
    return out


def utm_forward(xy: np.ndarray, zone: int, south: bool) -> np.ndarray:
    """WGS84 lon/lat degrees → UTM easting/northing meters."""
    return tm_forward(xy, 0.0, 6.0 * zone - 183.0, UTM_K0, UTM_E0,
                      UTM_FN_SOUTH if south else 0.0)


def utm_inverse(xy: np.ndarray, zone: int, south: bool) -> np.ndarray:
    """UTM easting/northing meters → WGS84 lon/lat degrees."""
    return tm_inverse(xy, 0.0, 6.0 * zone - 183.0, UTM_K0, UTM_E0,
                      UTM_FN_SOUTH if south else 0.0)


def _tm_ctes(p: str, src: str, k0: float, a: float, f: float,
             fe_sql: str, fn_sql: str, lat0: float) -> str:
    """The Krüger forward series as the stages ``{p}_t``, ``{p}_xe``
    and ``{p}_out`` over stage ``src``, which carries ``_phi`` (latitude
    on ellipsoid (a, f)) and ``_lam`` (longitude from the central
    meridian), both radians.  ``{p}_out`` adds ``easting`` =
    fe + k0·A·η and ``northing`` = fn + k0·A·(ξ − ξ₀): ``tm_forward``
    op for op."""
    A, alpha, _, _, c = krueger_constants(a, f)
    ka = f"({_c(k0)} * {_c(A)})"
    t = _sinh(f"({_atanh('sin(_phi)')} - {_c(c)} * "
              f"{_atanh(f'({_c(c)} * sin(_phi))')})")
    return f"""
        {p}_t AS (SELECT *, {t} AS _t FROM {src}),
        {p}_xe AS (
          SELECT *, atan2(_t, cos(_lam)) AS _xip,
                 {_atanh("(sin(_lam) / sqrt(1.0 + _t * _t))")} AS _etap
          FROM {p}_t),
        {p}_out AS (
          SELECT *,
            {fe_sql} + {ka} * ({_ksum("_etap", "+", alpha, "cos", _sinh,
                                      "_xip", "_etap")})
              AS easting,
            {fn_sql} + {ka} * (({_ksum("_xip", "+", alpha, "sin", _cosh,
                                       "_xip", "_etap")})
              - {_c(tm_xi0(lat0, alpha, c))})
              AS northing
          FROM {p}_xe)"""


def utm_forward_ctes(base: str, lon: str = "lon", lat: str = "lat",
                     zone: str = "zone", south: str = "south") -> str:
    """Dual-engine SQL (valid Spark SQL AND DuckDB) computing the UTM
    forward series: wraps ``base`` — a query exposing ``lon``/``lat``
    degrees plus ``zone`` (1..60) and ``south`` (boolean) columns — in
    a WITH chain whose ``_utm_out`` stage adds ``easting``/``northing``
    columns."""
    fn = (f"(CASE WHEN {south} THEN {_c(UTM_FN_SOUTH)} "
          f"ELSE {_c(0.0)} END)")
    return f"""
        WITH _utm_base AS ({base}),
        _utm_s1 AS (
          SELECT *, radians(CAST({lat} AS DOUBLE)) AS _phi,
                 radians(CAST({lon} AS DOUBLE)
                         - (6.0 * CAST({zone} AS DOUBLE) - 183.0)) AS _lam
          FROM _utm_base),{_tm_ctes("_utm", "_utm_s1", UTM_K0, MERC_R, _F,
                                    _c(UTM_E0), fn, 0.0)}
    """


def utm_inverse_ctes(base: str, easting: str = "easting",
                     northing: str = "northing", zone: str = "zone",
                     south: str = "south") -> str:
    """Dual-engine SQL for the INVERSE series (UTM meters → lon/lat
    degrees), the symmetric twin of ``utm_forward_ctes``: wraps
    ``base`` — a query exposing ``easting``/``northing`` meters plus
    ``zone`` and ``south`` columns — in a WITH chain whose
    ``_utmi_out`` stage adds ``lon``/``lat`` columns."""
    d1, d2, d3 = UTM_DELTA
    ka = f"({_c(UTM_K0)} * {_c(UTM_A)})"
    return f"""
        WITH _utmi_base AS ({base}),
        _utmi_s1 AS (
          SELECT *,
                 (CAST({northing} AS DOUBLE)
                  - (CASE WHEN {south} THEN {_c(UTM_FN_SOUTH)}
                          ELSE {_c(0.0)} END)) / {ka} AS _ixi,
                 (CAST({easting} AS DOUBLE) - {_c(UTM_E0)}) / {ka} AS _ieta
          FROM _utmi_base),
        _utmi_s2 AS (
          SELECT *,
            {_ksum("_ixi", "-", UTM_BETA, "sin", _cosh, "_ixi", "_ieta")}
              AS _ixip,
            {_ksum("_ieta", "-", UTM_BETA, "cos", _sinh, "_ixi", "_ieta")}
              AS _ietap
          FROM _utmi_s1),
        _utmi_s3 AS (
          SELECT *, asin(sin(_ixip) / {_cosh("_ietap")}) AS _ichi
          FROM _utmi_s2),
        _utmi_out AS (
          SELECT *,
            degrees(_ichi + {_c(d1)} * sin(2.0 * _ichi)
                         + {_c(d2)} * sin(4.0 * _ichi)
                         + {_c(d3)} * sin(6.0 * _ichi)) AS lat,
            (6.0 * CAST({zone} AS DOUBLE) - 183.0)
              + degrees(atan2({_sinh("_ietap")}, cos(_ixip))) AS lon
          FROM _utmi_s3)
    """


def tm_forward_ctes(base: str, lat0: float, lon0: float, k0: float,
                    fe: float, fn: float, lon: str = "lon",
                    lat: str = "lat") -> str:
    """Dual-engine SQL for the generic WGS84 TM forward: ``_tm_out``
    adds ``easting``/``northing``; the frame constants, ξ₀ included,
    fold in as DOUBLE literals."""
    return f"""
        WITH _tm_base AS ({base}),
        _tm_s1 AS (
          SELECT *, radians(CAST({lat} AS DOUBLE)) AS _phi,
                 radians(CAST({lon} AS DOUBLE) - {_c(lon0)}) AS _lam
          FROM _tm_base),{_tm_ctes("_tm", "_tm_s1", k0, MERC_R, _F, _c(fe),
                                   _c(fn), lat0)}
    """


# --- Conic / azimuthal conformal tier (LCC + polar stereographic) ----------
# Snyder 1987 (USGS PP 1395): LCC 2SP eqs. 15-1..15-11, polar
# stereographic eqs. 21-30..21-41; EPSG Guidance Note 7-2 methods 9802
# (LCC 2SP), 9829 (PS variant B, standard parallel) and 9810 (PS
# variant A, central scale k0 — the UPS frames).  All share the
# conformal machinery: the isometric ratio t(phi), the parallel radius
# m(phi), and the geographic latitude recovered from t by Snyder's
# fixed-point iteration (eq. 7-9) — contraction ratio ~e^2 per step, so
# 12 vectorized steps land at machine precision; unlike a truncated
# delta series this is exact for EVERY ellipsoid the tests throw at it
# (Clarke 1866 / International 1924 anchor points included).

_WGS_E = math.sqrt(_F * (2.0 - _F))          # WGS84 first eccentricity


def _t_of(phi: np.ndarray, e: float = _WGS_E) -> np.ndarray:
    """Snyder's isometric ratio t (eq. 15-9): exp(-psi(phi))."""
    s = np.sin(phi)
    return (np.tan(np.pi / 4.0 - phi / 2.0)
            / ((1.0 - e * s) / (1.0 + e * s)) ** (e / 2.0))


def _m_of(phi: np.ndarray, e: float = _WGS_E) -> np.ndarray:
    """Parallel radius factor m = cos(phi)/sqrt(1 - e^2 sin^2 phi)."""
    s = np.sin(phi)
    return np.cos(phi) / np.sqrt(1.0 - (e * s) ** 2)


def _phi_from_t(t: np.ndarray, e: float = _WGS_E,
                iters: int = 12) -> np.ndarray:
    """Geographic latitude from the isometric ratio t by fixed-point
    iteration from the conformal latitude (Snyder eq. 7-9).  The map
    contracts at ~e^2 (< 0.007 on WGS84) per step: 12 steps overshoot
    double precision by orders of magnitude for every Earth
    ellipsoid."""
    phi = np.pi / 2.0 - 2.0 * np.arctan(t)
    for _ in range(iters):
        s = e * np.sin(phi)
        phi = np.pi / 2.0 - 2.0 * np.arctan(
            t * ((1.0 - s) / (1.0 + s)) ** (e / 2.0))
    return phi


def lcc_constants(lat1: float, lat2: float, lat0: float,
                  a: float = MERC_R, f: float = _F) -> tuple:
    """(n_cone, a*F, rho0, e) for an LCC 2SP frame.  When the
    standard parallels coincide the cone constant degenerates to
    sin(lat1) (the 1SP tangent case)."""
    e = math.sqrt(f * (2.0 - f))
    p1, p2, p0 = (math.radians(v) for v in (lat1, lat2, lat0))
    m1 = float(_m_of(np.float64(p1), e))
    m2 = float(_m_of(np.float64(p2), e))
    t1 = float(_t_of(np.float64(p1), e))
    t2 = float(_t_of(np.float64(p2), e))
    t0 = float(_t_of(np.float64(p0), e))
    if abs(lat1 - lat2) < 1e-12:
        nc = math.sin(p1)
    else:
        nc = (math.log(m1) - math.log(m2)) / (math.log(t1) - math.log(t2))
    af = a * m1 / (nc * t1 ** nc)
    return nc, af, af * t0 ** nc, e


def lcc_forward(xy: np.ndarray, lat1: float, lat2: float, lat0: float,
                lon0: float, fe: float, fn: float,
                a: float = MERC_R, f: float = _F) -> np.ndarray:
    """WGS84 lon/lat degrees → LCC 2SP easting/northing meters."""
    nc, af, rho0, e = lcc_constants(lat1, lat2, lat0, a, f)
    phi = np.radians(xy[:, 1])
    # modular wrap to (-180, 180] in DEGREES — the identical op order
    # the dual-engine SQL text uses, keeping kernel-vs-SQL drift at the
    # libm-ulp level the cm-rounded gates absorb
    lam = np.radians((xy[:, 0] - lon0 + 540.0) % 360.0 - 180.0)
    rho = af * _t_of(phi, e) ** nc
    th = nc * lam
    out = np.empty_like(xy, dtype=np.float64)
    out[:, 0] = fe + rho * np.sin(th)
    out[:, 1] = fn + rho0 - rho * np.cos(th)
    return out


def lcc_inverse(xy: np.ndarray, lat1: float, lat2: float, lat0: float,
                lon0: float, fe: float, fn: float,
                a: float = MERC_R, f: float = _F) -> np.ndarray:
    """LCC 2SP easting/northing meters → WGS84 lon/lat degrees."""
    nc, af, rho0, e = lcc_constants(lat1, lat2, lat0, a, f)
    x = xy[:, 0] - fe
    y = rho0 - (xy[:, 1] - fn)
    sgn = 1.0 if nc >= 0.0 else -1.0
    rho = sgn * np.hypot(x, y)
    t = (rho / af) ** (1.0 / nc)
    out = np.empty_like(xy, dtype=np.float64)
    lon = lon0 + np.degrees(np.arctan2(sgn * x, sgn * y) / nc)
    out[:, 0] = (lon + 180.0) % 360.0 - 180.0    # theta/nc can exceed 180
    out[:, 1] = np.degrees(_phi_from_t(t, e))
    return out


def ps_forward(xy: np.ndarray, lat_ts: float, lon0: float,
               fe: float, fn: float,
               a: float = MERC_R, f: float = _F) -> np.ndarray:
    """WGS84 → polar stereographic VARIANT B meters (standard parallel
    lat_ts; south aspect iff lat_ts < 0).  Scale is exactly 1 at the
    standard parallel by construction (rho = a * m_c * t / t_c)."""
    e = math.sqrt(f * (2.0 - f))
    pts = math.radians(abs(lat_ts))
    mc = float(_m_of(np.float64(pts), e))
    tc = float(_t_of(np.float64(pts), e))
    phi = np.radians(xy[:, 1])
    lam = np.radians(xy[:, 0] - lon0)
    lam = np.arctan2(np.sin(lam), np.cos(lam))
    south = lat_ts < 0.0
    rho = a * mc * _t_of(-phi if south else phi, e) / tc
    out = np.empty_like(xy, dtype=np.float64)
    out[:, 0] = fe + rho * np.sin(lam)
    out[:, 1] = fn + (rho if south else -rho) * np.cos(lam)
    return out


def ps_inverse(xy: np.ndarray, lat_ts: float, lon0: float,
               fe: float, fn: float,
               a: float = MERC_R, f: float = _F) -> np.ndarray:
    """Polar stereographic variant B meters → WGS84 degrees."""
    e = math.sqrt(f * (2.0 - f))
    pts = math.radians(abs(lat_ts))
    mc = float(_m_of(np.float64(pts), e))
    tc = float(_t_of(np.float64(pts), e))
    south = lat_ts < 0.0
    x = xy[:, 0] - fe
    y = xy[:, 1] - fn
    t = np.hypot(x, y) * tc / (a * mc)
    phi = _phi_from_t(t, e)
    out = np.empty_like(xy, dtype=np.float64)
    lon = lon0 + np.degrees(np.arctan2(x, y if south else -y))
    out[:, 0] = (lon + 180.0) % 360.0 - 180.0
    out[:, 1] = np.degrees(-phi if south else phi)
    return out


# variant A: rho = 2 a k0 t / sqrt((1+e)^(1+e) (1-e)^(1-e))   (Snyder 21-33)
def psa_forward(xy: np.ndarray, k0: float, lon0: float, fe: float,
                fn: float, south: bool,
                a: float = MERC_R, f: float = _F) -> np.ndarray:
    """Polar stereographic VARIANT A (central scale k0 at the pole) —
    the UPS frames EPSG:5041/5042 use k0 = 0.994, FE = FN = 2e6."""
    e = math.sqrt(f * (2.0 - f))
    den = math.sqrt((1.0 + e) ** (1.0 + e) * (1.0 - e) ** (1.0 - e))
    phi = np.radians(xy[:, 1])
    lam = np.radians(xy[:, 0] - lon0)
    lam = np.arctan2(np.sin(lam), np.cos(lam))
    rho = 2.0 * a * k0 * _t_of(-phi if south else phi, e) / den
    out = np.empty_like(xy, dtype=np.float64)
    out[:, 0] = fe + rho * np.sin(lam)
    out[:, 1] = fn + (rho if south else -rho) * np.cos(lam)
    return out


def psa_inverse(xy: np.ndarray, k0: float, lon0: float, fe: float,
                fn: float, south: bool,
                a: float = MERC_R, f: float = _F) -> np.ndarray:
    e = math.sqrt(f * (2.0 - f))
    den = math.sqrt((1.0 + e) ** (1.0 + e) * (1.0 - e) ** (1.0 - e))
    x = xy[:, 0] - fe
    y = xy[:, 1] - fn
    t = np.hypot(x, y) * den / (2.0 * a * k0)
    phi = _phi_from_t(t, e)
    out = np.empty_like(xy, dtype=np.float64)
    lon = lon0 + np.degrees(np.arctan2(x, y if south else -y))
    out[:, 0] = (lon + 180.0) % 360.0 - 180.0
    out[:, 1] = np.degrees(-phi if south else phi)
    return out


# --- Lambert Azimuthal Equal-Area (oblique aspect) --------------------------
# Snyder 1987 eqs. 3-11/3-12 (authalic q), 24-2..24-30; EPSG method
# 9820 — the EU statistical grid's frame (EPSG:3035 ETRS89-LAEA).
# Equal-AREA, not conformal: the validation anchor is exact area
# preservation (a projected meridian/parallel quad's plane area equals
# the closed form a^2/2 * dlam * (q(phi2) - q(phi1)) — pinned in
# tests), plus the false-origin identity and the published EU-grid
# coordinates of known cities.  The inverse recovers phi from q by the
# Snyder 3-16 fixed point.  CONDITIONING NOTE: the point antipodal to
# the projection center maps to the entire outer rim, so the inverse
# loses precision within ~1 degree of the antipode (observed ~1e-7 deg
# there, <=1e-8 deg elsewhere) — intrinsic to the projection, not the
# series.  Only the oblique aspect is scoped (|lat0| < 90); the polar
# aspect has its own formula family and raises.

def _q_of(phi: np.ndarray, e: float = _WGS_E) -> np.ndarray:
    """Authalic q (Snyder 3-12): q = (1-e^2)[sin/(1-e^2 sin^2)
    - ln((1-e sin)/(1+e sin))/(2e)]."""
    s = np.sin(phi)
    return (1.0 - e * e) * (s / (1.0 - (e * s) ** 2)
                            - (1.0 / (2.0 * e))
                            * np.log((1.0 - e * s) / (1.0 + e * s)))


def _phi_from_q(q: np.ndarray, e: float, iters: int) -> np.ndarray:
    """Geographic latitude from the authalic q by Snyder's 3-16 fixed
    point (the LAEA and Albers inverses)."""
    phi = np.arcsin(np.clip(q / 2.0, -1.0, 1.0))
    for _ in range(iters):
        s = np.sin(phi)
        phi = phi + (1.0 - (e * s) ** 2) ** 2 / (2.0 * np.cos(phi)) * (
            q / (1.0 - e * e) - s / (1.0 - (e * s) ** 2)
            + 1.0 / (2.0 * e) * np.log((1.0 - e * s) / (1.0 + e * s)))
    return phi


def _q_sql(lat: str, e: float) -> str:
    """``_q_of`` of a latitude column in degrees, as SQL."""
    sphi = f"sin(radians(CAST({lat} AS DOUBLE)))"
    return (f"({_c(1.0 - e * e)} * ({sphi} / (1.0 - {_c(e * e)}"
            f" * {sphi} * {sphi}) - {_c(1.0 / (2.0 * e))}"
            f" * ln((1.0 - {_c(e)} * {sphi})"
            f" / (1.0 + {_c(e)} * {sphi}))))")


def laea_constants(lat0: float, a: float = MERC_R,
                   f: float = _F) -> tuple:
    """(q_pole, beta0, R_q, D) for an oblique LAEA frame."""
    if abs(lat0) >= 89.999999:
        raise ValueError("st_transform: LAEA polar aspect (|lat0|=90) "
                         "is out of scope; oblique frames only")
    e = math.sqrt(f * (2.0 - f))
    qp = float(_q_of(np.float64(math.pi / 2.0), e))
    p0 = math.radians(lat0)
    b0 = math.asin(float(_q_of(np.float64(p0), e)) / qp)
    rq = a * math.sqrt(qp / 2.0)
    d = a * float(_m_of(np.float64(p0), e)) / (rq * math.cos(b0))
    return qp, b0, rq, d, e


def laea_forward(xy: np.ndarray, lat0: float, lon0: float, fe: float,
                 fn: float, a: float = MERC_R,
                 f: float = _F) -> np.ndarray:
    """WGS84 degrees -> oblique LAEA meters (Snyder 24-2..24-20)."""
    qp, b0, rq, d, e = laea_constants(lat0, a, f)
    phi = np.radians(xy[:, 1])
    lam = np.radians((xy[:, 0] - lon0 + 540.0) % 360.0 - 180.0)
    beta = np.arcsin(np.clip(_q_of(phi, e) / qp, -1.0, 1.0))
    b = rq * np.sqrt(2.0 / (1.0 + math.sin(b0) * np.sin(beta)
                            + math.cos(b0) * np.cos(beta)
                            * np.cos(lam)))
    out = np.empty_like(xy, dtype=np.float64)
    out[:, 0] = fe + b * d * np.cos(beta) * np.sin(lam)
    out[:, 1] = fn + (b / d) * (math.cos(b0) * np.sin(beta)
                                - math.sin(b0) * np.cos(beta)
                                * np.cos(lam))
    return out


def laea_inverse(xy: np.ndarray, lat0: float, lon0: float, fe: float,
                 fn: float, a: float = MERC_R, f: float = _F,
                 iters: int = 12) -> np.ndarray:
    """Oblique LAEA meters -> WGS84 degrees (Snyder 24-26..24-30 +
    3-16 authalic-to-geographic fixed point)."""
    qp, b0, rq, d, e = laea_constants(lat0, a, f)
    x = (xy[:, 0] - fe) / d
    y = (xy[:, 1] - fn) * d
    rho = np.hypot(x, y)
    ce = 2.0 * np.arcsin(np.clip(rho / (2.0 * rq), -1.0, 1.0))
    with np.errstate(invalid="ignore", divide="ignore"):
        qv = np.where(
            rho == 0.0, qp * math.sin(b0),
            qp * (np.cos(ce) * math.sin(b0)
                  + y * np.sin(ce) * math.cos(b0)
                  / np.where(rho == 0.0, 1.0, rho)))
    lam = np.arctan2(x * np.sin(ce),
                     rho * math.cos(b0) * np.cos(ce)
                     - y * math.sin(b0) * np.sin(ce))
    out = np.empty_like(xy, dtype=np.float64)
    out[:, 0] = (lon0 + np.degrees(lam) + 180.0) % 360.0 - 180.0
    out[:, 1] = np.degrees(_phi_from_q(qv, e, iters))
    return out


def laea_forward_ctes(base: str, lon: str = "lon", lat: str = "lat",
                      lat0: float = 52.0, lon0: float = 10.0,
                      fe: float = 4321000.0,
                      fn: float = 3210000.0) -> str:
    """Dual-engine SQL (Spark SQL AND DuckDB) for the oblique LAEA
    forward map (defaults = EPSG:3035 ETRS89-LAEA): wraps ``base`` —
    exposing ``lon``/``lat`` degrees — adding ``easting``/``northing``.
    Frame constants precomputed from the SAME laea_constants the numpy
    kernel uses; the q(phi) expression and the modular antimeridian
    wrap are the kernel's op order."""
    qp, b0, rq, d, e = laea_constants(lat0)

    qexpr = _q_sql(lat, e)
    return f"""
        WITH _laea_base AS ({base}),
        _laea_s1 AS (
          SELECT *,
                 asin(least(greatest({qexpr} / {_c(qp)}, -1.0), 1.0))
                   AS _beta,
                 radians((CAST({lon} AS DOUBLE) - {_c(lon0)} + 540.0)
                         % 360.0 - 180.0) AS _lam
          FROM _laea_base),
        _laea_s2 AS (
          SELECT *, {_c(rq)} * sqrt(2.0 / (1.0
                   + {_c(math.sin(b0))} * sin(_beta)
                   + {_c(math.cos(b0))} * cos(_beta) * cos(_lam)))
                 AS _b
          FROM _laea_s1),
        _laea_out AS (
          SELECT *,
            {_c(fe)} + _b * {_c(d)} * cos(_beta) * sin(_lam) AS easting,
            {_c(fn)} + (_b / {_c(d)}) * ({_c(math.cos(b0))} * sin(_beta)
              - {_c(math.sin(b0))} * cos(_beta) * cos(_lam)) AS northing
          FROM _laea_s2)
    """


# ---------------------------------------------------------------------------
# Albers Equal-Area Conic (Snyder 14-1..14-21 ellipsoidal / EPSG method
# 9822) — r10: the EQUAL-AREA CONIC member next to LCC (conformal
# conic) and LAEA (equal-area azimuthal).  The continental-statistics
# workhorse: EPSG:5070 (NAD83 / Conus Albers; NAD83's GRS80 ellipsoid
# differs from WGS84 only in the 9th digit of 1/f — sub-mm here, the
# engine's WGS84-family contract) plus generic
# ``aea:lat1:lat2:lat0:lon0:fe:fn`` frames.  Validated by the defining
# property (projected quad area == the exact ellipsoid area
# a²/2·Δλ·Δq — a conformal projection fails this by construction) and
# by the closed-form along-parallel scale k = ρn/(a·m) == 1 at BOTH
# standard parallels; inverse recovers latitude via the same Snyder
# 3-16 authalic fixed point the LAEA inverse uses.
# ---------------------------------------------------------------------------
def aea_constants(lat1: float, lat2: float, lat0: float,
                  a: float = MERC_R, f: float = _F) -> tuple:
    """(n, C, rho0, e) for an Albers frame (Snyder 14-3, 14-5, 14-6,
    15-0... computed once per frame)."""
    e = math.sqrt(f * (2.0 - f))
    p1, p2, p0 = (math.radians(v) for v in (lat1, lat2, lat0))
    m1 = float(_m_of(np.float64(p1), e))
    q1 = float(_q_of(np.float64(p1), e))
    q0 = float(_q_of(np.float64(p0), e))
    if abs(lat1 - lat2) < 1e-12:
        n = math.sin(p1)               # one-standard-parallel degenerate
    else:
        m2 = float(_m_of(np.float64(p2), e))
        q2 = float(_q_of(np.float64(p2), e))
        n = (m1 * m1 - m2 * m2) / (q2 - q1)
    if n == 0.0:
        raise ValueError("st_transform: Albers standard parallels "
                         "symmetric about the equator give n=0 "
                         "(cylindrical limit) — out of scope")
    big_c = m1 * m1 + n * q1
    rho0 = a * math.sqrt(max(big_c - n * q0, 0.0)) / n
    return n, big_c, rho0, e


def aea_forward(xy: np.ndarray, lat1: float, lat2: float, lat0: float,
                lon0: float, fe: float, fn: float, a: float = MERC_R,
                f: float = _F) -> np.ndarray:
    """WGS84 degrees → Albers meters (Snyder 14-1..14-4)."""
    n, big_c, rho0, e = aea_constants(lat1, lat2, lat0, a, f)
    phi = np.radians(xy[:, 1])
    lam = np.radians((xy[:, 0] - lon0 + 540.0) % 360.0 - 180.0)
    q = _q_of(phi, e)
    rho = a * np.sqrt(np.maximum(big_c - n * q, 0.0)) / n
    theta = n * lam
    out = np.empty_like(xy, dtype=np.float64)
    out[:, 0] = fe + rho * np.sin(theta)
    out[:, 1] = fn + rho0 - rho * np.cos(theta)
    return out


def aea_inverse(xy: np.ndarray, lat1: float, lat2: float, lat0: float,
                lon0: float, fe: float, fn: float, a: float = MERC_R,
                f: float = _F, iters: int = 12) -> np.ndarray:
    """Albers meters → WGS84 degrees (Snyder 14-8..14-11 + the 3-16
    authalic-to-geographic fixed point)."""
    n, big_c, rho0, e = aea_constants(lat1, lat2, lat0, a, f)
    sgn = 1.0 if n > 0 else -1.0
    x = xy[:, 0] - fe
    y = rho0 - (xy[:, 1] - fn)
    rho = sgn * np.hypot(x, y)
    theta = np.arctan2(sgn * x, sgn * y)
    q = (big_c - (rho * n / a) ** 2) / n
    out = np.empty_like(xy, dtype=np.float64)
    out[:, 0] = (lon0 + np.degrees(theta / n) + 180.0) % 360.0 - 180.0
    out[:, 1] = np.degrees(_phi_from_q(q, e, iters))
    return out


def aea_forward_ctes(base: str, lon: str = "lon", lat: str = "lat",
                     lat1: float = 29.5, lat2: float = 45.5,
                     lat0: float = 23.0, lon0: float = -96.0,
                     fe: float = 0.0, fn: float = 0.0) -> str:
    """Dual-engine SQL (Spark SQL AND DuckDB) for the Albers forward
    map (defaults = EPSG:5070 Conus Albers): wraps ``base`` — exposing
    ``lon``/``lat`` degrees — adding ``easting``/``northing``.  Frame
    constants precomputed from the SAME aea_constants the numpy kernel
    uses; the q(phi) expression and the antimeridian wrap share the
    kernel's op order."""
    n, big_c, rho0, e = aea_constants(lat1, lat2, lat0)

    qexpr = _q_sql(lat, e)
    return f"""
        WITH _aea_base AS ({base}),
        _aea_s1 AS (
          SELECT *,
                 {_c(MERC_R)} * sqrt(greatest({_c(big_c)}
                   - {_c(n)} * {qexpr}, 0.0)) / {_c(n)} AS _rho,
                 {_c(n)} * radians((CAST({lon} AS DOUBLE) - {_c(lon0)}
                   + 540.0) % 360.0 - 180.0) AS _theta
          FROM _aea_base),
        _aea_out AS (
          SELECT *,
            {_c(fe)} + _rho * sin(_theta) AS easting,
            {_c(fn)} + {_c(rho0)} - _rho * cos(_theta) AS northing
          FROM _aea_s1)
    """


def lcc_forward_ctes(base: str, lon: str = "lon", lat: str = "lat",
                     lat1: float = 49.0, lat2: float = 44.0,
                     lat0: float = 46.5, lon0: float = 3.0,
                     fe: float = 700000.0, fn: float = 6600000.0) -> str:
    """Dual-engine SQL (valid Spark SQL AND DuckDB) for the LCC 2SP
    forward map (defaults = EPSG:2154 Lambert-93): wraps ``base`` — a
    query exposing ``lon``/``lat`` degrees — in a WITH chain that adds
    ``easting``/``northing``.  The frame constants (cone constant,
    a*F, rho0) are precomputed in Python from the SAME lcc_constants
    the numpy kernel uses and inlined as DOUBLE literals, so both
    engines evaluate the identical expression tree."""
    return f"""
        WITH _lcc_base AS ({base}),{_lcc_ctes(
            "_lcc", "_lcc_base", f"radians(CAST({lat} AS DOUBLE))",
            f"CAST({lon} AS DOUBLE)", lat1, lat2, lat0, lon0, fe, fn,
            MERC_R, _F)}
    """


def _lcc_ctes(p: str, src: str, phi: str, lamdeg: str, lat1, lat2, lat0,
              lon0, fe, fn, a: float, f: float) -> str:
    """The LCC 2SP conic on ellipsoid (a, f) as the stages ``{p}_cone``
    and ``{p}_out`` over stage ``src``; ``phi`` is the latitude in
    radians and ``lamdeg`` the longitude in degrees, as SQL.
    ``{p}_out`` adds ``easting``/``northing``: ``lcc_forward`` op for
    op, with the frame constants from the same ``lcc_constants``."""
    nc, af, rho0, e = lcc_constants(lat1, lat2, lat0, a, f)
    t = (f"(tan(pi() / 4.0 - {phi} / 2.0)"
         f" / pow((1.0 - {_c(e)} * sin({phi}))"
         f" / (1.0 + {_c(e)} * sin({phi})), {_c(e / 2.0)}))")
    return f"""
        {p}_cone AS (
          SELECT *, {_c(af)} * pow({t}, {_c(nc)}) AS _rho,
                 {_c(nc)} * radians(
                   ({lamdeg} - {_c(lon0)} + 540.0) % 360.0 - 180.0) AS _th
          FROM {src}),
        {p}_out AS (
          SELECT *, {_c(fe)} + _rho * sin(_th) AS easting,
                 {_c(fn)} + {_c(rho0)} - _rho * cos(_th) AS northing
          FROM {p}_cone)"""


# ===================== datum-shifted national grids (r11) ==================
# Helmert 7-parameter datum shift (EPSG method 9606, position-vector
# rotation convention) in front of a projection on a CONFIGURABLE
# ellipsoid — the class every WGS84-family frame above excludes.
# Reference envelope: GeoTools CRS decode behind DefaultLayer.java:135-141
# resolves datum-shifted systems like EPSG:27700 (OSGB36 / British
# National Grid, Airy 1830 ellipsoid).
#
# Frame tokens end in :<a>:<f>:<tx>:<ty>:<tz>:<rx>:<ry>:<rz>:<ds> — the
# grid ellipsoid plus the position-vector Helmert (tx/ty/tz meters,
# rx/ry/rz ARC-SECONDS, ds PPM), parameters in the DATUM→WGS84
# direction.  The reverse direction negates the parameters (the EPSG
# reversal convention for 9606; second-order error ≪ 0.1 mm at real
# datum magnitudes):
#   tmd:<lat0>:<lon0>:<k0>:<fe>:<fn>:…            transverse Mercator
#   lccd:<lat1>:<lat2>:<lat0>:<lon0>:<fe>:<fn>:…  LCC 2SP
#   sod:<lat0>:<lon0>:<k0>:<fe>:<fn>:…            oblique stereographic
#   soc:<lat0>:<lon0>:<fe>:<fn>:…                 Swiss oblique cylindrical
#
# ENGINE CONTRACT (documented): coordinates are 2-D, so the geodetic ↔
# geocentric legs run at ellipsoidal height h = 0 (the standard 2-D
# application of a 3-D similarity transform), and the Helmert parameters
# are the single national set (EPSG:1314 for OSGB36) — survey-grade
# grid-shift files (OSTN15) are out of scope; the national Helmert is
# the documented ~3.5 m envelope vs the grid, while the ENGINE itself is
# deterministic and cross-engine cm-exact (the gate's contract).

AIRY_A = 6377563.396                 # Airy 1830 semi-major axis (m)
AIRY_F = 1.0 / 299.3249646           # Airy 1830 flattening
# OSGB36 → WGS84 position-vector parameters (EPSG transformation 1314 /
# OS "A guide to coordinate systems in Great Britain", reversed):
OSGB_HELMERT = (446.448, -125.157, 542.060,
                0.1502, 0.2470, 0.8421, -20.4894)
_AS2R = math.pi / (180.0 * 3600.0)   # arc-seconds → radians


def geodetic_to_ecef(lon_deg, lat_deg, a: float, f: float):
    """Geodetic (degrees, h = 0) → geocentric XYZ meters on (a, f)."""
    e2 = f * (2.0 - f)
    phi = np.radians(np.asarray(lat_deg, dtype=np.float64))
    lam = np.radians(np.asarray(lon_deg, dtype=np.float64))
    sphi = np.sin(phi)
    nu = a / np.sqrt(1.0 - e2 * sphi * sphi)
    x = nu * np.cos(phi) * np.cos(lam)
    y = nu * np.cos(phi) * np.sin(lam)
    z = nu * (1.0 - e2) * sphi
    return x, y, z


def ecef_to_geodetic(x, y, z, a: float, f: float):
    """Geocentric XYZ → geodetic lon/lat degrees on (a, f) — Bowring's
    single-step closed form (sub-µrad for near-surface points; CLOSED
    FORM, so the dual-engine SQL replays it op for op)."""
    b = a * (1.0 - f)
    e2 = f * (2.0 - f)
    ep2 = e2 / (1.0 - e2)
    p = np.sqrt(x * x + y * y)
    th = np.arctan2(z * a, p * b)
    sth, cth = np.sin(th), np.cos(th)
    phi = np.arctan2(z + ep2 * b * sth * sth * sth,
                     p - e2 * a * cth * cth * cth)
    lam = np.arctan2(y, x)
    return np.degrees(lam), np.degrees(phi)


def helmert_xyz(x, y, z, tx: float, ty: float, tz: float,
                rx_as: float, ry_as: float, rz_as: float, ds_ppm: float):
    """EPSG 9606 position-vector 7-parameter similarity transform:
    X' = T + (1 + ds)·R·X with the small-angle rotation matrix
    [[1, −rz, ry], [rz, 1, −rx], [−ry, rx, 1]] (rotations arc-seconds,
    scale ppm)."""
    rx, ry, rz = rx_as * _AS2R, ry_as * _AS2R, rz_as * _AS2R
    s = 1.0 + ds_ppm * 1e-6
    x2 = tx + s * (x - rz * y + ry * z)
    y2 = ty + s * (rz * x + y - rx * z)
    z2 = tz + s * (-ry * x + rx * y + z)
    return x2, y2, z2


def _datum_to_wgs84(ll: np.ndarray, a: float, f: float,
                    helmert) -> np.ndarray:
    """Lon/lat degrees on the grid datum (ellipsoid (a, f)) → WGS84:
    geodetic → XYZ on (a, f), the Helmert as tokenized, Bowring on
    WGS84."""
    x, y, z = geodetic_to_ecef(ll[:, 0], ll[:, 1], a, f)
    x, y, z = helmert_xyz(x, y, z, *helmert)
    return np.column_stack(ecef_to_geodetic(x, y, z, MERC_R, _F))


def _wgs84_to_datum(ll: np.ndarray, a: float, f: float,
                    helmert) -> np.ndarray:
    """WGS84 lon/lat degrees → the grid datum on ellipsoid (a, f): the
    reverse Helmert is the negated parameters (EPSG 9606 reversal)."""
    x, y, z = geodetic_to_ecef(ll[:, 0], ll[:, 1], MERC_R, _F)
    x, y, z = helmert_xyz(x, y, z, *(-v for v in helmert))
    return np.column_stack(ecef_to_geodetic(x, y, z, a, f))


def _datum_ctes(p: str, base: str, lon: str, lat: str, a: float, f: float,
                helmert) -> str:
    """``_wgs84_to_datum`` as SQL: ``WITH {p}_base AS (base)``, then
    WGS84 ECEF, the negated-parameter Helmert and Bowring's inverse on
    (a, f), ending in stage ``{p}_geo`` with ``_phi`` (grid-datum
    latitude) and ``_lamabs`` (longitude), both radians.  Bowring's
    angle is ``_gth``: LCC's cone angle ``_th`` comes later in the same
    ``SELECT *`` chain."""
    tx, ty, tz, rx, ry, rz, ds = helmert
    e2w = _F * (2.0 - _F)                 # WGS84 e²
    rxr, ryr, rzr = -rx * _AS2R, -ry * _AS2R, -rz * _AS2R
    s = 1.0 - ds * 1e-6
    bg = a * (1.0 - f)                    # grid ellipsoid b
    e2g = f * (2.0 - f)
    ep2g = e2g / (1.0 - e2g)
    return f"""
        WITH {p}_base AS ({base}),
        {p}_s1 AS (
          SELECT *, radians(CAST({lat} AS DOUBLE)) AS _gphi,
                 radians(CAST({lon} AS DOUBLE)) AS _glam
          FROM {p}_base),
        {p}_s2 AS (
          SELECT *, {_c(MERC_R)} / sqrt(1.0 - {_c(e2w)} * sin(_gphi)
                   * sin(_gphi)) AS _nu
          FROM {p}_s1),
        {p}_s3 AS (
          SELECT *, _nu * cos(_gphi) * cos(_glam) AS _wx,
                 _nu * cos(_gphi) * sin(_glam) AS _wy,
                 _nu * (1.0 - {_c(e2w)}) * sin(_gphi) AS _wz
          FROM {p}_s2),
        {p}_s4 AS (
          SELECT *,
            {_c(-tx)} + {_c(s)} * (_wx - {_c(rzr)} * _wy + {_c(ryr)} * _wz)
              AS _hx,
            {_c(-ty)} + {_c(s)} * ({_c(rzr)} * _wx + _wy - {_c(rxr)} * _wz)
              AS _hy,
            {_c(-tz)} + {_c(s)} * (-({_c(ryr)}) * _wx + {_c(rxr)} * _wy + _wz)
              AS _hz
          FROM {p}_s3),
        {p}_s5 AS (
          SELECT *, sqrt(_hx * _hx + _hy * _hy) AS _p,
                 atan2(_hz * {_c(a)}, sqrt(_hx * _hx + _hy * _hy)
                       * {_c(bg)}) AS _gth
          FROM {p}_s4),
        {p}_geo AS (
          SELECT *,
            atan2(_hz + {_c(ep2g)} * {_c(bg)} * sin(_gth) * sin(_gth)
                    * sin(_gth),
                  _p - {_c(e2g)} * {_c(a)} * cos(_gth) * cos(_gth)
                    * cos(_gth)) AS _phi,
            atan2(_hy, _hx) AS _lamabs
          FROM {p}_s5)"""


def tmd_to_wgs84(xy: np.ndarray, lat0, lon0, k0, fe, fn, a, f,
                 *helmert) -> np.ndarray:
    """Datum'd TM grid meters → WGS84 lon/lat degrees."""
    return _datum_to_wgs84(tm_inverse(xy, lat0, lon0, k0, fe, fn, a, f),
                           a, f, helmert)


def wgs84_to_tmd(ll: np.ndarray, lat0, lon0, k0, fe, fn, a, f,
                 *helmert) -> np.ndarray:
    """WGS84 lon/lat degrees → datum'd TM grid meters."""
    return tm_forward(_wgs84_to_datum(ll, a, f, helmert),
                      lat0, lon0, k0, fe, fn, a, f)


def tmd_forward_ctes(base: str, lat0, lon0, k0, fe, fn, a, f,
                     tx, ty, tz, rx, ry, rz, ds,
                     lon: str = "lon", lat: str = "lat") -> str:
    """Dual-engine SQL (Spark SQL AND DuckDB) for WGS84 → datum'd TM
    grid, ``wgs84_to_tmd`` op for op: the datum leg, then the Krüger
    forward series with the grid ellipsoid's constants.  ``_tmd_out``
    adds ``easting``/``northing``."""
    return _datum_ctes("_tmd", base, lon, lat, a, f,
                       (tx, ty, tz, rx, ry, rz, ds)) + f""",
        _tmd_s7 AS (
          SELECT *, _lamabs - radians({_c(lon0)}) AS _lam
          FROM _tmd_geo),{_tm_ctes("_tmd", "_tmd_s7", k0, a, f, _c(fe),
                                   _c(fn), lat0)}
    """


# ---------------------------------------------------------------------------
# LCC 2SP on a datum-shifted ellipsoid (r12): the lcc kernels on the
# grid ellipsoid behind the datum leg.  Canonical user: EPSG:31370
# Belge 1972 / Belgian Lambert 72 (International 1924 + the national
# position-vector Helmert).

def lccd_to_wgs84(xy: np.ndarray, lat1, lat2, lat0, lon0, fe, fn, a, f,
                  *helmert) -> np.ndarray:
    """Datum'd LCC grid meters → WGS84 lon/lat degrees."""
    return _datum_to_wgs84(lcc_inverse(xy, lat1, lat2, lat0, lon0, fe, fn,
                                       a, f), a, f, helmert)


def wgs84_to_lccd(ll: np.ndarray, lat1, lat2, lat0, lon0, fe, fn, a, f,
                  *helmert) -> np.ndarray:
    """WGS84 lon/lat degrees → datum'd LCC grid meters."""
    return lcc_forward(_wgs84_to_datum(ll, a, f, helmert),
                       lat1, lat2, lat0, lon0, fe, fn, a, f)


def lccd_forward_ctes(base: str, lat1, lat2, lat0, lon0, fe, fn, a, f,
                      tx, ty, tz, rx, ry, rz, ds,
                      lon: str = "lon", lat: str = "lat") -> str:
    """Dual-engine SQL (Spark SQL AND DuckDB) for WGS84 → datum'd LCC
    grid, ``wgs84_to_lccd`` op for op: the datum leg, then the LCC 2SP
    conic with the grid ellipsoid's constants.  ``_lcd_out`` adds
    ``easting``/``northing``."""
    return _datum_ctes("_lcd", base, lon, lat, a, f,
                       (tx, ty, tz, rx, ry, rz, ds)) + "," + _lcc_ctes(
        "_lcd", "_lcd_geo", "_phi", "degrees(_lamabs)",
        lat1, lat2, lat0, lon0, fe, fn, a, f)


# ---------------------------------------------------------------------------
# Oblique stereographic on a datum-shifted ellipsoid (EPSG method 9809,
# the "double projection": ellipsoid → Gauss conformal sphere →
# spherical stereographic).  RD New (EPSG:28992) is the canonical user:
# Bessel 1841 + the Amersfoort national Helmert.  Kernel anchored to
# the EPSG Guidance Note 7-2 worked example (53°N 6°E on Amersfoort →
# E 196105.283, N 557057.739) and the published conformal-sphere
# constants (R 6382644.571, n 1.000475857, c 1.007576465).


def sod_constants(lat0: float, a: float, f: float):
    """(R, n, c, chi0, e) — the Gauss conformal-sphere constants for an
    oblique stereographic frame: sphere radius R = sqrt(rho0*nu0),
    sphere/ellipsoid longitude ratio n, integration constant c, and the
    conformal latitude of the origin chi0 (radians)."""
    e2 = f * (2.0 - f)
    e = math.sqrt(e2)
    p0 = math.radians(lat0)
    s0 = math.sin(p0)
    rho0 = a * (1.0 - e2) / (1.0 - e2 * s0 * s0) ** 1.5
    nu0 = a / math.sqrt(1.0 - e2 * s0 * s0)
    R = math.sqrt(rho0 * nu0)
    n = math.sqrt(1.0 + e2 * math.cos(p0) ** 4 / (1.0 - e2))
    S1 = (1.0 + s0) / (1.0 - s0)
    S2 = (1.0 - e * s0) / (1.0 + e * s0)
    w1 = (S1 * S2 ** e) ** n
    schi0 = (w1 - 1.0) / (w1 + 1.0)
    c = (n + s0) * (1.0 - schi0) / ((n - s0) * (1.0 + schi0))
    w2 = c * w1
    chi0 = math.asin((w2 - 1.0) / (w2 + 1.0))
    return R, n, c, chi0, e


def sod_forward(xy: np.ndarray, lat0: float, lon0: float, k0: float,
                fe: float, fn: float, a: float, f: float) -> np.ndarray:
    """Oblique stereographic forward — geodetic coordinates are in the
    GRID's own datum (callers datum-shift first, as with tm_forward)."""
    R, n, c, chi0, e = sod_constants(lat0, a, f)
    phi = np.radians(xy[:, 1])
    L = n * np.radians(xy[:, 0] - lon0)          # Λ − Λ0 on the sphere
    sphi = np.sin(phi)
    Sa = (1.0 + sphi) / (1.0 - sphi)
    Sb = (1.0 - e * sphi) / (1.0 + e * sphi)
    w = c * (Sa * Sb ** e) ** n
    chi = np.arcsin((w - 1.0) / (w + 1.0))
    B = (1.0 + np.sin(chi) * math.sin(chi0)
         + np.cos(chi) * math.cos(chi0) * np.cos(L))
    out = np.empty_like(xy, dtype=np.float64)
    out[:, 0] = fe + 2.0 * R * k0 * np.cos(chi) * np.sin(L) / B
    out[:, 1] = fn + 2.0 * R * k0 * (np.sin(chi) * math.cos(chi0)
                                     - np.cos(chi) * math.sin(chi0)
                                     * np.cos(L)) / B
    return out


def sod_inverse(xy: np.ndarray, lat0: float, lon0: float, k0: float,
                fe: float, fn: float, a: float, f: float) -> np.ndarray:
    """Oblique stereographic inverse (EPSG GN7-2 method 9809 reverse) —
    returns geodetic coordinates in the GRID's own datum.  The
    conformal→geodetic latitude step is the standard isometric-latitude
    iteration at a FIXED 4 steps (deterministic; <1e-12 deg residual in
    any national-grid extent; round-trip pinned by test)."""
    R, n, c, chi0, e = sod_constants(lat0, a, f)
    E = xy[:, 0] - fe
    N = xy[:, 1] - fn
    g = 2.0 * R * k0 * math.tan(math.pi / 4.0 - chi0 / 2.0)
    h = 4.0 * R * k0 * math.tan(chi0) + g
    i = np.arctan2(E, h + N)
    j = np.arctan2(E, g - N) - i
    chi = chi0 + 2.0 * np.arctan((N - E * np.tan(j / 2.0))
                                 / (2.0 * R * k0))
    lam = (j + 2.0 * i) / n + math.radians(lon0)
    psi = 0.5 * np.log((1.0 + np.sin(chi)) / (c * (1.0 - np.sin(chi)))) / n
    phi = 2.0 * np.arctan(np.exp(psi)) - math.pi / 2.0
    for _ in range(4):
        psi_i = np.log(np.tan(phi / 2.0 + math.pi / 4.0)
                       * ((1.0 - e * np.sin(phi))
                          / (1.0 + e * np.sin(phi))) ** (e / 2.0))
        phi = phi - (psi_i - psi) * np.cos(phi) \
            * (1.0 - e * e * np.sin(phi) ** 2) / (1.0 - e * e)
    out = np.empty_like(xy, dtype=np.float64)
    out[:, 0] = np.degrees(lam)
    out[:, 1] = np.degrees(phi)
    return out



def sod_to_wgs84(xy: np.ndarray, lat0, lon0, k0, fe, fn, a, f,
                 *helmert) -> np.ndarray:
    """Datum'd stereographic grid meters → WGS84 lon/lat degrees."""
    return _datum_to_wgs84(sod_inverse(xy, lat0, lon0, k0, fe, fn, a, f),
                           a, f, helmert)


def wgs84_to_sod(ll: np.ndarray, lat0, lon0, k0, fe, fn, a, f,
                 *helmert) -> np.ndarray:
    """WGS84 lon/lat degrees → datum'd stereographic grid meters."""
    return sod_forward(_wgs84_to_datum(ll, a, f, helmert),
                       lat0, lon0, k0, fe, fn, a, f)


def sod_forward_ctes(base: str, lat0, lon0, k0, fe, fn, a, f,
                     tx, ty, tz, rx, ry, rz, ds,
                     lon: str = "lon", lat: str = "lat") -> str:
    """Dual-engine SQL (Spark SQL AND DuckDB) for WGS84 → datum'd
    oblique stereographic grid, ``wgs84_to_sod`` op for op: the datum
    leg, then the conformal-sphere stereographic forward.  ``_sod_out``
    adds ``easting``/``northing``."""
    R, n, c, chi0, e = sod_constants(lat0, a, f)
    rk2 = 2.0 * R * k0
    return _datum_ctes("_sod", base, lon, lat, a, f,
                       (tx, ty, tz, rx, ry, rz, ds)) + f""",
        _sod_s7 AS (
          SELECT *, {_c(n)} * (_lamabs - radians({_c(lon0)})) AS _slam,
                 sin(_phi) AS _sphi
          FROM _sod_geo),
        _sod_s8 AS (
          SELECT *, {_c(c)} * power(
                   ((1.0 + _sphi) / (1.0 - _sphi))
                   * power((1.0 - {_c(e)} * _sphi)
                           / (1.0 + {_c(e)} * _sphi), {_c(e)}),
                   {_c(n)}) AS _w
          FROM _sod_s7),
        _sod_s9 AS (
          SELECT *, asin((_w - 1.0) / (_w + 1.0)) AS _chi
          FROM _sod_s8),
        _sod_s10 AS (
          SELECT *, 1.0 + sin(_chi) * {_c(math.sin(chi0))}
                 + cos(_chi) * {_c(math.cos(chi0))} * cos(_slam) AS _bb
          FROM _sod_s9),
        _sod_out AS (
          SELECT *,
            {_c(fe)} + {_c(rk2)} * cos(_chi) * sin(_slam) / _bb
              AS easting,
            {_c(fn)} + {_c(rk2)} * (sin(_chi) * {_c(math.cos(chi0))}
              - cos(_chi) * {_c(math.sin(chi0))} * cos(_slam)) / _bb
              AS northing
          FROM _sod_s10)
    """


# ---------------------------------------------------------------------------
# Swiss oblique cylindrical on a datum-shifted ellipsoid (EPSG method
# 9814, the Rosenmund double projection): ellipsoid → Gauss conformal
# sphere (the same sphere family as the 9809 tier) → Mercator on the
# sphere ROTATED so the projection center sits on the pseudo-equator.
# LV03/LV95 (EPSG:21781/2056) are the canonical users.  Kernel anchored
# to the published swisstopo reference point (Rigi:
# 47°03'28.95659233"N 8°29'11.11127154"E → LV03 679520.05 / 212273.44).


def soc_constants(lat0: float, a: float, f: float):
    """(R, alpha, b0, K, e) — the Gauss conformal-sphere constants for
    a Swiss oblique cylindrical frame: Gaussian sphere radius R at the
    origin, sphere/ellipsoid longitude ratio alpha, sphere latitude of
    the origin b0, and the integration constant K that makes the
    conformal map exact at the origin."""
    e2 = f * (2.0 - f)
    e = math.sqrt(e2)
    p0 = math.radians(lat0)
    s0 = math.sin(p0)
    alpha = math.sqrt(1.0 + e2 / (1.0 - e2) * math.cos(p0) ** 4)
    R = a * math.sqrt(1.0 - e2) / (1.0 - e2 * s0 * s0)
    b0 = math.asin(s0 / alpha)
    K = (math.log(math.tan(math.pi / 4.0 + b0 / 2.0))
         - alpha * math.log(math.tan(math.pi / 4.0 + p0 / 2.0))
         + alpha * e / 2.0
         * math.log((1.0 + e * s0) / (1.0 - e * s0)))
    return R, alpha, b0, K, e


def soc_forward(xy: np.ndarray, lat0: float, lon0: float,
                fe: float, fn: float, a: float, f: float) -> np.ndarray:
    """Swiss oblique cylindrical forward — geodetic coordinates are in
    the GRID's own datum (callers datum-shift first)."""
    R, alpha, b0, K, e = soc_constants(lat0, a, f)
    phi = np.radians(xy[:, 1])
    lam = alpha * np.radians(xy[:, 0] - lon0)
    sphi = np.sin(phi)
    S = (alpha * np.log(np.tan(np.pi / 4.0 + phi / 2.0))
         - alpha * e / 2.0 * np.log((1.0 + e * sphi) / (1.0 - e * sphi))
         + K)
    b = 2.0 * (np.arctan(np.exp(S)) - np.pi / 4.0)
    sb = (math.cos(b0) * np.sin(b)
          - math.sin(b0) * np.cos(b) * np.cos(lam))
    yb = np.cos(b) * np.sin(lam)
    xb = (math.sin(b0) * np.sin(b)
          + math.cos(b0) * np.cos(b) * np.cos(lam))
    out = np.empty_like(xy, dtype=np.float64)
    out[:, 0] = fe + R * np.arctan2(yb, xb)
    out[:, 1] = fn + R / 2.0 * np.log((1.0 + sb) / (1.0 - sb))
    return out


def soc_inverse(xy: np.ndarray, lat0: float, lon0: float,
                fe: float, fn: float, a: float, f: float) -> np.ndarray:
    """Swiss oblique cylindrical inverse — returns geodetic coordinates
    in the GRID's own datum.  The conformal→geodetic latitude step is
    the standard fixed-point iteration at a FIXED 6 steps
    (deterministic; <1e-12 deg residual over the LV03 extent)."""
    R, alpha, b0, K, e = soc_constants(lat0, a, f)
    lbar = (xy[:, 0] - fe) / R
    bbar = 2.0 * (np.arctan(np.exp((xy[:, 1] - fn) / R)) - np.pi / 4.0)
    sb = (math.cos(b0) * np.sin(bbar)
          + math.sin(b0) * np.cos(bbar) * np.cos(lbar))
    b = np.arcsin(sb)
    lam = np.arctan2(
        np.cos(bbar) * np.sin(lbar),
        math.cos(b0) * np.cos(bbar) * np.cos(lbar)
        - math.sin(b0) * np.sin(bbar))
    # invert the conformal latitude: fixed 6-step point iteration
    Ssph = np.log(np.tan(np.pi / 4.0 + b / 2.0))
    phi = b.copy()
    for _ in range(6):
        sphi = np.sin(phi)
        phi = 2.0 * (np.arctan(np.exp(
            (Ssph - K) / alpha
            + e / 2.0 * np.log((1.0 + e * sphi) / (1.0 - e * sphi))))
            - np.pi / 4.0)
    out = np.empty_like(xy, dtype=np.float64)
    out[:, 0] = lon0 + np.degrees(lam / alpha)
    out[:, 1] = np.degrees(phi)
    return out



def soc_to_wgs84(xy: np.ndarray, lat0, lon0, fe, fn, a, f,
                 *helmert) -> np.ndarray:
    """Datum'd Swiss grid meters → WGS84 lon/lat degrees."""
    return _datum_to_wgs84(soc_inverse(xy, lat0, lon0, fe, fn, a, f),
                           a, f, helmert)


def wgs84_to_soc(ll: np.ndarray, lat0, lon0, fe, fn, a, f,
                 *helmert) -> np.ndarray:
    """WGS84 lon/lat degrees → datum'd Swiss grid meters."""
    return soc_forward(_wgs84_to_datum(ll, a, f, helmert),
                       lat0, lon0, fe, fn, a, f)


def soc_forward_ctes(base: str, lat0, lon0, fe, fn, a, f,
                     tx, ty, tz, rx, ry, rz, ds,
                     lon: str = "lon", lat: str = "lat") -> str:
    """Dual-engine SQL (Spark SQL AND DuckDB) for WGS84 → datum'd Swiss
    oblique cylindrical grid, ``wgs84_to_soc`` op for op: the datum leg,
    conformal sphere, rotation to the pseudo-equator, spherical
    Mercator.  ``_soc_out`` adds ``easting``/``northing``."""
    R, alpha, b0, K, e = soc_constants(lat0, a, f)
    return _datum_ctes("_soc", base, lon, lat, a, f,
                       (tx, ty, tz, rx, ry, rz, ds)) + f""",
        _soc_s7 AS (
          SELECT *, {_c(alpha)} * (_lamabs - radians({_c(lon0)})) AS _lam,
                 {_c(alpha)} * ln(tan(pi() / 4.0 + _phi / 2.0))
                 - {_c(alpha * e / 2.0)}
                   * ln((1.0 + {_c(e)} * sin(_phi))
                        / (1.0 - {_c(e)} * sin(_phi)))
                 + {_c(K)} AS _ss
          FROM _soc_geo),
        _soc_s8 AS (
          SELECT *, 2.0 * (atan(exp(_ss)) - pi() / 4.0) AS _b
          FROM _soc_s7),
        _soc_s9 AS (
          SELECT *,
            {_c(math.cos(b0))} * sin(_b)
              - {_c(math.sin(b0))} * cos(_b) * cos(_lam) AS _sb,
            cos(_b) * sin(_lam) AS _yb,
            {_c(math.sin(b0))} * sin(_b)
              + {_c(math.cos(b0))} * cos(_b) * cos(_lam) AS _xb
          FROM _soc_s8),
        _soc_out AS (
          SELECT *,
            {_c(fe)} + {_c(R)} * atan2(_yb, _xb) AS easting,
            {_c(fn)} + {_c(R / 2.0)} * ln((1.0 + _sb) / (1.0 - _sb))
              AS northing
          FROM _soc_s9)
    """


_PRJ_PARAM_RE = re.compile(
    r'PARAMETER\s*\[\s*"([^"]+)"\s*,\s*([-+0-9.Ee]+)', re.I)
_PRJ_SPHEROID_RE = re.compile(
    r'SPHEROID\s*\[\s*"([^"]+)"\s*,\s*([-+0-9.Ee]+)\s*,\s*([-+0-9.Ee]+)',
    re.I)
_PRJ_DATUM_RE = re.compile(r'DATUM\s*\[\s*"([^"]+)"', re.I)
_PRJ_WGS84_DATUMS = ("WGS_1984", "WGS 84", "WGS84", "ETRS_1989", "ETRS89",
                     "ETRS 1989", "NAD_1983", "NAD83", "NAD 1983",
                     "NZGD_2000", "NZGD2000",
                     # r12 registry datums — all GRS80 twins (1/f delta
                     # 1e-10, below the series truncation)
                     "GDA_1994", "GDA94", "GDA_2020", "GDA2020",
                     "JGD_2000", "JGD2000", "JGD_2011", "JGD2011",
                     "KOREA_2000", "KGD2002", "RGF_1993", "RGF93",
                     "SIRGAS_2000", "SIRGAS 2000")


def prj_to_frame(wkt: str) -> str | None:
    """Resolve a shapefile ``.prj`` (WKT1, ESRI or OGC spelling) to an
    engine frame token; ``None`` when unrecognized (callers must treat
    None as 'do NOT silently interpret as WGS84' — the r10 verdict's
    datum gap).  Recognized: geographic WGS84-family, Web Mercator,
    WGS84-family Transverse_Mercator (incl. UTM parameter sets), and
    OSGB36 / British National Grid (Airy 1830 + the EPSG:1314 Helmert
    — the GeoTools-CRS-decode envelope, DefaultLayer.java:135-141)."""
    if not wkt or not wkt.strip():
        return None
    s = wkt.strip()
    up = s.upper()
    datum_m = _PRJ_DATUM_RE.search(s)
    datum = (datum_m.group(1).upper() if datum_m else "")
    wgs84_family = any(d.upper() in datum for d in _PRJ_WGS84_DATUMS)
    if up.startswith("GEOGCS"):
        return "wgs84" if wgs84_family else None
    if not up.startswith("PROJCS"):
        return None
    if "MERCATOR_AUXILIARY_SPHERE" in up or "WEB_MERCATOR" in up \
            or "PSEUDO-MERCATOR" in up:
        return "merc"
    if "DOUBLE_STEREOGRAPHIC" in up or "OBLIQUE_STEREOGRAPHIC" in up:
        # RD New-class double stereographic: recognized only with the
        # Amersfoort datum (the one national Helmert the engine knows
        # for this projection family); other datums refuse, never guess.
        if "AMERSFOORT" not in datum:
            return None
        params = {k.lower(): float(v)
                  for k, v in _PRJ_PARAM_RE.findall(s)}
        sph = _PRJ_SPHEROID_RE.search(s)
        a = float(sph.group(2)) if sph else BESSEL_A
        invf = float(sph.group(3)) if sph else 1.0 / BESSEL_F
        try:
            return _frame("sod:" + ":".join(repr(v) for v in (
                params["latitude_of_origin"], params["central_meridian"],
                params.get("scale_factor", 1.0),
                params.get("false_easting", 0.0),
                params.get("false_northing", 0.0),
                a, 1.0 / invf, *AMERSFOORT_HELMERT)))
        except KeyError:
            return None
    if "HOTINE_OBLIQUE_MERCATOR_AZIMUTH_CENTER" in up \
            or "OBLIQUE_CYLINDRICAL" in up:
        # Swiss LV03/LV95 class: ESRI spells the Rosenmund projection
        # as Hotine azimuth-center (azimuth 90 at Bern); recognized
        # only with the CH1903 datum family — other datums refuse.
        if "CH1903" not in datum:
            return None
        params = {k.lower(): float(v)
                  for k, v in _PRJ_PARAM_RE.findall(s)}
        sph = _PRJ_SPHEROID_RE.search(s)
        a = float(sph.group(2)) if sph else BESSEL_A
        invf = float(sph.group(3)) if sph else 1.0 / BESSEL_F
        try:
            return _frame("soc:" + ":".join(repr(v) for v in (
                params["latitude_of_center"],
                params["longitude_of_center"],
                params.get("false_easting", 600000.0),
                params.get("false_northing", 200000.0),
                a, 1.0 / invf, *CH1903_HELMERT)))
        except KeyError:
            return None
    if "LAMBERT_CONFORMAL_CONIC" in up and "BELGE" in datum:
        # Belgian Lambert 72 class: International 1924 + the national
        # Helmert (r12 lccd tier); other non-family datums refuse.
        params = {k.lower(): float(v)
                  for k, v in _PRJ_PARAM_RE.findall(s)}
        sph = _PRJ_SPHEROID_RE.search(s)
        a = float(sph.group(2)) if sph else INTL24_A
        invf = float(sph.group(3)) if sph else 1.0 / INTL24_F
        try:
            return _frame("lccd:" + ":".join(repr(v) for v in (
                params["standard_parallel_1"],
                params["standard_parallel_2"],
                params.get("latitude_of_origin", 90.0),
                params["central_meridian"],
                params.get("false_easting", 0.0),
                params.get("false_northing", 0.0),
                a, 1.0 / invf, *BD72_HELMERT)))
        except KeyError:
            return None
    if "LAMBERT_CONFORMAL_CONIC" in up and wgs84_family:
        # r12: LCC 2SP on a WGS84-family datum (RGF93 CC zones, GDA94
        # Lambert, NAD83 state planes) — the existing lcc: kernel
        params = {k.lower(): float(v)
                  for k, v in _PRJ_PARAM_RE.findall(s)}
        try:
            return _frame("lcc:" + ":".join(repr(v) for v in (
                params["standard_parallel_1"],
                params["standard_parallel_2"],
                params.get("latitude_of_origin", 0.0),
                params["central_meridian"],
                params.get("false_easting", 0.0),
                params.get("false_northing", 0.0))))
        except KeyError:
            return None
    if "ALBERS" in up and wgs84_family:
        # r12: Albers equal-area on a WGS84-family datum (GDA94
        # Australian Albers, NAD83 Conus) — the existing aea: kernel
        params = {k.lower(): float(v)
                  for k, v in _PRJ_PARAM_RE.findall(s)}
        try:
            return _frame("aea:" + ":".join(repr(v) for v in (
                params["standard_parallel_1"],
                params["standard_parallel_2"],
                params.get("latitude_of_origin", 0.0),
                params["central_meridian"],
                params.get("false_easting", 0.0),
                params.get("false_northing", 0.0))))
        except KeyError:
            return None
    if "TRANSVERSE_MERCATOR" not in up:
        return None
    params = {k.lower(): float(v) for k, v in _PRJ_PARAM_RE.findall(s)}
    try:
        lat0 = params.get("latitude_of_origin", 0.0)
        lon0 = params["central_meridian"]
        k0 = params.get("scale_factor", 1.0)
        fe = params.get("false_easting", 0.0)
        fn = params.get("false_northing", 0.0)
    except KeyError:
        return None
    sph = _PRJ_SPHEROID_RE.search(s)
    osgb = "OSGB" in datum or "OSGB" in up
    if osgb:
        a = float(sph.group(2)) if sph else AIRY_A
        invf = float(sph.group(3)) if sph else 1.0 / AIRY_F
        return _frame("tmd:" + ":".join(repr(v) for v in (
            lat0, lon0, k0, fe, fn, a, 1.0 / invf, *OSGB_HELMERT)))
    if "NORTH_AMERICAN_1927" in datum or "NAD_1927" in datum \
            or "NAD27" in datum:
        # legacy NAD27 TM/UTM: Clarke 1866 + the CONUS 3-param shift
        # (the documented ~10 m class — see _EPSG_TMD note)
        a = float(sph.group(2)) if sph else CLARKE66_A
        invf = float(sph.group(3)) if sph else 1.0 / CLARKE66_F
        return _frame("tmd:" + ":".join(repr(v) for v in (
            lat0, lon0, k0, fe, fn, a, 1.0 / invf, *NAD27_HELMERT)))
    if "PULKOVO" in datum:
        # legacy Pulkovo 1942 Gauss-Krüger: Krassovsky 1940 + the
        # EPSG:1254 3-param shift (~5-10 m class — see the GK note)
        a = float(sph.group(2)) if sph else KRASSOVSKY_A
        invf = float(sph.group(3)) if sph else 1.0 / KRASSOVSKY_F
        return _frame("tmd:" + ":".join(repr(v) for v in (
            lat0, lon0, k0, fe, fn, a, 1.0 / invf,
            *PULKOVO42_HELMERT)))
    if not wgs84_family:
        return None                 # unknown datum: refuse, never guess
    return _frame(f"tm:{lat0!r}:{lon0!r}:{k0!r}:{fe!r}:{fn!r}")


# Every frame kind once: (parameter count for a generic '<kind>:…' token
# — None where ``_frame`` builds the token itself —, to_wgs84 kernel,
# from_wgs84 kernel).  The kernels take the token's parsed parameters.
_KERNELS = {
    "merc": (None, _merc_inverse, _merc_forward),
    "utm": (None, utm_inverse, utm_forward),
    "tm": (5, tm_inverse, tm_forward),
    "lcc": (6, lcc_inverse, lcc_forward),
    "psb": (4, ps_inverse, ps_forward),
    "psa": (4, psa_inverse, psa_forward),
    "laea": (4, laea_inverse, laea_forward),
    "aea": (6, aea_inverse, aea_forward),
    "tmd": (14, tmd_to_wgs84, wgs84_to_tmd),
    "lccd": (15, lccd_to_wgs84, wgs84_to_lccd),
    "sod": (14, sod_to_wgs84, wgs84_to_sod),
    "soc": (13, soc_to_wgs84, wgs84_to_soc),
}


def _kernel_args(frame: str) -> tuple:
    """(kind, kernel arguments) of a resolved frame token."""
    kind, *parts = frame.split(":")
    if kind == "utm":
        return kind, (int(parts[0]), parts[1] == "s")
    if kind == "psa":
        return kind, (*(float(v) for v in parts[:4]), parts[4] == "s")
    return kind, tuple(float(v) for v in parts)


def transform_points(xy: np.ndarray, src: str, dst: str) -> np.ndarray:
    """Vectorized (n, 2) coordinate transform between resolved frames
    (``_frame`` tokens).  cart composes with nothing: it is an identity
    passthrough and only pairs with itself.  Every other frame composes
    with every other through wgs84."""
    if src == dst:
        return xy
    if "cart" in (src, dst):
        raise ValueError(
            "st_transform: the cartesian frame has no defined mapping to "
            f"{src if dst == 'cart' else dst!r}; cartesian only passes "
            "through to itself")
    ll = xy
    if src != "wgs84":
        kind, args = _kernel_args(src)
        ll = _KERNELS[kind][1](xy, *args)
    if dst == "wgs84":
        return ll
    kind, args = _kernel_args(dst)
    return _KERNELS[kind][2](ll, *args)


def _map_geometry(g: Geometry, fn) -> Geometry:
    if g.gtype == GTYPE_POINT:
        return Geometry(GTYPE_POINT, fn(g.data.reshape(1, 2))[0])
    if g.gtype == GTYPE_LINESTRING:
        return Geometry(GTYPE_LINESTRING, fn(g.data))
    if g.gtype == GTYPE_POLYGON:
        return Geometry(GTYPE_POLYGON, [fn(r) for r in g.data])
    return Geometry(g.gtype, [_map_geometry(p, fn) for p in g.parts()])


@F.pandas_udf(T.BinaryType())
def st_transform(wkb: pd.Series, src: pd.Series, dst: pd.Series) -> pd.Series:
    # Uniform-POINT fast path (the per-row-CRS workload shape, e.g.
    # "each point into its own UTM zone"): decode the whole Arrow batch
    # in one numpy pass, group rows by (src, dst) frame pair, transform
    # each group vectorized, re-encode in bulk — ~10x over the per-row
    # loop at 15k points/zone-mix (st_transform_utm gate shape).
    from .scalar import _points_to_wkb_rows, _uniform_batch
    ub = _uniform_batch(wkb)
    if ub is not None and ub[1] == 1 and not src.isna().any() \
            and not dst.isna().any():
        coords = ub[0].reshape(-1, 2)
        frames = pd.DataFrame({
            "s": [_frame(v) for v in src],
            "d": [_frame(v) for v in dst]})
        out_xy = coords.copy()
        for (sf, df_), idx in frames.groupby(["s", "d"]).groups.items():
            ii = np.asarray(idx)
            if sf != df_:
                out_xy[ii] = transform_points(coords[ii], sf, df_)
        return pd.Series(_points_to_wkb_rows(out_xy[:, 0], out_xy[:, 1]))
    out = []
    for b, s, d in zip(wkb, src, dst):
        if b is None:
            out.append(None)
            continue
        sf, df_ = _frame(s), _frame(d)
        if sf == df_:
            out.append(bytes(b))
            continue
        out.append(to_wkb(_map_geometry(
            from_wkb(b), lambda a: transform_points(
                np.asarray(a, dtype=np.float64).reshape(-1, 2), sf, df_))))
    return pd.Series(out)

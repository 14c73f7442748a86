"""Ellipsoidal geodesic distance — Vincenty inverse on WGS84 (r10,
VERDICT r9 ask #7).

The reference's OrthodromicLength delegates to GeoTools'
GeodeticCalculator, which is ellipsoidal
(pipes/processing/OrthodromicLength.java:34-75); the engine's default
`st_length_sphere` is spherical haversine-per-segment (R=6371 exact
reference parity, documented sub-0.5% error).  This module adds the
survey-grade tier: `st_length_geodesic` sums per-segment WGS84
geodesic distances computed by the classical Vincenty (1975) inverse
series — public formulas, implemented twice from the same math:

  * a vectorized numpy kernel (`vincenty_m`) — the UDF path;
  * a dual-engine SQL builder (`vincenty_ctes`) — one text valid in
    Spark SQL AND DuckDB, the oracle/bulk-column path.

DETERMINISM CONTRACT: the iteration runs a FIXED number of steps
(default 8) instead of to a tolerance — the same
unrolled-procedure trick as the PCA power iteration, making the result
a pure function replayable step-for-step in SQL.  Convergence is
quadratic, so 8 steps reach machine precision for every pair except
NEAR-ANTIPODAL ones (the classical Vincenty non-convergence zone,
roughly within 0.01° of the antipode), where the truncated iterate is
still finite but only ~spherical-accurate — documented limitation, the
same envelope as GeoTools' own Vincenty implementation before Karney.

Validation (tests/test_geodesic.py): WGS84 meridian quarter
10_001_965.729 m closed form, equatorial arcs a·Δλ exactly (the
equator is a geodesic), the Geoscience Australia Flinders
Peak→Buninyong line (54_972.271 m, Vincenty's standard test vector),
symmetry, triangle inequality fuzz, haversine agreement within the
flattening bound, and kernel == SQL text to sub-mm.
"""

from __future__ import annotations

import numpy as np

from .columns import sql_cast_double as _c

GEO_A = 6378137.0                  # WGS84 semi-major axis (m)
GEO_F = 1.0 / 298.257223563        # WGS84 flattening
GEO_B = GEO_A * (1.0 - GEO_F)      # semi-minor axis (m)
VINCENTY_ITERS = 8


def vincenty_m(lat1, lon1, lat2, lon2, iters: int = VINCENTY_ITERS):
    """WGS84 geodesic distance in meters, vectorized (degrees in).
    Fixed ``iters`` lambda iterations (see module contract)."""
    return _vincenty_core(lat1, lon1, lat2, lon2, iters)[0]


def vincenty_inverse_m(lat1, lon1, lat2, lon2,
                       iters: int = VINCENTY_ITERS,
                       tol: float = 1e-12):
    """WGS84 geodesic distance WITH a convergence verdict, vectorized.

    Returns ``(dist_m, converged)``; ``converged`` is False exactly in
    Vincenty's classical non-convergence zone (near-antipodal pairs,
    where the fixed-step lambda iteration is still moving more than
    ``tol`` radians on its last step).  Distances for non-converged
    pairs are NOT survey-grade (only ~spherical-accurate) — callers
    must guard (st_distance_geodesic raises; never a silent wrong
    distance).  Coincident points converge trivially (distance 0)."""
    dist, delta = _vincenty_core(lat1, lon1, lat2, lon2, iters)
    return dist, np.abs(delta) <= tol


def _vincenty_core(lat1, lon1, lat2, lon2, iters: int):
    """Shared fixed-step Vincenty inverse: returns (distance_m,
    last-step lambda delta).  The delta is RECORDED, never fed back —
    arithmetic is op-for-op identical to the original kernel (the
    st_length_geodesic gate and the dual-engine SQL stay bit-stable)."""
    lat1 = np.radians(np.asarray(lat1, dtype=np.float64))
    lat2 = np.radians(np.asarray(lat2, dtype=np.float64))
    dl = np.radians(np.asarray(lon2, dtype=np.float64)
                    - np.asarray(lon1, dtype=np.float64))
    u1 = np.arctan((1.0 - GEO_F) * np.tan(lat1))
    u2 = np.arctan((1.0 - GEO_F) * np.tan(lat2))
    su1, cu1 = np.sin(u1), np.cos(u1)
    su2, cu2 = np.sin(u2), np.cos(u2)
    lam = dl
    last_delta = np.zeros_like(np.asarray(dl, dtype=np.float64))
    for _ in range(iters):
        lam_prev = lam
        sl, cl = np.sin(lam), np.cos(lam)
        sin_sigma = np.sqrt((cu2 * sl) ** 2
                            + (cu1 * su2 - su1 * cu2 * cl) ** 2)
        cos_sigma = su1 * su2 + cu1 * cu2 * cl
        sigma = np.arctan2(sin_sigma, cos_sigma)
        # coincident points: sin_sigma == 0 → guard the division
        sin_alpha = np.where(sin_sigma == 0.0, 0.0,
                             cu1 * cu2 * sl / np.where(sin_sigma == 0.0,
                                                       1.0, sin_sigma))
        cos2_alpha = 1.0 - sin_alpha * sin_alpha
        # equatorial line: cos2_alpha == 0 → cos(2σm) is irrelevant (C=f/16·0)
        cos_2sm = np.where(cos2_alpha == 0.0, 0.0,
                           cos_sigma - 2.0 * su1 * su2
                           / np.where(cos2_alpha == 0.0, 1.0, cos2_alpha))
        c = GEO_F / 16.0 * cos2_alpha * (4.0 + GEO_F
                                         * (4.0 - 3.0 * cos2_alpha))
        lam = dl + (1.0 - c) * GEO_F * sin_alpha * (
            sigma + c * sin_sigma * (cos_2sm + c * cos_sigma
                                     * (-1.0 + 2.0 * cos_2sm * cos_2sm)))
        last_delta = lam - lam_prev
    sl, cl = np.sin(lam), np.cos(lam)
    sin_sigma = np.sqrt((cu2 * sl) ** 2 + (cu1 * su2 - su1 * cu2 * cl) ** 2)
    cos_sigma = su1 * su2 + cu1 * cu2 * cl
    sigma = np.arctan2(sin_sigma, cos_sigma)
    sin_alpha = np.where(sin_sigma == 0.0, 0.0,
                         cu1 * cu2 * sl / np.where(sin_sigma == 0.0,
                                                   1.0, sin_sigma))
    cos2_alpha = 1.0 - sin_alpha * sin_alpha
    cos_2sm = np.where(cos2_alpha == 0.0, 0.0,
                       cos_sigma - 2.0 * su1 * su2
                       / np.where(cos2_alpha == 0.0, 1.0, cos2_alpha))
    u_sq = cos2_alpha * (GEO_A * GEO_A - GEO_B * GEO_B) / (GEO_B * GEO_B)
    aa = 1.0 + u_sq / 16384.0 * (4096.0 + u_sq
                                 * (-768.0 + u_sq * (320.0 - 175.0 * u_sq)))
    bb = u_sq / 1024.0 * (256.0 + u_sq
                          * (-128.0 + u_sq * (74.0 - 47.0 * u_sq)))
    d_sigma = bb * sin_sigma * (
        cos_2sm + bb / 4.0 * (cos_sigma * (-1.0 + 2.0 * cos_2sm * cos_2sm)
                              - bb / 6.0 * cos_2sm
                              * (-3.0 + 4.0 * sin_sigma * sin_sigma)
                              * (-3.0 + 4.0 * cos_2sm * cos_2sm)))
    return GEO_B * aa * (sigma - d_sigma), last_delta


def geodesic_distance_m(g1, g2) -> float:
    """Point-pair WGS84 geodesic distance in meters — the ellipsoidal
    tier of the reference's OrthodromicDistance (GeoTools
    GeodeticCalculator; pipes/processing/OrthodromicDistance.java).
    Both arguments must be POINTS (lon/lat degrees); raises TypeError
    otherwise and ValueError in Vincenty's near-antipodal
    non-convergence zone — NEVER a silent wrong distance (use
    st_distance_sphere for an always-defined spherical answer)."""
    from ..geom.core import GTYPE_POINT

    for g in (g1, g2):
        if g.gtype != GTYPE_POINT:
            raise TypeError("st_distance_geodesic expects two points, "
                            f"got gtype={g.gtype}")
    lon1, lat1 = float(g1.data[0]), float(g1.data[1])
    lon2, lat2 = float(g2.data[0]), float(g2.data[1])
    dist, ok = vincenty_inverse_m(lat1, lon1, lat2, lon2)
    if not bool(ok):
        raise ValueError(
            "st_distance_geodesic: Vincenty's inverse does not converge "
            f"for the near-antipodal pair ({lon1}, {lat1})–({lon2}, {lat2}); "
            "refusing to return a non-survey-grade distance "
            "(st_distance_sphere gives the spherical answer)")
    return float(dist)


def geodesic_length_m(g) -> float:
    """Sum of per-segment WGS84 geodesic distances over every line/ring
    path of ``g`` (lon/lat degree coordinates) — the ellipsoidal tier
    of OrthodromicLength."""
    from ..geom.core import GTYPE_LINESTRING, GTYPE_POLYGON

    total = 0.0
    for part in g.parts():
        if part.gtype == GTYPE_LINESTRING:
            paths = [part.data]
        elif part.gtype == GTYPE_POLYGON:
            paths = list(part.data)
        else:
            continue
        for arr in paths:
            a = np.asarray(arr, dtype=np.float64)
            if len(a) < 2:
                continue
            total += float(np.sum(vincenty_m(a[:-1, 1], a[:-1, 0],
                                             a[1:, 1], a[1:, 0])))
    return total


def vincenty_ctes(base: str, lat1: str = "lat1", lon1: str = "lon1",
                  lat2: str = "lat2", lon2: str = "lon2",
                  iters: int = VINCENTY_ITERS,
                  out: str = "geodesic_m") -> str:
    """Dual-engine SQL (valid Spark SQL AND DuckDB): wraps ``base`` — a
    query exposing degree columns — in a WITH chain adding ``out`` in
    meters, the SAME fixed-step Vincenty procedure as ``vincenty_m``
    op for op (numeric constants repr'd from the same Python doubles;
    kernel-vs-SQL drift is libm-ulp, contracted by the iteration)."""
    f = _c(GEO_F)
    steps = [f"""
        _vin_s0 AS (
          SELECT *,
                 atan((1.0 - {f}) * tan(radians(CAST({lat1} AS DOUBLE))))
                   AS _u1,
                 atan((1.0 - {f}) * tan(radians(CAST({lat2} AS DOUBLE))))
                   AS _u2,
                 radians(CAST({lon2} AS DOUBLE) - CAST({lon1} AS DOUBLE))
                   AS _dl
          FROM _vin_base),
        _vin_s0b AS (
          SELECT *, sin(_u1) AS _su1, cos(_u1) AS _cu1,
                 sin(_u2) AS _su2, cos(_u2) AS _cu2, _dl AS _lam0
          FROM _vin_s0)"""]
    prev = "_lam0"
    prev_cte = "_vin_s0b"
    for i in range(iters):
        steps.append(f"""
        _vin_i{i} AS (
          SELECT *, _dl + (1.0 - _c{i}) * {f} * _sa{i} * (_sig{i}
                   + _c{i} * _ss{i} * (_c2m{i} + _c{i} * _cs{i}
                     * (-1.0 + 2.0 * _c2m{i} * _c2m{i}))) AS _lam{i + 1}
          FROM (
            SELECT *,
                   {GEO_F!r} / 16.0 * _c2a{i}
                     * (4.0 + {f} * (4.0 - 3.0 * _c2a{i})) AS _c{i},
                   CASE WHEN _c2a{i} = 0.0 THEN 0.0
                        ELSE _cs{i} - 2.0 * _su1 * _su2 / _c2a{i} END
                     AS _c2m{i}
            FROM (
              SELECT *, 1.0 - _sa{i} * _sa{i} AS _c2a{i}
              FROM (
                SELECT *, atan2(_ss{i}, _cs{i}) AS _sig{i},
                       CASE WHEN _ss{i} = 0.0 THEN 0.0
                            ELSE _cu1 * _cu2 * sin({prev}) / _ss{i} END
                         AS _sa{i}
                FROM (
                  SELECT *,
                         sqrt((_cu2 * sin({prev})) * (_cu2 * sin({prev}))
                           + (_cu1 * _su2 - _su1 * _cu2 * cos({prev}))
                             * (_cu1 * _su2 - _su1 * _cu2 * cos({prev})))
                           AS _ss{i},
                         _su1 * _su2 + _cu1 * _cu2 * cos({prev}) AS _cs{i}
                  FROM {prev_cte}) _a{i}) _b{i}) _d{i}
            ) _e{i})""")
        prev = f"_lam{i + 1}"
        prev_cte = f"_vin_i{i}"
    ee = _c((GEO_A * GEO_A - GEO_B * GEO_B) / (GEO_B * GEO_B))
    final = f"""
        _vin_f1 AS (
          SELECT *,
                 sqrt((_cu2 * sin({prev})) * (_cu2 * sin({prev}))
                   + (_cu1 * _su2 - _su1 * _cu2 * cos({prev}))
                     * (_cu1 * _su2 - _su1 * _cu2 * cos({prev}))) AS _fss,
                 _su1 * _su2 + _cu1 * _cu2 * cos({prev}) AS _fcs
          FROM {prev_cte}),
        _vin_f2 AS (
          SELECT *, atan2(_fss, _fcs) AS _fsig,
                 CASE WHEN _fss = 0.0 THEN 0.0
                      ELSE _cu1 * _cu2 * sin({prev}) / _fss END AS _fsa
          FROM _vin_f1),
        _vin_f3 AS (
          SELECT *, (1.0 - _fsa * _fsa) * {ee} AS _usq,
                 CASE WHEN 1.0 - _fsa * _fsa = 0.0 THEN 0.0
                      ELSE _fcs - 2.0 * _su1 * _su2
                           / (1.0 - _fsa * _fsa) END AS _fc2m
          FROM _vin_f2),
        _vin_f4 AS (
          SELECT *,
                 1.0 + _usq / 16384.0 * (4096.0 + _usq
                   * (-768.0 + _usq * (320.0 - 175.0 * _usq))) AS _faa,
                 _usq / 1024.0 * (256.0 + _usq
                   * (-128.0 + _usq * (74.0 - 47.0 * _usq))) AS _fbb
          FROM _vin_f3),
        _vin_out AS (
          SELECT *, {_c(GEO_B)} * _faa * (_fsig - _fbb * _fss * (
                   _fc2m + _fbb / 4.0 * (_fcs
                     * (-1.0 + 2.0 * _fc2m * _fc2m)
                     - _fbb / 6.0 * _fc2m
                       * (-3.0 + 4.0 * _fss * _fss)
                       * (-3.0 + 4.0 * _fc2m * _fc2m)))) AS {out}
          FROM _vin_f4)"""
    body = ",".join(steps)
    return f"""
        WITH _vin_base AS ({base}),{body},{final}
    """

"""Pure-column spatial expressions — the JVM-side fast path.

These never leave whole-stage codegen: no Python UDFs, no Arrow transfer.
Point layers (x/y double columns) get their entire hot path here — the
reference's two-phase search (envelope prefilter + exact test,
rtree/filter/AbstractSearchEnvelopeIntersection.java:48-54) becomes pure
column predicates that Catalyst pushes into the Parquet scan.

Window predicates are SQL strings for ``df.filter`` and the spherical
distance is one ``F.expr``: the JVM parses each once instead of the
driver building it from dozens of Column calls, each a py4j round trip.
Literals are typed (``sql_double``/``sql_long``), so the parsed trees
hold the same values as Column-built ones.
"""

from __future__ import annotations

import math

from pyspark.sql import Column
from pyspark.sql import functions as F

EARTH_RADIUS_KM = 6371.0  # OrthodromicDistance.java R=6371


def sql_double(x) -> str:
    """``x`` as a typed Spark SQL DOUBLE literal.  A bare ``11.9`` parses
    as DECIMAL; the ``D`` suffix keeps it a double, and Python's
    shortest repr round-trips exactly through Java's
    ``Double.parseDouble``, so the literal is bit-identical to
    ``F.lit(x)``."""
    x = float(x)
    if not math.isfinite(x):
        raise ValueError(f"no SQL double literal for {x!r}")
    return f"{x!r}D"


def sql_cast_double(x) -> str:
    """``x`` as a DOUBLE literal valid in Spark SQL AND DuckDB, for SQL
    text both engines run.  Two spellings exist because the ``D``
    suffix of ``sql_double`` is Spark-only, and DuckDB parses a bare
    ``11.9`` as DECIMAL (whose products overflow), so shared text
    spells ``CAST(11.9 AS DOUBLE)``; the repr round-trips exactly in
    both."""
    x = float(x)
    if not math.isfinite(x):
        raise ValueError(f"no SQL double literal for {x!r}")
    return f"CAST({x!r} AS DOUBLE)"


def sql_long(v) -> str:
    """``v`` as a typed Spark SQL BIGINT literal (keys above 2**31)."""
    return f"{int(v)}L"


def _ident(name: str) -> str:
    return "`" + name.replace("`", "``") + "`"


def _sql(v) -> str:
    """A column name or a float as a SQL fragment."""
    return _ident(v) if isinstance(v, str) else sql_double(v)


def sphere_distance_km(lon1, lat1, lon2, lat2) -> Column:
    """Spherical law of cosines, R=6371 — exact replication of
    OrthodromicDistance.calculateDistance (reference :90-97), as one
    codegen'd SQL expression.  Each argument is a column name or a
    float; the expression tree is the same radians/sin/cos/least/
    greatest/acos one a Column build makes, with nothing precomputed in
    Python, so the doubles are identical."""
    lon1, lat1, lon2, lat2 = map(_sql, (lon1, lat1, lon2, lat2))
    return F.expr(
        f"acos(least(1.0D, greatest(-1.0D, "
        f"sin(radians({lat1})) * sin(radians({lat2})) + "
        f"cos(radians({lat1})) * cos(radians({lat2})) * "
        f"cos(radians({lon2} - {lon1}))))) * {sql_double(EARTH_RADIUS_KM)}")


def sphere_search_window(lon: float, lat: float, dist_km: float):
    """(xmin, ymin, xmax, ymax) window guaranteed to contain the distance
    circle.

    Improves on OrthodromicDistance.suggestSearchWindow (reference :73-88),
    whose `span/cos(lat)` longitude widening under-covers away from the
    probe latitude (the documented may-miss flaw): the exact max longitude
    extent of a spherical cap of angular radius r at latitude φ is
    asin(sin(r)/cos(φ)), reached at a latitude beyond φ.  We use that, plus
    a 1e-9° guard so boundary points survive the prefilter."""
    r = dist_km / EARTH_RADIUS_KM  # angular radius, radians
    lat_span = math.degrees(r) + 1e-9
    coslat = math.cos(math.radians(lat))
    sinr = math.sin(min(r, math.pi / 2))
    if sinr >= coslat or abs(lat) + lat_span >= 90.0:
        lon_span = 360.0  # cap reaches a pole: all longitudes
    else:
        lon_span = math.degrees(math.asin(sinr / coslat)) + 1e-9
    return (lon - lon_span, lat - lat_span, lon + lon_span, lat + lat_span)


def sphere_search_windows(lon: float, lat: float, dist_km: float) -> list:
    """Antimeridian-aware window list: 1 window normally, 2 when the cap
    crosses ±180 (layer coordinates stay in [-180, 180], so a window
    extending past the antimeridian must wrap).  OR the per-window
    prefilters (bbox_intersects_window)."""
    x0, y0, x1, y1 = sphere_search_window(lon, lat, dist_km)
    if x1 - x0 >= 360.0:
        return [(-180.0, y0, 180.0, y1)]
    if x0 < -180.0:
        return [(-180.0, y0, x1, y1), (x0 + 360.0, y0, 180.0, y1)]
    if x1 > 180.0:
        return [(x0, y0, 180.0, y1), (-180.0, y0, x1 - 360.0, y1)]
    return [(x0, y0, x1, y1)]


def _window_sql(x_lo, x_hi, y_lo, y_hi, window, lo: str = ">=",
                hi: str = "<=") -> str:
    """``(x_lo >= wx0 AND x_hi <= wx1 AND y_lo >= wy0 AND y_hi <= wy1)``
    (with the ``lo``/``hi`` comparisons) as a SQL predicate string."""
    wx0, wy0, wx1, wy1 = map(sql_double, window)
    return (f"({_ident(x_lo)} {lo} {wx0} AND {_ident(x_hi)} {hi} {wx1} AND "
            f"{_ident(y_lo)} {lo} {wy0} AND {_ident(y_hi)} {hi} {wy1})")


def bbox_intersects_window(xmin, ymin, xmax, ymax, window) -> str:
    """bbox-vs-rectangle predicate on the four bbox columns —
    FilterIntersectWindow.java:32-51 as pure column math."""
    return _window_sql(xmax, xmin, ymax, ymin, window)


def point_in_window(x, y, window) -> str:
    return _window_sql(x, x, y, y, window)


def bbox_covered_by_window(xmin, ymin, xmax, ymax, window) -> str:
    """SearchCoveredByEnvelope equivalent."""
    return _window_sql(xmin, xmax, ymin, ymax, window)


def bbox_equals_window(xmin, ymin, xmax, ymax, window, tol: float = 0.0) -> str:
    """SearchEqualEnvelopes equivalent."""
    if tol == 0.0:
        return _window_sql(xmin, xmax, ymin, ymax, window, "=", "=")
    wx0, wy0, wx1, wy1 = window
    return "(" + " AND ".join(
        f"abs({_ident(c)} - {sql_double(w)}) <= {sql_double(tol)}"
        for c, w in ((xmin, wx0), (xmax, wx1), (ymin, wy0), (ymax, wy1))) \
        + ")"


def sphere_azimuth_deg(lon1, lat1, lon2, lat2) -> Column:
    """Initial great-circle bearing from point 1 to point 2, degrees in
    [0, 360) — ST_Azimuth's spherical form, pure Column (codegen'd)."""
    lon1, lat1, lon2, lat2 = [
        F.col(c) if isinstance(c, str) else c
        for c in (lon1, lat1, lon2, lat2)]
    dl = F.radians(lon2 - lon1)
    p1, p2 = F.radians(lat1), F.radians(lat2)
    az = F.degrees(F.atan2(
        F.sin(dl) * F.cos(p2),
        F.cos(p1) * F.sin(p2) - F.sin(p1) * F.cos(p2) * F.cos(dl)))
    return (az % 360 + 360) % 360


def sphere_project(lon, lat, bearing_deg, km):
    """Destination point ``km`` along the great circle at
    ``bearing_deg`` (R=6371, the engine's sphere) — ST_Project's
    spherical form.  Returns ``(lon2, lat2)`` Columns; longitude is
    normalized to [-180, 180)."""
    lon, lat, bearing_deg, km = [
        F.col(c) if isinstance(c, str) else c
        for c in (lon, lat, bearing_deg, km)]
    d = km / F.lit(6371.0)
    th = F.radians(bearing_deg)
    p1 = F.radians(lat)
    p2 = F.asin(F.sin(p1) * F.cos(d) + F.cos(p1) * F.sin(d) * F.cos(th))
    l2 = F.radians(lon) + F.atan2(
        F.sin(th) * F.sin(d) * F.cos(p1),
        F.cos(d) - F.sin(p1) * F.sin(p2))
    lon2 = (F.degrees(l2) % 360 + 540) % 360 - 180
    return lon2, F.degrees(p2)

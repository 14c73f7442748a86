"""The st_* scalar function library — Arrow-batched pandas UDFs over WKB.

Parity: every 1→1 GeoPipe and Cypher scalar function from SURVEY.md §2.6-2.8
(Area.java, Length.java, Centroid.java, Buffer.java, ... WellKnownText.java,
GeoJSON.java, functions/SpatialFunctions.java:44-137) becomes an
``st_*`` function, callable both from the DataFrame API and (after
``register_all(spark)``) from SQL.

Design: geometry travels as WKB BinaryType; each UDF parses a WKB batch,
runs the NumPy kernel, and re-encodes.  Point-only paths should prefer the
pure-Column versions in .columns (no Python at all) — these UDFs are the
general-geometry path.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..geom import Geometry, from_wkb, from_wkt, to_wkb, to_wkt
from ..geom import algorithms as alg
from ..geom import clip as cl
from ..geom import predicates as pred
from ..geom.io_text import from_geojson, to_geojson, to_gml, to_kml
from .crs import st_transform

# ----------------------------------------------------------------- batch WKB
import numpy as np

_PT_HDR = b"\x01\x01\x00\x00\x00"


def _uniform_batch(wkb: pd.Series):
    """One-numpy-pass decode for a UNIFORM Arrow batch: if every buffer is
    a little-endian 2-D single-part geometry with an identical header
    (same type and vertex count — the shape of gridded/tiled data, where
    per-row ``from_wkb`` is the biggest 100×-scale cost), return
    ``(coords (n,k,2) float64, wkb_base_type)``; else None and the caller
    runs the general per-row path.  The header equality check is a cheap
    bytes compare (~100 ns/row) vs a full parse (~10 µs/row)."""
    vals = wkb.to_numpy(dtype=object)
    n = len(vals)
    if n == 0:
        return None
    first = vals[0]
    if first is None or not isinstance(first, (bytes, bytearray)):
        return None
    first = bytes(first)
    if len(first) < 9 or first[0] != 1:
        return None
    base = int.from_bytes(first[1:5], "little")
    if base == 1:                      # point
        off, k = 5, 1
    elif base == 2:                    # linestring
        off = 9
        k = int.from_bytes(first[5:9], "little")
    elif base == 3:                    # polygon, single ring only
        if len(first) < 13 or first[5:9] != b"\x01\x00\x00\x00":
            return None
        off = 13
        k = int.from_bytes(first[9:13], "little")
    else:
        return None
    L = off + 16 * k
    hdr = first[:off]
    if len(first) != L:
        return None
    for b in vals:
        if b is None or len(b) != L or bytes(b[:off]) != hdr:
            return None
    buf = b"".join(bytes(b) for b in vals)
    arr = np.frombuffer(buf, np.uint8).reshape(n, L)
    coords = np.ascontiguousarray(arr[:, off:]).view("<f8").reshape(n, k, 2)
    return coords.astype(np.float64, copy=False), base


def _wkb_rows(hdr: bytes, coords: np.ndarray) -> list:
    """Fixed-width little-endian WKB records: ``hdr`` followed by one
    row of ``coords`` (n, k) as doubles, in one numpy pass."""
    n, k = coords.shape
    out = np.empty((n, len(hdr) + 8 * k), np.uint8)
    out[:, :len(hdr)] = np.frombuffer(hdr, np.uint8)
    out[:, len(hdr):] = np.ascontiguousarray(
        coords, dtype="<f8").view(np.uint8).reshape(n, 8 * k)
    return [r.tobytes() for r in out]


def _points_to_wkb_rows(xs: np.ndarray, ys: np.ndarray) -> list:
    """Vectorized little-endian point-WKB assembly for a coordinate batch."""
    return _wkb_rows(_PT_HDR, np.column_stack([xs, ys]))


def _doubles(col: pd.Series) -> tuple:
    """(float64 values, null mask) of a numeric UDF argument.  Only an
    object column (decimal literals, NULL) can hold None; a double
    column's nulls arrive as NaN, which the encoders keep as a value."""
    if col.dtype != object:
        return col.to_numpy(np.float64), np.zeros(len(col), dtype=bool)
    null = np.fromiter((v is None for v in col), bool, len(col))
    vals = np.array([np.nan if v is None else float(v) for v in col],
                    dtype=np.float64)
    return vals, null


# ----------------------------------------------------------------- wrappers

def _u_scalar(fn, rtype):
    """unary geom → scalar"""
    @F.pandas_udf(rtype)
    def udf(wkb: pd.Series) -> pd.Series:
        return wkb.map(lambda b: None if b is None else fn(from_wkb(b)))
    return udf


def _u_geom(fn):
    """unary geom → geom"""
    @F.pandas_udf(T.BinaryType())
    def udf(wkb: pd.Series) -> pd.Series:
        def run(b):
            if b is None:
                return None
            g = fn(from_wkb(b))
            return None if g is None else to_wkb(g)
        return wkb.map(run)
    return udf


def _u_geom_p(fn):
    """(geom, double-param) → geom"""
    @F.pandas_udf(T.BinaryType())
    def udf(wkb: pd.Series, p: pd.Series) -> pd.Series:
        out = []
        for b, v in zip(wkb, p):
            out.append(None if b is None else to_wkb(fn(from_wkb(b), float(v))))
        return pd.Series(out)
    return udf


def _b_bool(fn):
    """(geom, geom) → bool"""
    @F.pandas_udf(T.BooleanType())
    def udf(a: pd.Series, b: pd.Series) -> pd.Series:
        out = []
        for x, y in zip(a, b):
            out.append(None if (x is None or y is None) else fn(from_wkb(x), from_wkb(y)))
        return pd.Series(out)
    return udf


def _b_geom(fn):
    """(geom, geom) → geom"""
    @F.pandas_udf(T.BinaryType())
    def udf(a: pd.Series, b: pd.Series) -> pd.Series:
        out = []
        for x, y in zip(a, b):
            out.append(None if (x is None or y is None)
                       else to_wkb(fn(from_wkb(x), from_wkb(y))))
        return pd.Series(out)
    return udf


def _b_scalar(fn, rtype):
    @F.pandas_udf(rtype)
    def udf(a: pd.Series, b: pd.Series) -> pd.Series:
        out = []
        for x, y in zip(a, b):
            out.append(None if (x is None or y is None) else fn(from_wkb(x), from_wkb(y)))
        return pd.Series(out)
    return udf


# ----------------------------------------------------------------- functions
@F.pandas_udf(T.DoubleType())
def st_area(wkb: pd.Series) -> pd.Series:
    """Planar area.  Uniform single-ring-polygon batches take the
    one-pass numpy decode + batched shoelace (same op order per row as
    ring_signed_area, so results are bit-identical); anything else falls
    back to the general per-row kernel."""
    ub = _uniform_batch(wkb)
    if ub is not None and ub[1] == 3 and ub[0].shape[1] >= 4:
        c = ub[0]
        x, y = c[:, :-1, 0], c[:, :-1, 1]
        x2, y2 = c[:, 1:, 0], c[:, 1:, 1]
        return pd.Series(np.abs(0.5 * np.sum(x * y2 - x2 * y, axis=1)))
    return wkb.map(lambda b: None if b is None else alg.area(from_wkb(b)))
st_length = _u_scalar(alg.length, T.DoubleType())
st_length_sphere = _u_scalar(alg.orthodromic_length_km, T.DoubleType())


def _geodesic_length_m(g):
    from .geodesic import geodesic_length_m
    return geodesic_length_m(g)


# ellipsoidal (WGS84 Vincenty) tier of OrthodromicLength — meters;
# st_length_sphere stays the reference-parity default (R=6371 spherical)
st_length_geodesic = _u_scalar(_geodesic_length_m, T.DoubleType())


def _geodesic_distance_m(g1, g2):
    from .geodesic import geodesic_distance_m
    return geodesic_distance_m(g1, g2)


# point-pair ellipsoidal tier of OrthodromicDistance — meters; raises in
# Vincenty's near-antipodal non-convergence zone (never silently wrong)
st_distance_geodesic = _b_scalar(_geodesic_distance_m, T.DoubleType())
st_dimension = _u_scalar(lambda g: g.dimension(), T.IntegerType())
st_numpoints = _u_scalar(lambda g: g.num_points(), T.IntegerType())
st_numgeometries = _u_scalar(lambda g: g.num_geometries(), T.IntegerType())
st_geometrytype = _u_scalar(lambda g: g.type_name(), T.StringType())
st_isempty = _u_scalar(lambda g: g.is_empty(), T.BooleanType())
st_isvalid = _u_scalar(pred.is_valid, T.BooleanType())
st_x = _u_scalar(lambda g: float(g.data[0]) if g.gtype == 1 else None, T.DoubleType())
st_y = _u_scalar(lambda g: float(g.data[1]) if g.gtype == 1 else None, T.DoubleType())

st_astext = _u_scalar(to_wkt, T.StringType())
st_asgeojson = _u_scalar(to_geojson, T.StringType())
st_askml = _u_scalar(to_kml, T.StringType())
st_asgml = _u_scalar(to_gml, T.StringType())

st_envelope = _u_geom(alg.envelope_geom)


@F.pandas_udf(T.BinaryType())
def st_centroid(wkb: pd.Series) -> pd.Series:
    """Centroid; uniform single-ring-polygon batches use the batched
    area-weighted formula with the SAME op order as algorithms.centroid
    (including the kernel's `(cx*s)/s` weight round-trip, which is not a
    float identity), so a row's bytes do not depend on whether its Arrow
    batch happened to be uniform (ADVICE r4)."""
    ub = _uniform_batch(wkb)
    if ub is not None and ub[1] == 3 and ub[0].shape[1] >= 4:
        c = ub[0]
        x, y = c[:, :-1, 0], c[:, :-1, 1]
        x2, y2 = c[:, 1:, 0], c[:, 1:, 1]
        cross = x * y2 - x2 * y
        tot = 0.5 * np.sum(cross, axis=1)
        if bool(np.all(tot != 0.0)):
            s = np.abs(tot)
            cx = (np.sum((x + x2) * cross, axis=1) / (6.0 * tot) * s) / s
            cy = (np.sum((y + y2) * cross, axis=1) / (6.0 * tot) * s) / s
            return pd.Series(_points_to_wkb_rows(cx, cy))
    return wkb.map(lambda b: None if b is None
                   else to_wkb(alg.centroid(from_wkb(b))))
st_interiorpoint = _u_geom(alg.interior_point)
st_boundary = _u_geom(alg.boundary)
st_convexhull = _u_geom(alg.convex_hull)
st_startpoint = _u_geom(alg.start_point)
st_endpoint = _u_geom(alg.end_point)

st_buffer = _u_geom_p(alg.buffer_geom)
st_densify = _u_geom_p(alg.densify)
st_simplify = _u_geom_p(lambda g, t: alg.simplify_dp(g, t, False))
st_simplify_preserve_topology = _u_geom_p(lambda g, t: alg.simplify_dp(g, t, True))

st_distance = _b_scalar(alg.distance, T.DoubleType())
st_intersects = _b_bool(pred.intersects)
st_disjoint = _b_bool(pred.disjoint)
st_contains = _b_bool(pred.contains)
st_within = _b_bool(pred.within)
st_covers = _b_bool(pred.covers)
st_coveredby = _b_bool(pred.covered_by)
st_crosses = _b_bool(pred.crosses)
st_overlaps = _b_bool(pred.overlaps)
st_touches = _b_bool(pred.touches)
st_equals = _b_bool(pred.equals_topo)
st_equals_norm = _b_bool(pred.equals_norm)

st_union = _b_geom(cl.union)
st_intersection = _b_geom(cl.intersection)
st_difference = _b_geom(cl.difference)
st_symdifference = _b_geom(cl.sym_difference)


@F.pandas_udf(T.BooleanType())
def st_equals_exact(a: pd.Series, b: pd.Series, tol: pd.Series) -> pd.Series:
    out = []
    for x, y, t in zip(a, b, tol):
        out.append(None if (x is None or y is None)
                   else pred.equals_exact(from_wkb(x), from_wkb(y), float(t)))
    return pd.Series(out)


@F.pandas_udf(T.BooleanType())
def st_relate(a: pd.Series, b: pd.Series, pat: pd.Series) -> pd.Series:
    out = []
    for x, y, p in zip(a, b, pat):
        out.append(None if (x is None or y is None)
                   else pred.relate(from_wkb(x), from_wkb(y), str(p)))
    return pd.Series(out)


@F.pandas_udf(T.StringType())
def st_relate_matrix(a: pd.Series, b: pd.Series) -> pd.Series:
    out = []
    for x, y in zip(a, b):
        out.append(None if (x is None or y is None)
                   else pred.relate_matrix(from_wkb(x), from_wkb(y)))
    return pd.Series(out)


_BOX_HDR = b"\x01\x03\x00\x00\x00\x01\x00\x00\x00\x05\x00\x00\x00"


@F.pandas_udf(T.BinaryType())
def st_make_box(x0: pd.Series, y0: pd.Series,
                x1: pd.Series, y1: pd.Series) -> pd.Series:
    """Rectangle polygon from corner columns — the fast path for
    envelope-shaped geometry construction (no WKT round-trip).  One
    fixed-width encode, byte-identical to ``to_wkb(Geometry.box(...))``;
    a None corner gives NULL."""
    (a, na), (b, nb), (c, nc), (d, nd) = map(_doubles, (x0, y0, x1, y1))
    out = np.array(_wkb_rows(_BOX_HDR, np.column_stack(
        [a, b, c, b, c, d, a, d, a, b])), dtype=object)
    # a NaN first corner never equals itself, so Geometry.box closes the
    # ring with a sixth point: those rows keep the per-row encoder
    for i in np.flatnonzero(np.isnan(a) | np.isnan(b)):
        out[i] = to_wkb(Geometry.box(a[i], b[i], c[i], d[i]))
    out[na | nb | nc | nd] = None
    return pd.Series(out)


@F.pandas_udf(T.BinaryType())
def st_point(x: pd.Series, y: pd.Series) -> pd.Series:
    """Point from coordinate columns, one fixed-width encode; a None
    coordinate gives NULL, a NaN one POINT EMPTY (as ``to_wkb``)."""
    (xs, nx), (ys, ny) = _doubles(x), _doubles(y)
    empty = np.isnan(xs) | np.isnan(ys)
    xs, ys = np.where(empty, np.nan, xs), np.where(empty, np.nan, ys)
    out = np.array(_points_to_wkb_rows(xs, ys), dtype=object)
    out[nx | ny] = None
    return pd.Series(out)


@F.pandas_udf(T.BinaryType())
def st_geomfromtext(s: pd.Series) -> pd.Series:
    return s.map(lambda v: None if v is None else to_wkb(from_wkt(v)))


@F.pandas_udf(T.BinaryType())
def st_geomfromgeojson(s: pd.Series) -> pd.Series:
    return s.map(lambda v: None if v is None else to_wkb(from_geojson(v)))


@F.pandas_udf(T.StringType())
def st_wkt_to_geojson(s: pd.Series) -> pd.Series:
    """spatial.wktToGeoJson (SpatialFunctions.java:46-62) equivalent."""
    return s.map(lambda v: None if v is None else to_geojson(from_wkt(v)))


@F.pandas_udf(T.DoubleType())
def st_distance_sphere(lon1: pd.Series, lat1: pd.Series,
                       lon2: pd.Series, lat2: pd.Series) -> pd.Series:
    import numpy as np
    la1 = np.radians(lat1.astype(float))
    la2 = np.radians(lat2.astype(float))
    dlon = np.radians(lon2.astype(float) - lon1.astype(float))
    v = np.sin(la1) * np.sin(la2) + np.cos(la1) * np.cos(la2) * np.cos(dlon)
    return pd.Series(np.arccos(np.clip(v, -1.0, 1.0)) * alg.EARTH_RADIUS_KM)


@F.pandas_udf(T.DoubleType())
def st_sphere_distance(wkb: pd.Series, lon: pd.Series,
                       lat: pd.Series) -> pd.Series:
    """Great-circle km from a geometry to a (lon, lat) probe — point
    fast-path plus DistanceOp-style nearest-point fallback for lines and
    polygons (OrthodromicDistance.java:37-72)."""
    out = []
    for b, x, y in zip(wkb, lon.astype(float), lat.astype(float)):
        if b is None:
            out.append(None)
            continue
        g = from_wkb(b)
        qx, qy = alg.nearest_point_on(g, x, y)
        out.append(alg.orthodromic_distance_km(x, y, qx, qy))
    return pd.Series(out)


_BBOX_TYPE = T.StructType([
    T.StructField("xmin", T.DoubleType()),
    T.StructField("ymin", T.DoubleType()),
    T.StructField("xmax", T.DoubleType()),
    T.StructField("ymax", T.DoubleType()),
])


@F.pandas_udf(_BBOX_TYPE)
def st_bbox(wkb: pd.Series) -> pd.DataFrame:
    rows = []
    for b in wkb:
        if b is None:
            rows.append((None, None, None, None))
        else:
            rows.append(from_wkb(b).envelope())
    return pd.DataFrame(rows, columns=["xmin", "ymin", "xmax", "ymax"])


@F.pandas_udf(T.IntegerType())
def st_gtype(wkb: pd.Series) -> pd.Series:
    return wkb.map(lambda b: None if b is None else from_wkb(b).gtype)


@F.pandas_udf(T.ArrayType(T.BinaryType()))
def st_dump(wkb: pd.Series) -> pd.Series:
    """Explode-ready: component geometries (ExtractGeometries.java:28-43)."""
    return wkb.map(lambda b: None if b is None else [to_wkb(p) for p in from_wkb(b).parts()])


@F.pandas_udf(T.ArrayType(T.BinaryType()))
def st_subdivide(wkb: pd.Series, max_vertices: pd.Series) -> pd.Series:
    """PostGIS-class ST_Subdivide: midpoint-bisection parts, each under
    max_vertices points, tiling the input exactly (geom/clip.subdivide)
    — the pre-join treatment for continent-sized polygons."""
    out = []
    for b, mv in zip(wkb, max_vertices):
        if b is None:
            out.append(None)
        else:
            out.append([to_wkb(p) for p in
                        cl.subdivide(from_wkb(b), int(mv))])
    return pd.Series(out)


@F.pandas_udf(T.ArrayType(T.BinaryType()))
def st_points(wkb: pd.Series) -> pd.Series:
    """Every vertex as a point (ExtractPoints.java:29-46).  Uniform
    batches decode in one numpy pass and assemble all point WKBs
    vectorized — no per-row parse (r3 verdict perf ask #5)."""
    ub = _uniform_batch(wkb)
    if ub is not None:
        c = ub[0]
        n, k, _ = c.shape
        flat = _points_to_wkb_rows(c[..., 0].ravel(), c[..., 1].ravel())
        return pd.Series([flat[i * k:(i + 1) * k] for i in range(n)])

    def run(b):
        if b is None:
            return None
        return [to_wkb(Geometry.point(float(x), float(y)))
                for x, y in from_wkb(b).all_coords()]
    return wkb.map(run)


@F.pandas_udf(T.ArrayType(T.ArrayType(T.DoubleType())))
def st_coords(wkb: pd.Series) -> pd.Series:
    """Vertices as [x,y] arrays (cheaper than st_points when WKB not needed)."""
    return wkb.map(
        lambda b: None if b is None
        else [[float(x), float(y)] for x, y in from_wkb(b).all_coords()]
    )


@F.pandas_udf(T.BinaryType())
def st_affine(wkb: pd.Series, a: pd.Series, b: pd.Series, d: pd.Series,
              e: pd.Series, xoff: pd.Series, yoff: pd.Series) -> pd.Series:
    out = []
    for g, *m in zip(wkb, a, b, d, e, xoff, yoff):
        out.append(None if g is None
                   else to_wkb(alg.affine_transform(from_wkb(g), [float(v) for v in m])))
    return pd.Series(out)


@F.pandas_udf(T.BinaryType())
def st_translate(wkb: pd.Series, dx: pd.Series, dy: pd.Series) -> pd.Series:
    out = []
    for g, x, y in zip(wkb, dx, dy):
        out.append(None if g is None
                   else to_wkb(alg.affine_transform(from_wkb(g), [1, 0, 0, 1, float(x), float(y)])))
    return pd.Series(out)


@F.pandas_udf(T.BinaryType())
def st_closest_point(geom: pd.Series, x: pd.Series, y: pd.Series) -> pd.Series:
    """Nearest point of geom to (x,y) — closest-edge snap (DistanceOp /
    SpatialTopologyUtils parity)."""
    out = []
    for b, px, py in zip(geom, x, y):
        if b is None:
            out.append(None)
            continue
        qx, qy = alg.nearest_point_on(from_wkb(b), float(px), float(py))
        out.append(to_wkb(Geometry.point(qx, qy)))
    return pd.Series(out)


@F.pandas_udf(T.DoubleType())
def st_line_locate_point(geom: pd.Series, x: pd.Series, y: pd.Series) -> pd.Series:
    """Fraction [0,1] along a linestring of the projected point (LRS)."""
    out = []
    for b, px, py in zip(geom, x, y):
        out.append(None if b is None
                   else alg.line_locate_point(from_wkb(b), float(px), float(py)))
    return pd.Series(out)


@F.pandas_udf(T.BinaryType())
def st_line_interpolate_point(geom: pd.Series, frac: pd.Series) -> pd.Series:
    """Point at a length fraction of a linestring (LRS)."""
    out = []
    for b, f in zip(geom, frac):
        out.append(None if b is None
                   else to_wkb(alg.line_interpolate_point(from_wkb(b), float(f))))
    return pd.Series(out)


@F.pandas_udf(T.LongType())
def zorder_key_udf(lon: pd.Series, lat: pd.Series) -> pd.Series:
    """Level-12 z-order key over WGS84 (the SFC point-index key column)."""
    from ..sfc import zorder_encode
    return pd.Series(zorder_encode(lon.to_numpy(float), lat.to_numpy(float)))


@F.pandas_udf(T.LongType())
def hilbert_key_udf(lon: pd.Series, lat: pd.Series) -> pd.Series:
    """Level-12 Hilbert key over WGS84 (LayerHilbertPointIndex parity)."""
    from ..sfc import hilbert_encode
    return pd.Series(hilbert_encode(lon.to_numpy(float), lat.to_numpy(float)))


def make_geohash_udf(precision: int = 12):
    """Geohash string UDF factory (LayerGeohashPointIndex parity)."""

    @F.pandas_udf(T.StringType())
    def geohash(lon: pd.Series, lat: pd.Series) -> pd.Series:
        from ..sfc import geohash_encode
        return pd.Series(geohash_encode(lon.to_numpy(float), lat.to_numpy(float),
                                        precision=precision))

    return geohash


geohash_udf = make_geohash_udf(12)


REGISTRY = {
    "st_zorder_key": zorder_key_udf, "st_hilbert_key": hilbert_key_udf,
    "st_geohash": geohash_udf, "st_closest_point": st_closest_point,
    "st_line_locate_point": st_line_locate_point,
    "st_line_interpolate_point": st_line_interpolate_point,
    "st_area": st_area, "st_length": st_length, "st_length_sphere": st_length_sphere,
    "st_length_geodesic": st_length_geodesic,
    "st_distance_geodesic": st_distance_geodesic,
    "st_dimension": st_dimension, "st_numpoints": st_numpoints,
    "st_numgeometries": st_numgeometries, "st_geometrytype": st_geometrytype,
    "st_isempty": st_isempty, "st_isvalid": st_isvalid, "st_x": st_x, "st_y": st_y,
    "st_astext": st_astext, "st_asgeojson": st_asgeojson, "st_askml": st_askml,
    "st_asgml": st_asgml, "st_envelope": st_envelope, "st_centroid": st_centroid,
    "st_interiorpoint": st_interiorpoint, "st_boundary": st_boundary,
    "st_convexhull": st_convexhull, "st_startpoint": st_startpoint,
    "st_endpoint": st_endpoint, "st_buffer": st_buffer, "st_densify": st_densify,
    "st_simplify": st_simplify,
    "st_simplify_preserve_topology": st_simplify_preserve_topology,
    "st_distance": st_distance, "st_intersects": st_intersects,
    "st_disjoint": st_disjoint, "st_contains": st_contains, "st_within": st_within,
    "st_covers": st_covers, "st_coveredby": st_coveredby, "st_crosses": st_crosses,
    "st_overlaps": st_overlaps, "st_touches": st_touches, "st_equals": st_equals,
    "st_equals_norm": st_equals_norm, "st_equals_exact": st_equals_exact,
    "st_relate": st_relate, "st_relate_matrix": st_relate_matrix,
    "st_union": st_union, "st_intersection": st_intersection,
    "st_difference": st_difference, "st_symdifference": st_symdifference,
    "st_point": st_point, "st_make_box": st_make_box,
    "st_geomfromtext": st_geomfromtext,
    "st_geomfromgeojson": st_geomfromgeojson, "st_wkt_to_geojson": st_wkt_to_geojson,
    "st_distance_sphere": st_distance_sphere, "st_bbox": st_bbox,
    "st_sphere_distance": st_sphere_distance,
    "st_gtype": st_gtype, "st_dump": st_dump, "st_points": st_points,
    "st_subdivide": st_subdivide,
    "st_coords": st_coords, "st_affine": st_affine, "st_translate": st_translate,
    "st_transform": st_transform,
}


_REGISTERED_SESSIONS = None  # lazy WeakSet — avoids import-time weakref dep


def register_all(spark, force: bool = False) -> None:
    """Register every st_* function for SQL use (the engine's analogue of the
    reference's procedure/function registration,
    SpatialProcedures.java / SpatialFunctions.java).

    Idempotent per SparkSession: registration is 69 py4j round-trips
    (~0.8 s measured), and a session keeps its registrations, so a
    second call on the same session is skipped (every SpatialContext
    construction calls this).  ``force=True`` re-registers — use it if
    an st_* name was overwritten with a foreign function."""
    global _REGISTERED_SESSIONS
    if _REGISTERED_SESSIONS is None:
        import weakref
        _REGISTERED_SESSIONS = weakref.WeakSet()
    if not force and spark in _REGISTERED_SESSIONS:
        return
    for name, udf in REGISTRY.items():
        spark.udf.register(name, udf)
    _REGISTERED_SESSIONS.add(spark)


def wkb_lit(geom_or_wkt):
    """Literal WKB column from a Geometry or WKT string — the broadcast-side
    geometry of every layer-vs-constant search (GeoPipeline.java:197-265)."""
    g = from_wkt(geom_or_wkt) if isinstance(geom_or_wkt, str) else geom_or_wkt
    return F.lit(bytearray(to_wkb(g)))

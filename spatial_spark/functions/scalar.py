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
from ..geom.core import GTYPE_POLYGON
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
    bytes compare (~100 ns/row) vs a full parse (~10 µs/row).  Polygons
    are ``_ring_groups``' single group (rings of 4+ points)."""
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
        ks, groups = _ring_groups(vals)
        if len(groups) != 1 or (ks < 0).any():
            return None
        return groups[int(ks[0])][1], base
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


_RING_HDR = b"\x01\x03\x00\x00\x00\x01\x00\x00\x00"


def _ring_groups(vals: np.ndarray) -> tuple:
    """The single-ring polygons of a WKB batch (little-endian 2-D) whose
    ring has at least 4 points, decoded at once as flat coordinates
    grouped by vertex count: ``(k, groups)`` where ``k[i]`` is row i's
    vertex count (-1 for a null row and any other geometry) and
    ``groups`` maps a vertex count to ``(rows, coords (g, count, 2))``.
    The one batch decoder of polygons (st_area, st_centroid,
    st_intersection, and ``_uniform_batch`` for st_points)."""
    k = np.full(len(vals), -1, dtype=np.int64)
    for i, b in enumerate(vals):
        if b is not None and b[:9] == _RING_HDR and len(b) >= 13:
            m = int.from_bytes(b[9:13], "little")
            if m >= 4 and len(b) == 13 + 16 * m:
                k[i] = m
    groups = {}
    for m in set(k[k >= 0].tolist()):
        rows = np.flatnonzero(k == m)
        buf = b"".join(bytes(vals[i])[13:] for i in rows)
        groups[m] = (rows, np.frombuffer(buf, "<f8").astype(np.float64)
                     .reshape(len(rows), m, 2))
    return k, groups


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
    """Planar area.  Single-ring polygons take the batched shoelace, one
    numpy pass per vertex count (same op order per row as
    ring_signed_area, so results are bit-identical); every other row
    takes the general per-row kernel."""
    vals = wkb.to_numpy(dtype=object)
    k, groups = _ring_groups(vals)
    out = np.empty(len(vals))
    for m, (rows, c) in groups.items():
        out[rows] = np.abs(alg.ring_signed_areas(c))
    for i in np.flatnonzero(k < 0):
        out[i] = np.nan if vals[i] is None else alg.area(from_wkb(vals[i]))
    return pd.Series(out)
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
    """Centroid.  Single-ring polygons with a finite, nonzero area take
    the batched area-weighted formula, one numpy pass per vertex count,
    with the SAME op order as algorithms.centroid (including the
    kernel's ``0.0 + cx*s`` accumulation and ``/s`` weight round-trip,
    which are not float identities), so a row's bytes do not depend on
    its Arrow batch (ADVICE r4); every other row takes the per-row
    kernel."""
    vals = wkb.to_numpy(dtype=object)
    k, groups = _ring_groups(vals)
    out = np.empty(len(vals), dtype=object)
    done = np.zeros(len(vals), dtype=bool)
    for m, (rows, c) in groups.items():
        tot = alg.ring_signed_areas(c)
        ok = np.isfinite(tot) & (tot != 0.0)
        c, tot = c[ok], tot[ok]
        s = np.abs(tot)
        x, y = c[:, :-1, 0], c[:, :-1, 1]
        x2, y2 = c[:, 1:, 0], c[:, 1:, 1]
        cross = x * y2 - x2 * y
        cx = (0.0 + np.sum((x + x2) * cross, axis=1) / (6.0 * tot) * s) / s
        cy = (0.0 + np.sum((y + y2) * cross, axis=1) / (6.0 * tot) * s) / s
        out[rows[ok]] = _points_to_wkb_rows(cx, cy)
        done[rows[ok]] = True
    for i in np.flatnonzero(~done):
        out[i] = None if vals[i] is None else to_wkb(
            alg.centroid(from_wkb(vals[i])))
    return pd.Series(out)


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


@F.pandas_udf(T.BinaryType())
def st_intersection(a: pd.Series, b: pd.Series) -> pd.Series:
    """Intersection; bytes equal to ``to_wkb(cl.intersection(...))``
    row for row.  Rows pairing a single-ring polygon with an
    axis-aligned rectangle (either order) whose envelopes meet go
    through one cl.convex_rect_intersection pass per vertex count;
    every other row, and every row that pass declines, is intersected
    pair by pair."""
    av, bv = a.to_numpy(dtype=object), b.to_numpy(dtype=object)
    out = np.empty(len(av), dtype=object)
    done = np.zeros(len(av), dtype=bool)
    (ka, ga, ea, ra), (kb, gb, eb, rb) = _ring_side(av), _ring_side(bv)
    meet = ~((ea[:, 2] < eb[:, 0]) | (eb[:, 2] < ea[:, 0])
             | (ea[:, 3] < eb[:, 1]) | (eb[:, 3] < ea[:, 1]))
    fast = (ka >= 0) & (kb >= 0) & meet & (ra != rb)
    kp = np.where(ra, kb, ka)          # vertex count of the polygon side
    for m in set(kp[fast].tolist()):
        rows = np.flatnonzero(fast & (kp == m))
        rings = np.empty((len(rows), m, 2))
        rects = np.empty((len(rows), 4))
        for groups, is_rect, box in ((ga, ra, eb), (gb, rb, ea)):
            sel = ~is_rect[rows]       # this side is the polygon
            if sel.any():
                gr, coords = groups[m]
                rings[sel] = coords[np.searchsorted(gr, rows[sel])]
                rects[sel] = box[rows[sel]]
        ring, n = cl.convex_rect_intersection(rings, rects)
        out[rows[n == 0]] = _EMPTY_POLYGON
        for L in set(n[n > 0].tolist()):
            sel = n == L
            out[rows[sel]] = _wkb_rows(
                _RING_HDR + L.to_bytes(4, "little"),
                ring[sel, :L].reshape(-1, 2 * L))
        done[rows[n >= 0]] = True
    for i in np.flatnonzero(~done):
        x, y = av[i], bv[i]
        out[i] = None if x is None or y is None else to_wkb(
            cl.intersection(from_wkb(x), from_wkb(y)))
    return pd.Series(out)


_EMPTY_POLYGON = to_wkb(Geometry(GTYPE_POLYGON, []))


def _ring_side(vals: np.ndarray) -> tuple:
    """One operand column of st_intersection: ``(k, groups, envelope
    (n, 4), is_rect (n,))`` with _ring_groups' ``k``/``groups``, and
    each single-ring polygon's envelope and rectangle test.  A
    rectangle's envelope is its cl._as_rects bounds, as the pairwise
    path hands them to the kernel."""
    k, groups = _ring_groups(vals)
    env = np.full((len(vals), 4), np.nan)
    rect = np.zeros(len(vals), dtype=bool)
    for m, (rows, c) in groups.items():
        env[rows, :2], env[rows, 2:] = c.min(1), c.max(1)
        if m == 5:
            ok, box = cl._as_rects(c)
            rect[rows] = ok
            env[rows[ok]] = box[ok]
    return k, groups, env, rect
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

"""Geometry algorithms (pure NumPy) — kernel behind the st_* functions.

Parity targets (reference GeoPipes processing pipes, see SURVEY.md §2.7):
Area.java, Length.java, Centroid.java, Distance.java, Boundary.java,
Buffer.java, ConvexHull.java, Densify.java, SimplifyWithDouglasPeucker.java,
SimplifyPreservingTopology.java, ApplyAffineTransformation.java,
InteriorPoint.java, StartPoint.java, EndPoint.java, OrthodromicDistance.java
(spherical law of cosines, R=6371 — replicated exactly).

It also holds the shared kernels that every predicate, relate matrix,
overlay, join refine and search refine decides with, one rule each:

- ``orient``: the orientation determinant, scalar or array; its sign
  (exactly 0 for collinear) is the only orientation test.
- ``_proper``: two segments cross properly iff both orientation pairs
  are strictly opposite; ``any_proper_crossing`` applies it to
  ``edges`` arrays (and, to one ring's own edges, tests self-crossing).
- ``_on_segment``: the point-on-line rule, orient == 0 inside the
  segment's closed bbox; ``_locate_on_lines`` adds the mod-2 boundary.
- ``point_in_polygon`` (scalar) and ``points_locate`` (bulk): point
  location in an area, boundary iff ``_on_segment`` holds for a ring
  edge, else ray-crossing parity, shells then holes then later parts.
  ``locate`` is the scalar location in a geometry of any dimension.
- ``points_dist_to_edges``: per-point minimum distance to the edges.
  Overlay and the join's grouped path decide boundary points by this
  distance against ``clip._SNAP`` and use ``points_in_polygon_bulk``
  (parity only) for the rest.
"""

from __future__ import annotations

import math
from collections import Counter

import numpy as np

from .core import (
    GTYPE_GEOMETRY, GTYPE_LINESTRING, GTYPE_MULTILINESTRING, GTYPE_MULTIPOINT,
    GTYPE_MULTIPOLYGON, GTYPE_POINT, GTYPE_POLYGON, Geometry,
)

EARTH_RADIUS_KM = 6371.0  # OrthodromicDistance.java: R = 6371


# ---------------------------------------------------------------- area/length
def ring_signed_area(r: np.ndarray) -> float:
    """Shoelace; positive for CCW rings."""
    if len(r) < 4:
        return 0.0
    x, y = r[:-1, 0], r[:-1, 1]
    x2, y2 = r[1:, 0], r[1:, 1]
    return 0.5 * float(np.sum(x * y2 - x2 * y))


def area(g: Geometry) -> float:
    if g.gtype == GTYPE_POLYGON:
        if not g.data:
            return 0.0
        a = abs(ring_signed_area(g.data[0]))
        for h in g.data[1:]:
            a -= abs(ring_signed_area(h))
        return a
    if g.is_multi:
        return sum(area(p) for p in g.parts())
    return 0.0


def length(g: Geometry) -> float:
    if g.gtype == GTYPE_LINESTRING:
        d = np.diff(g.data, axis=0)
        return float(np.sqrt((d * d).sum(axis=1)).sum())
    if g.gtype == GTYPE_POLYGON:
        return sum(length(Geometry(GTYPE_LINESTRING, r)) for r in g.data)
    if g.is_multi:
        return sum(length(p) for p in g.parts())
    return 0.0


def centroid(g: Geometry) -> Geometry:
    """JTS semantics: centroid of the highest-dimension components."""
    dim = g.dimension()
    if dim == 2:
        ax = ay = asum = 0.0
        for p in g.parts():
            for i, r in enumerate(p.data):
                s = ring_signed_area(r)
                s = abs(s) if i == 0 else -abs(s)
                if len(r) < 4:
                    continue
                x, y = r[:-1, 0], r[:-1, 1]
                x2, y2 = r[1:, 0], r[1:, 1]
                cross = x * y2 - x2 * y
                sign = 1.0 if s >= 0 else -1.0
                tot = ring_signed_area(r)
                if tot == 0:
                    continue
                cx = float(np.sum((x + x2) * cross)) / (6.0 * tot)
                cy = float(np.sum((y + y2) * cross)) / (6.0 * tot)
                ax += cx * s
                ay += cy * s
                asum += s
        if asum != 0:
            return Geometry.point(ax / asum, ay / asum)
        dim = 1  # degenerate polygon: fall through to length-weighted
    if dim == 1:
        wx = wy = w = 0.0
        for p in g.parts():
            arrs = p.data if p.gtype == GTYPE_POLYGON else [p.data]
            for a in arrs:
                if len(a) < 2:
                    continue
                seg = np.diff(a, axis=0)
                ln = np.sqrt((seg * seg).sum(axis=1))
                mid = (a[:-1] + a[1:]) / 2.0
                wx += float((mid[:, 0] * ln).sum())
                wy += float((mid[:, 1] * ln).sum())
                w += float(ln.sum())
        if w > 0:
            return Geometry.point(wx / w, wy / w)
        dim = 0
    c = g.all_coords()
    if len(c) == 0:
        return Geometry(GTYPE_POINT, np.array([np.nan, np.nan]))
    return Geometry.point(float(c[:, 0].mean()), float(c[:, 1].mean()))


# ------------------------------------------------------------ shared kernels
def orient(ox, oy, ax, ay, bx, by):
    """Orientation determinant of (o, a, b): > 0 when b lies left of o→a,
    < 0 right, 0 collinear.  Scalars or numpy arrays alike."""
    return (ax - ox) * (by - oy) - (ay - oy) * (bx - ox)


def _proper(d1, d2, d3, d4):
    """Proper-crossing rule on the four orientations of segments p, q
    (d1, d2: p's ends against q; d3, d4: q's ends against p): each pair
    strictly opposite.  Scalars or numpy arrays alike."""
    return ((((d1 > 0) & (d2 < 0)) | ((d1 < 0) & (d2 > 0)))
            & (((d3 > 0) & (d4 < 0)) | ((d3 < 0) & (d4 > 0))))


def _on_segment(px, py, ax, ay, bx, by) -> bool:
    """The point-on-line rule: (px, py) is on the closed segment a-b iff
    it is inside the segment's bbox and orient is exactly 0."""
    return (min(ax, bx) <= px <= max(ax, bx)
            and min(ay, by) <= py <= max(ay, by)
            and orient(ax, ay, bx, by, px, py) == 0.0)


def edges(g: Geometry) -> np.ndarray:
    """All segments of a geometry as an (E, 2, 2) array (rings + lines)."""
    segs = [np.stack([line[:-1], line[1:]], axis=1)
            for line in _as_lines(g) if len(line) >= 2]
    if not segs:
        return np.empty((0, 2, 2))
    return np.concatenate(segs, axis=0)


def any_proper_crossing(ea: np.ndarray, eb: np.ndarray) -> bool:
    """True iff any segment of ``ea`` properly (transversally) crosses
    any segment of ``eb``; O(Ea·Eb) numpy ops, chunked so the orientation
    grid stays bounded.  Segments sharing an endpoint never cross (their
    orient is exactly 0), so ``any_proper_crossing(e, e)`` is a ring's
    self-crossing test."""
    if not len(ea) or not len(eb):
        return False
    chunk = max(1, 4_000_000 // len(eb))
    q0x, q0y = eb[None, :, 0, 0], eb[None, :, 0, 1]
    q1x, q1y = eb[None, :, 1, 0], eb[None, :, 1, 1]
    for s in range(0, len(ea), chunk):
        e = ea[s:s + chunk]
        p0x, p0y = e[:, None, 0, 0], e[:, None, 0, 1]
        p1x, p1y = e[:, None, 1, 0], e[:, None, 1, 1]
        if _proper(orient(q0x, q0y, q1x, q1y, p0x, p0y),
                   orient(q0x, q0y, q1x, q1y, p1x, p1y),
                   orient(p0x, p0y, p1x, p1y, q0x, q0y),
                   orient(p0x, p0y, p1x, p1y, q1x, q1y)).any():
            return True
    return False


def points_dist_to_edges(pts: np.ndarray, g: Geometry) -> np.ndarray:
    """Per-point min distance from ``pts`` (n, 2) to every edge of ``g``
    (polygon rings and linestrings; a one-point line is its vertex); inf
    when edgeless."""
    best = np.full(len(pts), np.inf)
    for line in _as_lines(g):
        if len(line) == 1:
            proj = line[None, :, :]
        elif len(line):
            a = line[:-1]
            ab = line[1:] - a
            ll = (ab * ab).sum(1)
            ll_safe = np.where(ll == 0, 1e-300, ll)
            ap = pts[:, None, :] - a[None, :, :]
            t = np.clip((ap * ab[None, :, :]).sum(-1) / ll_safe[None, :],
                        0.0, 1.0)
            proj = a[None, :, :] + t[:, :, None] * ab[None, :, :]
        else:
            continue
        d = pts[:, None, :] - proj
        best = np.minimum(best, np.sqrt((d * d).sum(-1)).min(axis=1))
    return best


def _segments_cross(p1, p2, q1, q2) -> bool:
    """Closed segments p1-p2 and q1-q2 share a point (cross or touch)."""
    d1 = orient(q1[0], q1[1], q2[0], q2[1], p1[0], p1[1])
    d2 = orient(q1[0], q1[1], q2[0], q2[1], p2[0], p2[1])
    d3 = orient(p1[0], p1[1], p2[0], p2[1], q1[0], q1[1])
    d4 = orient(p1[0], p1[1], p2[0], p2[1], q2[0], q2[1])
    return bool(
        _proper(d1, d2, d3, d4)
        or (d1 == 0 and _on_segment(p1[0], p1[1], q1[0], q1[1], q2[0], q2[1]))
        or (d2 == 0 and _on_segment(p2[0], p2[1], q1[0], q1[1], q2[0], q2[1]))
        or (d3 == 0 and _on_segment(q1[0], q1[1], p1[0], p1[1], p2[0], p2[1]))
        or (d4 == 0 and _on_segment(q2[0], q2[1], p1[0], p1[1], p2[0], p2[1])))


def _any_edge_intersection(l1: np.ndarray, l2: np.ndarray) -> bool:
    # bbox prefilter per segment pair, then exact orientation test
    for i in range(len(l1) - 1):
        p1, p2 = l1[i], l1[i + 1]
        lo = np.minimum(p1, p2)
        hi = np.maximum(p1, p2)
        for j in range(len(l2) - 1):
            q1, q2 = l2[j], l2[j + 1]
            if (
                max(q1[0], q2[0]) < lo[0] or min(q1[0], q2[0]) > hi[0]
                or max(q1[1], q2[1]) < lo[1] or min(q1[1], q2[1]) > hi[1]
            ):
                continue
            if _segments_cross(p1, p2, q1, q2):
                return True
    return False


# ----------------------------------------------------------- point location
def point_in_ring(px: float, py: float, ring: np.ndarray) -> int:
    """2=interior, 1=boundary, 0=exterior (ray casting, boundary-exact)."""
    inside = False
    n = len(ring)
    for i in range(n - 1):
        ax, ay = ring[i]
        bx, by = ring[i + 1]
        if _on_segment(px, py, ax, ay, bx, by):
            return 1
        if (ay > py) != (by > py):
            xint = (bx - ax) * (py - ay) / (by - ay) + ax
            if px < xint:
                inside = not inside
    return 2 if inside else 0


def point_in_polygon(px: float, py: float, poly: Geometry) -> int:
    """2=interior, 1=boundary, 0=exterior; honors holes and multi parts."""
    for part in poly.parts():
        rings = part.data
        if not rings:
            continue
        loc = point_in_ring(px, py, rings[0])
        if loc == 1:
            return 1
        if loc == 2:
            inside = True
            for h in rings[1:]:
                hl = point_in_ring(px, py, h)
                if hl == 1:
                    return 1
                if hl == 2:
                    inside = False
                    break
            if inside:
                return 2
    return 0


def _ring_sweep(x: np.ndarray, y: np.ndarray, ring: np.ndarray,
                on: np.ndarray | None = None) -> np.ndarray:
    """point_in_ring over arrays: the ray-crossing parity of each point,
    and, when ``on`` is given, ``_on_segment`` (elementwise) ORed into
    ``on``."""
    inside = np.zeros(len(x), dtype=bool)
    ax, ay = ring[:-1, 0], ring[:-1, 1]
    bx, by = ring[1:, 0], ring[1:, 1]
    with np.errstate(divide="ignore", invalid="ignore", over="ignore"):
        for i in range(len(ring) - 1):
            a0, a1, b0, b1 = ax[i], ay[i], bx[i], by[i]
            if on is not None:
                box = ((min(a0, b0) <= x) & (x <= max(a0, b0))
                       & (min(a1, b1) <= y) & (y <= max(a1, b1)))
                if box.any():
                    on |= box & (orient(a0, a1, b0, b1, x, y) == 0.0)
            cond = (a1 > y) != (b1 > y)
            if not cond.any():
                continue
            xint = (b0 - a0) * (y - a1) / (b1 - a1) + a0
            inside ^= cond & (x < xint)
    return inside


def points_in_ring_bulk(pts: np.ndarray, ring: np.ndarray) -> np.ndarray:
    """Vectorized ray-cast parity: 'strictly inside or on boundary-ish'.

    Boundary points may classify either way; callers that need the
    boundary decide it first (by distance) or use points_locate."""
    return _ring_sweep(pts[:, 0], pts[:, 1], ring)


def points_in_polygon_bulk(pts: np.ndarray, poly: Geometry) -> np.ndarray:
    res = np.zeros(len(pts), dtype=bool)
    for part in poly.parts():
        rings = part.data
        if not rings:
            continue
        r = points_in_ring_bulk(pts, rings[0])
        for h in rings[1:]:
            r &= ~points_in_ring_bulk(pts, h)
        res |= r
    return res


def _ring_locate(x: np.ndarray, y: np.ndarray, ring: np.ndarray) -> np.ndarray:
    on = np.zeros(len(x), dtype=bool)
    inside = _ring_sweep(x, y, ring, on)
    return np.where(on, 1, np.where(inside, 2, 0)).astype(np.int8)


def points_locate(pts: np.ndarray, poly: Geometry) -> np.ndarray:
    """point_in_polygon over (n, 2) points: int8 0 exterior, 1 boundary,
    2 interior, by the same boundary rule, ray parity and shell/hole/part
    order (the first part that answers 1 or 2 decides; NaN is
    exterior)."""
    x, y = pts[:, 0], pts[:, 1]
    out = np.zeros(len(pts), dtype=np.int8)
    open_ = np.ones(len(pts), dtype=bool)
    for part in poly.parts():
        rings = part.data
        if not rings:
            continue
        loc = _ring_locate(x, y, rings[0])
        pending = loc == 2
        for h in rings[1:]:
            if not pending.any():
                break
            hl = _ring_locate(x, y, h)
            loc[pending & (hl == 1)] = 1
            loc[pending & (hl == 2)] = 0
            pending &= hl == 0
        hit = open_ & (loc > 0)
        out[hit] = loc[hit]
        open_ &= ~hit
    return out


def _line_boundary_points(g: Geometry) -> set[tuple[float, float]]:
    """Mod-2 boundary: endpoints that occur an odd number of times across
    parts (a closed ring contributes its endpoint twice -> not boundary)."""
    c: Counter = Counter()
    for part in g.parts():
        if part.gtype != GTYPE_LINESTRING or len(part.data) == 0:
            continue
        c[(float(part.data[0][0]), float(part.data[0][1]))] += 1
        c[(float(part.data[-1][0]), float(part.data[-1][1]))] += 1
    return {p for p, n in c.items() if n % 2 == 1}


def _locate_on_lines(px, py, lines, boundary_pts) -> int:
    """0 exterior / 1 boundary / 2 interior of a 1-dim geometry."""
    for line in lines:
        for i in range(len(line) - 1):
            if _on_segment(px, py, line[i][0], line[i][1],
                           line[i + 1][0], line[i + 1][1]):
                return 1 if (px, py) in boundary_pts else 2
    return 0


def locate(px: float, py: float, g: Geometry) -> int:
    """0 exterior / 1 boundary / 2 interior of (px, py) in ``g`` of any
    dimension: point_in_polygon for areas, the on-segment rule with the
    mod-2 boundary for lines, coordinate equality for points."""
    dim = g.dimension()
    if dim == 2:
        return point_in_polygon(px, py, _poly_view(g))
    if dim == 1:
        return _locate_on_lines(px, py, _as_lines(g), _line_boundary_points(g))
    return 2 if any(p.data[0] == px and p.data[1] == py
                    for p in g.parts()) else 0


def distance(g1: Geometry, g2: Geometry) -> float:
    """Planar min distance (Distance.java:30-52 / JTS DistanceOp)."""
    # containment → 0
    for a, b in ((g1, g2), (g2, g1)):
        if a.dimension() == 2:
            c = b.all_coords()
            if len(c) and points_in_polygon_bulk(c, a).any():
                return 0.0
            for p in b.parts():
                if p.gtype == GTYPE_POINT:
                    if point_in_polygon(p.data[0], p.data[1], a):
                        return 0.0
    lines1 = _as_lines(g1)
    lines2 = _as_lines(g2)
    pts1 = g1.all_coords()
    pts2 = g2.all_coords()
    if lines1 and lines2:
        for l1 in lines1:
            for l2 in lines2:
                if _any_edge_intersection(l1, l2):
                    return 0.0
    best = math.inf
    for pts, lines in ((pts1, lines2), (pts2, lines1)):
        if len(pts):
            for line in lines:
                best = min(best, float(points_dist_to_edges(
                    pts, Geometry(GTYPE_LINESTRING, line)).min()))
    if not lines1 and not lines2:
        d = pts1[:, None, :] - pts2[None, :, :]
        best = float(np.sqrt((d * d).sum(-1)).min())
    return best


def _as_lines(g: Geometry) -> list:
    """Decompose into polylines (polygon rings / linestrings)."""
    out = []
    for p in g.parts():
        if p.gtype == GTYPE_LINESTRING:
            out.append(p.data)
        elif p.gtype == GTYPE_POLYGON:
            out.extend(p.data)
    return out


def nearest_point_on(g: Geometry, px: float, py: float):
    """Nearest point of g to (px,py) — DistanceOp.nearestPoints analogue,
    used by the non-point path of OrthodromicDistance (reference :37-72)."""
    if g.gtype == GTYPE_POINT:
        return float(g.data[0]), float(g.data[1])
    if g.dimension() == 2 and point_in_polygon(px, py, g):
        return px, py
    best = (math.inf, px, py)
    lines = _as_lines(g)
    if not lines:
        for c in g.all_coords():
            d = math.hypot(px - c[0], py - c[1])
            if d < best[0]:
                best = (d, float(c[0]), float(c[1]))
        return best[1], best[2]
    for line in lines:
        for i in range(len(line) - 1):
            ax, ay = line[i]
            bx, by = line[i + 1]
            dx, dy = bx - ax, by - ay
            ll = dx * dx + dy * dy
            t = 0.0 if ll == 0 else max(0.0, min(1.0, ((px - ax) * dx + (py - ay) * dy) / ll))
            qx, qy = ax + t * dx, ay + t * dy
            d = math.hypot(px - qx, py - qy)
            if d < best[0]:
                best = (d, qx, qy)
    return best[1], best[2]


def line_locate_point(line: Geometry, px: float, py: float) -> float:
    """Fraction [0,1] along the linestring of the point's projection —
    linear referencing (the reference's LRS/closest-edge capability,
    TestSpatialQueries.java / SpatialTopologyUtils)."""
    a = line.coords
    if len(a) < 2:
        return 0.0
    seg = np.diff(a, axis=0)
    seg_len = np.sqrt((seg * seg).sum(1))
    total = seg_len.sum()
    if total == 0:
        return 0.0
    best = (math.inf, 0.0)
    acc = 0.0
    for i in range(len(a) - 1):
        ax, ay = a[i]
        dx, dy = seg[i]
        ll = dx * dx + dy * dy
        t = 0.0 if ll == 0 else max(0.0, min(1.0, ((px - ax) * dx + (py - ay) * dy) / ll))
        qx, qy = ax + t * dx, ay + t * dy
        d = math.hypot(px - qx, py - qy)
        if d < best[0]:
            best = (d, acc + t * seg_len[i])
        acc += seg_len[i]
    return best[1] / total


def line_interpolate_point(line: Geometry, fraction: float) -> Geometry:
    """Point at `fraction` [0,1] of the linestring's length (LRS)."""
    a = line.coords
    if len(a) == 0:
        return Geometry(GTYPE_POINT, np.array([np.nan, np.nan]))
    if len(a) == 1:
        return Geometry(GTYPE_POINT, a[0].copy())
    fraction = max(0.0, min(1.0, fraction))
    seg = np.diff(a, axis=0)
    seg_len = np.sqrt((seg * seg).sum(1))
    total = seg_len.sum()
    if total == 0:
        return Geometry(GTYPE_POINT, a[0].copy())
    target = fraction * total
    acc = 0.0
    for i in range(len(a) - 1):
        if acc + seg_len[i] >= target or i == len(a) - 2:
            t = 0.0 if seg_len[i] == 0 else (target - acc) / seg_len[i]
            return Geometry(GTYPE_POINT, a[i] + np.clip(t, 0, 1) * seg[i])
        acc += seg_len[i]
    return Geometry(GTYPE_POINT, a[-1].copy())


# ------------------------------------------------------- orthodromic (sphere)
def orthodromic_distance_km(lon1, lat1, lon2, lat2) -> float:
    """Spherical law of cosines with R=6371 — exact replication of
    OrthodromicDistance.calculateDistance (reference :90-97)."""
    la1, la2 = math.radians(lat1), math.radians(lat2)
    dlon = math.radians(lon2 - lon1)
    v = math.sin(la1) * math.sin(la2) + math.cos(la1) * math.cos(la2) * math.cos(dlon)
    v = max(-1.0, min(1.0, v))
    return math.acos(v) * EARTH_RADIUS_KM


def orthodromic_length_km(g: Geometry) -> float:
    """Geodetic length: sum of great-circle segment lengths
    (OrthodromicLength.java:34-75 — GeoTools GeodeticCalculator replaced by
    spherical segments; tolerance-tested)."""
    tot = 0.0
    for line in _as_lines(g):
        for i in range(len(line) - 1):
            tot += orthodromic_distance_km(line[i][0], line[i][1],
                                           line[i + 1][0], line[i + 1][1])
    return tot


# ---------------------------------------------------------------- hull et al.
def convex_hull(g: Geometry) -> Geometry:
    pts = np.unique(g.all_coords(), axis=0)
    if len(pts) == 0:
        return Geometry(GTYPE_GEOMETRY, [])
    if len(pts) == 1:
        return Geometry(GTYPE_POINT, pts[0])
    if len(pts) == 2:
        return Geometry(GTYPE_LINESTRING, pts)
    pts = pts[np.lexsort((pts[:, 1], pts[:, 0]))]

    def half(points):
        out = []
        for p in points:
            while len(out) >= 2 and orient(*out[-2], *out[-1], *p) <= 0:
                out.pop()
            out.append(p)
        return out

    lower = half(pts)
    upper = half(pts[::-1])
    hull = np.array(lower[:-1] + upper[:-1])
    if len(hull) < 3:
        return Geometry(GTYPE_LINESTRING, np.unique(hull, axis=0))
    return Geometry.polygon(hull)


def simplify_dp(g: Geometry, tol: float, preserve_topology: bool = False) -> Geometry:
    def dp(a: np.ndarray) -> np.ndarray:
        if len(a) < 3:
            return a
        keep = np.zeros(len(a), dtype=bool)
        keep[0] = keep[-1] = True
        stack = [(0, len(a) - 1)]
        while stack:
            i, j = stack.pop()
            if j <= i + 1:
                continue
            seg = a[j] - a[i]
            ll = float((seg * seg).sum())
            mid = a[i + 1:j]
            if ll == 0:
                rel = mid - a[i]
                d = np.sqrt((rel * rel).sum(1))
            else:
                d = np.abs(orient(a[i, 0], a[i, 1], mid[:, 0], mid[:, 1],
                                  a[j, 0], a[j, 1])) / math.sqrt(ll)
            k = int(np.argmax(d))
            if d[k] > tol:
                keep[i + 1 + k] = True
                stack.append((i, i + 1 + k))
                stack.append((i + 1 + k, j))
        return a[keep]

    def simp(p: Geometry) -> Geometry:
        if p.gtype == GTYPE_LINESTRING:
            return Geometry(GTYPE_LINESTRING, dp(p.data))
        if p.gtype == GTYPE_POLYGON:
            rings = []
            for r in p.data:
                s = dp(r)
                if preserve_topology and len(s) < 4:
                    s = r  # keep original ring rather than collapse
                if len(s) >= 4:
                    rings.append(s)
            return Geometry(GTYPE_POLYGON, rings)
        if p.is_multi:
            return Geometry(p.gtype, [simp(q) for q in p.parts()])
        return p

    return simp(g)


def densify(g: Geometry, max_len: float) -> Geometry:
    """JTS Densifier semantics: split segments into equal parts so each
    piece <= max_len (Densify.java:31-57)."""

    def dens(a: np.ndarray) -> np.ndarray:
        if len(a) < 2:
            return a
        out = [a[0]]
        for i in range(len(a) - 1):
            seg = a[i + 1] - a[i]
            d = math.hypot(seg[0], seg[1])
            n = max(1, math.ceil(d / max_len))
            for k in range(1, n + 1):
                out.append(a[i] + seg * (k / n))
        return np.array(out)

    def apply(p: Geometry) -> Geometry:
        if p.gtype == GTYPE_LINESTRING:
            return Geometry(GTYPE_LINESTRING, dens(p.data))
        if p.gtype == GTYPE_POLYGON:
            return Geometry(GTYPE_POLYGON, [dens(r) for r in p.data])
        if p.is_multi:
            return Geometry(p.gtype, [apply(q) for q in p.parts()])
        return p

    return apply(g)


def affine_transform(g: Geometry, m: list) -> Geometry:
    """m = [a, b, d, e, xoff, yoff]: x' = a*x + b*y + xoff ; y' = d*x + e*y + yoff
    (shapely.affinity convention; ApplyAffineTransformation.java:30-56)."""
    a, b, d, e, xoff, yoff = m
    mat = np.array([[a, b], [d, e]])
    off = np.array([xoff, yoff])

    def apply(p: Geometry) -> Geometry:
        if p.gtype == GTYPE_POINT:
            return Geometry(GTYPE_POINT, p.data @ mat.T + off)
        if p.gtype == GTYPE_LINESTRING:
            return Geometry(GTYPE_LINESTRING, p.data @ mat.T + off)
        if p.gtype == GTYPE_POLYGON:
            return Geometry(GTYPE_POLYGON, [r @ mat.T + off for r in p.data])
        return Geometry(p.gtype, [apply(q) for q in p.parts()])

    return apply(g)


def boundary(g: Geometry) -> Geometry:
    if g.gtype == GTYPE_POLYGON:
        rings = [Geometry(GTYPE_LINESTRING, r) for r in g.data]
        return rings[0] if len(rings) == 1 else Geometry(GTYPE_MULTILINESTRING, rings)
    if g.gtype == GTYPE_LINESTRING:
        if len(g.data) == 0 or (g.data[0] == g.data[-1]).all():
            return Geometry(GTYPE_MULTIPOINT, [])
        return Geometry(GTYPE_MULTIPOINT,
                        [Geometry(GTYPE_POINT, g.data[0]), Geometry(GTYPE_POINT, g.data[-1])])
    if g.gtype == GTYPE_POINT:
        return Geometry(GTYPE_GEOMETRY, [])
    parts = [boundary(p) for p in g.parts()]
    flat = []
    for p in parts:
        flat.extend(p.parts() if p.is_multi else [p])
    return Geometry.multi(flat) if flat else Geometry(GTYPE_GEOMETRY, [])


def envelope_geom(g: Geometry) -> Geometry:
    xmin, ymin, xmax, ymax = g.envelope()
    if math.isnan(xmin):
        return Geometry(GTYPE_GEOMETRY, [])
    if xmin == xmax and ymin == ymax:
        return Geometry.point(xmin, ymin)
    if xmin == xmax or ymin == ymax:
        return Geometry.linestring([(xmin, ymin), (xmax, ymax)])
    return Geometry.box(xmin, ymin, xmax, ymax)


def interior_point(g: Geometry) -> Geometry:
    """A point guaranteed on/in the geometry (JTS InteriorPoint approximation:
    we return centroid if it lies inside, else a vertex/midpoint fallback)."""
    if g.is_empty():
        return Geometry(GTYPE_POINT, np.array([np.nan, np.nan]))
    dim = g.dimension()
    c = centroid(g)
    if dim == 2:
        if point_in_polygon(float(c.data[0]), float(c.data[1]), _poly_view(g)):
            return c
        # scanline through centroid y: take midpoint of a crossing span
        y = float(c.data[1])
        xs = []
        for part in _poly_view(g).parts():
            for r in part.data:
                ax, ay = r[:-1, 0], r[:-1, 1]
                bx, by = r[1:, 0], r[1:, 1]
                for i in range(len(ax)):
                    if (ay[i] > y) != (by[i] > y):
                        xs.append((bx[i] - ax[i]) * (y - ay[i]) / (by[i] - ay[i]) + ax[i])
        xs.sort()
        if len(xs) >= 2:
            return Geometry.point((xs[0] + xs[1]) / 2.0, y)
        return Geometry(GTYPE_POINT, g.all_coords()[0])
    if dim == 1:
        lines = _as_lines(g)
        mid = lines[0][len(lines[0]) // 2]
        return Geometry(GTYPE_POINT, np.array(mid, dtype=np.float64))
    return Geometry(GTYPE_POINT, g.all_coords()[0])


def _poly_view(g: Geometry) -> Geometry:
    polys = [p for p in g.parts() if p.gtype == GTYPE_POLYGON]
    return polys[0] if len(polys) == 1 else Geometry(GTYPE_MULTIPOLYGON, polys)


def start_point(g: Geometry):
    if g.gtype == GTYPE_LINESTRING and len(g.data):
        return Geometry(GTYPE_POINT, g.data[0])
    return None


def end_point(g: Geometry):
    if g.gtype == GTYPE_LINESTRING and len(g.data):
        return Geometry(GTYPE_POINT, g.data[-1])
    return None


def segment_capsule(a, b, dist: float, quad_segs: int = 8) -> Geometry:
    """Round-join capsule of segment a-b: offset rectangle + two k-chord
    semicircular fans (k = 2·quad_segs, matching the 4·quad_segs disc).

    The construction is JTS's offset-curve for a single segment; its area
    is closed-form: 2·d·L + k·d²·sin(π/k)  (L=0 degenerates to the disc,
    same formula) — which makes buffered segments ORACLE-EXPRESSIBLE."""
    a = np.asarray(a, dtype=np.float64)
    b = np.asarray(b, dtype=np.float64)
    k = 2 * quad_segs
    dxy = b - a
    ll = math.hypot(dxy[0], dxy[1])
    if ll == 0.0:
        ang = np.linspace(0, 2 * math.pi, 4 * quad_segs, endpoint=False)
        return Geometry.polygon(a + np.column_stack([np.cos(ang), np.sin(ang)]) * dist)
    t = dxy / ll
    phi0 = math.atan2(t[0], -t[1])  # angle of the left normal (-ty, tx)
    j = np.arange(k + 1)
    arc_b = b + dist * np.column_stack([np.cos(phi0 - j * math.pi / k),
                                        np.sin(phi0 - j * math.pi / k)])
    arc_a = a + dist * np.column_stack([np.cos(phi0 - math.pi - j * math.pi / k),
                                        np.sin(phi0 - math.pi - j * math.pi / k)])
    return Geometry.polygon(np.vstack([arc_b, arc_a]))


def buffer_geom(g: Geometry, dist: float, quad_segs: int = 8) -> Geometry:
    """Buffer (Buffer.java:29-54), positive AND negative distances.

    Point/multipoint: n-gon discs (JTS quadrantSegments=8 → 32-gon).
    Lines: union of per-segment round-join capsules (segment_capsule) —
    exactly JTS's buffer decomposition, with the same arc discretization.
    Polygons: union of the polygon with its ring capsules (outward growth
    on shells, inward shrink of holes both emerge from the union).
    Negative distance erodes a polygon: the set of interior points at
    least |dist| from the boundary, computed as polygon MINUS the union
    of its ring capsules (JTS buffer(-d) parity; a 0/1-dim geometry's
    negative buffer is empty, as in JTS)."""
    if dist < 0:
        if g.dimension() != 2:
            return Geometry(GTYPE_POLYGON, [])
        from .clip import difference, union_many
        caps = []
        for line in _as_lines(g):
            for i in range(len(line) - 1):
                caps.append(segment_capsule(line[i], line[i + 1],
                                            -dist, quad_segs))
        shrink = union_many(caps)
        if shrink.is_empty():
            return _poly_view(g)
        return difference(_poly_view(g), shrink)
    if dist == 0:
        return g
    ang = np.linspace(0, 2 * math.pi, 4 * quad_segs, endpoint=False)
    disc = np.column_stack([np.cos(ang), np.sin(ang)]) * dist

    def pt_buf(p) -> Geometry:
        return Geometry.polygon(p + disc)

    if g.gtype == GTYPE_POINT:
        return pt_buf(g.data)
    if g.gtype == GTYPE_MULTIPOINT:
        from .clip import union_many
        return union_many([pt_buf(p.data) for p in g.parts()])
    caps = []
    for line in _as_lines(g):
        for i in range(len(line) - 1):
            caps.append(segment_capsule(line[i], line[i + 1], dist, quad_segs))
    if g.dimension() == 2:
        caps.extend(p for p in g.parts())
    from .clip import union_many
    return union_many(caps)

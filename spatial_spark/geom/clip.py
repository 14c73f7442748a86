"""Polygon boolean operations (union/intersection/difference/symdifference).

Parity targets: Union.java:30-62, Intersection.java:30-51, Difference.java:30-52,
SymDifference.java:30-51, UnionAll.java:30-43, IntersectAll.java:30-42.

Implementation: classic edge-fragmentation overlay —
1. split each polygon's edges at intersections with the other's edges,
2. classify each fragment by its midpoint (inside/outside/boundary of the
   other polygon),
3. select fragments per op, 4. stitch fragments into rings.

Robust for simple, non-degenerate inputs (the conformance fixtures); shared
collinear edges are handled heuristically.  Lines can be clipped by polygons
(``clip_line``); difference/symdifference accept any dimension pair
(line−polygon, line−line, point−any).  Not a full JTS overlay — documented
engine limitation.

Closed forms skip the overlay for the dominant window/tile shapes:
rect∩rect, rect∪rect, rect−rect, and convex polygon ∩ rectangle — four
exact Sutherland–Hodgman cuts in ``convex_rect_intersection``, a kernel
over a batch of pairs that holds the convex∩rect decline rules and is
reached with one row by ``intersection`` and with every such row of an
Arrow batch by ``st_intersection``.
"""

from __future__ import annotations

import math

import numpy as np

from .core import (
    GTYPE_GEOMETRY, GTYPE_LINESTRING, GTYPE_MULTILINESTRING, GTYPE_MULTIPOINT,
    GTYPE_MULTIPOLYGON, GTYPE_POINT, GTYPE_POLYGON, Geometry, envelopes_intersect,
)
from .algorithms import (
    affine_transform, dist_to_segments, point_in_polygon, point_in_ring,
    points_dist_to_edges, points_in_polygon_bulk, ring_signed_area,
    ring_signed_areas,
)

_SNAP = 1e-9


def _key(p):
    return (round(p[0] / _SNAP) * _SNAP, round(p[1] / _SNAP) * _SNAP)


def _normalize(poly: Geometry) -> Geometry:
    """Shells CCW, holes CW."""
    out = []
    for part in poly.parts():
        rings = []
        for i, r in enumerate(part.data):
            s = ring_signed_area(r)
            want_ccw = i == 0
            if (s < 0 and want_ccw) or (s > 0 and not want_ccw):
                r = r[::-1].copy()
            rings.append(r)
        out.append(Geometry(GTYPE_POLYGON, rings))
    return out[0] if len(out) == 1 else Geometry(GTYPE_MULTIPOLYGON, out)


def _seg_intersections(a0, a1, b0, b1):
    """Parametric intersection(s) of segment a with segment b → list of t in (0,1)."""
    r = a1 - a0
    s = b1 - b0
    denom = r[0] * s[1] - r[1] * s[0]
    qp = b0 - a0
    if denom == 0:
        # collinear overlap: project b's endpoints on a
        if qp[0] * r[1] - qp[1] * r[0] != 0:
            return []
        rr = r[0] * r[0] + r[1] * r[1]
        if rr == 0:
            return []
        t0 = (qp[0] * r[0] + qp[1] * r[1]) / rr
        t1 = ((b1 - a0)[0] * r[0] + (b1 - a0)[1] * r[1]) / rr
        return [t for t in (t0, t1) if 1e-12 < t < 1 - 1e-12]
    t = (qp[0] * s[1] - qp[1] * s[0]) / denom
    u = (qp[0] * r[1] - qp[1] * r[0]) / denom
    if -1e-12 <= u <= 1 + 1e-12 and 1e-12 < t < 1 - 1e-12:
        return [t]
    return []


def _fragment_rings(rings_a, rings_b):
    """Split every edge of rings_a at crossings with rings_b edges.
    Returns list of fragments, each an (n,2) array (usually 2 points)."""
    b_edges = []
    for rb in rings_b:
        for j in range(len(rb) - 1):
            b_edges.append((rb[j], rb[j + 1]))
    frags = []
    for ra in rings_a:
        for i in range(len(ra) - 1):
            a0, a1 = ra[i], ra[i + 1]
            lo = np.minimum(a0, a1)
            hi = np.maximum(a0, a1)
            ts = [0.0, 1.0]
            for b0, b1 in b_edges:
                if (
                    max(b0[0], b1[0]) < lo[0] - _SNAP or min(b0[0], b1[0]) > hi[0] + _SNAP
                    or max(b0[1], b1[1]) < lo[1] - _SNAP or min(b0[1], b1[1]) > hi[1] + _SNAP
                ):
                    continue
                ts.extend(_seg_intersections(a0, a1, b0, b1))
            ts = sorted(set(ts))

            def at(t):
                # exact endpoints at t∈{0,1}: a0+(a1-a0)*1.0 is NOT a1 in
                # float, and a vertex sitting on a key-grid half-boundary
                # then rounds to a different key than its own ring start —
                # an unclosable union ring (hole-case fuzz find)
                if t == 0.0:
                    return a0
                if t == 1.0:
                    return a1
                return a0 + (a1 - a0) * t

            for k in range(len(ts) - 1):
                p = at(ts[k])
                q = at(ts[k + 1])
                if _key(p) != _key(q):
                    frags.append(np.array([p, q]))
    return frags


def _split_fragments_at(frags, node_pts):
    """Split fragments at foreign node points lying within ``_SNAP`` of
    their interior (the node coordinate itself is inserted, so endpoint
    keys match exactly across the two sides).

    Mutual noding can fragment the SAME geometric edge differently on
    each side: a near-vertex crossing of two OTHER edges drops a node X'
    onto B's copy of a shared edge but not onto A's (X' is merely within
    float fuzz of A's edge, not a computed intersection of it).  The
    directed shared-fragment matching in ``_overlay`` then sees no
    counterpart, mis-keeps the unsplit copy, and the stitch closes a
    phantom sliver ring instead of the real boundary (found by the
    2500-example area-conservation fuzz).  Reconciling both sides against
    the union of node points restores the fragment bijection."""
    if not len(node_pts):
        return frags
    pts = np.asarray(node_pts, dtype=np.float64)
    out = []
    tol2 = _SNAP * _SNAP
    for f in frags:
        a0, a1 = f[0], f[-1]
        d = a1 - a0
        denom = float(d @ d)
        if denom <= 0.0:
            out.append(f)
            continue
        t = ((pts - a0) @ d) / denom
        proj = a0[None, :] + t[:, None] * d[None, :]
        dist2 = ((pts - proj) ** 2).sum(1)
        # within the open segment, with endpoint exclusion in DISTANCE
        # space (on a long edge a node a few nm inside the endpoint has
        # t ~ 1e-12, so a parameter-space epsilon would reject it)
        hit = np.nonzero((dist2 <= tol2) & (t > 0.0) & (t < 1.0)
                         & (t * t * denom > tol2)
                         & ((1.0 - t) * (1.0 - t) * denom > tol2))[0]
        if len(hit) == 0:
            out.append(f)
            continue
        seq = [a0]
        k0, k1 = _key(a0), _key(a1)
        seen = {k0, k1}
        for i in hit[np.argsort(t[hit])]:
            k = _key(pts[i])
            if k not in seen:
                seen.add(k)
                seq.append(pts[i])
        seq.append(a1)
        for p, q in zip(seq, seq[1:]):
            if _key(p) != _key(q):
                out.append(np.array([p, q]))
    return out


def _canonicalize_endpoints(fa, fb) -> tuple:
    """Unify near-coincident fragment endpoints ACROSS both sides onto one
    representative coordinate.

    Mutual noding computes the same intersection point twice — once
    parameterized on A's edge, once on B's — and the two floats can differ
    by a few ulps while STRADDLING a ``_key`` grid boundary (judge repro:
    y=-500.5000024975 vs ...749996 round to adjacent 1e-9 cells), leaving
    two unconnectable stitch nodes.  Grid rounding alone cannot repair
    straddle; cluster each endpoint against canonical points in its own
    and the 8 adjacent key cells instead.  Merging at <=2*_SNAP is
    consistent with the kernel's resolution model (fragments whose
    endpoints share a key are already dropped as degenerate)."""
    canon = {}
    lim = (2.0 * _SNAP) ** 2

    def canonical(p):
        px, py = float(p[0]), float(p[1])
        # probe neighbor cells in INTEGER index space: offsetting the
        # coordinate by +-_SNAP skips a cell when the point sits exactly
        # on a x.5 boundary (half-even rounding jumps -497.5+1 -> -496),
        # which is precisely the straddle case this exists to repair
        ix, iy = round(px / _SNAP), round(py / _SNAP)
        k = (ix * _SNAP, iy * _SNAP)
        got = canon.get(k)
        if got is not None:
            return got
        for jx in (ix - 1, ix, ix + 1):
            for jy in (iy - 1, iy, iy + 1):
                if jx == ix and jy == iy:
                    continue
                q = canon.get((jx * _SNAP, jy * _SNAP))
                if q is not None and (px - q[0]) ** 2 + (py - q[1]) ** 2 <= lim:
                    canon[k] = q
                    return q
        canon[k] = p
        return p

    out = []
    for frags in (fa, fb):
        new = []
        for f in frags:
            p = canonical(f[0])
            q = canonical(f[-1])
            if _key(p) == _key(q):
                continue  # collapsed by unification: neighbors now meet here
            if p is not f[0] or q is not f[-1]:
                f = f.copy()
                f[0] = p
                f[-1] = q
            new.append(f)
        out.append(new)
    return out[0], out[1]


def _classify(frag, poly: Geometry) -> int:
    """0=outside, 1=boundary, 2=inside — by fragment midpoint.

    Boundary is decided by DISTANCE (≤ _SNAP) rather than an exact
    zero-cross test: coincident edges that arrive via different float
    arithmetic (e.g. two arcs sampled around the same center from
    different phase grids) differ in the last ulps, and an exact test
    classifies them inconsistently — the snap-tolerance makes every
    near-coincident fragment agree on 'boundary'.  The parity test only
    runs for midpoints safely off the boundary, where it is stable."""
    mid = (frag[0] + frag[-1]) / 2.0
    if points_dist_to_edges(mid[None, :], poly)[0] <= _SNAP:
        return 1
    return point_in_polygon(float(mid[0]), float(mid[1]), poly)


def _classify_all(frags, poly: Geometry) -> list:
    """Vectorized _classify for a fragment list (one distance sweep + one
    ray-cast sweep over all midpoints instead of per-fragment Python)."""
    if not frags:
        return []
    mids = np.array([(f[0] + f[-1]) / 2.0 for f in frags])
    on_bnd = points_dist_to_edges(mids, poly) <= _SNAP
    inside = points_in_polygon_bulk(mids, poly)
    return [1 if on_bnd[i] else (2 if inside[i] else 0)
            for i in range(len(frags))]


def _stitch_ex(frags) -> tuple:
    """Connect directed fragments endpoint-to-start into closed rings.

    Returns ``(rings, complete)`` where ``complete`` is False when any
    selected fragment chain failed to close — the signal that the noding
    was inconsistent (near-parallel crossings put the same intersection
    point at two different float locations) and the snapped retry in
    ``_overlay`` should run."""
    from collections import defaultdict

    complete = True
    by_start = defaultdict(list)
    for idx, f in enumerate(frags):
        by_start[_key(f[0])].append(idx)
    used = [False] * len(frags)
    rings = []
    for i in range(len(frags)):
        if used[i]:
            continue
        path = [frags[i]]
        used[i] = True
        start_key = _key(frags[i][0])
        cur = _key(frags[i][-1])
        guard = 0
        while cur != start_key and guard < len(frags) + 1:
            guard += 1
            nxt = None
            for j in by_start.get(cur, ()):
                if not used[j]:
                    nxt = j
                    break
            if nxt is None:
                break
            used[nxt] = True
            path.append(frags[nxt])
            cur = _key(frags[nxt][-1])
        if cur != start_key:
            complete = False
        if cur == start_key:
            pts = [path[0][0]]
            for f in path:
                pts.extend(f[1:])
            # decimal-snap interpolated vertices (poor-man's snap rounding:
            # pulls a0+(a1-a0)*t artifacts like 1.5000000000000002 back onto
            # clean coordinates; error bound 5e-10 per ordinate)
            ring = np.round(np.array(pts), 9)
            if _key(ring[0]) != _key(ring[-1]):
                ring = np.vstack([ring, ring[:1]])
            ring[-1] = ring[0]
            if abs(ring_signed_area(ring)) > _SNAP:
                rings.append(ring)
    return rings, complete


def _assemble(rings) -> Geometry:
    """Nest rings into polygons-with-holes by containment + orientation."""
    return _assemble_checked(rings)[0]


def _assemble_checked(rings) -> tuple:
    """``(geometry, sound)``: nest rings into polygons-with-holes.

    ``sound`` is False when the ring set is GEOMETRICALLY IMPOSSIBLE
    for a valid overlay result — a CW (hole) ring contained in no
    shell, or a shell nested inside another shell (a double-covered
    region).  Both arise from phantom rings closed across the zigzag
    noding of near-coincident operands (the r10 degenerate campaign:
    intersection came back larger than its inputs, union held a
    detached 'hole' hugging the boundary from outside).  The overlay
    driver escalates the snap ladder on ``not sound`` exactly like an
    unclosed stitch."""
    if not rings:
        return Geometry(GTYPE_POLYGON, []), True
    shells = []
    holes = []
    for r in rings:
        (shells if ring_signed_area(r) > 0 else holes).append(r)
    if not shells:  # all got reversed (e.g. difference output) — flip
        shells = [r[::-1].copy() for r in holes]
        holes = []
    sound = True
    polys = [[s] for s in shells]
    for h in holes:
        # placement point: a TRUE interior point of the hole ring, not
        # its first vertex — a noding-artifact hole hugs the shell
        # boundary, so its vertices classify on-boundary/outside
        mid = _ring_interior_pt(h)
        placed = False
        for p in polys:
            if point_in_ring(float(mid[0]), float(mid[1]), p[0]) > 0:
                p.append(h)
                placed = True
                break
        if not placed:
            sound = False
            polys.append([h[::-1].copy()])
    if sound and len(polys) > 1:
        # nested shells = double-covered area: impossible in valid output
        for i, p in enumerate(polys):
            ip = _ring_interior_pt(p[0])
            for j, q in enumerate(polys):
                if i != j and point_in_ring(float(ip[0]), float(ip[1]),
                                            q[0]) > 0:
                    sound = False
                    break
            if not sound:
                break
    if len(polys) == 1:
        return Geometry(GTYPE_POLYGON, polys[0]), sound
    return (Geometry(GTYPE_MULTIPOLYGON,
                     [Geometry(GTYPE_POLYGON, p) for p in polys]), sound)


def _ring_interior_pt(ring):
    """A point strictly inside ``ring`` (scanline at the bbox
    y-midpoint, midpoint of the first crossing span); falls back to the
    first vertex for degenerate rings."""
    arr = np.asarray(ring, dtype=np.float64)
    y = (arr[:, 1].min() + arr[:, 1].max()) / 2.0
    ax, ay = arr[:-1, 0], arr[:-1, 1]
    bx, by = arr[1:, 0], arr[1:, 1]
    cross = (ay > y) != (by > y)
    if not np.any(cross):
        return ring[0]
    xs = np.sort((bx[cross] - ax[cross]) * (y - ay[cross])
                 / (by[cross] - ay[cross]) + ax[cross])
    if len(xs) >= 2:
        return np.array([(xs[0] + xs[1]) / 2.0, y])
    return ring[0]


def _all_rings(g: Geometry):
    rings = []
    for p in g.parts():
        if p.gtype == GTYPE_POLYGON:
            rings.extend(p.data)
    return rings


def _snap_tolerance(a: Geometry, b: Geometry) -> float:
    """JTS GeometrySnapper.computeOverlaySnapTolerance parity: per
    geometry, 1e-9 × the smaller envelope dimension (width vs height);
    across the two operands, the MIN — so a small geometry far from the
    origin is not snapped at the scale of its coordinate magnitude
    (which can be ~1e7× coarser).  Floored at the kernel resolution
    ``_SNAP``: rings with extent below it are degenerate here anyway."""
    tol = math.inf
    for g in (a, b):
        lo = np.array([math.inf, math.inf])
        hi = np.array([-math.inf, -math.inf])
        any_ring = False
        for r in _all_rings(g):
            if len(r):
                any_ring = True
                arr = np.asarray(r, dtype=np.float64)
                lo = np.minimum(lo, arr.min(axis=0))
                hi = np.maximum(hi, arr.max(axis=0))
        if any_ring:
            tol = min(tol, 1e-9 * float((hi - lo).min()))
    if not math.isfinite(tol):
        return _SNAP
    return max(_SNAP, tol)


def _snap_ring(ring, tgt_pts, tol):
    """Snap one ring's vertices to nearby target vertices, then insert
    target vertices into segments they pass within tol of.  Returns a
    closed (n,2) array, or None if the ring collapses."""
    pts = np.asarray(ring[:-1], dtype=np.float64).copy()
    if len(tgt_pts):
        # chunk the (n_src x n_tgt) distance sweep so the retry path stays
        # bounded-memory on large rings (10k x 10k would be ~800 MB dense)
        chunk = max(1, 4_000_000 // max(1, len(tgt_pts)))
        for s in range(0, len(pts), chunk):
            blk = pts[s:s + chunk]
            d2 = ((blk[:, None, :] - tgt_pts[None, :, :]) ** 2).sum(-1)
            j = d2.argmin(1)
            near = d2[np.arange(len(blk)), j] <= tol * tol
            blk[near] = tgt_pts[j[near]]
    # drop consecutive duplicates produced by the vertex snap
    keep = [0]
    for i in range(1, len(pts)):
        if _key(pts[i]) != _key(pts[keep[-1]]):
            keep.append(i)
    while len(keep) > 1 and _key(pts[keep[-1]]) == _key(pts[keep[0]]):
        keep.pop()
    pts = pts[keep]
    if len(pts) < 3:
        return None
    # segment snap: node each edge at target vertices within tol of it
    out = []
    n = len(pts)
    tol2 = tol * tol
    for i in range(n):
        p0, p1 = pts[i], pts[(i + 1) % n]
        out.append(p0)
        if not len(tgt_pts):
            continue
        d = p1 - p0
        denom = float(d @ d)
        if denom <= 0.0:
            continue
        t = ((tgt_pts - p0) @ d) / denom
        proj = p0[None, :] + t[:, None] * d[None, :]
        dist2 = ((tgt_pts - proj) ** 2).sum(1)
        cand = np.nonzero((t > 1e-9) & (t < 1 - 1e-9) & (dist2 <= tol2))[0]
        for c in cand[np.argsort(t[cand])]:
            q = tgt_pts[c]
            if (_key(q) != _key(p0) and _key(q) != _key(p1)
                    and _key(q) != _key(out[-1])):
                out.append(q.copy())
    ring = np.vstack(out + [out[0]])
    return ring if len(ring) >= 4 else None


def _snap_geom(src: Geometry, tgt: Geometry, tol: float) -> Geometry | None:
    """Snap src to tgt (vertex snap + segment noding) — JTS GeometrySnapper
    parity, used only by the snap-if-needed overlay retry.  Returns None if
    every shell collapses."""
    tgt_rings = _all_rings(tgt)
    tgt_pts = (np.vstack([np.asarray(r[:-1], dtype=np.float64)
                          for r in tgt_rings if len(r) > 1])
               if tgt_rings else np.empty((0, 2)))
    parts_out = []
    for part in src.parts():
        if part.gtype != GTYPE_POLYGON:
            continue
        rings = []
        for i, r in enumerate(part.data):
            rr = _snap_ring(r, tgt_pts, tol)
            if rr is None:
                if i == 0:
                    rings = None
                    break
                continue  # collapsed hole: drop it, keep the shell
            rings.append(rr)
        if rings:
            parts_out.append(Geometry(GTYPE_POLYGON, rings))
    if not parts_out:
        return None
    if len(parts_out) == 1:
        return parts_out[0]
    return Geometry(GTYPE_MULTIPOLYGON, parts_out)


def _max_coord_magnitude(a: Geometry, b: Geometry) -> float:
    m = 0.0
    for g in (a, b):
        for r in _all_rings(g):
            if len(r):
                m = max(m, float(np.abs(np.asarray(r, dtype=np.float64)).max()))
    return m


def _overlay_frame(a: Geometry, b: Geometry):
    """Joint-envelope unit-frame transform ``(cx, cy, scale)``, or None
    when the inputs already sit at ordinary scale.

    The kernel's resolution model (``_SNAP`` = 1e-9 grid keys, absolute
    area/length epsilons) assumes roughly unit-magnitude coordinates; a
    pair of triangles with extent ~1e-6 has fragment areas below those
    epsilons and collapsed to EMPTY (20k-trial conservation stress, r5).
    Working in ``(x - c) * s`` space makes every epsilon relative.  The
    identity path is kept for ordinary data (extent within [1e-4, 1e6],
    coordinates under 1e6) so well-tested outputs stay byte-identical."""
    lo = np.array([math.inf, math.inf])
    hi = np.array([-math.inf, -math.inf])
    for g in (a, b):
        for r in _all_rings(g):
            if len(r):
                arr = np.asarray(r, dtype=np.float64)
                lo = np.minimum(lo, arr.min(axis=0))
                hi = np.maximum(hi, arr.max(axis=0))
    if not (np.all(np.isfinite(lo)) and np.all(np.isfinite(hi))):
        return None
    ext = float((hi - lo).max())
    mag = float(np.abs(np.array([lo, hi])).max())
    if ext <= 0.0 or not math.isfinite(ext):
        return None
    # the kernel's relative accuracy is ~_SNAP/extent: at extent 1e-3 a
    # 1e-9 grid is already 1e-6 relative error, so frame anything whose
    # extent leaves [1e-2, 1e6] (or that sits far from the origin)
    if 1e-2 <= ext <= 1e6 and mag <= 1e6:
        return None
    c = (lo + hi) / 2.0
    return float(c[0]), float(c[1]), 1.0 / ext


def _ring_extent(g: Geometry) -> float:
    ext = 0.0
    for r in _all_rings(g):
        if len(r):
            arr = np.asarray(r, dtype=np.float64)
            ext = max(ext, float((arr.max(axis=0) - arr.min(axis=0)).max()))
    return ext


def _merge_disjoint(a: Geometry, b: Geometry) -> Geometry:
    """Collection of both operands' polygon parts (known disjoint)."""
    parts = [p for g in (a, b) for p in g.parts()
             if p.gtype == GTYPE_POLYGON and len(p.data)]
    if not parts:
        return Geometry(GTYPE_POLYGON, [])
    if len(parts) == 1:
        return parts[0]
    return Geometry(GTYPE_MULTIPOLYGON, parts)


def _overlay(g1: Geometry, g2: Geometry, op: str) -> Geometry:
    """Unit-frame wrapper around the snap-ladder overlay: extreme-scale
    operands are translated/scaled into a ~unit frame (undone on output);
    ordinary inputs run identically to before (see _overlay_frame).

    When one operand's extent is below the kernel resolution RELATIVE to
    the pair (ratio < 1e-9, e.g. a 1e-3-sized triangle against a
    1e6-sized one), it is measure-zero at any representable tolerance:
    short-circuit instead of letting sub-resolution fragments poison the
    stitch (a half-missing best-effort result is worse than the exact
    measure-zero answer)."""
    e1, e2 = _ring_extent(g1), _ring_extent(g2)
    joint = max(e1, e2)
    if joint > 0.0 and min(e1, e2) < 1e-9 * joint:
        small, big = (g2, g1) if e2 < e1 else (g1, g2)
        rep = next((r[0] for r in _all_rings(small) if len(r)), None)
        inside = (rep is not None
                  and point_in_polygon(float(rep[0]), float(rep[1]),
                                       big) > 0)
        if op == "intersection":
            return small if inside else Geometry(GTYPE_POLYGON, [])
        if op == "union":
            return big if inside else _merge_disjoint(big, small)
        if op == "symdifference":
            # big minus a measure-zero bite is big at kernel resolution
            return big if inside else _merge_disjoint(big, small)
        if op == "difference":
            if small is g2:
                return g1                     # g1 loses a measure-zero bite
            return Geometry(GTYPE_POLYGON, []) if inside else g1
    fr = _overlay_frame(g1, g2)
    if fr is None:
        return _overlay_impl(g1, g2, op)
    cx, cy, s = fr
    fwd = [s, 0.0, 0.0, s, -cx * s, -cy * s]
    inv = [1.0 / s, 0.0, 0.0, 1.0 / s, cx, cy]
    res = _overlay_impl(affine_transform(g1, fwd),
                        affine_transform(g2, fwd), op)
    return affine_transform(res, inv)


def _overlay_impl(g1: Geometry, g2: Geometry, op: str) -> Geometry:
    """Snap-if-needed overlay driver (JTS SnapIfNeededOverlayOp parity,
    plus a coarser magnitude-based escalation JTS lacks).

    Attempt order:
      1. exact inputs — well-noded cases are byte-identical to r3/r4 output;
      2. snap at the fine JTS tolerance (1e-9 x min envelope dimension);
      3. snap at 1e-9 x max |coordinate| — mixed-magnitude inputs (a vertex
         5e-10 off the other boundary while the sliver spans 6e-8 in x) are
         under-snapped by (2) because the min envelope dim says nothing
         about where the coordinates SIT (judge repro: union of slanted
         triangles near the origin with a -999 tail returned EMPTY);
      4. 100x coarser again, for subnormal/astronomic coordinate spreads.

    If every rung still fails to close some ring chain, assemble the
    best-effort attempt (most closed-ring area) instead of silently
    returning EMPTY — a partial boundary loses a sliver; EMPTY loses the
    whole result (ADVICE r4, high).

    r10 hardening (found by the 6000-trial degenerate campaign): a
    COMPLETE stitch can still be WRONG — near-coincident operands whose
    edges zigzag across each other (per-vertex noise a few times the
    snap grid) close phantom rings that double-count whole regions
    (intersection came back LARGER than either input; union came back
    under max(A,B) or over A+B).  Every completed result is therefore
    validated against the op's area bounds — I ≤ min(A,B), max(A,B) ≤
    U ≤ A+B, D ≤ A, A−B ≤ D — with slack tol·(perim(a)+perim(b)) (the
    legitimate area movement of snapping at tol).  A bound violation
    escalates the snap ladder exactly like an unclosed stitch; snapping
    at ≥ the noise amplitude collapses the zigzag and the retry
    validates."""
    from .algorithms import area as _area_of
    from .algorithms import length as _perim_of

    a = _normalize(g1)
    b = _normalize(g2)
    A, B = _area_of(a), _area_of(b)
    perim = _perim_of(a) + _perim_of(b)

    def area_ok(res: Geometry, tol: float) -> bool:
        # validate the ASSEMBLED area — a phantom sliver ring that fails
        # hole placement flips into an extra shell, so the signed ring
        # sum can look fine while the assembled geometry double-counts
        r = _area_of(res)
        slack = max(tol, _SNAP) * max(perim, 1.0) * 4.0 \
            + 1e-9 * max(A + B, 1.0)
        if op == "intersection":
            return r <= min(A, B) + slack
        if op == "union":
            return max(A, B) - slack <= r <= A + B + slack
        if op == "difference":
            return A - B - slack <= r <= A + slack
        return True

    rings, complete = _overlay_once(a, b, op)
    if complete:
        res, sound = _assemble_checked(rings)
        if sound and area_ok(res, 0.0):
            return res
    best = rings
    best_area = sum(abs(ring_signed_area(r)) for r in rings)
    best_violating = None      # last COMPLETE-but-invalid result
    mag = _max_coord_magnitude(a, b)
    # the 1e-5 rung only ever runs when every finer rung produced an
    # unclosed or invalid (phantom-ring / bound-violating) result — it
    # cannot over-snap a pair any finer rung handled
    ladder = [_snap_tolerance(a, b), 1e-9 * mag, 1e-7 * mag, 1e-5 * mag]
    prev = 0.0
    for tol in ladder:
        if not (tol > prev * 4):  # must be meaningfully coarser than last try
            continue
        prev = tol
        b2 = _snap_geom(b, a, tol)
        if b2 is None:  # b collapsed at tol: it is measure-~0 relative to a
            return (a if op in ("union", "difference")
                    else Geometry(GTYPE_POLYGON, []))
        a2 = _snap_geom(a, b2, tol)
        if a2 is None:  # a collapsed at tol
            return b2 if op == "union" else Geometry(GTYPE_POLYGON, [])
        rings, complete = _overlay_once(_normalize(a2), _normalize(b2), op)
        if complete:
            res, sound = _assemble_checked(rings)
            if sound and area_ok(res, tol):
                return res
            best_violating = res   # complete but invalid: keep last
            continue
        area = sum(abs(ring_signed_area(r)) for r in rings)
        if area > best_area:
            best, best_area = rings, area
    if best_violating is not None:
        return _bounded_best_effort(a, b, op, best_violating)
    return _bounded_best_effort(a, b, op, _assemble(best))


def _bounded_best_effort(a: Geometry, b: Geometry, op: str,
                         res: Geometry) -> Geometry:
    """Sanity-bound a best-effort (incomplete-stitch) result with the
    op's area identities before returning it.  A needle-sliver operand
    can fragment the other's boundary so badly that the stitch loses
    whole rings — e.g. difference(huge, sliver) coming back with HALF of
    `huge` (error ~area(a)/2) when returning `a` unchanged bounds the
    error by area(b).  Only unambiguous violations fall back; anything
    within bounds keeps the assembled result."""
    from .algorithms import area as _area
    A, B, R = _area(a), _area(b), _area(res)
    slack = 1e-9 * (A + B)
    if op == "difference" and R < A - B - slack:
        return a
    if op == "union" and R < max(A, B) - slack:
        return _merge_disjoint(a, b)
    if op == "symdifference" and R < abs(A - B) - slack:
        return _merge_disjoint(a, b)
    return res


def _overlay_once(a: Geometry, b: Geometry, op: str) -> tuple:
    """One noding+classify+stitch attempt on normalized inputs.
    Returns ``(rings, complete)``; caller handles snap retries/assembly."""
    fa = _fragment_rings(_all_rings(a), _all_rings(b))
    fb = _fragment_rings(_all_rings(b), _all_rings(a))
    # reconcile the two fragmentations: each side also splits at the
    # other side's node points (see _split_fragments_at)
    na = {_key(f[i]): f[i] for f in fa for i in (0, -1)}
    nb = {_key(f[i]): f[i] for f in fb for i in (0, -1)}
    fa = _split_fragments_at(fa, list(nb.values()))
    fb = _split_fragments_at(fb, list(na.values()))
    fa, fb = _canonicalize_endpoints(fa, fb)
    ca = _classify_all(fa, b)
    cb = _classify_all(fb, a)
    # collinear shared edges: a boundary(1)-classified A fragment coincides
    # with a B fragment either same-direction (interiors on the same side)
    # or opposite (interiors on opposite sides); the op decides which kind
    # belongs to the result boundary.  B boundary fragments never emit —
    # A's copy is authoritative.
    b_dirs = {(_key(f[0]), _key(f[-1])) for f in fb}
    a_pairs = {(_key(f[0]), _key(f[-1])) for f in fa}
    # Classification/canonicalization consistency: endpoint canonicalization
    # merges near-coincident vertices (≤2·_SNAP) ACROSS the two sides, so a
    # fragment can become key-identical to an opposite-side fragment while
    # its midpoint still measures 1–2·_SNAP from the ORIGINAL other
    # boundary and classifies interior/exterior.  The key-level coincidence
    # is the stronger signal — at kernel resolution the two fragments ARE
    # the same edge — so upgrade such fragments to boundary(1).  Without
    # this, difference(A, A shrunk by ~1.2e-9) returned ALL of A (B's
    # merged copies dropped as non-orphans, A's kept as 'outside') and
    # union(A, A grown by ~1.2e-9) returned EMPTY (both sides dropped) —
    # the r10 degenerate fuzz finds.
    ca = [1 if (c != 1 and ((_key(f[0]), _key(f[-1])) in b_dirs
                            or (_key(f[-1]), _key(f[0])) in b_dirs))
          else c for f, c in zip(fa, ca)]
    cb = [1 if (c != 1 and ((_key(f[0]), _key(f[-1])) in a_pairs
                            or (_key(f[-1]), _key(f[0])) in a_pairs))
          else c for f, c in zip(fb, cb)]

    def sd(f):  # shared edge, same direction: interiors on the same side
        return (_key(f[0]), _key(f[-1])) in b_dirs

    def od(f):  # shared edge, opposite direction: interiors on opposite sides
        return (_key(f[-1]), _key(f[0])) in b_dirs

    def parity(f, poly):
        # exact parity class of the midpoint — the fallback for a
        # snap-classified boundary(1) fragment that matches NO B fragment
        # (neither sd nor od): it is not a shared edge, merely near one,
        # so the op must treat it by which side it actually lies on
        # (ADVICE r2: treating orphans as shared risked spurious rings)
        mid = (f[0] + f[-1]) / 2.0
        return point_in_polygon(float(mid[0]), float(mid[1]), poly)

    def keep_bnd(f, other, inside_keeps: bool) -> bool:
        s, o = sd(f), od(f)
        if not s and not o:
            c = parity(f, other)
            return c == (2 if inside_keeps else 0) or c == 1
        return s or not o

    # B-side boundary(1) fragments are normally dropped (A's copy of a
    # shared edge is authoritative) — but a B fragment can be *snap*-
    # classified boundary while matching NO A fragment (it merely runs
    # within tolerance of A's boundary: a near-boundary interior/exterior
    # sliver).  Dropping those leaves the result ring unclosable — the
    # mirror of the A-side orphan case above, caught by the 1500-example
    # area-conservation fuzz (union+inter lost the sliver's area).
    a_dirs = {(_key(f[0]), _key(f[-1])) for f in fa}

    def orphan_b(f, inside_keeps: bool) -> bool:
        if (_key(f[0]), _key(f[-1])) in a_dirs \
                or (_key(f[-1]), _key(f[0])) in a_dirs:
            return False            # true shared edge: A's copy decides
        c = parity(f, a)
        return c == (2 if inside_keeps else 0)

    sel = []
    if op == "union":
        sel += [f for f, c in zip(fa, ca)
                if c == 0 or (c == 1 and keep_bnd(f, b, inside_keeps=False))]
        sel += [f for f, c in zip(fb, cb)
                if c == 0 or (c == 1 and orphan_b(f, inside_keeps=False))]
    elif op == "intersection":
        sel += [f for f, c in zip(fa, ca)
                if c == 2 or (c == 1 and keep_bnd(f, b, inside_keeps=True))]
        sel += [f for f, c in zip(fb, cb)
                if c == 2 or (c == 1 and orphan_b(f, inside_keeps=True))]
    elif op == "difference":
        sel += [f for f, c in zip(fa, ca)
                if c == 0 or (c == 1 and od(f) and not sd(f))]
        sel += [f[::-1] for f, c in zip(fb, cb)
                if c == 2 or (c == 1 and orphan_b(f, inside_keeps=True))]
    return _stitch_ex(sel)


def _is_poly(g: Geometry) -> bool:
    return g.gtype in (GTYPE_POLYGON, GTYPE_MULTIPOLYGON)


def union(g1: Geometry, g2: Geometry) -> Geometry:
    if _is_poly(g1) and _is_poly(g2):
        if not envelopes_intersect(g1.envelope(), g2.envelope()):
            return Geometry.multi(g1.parts() + g2.parts())
        # rect∪rect closed form (same exact-answer contract as the
        # intersection/difference fast paths): a coordinate-compressed
        # 3×3 cell grid + outer-boundary walk produces the exact
        # rectilinear outline for EVERY overlapping-rect shape —
        # containment, axis merge, staircase, T, plus/cross.  Declines
        # (→ overlay) for sub-resolution coordinate gaps, non-proper
        # contact, and extreme scales.
        ra, rb = _as_rect(g1), _as_rect(g2)
        if ra is not None and rb is not None \
                and max(abs(v) for v in ra + rb) <= 1e6 \
                and min(ra[2] - ra[0], ra[3] - ra[1],
                        rb[2] - rb[0], rb[3] - rb[1]) >= 1e-2 \
                and min(ra[2], rb[2]) - max(ra[0], rb[0]) > 4.0 * _SNAP \
                and min(ra[3], rb[3]) - max(ra[1], rb[1]) > 4.0 * _SNAP \
                and _axis_gaps_resolvable(ra, rb):
            ring = _rect_union_outline(ra, rb)
            if ring is not None:
                return Geometry(GTYPE_POLYGON, [ring])
        return _overlay(g1, g2, "union")
    # mixed/lower dims: collect parts (JTS would node lines; we keep collection)
    return Geometry.multi(g1.parts() + g2.parts())


def _as_rect(g: Geometry):
    """(xmin, ymin, xmax, ymax) when ``g`` is a single-ring axis-aligned
    rectangle polygon (see ``_as_rects``), else None.  Unlocks the
    rect∩rect, rect∪rect and rect−rect closed forms and the convex∩rect
    cuts — the dominant shapes of window/tile/envelope workloads, where
    the general snap-rounded overlay costs milliseconds per pair."""
    if g.gtype != GTYPE_POLYGON or len(g.data) != 1 or len(g.data[0]) != 5:
        return None
    r = np.asarray(g.data[0], dtype=np.float64)
    if len(set(r[:4, 0].tolist())) != 2 or len(set(r[:4, 1].tolist())) != 2:
        return None                     # a cheap necessary condition
    ok, rect = _as_rects(r[None])
    return tuple(float(v) for v in rect[0]) if ok[0] else None


def _as_rects(rings: np.ndarray):
    """``(ok (g,), rect (g, 4))`` for closed 5-point rings (g, 5, 2):
    ``ok`` where the ring's first four vertices are exactly the four
    corners of its envelope ``rect`` = (xmin, ymin, xmax, ymax), with
    xmin < xmax and ymin < ymax.  A bound tied between 0.0 and -0.0
    takes the last of the tied vertices, as numpy's 4-element min/max
    does."""
    pts = rings[:, :4]
    lo, hi = pts.min(1), pts.max(1)
    for b in (lo, hi):
        for i, j in zip(*np.nonzero(b == 0)):
            b[i, j] = pts[i, 3 - (pts[i, ::-1, j] == 0).argmax(), j]
    top = pts == hi[:, None]
    # a corner id per vertex, 0..3: all four ids present = four corners
    ids = (1 << (2 * top[..., 0] + top[..., 1])).sum(1)
    ok = ((rings[:, 0] == rings[:, 4]).all(1) & (lo < hi).all(1)
          & (top | (pts == lo[:, None])).all((1, 2)) & (ids == 15))
    return ok, np.concatenate([lo, hi], axis=1)


def intersection(g1: Geometry, g2: Geometry) -> Geometry:
    if not envelopes_intersect(g1.envelope(), g2.envelope()):
        return Geometry(GTYPE_POLYGON, [])
    if _is_poly(g1) and _is_poly(g2):
        # rect∩rect with PROPER area overlap: the closed form — a CCW
        # ring of the EXACT max/min corners (no snap).  The general
        # overlay's answer for the same pair differs only by its
        # sub-resolution snap/merge noise (parametric corner arithmetic
        # rounds within ~_SNAP); the closed form is the mathematically
        # exact intersection and bit-identical to the closed-form SQL
        # arithmetic the cross-engine oracles use (greatest/least
        # products on the raw doubles).  Fuzz-pinned against the
        # overlay at kernel resolution.  Declines — keeping the
        # kernel's exact degenerate semantics — for edge/corner
        # contacts and sub-resolution slivers (overlap margin below
        # 4*_SNAP) and for extreme scales (the unit-frame transform
        # owns those).
        ra, rb = _as_rect(g1), _as_rect(g2)
        if ra is not None and rb is not None \
                and max(abs(v) for v in ra + rb) <= 1e6 \
                and min(ra[2] - ra[0], ra[3] - ra[1],
                        rb[2] - rb[0], rb[3] - rb[1]) >= 1e-2:
            x0, y0 = max(ra[0], rb[0]), max(ra[1], rb[1])
            x1, y1 = min(ra[2], rb[2]), min(ra[3], rb[3])
            if x1 - x0 > 4.0 * _SNAP and y1 - y0 > 4.0 * _SNAP:
                ring = np.array(
                    [[x0, y0], [x1, y0], [x1, y1], [x0, y1], [x0, y0]],
                    dtype=np.float64)
                return Geometry(GTYPE_POLYGON, [ring])
        # convex∩rect (either order): convex_rect_intersection with one
        # row — four exact S-H half-plane cuts, CCW shell; its
        # docstring holds the decline rules (→ overlay).  st_intersection
        # runs the same kernel over every such row of an Arrow batch.
        if (ra is None) != (rb is None):
            fast = (_convex_rect_intersection(g1, rb) if ra is None
                    else _convex_rect_intersection(g2, ra))
            if fast is not None:
                return fast
        return _overlay(g1, g2, "intersection")
    if _is_poly(g2) and g1.gtype in (GTYPE_LINESTRING, GTYPE_MULTILINESTRING):
        return clip_line(g1, g2)
    if _is_poly(g1) and g2.gtype in (GTYPE_LINESTRING, GTYPE_MULTILINESTRING):
        return clip_line(g2, g1)
    if g1.gtype == GTYPE_POINT:
        return g1 if _pt_on(g1, g2) else Geometry(GTYPE_GEOMETRY, [])
    if g2.gtype == GTYPE_POINT:
        return g2 if _pt_on(g2, g1) else Geometry(GTYPE_GEOMETRY, [])
    raise NotImplementedError(
        f"intersection({g1.type_name()},{g2.type_name()}) not supported by this kernel"
    )


def _convex_rect_intersection(g: Geometry, rect) -> Geometry | None:
    """``g`` ∩ ``rect`` for a single-ring polygon ``g`` and an
    axis-aligned rectangle ``rect`` = (xmin, ymin, xmax, ymax): the
    one-row case of ``convex_rect_intersection``; None where it
    declines (→ overlay)."""
    if g.gtype != GTYPE_POLYGON or len(g.data) != 1:
        return None
    out, n = convex_rect_intersection(
        np.asarray(g.data[0], dtype=np.float64)[None],
        np.array([rect], dtype=np.float64))
    if n[0] < 0:
        return None
    return Geometry(GTYPE_POLYGON, [out[0, :n[0]].copy()] if n[0] else [])


def convex_rect_intersection(rings: np.ndarray, rects: np.ndarray):
    """Convex polygon ∩ axis-aligned rectangle for a batch of pairs:
    ``rings`` (g, k, 2) holds closed rings of k points each (one vertex
    count per call), ``rects`` (g, 4) the rectangles (xmin, ymin, xmax,
    ymax).  Four exact Sutherland–Hodgman half-plane cuts over the
    whole batch, the result shell made CCW.  Returns ``(out, n)``:
    ``n[i]`` = -1 declines row i (→ overlay), 0 is an empty
    intersection, else ``out[i, :n[i]]`` is the result ring.

    The one home of the convex∩rect rules; ``intersection`` reaches
    them with one row.  Declines, keeping the overlay's exact
    degenerate semantics: |coord| > 1e6 or a rectangle side < 1e-2
    (the rect∩rect closed form's limits; the unit-frame transform owns
    extreme scales), an open ring or one with no area or that is not
    convex, a ring vertex within 4·_SNAP of a rectangle edge line, and
    a rectangle corner within 4·_SNAP of the ring.  A row's answer does
    not depend on the other rows of its batch."""
    g, k = rings.shape[:2]
    n = np.full(g, -1, dtype=np.int64)
    if k < 4:
        return np.zeros((g, 0, 2)), n
    band = 4.0 * _SNAP
    lo, hi = rects[:, None, :2], rects[:, None, 2:]
    x = rings[:, :-1]
    with np.errstate(all="ignore"):    # a non-finite row is declined
        ok = ((rings[:, 0] == rings[:, -1]).all(1)
              & (np.abs(rects).max(1) <= 1e6)
              & ((hi - lo)[:, 0].min(1) >= 1e-2)
              & (np.abs(rings).max(axis=(1, 2)) <= 1e6)
              & (np.minimum(np.abs(x - lo), np.abs(x - hi)) > band).all((1, 2))
              & (ring_signed_areas(rings) != 0.0)
              & _convex_ring(rings)
              & (dist_to_segments(rects[:, _CORNERS], rings) > band).all(1))
    c = np.flatnonzero(ok)
    # one padded copy of the closing point ends every ring (see
    # _clip_rings_halfplane)
    rr = np.concatenate([rings[c], rings[c, -1:]], axis=1)
    ll = np.full(len(c), k)
    for axis, col, keep_low in _RECT_CUTS:
        rr, ll = _clip_rings_halfplane(rr, ll, axis, rects[c, col], keep_low)
    r = np.zeros((g, rr.shape[1], 2))
    r[c], n[c] = rr, ll
    for m in set(ll[ll > 0].tolist()):
        rows = c[ll == m]
        cw = rows[ring_signed_areas(r[rows, :m]) < 0]
        r[cw, :m] = r[cw, m - 1::-1]
    return r, n


#: the rectangle corners as (x, y) columns of (xmin, ymin, xmax, ymax)
_CORNERS = np.array([[0, 1], [2, 1], [2, 3], [0, 3]])
#: the four cuts of a rectangle: (axis, column of its bound, keep_low)
_RECT_CUTS = ((0, 0, False), (0, 2, True), (1, 1, False), (1, 3, True))


def _pt_on(p: Geometry, g: Geometry) -> bool:
    from .predicates import intersects
    return intersects(p, g)


def difference(g1: Geometry, g2: Geometry) -> Geometry:
    """A \\ B for any dimension pair (Difference.java:30-52 / JTS
    Geometry.difference):

    - polygon − polygon: edge-fragmentation overlay;
    - line − polygon: line fragments strictly outside the polygon
      (boundary-riding fragments are inside the closed polygon → removed);
    - line − line: fragments of A not collinear-on B;
    - point − any: points of A not intersecting B;
    - subtracting a LOWER-dimensional B leaves A unchanged (removing a
      measure-zero set does not change the closure)."""
    d1, d2 = g1.dimension(), g2.dimension()
    if d2 < d1 or g2.is_empty():
        return g1
    if d1 == 0:
        from .predicates import intersects
        kept = [p for p in g1.parts() if not intersects(p, g2)]
        if not kept:
            return Geometry(GTYPE_MULTIPOINT, [])
        return kept[0] if len(kept) == 1 else Geometry(GTYPE_MULTIPOINT, kept)
    if not envelopes_intersect(g1.envelope(), g2.envelope()):
        return g1
    if d1 == 1 and d2 == 2:
        return _select_line_parts(g1, _all_rings(_normalize(g2)),
                                  lambda c: c == 0, poly=g2)
    if d1 == 1 and d2 == 1:
        b_lines = [p.data for p in g2.parts() if p.gtype == GTYPE_LINESTRING]
        return _select_line_parts(g1, b_lines,
                                  lambda c: c == 0, lines_b=b_lines)
    fast = _rect_difference(g1, g2)
    if fast is not None:
        return fast
    return _overlay(g1, g2, "difference")


def _axis_gaps_resolvable(ra, rb) -> bool:
    """Distinct coordinate values per axis must differ by more than the
    kernel's merge band (equal values are fine) — below that the
    overlay's node unification owns the semantics."""
    for i, j in ((0, 2), (1, 3)):
        vals = sorted({ra[i], ra[j], rb[i], rb[j]})
        for a, b in zip(vals, vals[1:]):
            if b - a <= 4.0 * _SNAP:
                return False
    return True


def _rect_union_outline(ra, rb):
    """Exact CCW outline of the union of two PROPERLY overlapping
    axis-aligned rects via coordinate compression: mark which of the
    ≤3×3 grid cells are covered, walk the outer boundary keeping the
    covered region on the left, and collapse collinear vertices.
    Returns the closed (n,2) ring, or None if the walk fails (cannot
    happen for proper overlaps — defensive)."""
    xs = sorted({ra[0], ra[2], rb[0], rb[2]})
    ys = sorted({ra[1], ra[3], rb[1], rb[3]})
    nx, ny = len(xs) - 1, len(ys) - 1

    def covered(i, j):
        cx = (xs[i] + xs[i + 1]) / 2.0
        cy = (ys[j] + ys[j + 1]) / 2.0
        return (ra[0] < cx < ra[2] and ra[1] < cy < ra[3]) or \
               (rb[0] < cx < rb[2] and rb[1] < cy < rb[3])

    cov = [[covered(i, j) for j in range(ny)] for i in range(nx)]

    def cell(i, j):
        return cov[i][j] if 0 <= i < nx and 0 <= j < ny else False

    # directed boundary edges in grid-index space, covered side on the
    # LEFT of travel direction → outer ring comes out CCW
    nxt = {}
    for i in range(nx):
        for j in range(ny + 1):      # horizontal edges (i,j)->(i+1,j)
            below, above = cell(i, j - 1), cell(i, j)
            if above and not below:
                nxt[(i, j)] = (i + 1, j)       # rightward, region above
            elif below and not above:
                nxt[(i + 1, j)] = (i, j)       # leftward, region below
    for i in range(nx + 1):
        for j in range(ny):          # vertical edges (i,j)->(i,j+1)
            left, right = cell(i - 1, j), cell(i, j)
            if left and not right:
                nxt[(i, j + 1)] = (i, j)       # downward, region left
            elif right and not left:
                nxt[(i, j)] = (i, j + 1)       # upward, region right
    if not nxt:
        return None
    start = min(nxt)
    path = [start]
    cur = nxt.pop(start, None)
    while cur is not None and cur != start:
        path.append(cur)
        cur = nxt.pop(cur, None)
    if cur != start or nxt:
        return None   # disconnected/pinched: not a proper overlap
    pts = [(xs[i], ys[j]) for i, j in path]
    # collapse collinear (grid lines insert interior vertices)
    out = []
    m = len(pts)
    for k in range(m):
        p0, p1, p2 = pts[k - 1], pts[k], pts[(k + 1) % m]
        if (p0[0] == p1[0] == p2[0]) or (p0[1] == p1[1] == p2[1]):
            continue
        out.append(p1)
    out.append(out[0])
    return np.array(out, dtype=np.float64)


def _ring_box(x0, y0, x1, y1, ccw: bool = True) -> np.ndarray:
    pts = [[x0, y0], [x1, y0], [x1, y1], [x0, y1], [x0, y0]]
    if not ccw:
        pts = pts[::-1]
    return np.array(pts, dtype=np.float64)


def _rect_difference(g1: Geometry, g2: Geometry):
    """Closed-form A∖B for axis-aligned rectangle pairs (same contract
    as the rect∩rect fast path: the EXACT answer, within kernel
    resolution of the overlay; fuzz-pinned).  The overlap box contacts
    A's boundary on 0-4 sides, classified by EXACT coordinate equality:
    4 sides → EMPTY, 3 → the remaining strip, 2 opposite → two strips
    (multipolygon), 2 adjacent → L-hexagon, 1 → U-octagon, 0 → A with
    the overlap as a hole.  Declines (→ overlay) when any non-zero
    boundary gap or the overlap itself is inside the kernel's
    resolution band, or at extreme scales."""
    ra, rb = _as_rect(g1), _as_rect(g2)
    if ra is None or rb is None:
        return None
    if max(abs(v) for v in ra + rb) > 1e6 \
            or min(ra[2] - ra[0], ra[3] - ra[1],
                   rb[2] - rb[0], rb[3] - rb[1]) < 1e-2:
        return None
    ax0, ay0, ax1, ay1 = ra
    ix0, iy0 = max(ax0, rb[0]), max(ay0, rb[1])
    ix1, iy1 = min(ax1, rb[2]), min(ay1, rb[3])
    if ix1 - ix0 <= 4.0 * _SNAP or iy1 - iy0 <= 4.0 * _SNAP:
        return None   # touch/disjoint/sliver: the overlay owns degenerate
    gaps = (ix0 - ax0, ax1 - ix1, iy0 - ay0, ay1 - iy1)  # L R B T
    for gp in gaps:
        if 0.0 < gp <= 4.0 * _SNAP:
            return None
    cl_, cr, cb, ct = (gp == 0.0 for gp in gaps)
    n_contact = sum((cl_, cr, cb, ct))
    if n_contact == 4:
        return Geometry(GTYPE_POLYGON, [])
    if n_contact == 3:
        if not cl_:
            return Geometry(GTYPE_POLYGON, [_ring_box(ax0, ay0, ix0, ay1)])
        if not cr:
            return Geometry(GTYPE_POLYGON, [_ring_box(ix1, ay0, ax1, ay1)])
        if not cb:
            return Geometry(GTYPE_POLYGON, [_ring_box(ax0, ay0, ax1, iy0)])
        return Geometry(GTYPE_POLYGON, [_ring_box(ax0, iy1, ax1, ay1)])
    if n_contact == 2 and cl_ and cr:      # horizontal band: two strips
        parts = []
        if not cb:
            parts.append(Geometry(GTYPE_POLYGON,
                                  [_ring_box(ax0, ay0, ax1, iy0)]))
        if not ct:
            parts.append(Geometry(GTYPE_POLYGON,
                                  [_ring_box(ax0, iy1, ax1, ay1)]))
        return Geometry(GTYPE_MULTIPOLYGON, parts)
    if n_contact == 2 and cb and ct:       # vertical band
        parts = []
        if not cl_:
            parts.append(Geometry(GTYPE_POLYGON,
                                  [_ring_box(ax0, ay0, ix0, ay1)]))
        if not cr:
            parts.append(Geometry(GTYPE_POLYGON,
                                  [_ring_box(ix1, ay0, ax1, ay1)]))
        return Geometry(GTYPE_MULTIPOLYGON, parts)
    if n_contact == 2:                     # corner bite: CCW L-hexagon
        if cr and ct:
            ring = [[ax0, ay0], [ax1, ay0], [ax1, iy0], [ix0, iy0],
                    [ix0, ay1], [ax0, ay1], [ax0, ay0]]
        elif cl_ and ct:
            ring = [[ax0, ay0], [ax1, ay0], [ax1, ay1], [ix1, ay1],
                    [ix1, iy0], [ax0, iy0], [ax0, ay0]]
        elif cl_ and cb:
            ring = [[ix1, ay0], [ax1, ay0], [ax1, ay1], [ax0, ay1],
                    [ax0, iy1], [ix1, iy1], [ix1, ay0]]
        else:                              # cr and cb
            ring = [[ax0, ay0], [ix0, ay0], [ix0, iy1], [ax1, iy1],
                    [ax1, ay1], [ax0, ay1], [ax0, ay0]]
        return Geometry(GTYPE_POLYGON,
                        [np.array(ring, dtype=np.float64)])
    if n_contact == 1:                     # edge bite: CCW U-octagon
        if ct:
            ring = [[ax0, ay0], [ax1, ay0], [ax1, ay1], [ix1, ay1],
                    [ix1, iy0], [ix0, iy0], [ix0, ay1], [ax0, ay1],
                    [ax0, ay0]]
        elif cb:
            ring = [[ax0, ay0], [ix0, ay0], [ix0, iy1], [ix1, iy1],
                    [ix1, ay0], [ax1, ay0], [ax1, ay1], [ax0, ay1],
                    [ax0, ay0]]
        elif cl_:
            ring = [[ax0, ay0], [ax1, ay0], [ax1, ay1], [ax0, ay1],
                    [ax0, iy1], [ix1, iy1], [ix1, iy0], [ax0, iy0],
                    [ax0, ay0]]
        else:                              # cr
            ring = [[ax0, ay0], [ax1, ay0], [ax1, iy0], [ix0, iy0],
                    [ix0, iy1], [ax1, iy1], [ax1, ay1], [ax0, ay1],
                    [ax0, ay0]]
        return Geometry(GTYPE_POLYGON,
                        [np.array(ring, dtype=np.float64)])
    # no contact: A with the overlap as a CW hole
    return Geometry(GTYPE_POLYGON,
                    [_ring_box(ax0, ay0, ax1, ay1, ccw=True),
                     _ring_box(ix0, iy0, ix1, iy1, ccw=False)])


def sym_difference(g1: Geometry, g2: Geometry) -> Geometry:
    """(A \\ B) ∪ (B \\ A), any dimension pair (SymDifference.java:30-51);
    mixed-dimension results collect parts, as JTS's GeometryCollection."""
    if _is_poly(g1) and _is_poly(g2):
        # rect pairs: A∖B and B∖A are closed forms (above) whose
        # interiors are ALWAYS disjoint — their boundaries can only
        # meet where ∂A crosses ∂B, finitely many points — so the
        # final union is a part collection, no overlay at all
        fa = _rect_difference(g1, g2)
        fb = _rect_difference(g2, g1) if fa is not None else None
        if fa is not None and fb is not None:
            if fa.is_empty():
                return fb
            if fb.is_empty():
                return fa
            return Geometry.multi(fa.parts() + fb.parts())
    d1 = difference(g1, g2)
    d2 = difference(g2, g1)
    if d1.is_empty():
        return d2
    if d2.is_empty():
        return d1
    return union(d1, d2)


def _pt_on_polylines(pt, polylines) -> bool:
    """Min distance of pt to any segment of the polylines <= _SNAP."""
    for ln in polylines:
        if len(ln) < 2:
            continue
        a = np.asarray(ln[:-1], dtype=np.float64)
        b = np.asarray(ln[1:], dtype=np.float64)
        d = b - a
        ap = pt[None, :] - a
        denom = np.maximum((d * d).sum(1), 1e-300)
        t = np.clip((ap * d).sum(1) / denom, 0.0, 1.0)
        proj = a + t[:, None] * d
        if np.sqrt(((pt[None, :] - proj) ** 2).sum(1)).min() <= _SNAP:
            return True
    return False


def _select_line_parts(line: Geometry, cut_polylines, keep,
                       poly: Geometry | None = None,
                       lines_b=None) -> Geometry:
    """Fragment `line` at crossings with cut_polylines, classify each
    fragment (against `poly` interior/boundary/exterior, or on/off the
    `lines_b` polylines), keep those passing `keep`, and stitch
    consecutive survivors back into polylines."""
    segs = []
    lines = [p for p in line.parts() if p.gtype == GTYPE_LINESTRING]
    for ln in lines:
        frags = _fragment_rings([ln.data], cut_polylines)
        cur = []
        for f in frags:
            if poly is not None:
                c = _classify(f, poly)
            else:
                mid = (f[0] + f[-1]) / 2.0
                c = 1 if _pt_on_polylines(mid, lines_b) else 0
            if keep(c):
                if cur and _key(cur[-1]) == _key(f[0]):
                    cur.append(f[1])
                else:
                    if len(cur) >= 2:
                        segs.append(np.array(cur))
                    cur = [f[0], f[1]]
            else:
                if len(cur) >= 2:
                    segs.append(np.array(cur))
                cur = []
        if len(cur) >= 2:
            segs.append(np.array(cur))
    if not segs:
        return Geometry(GTYPE_LINESTRING, np.empty((0, 2)))
    if len(segs) == 1:
        return Geometry(GTYPE_LINESTRING, segs[0])
    return Geometry(GTYPE_MULTILINESTRING, [Geometry(GTYPE_LINESTRING, s) for s in segs])


def clip_line(line: Geometry, poly: Geometry) -> Geometry:
    """Portions of `line` inside (or on boundary of) `poly`."""
    return _select_line_parts(line, _all_rings(_normalize(poly)),
                              lambda c: c >= 1, poly=poly)


def union_many(geoms: list) -> Geometry:
    """Tree-reduce union (UnionAll.java equivalent, but balanced for scale —
    the distributed version does partial unions per partition first)."""
    geoms = [g for g in geoms if g is not None and not g.is_empty()]
    if not geoms:
        return Geometry(GTYPE_GEOMETRY, [])
    while len(geoms) > 1:
        nxt = []
        for i in range(0, len(geoms) - 1, 2):
            nxt.append(union(geoms[i], geoms[i + 1]))
        if len(geoms) % 2:
            nxt.append(geoms[-1])
        geoms = nxt
    return geoms[0]


def intersect_many(geoms: list) -> Geometry:
    geoms = [g for g in geoms if g is not None]
    if not geoms:
        return Geometry(GTYPE_GEOMETRY, [])
    acc = geoms[0]
    for g in geoms[1:]:
        acc = intersection(acc, g)
        if acc.is_empty():
            return acc
    return acc


def _convex_ring(ring: np.ndarray):
    """Closed ring convex and simple (collinear runs allowed)?  One
    vectorized sweep over the turn at every vertex, the closing one
    included.  A turn counts as collinear when its cross product is
    within 1e-12 of the two edge lengths' product — relative, so the
    answer does not depend on the coordinate scale; a collinear turn
    that doubles back is not convex.  The other turns must share one
    sign and add up to one revolution (a pentagram turns one way twice
    round).  ``ring`` (k, 2) gives a bool; a batch (g, k, 2) of rings
    of one vertex count gives a bool per ring."""
    v = ring[..., 1:, :] - ring[..., :-1, :]
    w = np.concatenate([v[..., 1:, :], v[..., :1, :]], axis=-2)
    cross = v[..., 0] * w[..., 1] - v[..., 1] * w[..., 0]
    dot = (v * w).sum(axis=-1)
    flat = np.abs(cross) <= 1e-12 * np.hypot(v[..., 0], v[..., 1]) \
        * np.hypot(w[..., 0], w[..., 1])
    turn = np.where(flat, 0.0, cross)
    ok = ~(flat & (dot < 0)).any(-1) \
        & ((turn >= 0).all(-1) | (turn <= 0).all(-1)) \
        & (np.abs(np.arctan2(cross, dot).sum(-1)) < 3 * math.pi)
    return bool(ok) if ring.ndim == 2 else ok


def _clip_ring_halfplane(ring: np.ndarray, axis: int, val: float,
                         keep_low: bool):
    """One convex closed ring cut by one half-plane (see
    ``_clip_rings_halfplane``); None when nothing of area is left."""
    out, n = _clip_rings_halfplane(
        np.concatenate([ring, ring[-1:]])[None], np.array([len(ring)]), axis,
        np.array([val]), keep_low)
    return out[0, :n[0]].copy() if n[0] else None


def _clip_rings_halfplane(rings: np.ndarray, lens: np.ndarray, axis: int,
                          vals: np.ndarray, keep_low: bool):
    """Sutherland–Hodgman of CONVEX closed rings against axis-aligned
    half-planes, one ring and cut value per row: row i's ring is the
    first ``lens[i]`` points of ``rings`` (g, m, 2), and the points
    after it equal its closing point (at least one follows).  The
    half-plane is coordinate ``axis`` <= ``vals[i]`` (``keep_low``) or
    >=.  Each kept point before the closing one and each exact crossing
    (``t = (val - p[axis]) / (q[axis] - p[axis])``, the cut coordinate
    set to ``val`` verbatim) is emitted in order, then a copy of the
    first emitted point closes the ring; a point equal to the one
    before it is dropped.  Returns ``(rings, lens)`` the same way, with
    length 0 where fewer than 4 ring points are left (nothing of area;
    that row then stays empty).

    The points after a ring are zero-length edges: they cross nothing
    and are never emitted, so a row's ring does not depend on the
    padding.  Convexity is the caller's guarantee (a concave subject
    could need the output split into components, which S-H cannot
    represent)."""
    g, m = rings.shape[:2]
    v = vals[:, None]
    side = rings[:, :, axis]
    ins = (side <= v) if keep_low else (side >= v)
    ins &= (lens > 0)[:, None]                      # an emptied ring stays so
    p = rings[:, :-1]
    d = rings[:, 1:] - p
    # slot 2i: point i (not the closing point); slot 2i + 1: the
    # crossing on edge i → i+1
    kept = np.empty((g, m - 1, 2), dtype=bool)
    kept[..., 0] = ins[:, :-1] & (np.arange(m - 1) < lens[:, None] - 1)
    kept[..., 1] = ins[:, :-1] != ins[:, 1:]
    t = np.divide(v - side[:, :-1], d[..., axis], out=np.zeros((g, m - 1)),
                  where=kept[..., 1])
    pts = np.empty((g, m - 1, 2, 2))
    pts[:, :, 0] = p
    pts[:, :, 1] = p + t[..., None] * d
    pts[:, :, 1, axis] = v
    kept = kept.reshape(g, 2 * m - 2)
    # the kept points in order, then copies of the first (the closing)
    ring = _front(pts.reshape(g, 2 * m - 2, 2), kept, kept.sum(1))
    fresh = np.empty(ring.shape[:2], dtype=bool)
    fresh[:, 0] = True
    fresh[:, 1:] = (ring[:, 1:] != ring[:, :-1]).any(-1)
    lens = fresh.sum(1)
    if (fresh.argmin(1) != lens).any():            # an inner repeat
        ring = _front(ring, fresh, lens)
    lens[lens < 4] = 0
    return ring, lens


def _front(pts: np.ndarray, kept: np.ndarray, cnt: np.ndarray) -> np.ndarray:
    """Each row's ``kept`` points of ``pts`` (g, m, 2), in order, then
    at least two copies of its first kept point: (g, max(cnt) + 2, 2)."""
    j = np.arange(cnt.max(initial=0) + 2)
    order = np.argsort(~kept, axis=1, kind="stable")
    col = np.where(j < cnt[:, None],
                   order[:, np.minimum(j, kept.shape[1] - 1)], order[:, :1])
    return pts[np.arange(len(pts))[:, None], col]


def subdivide(g: Geometry, max_vertices: int = 128,
              max_depth: int = 24) -> list:
    """PostGIS-class ST_Subdivide: recursively halve the envelope along
    its longer axis (deterministic midpoint cuts) and clip, until every
    part carries at most ``max_vertices`` points.  Parts tile the input
    exactly (disjoint interiors, areas sum to the original) — the
    standard pre-join treatment for continent-sized polygons, whose
    bbox would otherwise put them in every grid cell of a PBSM join.

    No reference counterpart (the reference delegates geometry ops to
    JTS and has no subdivide pipe); extension axis next to the overlay
    kernel it is built from."""
    if max_vertices < 8:
        raise ValueError("subdivide: max_vertices must be >= 8")
    out: list = []
    stack = [(g, 0)]
    while stack:
        cur, depth = stack.pop()
        if cur is None or cur.is_empty():
            continue
        if cur.num_points() <= max_vertices or depth >= max_depth:
            out.extend(p for p in cur.parts()
                       if p.gtype in (GTYPE_POLYGON, GTYPE_MULTIPOLYGON)
                       or cur.gtype not in (GTYPE_POLYGON,
                                            GTYPE_MULTIPOLYGON))
            continue
        x0, y0, x1, y1 = cur.envelope()
        if x1 - x0 >= y1 - y0:
            xm = (x0 + x1) / 2.0
            halves = [(x0, y0, xm, y1), (xm, y0, x1, y1)]
        else:
            ym = (y0 + y1) / 2.0
            halves = [(x0, y0, x1, ym), (x0, ym, x1, y1)]
        pieces = []
        convex = (cur.gtype == GTYPE_POLYGON and len(cur.rings()) == 1
                  and _convex_ring(cur.rings()[0]))
        if convex:
            # convex ∩ half-plane stays convex: S-H fast path, exact,
            # no overlay machinery — the whole recursion of a convex
            # input (e.g. densified rects) never leaves it
            axis = 0 if x1 - x0 >= y1 - y0 else 1
            cut = halves[0][2] if axis == 0 else halves[0][3]
            for keep_low in (True, False):
                r = _clip_ring_halfplane(cur.rings()[0], axis, cut,
                                         keep_low)
                pieces.append(Geometry(GTYPE_POLYGON, [r])
                              if r is not None
                              else Geometry(GTYPE_POLYGON, []))
        else:
            for hx0, hy0, hx1, hy1 in halves:
                ring = np.array([[hx0, hy0], [hx1, hy0], [hx1, hy1],
                                 [hx0, hy1], [hx0, hy0]], dtype=np.float64)
                pieces.append(intersection(
                    cur, Geometry(GTYPE_POLYGON, [ring])))
        live = [p for p in pieces if p is not None and not p.is_empty()]
        # degenerate cut (all points on one side): emit as-is
        if sum(p.num_points() for p in live) >= 2 * cur.num_points():
            out.append(cur)
            continue
        stack.extend((p, depth + 1) for p in live)
    return out

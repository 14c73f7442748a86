"""Exact DE-9IM intersection matrix for point/line/polygon combos.

Parity target: FilterInRelation.java:30-50 (which delegates to JTS
``Geometry.relate``).  The reference gets an exact matrix from JTS's
noded topology graph; this module re-derives the same result with a
simpler (but still exact) scheme suited to a NumPy kernel:

  1. **Node** every segment of A at every intersection with B (proper
     crossings, endpoint touches, and collinear-overlap endpoints), so
     each elementary *piece* of A either lies entirely in a single
     region of B (interior / boundary / exterior) or meets B only at
     its endpoints.
  2. **Classify piece midpoints** — after noding, the midpoint of a
     piece determines the region of the whole open piece, turning the
     "sampling" of the old heuristic into an exact decision procedure.
  3. **Classify nodes and boundary points** for the 0-dimensional
     matrix entries (touch points, shared endpoints).
  4. **Per-part interior points** settle containment of interiors when
     no boundary of one polygon enters the other (nested / identical
     shells): a polygon part's interior is connected, so removing the
     finite set of isolated boundary contacts cannot split it, and one
     representative point is enough.

Unlike the previous heuristic this is hole-aware by construction: all
point-in-polygon location goes through ``point_in_polygon`` (which
honors holes), and hole rings participate in the noding like any other
ring.

Matrix layout (row = Interior/Boundary/Exterior of A, col = same of B):

    m[0]=II  m[1]=IB  m[2]=IE
    m[3]=BI  m[4]=BB  m[5]=BE
    m[6]=EI  m[7]=EB  m[8]=EE (always '2')

Entries are 'F' or the dimension character '0'/'1'/'2'.
"""

from __future__ import annotations

import math

import numpy as np

from .core import Geometry
from .algorithms import (
    _as_lines, _line_boundary_points, _locate_on_lines, _on_segment,
    _poly_view, _proper, interior_point, locate, orient, point_in_polygon,
)


# ---------------------------------------------------------------- primitives
def _seg_param(px, py, ax, ay, bx, by) -> float:
    """Parameter t of a point known to lie on segment a-b."""
    dx, dy = bx - ax, by - ay
    if abs(dx) >= abs(dy):
        return (px - ax) / dx if dx != 0.0 else 0.0
    return (py - ay) / dy if dy != 0.0 else 0.0


def _seg_nodes(p0, p1, q0, q1):
    """``(ts, overlap)`` for segment p0-p1 against segment q0-q1.

    ``ts`` holds (t, proper) pairs where p0-p1 meets q0-q1: endpoint-on-
    segment touches (exact orientation test), collinear overlap-interval
    endpoints, and proper interior crossings (parametric solve).
    ``proper`` is True only for the crossing branch: by construction such
    a node lies in the *interior* of both segments (all four orientation
    signs are nonzero), a fact the rounded coordinates cannot reliably
    re-derive.  ``overlap`` is the collinear overlap interval (lo, hi) in
    p-params when the segments are collinear and overlapping, else None —
    provenance the piece classifiers use so that dim-1 shared-boundary
    verdicts come from construction, never from a rounded midpoint
    landing on a line by accident."""
    ts: list[tuple[float, bool]] = []
    px, py = p1[0] - p0[0], p1[1] - p0[1]
    qx, qy = q1[0] - q0[0], q1[1] - q0[1]
    d0 = orient(q0[0], q0[1], q1[0], q1[1], p0[0], p0[1])
    d1 = orient(q0[0], q0[1], q1[0], q1[1], p1[0], p1[1])
    e0 = orient(p0[0], p0[1], p1[0], p1[1], q0[0], q0[1])
    e1 = orient(p0[0], p0[1], p1[0], p1[1], q1[0], q1[1])
    if d0 == 0.0 and d1 == 0.0:
        # collinear: overlap interval in p-params
        t0 = _seg_param(q0[0], q0[1], p0[0], p0[1], p1[0], p1[1])
        t1 = _seg_param(q1[0], q1[1], p0[0], p0[1], p1[0], p1[1])
        lo, hi = min(t0, t1), max(t0, t1)
        lo, hi = max(lo, 0.0), min(hi, 1.0)
        if lo <= hi:
            ts.extend(((lo, False), (hi, False)))
            return ts, ((lo, hi) if lo < hi else None)
        return ts, None
    # endpoint touches (exact)
    if d0 == 0.0 and _on_segment(p0[0], p0[1], q0[0], q0[1], q1[0], q1[1]):
        ts.append((0.0, False))
    if d1 == 0.0 and _on_segment(p1[0], p1[1], q0[0], q0[1], q1[0], q1[1]):
        ts.append((1.0, False))
    if e0 == 0.0 and _on_segment(q0[0], q0[1], p0[0], p0[1], p1[0], p1[1]):
        ts.append((_seg_param(q0[0], q0[1], p0[0], p0[1], p1[0], p1[1]), False))
    if e1 == 0.0 and _on_segment(q1[0], q1[1], p0[0], p0[1], p1[0], p1[1]):
        ts.append((_seg_param(q1[0], q1[1], p0[0], p0[1], p1[0], p1[1]), False))
    # proper crossing
    if _proper(d0, d1, e0, e1):
        denom = px * qy - py * qx
        if denom != 0.0:
            t = ((q0[0] - p0[0]) * qy - (q0[1] - p0[1]) * qx) / denom
            if 0.0 < t < 1.0:
                ts.append((t, True))
    return ts, None


def _pieces_and_nodes(lines_a: list, lines_b: list):
    """Node every segment of lines_a against lines_b.

    Returns (pieces, nodes, cross_nodes).  Each *piece* is an elementary
    open sub-segment of A between consecutive nodes, described as
    ``(x0, y0, dx, dy, ta, tb, on_other)`` — the parent segment origin
    and direction, the piece's parameter interval, and whether the piece
    lies inside a collinear-overlap interval with B (known exactly from
    the noding, not from any rounded point probe).  ``nodes`` are the
    node points (t-split locations, including touched endpoints) on A,
    and ``cross_nodes`` the subset produced by the proper-crossing
    branch of ``_seg_nodes`` — those are known *by construction* to lie
    in the interiors of both the A and B segments (the rounded point
    generally fails an exact re-location)."""
    pieces: list[tuple] = []
    nodes: list[tuple[float, float]] = []
    cross_nodes: list[tuple[float, float]] = []
    for la in lines_a:
        for i in range(len(la) - 1):
            p0, p1 = la[i], la[i + 1]
            if p0[0] == p1[0] and p0[1] == p1[1]:
                continue
            lo = (min(p0[0], p1[0]), min(p0[1], p1[1]))
            hi = (max(p0[0], p1[0]), max(p0[1], p1[1]))
            ts = [0.0, 1.0]
            cross_ts: set[float] = set()
            overlaps: list[tuple[float, float]] = []
            for lb in lines_b:
                for j in range(len(lb) - 1):
                    q0, q1 = lb[j], lb[j + 1]
                    if (max(q0[0], q1[0]) < lo[0] or min(q0[0], q1[0]) > hi[0]
                            or max(q0[1], q1[1]) < lo[1]
                            or min(q0[1], q1[1]) > hi[1]):
                        continue
                    seg_ts, ov = _seg_nodes(p0, p1, q0, q1)
                    for t, proper in seg_ts:
                        ts.append(t)
                        if proper:
                            cross_ts.add(t)
                    if ov is not None:
                        overlaps.append(ov)
            ts = sorted(set(min(1.0, max(0.0, t)) for t in ts))
            dx, dy = p1[0] - p0[0], p1[1] - p0[1]
            for a, b in zip(ts, ts[1:]):
                tm = (a + b) / 2.0
                onb = any(olo <= tm <= ohi for olo, ohi in overlaps)
                pieces.append((p0[0], p0[1], dx, dy, a, b, onb))
            for t in ts[1:-1]:
                pt = (p0[0] + dx * t, p0[1] + dy * t)
                nodes.append(pt)
                if t in cross_ts:
                    cross_nodes.append(pt)
            for t in (0.0, 1.0):
                nodes.append((p0[0] + dx * t, p0[1] + dy * t))
    return pieces, nodes, cross_nodes


def _piece_probes(piece):
    """Up to three sample points along an open piece (mid, quarter,
    three-quarter) — used to out-vote a rounded midpoint that lands on a
    boundary line by floating-point accident."""
    x0, y0, dx, dy, ta, tb, _ = piece
    for f in (0.5, 0.25, 0.75):
        t = ta + (tb - ta) * f
        yield (x0 + dx * t, y0 + dy * t)


def _piece_region(piece, where) -> int:
    """Region code (via ``where(x, y)``) of an elementary open piece.

    Collinear-overlap pieces are on the other geometry's boundary *by
    construction* (``_seg_nodes`` provenance).  Any other piece lies
    strictly in one region; a probe that claims a boundary hit (1) is a
    rounding artifact, so the first probe point answering non-boundary
    decides.  This is what keeps relate() symmetric on slanted inputs:
    a proper crossing can no longer masquerade as a dim-1 shared edge
    in just one direction."""
    if piece[6]:
        return 1
    loc = 1
    for x, y in _piece_probes(piece):
        loc = where(x, y)
        if loc != 1:
            return loc
    return loc


def _piece_on_lines(piece, lines, boundary_pts) -> bool:
    """Is an elementary open piece of one line geometry covered by the
    other's 1-dim point set?  True only from collinear-overlap provenance
    or a unanimous on-line vote of the probe points."""
    if piece[6]:
        return True
    return all(_locate_on_lines(x, y, lines, boundary_pts) != 0
               for x, y in _piece_probes(piece))


# ---------------------------------------------------------------- location
def _part_interior_points(g: Geometry) -> list[tuple[float, float]]:
    out = []
    for p in g.parts():
        ip = interior_point(p)
        x, y = float(ip.data[0]), float(ip.data[1])
        if not math.isnan(x):
            out.append((x, y))
    return out


def _pts(g: Geometry) -> list[tuple[float, float]]:
    return [(float(p.data[0]), float(p.data[1])) for p in g.parts()]


# ---------------------------------------------------------------- matrix
def _set(m, idx, dim):
    cur = m[idx]
    if cur == "F" or int(cur) < dim:
        m[idx] = str(dim)


def relate_matrix(a: Geometry, b: Geometry) -> str:
    """Exact DE-9IM matrix string for the supported type combos."""
    da, db = a.dimension(), b.dimension()
    if a.is_empty() or b.is_empty():
        m = ["F"] * 9
        if not a.is_empty():
            _set(m, 2, da)
            if da > 0:
                _set(m, 5, da - 1)
        if not b.is_empty():
            _set(m, 6, db)
            if db > 0:
                _set(m, 7, db - 1)
        m[8] = "2"
        return "".join(m)
    if da > db:
        return _transpose(relate_matrix(b, a))
    if da == db and _geom_key(b) < _geom_key(a):
        # canonical pair order: the noded topology is computed ONCE per
        # unordered pair and the reverse direction is its transpose, so
        # relate(a,b) == transpose(relate(b,a)) holds *identically* —
        # float orientation tests are not direction-consistent on
        # adversarial (e.g. subnormal) coordinates, so computing each
        # direction independently cannot guarantee the DE-9IM symmetry
        # axiom that JTS's relate (FilterInRelation.java:30-50) provides.
        return _transpose(relate_matrix(b, a))
    key = (da, db)
    if key == (0, 0):
        m = _relate_pp(a, b)
    elif key == (0, 1):
        m = _relate_pl(a, b)
    elif key == (0, 2):
        m = _relate_pa(a, b)
    elif key == (1, 1):
        m = _relate_ll(a, b)
    elif key == (1, 2):
        m = _relate_la(a, b)
    else:
        m = _relate_aa(a, b)
    m[8] = "2"
    return "".join(m)


def _transpose(m: str) -> str:
    return "".join(m[i] for i in (0, 3, 6, 1, 4, 7, 2, 5, 8))


def _geom_key(g: Geometry):
    """Deterministic total order on geometries (type, then per-ring
    coordinate bytes) — only used to pick the canonical direction of a
    relate pair.  Polygon parts hold a RAGGED list of rings (shell and
    holes generally differ in vertex count), so the bytes must be taken
    per ring: one asarray over the ring list raises on inhomogeneous
    shapes (ADVICE r4, high — crashed every predicate on holed pairs)."""

    def part_bytes(p):
        if isinstance(p.data, (list, tuple)):
            return tuple(np.asarray(r, dtype=np.float64).tobytes()
                         for r in p.data)
        return (np.asarray(p.data, dtype=np.float64).tobytes(),)

    return (g.gtype, len(g.parts()),
            tuple(part_bytes(p) for p in g.parts()))


def _relate_pp(a, b):
    m = ["F"] * 9
    pa, pb = set(_pts(a)), set(_pts(b))
    if pa & pb:
        _set(m, 0, 0)
    if pa - pb:
        _set(m, 2, 0)
    if pb - pa:
        _set(m, 6, 0)
    return m


def _relate_pl(a, b):
    m = ["F"] * 9
    bnd = _line_boundary_points(b)
    hits = set()
    for x, y in _pts(a):
        loc = locate(x, y, b)
        if loc == 2:
            _set(m, 0, 0)
        elif loc == 1:
            _set(m, 1, 0)
            hits.add((x, y))
        else:
            _set(m, 2, 0)
    _set(m, 6, 1)  # a finite point set never covers a 1-dim interior
    if bnd - hits:
        _set(m, 7, 0)
    return m


def _relate_pa(a, b):
    m = ["F"] * 9
    for x, y in _pts(a):
        loc = locate(x, y, b)
        if loc == 2:
            _set(m, 0, 0)
        elif loc == 1:
            _set(m, 1, 0)
        else:
            _set(m, 2, 0)
    _set(m, 6, 2)
    _set(m, 7, 1)
    return m


def _relate_ll(a, b):
    m = ["F"] * 9
    la, lb = _as_lines(a), _as_lines(b)
    ba, bb = _line_boundary_points(a), _line_boundary_points(b)
    pieces_a, nodes_a, cross_a = _pieces_and_nodes(la, lb)
    pieces_b, nodes_b, _ = _pieces_and_nodes(lb, la)
    shared_1d = False
    for piece in pieces_a:
        if _piece_on_lines(piece, lb, bb):
            # piece of A lying on B: 1-dim common part; the piece minus
            # B's finite boundary still meets both interiors
            _set(m, 0, 1)
            shared_1d = True
        else:
            _set(m, 2, 1)
    for piece in pieces_b:
        if not _piece_on_lines(piece, la, ba):
            _set(m, 6, 1)
    # 0-dim contacts at nodes.  Proper-crossing nodes are interior to
    # both segments by construction — the rounded point would fail the
    # exact _on_segment re-location, so classify from provenance.
    cross = set(cross_a)
    for x, y in nodes_a:
        if (x, y) in cross:
            loc_a = 1 if (x, y) in ba else 2
            loc_b = 1 if (x, y) in bb else 2
        else:
            loc_a = _locate_on_lines(x, y, la, ba)
            loc_b = _locate_on_lines(x, y, lb, bb)
        if loc_a == 2 and loc_b == 2 and not shared_1d:
            _set(m, 0, 0)
        if loc_a == 2 and loc_b == 1:
            _set(m, 1, 0)
        if loc_a == 1 and loc_b == 2:
            _set(m, 3, 0)
        if loc_a == 1 and loc_b == 1:
            _set(m, 4, 0)
    for x, y in ba:
        if _locate_on_lines(x, y, lb, bb) == 0:
            _set(m, 5, 0)
    for x, y in bb:
        if _locate_on_lines(x, y, la, ba) == 0:
            _set(m, 7, 0)
    return m


def _relate_la(a, b):
    m = ["F"] * 9
    la = _as_lines(a)
    ba = _line_boundary_points(a)
    poly = _poly_view(b)
    rings = _as_lines(b)
    pieces_a, nodes_a, cross_a = _pieces_and_nodes(la, rings)
    for piece in pieces_a:
        loc = _piece_region(piece, lambda x, y: point_in_polygon(x, y, poly))
        if loc == 2:
            _set(m, 0, 1)
        elif loc == 1:
            _set(m, 1, 1)  # collinear piece along a ring (by construction)
        else:
            _set(m, 2, 1)
    # A segment properly crossing a ring passes through B's boundary at
    # an interior point of both segments — on-boundary by construction,
    # even when the rounded node fails the exact point_in_polygon probe.
    cross = set(cross_a)
    for x, y in nodes_a:
        if (x, y) in cross:
            loc_a = 1 if (x, y) in ba else 2
            loc = 1
        else:
            loc_a = _locate_on_lines(x, y, la, ba)
            loc = point_in_polygon(x, y, poly)
        if loc == 1:
            if loc_a == 2:
                _set(m, 1, 0)
            elif loc_a == 1:
                _set(m, 4, 0)
    for x, y in ba:
        loc = point_in_polygon(x, y, poly)
        if loc == 2:
            _set(m, 3, 0)
        elif loc == 1:
            _set(m, 4, 0)
        else:
            _set(m, 5, 0)
    _set(m, 6, 2)  # a 1-dim line never covers a polygon interior
    # EB: are B's rings fully covered by A?
    pieces_r, _, _ = _pieces_and_nodes(rings, la)
    for piece in pieces_r:
        if not _piece_on_lines(piece, la, ba):
            _set(m, 7, 1)
            break
    return m


def _relate_aa(a, b):
    m = ["F"] * 9
    pa, pb = _poly_view(a), _poly_view(b)
    rings_a, rings_b = _as_lines(pa), _as_lines(pb)
    pieces_a, nodes_a, cross_a = _pieces_and_nodes(rings_a, rings_b)
    pieces_b, nodes_b, _ = _pieces_and_nodes(rings_b, rings_a)
    in_pb = lambda x, y: point_in_polygon(x, y, pb)  # noqa: E731
    in_pa = lambda x, y: point_in_polygon(x, y, pa)  # noqa: E731
    # pieces of A's rings against B (and vice versa)
    a_ring_in_b_int = a_ring_in_b_ext = False
    for piece in pieces_a:
        loc = _piece_region(piece, in_pb)
        if loc == 2:
            _set(m, 3, 1)       # BI
            a_ring_in_b_int = True
        elif loc == 1:
            _set(m, 4, 1)       # BB: collinear shared ring piece
        else:
            _set(m, 5, 1)       # BE
            a_ring_in_b_ext = True
    b_ring_in_a_int = b_ring_in_a_ext = False
    for piece in pieces_b:
        loc = _piece_region(piece, in_pa)
        if loc == 2:
            _set(m, 1, 1)       # IB
            b_ring_in_a_int = True
        elif loc == 0:
            _set(m, 7, 1)       # EB
            b_ring_in_a_ext = True
    # isolated boundary/boundary touch points.  A proper ring/ring
    # crossing is a boundary/boundary contact by construction — the
    # rounded node generally fails the exact on-boundary probe, so use
    # the provenance first (ADVICE r2: slanted-polygon BB was dropped).
    if m[4] == "F":
        if cross_a:
            _set(m, 4, 0)
        else:
            for x, y in nodes_a:
                if point_in_polygon(x, y, pb) == 1:
                    _set(m, 4, 0)
                    break
    # interiors: a ring of one inside the other's interior separates that
    # interior locally into int/ext of the ring's own polygon -> both II
    # and the corresponding I/E entry are 2-dimensional
    if a_ring_in_b_int or b_ring_in_a_int:
        _set(m, 0, 2)
    if a_ring_in_b_int:
        _set(m, 6, 2)   # just outside A's ring, still inside B
    if b_ring_in_a_int:
        _set(m, 2, 2)   # just outside B's ring, still inside A
    if a_ring_in_b_ext:
        _set(m, 2, 2)
    if b_ring_in_a_ext:
        _set(m, 6, 2)
    # nested / identical shells: no boundary of one enters the other's
    # interior or exterior — settle with per-part interior points (a
    # polygon part's interior is connected; isolated boundary contacts
    # cannot split it, so one representative point decides the part)
    if m[0] == "F" or m[2] == "F" or m[6] == "F":
        for x, y in _part_interior_points(pa):
            loc = point_in_polygon(x, y, pb)
            if loc == 2:
                _set(m, 0, 2)
            elif loc == 0:
                _set(m, 2, 2)
        for x, y in _part_interior_points(pb):
            loc = point_in_polygon(x, y, pa)
            if loc == 2:
                _set(m, 0, 2)
            elif loc == 0:
                _set(m, 6, 2)
    return m


# ---------------------------------------------------------------- pattern
def matches(matrix: str, pattern: str) -> bool:
    if len(pattern) != 9:
        raise ValueError("DE-9IM pattern must have 9 chars")
    for mc, pc in zip(matrix, pattern):
        if pc == "*":
            continue
        if pc == "T":
            if mc == "F":
                return False
        elif pc != mc:
            return False
    return True

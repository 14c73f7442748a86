"""Topological predicates (DE-9IM-lite) for the supported type combos.

Parity targets: the AbstractFilterGeoPipe family — FilterIntersect.java,
FilterContain.java, FilterWithin.java, FilterCover.java, FilterCoveredBy.java,
FilterDisjoint.java, FilterCross.java, FilterOverlap.java, FilterTouch.java,
FilterEqualExact/Norm/Topo.java, FilterInRelation.java (relate pattern).

Every predicate does the reference's two-phase dance internally: envelope
pre-test then exact test (cf. FilterContain.java:45-46) — though in the
engine the envelope phase is a *column* predicate evaluated JVM-side before
these Python kernels ever run.

Supported combos: point/line/polygon (and their multis) in all pairings;
exotic mixed collections raise NotImplementedError rather than silently
returning wrong answers.
"""

from __future__ import annotations

import numpy as np

from .core import (
    GTYPE_LINESTRING, GTYPE_MULTILINESTRING, GTYPE_MULTIPOLYGON, GTYPE_POLYGON,
    Geometry, envelope_covers,
)
from .clip import _SNAP
from .algorithms import any_proper_crossing, edges, locate, point_in_ring
from .relate import matches, relate_matrix  # noqa: F401  (re-exported)


def _dim(g: Geometry) -> int:
    return g.dimension()


# Envelope rejects use the kernel snap resolution (clip._SNAP): the
# relate matrix treats points within it as coincident, so a reject must
# only fire when the separation/overhang EXCEEDS it — an exact
# comparison reject would contradict the matrix on e.g. a vertex
# 2.7e-156 past the other's envelope that the matrix snaps onto it
# (caught by the triangle fuzz).
def _env_separated(e1, e2) -> bool:
    """Envelopes separated by MORE than the kernel snap resolution."""
    return (e1[2] < e2[0] - _SNAP or e2[2] < e1[0] - _SNAP
            or e1[3] < e2[1] - _SNAP or e2[3] < e1[1] - _SNAP)


def _env_covers_tol(e1, e2) -> bool:
    """e1 covers e2 up to the kernel snap resolution."""
    return (e1[0] <= e2[0] + _SNAP and e1[1] <= e2[1] + _SNAP
            and e1[2] >= e2[2] - _SNAP and e1[3] >= e2[3] - _SNAP)


# ------------------------------------------------------------------ intersects
def intersects(a: Geometry, b: Geometry) -> bool:
    """Derived from the exact DE-9IM matrix (not matches "FF*FF****").

    The obvious fast path — ``distance(a, b) == 0.0`` — is NOT used: the
    squared-sum distance kernel underflows to exact 0.0 on denormal-scale
    coordinates, silently contradicting the matrix.  Routing every
    boolean predicate through the one noded topology keeps the whole
    family self-consistent (JTS does the same: every predicate is a
    pattern over ``Geometry.relate``, FilterInRelation.java:30-50)."""
    if a.is_empty() or b.is_empty():
        return False
    # Envelope reject (FilterIntersect.java:45 two-phase parity), with a
    # snap-resolution guard band so it can never contradict the matrix.
    # Restores O(1) rejection for far-apart direct st_intersects calls
    # (ADVICE r4, medium: every call was paying the full O(Na*Nb) noding).
    if _env_separated(a.envelope(), b.envelope()):
        return False
    return not matches(relate_matrix(a, b), "FF*FF****")


def disjoint(a: Geometry, b: Geometry) -> bool:
    return not intersects(a, b)


# ------------------------------------------------------------------ containment
def covers(a: Geometry, b: Geometry) -> bool:
    """Every point of b is in (interior ∪ boundary of) a.

    Point operands use the direct (exact, hole-aware) location test; all
    other combos go through the exact DE-9IM matrix (relate.py) — covers
    ⇔ E(a)∩I(b) = F and E(a)∩B(b) = F and a,b intersect."""
    if a.is_empty() or b.is_empty():
        return False
    da, db = _dim(a), _dim(b)
    if db > da:
        return False
    if db == 0:
        if not envelope_covers(a.envelope(), b.envelope()):
            return False
        return all(locate(float(p.data[0]), float(p.data[1]), a) > 0
                   for p in b.parts())
    # envelope reject with snap guard band: a vertex of b beyond a's
    # envelope by more than the kernel resolution cannot lie in a
    if not _env_covers_tol(a.envelope(), b.envelope()):
        return False
    m = relate_matrix(a, b)
    return (m[6] == "F" and m[7] == "F"
            and any(m[i] != "F" for i in (0, 1, 3, 4)))


def contains(a: Geometry, b: Geometry) -> bool:
    """JTS contains: covers + interiors intersect (b not entirely on
    boundary): matrix T*****FF*."""
    if a.is_empty() or b.is_empty():
        return False
    da, db = _dim(a), _dim(b)
    if db > da:
        return False
    if db == 0:
        if not envelope_covers(a.envelope(), b.envelope()):
            return False
        locs = [locate(float(p.data[0]), float(p.data[1]), a)
                for p in b.parts()]
        return all(v > 0 for v in locs) and any(v == 2 for v in locs)
    if not _env_covers_tol(a.envelope(), b.envelope()):
        return False  # snap-tolerant reject, see covers()
    m = relate_matrix(a, b)
    return m[0] != "F" and m[6] == "F" and m[7] == "F"


def within(a: Geometry, b: Geometry) -> bool:
    return contains(b, a)


def covered_by(a: Geometry, b: Geometry) -> bool:
    return covers(b, a)


# ------------------------------------------------------------------ touch/cross/overlap
def touches(a: Geometry, b: Geometry) -> bool:
    """Intersect, but interiors do not intersect: FT*******|F**T*****|F***T****."""
    if not intersects(a, b):
        return False
    m = relate_matrix(a, b)
    return m[0] == "F" and (m[1] != "F" or m[3] != "F" or m[4] != "F")


def crosses(a: Geometry, b: Geometry) -> bool:
    """dim(intersection) < min(dim(a), dim(b)) and interiors intersect:
    T*T****** (dim a < dim b), T*****T** (dim a > dim b), 0******** (1/1)."""
    da, db = _dim(a), _dim(b)
    if not intersects(a, b):
        return False
    if da == db and da != 1:
        return False  # equal dims (0/0, 2/2) never cross
    m = relate_matrix(a, b)
    if da == db == 1:
        return m[0] == "0"
    if da < db:
        return m[0] != "F" and m[2] != "F"
    return m[0] != "F" and m[6] != "F"


def overlaps(a: Geometry, b: Geometry) -> bool:
    """Same dimension, interiors intersect, neither covers the other:
    T*T***T** (dim 0/2), 1*T***T** (dim 1)."""
    da, db = _dim(a), _dim(b)
    if da != db:
        return False
    if not intersects(a, b):
        return False
    m = relate_matrix(a, b)
    ii_ok = m[0] == "1" if da == 1 else m[0] != "F"
    return ii_ok and m[2] != "F" and m[6] != "F"


# ------------------------------------------------------------------ equality
def equals_exact(a: Geometry, b: Geometry, tol: float = 0.0) -> bool:
    if a.gtype != b.gtype:
        return False
    ca, cb = a.all_coords(), b.all_coords()
    if ca.shape != cb.shape:
        return False
    if tol == 0.0:
        return bool((ca == cb).all())
    return bool((np.abs(ca - cb) <= tol).all())


def _norm(g: Geometry) -> Geometry:
    """JTS normalize-lite: rings start at min vertex, CCW shells."""
    from .clip import _normalize
    if g.gtype in (GTYPE_POLYGON, GTYPE_MULTIPOLYGON):
        g = _normalize(g)
        parts = []
        for p in g.parts():
            rings = []
            for r in p.data:
                body = r[:-1]
                k = int(np.lexsort((body[:, 1], body[:, 0]))[0])
                body = np.vstack([body[k:], body[:k]])
                rings.append(np.vstack([body, body[:1]]))
            parts.append(Geometry(GTYPE_POLYGON, rings))
        return parts[0] if len(parts) == 1 else Geometry(GTYPE_MULTIPOLYGON, parts)
    return g


def equals_norm(a: Geometry, b: Geometry) -> bool:
    return equals_exact(_norm(a), _norm(b), 0.0)


def equals_topo(a: Geometry, b: Geometry) -> bool:
    """Topological equality: T*F**FFF* (same point sets)."""
    if a.gtype == b.gtype and equals_exact(a, b):
        return True
    if a.is_empty() or b.is_empty():
        return False
    m = relate_matrix(a, b)
    return (m[0] != "F" and m[2] == "F" and m[5] == "F"
            and m[6] == "F" and m[7] == "F")


# ------------------------------------------------------------------ validity
def is_valid(g: Geometry) -> bool:
    """Simplified OGC validity: rings closed, >=4 pts, no self-intersection
    of the shell, holes inside shell."""
    if g.gtype in (GTYPE_POLYGON, GTYPE_MULTIPOLYGON):
        for part in g.parts():
            rings = part.data
            if not rings:
                continue
            for r in rings:
                if len(r) < 4:
                    return False
                if (r[0] != r[-1]).any():
                    return False
                e = edges(Geometry(GTYPE_LINESTRING, r))
                if any_proper_crossing(e, e):
                    return False
            shell = rings[0]
            for h in rings[1:]:
                for v in h[:-1]:
                    if point_in_ring(float(v[0]), float(v[1]), shell) == 0:
                        return False
        return True
    if g.gtype in (GTYPE_LINESTRING, GTYPE_MULTILINESTRING):
        for part in g.parts():
            if len(part.data) == 1:
                return False
        return True
    return True


# ------------------------------------------------------------------ relate
def relate(a: Geometry, b: Geometry, pattern: str) -> bool:
    """DE-9IM pattern match (FilterInRelation.java:30-50), computed on the
    exact noding-based matrix (relate.py)."""
    return matches(relate_matrix(a, b), pattern)

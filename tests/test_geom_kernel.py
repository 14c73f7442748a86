"""Unit tests for the pure-NumPy geometry kernel.

Mirrors the reference's operator conformance style (GeoPipesDocTest.java:104-846
asserts exact WKT/values per pipe; EnvelopeTests.java for envelope math).
"""

import math

import numpy as np
import pytest

from spatial_spark.geom import (
    Geometry, from_wkb, from_wkt, to_wkb, to_wkt,
)
from spatial_spark.geom.algorithms import (
    area, boundary, buffer_geom, centroid, convex_hull, densify, distance,
    envelope_geom, interior_point, length, orthodromic_distance_km,
    orthodromic_length_km, simplify_dp, affine_transform,
)
from spatial_spark.geom.clip import (
    clip_line, difference, intersection, sym_difference, union, union_many,
)
from spatial_spark.geom.predicates import (
    contains, covered_by, covers, crosses, disjoint, equals_exact, equals_norm,
    equals_topo, intersects, is_valid, overlaps, relate, touches, within,
)

SQ1 = from_wkt("POLYGON ((0 0, 10 0, 10 10, 0 10, 0 0))")
SQ2 = from_wkt("POLYGON ((5 5, 15 5, 15 15, 5 15, 5 5))")
SQ3 = from_wkt("POLYGON ((20 20, 30 20, 30 30, 20 30, 20 20))")
INNER = from_wkt("POLYGON ((2 2, 4 2, 4 4, 2 4, 2 2))")


# ---------------------------------------------------------------- wkt/wkb
def test_wkt_roundtrip():
    for s in [
        "POINT (1 2)",
        "LINESTRING (0 0, 1 1, 2 0)",
        "POLYGON ((0 0, 10 0, 10 10, 0 10, 0 0))",
        "POLYGON ((0 0, 10 0, 10 10, 0 10, 0 0), (2 2, 4 2, 4 4, 2 4, 2 2))",
        "MULTIPOINT ((1 1), (2 2))",
        "MULTILINESTRING ((0 0, 1 1), (2 2, 3 3))",
        "MULTIPOLYGON (((0 0, 1 0, 1 1, 0 1, 0 0)), ((2 2, 3 2, 3 3, 2 3, 2 2)))",
        "GEOMETRYCOLLECTION (POINT (1 2), LINESTRING (0 0, 1 1))",
    ]:
        assert to_wkt(from_wkt(s)) == s


def test_wkb_roundtrip():
    for s in [
        "POINT (1.5 -2.5)",
        "LINESTRING (0 0, 1 1, 2 0)",
        "POLYGON ((0 0, 10 0, 10 10, 0 10, 0 0), (2 2, 4 2, 4 4, 2 4, 2 2))",
        "MULTIPOLYGON (((0 0, 1 0, 1 1, 0 1, 0 0)))",
        "GEOMETRYCOLLECTION (POINT (1 2))",
    ]:
        g = from_wkt(s)
        assert to_wkt(from_wkb(to_wkb(g))) == s


def test_wkt_empty():
    assert to_wkt(from_wkt("POINT EMPTY")) == "POINT EMPTY"
    assert from_wkt("POLYGON EMPTY").is_empty()


# ---------------------------------------------------------------- measures
def test_area_with_hole():
    holed = from_wkt(
        "POLYGON ((0 0, 10 0, 10 10, 0 10, 0 0), (2 2, 4 2, 4 4, 2 4, 2 2))"
    )
    assert area(holed) == 96.0
    assert area(SQ1) == 100.0


def test_length_and_centroid():
    ls = from_wkt("LINESTRING (0 0, 3 4)")
    assert length(ls) == 5.0
    c = centroid(SQ1)
    assert tuple(c.data) == (5.0, 5.0)
    c2 = centroid(ls)
    assert tuple(c2.data) == (1.5, 2.0)


def test_envelope_and_boundary():
    e = envelope_geom(from_wkt("LINESTRING (1 2, 5 7)"))
    assert to_wkt(e) == "POLYGON ((1 2, 5 2, 5 7, 1 7, 1 2))"
    b = boundary(SQ1)
    assert b.gtype == 2 and len(b.data) == 5


def test_distance():
    assert distance(from_wkt("POINT (0 0)"), from_wkt("POINT (3 4)")) == 5.0
    assert distance(SQ1, SQ3) == pytest.approx(math.hypot(10, 10))
    assert distance(SQ1, SQ2) == 0.0
    assert distance(from_wkt("POINT (5 5)"), SQ1) == 0.0
    assert distance(from_wkt("POINT (15 5)"), SQ1) == 5.0


def test_orthodromic():
    # reference formula: spherical law of cosines R=6371
    d = orthodromic_distance_km(0, 0, 0, 1)
    assert d == pytest.approx(6371 * math.pi / 180, rel=1e-9)
    ln = orthodromic_length_km(from_wkt("LINESTRING (0 0, 0 1, 0 2)"))
    assert ln == pytest.approx(2 * 6371 * math.pi / 180, rel=1e-9)


def test_convex_hull():
    mp = from_wkt("MULTIPOINT ((0 0), (10 0), (10 10), (0 10), (5 5))")
    h = convex_hull(mp)
    assert area(h) == 100.0


def test_simplify_densify():
    ls = from_wkt("LINESTRING (0 0, 1 0.01, 2 0, 3 0.01, 4 0)")
    s = simplify_dp(ls, 0.1)
    assert len(s.data) == 2
    d = densify(from_wkt("LINESTRING (0 0, 10 0)"), 3.0)
    assert len(d.data) == 5  # 4 pieces of 2.5


def test_affine():
    g = affine_transform(from_wkt("POINT (1 2)"), [2, 0, 0, 2, 10, 20])
    assert tuple(g.data) == (12.0, 24.0)


def test_interior_point():
    ip = interior_point(SQ1)
    assert contains(SQ1, ip)
    # C-shape where centroid is outside
    c_shape = from_wkt(
        "POLYGON ((0 0, 10 0, 10 2, 2 2, 2 8, 10 8, 10 10, 0 10, 0 0))"
    )
    ip2 = interior_point(c_shape)
    assert intersects(c_shape, ip2)


def test_buffer_point():
    b = buffer_geom(from_wkt("POINT (0 0)"), 10.0)
    # 32-gon area approaches pi*r^2 from below
    assert area(b) == pytest.approx(math.pi * 100, rel=0.01)


def test_buffer_negative():
    """JTS buffer(-d) parity: polygon erosion (Buffer.java:29-54)."""
    r = Geometry.box(0, 0, 10, 6)
    # analytic shrunk rect: convex corners stay sharp under erosion
    assert area(buffer_geom(r, -1.0)) == pytest.approx(8 * 4, abs=1e-9)
    assert area(buffer_geom(r, -2.5)) == pytest.approx(5 * 1, abs=1e-9)
    # eroding past the inradius empties the polygon
    assert buffer_geom(r, -3.0).is_empty()
    assert buffer_geom(r, -100.0).is_empty()
    # a hole grows by Minkowski sum: hole area 4 + perimeter*d + pi_32*d^2
    holed = Geometry.polygon(
        [[0, 0], [10, 0], [10, 10], [0, 10], [0, 0]],
        holes=[[[4, 4], [6, 4], [6, 6], [4, 6], [4, 4]]])
    pi_32 = 16 * math.sin(math.pi / 16)   # discretized pi of the 32-gon arcs
    assert area(buffer_geom(holed, -1.0)) == pytest.approx(
        8 * 8 - (4 + 8 + pi_32), abs=1e-6)
    # 0/1-dim inputs erode to empty, as in JTS
    assert buffer_geom(from_wkt("LINESTRING (0 0, 5 0)"), -1.0).is_empty()
    assert buffer_geom(from_wkt("POINT (1 1)"), -0.5).is_empty()
    # dist=0 is identity
    assert area(buffer_geom(r, 0.0)) == pytest.approx(60.0)


# ---------------------------------------------------------------- predicates
def test_basic_predicates():
    assert intersects(SQ1, SQ2)
    assert not intersects(SQ1, SQ3)
    assert disjoint(SQ1, SQ3)
    assert contains(SQ1, INNER)
    assert within(INNER, SQ1)
    assert covers(SQ1, INNER)
    assert covered_by(INNER, SQ1)
    assert overlaps(SQ1, SQ2)
    assert not overlaps(SQ1, INNER)
    assert not contains(SQ1, SQ2)


def test_point_predicates():
    p_in = from_wkt("POINT (5 5)")
    p_bnd = from_wkt("POINT (0 5)")
    p_out = from_wkt("POINT (50 50)")
    assert contains(SQ1, p_in)
    assert not contains(SQ1, p_bnd)  # boundary point: covers yes, contains no
    assert covers(SQ1, p_bnd)
    assert not intersects(SQ1, p_out)
    assert touches(SQ1, p_bnd)


def test_touches():
    adj = from_wkt("POLYGON ((10 0, 20 0, 20 10, 10 10, 10 0))")
    assert touches(SQ1, adj)
    assert not overlaps(SQ1, adj)
    assert not touches(SQ1, SQ2)  # interiors overlap


def test_crosses():
    line = from_wkt("LINESTRING (-5 5, 15 5)")
    assert crosses(line, SQ1)
    l2 = from_wkt("LINESTRING (0 0, 10 10)")
    l3 = from_wkt("LINESTRING (0 10, 10 0)")
    assert crosses(l2, l3)
    inside_line = from_wkt("LINESTRING (1 1, 9 9)")
    assert not crosses(inside_line, SQ1)  # fully within, doesn't cross


def test_equals_variants():
    a = from_wkt("POLYGON ((0 0, 10 0, 10 10, 0 10, 0 0))")
    b = from_wkt("POLYGON ((10 0, 10 10, 0 10, 0 0, 10 0))")  # rotated start
    assert equals_exact(a, SQ1)
    assert not equals_exact(b, SQ1)
    assert equals_norm(b, SQ1)
    assert equals_topo(b, SQ1)


def test_is_valid():
    assert is_valid(SQ1)
    bowtie = Geometry(3, [np.array([[0, 0], [10, 10], [10, 0], [0, 10], [0, 0]], dtype=float)])
    assert not is_valid(bowtie)


def test_relate():
    # within pattern
    assert relate(INNER, SQ1, "T*F**F***")
    # intersects-style pattern
    assert relate(SQ1, SQ2, "T********")


# ---------------------------------------------------------------- overlay
def test_intersection_squares():
    inter = intersection(SQ1, SQ2)
    assert area(inter) == pytest.approx(25.0)
    e = inter.envelope()
    assert e == (5.0, 5.0, 10.0, 10.0)


def test_union_squares():
    u = union(SQ1, SQ2)
    assert area(u) == pytest.approx(175.0)


def test_union_disjoint():
    u = union(SQ1, SQ3)
    assert area(u) == pytest.approx(200.0)
    assert u.num_geometries() == 2


def test_difference():
    d = difference(SQ1, SQ2)
    assert area(d) == pytest.approx(75.0)


def test_symdifference():
    s = sym_difference(SQ1, SQ2)
    assert area(s) == pytest.approx(150.0)


def test_difference_hole_punch():
    d = difference(SQ1, INNER)
    assert area(d) == pytest.approx(96.0)


def test_union_many():
    squares = [
        from_wkt("POLYGON ((0 0, 2 0, 2 2, 0 2, 0 0))"),
        from_wkt("POLYGON ((1 0, 3 0, 3 2, 1 2, 1 0))"),
        from_wkt("POLYGON ((10 10, 12 10, 12 12, 10 12, 10 10))"),
    ]
    u = union_many(squares)
    assert area(u) == pytest.approx(6 + 4)


def test_clip_line():
    line = from_wkt("LINESTRING (-5 5, 15 5)")
    c = clip_line(line, SQ1)
    assert length(c) == pytest.approx(10.0)


# ------------------------------------------------- collinear-edge overlay
def test_union_side_by_side():
    a = from_wkt("POLYGON ((0 0, 2 0, 2 2, 0 2, 0 0))")
    b = from_wkt("POLYGON ((2 0, 4 0, 4 2, 2 2, 2 0))")
    assert area(union(a, b)) == pytest.approx(8.0)


def test_union_collinear_partial_overlap():
    a = from_wkt("POLYGON ((0 0, 3 0, 3 2, 0 2, 0 0))")
    b = from_wkt("POLYGON ((1 0, 4 0, 4 2, 1 2, 1 0))")
    assert area(union(a, b)) == pytest.approx(8.0)
    assert area(intersection(a, b)) == pytest.approx(4.0)
    assert area(difference(a, b)) == pytest.approx(2.0)
    assert area(sym_difference(a, b)) == pytest.approx(4.0)


def test_union_identical():
    a = from_wkt("POLYGON ((0 0, 2 0, 2 2, 0 2, 0 0))")
    assert area(union(a, a)) == pytest.approx(4.0)
    assert area(intersection(a, a)) == pytest.approx(4.0)
    assert area(difference(a, a)) == pytest.approx(0.0)


def test_union_contained_shared_edge():
    big = from_wkt("POLYGON ((0 0, 4 0, 4 4, 0 4, 0 0))")
    small = from_wkt("POLYGON ((0 0, 2 0, 2 2, 0 2, 0 0))")  # shares corner edges
    assert area(union(big, small)) == pytest.approx(16.0)
    assert area(difference(big, small)) == pytest.approx(12.0)


def test_difference_mixed_dimensions():
    """Non-polygonal difference (Difference.java:30-52 semantics)."""
    from spatial_spark.geom.algorithms import length as glen
    box = Geometry.box(0, 0, 10, 10)
    # line crossing a polygon: only the outside parts remain
    l = from_wkt("LINESTRING (-2 5, 12 5)")
    assert glen(difference(l, box)) == pytest.approx(4.0)
    # line fully inside / riding the boundary: empty
    assert difference(from_wkt("LINESTRING (2 2, 8 8)"), box).is_empty()
    assert difference(from_wkt("LINESTRING (0 0, 10 0)"), box).is_empty()
    # line - line: collinear overlap removed, crossings keep everything
    a = from_wkt("LINESTRING (0 0, 10 0)")
    assert glen(difference(a, from_wkt("LINESTRING (3 0, 5 0)"))) == pytest.approx(8.0)
    assert glen(difference(a, from_wkt("LINESTRING (0 10, 10 0)"))) == pytest.approx(10.0)
    # point - polygon
    assert difference(from_wkt("POINT (5 5)"), box).is_empty()
    assert not difference(from_wkt("POINT (50 5)"), box).is_empty()
    mp = difference(from_wkt("MULTIPOINT ((5 5), (50 5), (60 6))"), box)
    assert len(mp.parts()) == 2
    # subtracting lower-dimension leaves input unchanged
    assert area(difference(box, a)) == pytest.approx(100.0)
    assert glen(difference(a, from_wkt("POINT (5 0)"))) == pytest.approx(10.0)
    # mixed symdifference collects both sides
    sd = sym_difference(l, box)
    assert sorted(p.gtype for p in sd.parts()) == [2, 2, 3]


def test_uniform_batch_decode_matches_per_row():
    """The one-pass batch decode must agree bit-for-bit with from_wkb on
    uniform batches, and refuse mixed batches."""
    import pandas as pd
    import numpy as np
    from spatial_spark.functions.scalar import _uniform_batch
    from spatial_spark.geom import Geometry, from_wkb, to_wkb
    from spatial_spark.geom.algorithms import area, centroid

    rects = [to_wkb(Geometry.box(i, i, i + 2.5, i + 1.5)) for i in range(50)]
    ub = _uniform_batch(pd.Series(rects))
    assert ub is not None and ub[1] == 3 and ub[0].shape == (50, 5, 2)
    for i, b in enumerate(rects):
        assert np.array_equal(ub[0][i], from_wkb(b).data[0])
    # mixed vertex counts / types refuse
    tri = to_wkb(Geometry(3, [np.array([[0, 0], [4, 0], [2, 3], [0, 0]],
                                       dtype=float)]))
    assert _uniform_batch(pd.Series(rects + [tri])) is None
    pt = to_wkb(Geometry.point(1.0, 2.0))
    ubp = _uniform_batch(pd.Series([pt] * 7))
    assert ubp is not None and ubp[1] == 1 and ubp[0].shape == (7, 1, 2)
    assert _uniform_batch(pd.Series([pt, None, pt])) is None


def test_batched_centroid_bit_identical_to_kernel():
    """ADVICE r4: a row's centroid bytes must not depend on whether its
    Arrow batch happened to be uniform.  The batched formula replicates
    the kernel's exact op order (incl. the (cx*s)/s weight round-trip),
    so slanted triangles — where sum/(6*tot) and (cx*s)/s can differ by
    an ulp — must come out byte-equal."""
    import pandas as pd
    import numpy as np
    from spatial_spark.functions.scalar import st_centroid
    from spatial_spark.geom import Geometry, from_wkb, to_wkb
    from spatial_spark.geom.algorithms import centroid

    rng = np.random.default_rng(42)
    tris = []
    for _ in range(300):
        p = rng.uniform(-1e3, 1e3, (3, 2)) * rng.choice([1e-6, 1.0, 1e4])
        ring = np.vstack([p, p[:1]])
        tris.append(to_wkb(Geometry(3, [ring])))
    batched = st_centroid.func(pd.Series(tris))
    for b, out in zip(tris, batched):
        assert out == to_wkb(centroid(from_wkb(b))), from_wkb(b)


def test_convex_ring_is_scale_free():
    """_convex_ring decides by turn direction relative to edge lengths:
    a U at 1e-7 scale (about 1 cm in degrees) is as concave as at scale
    1, so subdivide cuts both the same way."""
    import numpy as np
    from spatial_spark.geom import Geometry
    from spatial_spark.geom import algorithms as alg
    from spatial_spark.geom.algorithms import densify
    from spatial_spark.geom.clip import _convex_ring, subdivide

    u = np.array([(0, 0), (3, 0), (3, 10), (2, 10), (2, 1), (1, 1), (1, 10),
                  (0, 10), (0, 0)], dtype=np.float64)
    assert not _convex_ring(u) and not _convex_ring(u * 1e-7)
    assert _convex_ring(np.array([(0, 0), (1, 0), (2, 0), (2, 1), (0, 1),
                                  (0, 0)], dtype=np.float64) * 1e-7)
    big = subdivide(densify(Geometry.polygon(u), 2.0), max_vertices=16)
    small = subdivide(densify(Geometry.polygon(u * 1e-7), 2e-7),
                      max_vertices=16)
    assert len(small) == len(big)

    def key(parts, s):
        return sorted((round(alg.area(p) / s / s, 9),
                       tuple(np.round(np.array(p.envelope()) / s, 9)))
                      for p in parts)

    assert key(small, 1e-7) == key(big, 1.0)


def test_subdivide_tiles_exactly():
    """subdivide: every piece under the vertex cap, areas sum to the
    original, pieces pairwise interior-disjoint — square, L-shape, and
    a holed polygon."""
    from spatial_spark.geom import from_wkt
    from spatial_spark.geom import algorithms as alg
    from spatial_spark.geom.algorithms import densify
    from spatial_spark.geom.clip import intersection, subdivide

    cases = [
        ("POLYGON ((0 0, 8 0, 8 8, 0 8, 0 0))", 0.5, 20, 64.0),
        ("POLYGON ((0 0, 10 0, 10 4, 4 4, 4 10, 0 10, 0 0))",
         0.25, 24, 64.0),
        ("POLYGON ((0 0, 12 0, 12 12, 0 12, 0 0), "
         "(4 4, 8 4, 8 8, 4 8, 4 4))", 0.5, 30, 144.0 - 16.0),
    ]
    for wkt, step, mv, want_area in cases:
        g = densify(from_wkt(wkt), step)
        parts = subdivide(g, max_vertices=mv)
        assert len(parts) > 1
        assert all(p.num_points() <= mv for p in parts)
        assert abs(sum(alg.area(p) for p in parts) - want_area) < 1e-6
        for i in range(len(parts)):
            for j in range(i + 1, len(parts)):
                inter = intersection(parts[i], parts[j])
                assert alg.area(inter) < 1e-6, (wkt, i, j)

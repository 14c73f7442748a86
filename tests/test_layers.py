"""Layer DDL/DML + search tests.

Mirrors the reference's test tiers (SURVEY.md §5): TestSimplePointLayer.java
golden within-distance counts, LayersTest.java DDL, TestRemove.java deletes.
"""

import math

import numpy as np
import pytest
from pyspark.sql import functions as F

from spatial_spark.geom.algorithms import orthodromic_distance_km


def _grid_points(spark, n_side=20, x0=12.9, y0=56.0, step=0.01):
    rows = [
        (i * n_side + j, x0 + i * step, y0 + j * step)
        for i in range(n_side) for j in range(n_side)
    ]
    return spark.createDataFrame(rows, "id long, lon double, lat double")


def test_layer_ddl_and_catalog(ctx, spark):
    layer = ctx.create_point_layer("pts", x="lon", y="lat")
    assert ctx.layers() == ["pts"]
    layer.add(_grid_points(spark))
    assert layer.count() == 400
    meta = ctx.meta("pts")
    assert meta["encoder"] == "point"
    assert "lon" in meta["attrs"]
    bbox = layer.bbox()
    assert bbox[0] == pytest.approx(12.9)
    assert bbox[2] == pytest.approx(12.9 + 19 * 0.01)
    ctx.remove_layer("pts")
    assert ctx.layers() == []


def test_within_distance_golden(ctx, spark):
    """Reproduce the reference's TestSimplePointLayer style assertions:
    dense grid, exact result counts from an independent oracle."""
    layer = ctx.create_point_layer("neo", x="lon", y="lat")
    layer.add(_grid_points(spark))
    probe = (13.0, 56.1)
    for km in (0.5, 1.0, 2.0):
        res = layer.within_distance(probe[0], probe[1], km)
        got = res.count()
        # oracle: direct haversine over the same grid
        exp = sum(
            1
            for i in range(20) for j in range(20)
            if orthodromic_distance_km(12.9 + i * 0.01, 56.0 + j * 0.01, *probe) <= km
        )
        assert got == exp and got > 0
    # ordering: first row is the nearest
    first = layer.within_distance(probe[0], probe[1], 2.0).first()
    d0 = orthodromic_distance_km(13.0, 56.1, *probe)
    assert first["distance"] == pytest.approx(d0, abs=1e-9)


def test_closest_k(ctx, spark):
    layer = ctx.create_point_layer("knn", x="lon", y="lat")
    layer.add(_grid_points(spark))
    res = layer.closest(13.0, 56.1, k=7)
    rows = res.collect()
    assert len(rows) == 7
    dists = [r["distance"] for r in rows]
    assert dists == sorted(dists)


def test_bbox_search_and_cql(ctx, spark):
    layer = ctx.create_point_layer("win", x="lon", y="lat")
    layer.add(_grid_points(spark))
    res = layer.bbox_search(12.95, 56.05, 13.0, 56.1)
    exp = sum(
        1 for i in range(20) for j in range(20)
        if 12.95 <= 12.9 + i * 0.01 <= 13.0 and 56.05 <= 56.0 + j * 0.01 <= 56.1
    )
    assert res.count() == exp
    cql = layer.cql("BBOX(the_geom, 12.95, 56.05, 13.0, 56.1)")
    assert cql.count() == exp


def test_wkt_layer_and_intersects(ctx, spark):
    layer = ctx.create_wkt_layer("shapes")
    df = spark.createDataFrame(
        [
            (1, "POLYGON ((0 0, 2 0, 2 2, 0 2, 0 0))"),
            (2, "POLYGON ((10 10, 12 10, 12 12, 10 12, 10 10))"),
            (3, "LINESTRING (1 1, 11 11)"),
            (4, "POINT (1 1)"),
        ],
        "id long, wkt string",
    )
    layer.add(df, wkt="wkt")
    assert layer.count() == 4
    res = layer.intersects("POLYGON ((0.5 0.5, 1.5 0.5, 1.5 1.5, 0.5 1.5, 0.5 0.5))")
    ids = {r["id"] for r in res.collect()}
    assert ids == {1, 3, 4}


def test_update_delete(ctx, spark):
    layer = ctx.create_point_layer("mut", x="lon", y="lat")
    layer.add(_grid_points(spark, n_side=3))
    assert layer.count() == 9
    layer.delete([0, 1])
    assert layer.count() == 7


def test_file_level_mutation_leaves_other_files_alone(ctx, spark):
    """VERDICT r5 ask #5: on an id-indexed layer, update/delete by id list
    rewrites ONLY the part files whose id/zkey ranges intersect the
    mutation set (EditableLayerImpl.java:102-238 semantic target, scaled
    to file granularity)."""
    import os

    def parts(path):
        return {p for p in os.listdir(path) if p.startswith("part-")}

    layer = ctx.create_point_layer("filemut", x="lon", y="lat",
                                   id_index=True)
    layer.add(_grid_points(spark, n_side=20))   # 400 rows over many files
    store = layer.path
    before = parts(store)
    assert len(before) >= 3, "need a multi-file layer for this test"
    # locate which files hold id 0 and id 399 (opposite zkey corners)
    affected = set(layer._files_for_ids([0]))
    assert 0 < len(affected) < len(before)
    layer.update([0], flag="touched")
    after = parts(store)
    untouched = before - {os.path.basename(f) for f in affected}
    assert untouched <= after, "files without the mutated id were rewritten"
    rows = {r["id"]: r["flag"] for r in layer.df().collect()}
    assert len(rows) == 400 and rows[0] == "touched" and rows[399] is None
    # sidecar still answers point lookups after the patch
    assert layer.lookup_row(0)["flag"] == "touched"
    assert layer.lookup_row(399) is not None
    # file-level delete
    before2 = parts(store)
    affected2 = {os.path.basename(f) for f in layer._files_for_ids([399])}
    layer.delete([399])
    after2 = parts(store)
    assert (before2 - affected2) <= after2
    assert layer.count() == 399
    assert layer.lookup_row(399) is None
    # stats count tracked through both mutations
    assert layer.stats["count"] == 399
    # update of a nonexistent id is a no-op that rewrites nothing
    before3 = parts(store)
    layer.update([123456], flag="x")
    assert parts(store) == before3


def test_update_dataframe_ids_and_wkt_quoting(ctx, spark):
    """ADVICE r1: update() silently no-op'd on DataFrame input, and WKT was
    interpolated into SQL text (broke on quotes)."""
    import pytest
    layer = ctx.create_wkt_layer("mut2")
    df = spark.createDataFrame(
        [(1, "POINT (1 1)"), (2, "POINT (2 2)"), (3, "POINT (3 3)")],
        "id long, wkt string")
    layer.add(df, wkt="wkt")
    # DataFrame of ids (semi/anti join path)
    ids_df = spark.createDataFrame([(1,), (3,)], "the_id long")
    layer.update(ids_df, flag="touched")
    rows = {r["id"]: r["flag"] for r in layer.df().collect()}
    assert rows == {1: "touched", 2: None, 3: "touched"}
    # WKT goes through as a literal — a quote must not break parsing
    layer.update([2], wkt="POINT (9 9)", note="it's quoted")
    r2 = {r["id"]: (r["xmin"], r["note"]) for r in layer.df().collect()}
    assert r2[2] == (9.0, "it's quoted")
    with pytest.raises(TypeError):
        layer.update("not-ids")


def _sphere_km(lon, lat, xs, ys):
    """Law-of-cosines great-circle km, R=6371 (numpy brute force)."""
    p1, p2 = np.radians(lat), np.radians(ys)
    v = (np.sin(p1) * np.sin(p2)
         + np.cos(p1) * np.cos(p2) * np.cos(np.radians(xs - lon)))
    return np.arccos(np.clip(v, -1.0, 1.0)) * 6371.0


def _in_convex(ring, xs, ys):
    """Boundary-inclusive point-in-convex-ring (counter-clockwise)."""
    inside = np.ones(len(xs), bool)
    for (x0, y0), (x1, y1) in zip(ring, ring[1:] + ring[:1]):
        inside &= (x1 - x0) * (ys - y0) - (y1 - y0) * (xs - x0) >= 0
    return inside


def test_within_distance_antimeridian(ctx, spark):
    """ADVICE r1: the search window must wrap at ±180 — points physically
    near the probe but across the antimeridian were missed.  Every
    search on points straddling the antimeridian matches a numpy brute
    force under both curves' key-range decompositions, so the OR of the
    split windows' bbox and key-range predicates drops nothing."""
    for curve in ("zorder", "hilbert"):
        _check_antimeridian_searches(ctx, spark, curve)


def _check_antimeridian_searches(ctx, spark, curve):
    rng = np.random.default_rng(11)
    lon = np.concatenate([[179.5, -179.5, 170.0, 0.0],
                          rng.uniform(170.0, 180.0, 150),
                          rng.uniform(-180.0, -170.0, 150)])
    lat = np.concatenate([[0.0] * 4, rng.uniform(-5.0, 5.0, 300)])
    ids = np.arange(1, len(lon) + 1)
    layer = ctx.create_point_layer(f"anti_{curve}", x="lon", y="lat",
                                   curve=curve)
    layer.add(spark.createDataFrame(
        [(int(i), float(x), float(y)) for i, x, y in zip(ids, lon, lat)],
        "id long, lon double, lat double"))
    # probe sits right of the antimeridian; id 2 is ~111 km away across it
    res = layer.within_distance(179.9, 0.0, 200.0)
    assert {1, 2} <= {r["id"] for r in res.collect()}
    for cx, cy, km in [(179.9, 0.0, 200.0), (-179.9, 1.0, 350.0),
                       (179.99, -2.0, 50.0)]:
        d = _sphere_km(cx, cy, lon, lat)
        got = sorted(r["id"] for r in layer.within_distance(cx, cy, km)
                     .collect())
        assert got == sorted(ids[d <= km].tolist())
    for cx, cy, k in [(-179.9, 0.0, 2), (179.95, 1.0, 15)]:
        d = _sphere_km(cx, cy, lon, lat)
        rows = layer.closest(cx, cy, k=k).collect()
        assert sorted(r["id"] for r in rows) == \
            sorted(ids[np.argsort(d)[:k]].tolist())
        assert np.allclose(sorted(r["distance"] for r in rows),
                           np.sort(d)[:k], rtol=1e-12, atol=1e-9)
    for w in [(175.0, -3.0, 180.0, 3.0), (-180.0, -3.0, -176.0, 2.0)]:
        want = ids[(lon >= w[0]) & (lon <= w[2])
                   & (lat >= w[1]) & (lat <= w[3])]
        got = sorted(r["id"] for r in layer.bbox_search(*w).collect())
        assert got == sorted(want.tolist())
    for ring in [[(176.0, -2.0), (180.0, -2.0), (180.0, 2.0), (176.0, 2.0)],
                 [(-180.0, -3.0), (-175.0, 0.0), (-180.0, 3.0)]]:
        wkt = "POLYGON ((" + ", ".join(
            f"{x} {y}" for x, y in ring + ring[:1]) + "))"
        got = sorted(r["id"] for r in layer.intersects(wkt).collect())
        assert got == sorted(ids[_in_convex(ring, lon, lat)].tolist())


def test_cql_search_reads_geom_from_catalog(ctx, spark, monkeypatch):
    """A ``cql=`` search learns whether the layer has a geom column from
    the catalog's recorded schema — it reads no layer for that — and a
    WKB layer and a point layer over the same points answer as a numpy
    brute force does."""
    rng = np.random.default_rng(5)
    n = 200
    lon, lat = rng.uniform(9.0, 11.0, n), rng.uniform(44.0, 46.0, n)
    ids, score = np.arange(n), np.arange(n) % 10
    pts = ctx.create_point_layer("cql_pts", x="lon", y="lat")
    pts.add(spark.createDataFrame(
        [(int(i), float(x), float(y), int(s))
         for i, x, y, s in zip(ids, lon, lat, score)],
        "id long, lon double, lat double, score long"))
    wkb = ctx.create_layer("cql_wkb")
    wkb.add(spark.createDataFrame(
        [(int(i), f"POINT ({x!r} {y!r})", int(s))
         for i, x, y, s in zip(ids, lon, lat, score)],
        "id long, wkt string, score long"), wkt="wkt")
    cql = "score >= 5 AND DWITHIN(geom, POINT(10 45), 60, kilometers)"
    d = _sphere_km(10.0, 45.0, lon, lat)
    hit = (score >= 5) & (d <= 60.0)
    in_win = (lon >= 9.5) & (lon <= 10.5) & (lat >= 44.5) & (lat <= 45.5)

    def no_read(*a, **kw):
        raise AssertionError("search read the layer to learn its schema")

    for layer in (pts, wkb):
        monkeypatch.setattr(layer, "df", no_read)
        got = sorted(r["id"] for r in layer.bbox_search(
            9.5, 44.5, 10.5, 45.5, cql=cql).collect())
        assert got == sorted(ids[hit & in_win].tolist())
        got = sorted(r["id"] for r in layer.within_distance(
            10.0, 45.0, 40.0, cql=cql).collect())
        assert got == sorted(ids[hit & (d <= 40.0)].tolist())


def test_cql_filter_reads_only_pruned_files(ctx, spark, monkeypatch):
    """``cql_filter`` learns whether the layer has a geom column from the
    catalog's recorded schema: with a mined window or property bound it
    reads only the pruned files (``Layer.df`` is never called), and its
    rows equal the unpruned filter's."""
    from spatial_spark.operators.cql import cql_filter, cql_to_sql
    rng = np.random.default_rng(11)
    n = 120
    lon, lat = rng.uniform(9.0, 11.0, n), rng.uniform(44.0, 46.0, n)
    score = np.arange(n) % 10
    pts = ctx.create_point_layer("cqlf_pts", x="lon", y="lat")
    pts.add(spark.createDataFrame(
        [(i, float(x), float(y), int(s))
         for i, (x, y, s) in enumerate(zip(lon, lat, score))],
        "id long, lon double, lat double, score long"))
    wkb = ctx.create_layer("cqlf_wkb")
    wkb.add(spark.createDataFrame(
        [(i, f"POINT ({x!r} {y!r})", int(s))
         for i, (x, y, s) in enumerate(zip(lon, lat, score))],
        "id long, wkt string, score long"), wkt="wkt")
    exprs = ("BBOX(geom, 9.5, 44.5, 10.5, 45.5)", "score >= 7",
             "score < 3 AND DWITHIN(geom, POINT(10 45), 80, kilometers)")
    for layer in (pts, wkb):
        has_geom = "geom" in layer.df().columns
        want = {e: sorted(r["id"] for r in layer.df().filter(
            cql_to_sql(e, has_geom=has_geom)).collect()) for e in exprs}
        calls = []
        read = layer.df
        monkeypatch.setattr(
            layer, "df", lambda *a, **kw: calls.append(a) or read(*a, **kw))
        for e in exprs:
            assert 0 < len(want[e]) < n
            assert sorted(r["id"] for r in cql_filter(layer, e).collect()) \
                == want[e]
        assert calls == []


def test_dynamic_view(ctx, spark):
    layer = ctx.create_wkt_layer("dyn")
    df = spark.createDataFrame(
        [(1, "POINT (1 1)"), (2, "LINESTRING (0 0, 1 1)")], "id long, wkt string")
    layer.add(df, wkt="wkt")
    layer.add_view("points_only", "gtype = 1")
    assert layer.view("points_only").count() == 1


def test_results_layer(ctx, spark):
    layer = ctx.create_point_layer("src", x="lon", y="lat")
    layer.add(_grid_points(spark, n_side=5))
    res = layer.bbox_search(12.9, 56.0, 12.92, 56.02)
    out = ctx.create_results_layer("dst", res.drop("distance"))
    assert out.count() == res.count()


def test_envelope_searches_and_addwkt(ctx, spark):
    layer = ctx.create_wkt_layer("env_s")
    layer.add_wkt("POLYGON ((1 1, 3 1, 3 3, 1 3, 1 1))", name="inner")
    layer.add_wkt("POLYGON ((0 0, 10 0, 10 10, 0 10, 0 0))", name="outer")
    assert layer.count() == 2
    cov = layer.covered_by_search(0.5, 0.5, 5, 5)
    assert [r["name"] for r in cov.collect()] == ["inner"]
    eq = layer.equal_envelope_search(0, 0, 10, 10)
    assert [r["name"] for r in eq.collect()] == ["outer"]
    assert layer.equal_envelope_search(0, 0, 10.1, 10, tol=0.2).count() == 1


def test_layer_types(ctx):
    types = ctx.layer_types()
    assert "SimplePoint" in types and "WKB" in types


def test_closest_edge_and_lrs(ctx, spark):
    """Closest-edge + linear referencing (TestSpatialQueries parity)."""
    layer = ctx.create_wkt_layer("lrs")
    layer.add_wkt("LINESTRING (0 0, 10 0)", name="h")
    layer.add_wkt("LINESTRING (0 5, 0 15)", name="v")
    res = layer.closest_edge(3.0, 1.0, k=1).collect()
    assert res[0]["name"] == "h"
    assert res[0]["edge_distance"] == pytest.approx(1.0)
    row = spark.sql("""
        SELECT st_astext(st_closest_point(
                 st_geomfromtext('LINESTRING (0 0, 10 0)'), 3.0D, 4.0D)) AS cp,
               st_line_locate_point(
                 st_geomfromtext('LINESTRING (0 0, 10 0)'), 2.5D, 9.0D) AS frac,
               st_astext(st_line_interpolate_point(
                 st_geomfromtext('LINESTRING (0 0, 6 0, 6 4)'), 0.8D)) AS ip
    """).collect()[0]
    assert row["cp"] == "POINT (3 0)"
    assert row["frac"] == pytest.approx(0.25)
    assert row["ip"] == "POINT (6 2)"


def test_cql_dwithin(ctx, spark):
    """ECQL DWITHIN → orthodromic distance predicate (km / meters)."""
    layer = ctx.create_point_layer("dw", x="lon", y="lat")
    layer.add(spark.createDataFrame(
        [(1, 13.0, 56.0), (2, 13.1, 56.0), (3, 20.0, 60.0)],
        "id long, lon double, lat double"))
    # ~6.2 km between lon 13.0 and 13.1 at lat 56
    near = layer.cql("DWITHIN(the_geom, POINT(13.0 56.0), 10, kilometers)")
    assert {r["id"] for r in near.collect()} == {1, 2}
    near_m = layer.cql("DWITHIN(the_geom, POINT(13.0 56.0), 10000, meters)")
    assert near_m.count() == 2
    only_self = layer.cql("DWITHIN(the_geom, POINT(13.0 56.0), 1, kilometers)")
    assert only_self.count() == 1
    import pytest as _pt
    with _pt.raises(ValueError):
        layer.cql("DWITHIN(the_geom, POINT(13.0 56.0), 1, furlongs)")


def test_cql_tier2_constructs(ctx, spark):
    """ECQL tier 2 (VERDICT r7 ask #6): NOT / IN / BETWEEN flow through
    to Spark SQL, INCLUDE/EXCLUDE are match-all/none, RELATE takes a
    DE-9IM pattern, BBOX accepts a trailing CRS, and WKT literals with
    holes / multipolygons survive the balanced-paren extraction."""
    import pytest as _pt

    from spatial_spark.operators.cql import cql_to_sql
    layer = ctx.create_wkt_layer("cql2")
    layer.add(spark.createDataFrame(
        [(1, "POINT (0.5 0.5)", "a"),            # in hole → NOT inside
         (2, "POINT (1.5 1.5)", "b"),            # in ring, outside hole
         (3, "POINT (5 5)", "c"),                # outside polygon
         (4, "POINT (10.5 10.5)", "a"),          # in 2nd multipolygon part
         (5, "POLYGON ((1.2 1.2, 1.8 1.2, 1.8 1.8, 1.2 1.8, 1.2 1.2))", "d")],
        "id long, wkt string, tag string"), wkt="wkt")
    holed = ("POLYGON ((0 0, 2 0, 2 2, 0 2, 0 0), "
             "(0.2 0.2, 0.8 0.2, 0.8 0.8, 0.2 0.8, 0.2 0.2))")
    got = layer.cql(f"INTERSECTS(the_geom, {holed})")
    assert {r["id"] for r in got.collect()} == {2, 5}
    multi = ("MULTIPOLYGON (((0 0, 2 0, 2 2, 0 2, 0 0)), "
             "((10 10, 11 10, 11 11, 10 11, 10 10)))")
    got = layer.cql(f"WITHIN(the_geom, {multi})")
    ids = {r["id"] for r in got.collect()}
    assert 1 in ids and 2 in ids and 3 not in ids
    # NOT / IN / BETWEEN / AND compose with the spatial rewrite
    got = layer.cql(
        f"NOT INTERSECTS(the_geom, {holed}) AND tag IN ('a', 'c')")
    assert {r["id"] for r in got.collect()} == {1, 3, 4}
    got = layer.cql("id BETWEEN 2 AND 4 AND tag NOT IN ('b')")
    assert {r["id"] for r in got.collect()} == {3, 4}
    # INCLUDE / EXCLUDE literals
    assert layer.cql("INCLUDE").count() == 5
    assert layer.cql("EXCLUDE").count() == 0
    assert layer.cql("INCLUDE AND id < 3").count() == 2
    # RELATE with an explicit DE-9IM pattern: interiors intersect
    got = layer.cql(f"RELATE(the_geom, {holed}, 'T********')")
    assert {r["id"] for r in got.collect()} == {2, 5}
    with _pt.raises(ValueError, match="DE-9IM"):
        layer.cql(f"RELATE(the_geom, {holed}, 'TXXXXXXXX')")
    # BBOX with a trailing CRS argument (validated-ignored)
    got = layer.cql("BBOX(the_geom, 1, 1, 2, 2, 'EPSG:4326')")
    assert {r["id"] for r in got.collect()} == {2, 5}
    with _pt.raises(ValueError, match="unsupported CRS"):
        cql_to_sql("BBOX(the_geom, 1, 1, 2, 2, 'EPSG:3857')")
    # strict mode still rejects malformed spatial constructs
    with _pt.raises(ValueError, match="expected 2 arguments"):
        cql_to_sql("INTERSECTS(the_geom)")
    with _pt.raises(ValueError, match="unbalanced"):
        cql_to_sql("INTERSECTS(the_geom, POLYGON((0 0, 1 1)")


def test_cql_quoted_literals_untouched(spark):
    """ADVICE r8: keyword rewrites must not run inside quoted string
    literals — INCLUDE/EXCLUDE, temporal regexes, and geometry-property
    normalization all used to rewrite literal text; SQL-escaped quotes
    ('') must survive the argument splitter too."""
    import pytest as _pt

    from spatial_spark.operators.cql import cql_to_sql
    # INCLUDE inside a literal stays verbatim (used to become 'PLEASE TRUE')
    s = cql_to_sql("name = 'PLEASE INCLUDE'")
    assert "'PLEASE INCLUDE'" in s and "TRUE" not in s
    # a literal equal to a geometry-property name is NOT normalized
    s = cql_to_sql("tag = 'the_geom'")
    assert "'the_geom'" in s
    # temporal keywords inside literals don't trip the temporal pass
    s = cql_to_sql("note = 'shipped BEFORE 2024-03-04T00:00:00Z'")
    assert "TIMESTAMP" not in s and "BEFORE 2024-03-04" in s
    # SQL-escaped quote inside a literal; <> outside still rewrites
    s = cql_to_sql("name <> 'it''s fine' AND INCLUDE")
    assert "'it''s fine'" in s and "!=" in s and s.rstrip().endswith("TRUE")
    # spatial keyword text inside a literal doesn't trigger strict-mode
    s = cql_to_sql("desc = 'call BBOX(x) later'")
    assert "'call BBOX(x) later'" in s
    # behavior checks end-to-end on a DataFrame
    df = spark.createDataFrame(
        [(1, "PLEASE INCLUDE"), (2, "other")], "id long, name string")
    got = df.filter(cql_to_sql("name = 'PLEASE INCLUDE'")).collect()
    assert [r["id"] for r in got] == [1]
    with _pt.raises(ValueError, match="unterminated"):
        cql_to_sql("name = 'oops")


def test_cql_temporal_predicates(spark):
    """ECQL tier 3: BEFORE / AFTER / DURING with ISO-8601 instants,
    composing with NOT and attribute predicates; durations and
    non-Z offsets strictly rejected."""
    import datetime as dt

    import pytest as _pt

    from spatial_spark.operators.cql import cql_to_sql
    rows = [(i, dt.datetime(2024, 3, 1 + i, 12, 0)) for i in range(10)]
    df = spark.createDataFrame(rows, "id long, ts timestamp")

    def ids(expr):
        return sorted(r["id"] for r in
                      df.filter(cql_to_sql(expr)).collect())

    assert ids("ts BEFORE 2024-03-04T00:00:00Z") == [0, 1, 2]
    assert ids("ts AFTER 2024-03-08T12:00:00") == [8, 9]
    assert ids("ts DURING 2024-03-03T00:00:00Z/2024-03-07T00:00:00Z") \
        == [2, 3, 4, 5]
    # boundary instants are excluded (OGC during = strictly inside)
    assert ids("ts DURING 2024-03-03T12:00:00/2024-03-06T12:00:00") == [3, 4]
    assert ids("NOT ts BEFORE 2024-03-09T00:00:00 AND id < 100") == [8, 9]
    assert ids("ts AFTER 2024-03-05T11:59:59.5Z") == [4, 5, 6, 7, 8, 9]
    with _pt.raises(ValueError, match="only Z/naive"):
        cql_to_sql("ts BEFORE 2024-03-04T00:00:00+02:00")
    with _pt.raises(ValueError, match="temporal"):
        cql_to_sql("ts DURING 2024-03-03T00:00:00/P10D")


def test_cql_dwithin_wkb_layer(ctx, spark):
    """DWITHIN on a WKB layer: nearest-point distance, not centroid —
    the long linestring passes within 10 km of the probe."""
    layer = ctx.create_wkt_layer("dwl")
    layer.add(spark.createDataFrame(
        [(1, "LINESTRING (12.0 56.0, 14.0 56.0)"),
         (2, "POINT (13.0 56.05)"),
         (3, "POLYGON ((25 60, 26 60, 26 61, 25 61, 25 60))")],
        "id long, wkt string"), wkt="wkt")
    near = layer.cql("DWITHIN(the_geom, POINT(13.0 56.0), 10, kilometers)")
    assert {r["id"] for r in near.collect()} == {1, 2}


class TestEncoderIndexMatrix:
    """Encoder x SFC-curve matrix (IndexImplementationMatrixTest.java:82-182
    parity): every encoder preset must answer the same searches under
    either write-clustering curve."""

    POINTS = [(i, 12.9 + (i % 5) * 0.01, 56.0 + (i // 5) * 0.01)
              for i in range(25)]

    def _make(self, ctx, spark, encoder, curve, name):
        from spatial_spark.layer import (
            ENC_ARRAY, ENC_NATIVE_POINT, ENC_POINT, ENC_WKB, ENC_WKT,
        )
        if encoder == ENC_POINT:
            layer = ctx.create_point_layer(name, x="lon", y="lat", curve=curve)
            layer.add(spark.createDataFrame(
                self.POINTS, "id long, lon double, lat double"))
        elif encoder == ENC_NATIVE_POINT:
            layer = ctx.create_layer(name, encoder=encoder, curve=curve,
                                     config={"location": "location"})
            rows = [(i, {"x": x, "y": y, "srid": 4326})
                    for i, x, y in self.POINTS]
            layer.add(spark.createDataFrame(
                rows, "id long, location struct<x:double,y:double,srid:int>"))
        elif encoder == ENC_WKT:
            layer = ctx.create_wkt_layer(name)
            rows = [(i, f"POINT ({x} {y})") for i, x, y in self.POINTS]
            layer.add(spark.createDataFrame(rows, "id long, wkt string"),
                      wkt="wkt")
        elif encoder == ENC_ARRAY:
            # degenerate 2-point linestrings anchored at each grid point
            layer = ctx.create_layer(name, encoder=encoder, curve=curve)
            rows = [(i, [x, y, x + 1e-4, y]) for i, x, y in self.POINTS]
            layer.add(spark.createDataFrame(rows, "id long, data array<double>"))
        else:  # ENC_WKB
            layer = ctx.create_layer(name, encoder=encoder, curve=curve)
            df = spark.createDataFrame(
                [(i, x, y) for i, x, y in self.POINTS],
                "id long, x double, y double"
            ).select("id", F.expr("st_point(x, y)").alias("geom"))
            layer.add(df)
        return layer

    def test_matrix(self, ctx, spark):
        from spatial_spark.layer import (
            ENC_ARRAY, ENC_NATIVE_POINT, ENC_POINT, ENC_WKB, ENC_WKT,
        )
        # bbox covering the 3x3 lower corner of the 5x5 grid
        window = (12.899, 55.999, 12.921, 56.021)
        expect = {i for i, x, y in self.POINTS
                  if window[0] <= x <= window[2] and window[1] <= y <= window[3]}
        for encoder in (ENC_POINT, ENC_NATIVE_POINT, ENC_WKT, ENC_ARRAY, ENC_WKB):
            for curve in ("zorder", "hilbert"):
                name = f"mx_{encoder}_{curve}"
                layer = self._make(ctx, spark, encoder, curve, name)
                got = {r["id"] for r in
                       layer.bbox_search(*window).select("id").collect()}
                assert got == expect, (encoder, curve)
                assert layer.count() == 25
                ctx.remove_layer(name)

    def test_array_roundtrip_float32_exact(self, ctx, spark):
        """decode reproduces the reference's stored float32 array
        bit-exactly (SimplePropertyEncoder decode direction)."""
        import numpy as np
        from spatial_spark.functions.conversion import wkb_to_interleaved_udf
        layer = ctx.create_layer("arr_rt", encoder="array")
        src = [0.1, 0.2, 0.30000001, 4.0000001e-8]   # not float64-exact values
        layer.add(spark.createDataFrame([(1, src)], "id long, data array<double>"))
        row = layer.df().select(
            wkb_to_interleaved_udf()(F.col("geom")).alias("data")).first()
        assert row["data"] == np.asarray(src, dtype=np.float32).tolist()
        ctx.remove_layer("arr_rt")

    def test_native_point_searches(self, ctx, spark):
        layer = ctx.create_layer("np_l", encoder="native_point",
                                 config={"location": "location"})
        rows = [(i, {"x": x, "y": y, "srid": 4326}) for i, x, y in self.POINTS]
        layer.add(spark.createDataFrame(
            rows, "id long, location struct<x:double,y:double,srid:int>"))
        assert layer.all_points is True
        res = layer.within_distance(12.92, 56.02, 1.0)
        assert res.count() > 0
        # the native struct column survives as an attribute
        assert "location" in layer.df().columns
        ctx.remove_layer("np_l")


def test_layer_signatures(ctx):
    """LayerSignatureTest.java:52-90 parity: compact DDL signature per
    encoder preset."""
    assert ctx.create_point_layer("sig_pt", x="lng", y="lat").signature() \
        == "EditableLayer(name='sig_pt', encoder=SimplePointEncoder(" \
           "x='lng', y='lat', bbox='bbox'))"
    assert ctx.create_point_layer("sig_pt_def").signature() \
        == "EditableLayer(name='sig_pt_def', encoder=SimplePointEncoder(" \
           "x='longitude', y='latitude', bbox='bbox'))"
    from spatial_spark.layer import ENC_ARRAY, ENC_NATIVE_POINT
    assert ctx.create_layer("sig_np", encoder=ENC_NATIVE_POINT,
                            config={"location": "position"}).signature() \
        == "EditableLayer(name='sig_np', encoder=NativePointEncoder(" \
           "geometry='position', bbox='mbr', crs=4326))"
    assert ctx.create_wkt_layer("sig_wkt").signature() \
        == "EditableLayer(name='sig_wkt', encoder=WKTGeometryEncoder(" \
           "geom='wkt', bbox='bbox'))"
    assert ctx.create_layer("sig_wkb").signature() \
        == "EditableLayer(name='sig_wkb', encoder=WKBGeometryEncoder(" \
           "geom='geom', bbox='bbox'))"
    assert ctx.create_layer("sig_arr", encoder=ENC_ARRAY).signature() \
        == "EditableLayer(name='sig_arr', encoder=SimplePropertyEncoder(" \
           "data='data', bbox='bbox'))"


def test_bulk_grid_window_counts(ctx, spark):
    """RTreeBulkInsertTest.java:270-278 parity: uniform i/width point
    grids, window search (0.5,0.5)-(0.52,0.52), exact hit counts against
    a numpy ground truth computed over the same float grid (the
    reference pins 9 hits at width=100; boundary behavior at other
    widths depends on float rounding, so the oracle recomputes it)."""
    import numpy as np
    from pyspark.sql import functions as F
    for width in (100, 250, 500):
        layer = ctx.create_point_layer(f"grid_{width}", x="lon", y="lat")
        pts = (spark.range(width * width)
               .withColumn("lon", (F.col("id") % width).cast("double") / width)
               .withColumn("lat", (F.col("id") / width).cast("long")
                           .cast("double") / width))
        layer.add(pts.select(F.col("id"), "lon", "lat"))
        assert layer.count() == width * width
        got = layer.bbox_search(0.5, 0.5, 0.52, 0.52).count()
        axis = np.arange(width, dtype=np.float64) / width
        inside = ((axis >= 0.5) & (axis <= 0.52)).sum()
        assert got == inside * inside, (width, got, inside)
        if width == 100:
            assert got == 9   # the reference's pinned very_small count


def test_compact_recluster(ctx, spark):
    """compact() collapses an accreted multi-append store into the target
    file count, preserving rows, search results, stats and the sidecar."""
    import os
    from pyspark.sql import functions as F
    layer = ctx.create_point_layer("compact_me", x="lon", y="lat",
                                   id_index=True)
    for batch in range(3):
        pts = (spark.range(batch * 50, batch * 50 + 50)
               .withColumn("lon", (F.col("id") % 36).cast("double") * 10 - 175)
               .withColumn("lat", (F.col("id") % 17).cast("double") * 10 - 83))
        layer.add(pts.select("id", "lon", "lat"))
    assert layer.count() == 150
    hits_before = layer.within_distance(5.0, 7.0, 2500.0).count()
    res = layer.compact(target_files=2)
    assert res["files_before"] > res["files_after"] == 2
    # r11: the replaced files persist for pinned readers until vacuum
    layer.vacuum(retain_epochs=1)
    n_files = len([f for f in os.listdir(layer.path)
                   if f.startswith("part-")])
    assert n_files == 2
    # rows, search results, point lookups and stats all survive
    assert layer.count() == 150
    assert layer.within_distance(5.0, 7.0, 2500.0).count() == hits_before
    assert layer.lookup_row(120) is not None
    # zkey clustering is restored: each file's zkey range is disjoint
    files = sorted(os.path.join(layer.path, f)
                   for f in os.listdir(layer.path) if f.startswith("part-"))
    ranges = []
    for f in files:
        zf = spark.read.parquet(f).agg(F.min("zkey"), F.max("zkey")).first()
        ranges.append((zf[0], zf[1]))
    ranges.sort()
    for (lo1, hi1), (lo2, hi2) in zip(ranges, ranges[1:]):
        assert hi1 <= lo2


# ---------------------------------------------------------------------------
# Manifest commit protocol (VERDICT r6 ask #5): crash-window simulations.
# The semantic target is EditableLayerImpl.java:102-238 — the reference's
# mutations are transactional via Neo4j; ours are transactional via the
# atomic manifest publish.
# ---------------------------------------------------------------------------

def test_mutation_crash_before_publish_keeps_old_snapshot(ctx, spark,
                                                          monkeypatch):
    """Kill the writer AFTER new part files moved in but BEFORE the
    manifest publish: readers must see the PRE-mutation snapshot exactly
    once (the moved-in files are invisible orphans), and re-running the
    mutation must heal."""
    from spatial_spark.manifest import Manifest
    layer = ctx.create_point_layer("crash_pre", x="lon", y="lat",
                                   id_index=True)
    layer.add(_grid_points(spark))
    assert layer.count() == 400

    real_publish = Manifest._publish
    state = {"armed": True}

    def dying_publish(self, epoch, shards, meta):
        # _publish is the single CAS point every commit flavor
        # (commit / commit_delta) funnels through
        if state["armed"]:
            state["armed"] = False
            raise RuntimeError("simulated crash before manifest publish")
        return real_publish(self, epoch, shards, meta)

    monkeypatch.setattr(Manifest, "_publish", dying_publish)
    import pytest as _pytest
    with _pytest.raises(RuntimeError, match="simulated crash"):
        layer.delete([0])
    # lock must have been released by the failed writer
    assert not __import__("os").path.exists(
        layer._manifest._lock_path), "crashed writer leaked the lock"
    # old snapshot intact, EXACTLY once per row (no duplicates from the
    # moved-in orphan files)
    ids = [r["id"] for r in layer.df().select("id").collect()]
    assert sorted(ids) == list(range(400))
    # re-run heals
    layer.delete([0])
    ids = [r["id"] for r in layer.df().select("id").collect()]
    assert sorted(ids) == list(range(1, 400))


def test_mutation_crash_after_publish_exactly_once(ctx, spark):
    """r11: there is NO post-publish unlink window anymore — a mutation
    commits and the replaced files stay on disk BY DESIGN (the crash
    this test used to inject is now the normal publish path).  Readers
    must see the POST-mutation snapshot exactly once (the replaced
    files are invisible to the current snapshot), and gc() reclaims
    them on the vacuum cadence."""
    import os as _os
    layer = ctx.create_point_layer("crash_post", x="lon", y="lat",
                                   id_index=True)
    layer.add(_grid_points(spark))
    store = layer.path
    layer.delete([0])
    # post-mutation snapshot, exactly once per surviving row — the
    # replaced (still-on-disk) files must NOT be read
    ids = [r["id"] for r in layer.df().select("id").collect()]
    assert sorted(ids) == list(range(1, 400))
    # the orphaned replaced files are on disk but invisible; gc reclaims
    live = set(layer._manifest.current()[1])
    on_disk = {f for f in _os.listdir(store) if f.startswith("part-")}
    assert on_disk - live, "expected orphaned replaced files on disk"
    removed = layer._manifest.gc()
    assert set(removed) == on_disk - live
    ids = [r["id"] for r in layer.df().select("id").collect()]
    assert sorted(ids) == list(range(1, 400))


def test_manifest_lock_serializes_writers(ctx, spark):
    """A held writer lock blocks a second writer until timeout — the
    mutual exclusion mutation/compact()/streaming ingest serialize on."""
    import pytest as _pytest
    from spatial_spark.manifest import ManifestLockTimeout
    layer = ctx.create_point_layer("lockser", x="lon", y="lat")
    layer.add(_grid_points(spark, n_side=5))
    man = layer._manifest
    with man.lock():
        with _pytest.raises(ManifestLockTimeout):
            with man.lock(timeout=0.3):
                pass
    # released: a fresh acquire succeeds
    with man.lock(timeout=1.0):
        pass


def test_manifest_orphans_invisible_to_readers(ctx, spark, tmp_path):
    """A stray part file dropped into the store directory (the shape any
    crashed write leaves) must not appear in reads."""
    import shutil
    layer = ctx.create_point_layer("orphan_inv", x="lon", y="lat")
    layer.add(_grid_points(spark, n_side=5))   # 25 rows
    assert layer.df().count() == 25
    # copy an existing committed file under a new part- name: a reader
    # scanning the directory would double those rows
    import os as _os
    src = next(f for f in _os.listdir(layer.path) if f.startswith("part-"))
    shutil.copy(_os.path.join(layer.path, src),
                _os.path.join(layer.path, "part-orphan-copy.parquet"))
    assert layer.df().count() == 25, "orphan file leaked into the read"


def test_compact_merges_concurrent_append(ctx, spark, monkeypatch):
    """compact()'s distributed write runs OUTSIDE the writer lock (a
    100 TB compaction must not block streaming ingest); a file APPENDED
    while the rewrite job ran must survive into the published snapshot
    (the additive merge rule)."""
    from spatial_spark.layer import Layer
    layer = ctx.create_point_layer("cc_appends", x="lon", y="lat")
    layer.add(_grid_points(spark, n_side=10))   # ids 0..99
    orig = Layer._record_schema
    state = {"armed": True}

    # _record_schema runs between the rewrite's tmp write and its
    # publish lock — the injection point for a concurrent append
    def hook(self, schema, replace=False):
        orig(self, schema, replace)
        if state["armed"]:
            state["armed"] = False
            layer.add(spark.createDataFrame(
                [(1000, 10.0, 50.0)], "id long, lon double, lat double"))

    monkeypatch.setattr(Layer, "_record_schema", hook)
    layer.compact(target_files=2)
    ids = sorted(r["id"] for r in layer.df().select("id").collect())
    assert ids == list(range(100)) + [1000], "concurrent append lost"


def test_rewrite_conflicting_mutation_retries(ctx, spark, monkeypatch):
    """A file-level mutation REPLACING a base file while a rewrite job
    runs must not be resurrected by the rewrite's stale output: the
    publish detects the replaced base file and retries from the fresh
    snapshot."""
    from spatial_spark.layer import Layer
    layer = ctx.create_point_layer("cc_conflict", x="lon", y="lat",
                                   id_index=True)
    layer.add(_grid_points(spark, n_side=10))   # ids 0..99
    orig = Layer._record_schema
    state = {"armed": True}

    def hook(self, schema, replace=False):
        orig(self, schema, replace)
        if state["armed"]:
            state["armed"] = False
            layer.delete([5])   # file-level path: replaces a base file

    monkeypatch.setattr(Layer, "_record_schema", hook)
    layer.compact(target_files=2)
    ids = sorted(r["id"] for r in layer.df().select("id").collect())
    assert ids == [i for i in range(100) if i != 5], \
        "deleted row resurrected or rows lost by the conflicting rewrite"
    assert len(ids) == len(set(ids))


def test_snapshot_time_travel(ctx, spark):
    """df(epoch=N) reads a retained older manifest snapshot — complete
    for append-only history (appends never unlink), with a clear error
    once a later mutation has vacuumed a snapshot's files."""
    import pytest as _pytest
    layer = ctx.create_point_layer("tt", x="lon", y="lat", id_index=True)
    layer.add(_grid_points(spark, n_side=5))            # 25 rows
    e1 = layer.snapshots()[-1]
    layer.add(spark.createDataFrame(
        [(100 + i, 1.0 * i, 2.0 * i) for i in range(5)],
        "id long, lon double, lat double"))             # +5 rows
    e2 = layer.snapshots()[-1]
    assert e2 > e1
    assert layer.df(epoch=e1).count() == 25
    assert layer.df(epoch=e2).count() == 30
    assert layer.df().count() == 30
    # r11: a mutation DEFERS deletion of replaced files, so the
    # pre-mutation snapshot stays fully readable (pinned readers and
    # time travel both) until an explicit vacuum…
    layer.delete([0])
    assert layer.df().count() == 29
    assert layer.df(epoch=e1).count() == 25
    assert layer.df(epoch=e2).count() == 30
    # …after which the retained-but-vacuumed epoch raises the clear
    # error instead of returning wrong rows
    removed = layer.vacuum(retain_epochs=1)
    assert removed, "vacuum reclaimed the replaced files"
    with _pytest.raises(FileNotFoundError, match="later commit removed"):
        layer.df(epoch=e1).count()
    assert layer.df().count() == 29


@pytest.mark.parametrize("props,stats,kept", [
    # None bound sides are unbounded
    ({"a": (None, 5)}, (3, 9), True),
    ({"a": (None, 2)}, (3, 9), False),
    ({"a": (7, None)}, (3, 9), True),
    ({"a": (10, None)}, (3, 9), False),
    ({"a": (None, None)}, (3, 9), True),
    ({"a": None}, (3, 9), True),
    (None, (3, 9), True),
    # a missing stat keeps the item
    ({"a": (None, 2)}, (None, 9), True),
    ({"a": (10, None)}, (3, None), True),
    ({"a": (10, 20)}, (None, None), True),
    ({"c": (10, 20)}, (3, 9), True),
    # both ends inclusive: touching ranges are kept
    ({"a": (9, 20)}, (3, 9), True),
    ({"a": (0, 3)}, (3, 9), True),
    ({"a": (5, 5)}, (5, 5), True),
    # disjoint on either side: pruned
    ({"a": (10, 20)}, (3, 9), False),
    ({"a": (0, 2)}, (3, 9), False),
    # every range must overlap (b's stats are (0, 1))
    ({"a": (0, 4), "b": (0, 20)}, (3, 9), True),
    ({"a": (0, 4), "b": (10, 20)}, (3, 9), False),
])
def test_range_filter_rule(props, stats, kept):
    """manifest.range_filter, the one props= prune rule of
    Layer.df_pruned, delta_source and iceberg_source: an item is
    dropped only when its recorded (min, max) proves a range empty."""
    from spatial_spark.manifest import range_filter
    keep = range_filter(props, lambda item, col: item.get(col, (None, None)))
    assert keep({"a": stats, "b": (0, 1)}) is kept


def test_manifest_cas_and_generation_pruning(tmp_path):
    """Pure-manifest unit behaviors: the optional base-epoch CAS
    detects a snapshot that moved underneath a writer, and generation
    pruning keeps exactly KEEP_GENERATIONS manifests with the newest
    always the current one."""
    import pytest as _pytest
    from spatial_spark.manifest import Manifest, ManifestConflict
    man = Manifest(str(tmp_path / "store"))
    e0 = man.commit(["part-a"])
    man.commit(["part-a", "part-b"])        # someone else commits
    with _pytest.raises(ManifestConflict):
        man.commit(["part-c"], base_epoch=e0)
    for i in range(10):
        man.commit([f"part-{i}"])
    eps = man.epochs()
    assert len(eps) == Manifest.KEEP_GENERATIONS
    assert eps == sorted(eps) and eps[-1] == man.current()[0]
    assert man.current()[1] == ["part-9"]
    # files_at on a pruned epoch is a clear KeyError
    with _pytest.raises(KeyError):
        man.files_at(e0)


class _FakeManifestIO:
    """In-memory implementation of the manifest filesystem interface
    (LocalManifestIO docstring) with injectable failures — the
    FS-interface fake the kill-injection tests run the commit protocol
    against (VERDICT r7 ask #4)."""

    def __init__(self):
        self.files = {}           # path -> bytes
        self.dirs = set()
        self.fail_next = {}       # op name -> countdown to injected crash

    def _maybe_fail(self, op):
        n = self.fail_next.get(op)
        if n is not None:
            if n <= 0:
                raise OSError(f"injected crash in {op}")
            self.fail_next[op] = n - 1

    def mkdirs(self, d):
        self.dirs.add(d.rstrip("/"))

    def isdir(self, d):
        d = d.rstrip("/")
        return d in self.dirs or any(p.startswith(d + "/") for p in self.files)

    def listdir(self, d):
        d = d.rstrip("/") + "/"
        return sorted({p[len(d):].split("/")[0]
                       for p in self.files if p.startswith(d)})

    def read_text(self, p):
        if p not in self.files:
            raise FileNotFoundError(p)
        return self.files[p].decode()

    def write_file(self, p, data):
        self._maybe_fail("write_file")
        self.files[p] = bytes(data)

    def create_excl(self, p, data):
        self._maybe_fail("create_excl")
        if p in self.files:
            return False
        self.files[p] = bytes(data)
        return True

    def cas_rename(self, src, dst):
        self._maybe_fail("cas_rename")
        if dst in self.files or src not in self.files:
            return False
        self.files[dst] = self.files.pop(src)
        return True

    def rename(self, src, dst):
        if src not in self.files:
            return False
        self.files[dst] = self.files.pop(src)
        return True

    def remove(self, p):
        return self.files.pop(p, None) is not None

    def remove_dir(self, p):
        d = p.rstrip("/") + "/"
        for k in [k for k in self.files if k.startswith(d)]:
            del self.files[k]
        self.dirs.discard(p.rstrip("/"))


def test_manifest_fake_io_commit_protocol_and_kill_injection():
    """The commit protocol against the in-memory FS fake: normal
    commits, a crash between temp-write and CAS-publish (reader keeps
    the old snapshot, retry heals), and a lost CAS raising
    ManifestConflict instead of overwriting the winner."""
    import pytest as _pytest
    from spatial_spark.manifest import Manifest, ManifestConflict
    io = _FakeManifestIO()
    man = Manifest("/mem/store", io=io)
    assert man.current() is None
    e0 = man.commit(["part-a"])
    assert e0 == 0 and man.current() == (0, ["part-a"])
    # crash INSIDE publish: temp written, CAS never runs
    io.fail_next["cas_rename"] = 0
    with _pytest.raises(OSError, match="injected crash"):
        man.commit(["part-a", "part-b"])
    del io.fail_next["cas_rename"]
    assert man.current() == (0, ["part-a"]), \
        "torn publish must leave the old snapshot current"
    assert man.commit(["part-a", "part-b"]) == 1     # retry heals
    # lost CAS: a concurrent writer published our epoch first (patch
    # the internal snapshot read commit plans from — _newest — to a
    # stale view; v1-shaped doc exercises the migration path too)
    real_newest = Manifest._newest
    stale = (1, {"epoch": 1, "files": ["part-a", "part-b"]})
    try:
        Manifest._newest = lambda self: stale
        man2 = Manifest("/mem/store", io=io)
        man2.commit(["part-c"])                      # takes epoch 2 for real
        Manifest._newest = lambda self: stale        # stale view again
        with _pytest.raises(ManifestConflict, match="concurrent writer"):
            Manifest.commit(man, ["part-d"])
    finally:
        Manifest._newest = real_newest
    # the winner's manifest is intact
    assert man.current()[1] == ["part-c"]


def test_manifest_lock_heartbeat_and_single_breaker():
    """ADVICE r7: (a) a LIVE writer holding the lock longer than
    ``stale`` is NOT broken — the heartbeat keeps the lock fresh; (b) a
    genuinely dead lock (stale heartbeat) is broken by exactly one
    waiter via the atomic rename-claim, and both waiters then serialize
    normally."""
    import json as _json
    import threading
    import time as _time

    import pytest as _pytest
    from spatial_spark.manifest import Manifest, ManifestLockTimeout
    io = _FakeManifestIO()
    man = Manifest("/mem/store", io=io)
    # (a) live writer outlives `stale`: waiter must TIME OUT, not steal
    with man.lock(stale=1.0):                 # heartbeat every 0.5s
        _time.sleep(1.6)                      # hold well past stale
        with _pytest.raises(ManifestLockTimeout):
            with man.lock(timeout=0.6, stale=1.0):
                pass
    # (b) a dead writer's lock (stale heartbeat, e.g. a crashed legacy
    # writer) is broken; two concurrent waiters never overlap
    io.files[man._lock_path] = _json.dumps(
        {"token": "dead", "pid": 0, "hb": _time.time() - 1000}).encode()
    inside, overlaps, errs = [], [], []

    def waiter(name):
        try:
            with man.lock(timeout=10.0, stale=300.0):
                if inside:
                    overlaps.append(name)
                inside.append(name)
                _time.sleep(0.2)
                inside.remove(name)
        except Exception as e:      # pragma: no cover - diagnostic
            errs.append((name, e))

    ts = [threading.Thread(target=waiter, args=(i,)) for i in range(2)]
    for t in ts:
        t.start()
    for t in ts:
        t.join()
    assert not errs and not overlaps
    assert man._lock_path not in io.files, "lock released"


def test_manifest_commit_ownership_check():
    """ADVICE r7 defense-in-depth: a writer whose lock was (wrongly)
    broken and re-acquired by someone else must FAIL its publish — the
    commit-time ownership check — instead of corrupting the store."""
    import json as _json
    import time as _time

    import pytest as _pytest
    from spatial_spark.manifest import Manifest, ManifestConflict
    io = _FakeManifestIO()
    man = Manifest("/mem/store", io=io)
    man.commit(["part-a"])
    with man.lock() as lk:
        # simulate the wrongful break + takeover
        io.files[man._lock_path] = _json.dumps(
            {"token": "thief", "pid": 1, "hb": _time.time()}).encode()
        with _pytest.raises(ManifestConflict, match="lock lost"):
            man.commit(["part-b"], lock_token=lk.token)
    assert man.current() == (0, ["part-a"])


def test_manifest_hadoop_io_end_to_end(spark, tmp_path):
    """The full Manifest lifecycle through the Hadoop FileSystem API
    (VERDICT r7 ask #4): lock create-no-overwrite, heartbeat payloads,
    CAS publish via no-overwrite rename, generation pruning, and the
    layer mutation crash test re-run with the hadoop IO selected via
    spark conf — same guarantees as the POSIX default."""
    import os as _os

    import pytest as _pytest
    from spatial_spark.manifest import (HadoopManifestIO, Manifest,
                                        ManifestLockTimeout)
    io = HadoopManifestIO(spark)
    store = str(tmp_path / "hstore")
    man = Manifest(store, io=io)
    assert man.current() is None
    assert man.commit(["part-a"]) == 0
    assert man.commit(["part-a", "part-b"]) == 1
    assert man.current() == (1, ["part-a", "part-b"])
    assert man.files_at(0) == [_os.path.join(store, "part-a")]
    with man.lock() as lk:
        assert man.owns_lock(lk)
        with _pytest.raises(ManifestLockTimeout):
            with man.lock(timeout=0.3):
                pass
        man.commit(["part-c"], lock_token=lk.token)
    assert not io.listdir(man.dir).count("LOCK"), "lock released"
    for i in range(8):
        man.commit([f"part-{i}"])
    assert len(man.epochs()) == Manifest.KEEP_GENERATIONS


class _FakeS3Client:
    """In-memory S3-semantics object store: per-key atomic PUT with an
    If-None-Match mode, strongly-consistent GET/LIST, idempotent
    DELETE, injectable failures — NO rename primitive exists at all
    (the property S3ManifestIO must live without)."""

    def __init__(self):
        self.objects = {}
        self.fail_next = {}     # op -> countdown to injected crash

    def _maybe_fail(self, op):
        n = self.fail_next.get(op)
        if n is not None:
            if n <= 0:
                raise OSError(f"injected crash in {op}")
            self.fail_next[op] = n - 1

    def put(self, key, data, if_none_match):
        self._maybe_fail("put")
        if if_none_match and key in self.objects:
            return False
        self.objects[key] = bytes(data)
        return True

    def get(self, key):
        if key not in self.objects:
            raise KeyError(key)
        return self.objects[key]

    def list(self, prefix):
        return sorted(k for k in self.objects if k.startswith(prefix))

    def delete(self, key):
        self._maybe_fail("delete")
        return self.objects.pop(key, None) is not None


def test_manifest_s3_io_commit_protocol_and_kill_injection():
    """VERDICT r8 ask #3: the SAME crash scenarios the POSIX/fake-FS
    suites cover, against S3 semantics (conditional PUT, no rename):
    normal commits, crash between temp-write and publish (old snapshot
    survives, retry heals), crash between the publish PUT and the temp
    delete (orphan temp object, snapshot intact), lost CAS raising
    ManifestConflict, and meta carry-forward."""
    import pytest as _pytest
    from spatial_spark.manifest import (Manifest, ManifestConflict,
                                        S3ManifestIO)
    s3 = _FakeS3Client()
    man = Manifest("bucket/store", io=S3ManifestIO(s3))
    assert man.current() is None
    assert man.commit(["part-a"], meta={"stream_epochs": {"ck": 3}}) == 0
    assert man.current() == (0, ["part-a"])
    # crash INSIDE publish: temp written, conditional PUT never runs
    s3.fail_next["put"] = 1      # temp PUT succeeds, publish PUT dies
    with _pytest.raises(OSError, match="injected crash"):
        man.commit(["part-a", "part-b"])
    del s3.fail_next["put"]
    assert man.current() == (0, ["part-a"]), \
        "torn publish must leave the old snapshot current"
    assert man.commit(["part-a", "part-b"]) == 1     # retry heals
    # crash BETWEEN the publish PUT and the temp delete: the writer
    # dies, but the PUT was the commit point — readers see the NEW
    # snapshot; the orphan temp object is harmless garbage
    s3.fail_next["delete"] = 0
    with _pytest.raises(OSError, match="injected crash"):
        man.commit(["part-c"])
    del s3.fail_next["delete"]
    assert man.current() == (2, ["part-c"]), \
        "publish PUT is the commit point: crash after it keeps the " \
        "new snapshot"
    assert any(".tmp" in k for k in s3.objects), "orphan temp remains"
    # meta carried forward through every commit above
    assert man.current_meta()["stream_epochs"] == {"ck": 3}
    # lost CAS: a concurrent writer published our epoch first (patch
    # the internal snapshot read commit plans from — _newest)
    real_newest = Manifest._newest
    stale = (2, {"epoch": 2, "files": ["part-c"]})
    try:
        man2 = Manifest("bucket/store", io=S3ManifestIO(s3))
        Manifest._newest = lambda self: stale
        man2.commit(["part-d"])                      # takes epoch 3
        Manifest._newest = lambda self: stale        # stale view again
        with _pytest.raises(ManifestConflict, match="concurrent writer"):
            Manifest.commit(man, ["part-e"])
    finally:
        Manifest._newest = real_newest
    assert man.current()[1] == ["part-d"]


def test_manifest_s3_lock_break_and_concurrent_writers():
    """The writer-lock protocol on S3 semantics: a live writer's lock
    survives past ``stale`` via sidecar heartbeats; a dead lock is
    broken and two concurrent waiters never overlap even though
    'rename' is copy+delete (claim names are waiter-unique, double
    break is idempotent, re-acquisition is elected by the conditional
    PUT)."""
    import json as _json
    import threading
    import time as _time

    import pytest as _pytest
    from spatial_spark.manifest import (Manifest, ManifestLockTimeout,
                                        S3ManifestIO)
    s3 = _FakeS3Client()
    man = Manifest("bucket/store", io=S3ManifestIO(s3))
    # (a) live writer held past stale: waiter times out, no steal
    with man.lock(stale=1.0):
        _time.sleep(1.3)
        with _pytest.raises(ManifestLockTimeout):
            with man.lock(timeout=0.6, stale=1.0):
                pass
    assert not [k for k in s3.objects if "LOCK" in k], "lock released"
    # (b) dead lock (stale heartbeat) broken; two waiters serialize
    s3.objects[man._lock_path] = _json.dumps(
        {"token": "dead", "pid": 0, "hb": _time.time() - 1000}).encode()
    inside, overlaps, errs = [], [], []

    def waiter(name):
        try:
            with man.lock(timeout=10.0, stale=300.0) as lk:
                if inside:
                    overlaps.append(name)
                inside.append(name)
                _time.sleep(0.2)
                man.commit([f"part-{name}"], lock_token=lk.token)
                inside.remove(name)
        except Exception as e:      # pragma: no cover - diagnostic
            errs.append((name, e))

    ts = [threading.Thread(target=waiter, args=(i,)) for i in range(2)]
    for t in ts:
        t.start()
    for t in ts:
        t.join()
    assert not errs and not overlaps
    assert len(man.epochs()) == 2, "both writers committed, serialized"
    assert not [k for k in s3.objects if "LOCK" in k], "locks cleaned"


def test_manifest_s3_lock_acquire_orphan_and_sidecar_bound():
    """Two S3-specific edges: (a) a crash between the lock-acquire PUT
    and the temp delete leaves an orphan temp object that must not
    block the NEXT acquisition; (b) heartbeat sidecars are bounded —
    the beat writes seq N+1 then drops seq N, so at most two exist at
    any instant and release removes them all."""
    import time as _time

    from spatial_spark.manifest import Manifest, S3ManifestIO
    s3 = _FakeS3Client()
    man = Manifest("bucket/store", io=S3ManifestIO(s3))
    # (a) acquisition PUT lands, temp delete dies (rename is
    # put-if-absent + delete on S3) — the lock IS held; release it,
    # then a fresh acquisition must succeed despite the orphan temp
    s3.fail_next["delete"] = 0
    try:
        with man.lock(timeout=2.0):
            pass
    except OSError:
        pass                      # the injected crash surfaced mid-flow
    del s3.fail_next["delete"]
    s3.delete(man._lock_path)     # simulate operator cleanup of a dead lock
    with man.lock(timeout=5.0) as lk:
        assert man.owns_lock(lk)
        man.commit(["part-a"], lock_token=lk.token)
    assert man.current() == (0, ["part-a"])
    # (b) sidecar count stays bounded across many beats
    with man.lock(stale=0.8):     # beat every 0.2s
        _time.sleep(1.5)
        sidecars = [k for k in s3.objects if "LOCK.hb." in k]
        assert 1 <= len(sidecars) <= 2, sidecars
    assert not [k for k in s3.objects if "LOCK" in k], "all lock state gone"


def test_manifest_s3_multi_writer_soak():
    """VERDICT r9 ask #8: a concurrent-writers SOAK against the S3 fake
    — three writers interleaving ADD / COMPACT / STREAM-ADMIT commits
    under the lock protocol for a wall-clock budget (default ~8 s;
    SPARK_GRAFT_SOAK_SECS raises it to minutes).  Invariants checked
    over the FULL recorded history:

      * no duplicate epochs — every successful commit got a unique,
        contiguous epoch number (0..K, exactly one writer per epoch);
      * no lost commits — each commit's file list derives EXACTLY from
        the previous epoch's list by its own recorded op (a lost update
        would rebase on a stale snapshot and break the chain), and the
        final manifest equals the last recorded list;
      * stream-admit markers survive interleaved meta-less commits
        (meta carry-forward under concurrency): the final meta carries
        every writer's LAST admitted epoch;
      * all lock state is gone at the end."""
    import os as _os
    import threading
    import time as _time

    from spatial_spark.manifest import Manifest, S3ManifestIO

    s3 = _FakeS3Client()
    budget = float(_os.environ.get("SPARK_GRAFT_SOAK_SECS", "8"))
    deadline = _time.monotonic() + budget
    history = {}                  # epoch -> (writer, op, removed, added, files)
    hist_lock = threading.Lock()
    errs = []

    def writer(wid: int):
        man = Manifest("bucket/store", io=S3ManifestIO(s3))
        n = 0
        admits = 0
        try:
            while _time.monotonic() < deadline:
                op = ("add", "add", "compact", "admit")[n % 4]
                with man.lock(timeout=60.0) as lk:
                    cur = man.current()
                    base = list(cur[1]) if cur else []
                    meta = None
                    if op == "add":
                        removed, added = [], [f"part-w{wid}-{n}"]
                    elif op == "compact" and len(base) >= 2:
                        removed = sorted(base)[:2]
                        added = [f"merged-w{wid}-{n}"]
                    elif op == "admit":
                        removed, added = [], [f"stream-w{wid}-{n}"]
                        eps = dict(man.current_meta().get(
                            "stream_epochs", {}))
                        admits += 1
                        eps[f"ck-w{wid}"] = admits
                        meta = {"stream_epochs": eps}
                    else:
                        removed, added = [], [f"part-w{wid}-{n}"]
                    files = sorted((set(base) - set(removed))
                                   | set(added))
                    e = man.commit(files, lock_token=lk.token, meta=meta)
                    with hist_lock:
                        history[e] = (wid, op, removed, added, files)
                n += 1
        except Exception as exc:   # pragma: no cover - diagnostic
            errs.append((wid, exc))

    threads = [threading.Thread(target=writer, args=(w,)) for w in range(3)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert not errs, errs
    assert len(history) >= 9, "soak made too little progress"
    # contiguous unique epochs, exactly one commit per epoch
    epochs = sorted(history)
    assert epochs == list(range(len(epochs))), "duplicate or missing epoch"
    # every commit derives from its predecessor's exact list
    prev = []
    for e in epochs:
        wid, op, removed, added, files = history[e]
        want = sorted((set(prev) - set(removed)) | set(added))
        assert files == want, f"epoch {e} rebased on a stale snapshot"
        assert set(removed) <= set(prev), f"epoch {e} removed ghost files"
        prev = files
    man = Manifest("bucket/store", io=S3ManifestIO(s3))
    assert man.current() == (epochs[-1], history[epochs[-1]][4])
    # meta carry-forward: the final snapshot holds every writer's last
    # admitted marker despite interleaved meta-less adds/compacts
    final_eps = man.current_meta().get("stream_epochs", {})
    for wid in range(3):
        admits = [e for e in epochs
                  if history[e][0] == wid and history[e][1] == "admit"]
        if admits:
            assert f"ck-w{wid}" in final_eps, (wid, final_eps)
            assert final_eps[f"ck-w{wid}"] == len(admits)
    assert not [k for k in s3.objects if "LOCK" in k], "lock state leaked"


def test_manifest_meta_carries_forward(tmp_path):
    """ADVICE r8 (medium): a meta-less commit from another writer must
    NOT erase streaming replay markers riding the manifest meta — meta
    carries forward by default, caller keys merge over it."""
    from spatial_spark.manifest import Manifest
    man = Manifest(str(tmp_path / "store"))
    man.commit(["part-a"], meta={"stream_epochs": {"ck1": 7}})
    assert man.current_meta() == {"stream_epochs": {"ck1": 7}}
    # a plain commit (Layer.add/mutate/compact shape) keeps the markers
    man.commit(["part-a", "part-b"])
    assert man.current_meta()["stream_epochs"] == {"ck1": 7}, \
        "meta-less commit must carry replay markers forward"
    # caller-supplied keys merge OVER the carried meta
    man.commit(["part-a"], meta={"stream_epochs": {"ck1": 9, "ck2": 0}})
    assert man.current_meta()["stream_epochs"] == {"ck1": 9, "ck2": 0}
    man.commit(["part-a"], meta={"other": 1})
    got = man.current_meta()
    assert got["stream_epochs"] == {"ck1": 9, "ck2": 0} and got["other"] == 1


def test_manifest_lock_heartbeat_sidecars(tmp_path):
    """ADVICE r8 (low): heartbeat renewals never rewrite the LOCK file
    itself — they go to per-token sidecar files (so a paused writer's
    stale renewal cannot clobber a usurper's fresh lock), the LOCK is
    created atomically WITH its payload, and release cleans both up."""
    import json as _json
    import time as _time

    from spatial_spark.manifest import Manifest
    man = Manifest(str(tmp_path / "store"))
    with man.lock(stale=1.0) as lk:          # beat every ~0.5s
        raw0 = man.io.read_text(man._lock_path)
        doc0 = _json.loads(raw0)
        assert doc0["token"] == lk.token, "payload present at create time"
        _time.sleep(1.3)                     # let >=2 beats land
        assert man.io.read_text(man._lock_path) == raw0, \
            "LOCK bytes must never change while held"
        sidecars = [f for f in man.io.listdir(man.dir)
                    if f.startswith(f"LOCK.hb.{lk.token}.")]
        assert sidecars, "renewals must land in sidecar files"
        # effective heartbeat is fresher than the embedded acquire stamp
        tok, hb = man._read_lock()
        assert tok == lk.token and hb > doc0["hb"]
    leftovers = [f for f in man.io.listdir(man.dir)
                 if f.startswith("LOCK")]
    assert leftovers == [], f"release must clean lock+sidecars: {leftovers}"


def test_mutation_crash_with_hadoop_manifest_io(ctx, spark, monkeypatch):
    """The existing crash-before-publish scenario with ALL manifest I/O
    routed through HadoopManifestIO (spark conf knob): old snapshot
    survives exactly-once, lock is released, re-run heals."""
    from spatial_spark.manifest import Manifest
    spark.conf.set("spark.spatial_spark.manifest.io", "hadoop")
    try:
        layer = ctx.create_point_layer("crash_hdp", x="lon", y="lat",
                                       id_index=True)
        layer.add(_grid_points(spark, n_side=10))
        assert layer.count() == 100
        from spatial_spark.manifest import HadoopManifestIO
        assert isinstance(layer._manifest.io, HadoopManifestIO)
        real_publish = Manifest._publish
        state = {"armed": True}

        def dying_publish(self, epoch, shards, meta):
            if state["armed"]:
                state["armed"] = False
                raise RuntimeError("simulated crash before manifest publish")
            return real_publish(self, epoch, shards, meta)

        monkeypatch.setattr(Manifest, "_publish", dying_publish)
        import pytest as _pytest
        with _pytest.raises(RuntimeError, match="simulated crash"):
            layer.delete([0])
        ids = [r["id"] for r in layer.df().select("id").collect()]
        assert sorted(ids) == list(range(100))
        layer.delete([0])
        ids = [r["id"] for r in layer.df().select("id").collect()]
        assert sorted(ids) == list(range(1, 100))
    finally:
        spark.conf.set("spark.spatial_spark.manifest.io", "local")


def test_rewrite_carries_append_racing_the_first_lock(ctx, spark,
                                                      monkeypatch,
                                                      tmp_path):
    """ADVICE r7 (high): an append that commits while _rewrite is
    WAITING on its first lock must survive the rewrite.  The fix pins
    plan construction and the base-snapshot read under one lock hold, so
    the racing append lands either before both (plan reads it — its rows
    flow through the rewrite) or after both (carried as ``cur - base``
    at publish).  The old ordering (plan built BEFORE the lock) lost the
    appended file: in ``base`` but in neither the plan nor ``cur -
    base``, it was unlinked at publish.

    Simulation: patch Manifest.lock so the first acquisition inside
    _rewrite happens just AFTER a concurrent writer committed an append
    — the exact interleaving the advisory lock serializes in real runs.
    """
    import os
    import shutil

    from spatial_spark.manifest import Manifest

    layer = ctx.create_point_layer("rw_race", x="lon", y="lat")
    layer.add(_grid_points(spark, n_side=5))           # ids 0..24
    store = layer.path
    man = layer._manifest
    src = next(f for f in os.listdir(store) if f.startswith("part-"))
    appended_ids = sorted(
        r["id"] + 1000 for r in
        spark.read.parquet(os.path.join(store, src)).select("id").collect())
    assert appended_ids, "fixture part file must be non-empty"

    def append_commit():
        # a concurrent writer's full append: new part file + commit
        app = str(tmp_path / "race_append")
        (spark.read.parquet(os.path.join(store, src))
         .withColumn("id", F.col("id") + 1000)
         .coalesce(1).write.mode("overwrite").parquet(app))
        part = next(p for p in os.listdir(app) if p.startswith("part-"))
        name = f"part-raceappend-{part[5:]}"
        shutil.move(os.path.join(app, part), os.path.join(store, name))
        man.commit(sorted(set(man.current()[1]) | {name}))

    real_lock = Manifest.lock
    state = {"fired": False}

    def racing_lock(self, timeout=60.0, stale=300.0):
        if not state["fired"]:
            state["fired"] = True
            append_commit()
        return real_lock(self, timeout=timeout, stale=stale)

    monkeypatch.setattr(Manifest, "lock", racing_lock)
    layer._rewrite(lambda: layer.df().filter(F.col("id") != 0))
    monkeypatch.undo()

    ids = sorted(r["id"] for r in layer.df().select("id").collect())
    assert ids == list(range(1, 25)) + appended_ids, \
        "racing append was lost by the rewrite"


def _ids(df) -> list:
    return sorted(r["id"] for r in df.select("id").collect())


def test_compact_range_incremental(ctx, spark):
    """compact_range re-clusters ONLY the files intersecting the zkey
    slice: untouched files stay byte-identical (same names), rows /
    search results / point lookups survive, the id sidecar stays valid
    without a rebuild, and a disjoint slice is a no-op.  Like compact(),
    it drops the replaced files from the manifest, not from disk: the
    pre-compaction epoch stays readable until vacuum() reclaims them."""
    import os
    from pyspark.sql import functions as F
    layer = ctx.create_point_layer("compact_slice", x="lon", y="lat",
                                   id_index=True)
    for batch in range(4):   # accrete overlapping per-batch file sets
        pts = (spark.range(batch * 50, batch * 50 + 50)
               .withColumn("lon", (F.col("id") % 36).cast("double") * 10 - 175)
               .withColumn("lat", (F.col("id") % 17).cast("double") * 10 - 83))
        layer.add(pts.select("id", "lon", "lat"))
    assert layer.count() == 200
    hits_before = layer.within_distance(5.0, 7.0, 2500.0).count()
    live = set(layer._manifest.current()[1])
    zmid = layer.df().agg(
        F.expr("percentile_approx(zkey, 0.5)")).first()[0]
    e0 = layer.snapshots()[-1]
    res = layer.compact_range(0, int(zmid), target_files=1)
    assert 0 < res["files_compacted"] < res["files_before"]
    assert res["files_after"] < res["files_before"]
    after = set(layer._manifest.current()[1])
    untouched = live & after
    assert untouched, "files outside the slice must be preserved"
    assert _ids(layer.df(epoch=e0)) == list(range(200))
    # everything still exact
    assert layer.count() == 200
    assert layer.within_distance(5.0, 7.0, 2500.0).count() == hits_before
    assert layer.lookup_row(0) is not None
    assert layer.lookup_row(199) is not None
    # a slice with no multi-file overlap is a no-op
    res2 = layer.compact_range(-10, -5)
    assert res2["files_compacted"] == 0
    assert set(layer.vacuum()) == live - after
    with pytest.raises(FileNotFoundError):
        layer.df(epoch=e0)
    assert layer.count() == 200


def test_overwrite_keeps_replaced_snapshot_until_vacuum(ctx, spark):
    """add(mode="overwrite") publishes through the same stage/commit
    seam as every other write: the pre-overwrite snapshot stays
    readable by time travel (its files are only dropped from the
    manifest), stats are replaced, and vacuum() reclaims the replaced
    files."""
    import os
    layer = ctx.create_point_layer("ow_tt", x="lon", y="lat")
    layer.add(_grid_points(spark, n_side=4))             # ids 0..15
    e0 = layer.snapshots()[-1]
    old = set(layer._manifest.current()[1])
    layer.add(spark.createDataFrame(
        [(100 + i, 1.0 * i, 2.0) for i in range(5)],
        "id long, lon double, lat double"), mode="overwrite")
    assert _ids(layer.df()) == list(range(100, 105))
    assert layer.count() == 5
    assert layer.bbox() == (0.0, 2.0, 4.0, 2.0)
    assert _ids(layer.df(epoch=e0)) == list(range(16))
    assert not old & set(layer._manifest.current()[1])
    assert set(layer.vacuum()) == old
    assert not old & set(os.listdir(layer.path))
    with pytest.raises(FileNotFoundError):
        layer.df(epoch=e0)
    assert _ids(layer.df()) == list(range(100, 105))


def test_file_level_update_to_non_rect_clears_all_rects(ctx, spark):
    """A file-level update that turns a rectangle into a triangle must
    clear the write-time rect stat: otherwise Layer.join takes the
    rectangle fast path and matches a point inside the old bbox but
    outside the triangle."""
    from spatial_spark.layer import ENC_WKT
    sq = ctx.create_layer("rect_sq", encoder=ENC_WKT, id_index=True)
    sq.add(spark.createDataFrame(
        [(i, f"POLYGON (({i} 0, {i + 1} 0, {i + 1} 1, {i} 1, {i} 0))")
         for i in range(5)], "id long, wkt string"), wkt="wkt")
    assert sq.all_rects is True
    pts = ctx.create_point_layer("rect_pt", x="lon", y="lat")
    pts.add(spark.createDataFrame([(1, 2.9, 0.9)],
                                  "id long, lon double, lat double"))
    assert pts.join(sq, "within").count() == 1
    sq.update([2], wkt="POLYGON ((2 0, 3 0, 2 1, 2 0))")
    assert sq.all_rects is False
    assert pts.join(sq, "within").count() == 0


def test_compact_keeps_all_rects(ctx, spark):
    """compact() re-observes the rect stat on its rewrite, so the
    join's rectangle fast path survives compaction."""
    from spatial_spark.layer import ENC_WKT
    sq = ctx.create_layer("rect_compact", encoder=ENC_WKT)
    for b in range(2):
        sq.add(spark.createDataFrame(
            [(b * 5 + i, f"POLYGON (({i} {b}, {i + 1} {b}, {i + 1} "
              f"{b + 1}, {i} {b + 1}, {i} {b}))") for i in range(5)],
            "id long, wkt string"), wkt="wkt")
    assert sq.all_rects is True
    sq.compact(target_files=1)
    assert sq.all_rects is True
    assert sq.count() == 10


def test_concurrent_reader_never_sees_half_rewrite(ctx, spark):
    """r11 soak (VERDICT r10 ask #6): a reader that pins a manifest
    snapshot (df() resolves the file list at call time) and collects
    WHILE a writer loops delete/append/overwrite/compact commits must
    never error on a vanished file and never observe a torn state —
    every observed id-set is exactly the layer state after some prefix
    of the writer's committed mutations (commits defer deletion, so a
    pinned snapshot stays readable end to end)."""
    import threading

    schema = "id long, lon double, lat double"
    layer = ctx.create_point_layer("soak", x="lon", y="lat")
    layer.add(spark.createDataFrame(
        [(i, float(i % 36) * 10 - 175, float(i % 17) * 10 - 83)
         for i in range(200)], schema))

    # writer: each round deletes one id and appends one id; valid
    # observable states are therefore indexed by how many rounds have
    # committed (deletes 0..k-1, adds 200..199+k), plus an overwrite
    # with the same rows after round 1 and a compact mid-way
    ROUNDS = 6
    errors: list = []
    done = threading.Event()

    def writer():
        try:
            for k in range(ROUNDS):
                layer.delete([k])
                layer.add(spark.createDataFrame(
                    [(200 + k, 1.0 * k, -1.0 * k)], schema))
                if k == 1:
                    same = layer.df().select("id", "lon", "lat").collect()
                    layer.add(spark.createDataFrame(same, schema),
                              mode="overwrite")
                if k == ROUNDS // 2:
                    layer.compact(target_files=2)
        except Exception as e:          # pragma: no cover - fail loud
            errors.append(e)
        finally:
            done.set()

    # every commit is individually observable: after round k's delete
    # (but before its add), and after its add
    valid_states = [frozenset(range(200))]
    for k in range(ROUNDS):
        valid_states.append(frozenset(range(k + 1, 200))
                            | frozenset(range(200, 200 + k)))
        valid_states.append(frozenset(range(k + 1, 200))
                            | frozenset(range(200, 201 + k)))

    observed: list = []

    def reader():
        try:
            while not done.is_set():
                ids = frozenset(
                    r["id"] for r in layer.df().select("id").collect())
                observed.append(ids)
        except Exception as e:          # pragma: no cover - fail loud
            errors.append(e)

    t_w = threading.Thread(target=writer)
    readers = [threading.Thread(target=reader) for _ in range(2)]
    t_w.start()
    for t in readers:
        t.start()
    t_w.join(600)
    for t in readers:
        t.join(600)
    assert not errors, errors
    assert observed, "reader never completed a scan"
    for ids in observed:
        assert ids in valid_states, (
            f"torn state: {len(ids)} ids, unexpected membership "
            f"{sorted(set(ids) ^ max(valid_states, key=lambda s: len(s & ids)))[:6]}")
    # final state is the full mutation history applied exactly once
    final = frozenset(r["id"] for r in layer.df().select("id").collect())
    assert final == valid_states[-1]


def test_vacuum_crash_leaves_consistent_store(ctx, spark, monkeypatch):
    """A crash mid-vacuum must only leave SOME reclaimable files still
    on disk — never touch the manifest, never remove a current-snapshot
    file; a re-run finishes the job."""
    import os as _os
    layer = ctx.create_point_layer("vac_crash", x="lon", y="lat")
    layer.add(_grid_points(spark))
    layer.delete([0])                   # replaced files now await vacuum
    man = layer._manifest
    live = set(man.current()[1])
    on_disk = {f for f in _os.listdir(layer.path) if f.startswith("part-")}
    doomed = sorted(on_disk - live)
    assert doomed, "expected deferred-deletion leftovers"
    io = man.io
    real_remove = io.remove
    state = {"left": 1}                 # die after the first removal

    def dying_remove(p):
        if _os.path.basename(str(p)).startswith("part-"):
            if state["left"] == 0:
                raise RuntimeError("simulated crash mid-vacuum")
            state["left"] -= 1
        return real_remove(p)

    monkeypatch.setattr(io, "remove", dying_remove)
    if len(doomed) > 1:
        import pytest as _pytest
        with _pytest.raises(RuntimeError, match="mid-vacuum"):
            man.vacuum(retain_epochs=1)   # the patched IO instance
    monkeypatch.setattr(io, "remove", real_remove)
    # manifest intact, current snapshot complete, rows exactly-once
    assert set(man.current()[1]) == live
    ids = sorted(r["id"] for r in layer.df().select("id").collect())
    assert ids == list(range(1, 400))
    # re-run completes the reclaim
    man.vacuum(retain_epochs=1)
    left = {f for f in _os.listdir(layer.path) if f.startswith("part-")}
    assert left == live


def test_manifest_sharded_layout_reuse_and_stats():
    """r12 (VERDICT r11 ask #2): the manifest-list layout — (a) an
    append commit REUSES every prior shard by name and writes only one
    new shard + the list (publish is O(changed), not O(n_files));
    (b) shard stats aggregate per-file stats and files_where prunes
    shard docs from the LIST alone; (c) a removal rewrites only the
    shard that lost files; (d) v1 {"files": [...]} docs stay readable
    and the first commit migrates them."""
    import json as _json

    from spatial_spark.manifest import Manifest
    io = _FakeManifestIO()
    man = Manifest("/mem/store", io=io)
    st = {f"part-{i:03d}": {"zmin": i * 10, "zmax": i * 10 + 9,
                            "xmin": float(i), "ymin": 0.0,
                            "xmax": float(i) + 0.5, "ymax": 1.0,
                            "rows": 100}
          for i in range(6)}
    first = sorted(st)[:3]
    man.commit(first, stats={k: st[k] for k in first})
    doc0 = _json.loads(io.read_text("/mem/store_manifest/manifest-0.json"))
    assert doc0["format"] == 2 and len(doc0["shards"]) == 1
    sh0 = doc0["shards"][0]
    assert sh0["n"] == 3
    assert sh0["stats"]["zmin"] == 0 and sh0["stats"]["zmax"] == 29
    assert sh0["stats"]["xmax"] == 2.5 and sh0["stats"]["rows"] == 300
    # (a) append: shard 0 reused BY NAME, exactly one new shard doc
    rest = sorted(st)[3:]
    man.commit(sorted(st), stats={k: st[k] for k in rest})
    doc1 = _json.loads(io.read_text("/mem/store_manifest/manifest-1.json"))
    names1 = [sh["name"] for sh in doc1["shards"]]
    assert sh0["name"] in names1 and len(names1) == 2
    assert man.current() == (1, sorted(st))
    # (b) stat pruning from the list alone: a window over x in [3, 6]
    # keeps only the second shard; count shard-doc reads via read_text
    reads = []
    real_read = io.read_text
    io.read_text = lambda p: (reads.append(p), real_read(p))[1]
    got = man.files_where(lambda s: s["xmin"] <= 6.0 and s["xmax"] >= 3.0)
    io.read_text = real_read
    assert sorted(got) == [f"/mem/store/part-{i:03d}" for i in (3, 4, 5)]
    shard_reads = [p for p in reads if "/shard-" in p]
    assert len(shard_reads) == 1, "pruned shard doc must not be opened"
    # (c) removal: only the shard containing the removed file rewrites
    keep = [f for f in sorted(st) if f != "part-001"]
    man.commit(keep)
    doc2 = _json.loads(io.read_text("/mem/store_manifest/manifest-2.json"))
    names2 = [sh["name"] for sh in doc2["shards"]]
    assert names1[1] in names2, "untouched shard reused"
    assert names1[0] not in names2, "shard that lost a file rewritten"
    rewritten = next(sh for sh in doc2["shards"] if sh["name"] != names1[1])
    assert rewritten["n"] == 2
    # surviving per-file stats carried into the rewritten shard
    assert rewritten["stats"]["zmin"] == 0 and rewritten["stats"]["zmax"] == 29
    assert rewritten["stats"]["rows"] == 200
    # (d) v1 compat: a hand-written legacy doc reads + migrates
    io2 = _FakeManifestIO()
    io2.mkdirs("/mem/v1_manifest")
    io2.files["/mem/v1_manifest/manifest-0.json"] = _json.dumps(
        {"epoch": 0, "files": ["part-a", "part-b"]}).encode()
    man2 = Manifest("/mem/v1", io=io2)
    assert man2.current() == (0, ["part-a", "part-b"])
    assert man2.files_where(lambda s: False) == [
        "/mem/v1/part-a", "/mem/v1/part-b"], "v1 has no stats: no prune"
    man2.commit(["part-a", "part-b", "part-c"])
    doc = _json.loads(io2.read_text("/mem/v1_manifest/manifest-1.json"))
    assert doc["format"] == 2 and sum(sh["n"] for sh in doc["shards"]) == 3


def test_manifest_shard_gc_and_orphan_safety():
    """Shard-doc lifecycle: (a) a crash between shard write and list
    CAS leaves an orphan shard doc that is INVISIBLE and swept only
    after its creation epoch ages past KEEP_GENERATIONS; (b) shard
    docs referenced by ANY retained generation survive pruning; (c) a
    reused old shard is never swept while referenced."""
    import json as _json

    from spatial_spark.manifest import Manifest
    io = _FakeManifestIO()
    man = Manifest("/mem/store", io=io)
    man.commit(["part-a"])
    # (a) crash after shard write, before CAS: orphan shard doc
    io.fail_next["cas_rename"] = 0
    import pytest as _pytest
    with _pytest.raises(OSError):
        man.commit(["part-a", "part-b"])
    del io.fail_next["cas_rename"]
    orphans = [p for p in io.files
               if "/shard-1-" in p]
    assert orphans, "crash left the epoch-1 shard doc"
    assert man.current() == (0, ["part-a"]), "orphan invisible"
    # age it out: KEEP_GENERATIONS commits later the orphan is swept,
    # the shard docs of retained generations survive
    for i in range(Manifest.KEEP_GENERATIONS + 2):
        man.commit(["part-a", f"part-x{i}"])
    assert not [p for p in io.files if "/shard-1-" in p], \
        "aged-out orphan swept"
    cur = man._newest()
    for sh in cur[1]["shards"]:
        assert "/mem/store_manifest/" + sh["name"] in io.files
    # (c) every retained epoch still materializes (no referenced shard
    # was swept, including ones created many epochs ago and reused)
    for e in man.epochs():
        assert man.files_at(e), f"epoch {e} lost its shards"


def test_layer_df_window_prunes_files(ctx, spark):
    """Layer-level shard planning: two widely-separated spatial
    clusters written as separate appends land in different shards with
    footer-harvested stats; df_window over one cluster's window reads
    a strict subset of the layer's files and within_distance stays
    exact."""
    layer = ctx.create_point_layer("shardprune", x="lon", y="lat")
    west = [(i, -100.0 + i * 0.01, 40.0) for i in range(50)]
    east = [(100 + i, 100.0 + i * 0.01, -40.0) for i in range(50)]
    layer.add(spark.createDataFrame(west, "id long, lon double, lat double"))
    layer.add(spark.createDataFrame(east, "id long, lon double, lat double"))
    shards = layer._manifest.shard_stats()
    assert shards is not None and len(shards) >= 2
    with_stats = [s for s in shards if s["stats"]]
    assert with_stats, "footer stats reached the manifest list"
    all_files = set(layer.df().inputFiles())
    west_files = set(layer.df_window((-101.0, 39.0, -99.0, 41.0)).inputFiles())
    assert west_files and west_files < all_files, \
        "window read must plan over a strict subset of files"
    got = sorted(r["id"] for r in
                 layer.within_distance(-100.0, 40.0, 200.0).collect())
    assert got and all(i < 100 for i in got), "east cluster excluded"
    # a window over everything still sees every row
    assert layer.bbox_search(-180.0, -90.0, 180.0, 90.0).count() == 100


def test_manifest_commit_delta():
    """commit_delta semantics: (a) a pure append opens ZERO existing
    shard docs and reuses every shard by name; (b) a removal opens and
    rewrites only the shard whose lo/hi name range covers the removed
    file; (c) removing a file absent from the snapshot raises KeyError
    (stale caller view); (d) re-adding an existing name is idempotent;
    (e) meta carries forward through delta commits."""
    import json as _json

    import pytest as _pytest
    from spatial_spark.manifest import Manifest
    io = _FakeManifestIO()
    man = Manifest("/mem/store", io=io)
    man.commit([f"part-{i:03d}" for i in range(4)],
               meta={"stream_epochs": {"ck": 7}})
    doc0 = _json.loads(io.read_text("/mem/store_manifest/manifest-0.json"))
    names0 = [sh["name"] for sh in doc0["shards"]]
    # (a) pure append: no shard-doc reads, prior shard reused by name
    reads = []
    real_read = io.read_text
    io.read_text = lambda p: (reads.append(p), real_read(p))[1]
    man.commit_delta(add=["part-zz"])
    io.read_text = real_read
    assert not [p for p in reads if "/shard-" in p], \
        "append must not open existing shard docs"
    doc1 = _json.loads(io.read_text("/mem/store_manifest/manifest-1.json"))
    assert set(names0) < {sh["name"] for sh in doc1["shards"]}
    assert man.current() == (1, [f"part-{i:03d}" for i in range(4)]
                             + ["part-zz"])
    # (b) removal rewrites only the covering shard
    man.commit_delta(remove=["part-001"])
    assert man.current()[1] == ["part-000", "part-002", "part-003",
                                "part-zz"]
    doc2 = _json.loads(io.read_text("/mem/store_manifest/manifest-2.json"))
    kept = {sh["name"] for sh in doc1["shards"]} & \
           {sh["name"] for sh in doc2["shards"]}
    assert kept, "the untouched shard must be reused"
    # (c) stale remove raises
    with _pytest.raises(KeyError, match="stale"):
        man.commit_delta(remove=["part-001"])
    # (d) re-adding an existing name is a no-op for the file set
    man.commit_delta(add=["part-zz"])
    assert man.current()[1].count("part-zz") == 1
    # (e) meta carried forward through all of the above
    assert man.current_meta()["stream_epochs"] == {"ck": 7}


def test_cql_tier4_arithmetic_and_geometry_functions(ctx, spark):
    """r12 (VERDICT r11 ask #7) — ECQL tier 4: (a) arithmetic
    expressions flow through to SQL; (b) geometry functions
    (area/geomLength/numPoints/numGeometries/dimension/isValid/isEmpty)
    rewrite to the st_* kernel over the geom column; (c) a geometry
    function over a non-geometry property refuses in strict mode; (d)
    literal masking keeps function names inside strings untouched; (e)
    end-to-end on a WKT layer."""
    import pytest as _pytest

    from spatial_spark.operators.cql import cql_to_sql

    # (a) + (b): translation shapes
    assert cql_to_sql("a + b * 2 > 10") == "a + b * 2 > 10"
    assert cql_to_sql("area(the_geom) > 5") == "st_area(geom) > 5"
    assert (cql_to_sql("geomLength(geometry) + 1 < x")
            == "st_length(geom) + 1 < x")
    assert (cql_to_sql("numPoints(the_geom) = 5 AND numGeometries(geom)"
                       " = 1 AND dimension(the_geom) = 2")
            == "st_numpoints(geom) = 5 AND st_numgeometries(geom)"
               " = 1 AND st_dimension(geom) = 2")
    assert (cql_to_sql("isValid(the_geom) AND NOT isEmpty(the_geom)")
            == "st_isvalid(geom) AND NOT st_isempty(geom)")
    # (c) strict refusal on non-geometry arguments
    with _pytest.raises(ValueError, match="non-geometry"):
        cql_to_sql("area(p_name) > 1")
    # (d) masked literals survive
    assert (cql_to_sql("name = 'area(the_geom)'")
            == "name = 'area(the_geom)'")
    # (e) end to end: rect areas through a WKT layer
    layer = ctx.create_wkt_layer("cql4")
    rows = [(i, "POLYGON ((0 0, %d 0, %d %d, 0 %d, 0 0))"
             % (i, i, i, i)) for i in range(1, 6)]
    layer.add(spark.createDataFrame(rows, "id long, wkt string"), wkt="wkt")
    got = sorted(r["id"] for r in
                 layer.cql("area(the_geom) > 4.5 AND id * 2 >= 6")
                 .collect())
    assert got == [3, 4, 5]


def test_cql_envelope_mines_manifest_pruning(ctx, spark):
    """r12: conjunctive CQL spatial envelopes prune manifest shards —
    a BBOX over one spatial cluster reads a strict subset of the
    layer's files; OR/NOT expressions and DISJOINT do not prune; the
    answers are identical either way."""
    from spatial_spark.operators.cql import cql_to_sql

    layer = ctx.create_point_layer("cqlprune", x="lon", y="lat")
    west = [(i, -100.0 + i * 0.01, 40.0) for i in range(50)]
    east = [(100 + i, 100.0 + i * 0.01, -40.0) for i in range(50)]
    layer.add(spark.createDataFrame(west, "id long, lon double, lat double"))
    layer.add(spark.createDataFrame(east, "id long, lon double, lat double"))
    all_files = set(layer.df().inputFiles())
    q = layer.cql("BBOX(the_geom, -101, 39, -99, 41) AND id < 1000")
    assert set(q.inputFiles()) < all_files, "BBOX must prune shards"
    got = sorted(r["id"] for r in q.collect())
    assert got == list(range(50))
    # OR disables mining (spatial predicate may be disjunctive)
    q2 = layer.cql("BBOX(the_geom, -101, 39, -99, 41) OR id >= 100")
    assert set(q2.inputFiles()) == all_files
    assert q2.count() == 100
    # envelope collector behavior at the translator level
    env = []
    cql_to_sql("BBOX(the_geom, 0, 1, 2, 3) AND "
               "INTERSECTS(the_geom, POLYGON ((0 0, 4 0, 4 4, 0 4, 0 0)))",
               _env_out=env)
    assert env == [(0.0, 1.0, 2.0, 3.0), (0.0, 0.0, 4.0, 4.0)]
    env2 = []
    cql_to_sql("NOT BBOX(the_geom, 0, 1, 2, 3)", _env_out=env2)
    assert env2 == []
    env3 = []
    cql_to_sql("DISJOINT(the_geom, POINT (1 1))", _env_out=env3)
    assert env3 == []


def test_manifest_sharded_model_check():
    """Randomized model check (r12): 300 interleaved operations —
    full-list commit, delta add/remove, stats-carrying commits,
    generation pruning — against a plain-set model.  Invariants after
    every step: current() == (epoch, sorted(model)); files_where over
    a random stat predicate returns a SUPERSET of the stat-matching
    files and a SUBSET of all files; every retained epoch
    materializes; no unreferenced shard doc older than the prune
    cutoff survives."""
    import json as _json
    import random

    from spatial_spark.manifest import Manifest

    rng = random.Random(1207)
    io = _FakeManifestIO()
    man = Manifest("/mem/store", io=io)
    model: dict = {}            # name -> stats or None
    epoch = -1
    next_id = 0

    def new_files(k):
        nonlocal next_id
        out = []
        for _ in range(k):
            n = f"part-{rng.randrange(10):01d}{next_id:05d}"
            next_id += 1
            z = rng.randrange(1000)
            out.append((n, {"zmin": z, "zmax": z + rng.randrange(50),
                            "xmin": float(rng.randrange(-180, 170)),
                            "ymin": -10.0, "xmax": 181.0, "ymax": 10.0,
                            "rows": rng.randrange(1, 500)}
                        if rng.random() < 0.8 else None))
        return out

    for step in range(300):
        op = rng.random()
        if op < 0.55 and epoch >= 0:        # delta
            adds = new_files(rng.randrange(0, 4))
            rm = rng.sample(sorted(model), min(len(model),
                                               rng.randrange(0, 3)))
            man.commit_delta(
                add=[n for n, _ in adds], remove=rm,
                stats={n: st for n, st in adds if st})
            for n in rm:
                model.pop(n)
            for n, st in adds:
                model[n] = st
        else:                               # full-list commit
            adds = new_files(rng.randrange(1, 5))
            keep = {n: model[n] for n in
                    rng.sample(sorted(model),
                               max(0, len(model)
                                   - rng.randrange(0, 3)))}
            model = keep
            for n, st in adds:
                model[n] = st
            man.commit(sorted(model),
                       stats={n: st for n, st in adds if st})
        epoch += 1
        cur = man.current()
        assert cur == (epoch, sorted(model)), f"step {step}"
        if rng.random() < 0.2:
            zc = rng.randrange(1000)
            got = set(man.files_where(
                lambda s: s.get("zmin", 0) <= zc
                and s.get("zmax", 10**9) >= zc))
            must = {f"/mem/store/{n}" for n, st in model.items()
                    if st and st["zmin"] <= zc <= st["zmax"]}
            every = {f"/mem/store/{n}" for n in model}
            assert must <= got <= every, f"step {step}"
        for e in man.epochs():
            man.files_at(e)                 # must not raise
    # shard-doc hygiene: docs referenced by no retained manifest and
    # older than the cutoff are gone
    referenced = set()
    for e in man.epochs():
        doc = _json.loads(io.read_text(
            f"/mem/store_manifest/manifest-{e}.json"))
        referenced |= {sh["name"] for sh in doc.get("shards", [])}
    cutoff = epoch - Manifest.KEEP_GENERATIONS
    stale = [p for p in io.files
             if "/shard-" in p
             and p.split("/")[-1] not in referenced
             and int(p.split("/")[-1].split("-")[1]) <= cutoff]
    assert not stale, stale[:5]


def test_df_window_antimeridian_split(ctx, spark):
    """within_distance near the antimeridian: the split search windows
    reach df_window as a LIST and shard pruning must keep files on
    BOTH sides (a wrong all-windows AND would drop one side)."""
    layer = ctx.create_point_layer("amsplit", x="lon", y="lat")
    west_side = [(i, 179.5 + i * 0.001, 10.0) for i in range(40)]
    east_side = [(100 + i, -179.9 + i * 0.001, 10.0) for i in range(40)]
    far = [(200 + i, 0.0 + i * 0.01, -50.0) for i in range(40)]
    for rows in (west_side, east_side, far):
        layer.add(spark.createDataFrame(
            rows, "id long, lon double, lat double"))
    got = sorted(r["id"] for r in
                 layer.within_distance(179.95, 10.0, 60.0).collect())
    assert got, "must find neighbors across the antimeridian"
    assert any(i < 100 for i in got) and any(100 <= i < 200 for i in got)
    assert all(i < 200 for i in got), "far cluster excluded"
    # pruning engaged: the far cluster's files are not read
    pruned = layer.df_window([(179.0, 9.0, 180.0, 11.0),
                              (-180.0, 9.0, -179.0, 11.0)])
    assert set(pruned.inputFiles()) < set(layer.df().inputFiles())


def test_window_search_prunes_files_by_key_range(ctx, spark):
    """On an all-points layer a window search drops at the manifest
    every file whose zkey range meets none of the window's exact key
    ranges.  Each append covers one level-1 z-order quadrant and
    range-partitions into key slices, so the files hold disjoint key
    ranges, while a slice's envelope can be far wider than the cells
    its keys cover: the key ranges plan fewer files than the envelope
    prune alone, and every answer stays the brute-force one."""
    import numpy as np

    rng = np.random.default_rng(5)
    layer = ctx.create_point_layer("zprune", x="lon", y="lat")
    pts = []
    for q, (qx, qy) in enumerate(((-180, -90), (0, -90), (-180, 0), (0, 0))):
        xy = rng.uniform((qx, qy), (qx + 180, qy + 90), size=(300, 2))
        rows = [(q * 1000 + i, float(x), float(y))
                for i, (x, y) in enumerate(xy)]
        layer.add(spark.createDataFrame(
            rows, "id long, lon double, lat double"))
        pts += rows
    ids, xs, ys = (np.array(c) for c in zip(*pts))
    planned = envelope = 0
    for cx, cy in rng.uniform((-170, -80), (170, 80), size=(12, 2)):
        w = (cx - 8.0, cy - 5.0, cx + 8.0, cy + 5.0)
        hit = layer.bbox_search(*w)
        got = sorted(r["id"] for r in hit.select("id").collect())
        inside = (xs >= w[0]) & (xs <= w[2]) & (ys >= w[1]) & (ys <= w[3])
        assert got == sorted(ids[inside].tolist()), w
        files = set(hit.inputFiles())
        rows: list = []
        env_files = set(layer.df_pruned(windows=w, rows_out=rows)
                        .inputFiles())
        assert files <= env_files, w
        # the planned files' recorded row counts, one per file
        assert len(rows) == len(env_files) and sum(rows) == \
            layer.df_pruned(windows=w).count(), w
        planned += len(files)
        envelope += len(env_files)
    assert planned < envelope, (planned, envelope)


def test_window_search_never_key_prunes_polygon_layer(ctx, spark):
    """zkey indexes a bbox CENTRE, so a polygon whose bbox meets the
    window may key into a cell the window's ranges miss: a WKT layer's
    search must plan exactly the envelope-pruned files and find it."""
    from spatial_spark.operators.pruning import window_ranges

    layer = ctx.create_wkt_layer("zprune_poly")
    for i, (x0, y0) in enumerate(((-60, -60), (20, 20), (-170, 50))):
        layer.add(spark.createDataFrame(
            [(i, f"POLYGON (({x0} {y0}, {x0 + 59} {y0}, {x0 + 59} "
                 f"{y0 + 59}, {x0} {y0 + 59}, {x0} {y0}))")],
            "id long, wkt string"), wkt="wkt")
    w = (-5.0, -5.0, -2.0, -2.0)          # the corner of polygon 0
    (zmin, zmax), = [(r["zkey"], r["zkey"]) for r in
                     layer.df().filter("id = 0").collect()]
    assert not any(lo <= zmax and hi >= zmin
                   for lo, hi in window_ranges(w)), \
        "the centre key must miss the window for this test to bite"
    hit = layer.bbox_search(*w)
    assert [r["id"] for r in hit.select("id").collect()] == [0]
    assert set(hit.inputFiles()) == set(
        layer.df_pruned(windows=w).inputFiles())


def test_commit_delta_range_less_shard_dedups_adds():
    """A shard entry without a lo/hi name range (e.g. written by an
    older layout generation) must be treated as possibly containing
    ANY added name — re-adding a file that lives in such a shard stays
    idempotent instead of duplicating it across shards."""
    import json as _json

    from spatial_spark.manifest import Manifest
    io = _FakeManifestIO()
    man = Manifest("/mem/store", io=io)
    man.commit(["part-a", "part-b"])
    # strip lo/hi from the published entry (simulate the older layout)
    path = "/mem/store_manifest/manifest-0.json"
    doc = _json.loads(io.read_text(path))
    for sh in doc["shards"]:
        sh.pop("lo", None)
        sh.pop("hi", None)
    io.files[path] = _json.dumps(doc).encode()
    man.commit_delta(add=["part-a", "part-c"])
    assert man.current() == (1, ["part-a", "part-b", "part-c"])


def test_commit_delta_same_name_replace():
    """r13 (ADVICE): a name appearing in BOTH add and remove of one
    delta is a same-name replace — the snapshot must retain the name
    (with the NEW stats), not silently drop it."""
    from spatial_spark.manifest import Manifest
    io = _FakeManifestIO()
    man = Manifest("/mem/store", io=io)
    man.commit(["part-a", "part-b"],
               stats={"part-a": {"rows": 1}, "part-b": {"rows": 2}})
    man.commit_delta(add=["part-a"], remove=["part-a"],
                     stats={"part-a": {"rows": 9}})
    epoch, files = man.current()
    assert files == ["part-a", "part-b"]
    import json as _json
    doc = _json.loads(
        io.read_text(f"/mem/store_manifest/manifest-{epoch}.json"))
    st = {}
    for sh in doc["shards"]:
        st.update(man._shard_doc(sh["name"]).get("file_stats", {}))
    assert st["part-a"]["rows"] == 9 and st["part-b"]["rows"] == 2


def test_layer_add_mode_validation(ctx, spark):
    """r13 (ADVICE): Layer.add only supports append/overwrite — the
    manifest-transactional path can't honor 'ignore'/'error', so they
    raise instead of silently appending."""
    import pytest as _pytest
    layer = ctx.create_layer("modeval_l", encoder="wkt")
    df = spark.createDataFrame([(1, "POINT (1 2)")], "id long, wkt string")
    with _pytest.raises(ValueError, match="append.*overwrite"):
        layer.add(df, wkt="wkt", mode="ignore")
    with _pytest.raises(ValueError, match="append.*overwrite"):
        layer.add(df, wkt="wkt", mode="errorifexists")


def test_attribute_range_shard_pruning(ctx, spark):
    """r13 (VERDICT r12 ask #5): per-shard attribute-range stats —
    (a) numeric attribute columns get amin:/amax: entries in the
    manifest shard stats; (b) Layer.df_pruned(props=) skips shards
    the range proves empty, and the pruned result equals the
    unpruned filter; (c) cql_filter mines property bounds from pure
    conjunctions and engages the same pruning; (d) arithmetic
    right-hand sides are NOT mined (no over-pruning); (e) OR
    disables mining."""
    from spatial_spark.operators.cql import cql_filter, cql_to_sql
    layer = ctx.create_point_layer("attrprune", x="lon", y="lat")
    # three appends with disjoint `score` ranges -> three shards-ish
    for base in (0, 100, 200):
        rows = [(base + i, 10.0 + base * 0.01 + i * 0.001, 45.0,
                 base + i) for i in range(30)]
        layer.add(spark.createDataFrame(
            rows, "id long, lon double, lat double, score long"))

    # (a) stats present in the manifest
    sts = layer._manifest.shard_stats()
    assert any("amin:score" in (sh.get("stats") or {}) for sh in sts)

    # (b) range pruning shrinks the file list, same answer
    full = layer.df().filter("score >= 200")
    pruned = layer.df_pruned(props={"score": (200, None)})
    assert set(pruned.inputFiles()) < set(layer.df().inputFiles())
    assert (sorted(r["id"] for r in pruned.filter("score >= 200")
                   .collect())
            == sorted(r["id"] for r in full.collect()))

    # (c) cql_filter end to end: property conjunction prunes
    got = cql_filter(layer, "score >= 200 AND score < 230")
    assert set(got.inputFiles()) < set(layer.df().inputFiles())
    assert sorted(r["id"] for r in got.collect()) == list(range(200, 230))

    # mined bounds are what the translator saw
    props = {}
    cql_to_sql("score >= 200 AND score < 230", _prop_out=props)
    assert props == {"score": (200.0, 230.0)}

    # (d) arithmetic RHS is not mined (would over-prune)
    props = {}
    cql_to_sql("score < 10 + 300", _prop_out=props)
    assert "score" not in props
    got = cql_filter(layer, "score < 10 + 300")
    assert got.count() == 90

    # (e) OR disables mining; the answer is still right
    props = {}
    cql_to_sql("score < 30 OR score >= 220", _prop_out=props)
    assert props == {}
    got = cql_filter(layer, "score < 30 OR score >= 220")
    assert got.count() == 40


def test_cql_tier5_string_functions(ctx, spark):
    """r13 — ECQL tier 5 (GeoTools FilterFunction_str* family): (a)
    Java semantics: strSubstring 0-based begin/end-exclusive,
    strIndexOf 0-based with -1 for absent, strMatches FULL match,
    strCapitalize = initcap; (b) nesting through recursive arg
    rewrite; (c) strReplace only in its replace-all form; (d) an
    unrecognized str*() raises in strict mode; (e) end-to-end on a
    DataFrame."""
    import pytest as _pytest

    from spatial_spark.operators.cql import cql_to_sql

    t = lambda e: cql_to_sql(e, has_geom=False)
    assert t("strSubstring(a, 2, 5)") == \
        "substring(a, (2) + 1, (5) - (2))"
    assert t("strIndexOf(a, 'x')") == "(instr(a, 'x') - 1)"
    assert t("strToLowerCase(strTrim(a))") == "lower(trim(a))"
    assert t("strConcat(strToLowerCase(a), strToUpperCase(b))") == \
        "concat(lower(a), upper(b))"
    assert t("strMatches(a, 'ab+')") == \
        "(a RLIKE concat('^(?:', 'ab+', ')$'))"
    assert t("strReplace(a, 'x', 'y', true)") == "replace(a, 'x', 'y')"
    with _pytest.raises(ValueError, match="replace-all"):
        t("strReplace(a, 'x', 'y', false)")
    with _pytest.raises(ValueError, match="unsupported string"):
        t("strURLEncode(a) = 'x'")
    # literal masking: function names inside strings stay untouched
    assert t("a = 'strTrim(b)'") == "a = 'strTrim(b)'"

    df = spark.createDataFrame(
        [(1, "  Hello World  ", "abc123"), (2, "spark", "xyz")],
        "id long, s string, u string")
    got = df.filter(t("strMatches(u, '[a-z]+[0-9]+') = true")).collect()
    assert [r["id"] for r in got] == [1]
    row = df.filter("id = 1").selectExpr(
        f"{t('strLength(strTrim(s))')} AS n",
        f"{t('strCapitalize(strTrim(s))')} AS cap",
        f"{t('strIndexOf(s, (chr(72)))')} AS i",
        f"{t('strSubstring(u, 3, 6)')} AS sub").first()
    assert (row["n"], row["cap"], row["sub"]) == (11, "Hello World", "123")
    # strIndexOf of 'H' in '  Hello...' -> Java index 2
    assert row["i"] == 2


def test_attribute_stats_survive_compaction(ctx, spark):
    """r13: compaction re-reads the rewritten files' footer stats, so the
    amin:/amax: attribute-range keys must re-appear in the compacted
    shard aggregates and df_pruned(props=) must keep pruning with the
    SAME answers after compact()."""
    layer = ctx.create_point_layer("attrcompact", x="lon", y="lat")
    for base in (0, 100, 200):
        rows = [(base + i, 10.0 + base * 0.01 + i * 0.001, 45.0,
                 base + i) for i in range(30)]
        layer.add(spark.createDataFrame(
            rows, "id long, lon double, lat double, score long"))
    before = sorted(r["id"] for r in
                    layer.df_pruned(props={"score": (200, None)})
                    .filter("score >= 200").collect())
    layer.compact(target_files=1)
    sts = layer._manifest.shard_stats()
    assert any("amin:score" in (sh.get("stats") or {}) for sh in sts)
    after = sorted(r["id"] for r in
                   layer.df_pruned(props={"score": (200, None)})
                   .filter("score >= 200").collect())
    assert after == before == list(range(200, 230))


def test_files_where_per_file_pruning():
    """r14 (VERDICT r13 ask #2): inside an OPENED shard doc the keep
    predicate runs again per file over the persisted per-file stats —
    a selective filter plans ~matching files, not the whole surviving
    shard.  Stats-less files are always included (prune only on
    evidence), and the per-file cut survives a delta rewrite."""
    from spatial_spark.manifest import Manifest
    io = _FakeManifestIO()
    man = Manifest("/mem/store", io=io)
    names = [f"part-{i:03d}" for i in range(10)]
    stats = {n: {"rows": 10, "amin:score": 100.0 * i,
                 "amax:score": 100.0 * i + 99.0}
             for i, n in enumerate(names)}
    stats.pop("part-007")                       # one stats-less file
    man.commit(names, stats=stats)
    assert len(man.shard_stats()) == 1          # ONE shard holds all 10

    def keep(st):
        amin, amax = st.get("amin:score"), st.get("amax:score")
        if amin is None or amax is None:
            return True
        return amin <= 350.0 and amax >= 250.0  # files 2 and 3 only

    got = man.files_where(keep)
    assert sorted(got) == ["/mem/store/part-002", "/mem/store/part-003",
                           "/mem/store/part-007"]  # + the stats-less one
    # per-file stats keep pruning after a removal rewrites the shard
    man.commit([n for n in names if n != "part-005"])
    got2 = man.files_where(keep)
    assert sorted(got2) == sorted(got)
    # an impossible range keeps ONLY the stats-less file (the shard
    # aggregate is {} because one file lacks stats, so the cut is
    # entirely the per-file tier's)
    assert man.files_where(
        lambda s: s.get("amin:score", 0.0) > 1e9) == \
        ["/mem/store/part-007"]


def test_register_all_idempotent_per_session(spark):
    """r15: SpatialContext construction calls register_all every time;
    registration is 69 py4j round-trips, so a second call on the same
    session must be a guarded no-op (and force=True must re-register)."""
    from spatial_spark.functions.scalar import register_all

    register_all(spark)
    # overwrite one name with a foreign function: a plain second call
    # must NOT touch it (guard active), force=True must restore it
    spark.udf.register("st_area", lambda s: -1.0, "double")
    register_all(spark)
    assert spark.sql(
        "SELECT st_area('x') v").collect()[0].v == -1.0
    register_all(spark, force=True)
    wkt = "POLYGON ((0 0, 2 0, 2 2, 0 2, 0 0))"
    assert spark.sql(
        f"SELECT st_area(st_geomfromtext('{wkt}')) v"
    ).collect()[0].v == 4.0


def test_add_failed_data_move_raises_and_commits_nothing(ctx, spark,
                                                         monkeypatch):
    """A data-file move whose rename REPORTS failure (returns False
    instead of raising) must fail Layer.add before the manifest
    commits: committing the unmoved name would list a file that does
    not exist, and every later read of the layer would fail."""
    import os as _os

    import pytest as _pytest

    from spatial_spark.layer import Layer
    from spatial_spark.manifest import LocalManifestIO, Manifest

    class FlakyRenameIO(LocalManifestIO):
        fails_left = 1

        def rename(self, src, dst):
            if self.fails_left and _os.path.basename(src).startswith(
                    "part-"):
                self.fails_left -= 1
                return False
            return super().rename(src, dst)

    layer = ctx.create_point_layer("flaky_move", x="lon", y="lat")
    layer.add(_grid_points(spark))
    epochs = layer._manifest.epochs()
    before = layer.df().count()
    io = FlakyRenameIO()
    monkeypatch.setattr(Layer, "_manifest", property(
        lambda self: Manifest(self.path, io=io)))
    more = _grid_points(spark, x0=20.0).selectExpr(
        "id + 1000 AS id", "lon", "lat")
    with _pytest.raises(OSError, match="publish_staged"):
        layer.add(more, mode="append")
    assert io.fails_left == 0
    assert layer._manifest.epochs() == epochs
    assert layer.df().count() == before
    # the lock was released: the next append goes through
    layer.add(more, mode="append")
    assert layer.df().count() == before + 400


def test_manifest_file_stats_match_parquet_values(ctx, spark):
    """The per-file stats Layer.add records in the manifest are pinned
    EXACTLY against values read back with pyarrow: rows, the zkey
    range, the file envelope, and amin:/amax: for the first 12
    numeric non-core columns in schema order (strings never)."""
    import os as _os

    import pyarrow.parquet as pq

    attrs = [f"a{k}" for k in range(12)]
    rows = [(i, 12.0 + (i % 25) * 0.01, 56.0 + (i // 25) * 0.01,
             *[i * (k + 1) - 50 * k for k in range(12)], f"t{i}")
            for i in range(300)]
    schema = ("id long, lon double, lat double, "
              + ", ".join(f"{a} long" for a in attrs) + ", tag string")
    layer = ctx.create_point_layer("exact_stats", x="lon", y="lat")
    layer.add(spark.createDataFrame(rows, schema))
    entries = list(layer._manifest.entries())
    assert len(entries) > 1
    for name, st in entries:
        t = pq.read_table(_os.path.join(layer.path, name))

        def col(c):
            return t.column(c).to_pylist()
        want = {"rows": t.num_rows,
                "zmin": min(col("zkey")), "zmax": max(col("zkey")),
                "xmin": min(col("xmin")), "ymin": min(col("ymin")),
                "xmax": max(col("xmax")), "ymax": max(col("ymax"))}
        # lon, lat and a0..a9 fill the 12 attribute slots; a10, a11
        # and the string tag get none
        for c in ["lon", "lat"] + attrs[:10]:
            want[f"amin:{c}"] = float(min(col(c)))
            want[f"amax:{c}"] = float(max(col(c)))
        assert st == want, name

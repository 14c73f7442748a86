"""SFC key-range pruning for window queries.

The reference's space-filling-curve point indexes answer a window query by
computing the curve ranges that intersect the window
(LayerSpaceFillingCurvePointIndex.getTilesIntersectingEnvelope → index range
scans, :114-179).  Here one decomposition per window (``window_ranges``, up
to ``MAX_RANGES`` ranges) feeds two prune layers:

* the exact range list prunes the MANIFEST file list: ``Layer.df_pruned``
  drops every shard and file whose ``zmin``/``zmax`` meets none of the
  ranges, driver-side, before any parquet footer is opened.  Layer writes
  range-partition and sort by zkey, so files hold disjoint key ranges and a
  window plans about one file instead of every file its envelope touches;
* the same list coarsened to ``PLAN_RANGES`` ranges (``sfc._merge_coarsen``,
  still a superset) becomes the zkey part of the scan predicate,
  ``((zkey >= lo AND zkey <= hi) OR …)``, placed AFTER the window's bbox
  conjuncts.  Catalyst pushes it to Parquet row-group stats, where it
  skips row groups inside a file of more than one, and Spark re-checks it
  on every row that passes the bbox test.  The short list is the cheaper
  one to analyse and re-check: with the exact list in the plan instead,
  search_mix (a 60 000-point layer in four one-row-group files, so no
  row-group pruning either way) took op_p50 167 → 183 ms and op_p90
  253 → 293 ms over ten paired runs (4 vCPUs).  Coarsening closes the
  smallest gaps between ranges first, so the list stays a superset.
"""

from __future__ import annotations

from ..functions.columns import sql_long
from ..sfc import WGS84, _merge_coarsen, hilbert_ranges, zorder_ranges

#: ranges per window for the manifest prune (the exact list)
MAX_RANGES = 32
#: ranges per window in the scan predicate (the coarsened list)
PLAN_RANGES = 4

_RANGE_FNS = {"zorder": zorder_ranges, "hilbert": hilbert_ranges}


def window_ranges(window, curve: str = "zorder", extent=WGS84) -> list:
    """Sorted inclusive ``(lo, hi)`` key ranges covering every cell
    that meets ``window`` — the one decomposition a search makes per
    window.

    NOTE: zkey indexes the bbox *centre* cell.  For point layers this is
    exact; for extended geometries a centre can sit in a cell outside the
    query window even though the bbox intersects it, so callers use the
    ranges only when the layer catalog records the layer as all-points
    (Layer.all_points) and its schema holds a zkey column — planning
    NEVER scans the data to find out.

    ``curve`` is the layer's write-clustering curve from the catalog: the
    window decomposes into key ranges of the SAME curve the zkey column
    was encoded with (the reference's getTilesIntersectingEnvelope is
    curve-generic the same way, LayerSpaceFillingCurvePointIndex.java:
    114-124).
    """
    return _RANGE_FNS[curve](window, extent=extent, max_ranges=MAX_RANGES)


def zkey_sql(ranges: list) -> str | None:
    """The scan predicate over zkey for one window's ``ranges``,
    coarsened to ``PLAN_RANGES``; None when there are no ranges."""
    if not ranges:
        return None
    return "(" + " OR ".join(
        f"(zkey >= {sql_long(lo)} AND zkey <= {sql_long(hi)})"
        for lo, hi in _merge_coarsen(ranges, PLAN_RANGES)) + ")"

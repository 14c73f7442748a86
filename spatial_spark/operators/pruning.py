"""SFC key-range pruning for window queries.

The reference's space-filling-curve point indexes answer a window query by
computing the curve ranges that intersect the window
(LayerSpaceFillingCurvePointIndex.getTilesIntersectingEnvelope → index range
scans, :114-179).  Here the same ranges become one SQL string,
``((zkey >= lo AND zkey <= hi) OR …)``, that Catalyst pushes to Parquet
row-group stats.  Because layer writes range-partition and sort by zkey,
whole files/row-groups fall out of the scan — the 100 TB story for "index
scan".
"""

from __future__ import annotations

from ..functions.columns import sql_long
from ..sfc import WGS84, hilbert_ranges, zorder_ranges

MAX_RANGES = 32

_RANGE_FNS = {"zorder": zorder_ranges, "hilbert": hilbert_ranges}


def sfc_window_sql(window, curve: str = "zorder", extent=WGS84) -> str | None:
    """SQL predicate over zkey for rows whose bbox centre may fall in
    `window`, or None when the window yields no key ranges.

    NOTE: zkey indexes the bbox *centre* cell.  For point layers this is
    exact; for extended geometries a centre can sit in a cell outside the
    query window even though the bbox intersects it, so callers apply the
    predicate only when the layer catalog records the layer as all-points
    (Layer.all_points) and its schema holds a zkey column — planning
    NEVER scans the data to find out.

    ``curve`` is the layer's write-clustering curve from the catalog: the
    window decomposes into key ranges of the SAME curve the zkey column
    was encoded with (the reference's getTilesIntersectingEnvelope is
    curve-generic the same way, LayerSpaceFillingCurvePointIndex.java:
    114-124).
    """
    ranges = _RANGE_FNS[curve](window, extent=extent, max_ranges=MAX_RANGES)
    if not ranges:
        return None
    return "(" + " OR ".join(
        f"(zkey >= {sql_long(lo)} AND zkey <= {sql_long(hi)})"
        for lo, hi in ranges) + ")"

"""Space-filling-curve keys: z-order, hilbert, geohash — write layout + pruning.

Parity targets: LayerZOrderPointIndex.java:28-44, LayerHilbertPointIndex.java:28-39,
LayerSpaceFillingCurvePointIndex.java:57-179 (level-12 curves over the layer
extent; window query → curve ranges via getTilesIntersectingEnvelope),
LayerGeohashPointIndex.java:42-121 (bit-interleaved prefix search).

In the Spark engine these are NOT runtime trees: the key is a column computed
at write time; queries prune with ``key BETWEEN lo AND hi`` OR-lists which
Catalyst pushes into Parquet row-group stats — the moral equivalent of the
reference's index-node envelope pruning at 100 TB scale.

All encoders are vectorized NumPy (used from pandas UDFs or driver code).
"""

from __future__ import annotations

import numpy as np

DEFAULT_LEVEL = 12  # LayerSpaceFillingCurvePointIndex.java:82 — level 12, 2D

# WGS84 extent like the reference point indexes
WGS84 = (-180.0, -90.0, 180.0, 90.0)


def _to_cells(x: np.ndarray, y: np.ndarray, extent, level: int):
    xmin, ymin, xmax, ymax = extent
    n = 1 << level
    cx = np.clip(((np.asarray(x, dtype=np.float64) - xmin) / (xmax - xmin) * n).astype(np.int64), 0, n - 1)
    cy = np.clip(((np.asarray(y, dtype=np.float64) - ymin) / (ymax - ymin) * n).astype(np.int64), 0, n - 1)
    return cx, cy


def _interleave(v: np.ndarray, level: int) -> np.ndarray:
    """Spread bits of v so they occupy even positions (morton half)."""
    v = v.astype(np.uint64)
    # 32-bit spread via magic numbers
    v = (v | (v << np.uint64(16))) & np.uint64(0x0000FFFF0000FFFF)
    v = (v | (v << np.uint64(8))) & np.uint64(0x00FF00FF00FF00FF)
    v = (v | (v << np.uint64(4))) & np.uint64(0x0F0F0F0F0F0F0F0F)
    v = (v | (v << np.uint64(2))) & np.uint64(0x3333333333333333)
    v = (v | (v << np.uint64(1))) & np.uint64(0x5555555555555555)
    return v


def zorder_encode(x, y, extent=WGS84, level: int = DEFAULT_LEVEL) -> np.ndarray:
    """Morton key for point arrays → int64 (y gets odd bits: matches the
    'interleave lon then lat' convention)."""
    cx, cy = _to_cells(x, y, extent, level)
    return (_interleave(cx, level) | (_interleave(cy, level) << np.uint64(1))).astype(np.int64)


def hilbert_encode(x, y, extent=WGS84, level: int = DEFAULT_LEVEL) -> np.ndarray:
    """Hilbert curve distance (vectorized iterative x/y→d)."""
    cx, cy = _to_cells(x, y, extent, level)
    rx = np.zeros_like(cx)
    ry = np.zeros_like(cy)
    d = np.zeros_like(cx)
    x_ = cx.copy()
    y_ = cy.copy()
    s = np.int64(1 << (level - 1))
    while s > 0:
        rx = ((x_ & s) > 0).astype(np.int64)
        ry = ((y_ & s) > 0).astype(np.int64)
        d += s * s * ((3 * rx) ^ ry)
        # rotate
        swap = ry == 0
        flip = swap & (rx == 1)
        x_f = x_.copy()
        x_[swap] = y_[swap]
        y_[swap] = x_f[swap]
        if flip.any():
            x_[flip] = (s - 1) - x_[flip]
            y_[flip] = (s - 1) - y_[flip]
        s //= 2
    return d.astype(np.int64)


_BASE32 = np.array(list("0123456789bcdefghjkmnpqrstuvwxyz"))


def geohash_encode(x, y, precision: int = 12) -> np.ndarray:
    """Standard geohash strings (lon/lat bit interleave, base32)."""
    lon = np.asarray(x, dtype=np.float64)
    lat = np.asarray(y, dtype=np.float64)
    nbits = precision * 5
    lon_bits = (nbits + 1) // 2
    lat_bits = nbits // 2
    clon = np.clip(((lon + 180.0) / 360.0 * (1 << lon_bits)).astype(np.uint64),
                   0, (1 << lon_bits) - 1)
    clat = np.clip(((lat + 90.0) / 180.0 * (1 << lat_bits)).astype(np.uint64),
                   0, (1 << lat_bits) - 1)
    total = np.zeros(len(lon), dtype=np.uint64)
    for i in range(nbits):
        total <<= np.uint64(1)
        if i % 2 == 0:  # even (from MSB): lon bit
            b = (clon >> np.uint64(lon_bits - 1 - i // 2)) & np.uint64(1)
        else:
            b = (clat >> np.uint64(lat_bits - 1 - i // 2)) & np.uint64(1)
        total |= b
    # emit base32
    chars = np.empty((len(lon), precision), dtype="<U1")
    for c in range(precision):
        shift = np.uint64(5 * (precision - 1 - c))
        chars[:, c] = _BASE32[((total >> shift) & np.uint64(31)).astype(np.int64)]
    return np.array(["".join(row) for row in chars])


def zorder_ranges(window, extent=WGS84, level: int = DEFAULT_LEVEL,
                  max_ranges: int = 64) -> list:
    """Decompose a (xmin,ymin,xmax,ymax) window into z-order key ranges.

    Port of the *capability* of getTilesIntersectingEnvelope
    (LayerSpaceFillingCurvePointIndex.java:114-124): quadtree recursion over
    morton space, merging adjacent ranges, coarsening if the budget is hit.
    Returned ranges are inclusive [lo, hi] over the full level-`level` keys.
    """
    xmin, ymin, xmax, ymax = window
    exmin, eymin, exmax, eymax = extent
    n = 1 << level

    def cell_of(v, lo, hi):
        c = int((v - lo) / (hi - lo) * n)
        return min(max(c, 0), n - 1)

    wx0, wx1 = cell_of(xmin, exmin, exmax), cell_of(xmax, exmin, exmax)
    wy0, wy1 = cell_of(ymin, eymin, eymax), cell_of(ymax, eymin, eymax)

    ranges: list = []

    def recurse(cx, cy, size, key, bits_left):
        """cell block at (cx,cy) of side `size`, morton prefix `key`."""
        bx0, by0 = cx, cy
        bx1, by1 = cx + size - 1, cy + size - 1
        if bx1 < wx0 or bx0 > wx1 or by1 < wy0 or by0 > wy1:
            return
        span = size * size
        if (wx0 <= bx0 and bx1 <= wx1 and wy0 <= by0 and by1 <= wy1) or bits_left == 0:
            ranges.append((key, key + span - 1))
            return
        if len(ranges) > max_ranges * 4:
            # budget blown: emit coarse block
            ranges.append((key, key + span - 1))
            return
        h = size // 2
        for q, (dx, dy) in enumerate(((0, 0), (1, 0), (0, 1), (1, 1))):
            # quadrant morton order: x bit = even position → (x,y) quadrant key
            qkey = key + (h * h) * ((dy << 1) | dx)
            recurse(cx + dx * h, cy + dy * h, h, qkey, bits_left - 1)

    recurse(0, 0, n, 0, level)
    return _merge_coarsen(ranges, max_ranges)


def _merge_coarsen(ranges: list, max_ranges: int) -> list:
    """Sort + merge adjacent ranges, then coarsen to the budget by closing
    the smallest gaps (shared by the z-order and Hilbert decompositions)."""
    ranges = sorted(ranges)
    merged = []
    for lo, hi in ranges:
        if merged and lo <= merged[-1][1] + 1:
            merged[-1] = (merged[-1][0], max(merged[-1][1], hi))
        else:
            merged.append((lo, hi))
    while len(merged) > max_ranges:
        gaps = [(merged[i + 1][0] - merged[i][1], i) for i in range(len(merged) - 1)]
        _, i = min(gaps)
        merged[i] = (merged[i][0], merged[i + 1][1])
        del merged[i + 1]
    return merged


# curve order of quadrants: q = (3*rx) ^ ry (matches hilbert_encode)
_HILBERT_QUADS = ((0, 0), (0, 1), (1, 1), (1, 0))


def hilbert_ranges(window, extent=WGS84, level: int = DEFAULT_LEVEL,
                   max_ranges: int = 64) -> list:
    """Decompose a (xmin,ymin,xmax,ymax) window into Hilbert key ranges.

    The Hilbert analogue of ``zorder_ranges`` — the curve-generic range
    enumeration of LayerSpaceFillingCurvePointIndex.java:114-124.  Works
    top-down over quadrants *in curve order* (every block of the curve is
    a contiguous key interval), carrying the window rect through the same
    rotate/flip transform the encoder applies, so the emitted intervals
    line up exactly with ``hilbert_encode`` keys.  Returned ranges are
    inclusive [lo, hi]."""
    xmin, ymin, xmax, ymax = window
    exmin, eymin, exmax, eymax = extent
    n = 1 << level

    def cell_of(v, lo, hi):
        c = int((v - lo) / (hi - lo) * n)
        return min(max(c, 0), n - 1)

    wx0, wx1 = cell_of(xmin, exmin, exmax), cell_of(xmax, exmin, exmax)
    wy0, wy1 = cell_of(ymin, eymin, eymax), cell_of(ymax, eymin, eymax)

    ranges: list = []

    def recurse(x0, y0, x1, y1, m, key):
        """window rect (inclusive, local coords) inside a side-``m`` block
        whose keys are [key, key + m*m)."""
        if x0 <= 0 and y0 <= 0 and x1 >= m - 1 and y1 >= m - 1:
            ranges.append((key, key + m * m - 1))
            return
        if m == 1 or len(ranges) > max_ranges * 4:
            ranges.append((key, key + m * m - 1))
            return
        h = m // 2
        for q, (rx, ry) in enumerate(_HILBERT_QUADS):
            # clip to the quadrant, in child-local (pre-transform) coords
            cx0 = max(x0 - rx * h, 0)
            cx1 = min(x1 - rx * h, h - 1)
            cy0 = max(y0 - ry * h, 0)
            cy1 = min(y1 - ry * h, h - 1)
            if cx0 > cx1 or cy0 > cy1:
                continue
            # the encoder's rot(): for ry==0, flip when rx==1, then swap
            if ry == 0:
                if rx == 1:
                    cx0, cx1 = h - 1 - cx1, h - 1 - cx0
                    cy0, cy1 = h - 1 - cy1, h - 1 - cy0
                cx0, cy0 = cy0, cx0
                cx1, cy1 = cy1, cx1
            recurse(cx0, cy0, cx1, cy1, h, key + q * h * h)

    recurse(wx0, wy0, wx1, wy1, n, 0)
    return _merge_coarsen(ranges, max_ranges)

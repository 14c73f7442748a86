"""Independent expected answers, computed with numpy over the generated
inputs.  Nothing here imports the library under test."""

from __future__ import annotations

import hashlib

import numpy as np

EARTH_RADIUS_KM = 6371.0
#: a distance within this relative band of a radius may fall either way
#: (the JVM and numpy may round the last ulp of acos differently)
DIST_RTOL = 1e-9
#: and within this absolute band (km): near zero the law of cosines takes
#: acos of a value close to 1, so a last-ulp difference in the cosine moves
#: a distance of about 2 km by about 1e-8 km
DIST_ATOL_KM = 1e-6


def sphere_km(lon, lat, xs, ys):
    """Spherical law of cosines, the engine's documented distance."""
    r1, r2 = np.radians(lat), np.radians(ys)
    v = (np.sin(r1) * np.sin(r2)
         + np.cos(r1) * np.cos(r2) * np.cos(np.radians(xs - lon)))
    return np.arccos(np.clip(v, -1.0, 1.0)) * EARTH_RADIUS_KM


def id_digest(ids) -> str:
    a = np.sort(np.asarray(ids, dtype=np.int64))
    return hashlib.sha1(a.tobytes()).hexdigest()[:16]


def bbox_ids(ids, bx, window):
    """Ids whose envelope ``bx`` (n x 4: xmin, ymin, xmax, ymax)
    intersects ``window``, borders included."""
    x0, y0, x1, y1 = window
    m = (bx[:, 0] <= x1) & (bx[:, 2] >= x0) & (bx[:, 1] <= y1) & (bx[:, 3] >= y0)
    return ids[m]


def within_ids(ids, xs, ys, lon, lat, km):
    """(must, may): ids surely within ``km`` and ids on the rounding band."""
    d = sphere_km(lon, lat, xs, ys)
    band = np.abs(d - km) <= DIST_RTOL * km + DIST_ATOL_KM
    return ids[(d <= km) & ~band], ids[band]


def knn_dists(xs, ys, lon, lat, k):
    d = sphere_km(lon, lat, xs, ys)
    return np.sort(np.partition(d, min(k, len(d)) - 1)[:k])


def points_in_ring(xs, ys, ring):
    """Even-odd ray cast of points against one simple ring (n x 2,
    closed or open)."""
    ring = np.asarray(ring, dtype=np.float64)
    if np.array_equal(ring[0], ring[-1]):
        ring = ring[:-1]
    inside = np.zeros(len(xs), dtype=bool)
    x2, y2 = ring[-1]
    for x1, y1 in ring:
        cond = (y1 > ys) != (y2 > ys)
        with np.errstate(divide="ignore", invalid="ignore"):
            xc = (x2 - x1) * (ys - y1) / (y2 - y1) + x1
        inside ^= cond & (xs < xc)
        x2, y2 = x1, y1
    return inside


def quads_contain(px, py, cell_of_point, quads):
    """For points ``px, py`` and the parcel ``cell_of_point`` index
    (-1 = no parcel in that cell), the mask of points inside their cell's
    quad (``quads``: n x 4 x 2, one simple quad per parcel)."""
    ok = cell_of_point >= 0
    q = quads[np.where(ok, cell_of_point, 0)]
    inside = np.zeros(len(px), dtype=bool)
    x2, y2 = q[:, 3, 0], q[:, 3, 1]
    for j in range(4):
        x1, y1 = q[:, j, 0], q[:, j, 1]
        cond = (y1 > py) != (y2 > py)
        with np.errstate(divide="ignore", invalid="ignore"):
            xc = (x2 - x1) * (py - y1) / (y2 - y1) + x1
        inside ^= cond & (px < xc)
        x2, y2 = x1, y1
    return inside & ok


def diamond_zone_pairs(cx, cy, r, zx, zy):
    """Pairs (diamond, grid zone) that intersect, for diamonds
    ``|x-cx| + |y-cy| <= r`` and axis-aligned zones tiling the plane along
    the sorted breakpoints ``zx``, ``zy``: a diamond meets a rectangle iff
    the L1 distance from its centre to the rectangle is at most r."""
    nx, ny = len(zx) - 1, len(zy) - 1
    count = 0
    bbox_cands = 0
    for i in range(nx):
        dx = np.maximum(0.0, np.maximum(zx[i] - cx, cx - zx[i + 1]))
        for j in range(ny):
            dy = np.maximum(0.0, np.maximum(zy[j] - cy, cy - zy[j + 1]))
            count += int(np.count_nonzero(dx + dy <= r))
            bbox_cands += int(np.count_nonzero((dx <= r) & (dy <= r)))
    return count, bbox_cands


def components(n_ids, edges):
    """Min-label connected components over ids ``0..n_ids-1``."""
    parent = np.arange(n_ids)

    def find(a):
        while parent[a] != a:
            parent[a] = parent[parent[a]]
            a = parent[a]
        return a

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return np.array([find(i) for i in range(n_ids)])


def close_pairs(xs, ys, eps):
    """All (a, b), a < b, with planar distance <= eps (blocked brute
    force)."""
    out = []
    n = len(xs)
    for s in range(0, n, 512):
        dx = xs[s:s + 512, None] - xs[None, :]
        dy = ys[s:s + 512, None] - ys[None, :]
        ii, jj = np.nonzero(np.sqrt(dx * dx + dy * dy) <= eps)
        ii = ii + s
        keep = ii < jj
        out.append(np.column_stack([ii[keep], jj[keep]]))
    return np.concatenate(out) if out else np.empty((0, 2), dtype=np.int64)


def dbscan(n, pairs, min_pts):
    """{id: (role, cluster)} with the engine's documented semantics: core
    counts itself, border takes the smallest core-neighbour label."""
    deg = np.bincount(pairs.ravel(), minlength=n) if len(pairs) else np.zeros(n, int)
    core = deg + 1 >= min_pts
    cc = pairs[core[pairs[:, 0]] & core[pairs[:, 1]]]
    lab = components(n, cc)
    border = np.full(n, np.iinfo(np.int64).max)
    for a, b in pairs:
        if core[a] and not core[b]:
            border[b] = min(border[b], lab[a])
        elif core[b] and not core[a]:
            border[a] = min(border[a], lab[b])
    out = {}
    for i in range(n):
        if core[i]:
            out[i] = ("core", int(lab[i]))
        elif border[i] != np.iinfo(np.int64).max:
            out[i] = ("border", int(border[i]))
        else:
            out[i] = ("noise", None)
    return out


def trigram_pairs(texts, threshold):
    """Doc pairs whose lowercase whitespace word-trigram sets have
    Jaccard >= threshold."""
    grams = []
    for t in texts:
        w = t.lower().split()
        grams.append({tuple(w[i:i + 3]) for i in range(max(len(w) - 2, 1))})
    index = {}
    for d, gs in enumerate(grams):
        for g in gs:
            index.setdefault(g, []).append(d)
    cands = set()
    for docs in index.values():
        for i in range(len(docs)):
            for j in range(i + 1, len(docs)):
                cands.add((docs[i], docs[j]))
    out = []
    for a, b in sorted(cands):
        inter = len(grams[a] & grams[b])
        if inter / (len(grams[a]) + len(grams[b]) - inter) >= threshold:
            out.append((a, b))
    return out


def pagerank(src, dst, iters, damping=0.85):
    """{node: rank}: rank'(v) = (1-d)/N + d * sum rank(u)/outdeg(u) over
    distinct edges; dangling nodes forward nothing."""
    e = np.unique(np.column_stack([src, dst]), axis=0)
    nodes = np.unique(e)
    idx = {int(v): i for i, v in enumerate(nodes)}
    s = np.array([idx[int(v)] for v in e[:, 0]])
    t = np.array([idx[int(v)] for v in e[:, 1]])
    n = len(nodes)
    outdeg = np.bincount(s, minlength=n)
    rank = np.full(n, 1.0 / n)
    for _ in range(iters):
        contrib = np.bincount(t, weights=rank[s] / outdeg[s], minlength=n)
        rank = (1.0 - damping) / n + damping * contrib
    return dict(zip(nodes.tolist(), rank.tolist()))


def kmeans(x, k, iters):
    """Lloyd with the engine's documented determinism: the first k rows
    (lowest ids) seed, argmin ties to the lower index, an empty cluster
    keeps its centroid.  ``x`` is ordered by id."""
    x = x.astype(np.float64)
    cent = x[:k].copy()

    def assign(c):
        d = (x * x).sum(1)[:, None] - 2.0 * (x @ c.T) + (c * c).sum(1)[None, :]
        return np.argmin(d, axis=1)

    for _ in range(iters):
        lab = assign(cent)
        for j in range(k):
            m = lab == j
            if m.any():
                cent[j] = x[m].sum(0) / m.sum()
    return assign(cent)

"""The four benchmark workloads.

Each workload builds its inputs from the seed (``setup``), yields a
deterministic stream of operations (``ops``) and runs one operation at a
time against ``spatial_spark``'s public API (``run``), checking every
output against ``oracle``.  ``run`` returns one record per unit op:
``{"kind", "ms", "ok", ...}`` plus per-call timings the traced run uses.
"""

from __future__ import annotations

import os
import time

import numpy as np
import pandas as pd

import oracle

#: generated coordinates live in this lon/lat box
EXTENT = (-10.0, 35.0, 30.0, 60.0)

SIZES = {
    "full": {"points": 60_000, "grid": (60, 40), "parcels": 2_000,
             "join_points": 24_000, "join_parcels": 1_200,
             "batch": 400, "maint_every": 3, "customers": 2_000,
             "docs": 400, "nodes": 2_000, "edges": 8_000, "vectors": 3_000},
    "smoke": {"points": 5_000, "grid": (20, 12), "parcels": 150,
              "join_points": 5_000, "join_parcels": 150,
              "batch": 50, "maint_every": 2, "customers": 300,
              "docs": 60, "nodes": 200, "edges": 600, "vectors": 300},
}


def _ms(t0: float) -> float:
    return (time.perf_counter() - t0) * 1e3


def _wkt_num(v: float) -> str:
    return repr(float(v))


def _ring_wkt(ring) -> str:
    pts = list(ring) + [ring[0]]
    return "POLYGON ((" + ", ".join(
        f"{_wkt_num(x)} {_wkt_num(y)}" for x, y in pts) + "))"


def gen_points(rng, n):
    """Clustered lon/lat points: 60% in 40 gaussian blobs, the rest
    uniform over EXTENT."""
    x0, y0, x1, y1 = EXTENT
    centers = rng.uniform((x0 + 2, y0 + 2), (x1 - 2, y1 - 2), size=(40, 2))
    sig = rng.uniform(0.05, 0.4, 40)
    k = int(n * 0.6)
    which = rng.integers(0, 40, k)
    blob = centers[which] + rng.normal(size=(k, 2)) * sig[which, None]
    flat = rng.uniform((x0, y0), (x1, y1), size=(n - k, 2))
    pts = np.concatenate([blob, flat])
    pts[:, 0] = np.clip(pts[:, 0], x0, x1)
    pts[:, 1] = np.clip(pts[:, 1], y0, y1)
    return pts[rng.permutation(n)]


class Parcels:
    """Simple quads, one per chosen grid cell, each vertex in its own
    quadrant of the cell (so every quad is simple and stays inside its
    cell), plus the diamond centred in the same cell."""

    def __init__(self, rng, grid, n):
        x0, y0, x1, y1 = EXTENT
        self.gx, self.gy = grid
        self.cw, self.ch = (x1 - x0) / self.gx, (y1 - y0) / self.gy
        cells = np.sort(rng.choice(self.gx * self.gy, size=n, replace=False))
        ci, cj = cells % self.gx, cells // self.gx
        cx0, cy0 = x0 + ci * self.cw, y0 + cj * self.ch
        u = rng.uniform(0.05, 0.45, size=(n, 4, 2))
        off = np.array([[0, 0], [0.5, 0], [0.5, 0.5], [0, 0.5]])
        self.quads = np.empty((n, 4, 2))
        self.quads[..., 0] = cx0[:, None] + (u[..., 0] + off[:, 0]) * self.cw
        self.quads[..., 1] = cy0[:, None] + (u[..., 1] + off[:, 1]) * self.ch
        self.cell_to_parcel = np.full(self.gx * self.gy, -1)
        self.cell_to_parcel[cells] = np.arange(n)
        self.ids = np.arange(n, dtype=np.int64)
        self.bbox = np.column_stack([self.quads[..., 0].min(1),
                                     self.quads[..., 1].min(1),
                                     self.quads[..., 0].max(1),
                                     self.quads[..., 1].max(1)])
        self.wkt = [_ring_wkt(q) for q in self.quads]
        # diamonds |x-cx|+|y-cy| <= r, reaching across zone borders
        self.dcx = cx0 + rng.uniform(0.3, 0.7, n) * self.cw
        self.dcy = cy0 + rng.uniform(0.3, 0.7, n) * self.ch
        self.dr = rng.uniform(0.1, 0.5, n)
        self.dwkt = [_ring_wkt([(cx - r, cy), (cx, cy - r), (cx + r, cy),
                                (cx, cy + r)])
                     for cx, cy, r in zip(self.dcx, self.dcy, self.dr)]

    def cell_of(self, xs, ys):
        x0, y0, _, _ = EXTENT
        i = np.clip(((xs - x0) // self.cw).astype(int), 0, self.gx - 1)
        j = np.clip(((ys - y0) // self.ch).astype(int), 0, self.gy - 1)
        return self.cell_to_parcel[j * self.gx + i]


class Workload:
    name = ""
    KINDS: tuple = ()             # the op kinds a run measures
    #: seconds one block (one op of each kind) takes on the reference
    #: machine, 4 cores; a run of ``--seconds S`` runs round(S / BLOCK_S)
    #: blocks whatever the speed of the code under test
    BLOCK_S: float

    def __init__(self, env, seed: int, size: str):
        self.env = env            # spark, tracer, work dir, context factory
        self.seed = seed
        self.size = size
        self.sz = SIZES[size]

    @property
    def tracer(self):
        return self.env.tracer

    def call(self, name, fn, *a, **kw):
        """Run one library call inside a tagged span; returns (result, ms)."""
        with self.tracer.call(name):
            t0 = time.perf_counter()
            out = fn(*a, **kw)
            return out, _ms(t0)

    def files(self, df) -> int:
        return len(df.inputFiles())


# ---------------------------------------------------------------- search_mix
class SearchMix(Workload):
    """One closed-loop client over a point layer and a parcel layer."""

    name = "search_mix"
    KINDS = ("bbox", "within", "knn", "intersects")
    BLOCK_S = 1.3

    def generate(self):
        rng = np.random.default_rng(self.seed)
        self.pts = gen_points(rng, self.sz["points"])
        self.pids = np.arange(len(self.pts), dtype=np.int64)
        self.par = Parcels(rng, self.sz["grid"], self.sz["parcels"])
        self.hot = self.pts[rng.choice(len(self.pts), 32, replace=False)]

    def build(self, ctx):
        spark = self.env.spark
        pdf = pd.DataFrame({"id": self.pids, "lon": self.pts[:, 0],
                            "lat": self.pts[:, 1]})
        pts = ctx.create_point_layer("pts", x="lon", y="lat")
        self.call("layer.add", pts.add, spark.createDataFrame(pdf))
        par = ctx.create_wkt_layer("parcels")
        self.call("layer.add", par.add, spark.createDataFrame(
            pd.DataFrame({"id": self.par.ids, "wkt": self.par.wkt})),
            wkt="wkt")
        self.layers = {"pts": pts, "parcels": par}
        self.total_files = {}

    def ops(self):
        """Endless seeded op stream in blocks of one op per kind (in a
        seeded order), so every run sees the same mix whatever its seed.
        Each kind's size rotates and its centre alternates between a
        Zipf-ranked pool of 32 hot centres (windows repeat) and a fresh
        point with jitter, so every six blocks give each kind each
        (size, hot) pair once and two ops per block are hot.  Only the
        centres and the order within a block depend on the seed."""
        rng = np.random.default_rng([self.seed, 1])
        zipf = 1.0 / np.arange(1, 33) ** 1.1
        zipf /= zipf.sum()
        block = 0
        while True:
            for kind in rng.permutation(self.KINDS):
                k = self.KINDS.index(kind)
                yield self._op(rng, str(kind), (block + k) % 2 == 0,
                               (block + k) % 3, zipf, block)
            block += 1

    def _op(self, rng, kind, hot, size, zipf, block):
        if hot:
            cx, cy = self.hot[rng.choice(32, p=zipf)]
        else:
            cx, cy = self.pts[rng.integers(len(self.pts))] \
                + rng.normal(scale=0.05, size=2)
        op = {"kind": kind, "hot": hot, "cx": float(cx), "cy": float(cy)}
        if kind == "bbox":
            h = (0.02, 0.1, 0.3)[size]
            op["layer"] = "parcels" if block // 3 % 2 else "pts"
            op["window"] = (cx - h, cy - h * 0.7, cx + h, cy + h * 0.7)
        elif kind == "within":
            op["km"] = (3.0, 10.0, 30.0)[size]
        elif kind == "knn":
            op["k"] = (10, 50, 200)[size]
        else:
            r = (0.05, 0.15, 0.3)[size]
            a = rng.uniform(0, np.pi / 3) + np.arange(6) * np.pi / 3
            op["ring"] = [(float(cx + r * np.cos(t)),
                           float(cy + 0.7 * r * np.sin(t))) for t in a]
        return op

    def warmup_ops(self, stream):
        """Two blocks: the first measured block still ran slow after
        one."""
        return [next(stream) for _ in range(2 * len(self.KINDS))]

    def run(self, op):
        kind = op["kind"]
        lay = self.layers[op.get("layer", "pts")]
        xs, ys = self.pts[:, 0], self.pts[:, 1]
        with self.tracer.call(f"search.{kind}.build"):
            t0 = time.perf_counter()
            if kind == "bbox":
                df = lay.bbox_search(*op["window"])
            elif kind == "within":
                df = lay.within_distance(op["cx"], op["cy"], op["km"])
            elif kind == "knn":
                df = lay.closest(op["cx"], op["cy"], k=op["k"])
            else:
                df = lay.intersects(_ring_wkt(op["ring"]))
            build = _ms(t0)
        col = "distance" if kind == "knn" else "id"
        with self.tracer.call(f"search.{kind}.exec"):
            t1 = time.perf_counter()
            got = np.array([r[0] for r in df.select(col).collect()])
            exe = _ms(t1)
        rec = {"kind": kind, "hot": op["hot"], "ms": build + exe,
               "build_ms": build, "exec_ms": exe}
        if kind == "bbox":
            if op.get("layer") == "parcels":
                want = oracle.bbox_ids(self.par.ids, self.par.bbox, op["window"])
            else:
                want = oracle.bbox_ids(self.pids, np.column_stack(
                    [xs, ys, xs, ys]), op["window"])
            rec["ok"] = oracle.id_digest(got) == oracle.id_digest(want)
        elif kind == "within":
            must, may = oracle.within_ids(self.pids, xs, ys, op["cx"],
                                          op["cy"], op["km"])
            g = set(got.tolist())
            rec["ok"] = len(g) == len(got) and set(must.tolist()) <= g \
                and g <= set(must.tolist()) | set(may.tolist())
        elif kind == "knn":
            want = oracle.knn_dists(xs, ys, op["cx"], op["cy"], op["k"])
            rec["ok"] = len(got) == len(want) and bool(
                np.allclose(np.sort(got), want, rtol=oracle.DIST_RTOL,
                        atol=oracle.DIST_ATOL_KM))
        else:
            want = self.pids[oracle.points_in_ring(xs, ys, op["ring"])]
            rec["ok"] = oracle.id_digest(got) == oracle.id_digest(want)
        rec["out"] = oracle.id_digest(np.round(got, 9) * 1e9 if kind == "knn"
                                      else got)
        if self.tracer.enabled:
            name = op.get("layer", "pts")
            if name not in self.total_files:
                self.total_files[name] = self.files(lay.df())
            rec["files_total"] = self.total_files[name]
            rec["files_planned"] = self.files(df)
        return rec


# --------------------------------------------------------------- join_refine
class JoinRefine(Workload):
    """Batch joins: (a) point-in-parcel and (b) diamond x zone overlay."""

    name = "join_refine"
    KINDS = ("pip", "overlay")
    BLOCK_S = 2.4
    ZX = np.linspace(EXTENT[0] - 2, EXTENT[2] + 2, 18)
    ZY = np.linspace(EXTENT[1] - 2, EXTENT[3] + 2, 12)

    def generate(self):
        rng = np.random.default_rng(self.seed)
        self.pts = gen_points(rng, self.sz["join_points"])
        self.par = Parcels(rng, self.sz["grid"], self.sz["join_parcels"])
        xs, ys = self.pts[:, 0], self.pts[:, 1]
        cell = self.par.cell_of(xs, ys)
        inside = oracle.quads_contain(xs, ys, cell, self.par.quads)
        ids = np.arange(len(xs), dtype=np.int64)
        self.want_a = (int(inside.sum()), int(ids[inside].sum()),
                       int(cell[inside].sum()))
        b = self.par.bbox[np.where(cell >= 0, cell, 0)]
        self.cand_a = int(((cell >= 0) & (xs >= b[:, 0]) & (xs <= b[:, 2])
                           & (ys >= b[:, 1]) & (ys <= b[:, 3])).sum())
        self.want_b, self.cand_b = oracle.diamond_zone_pairs(
            self.par.dcx, self.par.dcy, self.par.dr, self.ZX, self.ZY)
        self.area_b = float((2.0 * self.par.dr ** 2).sum())
        zones = []
        for i in range(len(self.ZX) - 1):
            for j in range(len(self.ZY) - 1):
                zones.append(_ring_wkt([(self.ZX[i], self.ZY[j]),
                                        (self.ZX[i + 1], self.ZY[j]),
                                        (self.ZX[i + 1], self.ZY[j + 1]),
                                        (self.ZX[i], self.ZY[j + 1])]))
        self.zone_wkt = zones

    def build(self, ctx):
        spark = self.env.spark
        pts = ctx.create_point_layer("pts", x="lon", y="lat")
        self.call("layer.add", pts.add, spark.createDataFrame(pd.DataFrame(
            {"id": np.arange(len(self.pts), dtype=np.int64),
             "lon": self.pts[:, 0], "lat": self.pts[:, 1]})))
        self.layers = {"pts": pts}
        for name, wkts in (("parcels", self.par.wkt),
                           ("diamonds", self.par.dwkt),
                           ("zones", self.zone_wkt)):
            lay = ctx.create_wkt_layer(name)
            self.call("layer.add", lay.add, spark.createDataFrame(
                pd.DataFrame({"id": np.arange(len(wkts), dtype=np.int64),
                              "wkt": wkts})), wkt="wkt")
            self.layers[name] = lay

    def ops(self):
        """(a) and (b) in turn; one op is one join, built and aggregated."""
        while True:
            yield {"kind": "pip"}
            yield {"kind": "overlay"}

    def warmup_ops(self, stream):
        """One pass: each join once."""
        return [next(stream), next(stream)]

    def run(self, op):
        from pyspark.sql import functions as F
        L = self.layers
        kind = op["kind"]
        if kind == "pip":
            df, build = self.call("join.pip.build", L["pts"].join,
                                  L["parcels"], "within")
            row, exe = self.call("join.pip.exec", lambda: df.agg(
                F.count(F.lit(1)), F.sum("a_id"), F.sum("b_id")).first())
            got = tuple(int(v or 0) for v in row)
            ok, pairs, cands = got == self.want_a, got[0], self.cand_a
        else:
            df, build = self.call("join.overlay.build", L["diamonds"].join,
                                  L["zones"], "intersects")
            row, exe = self.call("join.overlay.exec", lambda: df.agg(
                F.count(F.lit(1)), F.sum(F.expr(
                    "st_area(st_intersection(a_geom, b_geom))"))).first())
            got = (int(row[0]), round(float(row[1] or 0.0), 6))
            ok = got[0] == self.want_b and \
                abs(got[1] - self.area_b) <= 1e-6 * self.area_b
            pairs, cands = got[0], self.cand_b
        return {"kind": kind, "ms": build + exe, "ok": ok, "build_ms": build,
                "pairs": pairs, "cands": cands, "out": f"{kind}:{got}"}


# ------------------------------------------------------------- ingest_append
class IngestAppend(Workload):
    """Closed loop of append rounds to a layer, a Delta table and an
    Iceberg table, each read back right after its commit.  Not a timed
    workload: on the shared reference machine its round times spread
    0.25-0.32 (IQR over median) between runs, beyond any bound the
    benchmark may set, so search_mix's traced run makes its rounds for
    the per-layer ``io.*`` and commit metrics."""

    name = "ingest_append"
    KINDS = ("round",)
    #: blocks of a side pass: plain and traced in turn, so rounds 2, 4
    #: and 6 are traced and round 6 runs maintenance
    SIDE_BLOCKS = 7

    def generate(self):
        self.rng = np.random.default_rng(self.seed)
        self.rows = []            # (id, xmin, ymin, xmax, ymax)
        self.next_id = 0
        self.round_no = 0

    def batch(self, rng):
        n = self.sz["batch"]
        x0, y0, x1, y1 = EXTENT
        ids = np.arange(self.next_id, self.next_id + n, dtype=np.int64)
        self.next_id += n
        xs = rng.uniform(x0, x1 - 0.2, n)
        ys = rng.uniform(y0, y1 - 0.2, n)
        side = np.where(rng.random(n) < 0.3, rng.uniform(0.01, 0.1, n), 0.0)
        wkt = [f"POINT ({_wkt_num(x)} {_wkt_num(y)})" if s == 0 else
               _ring_wkt([(x, y), (x + s, y), (x + s, y + s), (x, y + s)])
               for x, y, s in zip(xs, ys, side)]
        self.rows.append(np.column_stack([ids, xs, ys, xs + side, ys + side]))
        return pd.DataFrame({"id": ids, "wkt": wkt, "x": xs, "y": ys,
                             "v": rng.uniform(0, 1000, n)})

    def build(self, ctx):
        from spatial_spark.io.delta import export_delta
        from spatial_spark.io.iceberg import export_iceberg
        spark = self.env.spark
        self.rows, self.next_id = [], 0
        pdf = self.batch(np.random.default_rng([self.seed, 2]))
        self.user_bytes = [self.batch_bytes(pdf)]
        sdf = spark.createDataFrame(pdf)
        self.layer = ctx.create_layer("ingest")
        self.call("layer.add", self.layer.add, sdf, wkt="wkt")
        root = ctx.catalog.warehouse
        self.delta = os.path.join(root, "delta_t")
        self.ice = os.path.join(root, "ice_t")
        self.call("io.delta_append", export_delta, sdf, self.delta)
        self.call("io.iceberg_append", export_iceberg, sdf, self.ice)

    @staticmethod
    def batch_bytes(pdf) -> int:
        """User payload: the WKT text plus four 8-byte columns per row."""
        return int(sum(len(w) + 32 for w in pdf["wkt"]))

    def ops(self):
        rng = np.random.default_rng([self.seed, 3])
        while True:
            x0, y0, x1, y1 = EXTENT
            cx, cy = rng.uniform(x0 + 1, x1 - 1), rng.uniform(y0 + 1, y1 - 1)
            h = float(rng.choice([0.5, 1.5]))
            yield {"kind": "round", "rng": np.random.default_rng(
                rng.integers(2 ** 63)),
                "window": (cx - h, cy - h, cx + h, cy + h)}

    def warmup_ops(self, stream):
        return [next(stream)]

    def run(self, op):
        from spatial_spark.io.delta import (delta_source, export_delta,
                                            optimize_delta, vacuum_delta)
        from spatial_spark.io.iceberg import (expire_snapshots,
                                              export_iceberg, iceberg_source)
        spark = self.env.spark
        t0 = time.perf_counter()
        pdf = self.batch(op["rng"])
        sdf = spark.createDataFrame(pdf)
        self.user_bytes.append(self.batch_bytes(pdf))
        rec = {"kind": "round"}
        _, rec["add_ms"] = self.call("layer.add", self.layer.add, sdf,
                                     wkt="wkt")
        _, rec["delta_append_ms"] = self.call("io.delta_append", export_delta,
                                              sdf, self.delta, mode="append")
        _, rec["iceberg_append_ms"] = self.call(
            "io.iceberg_append", export_iceberg, sdf, self.ice, mode="append")
        self.round_no += 1
        if self.round_no % self.sz["maint_every"] == 0:
            _, rec["compact_ms"] = self.call("layer.compact",
                                             self.layer.compact)
            _, v = self.call("layer.vacuum", self.layer.vacuum)
            _, a = self.call("io.delta_maint", optimize_delta, spark,
                             self.delta)
            _, b = self.call("io.delta_maint", vacuum_delta, self.delta)
            _, c = self.call("io.iceberg_maint", expire_snapshots, self.ice,
                             keep_last=1, clean_data=True)
            rec["compact_ms"] += v
            rec["delta_maint_ms"], rec["iceberg_maint_ms"] = a + b, c
        rows = np.concatenate(self.rows)
        all_ids = rows[:, 0].astype(np.int64)
        want = oracle.id_digest(all_ids)
        ok = True
        outs = []
        with self.tracer.call("search.bbox.build"):
            t1 = time.perf_counter()
            df = self.layer.bbox_search(*op["window"])
            rec["build_ms"] = _ms(t1)
        with self.tracer.call("search.bbox.exec"):
            t2 = time.perf_counter()
            got = [r[0] for r in df.select("id").collect()]
            rec["exec_ms"] = _ms(t2)
        rec["read_layer_ms"] = _ms(t1)
        exp = oracle.bbox_ids(all_ids, rows[:, 1:], op["window"])
        ok &= oracle.id_digest(got) == oracle.id_digest(exp)
        outs.append(oracle.id_digest(got))
        if self.tracer.enabled:
            rec["files_total"] = self.files(self.layer.df())
            rec["files_planned"] = self.files(df)
        for key, src, path in (("delta", delta_source, self.delta),
                               ("iceberg", iceberg_source, self.ice)):
            with self.tracer.call(f"io.{key}_read"):
                t1 = time.perf_counter()
                got = src(spark, path).select("id").toPandas()["id"]
                rec[f"read_{key}_ms"] = _ms(t1)
            d = oracle.id_digest(got.to_numpy())
            ok &= len(got) == len(all_ids) and d == want
            outs.append(d)
        rec["ok"] = bool(ok)
        rec["ms"] = _ms(t0)
        rec["out"] = ":".join(outs)
        return rec

    def sink_bytes(self):
        meta = data = 0
        for root in (self.delta, self.ice):
            for d, _, fs in os.walk(root):
                for f in fs:
                    s = os.path.getsize(os.path.join(d, f))
                    if f.endswith(".parquet"):
                        data += s
                    else:
                        meta += s
        return meta, data


# --------------------------------------------------------- cluster_iterative
class ClusterIterative(Workload):
    """The iterative operators, one operator call per op.  Not a timed
    workload: a pass costs about 7.5 s on the reference machine, too long
    to repeat within a run's budget, so join_refine's traced run makes one
    untimed and one traced pass for the per-layer ``iter.*`` metrics."""

    name = "cluster_iterative"
    SIDE_BLOCKS = 2               # one warm-up pass, one traced pass
    EPS, MIN_PTS, DENSITY = 0.05, 5, 0.03
    K, KM_ITERS, PR_ITERS = 8, 2, 3

    def generate(self):
        rng = np.random.default_rng(self.seed)
        n = self.sz["customers"]
        x0, y0, x1, y1 = EXTENT
        centers = rng.uniform((x0 + 1, y0 + 1), (x0 + 9, y0 + 6), (30, 2))
        k = int(n * 0.8)
        which = rng.integers(0, 30, k)
        pts = np.concatenate([
            centers[which] + rng.normal(scale=0.06, size=(k, 2)),
            rng.uniform((x0, y0), (x0 + 10, y0 + 7), (n - k, 2))])
        self.cust = pts
        pairs = oracle.close_pairs(pts[:, 0], pts[:, 1], self.EPS)
        self.want_dbscan = oracle.dbscan(n, pairs, self.MIN_PTS)
        dp = oracle.close_pairs(pts[:, 0], pts[:, 1], self.DENSITY)
        self.want_islands = oracle.components(n, dp)
        # documents: base texts plus near copies with two words replaced
        vocab = [f"w{i}" for i in range(3000)]
        nd = self.sz["docs"]
        base = [list(rng.choice(vocab, 40)) for _ in range(-(-nd // 3))]
        docs = []
        for i in range(nd):
            words = list(base[rng.integers(len(base))]) if i % 3 else \
                base[i // 3]
            if i % 3:
                for j in rng.choice(40, 2, replace=False):
                    words[j] = vocab[rng.integers(len(vocab))]
            docs.append(" ".join(words))
        self.docs = docs
        self.want_dups = oracle.components(
            nd, oracle.trigram_pairs(docs, 0.5))
        nn, ne = self.sz["nodes"], self.sz["edges"]
        self.src = rng.integers(0, nn, ne)
        self.dst = (rng.zipf(1.6, ne) - 1) % nn
        self.want_pr = oracle.pagerank(self.src, self.dst, self.PR_ITERS)
        nv = self.sz["vectors"]
        vc = rng.normal(size=(self.K, 16))
        self.vecs = (vc[rng.integers(0, self.K, nv)]
                     + rng.normal(scale=0.6, size=(nv, 16))).astype(np.float32)
        self.want_km = oracle.kmeans(self.vecs, self.K, self.KM_ITERS)

    def build(self, ctx):
        from pyspark.sql import types as T
        spark = self.env.spark
        lay = ctx.create_layer("customers")
        self.call("layer.add", lay.add, spark.createDataFrame(pd.DataFrame({
            "id": np.arange(len(self.cust), dtype=np.int64),
            "wkt": [f"POINT ({_wkt_num(x)} {_wkt_num(y)})"
                    for x, y in self.cust]})), wkt="wkt")
        self.cust_df = lay.df()
        self.docs_df = spark.createDataFrame(pd.DataFrame({
            "doc_id": np.arange(len(self.docs), dtype=np.int64),
            "text": self.docs}))
        self.edges_df = spark.createDataFrame(pd.DataFrame({
            "src": self.src.astype(np.int64), "dst": self.dst.astype(np.int64)}))
        schema = T.StructType([
            T.StructField("vec_id", T.LongType()),
            T.StructField("embedding", T.ArrayType(T.FloatType()))])
        self.vec_df = spark.createDataFrame(
            [(i, v.tolist()) for i, v in enumerate(self.vecs)], schema)

    KINDS = ("dbscan", "islands", "near_dup", "pagerank", "kmeans")

    def ops(self):
        """The operators in turn; one op is one operator call."""
        while True:
            for kind in self.KINDS:
                yield {"kind": kind}

    def warmup_ops(self, stream):
        """One pass: every operator once."""
        return [next(stream) for _ in self.KINDS]

    def run(self, op):
        from spatial_spark.operators.agg import dbscan, density_islands
        from spatial_spark.operators.cluster import kmeans
        from spatial_spark.operators.dedup import (near_dup_clusters,
                                                   ngram_jaccard_pairs)
        from spatial_spark.operators.graph import pagerank
        kind = op["kind"]
        build = {
            "dbscan": lambda: dbscan(self.cust_df, self.EPS,
                                     min_pts=self.MIN_PTS),
            "islands": lambda: density_islands(self.cust_df, self.DENSITY),
            "near_dup": lambda: near_dup_clusters(
                self.docs_df, ngram_jaccard_pairs(self.docs_df,
                                                  threshold=0.5)),
            "pagerank": lambda: pagerank(self.edges_df, iters=self.PR_ITERS),
            "kmeans": lambda: kmeans(self.vec_df, k=self.K,
                                     iters=self.KM_ITERS),
        }[kind]
        with self.tracer.call(f"iter.{kind}.build"):
            t0 = time.perf_counter()
            df = build()
            b = _ms(t0)
        with self.tracer.call(f"iter.{kind}.exec"):
            t1 = time.perf_counter()
            pdf = df.toPandas()
            e = _ms(t1)
        ok = getattr(self, f"_check_{kind}")(pdf)
        return {"kind": kind, "ms": b + e, "build_ms": b, "exec_ms": e,
                "ok": ok, "out": f"{kind}:{int(ok)}:{len(pdf)}"}

    def _check_dbscan(self, pdf):
        got = {int(i): (r, None if pd.isna(c) else int(c))
               for i, r, c in pdf[["id", "role", "cluster"]].itertuples(
                   index=False)}
        return got == self.want_dbscan

    @staticmethod
    def _same(got, want):
        return len(got) == len(want) and bool((got == want).all())

    def _check_islands(self, pdf):
        return self._same(pdf.sort_values("id")["island"].to_numpy(),
                          self.want_islands)

    def _check_near_dup(self, pdf):
        return self._same(pdf.sort_values("doc_id")["cluster"].to_numpy(),
                          self.want_dups)

    def _check_pagerank(self, pdf):
        got = dict(zip(pdf["node"].tolist(), pdf["rank"].tolist()))
        return got.keys() == self.want_pr.keys() and all(
            abs(got[k] - v) <= 1e-9 * v for k, v in self.want_pr.items())

    def _check_kmeans(self, pdf):
        return self._same(pdf.sort_values("vec_id")["cluster"].to_numpy(),
                          self.want_km)


WORKLOADS = {w.name: w for w in (SearchMix, JoinRefine)}
#: workloads not timed end to end: each runs inside the traced run of the
#: workload it is keyed by, for its own layers' per-layer metrics
SIDE = {"search_mix": IngestAppend, "join_refine": ClusterIterative}

"""Per-layer metrics of the traced run.

``per_layer`` turns the op records, the spans, the wrapper counters and the
parsed event log into the flat metric dict BENCHMARK.json's ``per_layer``
names; a metric whose layer the workload does not reach reads 0.
``extra_measurements`` runs the few probes that need the live session
(kernel micro-timings, on-disk metadata sizes) after the timed loop.
"""

from __future__ import annotations

import os
import statistics
import time

import numpy as np

from tracing import union_length
from workloads import ClusterIterative

ITER_OPS = ClusterIterative.KINDS


def med(v):
    return statistics.median(v) if v else 0.0


def mean(v):
    return sum(v) / len(v) if v else 0.0


def _field(records, key):
    return [r[key] for r in records if key in r and r.get("ok")]


def _dir_stats(root, keep):
    n = size = 0
    for d, _, files in os.walk(root):
        if keep(d):
            n += len(files)
            size += sum(os.path.getsize(os.path.join(d, f)) for f in files)
    return n, size


def extra_measurements(wl) -> dict:
    out = {}
    wh = wl.env.warehouse
    out["manifest.meta_files"], out["manifest.meta_bytes"] = _dir_stats(
        wh, lambda d: "_manifest" in d)
    if wl.name == "join_refine":
        out.update(_function_rates(wl))
        out.update(_geom_kernels(wl))
    return out


def side_measurements(side) -> dict:
    """On-disk sizes after a side pass of ingest_append."""
    if side.name != "ingest_append":
        return {}
    meta, data = side.sink_bytes()
    return {"io.meta_bytes": meta,
            "io.bytes_written_per_user_byte":
                (meta + data) / (2 * sum(side.user_bytes))}


def _function_rates(wl) -> dict:
    """Rows per second of st_point and st_geomfromtext over a
    workload-shaped frame (second of two runs, so the first pays
    worker start-up)."""
    from pyspark.sql import functions as F
    spark = wl.env.spark
    rng = np.random.default_rng(wl.seed)
    n = 20_000
    import pandas as pd
    from workloads import EXTENT, _ring_wkt
    x0, y0, x1, y1 = EXTENT
    xs, ys = rng.uniform(x0, x1, n), rng.uniform(y0, y1, n)
    wkt = [_ring_wkt([(x, y), (x + 0.1, y), (x + 0.1, y + 0.1), (x, y + 0.1)])
           for x, y in zip(xs, ys)]
    df = spark.createDataFrame(pd.DataFrame({"x": xs, "y": ys, "wkt": wkt}))
    out = {}
    for name, expr in (("st_point", "st_point(x, y)"),
                       ("st_geomfromtext", "st_geomfromtext(wkt)")):
        for _ in range(2):
            with wl.tracer.call(f"functions.{name}"):
                t0 = time.perf_counter()
                df.select(F.sum(F.length(F.expr(expr)))).first()
                dt = time.perf_counter() - t0
        out[f"functions.{name}_rows_per_s"] = n / dt
    return out


def _geom_kernels(wl) -> dict:
    """Driver-side timings of the public geometry kernels on sampled
    workload geometries (microseconds per call)."""
    from spatial_spark.geom import from_wkb, from_wkt, to_wkb
    from spatial_spark.geom.algorithms import point_in_polygon
    from spatial_spark.geom.clip import intersection
    from spatial_spark.geom.predicates import intersects
    rng = np.random.default_rng(wl.seed)
    idx = rng.choice(len(wl.par.wkt), min(200, len(wl.par.wkt)), replace=False)
    parcels = [from_wkt(wl.par.wkt[i]) for i in idx]
    diamonds = [from_wkt(wl.par.dwkt[i]) for i in idx]
    zones = [from_wkt(wl.zone_wkt[i]) for i in
             rng.integers(0, len(wl.zone_wkt), len(idx))]
    blobs = [to_wkb(g) for g in parcels + diamonds]

    def per_call(fn, args):
        t0 = time.perf_counter()
        for a in args:
            fn(*a)
        return (time.perf_counter() - t0) * 1e6 / len(args)

    pts = [(float(rng.uniform(b[0], b[2])), float(rng.uniform(b[1], b[3])), g)
           for g, b in zip(parcels, wl.par.bbox[idx]) for _ in range(5)]
    # pair each diamond with the zone holding its centre, so most pairs meet
    zx, zy = wl.ZX, wl.ZY
    ny = len(zy) - 1
    home = [from_wkt(wl.zone_wkt[
        int(np.searchsorted(zx, wl.par.dcx[i]) - 1) * ny
        + int(np.searchsorted(zy, wl.par.dcy[i]) - 1)]) for i in idx]
    pairs = list(zip(diamonds, home))
    return {
        "geom.from_wkb_us": per_call(from_wkb, [(b,) for b in blobs]),
        "geom.pip_us_per_point": per_call(point_in_polygon, pts),
        "geom.intersects_us_per_pair": per_call(intersects, pairs + list(
            zip(diamonds, zones))),
        "geom.intersection_us_per_pair": per_call(intersection, pairs),
        "geom.vertices_per_geom": mean([g.num_points() for g in
                                         parcels + diamonds]),
    }


def per_layer(wl, traced, plain, tracer, counters, setup_counters, events,
              extra, side):
    """``counters`` are the wrapper counters of ``wl``'s own timed ops;
    ``side`` holds the traced records of the workload run beside it
    (workloads.SIDE), which also add to ``tracer.counters``."""
    m = dict(extra)
    records = plain + traced
    spans = tracer.spans
    ops = {s[4]: s for s in spans if s[0] == "op"}
    traced_ops = [r["op"] for r in traced if r["op"] in ops]

    def groups_of(op_id, prefix=""):
        return [g for g, (o, name) in tracer.groups.items()
                if o == op_id and name.startswith(prefix)]

    def ev(group):
        return events.get(group, {"jobs": [], "stages": (), "tasks": 0,
                                  "run_s": 0.0, "cpu_s": 0.0, "gc_s": 0.0,
                                  "shuffle_read": 0, "shuffle_write": 0})

    # session: Spark work per unit op
    per_op = []
    for op_id in traced_ops:
        gs = [ev(g) for g in groups_of(op_id)]
        _, start, end = ops[op_id][:3]
        jobs = [j for g in gs for j in g["jobs"]]
        per_op.append({
            "jobs": len(jobs), "stages": sum(len(g["stages"]) for g in gs),
            "tasks": sum(g["tasks"] for g in gs),
            "gap": (end - start) - union_length(jobs, start, end),
            **{k: sum(g[k] for g in gs) for k in (
                "run_s", "cpu_s", "gc_s", "shuffle_read", "shuffle_write")}})

    def op_mean(key):
        return mean([p[key] for p in per_op])

    m.update({
        "spark.jobs_per_op": op_mean("jobs"),
        "spark.stages_per_op": op_mean("stages"),
        "spark.tasks_per_op": op_mean("tasks"),
        "spark.driver_gap_s": op_mean("gap"),
        "spark.exec_run_s": op_mean("run_s"),
        "spark.exec_cpu_s": op_mean("cpu_s"),
        "spark.non_jvm_s": op_mean("run_s") - op_mean("cpu_s"),
        "spark.gc_s": op_mean("gc_s"),
        "spark.shuffle_read_bytes": op_mean("shuffle_read"),
        "spark.shuffle_write_bytes": op_mean("shuffle_write"),
    })

    # wrapper counters: the timed ops, else the side pass, else set-up
    def counter(name):
        return (counters.get(name) or tracer.counters.get(name)
                or setup_counters.get(name) or [])

    n_ops = max(len(traced_ops), 1)
    m.update({
        "catalog.reads_per_op": len(counters.get("catalog.read_ms", ()))
        / n_ops,
        "catalog.read_ms": mean(counter("catalog.read_ms")),
        "catalog.write_ms": mean(counter("catalog.write_ms")),
        "manifest.commit_ms": mean(counter("manifest.commit_ms")),
        "manifest.lock_wait_ms": mean(counter("manifest.lock_wait_ms")),
        "manifest.files_where_ms": mean(counter("manifest.files_where_ms")),
        "sfc.ranges_per_window": mean(counter("sfc.ranges_per_window")),
        "sfc.ranges_ms": mean(counter("sfc.ranges_ms")),
    })

    # layer: search build/exec split, pruning, writes
    searches = [r for r in records if "exec_ms" in r and r.get("ok")] \
        if wl.name == "search_mix" else []
    planned = [r for r in traced if "files_planned" in r]
    m.update({
        "layer.search_build_ms": med([r["build_ms"] for r in searches]),
        "layer.search_exec_ms": med([r["exec_ms"] for r in searches]),
        "layer.files_total": mean([r["files_total"] for r in planned]),
        "layer.files_planned": mean([r["files_planned"] for r in planned]),
        "layer.prune_frac": mean([1 - r["files_planned"] / r["files_total"]
                                   for r in planned if r["files_total"]]),
    })
    adds = [s for s in spans if s[0] == "layer.add" and s[4] is not None] \
        or [s for s in spans if s[0] == "layer.add"]
    add_s = [s[2] - s[1] for s in adds]
    add_job = [union_length(ev(s[5])["jobs"], s[1], s[2]) for s in adds]
    m.update({
        "layer.add_s": med(add_s),
        "layer.add_job_s": med(add_job),
        "layer.add_driver_s": med([a - j for a, j in zip(add_s, add_job)]),
        "layer.compact_s": med(_field(side, "compact_ms")) / 1e3,
    })

    # operators.search
    def kind_p50(pred):
        return med([r["ms"] for r in records if r.get("ok") and pred(r)])

    if wl.name == "search_mix":
        for kind in ("bbox", "within", "knn", "intersects"):
            m[f"search.{kind}_p50_ms"] = kind_p50(lambda r: r["kind"] == kind)
        m["search.hot_p50_ms"] = kind_p50(lambda r: r["hot"])
        m["search.cold_p50_ms"] = kind_p50(lambda r: not r["hot"])
        knn = [r for r in traced if r["kind"] == "knn" and r["op"] in ops]
        probed = [r for r in knn if any(ev(g)["jobs"] for g in
                                        groups_of(r["op"], "search.knn.build"))]
        m["search.knn_probe_frac"] = len(probed) / len(knn) if knn else 0.0
        m["search.knn_fallback_frac"] = len(
            [r for r in probed if r["files_planned"] == r["files_total"]]
        ) / len(knn) if knn else 0.0

    # operators.join
    if wl.name == "join_refine":
        def per_kind(key, kind):
            return [r[key] for r in records if r["kind"] == kind and r["ok"]]

        pairs = sum(mean(per_kind("pairs", k)) for k in ("pip", "overlay"))
        cands = sum(mean(per_kind("cands", k)) for k in ("pip", "overlay"))
        m.update({
            "join.build_ms": med(_field(records, "build_ms")),
            "join.pairs_out": pairs,
            "join.candidates": cands,
            "join.refine_keep_frac": pairs / cands if cands else 0.0,
            "join.pip_s": med(per_kind("ms", "pip")) / 1e3,
            "join.overlay_s": med(per_kind("ms", "overlay")) / 1e3,
        })

    # io.delta / io.iceberg, from ingest_append's side pass
    if any(r["kind"] == "round" for r in side):
        m.update({
            "io.delta_append_s": med(_field(side, "delta_append_ms")) / 1e3,
            "io.iceberg_append_s": med(_field(side, "iceberg_append_ms")) / 1e3,
            "io.delta_read_ms": med(_field(side, "read_delta_ms")),
            "io.iceberg_read_ms": med(_field(side, "read_iceberg_ms")),
            "io.delta_maint_s": med(_field(side, "delta_maint_ms")) / 1e3,
            "io.iceberg_maint_s": med(_field(side, "iceberg_maint_ms")) / 1e3,
            "io.fresh_read_p50_ms": med(
                _field(side, "read_layer_ms") + _field(side, "read_delta_ms")
                + _field(side, "read_iceberg_ms")),
        })

    # iterative operators
    for name in ITER_OPS:
        mine = [r for r in side if r["kind"] == name and r.get("ok")]
        if not mine:
            continue
        m[f"iter.{name}.op_s"] = med([r["ms"] for r in mine]) / 1e3
        m[f"iter.{name}.build_s"] = med([r["build_ms"] for r in mine]) / 1e3
        m[f"iter.{name}.exec_s"] = med([r["exec_ms"] for r in mine]) / 1e3
        m[f"iter.{name}.jobs"] = mean([
            sum(len(ev(g)["jobs"]) for g in groups_of(r["op"]))
            for r in mine if r["op"] in ops])

    # traced over untraced time, per op kind, from interleaved blocks
    def timed(recs, k):
        return [r["ms"] for r in recs if r["kind"] == k and r["ok"]]

    ratios = [med(timed(traced, k)) / med(timed(plain, k))
              for k in wl.KINDS if timed(traced, k) and timed(plain, k)]
    m["trace.overhead_frac"] = mean(ratios) - 1.0 if ratios else 0.0
    return m

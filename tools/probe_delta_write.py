"""Probe: Delta WRITE-path cost over SCALED FILE COUNTS (r15).

The r14 probe covered replay; this one covers the write side the r14
verdict asked about (ask #6): ``export_delta``, ``layer_to_delta``
and ``optimize_delta`` over 16 -> 1024 files with FIXED row count
(64k), so wall growth isolates per-file metadata work (staging moves,
footer stats, commit composition) from data volume.

Measured per scale:

* export   — export_delta wall writing the table as n_files files
             (distributed publish above 64 files), + commit bytes;
* optimize — optimize_delta wall compacting those n_files into 8
             (reads n_files, removes n_files, adds 8);
* clone    — layer_to_delta wall over a synthetic manifest of
             n_files entries (metadata-only: stat + compose +
             one commit).

Structural asserts: the export commit carries exactly n_files adds;
the optimize commit exactly n_files removes + 8 adds; snapshots stay
row-identical through the compaction; clone's log lists n_files
absolute adds.  Exponents land in SCALE.md §17; only the structure
and the 64x row-equality are asserted (walls are host-dependent).

Run: python tools/probe_delta_write.py
"""
import json
import math
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, ".")

from pyspark.sql import SparkSession  # noqa: E402

from spatial_spark.io.delta import (_write_commit, export_delta,  # noqa: E402
                                    layer_to_delta, optimize_delta,
                                    read_delta_log)

ROWS = 65536
SCALES = [16, 64, 256, 1024]


class _FakeManifest:
    def __init__(self, names, file_stats):
        self._entries = [(n, file_stats.get(n, {})) for n in sorted(names)]

    def entries(self):
        return iter(self._entries)


class _FakeLayer:
    """Duck-typed stand-in for Layer: layer_to_delta touches only
    ``_manifest`` (``entries``), ``meta``, ``path``,
    ``name`` — synthesizing it keeps the clone leg data-free, the
    probe_delta_log discipline."""

    def __init__(self, path, names, file_stats):
        self.path = path
        self.name = "probe_layer"
        self.meta = {"schema_json": json.dumps({
            "type": "struct", "fields": [
                {"name": "id", "type": "long", "nullable": True,
                 "metadata": {}}]})}
        self._manifest = _FakeManifest(names, file_stats)


def synth_layer(root: str, n_files: int) -> _FakeLayer:
    d = os.path.join(root, f"layer_{n_files}")
    os.makedirs(d)
    names, stats = [], {}
    for i in range(n_files):
        n = f"part-{i:06d}.parquet"
        with open(os.path.join(d, n), "wb") as f:
            f.write(b"PAR1")
        names.append(n)
        stats[n] = {"rows": 100, "xmin": float(i), "ymin": 0.0,
                    "xmax": float(i + 1), "ymax": 1.0,
                    "zmin": i, "zmax": i + 1,
                    "amin:id": i * 100, "amax:id": i * 100 + 99}
    return _FakeLayer(d, names, stats)


def commit_stats(tab: str, version: int):
    p = os.path.join(tab, "_delta_log", f"{version:020d}.json")
    n_add = n_rm = 0
    with open(p) as f:
        for line in f:
            a = json.loads(line)
            n_add += "add" in a
            n_rm += "remove" in a
    return os.path.getsize(p), n_add, n_rm


def expo(xs, ys):
    lx = [math.log(x) for x in xs]
    ly = [math.log(max(y, 1e-4)) for y in ys]
    n = len(xs)
    mx, my = sum(lx) / n, sum(ly) / n
    return (sum((a - mx) * (b - my) for a, b in zip(lx, ly))
            / sum((a - mx) ** 2 for a in lx))


def main():
    spark = (SparkSession.builder.master("local[32]")
             .config("spark.sql.shuffle.partitions", "32")
             .config("spark.driver.memory", "8g")
             .appName("probe_delta_write").getOrCreate())
    spark.sparkContext.setLogLevel("ERROR")
    root = tempfile.mkdtemp(prefix="probe_delta_write_")
    base = (spark.range(ROWS)
            .selectExpr("id", "id % 97 AS k",
                        "cast(id AS double) / 7 AS v"))
    base.count()  # warm the session off the first measurement
    rows = []
    try:
        for nf in SCALES:
            tab = os.path.join(root, f"tab_{nf}")
            df = base.repartition(nf)
            t0 = time.perf_counter()
            v = export_delta(df, tab, mode="overwrite")
            t_exp = time.perf_counter() - t0
            cbytes, n_add, _ = commit_stats(tab, v)
            assert n_add == nf, (nf, n_add)

            t0 = time.perf_counter()
            v2 = optimize_delta(spark, tab, target_files=8)
            t_opt = time.perf_counter() - t0
            _, n_add2, n_rm2 = commit_stats(tab, v2)
            assert n_rm2 == nf and n_add2 == 8, (nf, n_add2, n_rm2)
            got = spark.read.parquet(
                *[os.path.join(tab, fe["rel_path"])
                  for fe in read_delta_log(tab)["files"]]).count()
            assert got == ROWS, (nf, got)

            lay = synth_layer(root, nf)
            out = os.path.join(root, f"clone_{nf}")
            t0 = time.perf_counter()
            layer_to_delta(lay, out)
            t_cl = time.perf_counter() - t0
            snap = read_delta_log(out)
            assert len(snap["files"]) == nf
            assert all(os.path.isabs(fe["rel_path"])
                       for fe in snap["files"])

            rows.append((nf, t_exp, cbytes, t_opt, t_cl))
            print(f"files={nf:5d} export={t_exp:6.2f}s "
                  f"commit={cbytes/1024:7.1f}KiB "
                  f"optimize={t_opt:6.2f}s clone={t_cl*1000:7.1f}ms",
                  flush=True)
        xs = [r[0] for r in rows]
        print(json.dumps({
            "rows_fixed": ROWS,
            "export_exponent": round(expo(xs, [r[1] for r in rows]), 3),
            "commit_bytes_exponent": round(
                expo(xs, [r[2] for r in rows]), 3),
            "optimize_exponent": round(
                expo(xs, [r[3] for r in rows]), 3),
            "clone_exponent": round(expo(xs, [r[4] for r in rows]), 3),
        }))
    finally:
        shutil.rmtree(root, ignore_errors=True)
        spark.stop()


if __name__ == "__main__":
    main()

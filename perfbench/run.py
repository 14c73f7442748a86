"""spatial_spark benchmark: one seeded workload per invocation.

    python3 perfbench/run.py --workload search_mix --seed 1 --seconds 10 --trace 0

Runs from any working directory: the repository root is found from this
file's location and handed to Spark's Python workers through PYTHONPATH.
All scratch state (warehouse, Spark local dirs, event log, spans) lives in
``.perfbench_work/`` at the repository root and is removed on exit.
Every process a run starts (the JVM and its Python workers) has ended
before the command exits, on every path out of it.

``--seconds`` fixes the work, not the time: a run makes the number of op
blocks the reference machine completes in that many seconds (see
``Workload.BLOCK_S``), so two commits run the same ops and read their
percentiles at the same rank.

The last stdout line is one JSON object ``{"correct", "attempted",
"failed", "metrics"}``: with ``--trace 0`` the end-to-end metrics of
BENCHMARK.json, with ``--trace 1`` its per-layer metrics.  The command
exits non-zero if any checked output was wrong.
"""

from __future__ import annotations

import argparse
import json
import os
import resource
import shutil
import signal
import statistics
import sys
import time

T_START = time.perf_counter()
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [p for p in (ROOT, HERE) if p not in sys.path]

import layers  # noqa: E402
from layers import mean, med  # noqa: E402
#: builds per run; setup_s takes their median, so neither the cold first
#: build nor one slowed by the host sets it
SETUP_REPS = 3


def load_benchmark() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def p90(values):
    """The 90th percentile, interpolated between the two nearest ranks."""
    return statistics.quantiles(values, n=10, method="inclusive")[8] \
        if len(values) > 1 else values[0]


def jvm_peak_rss_kb() -> int:
    """VmHWM of the JVM this process started (a descendant named java)."""
    children = {}
    for pid in os.listdir("/proc"):
        if not pid.isdigit():
            continue
        try:
            with open(f"/proc/{pid}/stat") as f:
                parts = f.read().rsplit(")", 1)[1].split()
            with open(f"/proc/{pid}/comm") as f:
                comm = f.read().strip()
        except OSError:
            continue
        children.setdefault(int(parts[1]), []).append((int(pid), comm))
    todo, peak = [os.getpid()], 0
    while todo:
        for pid, comm in children.get(todo.pop(), []):
            todo.append(pid)
            if comm == "java":
                with open(f"/proc/{pid}/status") as f:
                    for line in f:
                        if line.startswith("VmHWM:"):
                            peak = max(peak, int(line.split()[1]))
    return peak


def adopt_orphans() -> None:
    """Make this process the subreaper of everything it starts, so the
    Python workers the JVM forks are reparented here, not to init, if
    the JVM ends first, and ``stop_processes`` can wait for them."""
    import ctypes
    PR_SET_CHILD_SUBREAPER = 36
    try:
        ctypes.CDLL(None, use_errno=True).prctl(PR_SET_CHILD_SUBREAPER, 1,
                                                0, 0, 0)
    except (OSError, AttributeError):
        pass


def _exit_on_signal(signum, frame):
    raise SystemExit(128 + signum)


def child_pids() -> list:
    kids = []
    for pid in os.listdir("/proc"):
        if not pid.isdigit():
            continue
        try:
            with open(f"/proc/{pid}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, ValueError, IndexError):
            continue
        if ppid == os.getpid():
            kids.append(int(pid))
    return kids


def stop_processes(grace_s: float = 20.0) -> None:
    """End the JVM and every process under this one, and wait for each.

    ``SparkSession.stop`` leaves the JVM gateway running until this
    process exits; closing its stdin makes it exit now.  Whatever is
    left (Python workers, a stuck JVM) gets SIGTERM after ``grace_s``,
    then SIGKILL, and is reaped before this returns."""
    try:
        from pyspark import SparkContext
    except ImportError:
        SparkContext = None
    if SparkContext is not None and SparkContext._gateway is not None:
        gateway, SparkContext._gateway, SparkContext._jvm = \
            SparkContext._gateway, None, None
        proc = getattr(gateway, "proc", None)
        try:
            gateway.shutdown()
        except Exception:
            pass
        if proc is not None and proc.stdin is not None:
            try:
                proc.stdin.close()
            except OSError:
                pass
    deadline = time.monotonic() + grace_s
    sent = None
    while True:
        try:
            while os.waitpid(-1, os.WNOHANG)[0] > 0:
                pass
        except ChildProcessError:
            pass
        kids = child_pids()
        if not kids:
            return
        now = time.monotonic()
        if now > deadline and sent == signal.SIGKILL:
            print(f"perfbench: processes {kids} did not end", file=sys.stderr)
            return
        if now > deadline:
            sent = signal.SIGTERM if sent is None else signal.SIGKILL
            deadline = now + 5.0
            for pid in kids:
                try:
                    os.kill(pid, sent)
                except ProcessLookupError:
                    pass
        time.sleep(0.05)


class Env:
    """What a workload needs from the run: the session, the tracer and
    a fresh SpatialContext per set-up repetition."""

    def __init__(self, spark, tracer, work):
        self.spark, self.tracer, self.work = spark, tracer, work

    def context(self, rep: int):
        from spatial_spark import SpatialContext
        self.warehouse = os.path.join(self.work, f"wh{rep}")
        return SpatialContext(self.spark, self.warehouse)


def prepare_environment(work: str, trace: bool) -> None:
    for d in ("tmp", "local", "events"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    paths = [ROOT, HERE] + [p for p in os.environ.get(
        "PYTHONPATH", "").split(os.pathsep) if p]
    os.environ["PYTHONPATH"] = os.pathsep.join(paths)
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ.setdefault("SPATIAL_SPARK_DRIVER_MEM", "2g")
    conf = {"spark.ui.showConsoleProgress": "false",
            "spark.local.dir": os.path.join(work, "local"),
            "spark.sql.warehouse.dir": os.path.join(work, "spark-warehouse"),
            "spark.driver.extraJavaOptions":
                f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} "
                f"-Dderby.system.home={os.path.join(work, 'tmp')}"}
    if trace:
        conf.update({"spark.eventLog.enabled": "true",
                     "spark.eventLog.compress": "false",
                     "spark.eventLog.rolling.enabled": "false",
                     "spark.eventLog.dir": "file://" + os.path.join(
                         work, "events")})
    import shlex
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(
        f"--conf {shlex.quote(f'{k}={v}')}" for k, v in conf.items()
    ) + " pyspark-shell"


def run_op(wl, op) -> dict:
    try:
        return wl.run(op)
    except Exception as e:  # one failed op must not end the run
        print(f"perfbench: op failed: {type(e).__name__}: {e}",
              file=sys.stderr)
        return {"kind": op["kind"], "ms": float("nan"), "ok": False,
                "out": "error"}


def blocks_for(wl, seconds: float, trace: bool) -> int:
    """A fixed number of op blocks for a given ``--seconds``: the blocks
    the reference machine completes in that time.  The work, not the
    time, is fixed, so a faster commit runs the same ops and every
    percentile is read at the same rank."""
    return max(2 if trace else 1, round(seconds / wl.BLOCK_S))


def measure(wl, stream, n_blocks, trace, records, prefix="op"):
    """Run ``n_blocks`` blocks of one op per kind.  With ``trace`` the
    blocks alternate plain and traced, so both sides see the same inputs
    as they grow; returns (plain, traced) records."""
    plain, traced = [], []
    for b in range(n_blocks):
        wl.tracer.enabled = trace and b % 2 == 1
        for _ in wl.KINDS:
            op_id = f"{prefix}{len(records)}"
            with wl.tracer.op(op_id):
                rec = run_op(wl, next(stream))
            rec["op"] = op_id
            records.append(rec)
            (traced if wl.tracer.enabled else plain).append(rec)
    wl.tracer.enabled = False
    return plain, traced


def end_to_end(records, setup_s):
    """``op_p50_ms`` is the mean over op kinds of each kind's median, so a
    mix of kinds with different latencies does not flip the figure
    between modes; with one kind it is the plain median."""
    ms = [r["ms"] for r in records if r["ok"]]
    kinds = sorted({r["kind"] for r in records if r["ok"]})
    p50 = mean([med([r["ms"] for r in records if r["ok"] and r["kind"] == k])
                for k in kinds])
    return {"setup_s": setup_s,
            "op_p50_ms": p50,
            "op_p90_ms": p90(ms) if ms else 0.0,
            "peak_rss_mb": (resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
                            + jvm_peak_rss_kb()) / 1024.0}


def main(argv=None) -> int:
    bench = load_benchmark()
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=[w["name"] for w in bench["workloads"]])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", choices=("full", "smoke"), default="full",
                    help="input sizes (smoke: the smoke tests' tiny inputs)")
    args = ap.parse_args(argv)

    try:
        import spatial_spark  # noqa: F401
    except ImportError as e:
        print(f"perfbench: spatial_spark is not importable from {ROOT}: {e}",
              file=sys.stderr)
        return 2
    work = os.path.join(ROOT, ".perfbench_work", f"run-{os.getpid()}")
    prepare_environment(work, bool(args.trace))
    adopt_orphans()
    for sig in (signal.SIGTERM, signal.SIGHUP):
        signal.signal(sig, _exit_on_signal)
    try:
        return run(args, work, bench)
    finally:
        stop_processes()
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))   # kept while it holds spans
        except OSError:
            pass


def run(args, work, bench) -> int:
    import workloads
    from spatial_spark import get_spark
    from tracing import Tracer, install_wrappers

    cpus = len(os.sched_getaffinity(0))
    spark = get_spark(app="perfbench", cpus=cpus)
    session_s = time.perf_counter() - T_START
    tracer = Tracer(spark, enabled=bool(args.trace))
    if args.trace:
        install_wrappers(tracer)
    wl = workloads.WORKLOADS[args.workload](Env(spark, tracer, work),
                                            args.seed, args.size)
    try:
        wl.generate()
        builds = []

        def build(rep):
            """Time one set-up.  Only the first is kept: the ops run on
            its layers, the repeats only time set-up again."""
            kept = dict(vars(wl))
            t0 = time.perf_counter()
            wl.build(wl.env.context(rep))
            builds.append(time.perf_counter() - t0)
            if rep:
                vars(wl).update(kept)

        # Untraced, the repeated builds split the timed blocks into
        # stretches, so the timing spans the whole run and one slow spell
        # of a shared host weighs less.  Traced, they all run first, so
        # the set-up's counters stay apart from the ops'.
        repeats = list(range(1, SETUP_REPS))
        build(0)
        if args.trace:
            for rep in repeats:
                build(rep)
            repeats = []
        setup_counters = dict(tracer.counters)

        stream = wl.ops()
        warm = []
        tracer.enabled = False
        t0 = time.perf_counter()
        for op in wl.warmup_ops(stream):
            warm.append(run_op(wl, op))
        warm_s = time.perf_counter() - t0

        records = []
        tracer.counters.clear()
        n_blocks = blocks_for(wl, args.seconds, bool(args.trace))
        cuts = [n_blocks * i // (len(repeats) + 1)
                for i in range(len(repeats) + 2)]
        plain, traced = measure(wl, stream, cuts[1], bool(args.trace),
                                records)
        for rep, a, b in zip(repeats, cuts[1:], cuts[2:]):
            build(rep)
            plain += measure(wl, stream, b - a, False, records)[0]
        setup_s = session_s + med(builds)
        print(f"perfbench: session {session_s:.2f}s, builds "
              f"{', '.join(f'{b:.2f}' for b in builds)}s, warm-up "
              f"{warm_s:.2f}s", file=sys.stderr)
        e2e = end_to_end(plain, setup_s)
        extra = layers.extra_measurements(wl) if args.trace else {}
        side_records, side_traced = [], []
        main_counters = {k: list(v) for k, v in tracer.counters.items()}
        if args.trace:
            side = workloads.SIDE[args.workload](wl.env, args.seed, args.size)
            side.generate()
            side.build(wl.env.context(side.name))
            _, side_traced = measure(side, side.ops(), side.SIDE_BLOCKS, True,
                                     side_records, prefix=side.name)
            extra.update(layers.side_measurements(side))
    finally:
        spark.stop()

    checked = warm + records + side_records
    failed = sum(not r["ok"] for r in checked)
    if args.trace:
        from tracing import read_event_log
        tracer.write(os.path.join(ROOT, ".perfbench_work",
                                  f"spans-{args.workload}-{args.seed}.jsonl"))
        metrics = layers.per_layer(
            wl, traced, plain, tracer, main_counters, setup_counters,
            read_event_log(os.path.join(work, "events")), extra, side_traced)
        metrics.update({"ops_failed_frac": failed / len(checked),
                        "peak_rss_mb": e2e.pop("peak_rss_mb"),
                        "setup.session_s": session_s,
                        "setup.cold_build_s": builds[0]})
    else:
        metrics = e2e
    spec = bench["per_layer" if args.trace else "end_to_end"]
    kinds = {k: round(med([r["ms"] for r in records
                           if r["kind"] == k and r["ok"]]))
             for k in wl.KINDS}
    print(f"perfbench: {args.workload} seed={args.seed} ops={len(records)} "
          f"kind_p50_ms={kinds} outputs={digest(warm + records[:1])}",
          file=sys.stderr)
    for r in checked:
        if not r["ok"]:
            print(f"perfbench: WRONG {r.get('op', 'warmup')} {r['kind']}",
                  file=sys.stderr)
    print(json.dumps({
        "correct": failed == 0, "attempted": len(checked), "failed": failed,
        "metrics": {m["name"]: {"value": float(metrics.get(m["name"], 0.0)),
                                "unit": m["unit"]} for m in spec}}))
    sys.stdout.flush()
    return 0 if failed == 0 else 1


def digest(records) -> str:
    import hashlib
    return hashlib.sha1("|".join(str(r.get("out")) for r in records)
                        .encode()).hexdigest()[:16]

if __name__ == "__main__":
    sys.exit(main())

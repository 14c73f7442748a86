"""Tracing for the traced benchmark run: in-memory spans, wrappers around
public library methods, and the Spark event-log parser.

Everything here observes the library from outside.  Spans are kept in a
list and written out once at the end of the run; every call the benchmark
makes into the library is tagged with ``SparkContext.setJobGroup`` so the
event log attributes each Spark job, stage and task to the call that
issued it.
"""

from __future__ import annotations

import functools
import glob
import json
import os
import time
from collections import defaultdict
from contextlib import contextmanager


class Tracer:
    """Spans and counters of one run.  With ``enabled`` false, ``call``
    only times the block: no job group, no span, no counters."""

    def __init__(self, spark, enabled: bool):
        self.sc = spark.sparkContext
        self.enabled = enabled
        self.spans = []            # (name, start, end, parent, op, group)
        self.counters = defaultdict(list)
        self.groups = {}           # job group -> (op id, call name)
        self._stack = []
        self._op = None
        self._seq = 0

    @contextmanager
    def op(self, op_id: str):
        """The unit of user-visible work the end-to-end metrics count."""
        self._op = op_id
        with self.span("op", op_id):
            yield
        self._op = None

    @contextmanager
    def span(self, name: str, group_label: str | None = None):
        if not self.enabled:
            yield
            return
        group = None
        if group_label is not None:
            self._seq += 1
            group = f"{self._seq:05d}:{group_label}"
            self.groups[group] = (self._op, name)
            self.sc.setJobGroup(group, name)
        parent = self._stack[-1] if self._stack else None
        idx = len(self.spans)
        self.spans.append([name, time.time(), None, parent, self._op, group])
        self._stack.append(idx)
        try:
            yield
        finally:
            self._stack.pop()
            self.spans[idx][2] = time.time()
            if group is not None:
                outer = next((self.spans[i][5] for i in reversed(self._stack)
                              if self.spans[i][5]), None)
                if outer:
                    self.sc.setJobGroup(outer, self.groups[outer][1])
                else:
                    self.sc.setLocalProperty("spark.jobGroup.id", None)
                    self.sc.setLocalProperty("spark.job.description", None)

    def call(self, name: str):
        """A tagged span around one call into the library."""
        return self.span(name, group_label=name)

    def count(self, name: str, value: float) -> None:
        if self.enabled:
            self.counters[name].append(value)

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(dict(zip(
                    ("name", "start", "end", "parent", "op", "group"), s)))
                    + "\n")


def install_wrappers(tracer: Tracer) -> None:
    """Time and count the library's catalog, manifest and SFC boundaries.
    The wrappers forward every argument unchanged; they are installed
    only in the traced run."""
    from spatial_spark import catalog, manifest
    from spatial_spark.operators import pruning

    def wrap(owner, attr, counter, ctx=False):
        orig = getattr(owner, attr)
        if ctx:
            @contextmanager
            def wrapped(*a, **kw):
                t0 = time.perf_counter()
                with orig(*a, **kw) as h:
                    tracer.count(counter, (time.perf_counter() - t0) * 1e3)
                    yield h
        else:
            @functools.wraps(orig)
            def wrapped(*a, **kw):
                t0 = time.perf_counter()
                try:
                    return orig(*a, **kw)
                finally:
                    tracer.count(counter, (time.perf_counter() - t0) * 1e3)
        setattr(owner, attr, wrapped)

    wrap(catalog.Catalog, "get", "catalog.read_ms")
    for w in ("add_layer", "update", "record_attrs", "merge_stats"):
        wrap(catalog.Catalog, w, "catalog.write_ms")
    wrap(manifest.Manifest, "commit", "manifest.commit_ms")
    wrap(manifest.Manifest, "commit_delta", "manifest.commit_ms")
    wrap(manifest.Manifest, "files_where", "manifest.files_where_ms")
    wrap(manifest.Manifest, "lock", "manifest.lock_wait_ms", ctx=True)

    for curve, fn in list(pruning._RANGE_FNS.items()):
        @functools.wraps(fn)
        def ranges(*a, _fn=fn, **kw):
            t0 = time.perf_counter()
            out = _fn(*a, **kw)
            tracer.count("sfc.ranges_ms", (time.perf_counter() - t0) * 1e3)
            tracer.count("sfc.ranges_per_window", len(out))
            return out
        pruning._RANGE_FNS[curve] = ranges


def read_event_log(log_dir: str) -> dict:
    """Per-job-group totals from an uncompressed Spark event log:
    ``{group: {"jobs": [(start_s, end_s)], "stages", "tasks", "run_s",
    "cpu_s", "gc_s", "shuffle_read", "shuffle_write"}}``."""
    files = glob.glob(os.path.join(log_dir, "*"))
    if not files:
        raise FileNotFoundError(f"no Spark event log in {log_dir}")
    job_group, job_start, stage_job = {}, {}, {}
    out = defaultdict(lambda: {"jobs": [], "stages": set(), "tasks": 0,
                               "run_s": 0.0, "cpu_s": 0.0, "gc_s": 0.0,
                               "shuffle_read": 0, "shuffle_write": 0})
    with open(max(files, key=os.path.getsize)) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                props = ev.get("Properties") or {}
                group = props.get("spark.jobGroup.id")
                job_group[ev["Job ID"]] = group
                job_start[ev["Job ID"]] = ev["Submission Time"] / 1e3
                for sid in ev.get("Stage IDs", []):
                    stage_job[sid] = ev["Job ID"]
            elif kind == "SparkListenerJobEnd":
                group = job_group.get(ev["Job ID"])
                if group is not None:
                    out[group]["jobs"].append(
                        (job_start[ev["Job ID"]], ev["Completion Time"] / 1e3))
            elif kind == "SparkListenerTaskEnd":
                group = job_group.get(stage_job.get(ev["Stage ID"]))
                m = ev.get("Task Metrics")
                if group is None or not m:
                    continue
                g = out[group]
                g["stages"].add(ev["Stage ID"])
                g["tasks"] += 1
                g["run_s"] += m.get("Executor Run Time", 0) / 1e3
                g["cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
                g["gc_s"] += m.get("JVM GC Time", 0) / 1e3
                sr = m.get("Shuffle Read Metrics") or {}
                g["shuffle_read"] += (sr.get("Remote Bytes Read", 0)
                                      + sr.get("Local Bytes Read", 0))
                sw = m.get("Shuffle Write Metrics") or {}
                g["shuffle_write"] += sw.get("Shuffle Bytes Written", 0)
    return dict(out)


def union_length(intervals, lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to ``[lo, hi]``."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted((max(s, lo), min(e, hi)) for s, e in intervals):
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total

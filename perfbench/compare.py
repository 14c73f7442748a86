"""Compare two sets of benchmark runs, metric by metric and workload by
workload.

    python3 perfbench/compare.py PARENT.jsonl CHANGE.jsonl

Each input holds one JSON object per line: ``{"workload": name,
"result": <the benchmark's last stdout line>}``, in the order the runs
were made.  The i-th parent run and the i-th change run of a workload form
one pair; make the runs alternately, parent first in even pairs and change
first in odd ones.

A (metric, workload) is labelled:

* ``worse``: the change failed more ops on the workload than the parent
  did (a failed op misses any latency limit), whatever the timings say;
* ``unresolved``: fewer than ten pairs;
* ``better`` / ``worse``: one side wins at least 9 of every 10 pairs (ties
  count for neither) and the medians differ by more than the distance
  between the parent's quartiles;
* ``flat``: neither, and the medians differ by at most the metric's
  BENCHMARK.json bound while the parent's own quartile spread is within
  the bound too;
* ``unresolved``: anything else (a spread or gap wider than the bound
  with no consistent winner).
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys

WIN_SHARE = 0.9
MIN_PAIRS = 10


def load(path):
    """{workload: [result, ...]}, each result the benchmark's JSON line."""
    runs = {}
    with open(path) as f:
        for line in f:
            if line.strip():
                rec = json.loads(line)
                res = rec["result"]
                if isinstance(res, str):
                    res = json.loads(res)
                runs.setdefault(rec["workload"], []).append(res)
    return runs


def iqr(values):
    q = statistics.quantiles(values, n=4)
    return q[2] - q[0]


def classify(parent, change, better, bound):
    """Label one metric from paired samples; returns (label, detail)."""
    n = min(len(parent), len(change))
    if n < MIN_PAIRS:
        return "unresolved", {"pairs": n}
    parent, change = parent[:n], change[:n]
    sign = 1.0 if better == "higher" else -1.0
    wins = sum(sign * (c - p) > 0 for p, c in zip(parent, change))
    losses = sum(sign * (c - p) < 0 for p, c in zip(parent, change))
    mp, mc = statistics.median(parent), statistics.median(change)
    spread = iqr(parent)
    gap = mc - mp
    detail = {"pairs": n, "parent_median": mp, "change_median": mc,
              "parent_iqr": spread, "wins": wins, "losses": losses}
    if abs(gap) > spread:
        if wins >= WIN_SHARE * n and sign * gap > 0:
            return "better", detail
        if losses >= WIN_SHARE * n and sign * gap < 0:
            return "worse", detail
    if mp and spread <= bound * abs(mp) and abs(gap) <= bound * abs(mp):
        return "flat", detail
    return "unresolved", detail


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("parent")
    ap.add_argument("change")
    ap.add_argument("--benchmark", default=os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "BENCHMARK.json"))
    args = ap.parse_args(argv)
    with open(args.benchmark) as f:
        spec = json.load(f)
    parent, change = load(args.parent), load(args.change)
    worse = False
    for row in compare(spec, parent, change):
        worse |= row["label"] == "worse"
        print(json.dumps(row))
    return 1 if worse else 0


def compare(spec, parent, change):
    """One row per (workload, end-to-end metric)."""
    rows = []
    for w in spec["workloads"]:
        name = w["name"]
        pr, cr = parent.get(name, []), change.get(name, [])
        n = min(len(pr), len(cr))
        failed = (sum(r["failed"] for r in pr[:n]),
                  sum(r["failed"] for r in cr[:n]))
        for m in spec["end_to_end"]:
            key = m["name"]
            p = [r["metrics"][key]["value"] for r in pr if key in r["metrics"]]
            c = [r["metrics"][key]["value"] for r in cr if key in r["metrics"]]
            label, d = classify(p, c, m["better"], m["bound"])
            if failed[1] > failed[0]:
                label = "worse"
            rows.append({"workload": name, "metric": key, "label": label,
                         "failed": failed, **d})
    return rows


if __name__ == "__main__":
    sys.exit(main())

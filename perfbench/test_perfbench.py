"""Smoke tests of the benchmark itself, on the tiny ``--size smoke`` inputs.

    python3 -m pytest perfbench/test_perfbench.py -q

Each workload runs briefly through the command line, traced and untraced;
the tests check the output contract, that a seed fixes the op stream and
the checked outputs, and that a wrong answer counts as a failure.
"""

from __future__ import annotations

import json
import os
import re
import subprocess
import sys

import numpy as np
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE, ROOT]

import workloads  # noqa: E402

with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
    BENCH = json.load(f)
NAMES = [w["name"] for w in BENCH["workloads"]]


def _cli(workload, trace, seed=3):
    p = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", "1", "--trace", str(trace),
         "--size", "smoke"],
        capture_output=True, text=True, timeout=600, cwd="/")
    digest = re.search(r"outputs=(\w+)", p.stderr)
    return p, json.loads(p.stdout.strip().splitlines()[-1]), \
        digest and digest.group(1)


@pytest.fixture(scope="module")
def cli_runs():
    return {(w, t): _cli(w, t) for w in NAMES for t in (0, 1)}


@pytest.mark.parametrize("workload", NAMES)
def test_every_metric_with_its_unit(cli_runs, workload):
    for trace, key in ((0, "end_to_end"), (1, "per_layer")):
        proc, out, _ = cli_runs[workload, trace]
        assert proc.returncode == 0, proc.stderr[-2000:]
        assert set(out) == {"correct", "attempted", "failed", "metrics"}
        assert out["correct"] is True and out["failed"] == 0
        assert out["attempted"] >= 1
        want = {m["name"]: m["unit"] for m in BENCH[key]}
        got = {k: v["unit"] for k, v in out["metrics"].items()}
        assert got == want
        assert all(isinstance(v["value"], float) for v in out["metrics"].values())
    e2e = cli_runs[workload, 0][1]["metrics"]
    assert all(v["value"] > 0 for v in e2e.values())
    # the workload run beside this one in the traced run reports its layers
    side = {"search_mix": "io.delta_append_s", "join_refine": "iter.kmeans.op_s"}
    assert cli_runs[workload, 1][1]["metrics"][side[workload]]["value"] > 0


@pytest.mark.parametrize("workload", NAMES)
def test_same_seed_same_checked_outputs(cli_runs, workload):
    # the traced and untraced runs share the seed, so their inputs, op
    # stream and the outputs of the first ops must agree
    a, b = cli_runs[workload, 0][2], cli_runs[workload, 1][2]
    assert a is not None and a == b


ALL = {**workloads.WORKLOADS,
       **{w.name: w for w in workloads.SIDE.values()}}


def _stream(name, seed, n=12):
    wl = ALL[name](None, seed, "smoke")
    wl.generate()
    out = []
    for op in (next(s) for s in [wl.ops()] for _ in range(n)):
        op = dict(op)
        if "rng" in op:
            op["rng"] = wl.batch(op["rng"]).to_json()
        out.append(json.dumps(op, sort_keys=True, default=str))
    return out


@pytest.mark.parametrize("workload", sorted(ALL))
def test_same_seed_same_op_stream(workload):
    assert _stream(workload, 5) == _stream(workload, 5)
    if workload == "search_mix":
        assert _stream(workload, 5) != _stream(workload, 6)


def test_search_mix_blocks_hold_every_kind():
    wl = workloads.WORKLOADS["search_mix"](None, 9, "smoke")
    wl.generate()
    stream = wl.ops()
    for _ in range(5):
        block = [next(stream) for _ in range(4)]
        assert sorted(op["kind"] for op in block) == sorted(wl.KINDS)
        assert sum(op["hot"] for op in block) == 2


def test_corrupted_answer_counts_as_failure(monkeypatch, capsys):
    import oracle
    import run

    real = oracle.knn_dists
    monkeypatch.setattr(oracle, "knn_dists",
                        lambda *a, **kw: real(*a, **kw) + 1.0)
    saved = dict(os.environ)
    try:
        rc = run.main(["--workload", "search_mix", "--seed", "4",
                       "--seconds", "1", "--size", "smoke"])
    finally:
        os.environ.clear()
        os.environ.update(saved)
    out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert rc != 0
    assert out["correct"] is False and out["failed"] >= 1
    assert out["failed"] <= out["attempted"]


def test_oracle_components_and_pagerank():
    lab = workloads.oracle.components(5, [(3, 4), (1, 3)])
    assert lab.tolist() == [0, 1, 2, 1, 1]
    pr = workloads.oracle.pagerank(np.array([0, 1, 2]), np.array([1, 2, 0]), 4)
    assert all(abs(v - 1 / 3) < 1e-12 for v in pr.values())


def test_work_is_fixed_by_seconds_not_by_speed():
    import run
    for name in NAMES:
        wl = workloads.WORKLOADS[name](None, 1, "smoke")
        n = run.blocks_for(wl, BENCH["run_seconds"], False)
        assert n == max(1, round(BENCH["run_seconds"] / wl.BLOCK_S))
        assert run.blocks_for(wl, 0.1, True) == 2


def _result(value, failed=0):
    return {"correct": failed == 0, "attempted": 10, "failed": failed,
            "metrics": {m["name"]: {"value": value, "unit": m["unit"]}
                        for m in BENCH["end_to_end"]}}


def _labels(parent, change):
    import compare
    spec = {"workloads": [{"name": "w"}], "end_to_end": BENCH["end_to_end"]}
    return {r["label"] for r in compare.compare(spec, {"w": parent},
                                                {"w": change})}


def test_compare_needs_ten_pairs_before_flat():
    runs = [_result(100.0 + i % 3) for i in range(10)]
    assert _labels(runs[:9], runs[:9]) == {"unresolved"}
    assert _labels(runs, runs) == {"flat"}


def test_compare_more_failures_is_worse():
    parent = [_result(100.0 + i % 3) for i in range(10)]
    faster = [_result(90.0 + i % 3) for i in range(10)]
    assert _labels(parent, faster) == {"better"}
    faster[4] = _result(90.0, failed=1)
    assert _labels(parent, faster) == {"worse"}

"""Tests of the benchmark's own output contract.

    python3 -m pytest perfbench/test_contract.py -q          # fast checks
    python3 -m pytest perfbench/test_contract.py -q -m ""    # plus real runs

The ``slow`` tests run every workload once untraced and once traced
(about a minute per run).
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pandas as pd
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
CHECKOUT = os.path.dirname(HERE)
sys.path[:0] = [CHECKOUT, HERE]

import workloads  # noqa: E402

with open(os.path.join(CHECKOUT, "BENCHMARK.json")) as f:
    SPEC = json.load(f)
DECLARED = {
    trace: {m["name"]: m["unit"] for m in SPEC[key]}
    for trace, key in ((False, "end_to_end"), (True, "per_layer"))
}


def _printed(result: dict) -> dict[str, str]:
    return {name: m["unit"] for name, m in result["metrics"].items()}


@pytest.mark.parametrize("trace", [False, True])
def test_printed_metrics_are_the_declared_ones_with_units(trace):
    out = {"attempted": 3, "failed": 0, "metrics": {n: 1.5 for n in DECLARED[trace]}}
    got = workloads.result(out, trace, set())
    assert _printed(got) == DECLARED[trace]
    assert all(m["unit"] and isinstance(m["value"], float) for m in got["metrics"].values())
    assert set(got) == {"correct", "attempted", "failed", "metrics"}


def test_undeclared_metric_is_refused():
    out = {"attempted": 1, "failed": 0, "metrics": {"chain_s": 1.0, **dict.fromkeys(DECLARED[False], 1.0)}}
    with pytest.raises(ValueError, match="chain_s"):
        workloads.result(out, False, set())


def test_a_metric_the_workload_owns_must_be_measured():
    owns = workloads.OWNS["forecast_chain"]
    traced = {"attempted": 1, "failed": 0, "metrics": dict.fromkeys(owns - {"streaming.batches"}, 1.0)}
    with pytest.raises(ValueError, match="streaming.batches"):
        workloads.result(traced, True, owns)
    # a per-layer metric of another workload's layer prints as 0
    traced["metrics"]["streaming.batches"] = 1.0
    printed = workloads.result(traced, True, owns)["metrics"]
    assert printed["plans.build_s"]["value"] == 0.0 and printed["streaming.batches"]["value"] == 1.0
    untraced = {"attempted": 1, "failed": 0, "metrics": dict.fromkeys(set(DECLARED[False]) - {"warm_s"}, 1.0)}
    with pytest.raises(ValueError, match="warm_s"):
        workloads.result(untraced, False, owns)


def test_workloads_match_benchmark_json():
    assert sorted(w["name"] for w in SPEC["workloads"]) == sorted(workloads.WORKLOADS) == sorted(workloads.OWNS)
    # every per-layer metric is measured by some workload
    assert set().union(*workloads.OWNS.values()) == set(DECLARED[True])


def test_planted_wrong_expected_result_is_a_failed_operation():
    frame = pd.DataFrame({"k": [2, 1], "v": [0.1234567, 2.0]})
    assert workloads.canon(frame.iloc[::-1]) == workloads.canon(frame)  # row order does not matter
    results = [("q1", frame), ("q1", frame.iloc[::-1]), ("q2", frame)]
    assert workloads.count_failures(results, {"q1": frame, "q2": frame}) == 0
    planted = frame.assign(v=[0.1234567, 2.5])
    assert workloads.canon(planted) != workloads.canon(frame)
    assert workloads.count_failures(results, {"q1": frame, "q2": planted}) == 1
    assert workloads.count_failures([("q1", None)], {"q1": frame}) == 1  # the call raised


def test_rounding_tie_passes_and_a_wider_gap_fails():
    oracle = pd.DataFrame({"nation": ["N1", "N2"], "sum_profit": [-30933.2465, 10.5]})
    tie = oracle.assign(sum_profit=[-30933.2464, 10.5])
    assert workloads.same_result(tie, oracle)
    assert not workloads.same_result(oracle.assign(sum_profit=[-30933.2462, 10.5]), oracle)
    assert not workloads.same_result(oracle.assign(nation=["N1", "N3"]), oracle)


def test_rounding_tie_unit_is_the_columns_scale_not_the_values():
    """A value that prints fewer decimals (10.6) is still held to the
    column's 4-decimal scale: 10.5 against it is 1,000 units off."""
    oracle = pd.DataFrame({"nation": ["N1", "N2"], "sum_profit": [-30933.2465, 10.6]})
    assert not workloads.same_result(oracle.assign(sum_profit=[-30933.2465, 10.5]), oracle)
    assert workloads.same_result(oracle.assign(sum_profit=[-30933.2465, 10.6001]), oracle)


def test_result_is_incorrect_when_an_operation_failed():
    out = {"attempted": 4, "failed": 1, "metrics": dict.fromkeys(DECLARED[False], 2.0)}
    assert workloads.result(out, False, set())["correct"] is False


def _run(cwd, *args, timeout=170):
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    return subprocess.run(
        [sys.executable, "perfbench/run.py", *args],
        cwd=cwd, env=env, capture_output=True, text=True, timeout=timeout,
    )


def test_fails_without_the_program(tmp_path):
    """In a directory holding only BENCHMARK.json and the benchmark, the
    run exits non-zero and prints no result."""
    shutil.copytree(HERE, tmp_path / "perfbench", ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(os.path.join(CHECKOUT, "BENCHMARK.json"), tmp_path)
    p = _run(tmp_path, "--workload", "warehouse_queries", "--seed", "1", "--seconds", "1", "--trace", "0", timeout=60)
    assert p.returncode != 0
    assert '"correct"' not in p.stdout


@pytest.mark.slow
@pytest.mark.parametrize("workload", sorted(workloads.WORKLOADS))
@pytest.mark.parametrize("trace", ["0", "1"])
def test_real_run_prints_every_declared_metric(workload, trace):
    p = _run(CHECKOUT, "--workload", workload, "--seed", "7", "--seconds", "1", "--trace", trace)
    assert p.returncode == 0, p.stderr[-2000:]
    got = json.loads(p.stdout.strip().splitlines()[-1])
    assert got["correct"] and got["failed"] == 0 and got["attempted"] >= 1
    assert _printed(got) == DECLARED[trace == "1"]

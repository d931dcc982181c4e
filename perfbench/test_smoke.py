"""Smoke test of the benchmark itself, at 1/25 of the benchmark's input
size (sf0.001) with one short round per workload:

    python3 -m pytest perfbench/test_smoke.py -q

Every workload must print every metric BENCHMARK.json names, with its unit,
and no failed op; a wrong expected value must count as a failed op.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)


def _bench() -> dict:
    with open(os.path.join(REPO, "BENCHMARK.json")) as fh:
        return json.load(fh)


def _run(workload: str, trace: int, *extra: str) -> tuple[dict, dict]:
    cmd = [
        sys.executable, os.path.join(HERE, "run.py"),
        "--workload", workload, "--seed", "5", "--seconds", "1",
        "--trace", str(trace), "--scale", "0.01", "--setup-reps", "1", *extra,
    ]  # fmt: skip
    out = subprocess.run(cmd, cwd=REPO, capture_output=True, text=True, timeout=600)
    assert out.returncode == 0, out.stderr[-3000:]
    detail, result = (json.loads(line) for line in out.stdout.strip().splitlines()[-2:])
    return detail, result


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", ["serve", "ingest"])
def test_workload_reports_every_metric(workload, trace):
    detail, result = _run(workload, trace)
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] and result["failed"] == 0 and result["attempted"] >= 1
    assert detail["ops"]["failed_ops_frac"]["value"] == 0
    spec = _bench()["per_layer" if trace else "end_to_end"]
    assert set(result["metrics"]) == {m["name"] for m in spec}
    for m in spec:
        got = result["metrics"][m["name"]]
        assert got["unit"] == m["unit"] and isinstance(got["value"], float), m["name"]
        if not trace:
            assert got["value"] > 0, m["name"]


def test_wrong_expected_value_counts_as_failed_op():
    _, result = _run("ingest", 0, "--corrupt-golden", "w7_dcr_merge")
    assert not result["correct"]
    assert result["failed"] == 1 and result["attempted"] >= 2

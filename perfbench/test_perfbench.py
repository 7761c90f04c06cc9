"""Tests of the benchmark itself.

    python3 -m pytest perfbench/test_perfbench.py -q

The smoke tests run each workload at a tenth of its size, untraced and
traced, and check that every metric ``BENCHMARK.json`` names is printed
with its unit.  The perturbation tests check that the correctness checks
count a wrong answer.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

from perfbench import oracle

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
with open(os.path.join(ROOT, "BENCHMARK.json")) as _fh:
    BENCH = json.load(_fh)


def _run(workload: str, trace: int) -> dict:
    out = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "3",
         "--seconds", "1", "--trace", str(trace), "--size", "smoke"],
        cwd=ROOT, capture_output=True, text=True, timeout=300, check=True)
    lines = out.stdout.strip().splitlines()
    assert "failed_share" in json.loads(lines[-2])["info"]
    return json.loads(lines[-1])


@pytest.mark.parametrize("workload", [w["name"] for w in BENCH["workloads"]])
@pytest.mark.parametrize("trace", [0, 1])
def test_smoke_prints_every_metric(workload, trace):
    result = _run(workload, trace)
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] and result["failed"] == 0 and result["attempted"] >= 1
    declared = BENCH["per_layer"] if trace else BENCH["end_to_end"]
    assert {m["name"]: m["unit"] for m in declared} == \
        {n: m["unit"] for n, m in result["metrics"].items()}
    if not trace:
        assert all(m["value"] > 0 for m in result["metrics"].values())


def _state():
    expected = {("r", f"p{i}"): {"offset": 10 + i, "sha": f"h{i}"} for i in range(5)}
    rows = [{"repo": r, "path": p, "last_offset": w["offset"], "content_sha256": w["sha"]}
            for (r, p), w in expected.items()]
    return expected, rows


def test_state_check_passes_on_the_oracle():
    expected, rows = _state()
    assert oracle.compare_state(expected, rows) == 0


def test_state_check_counts_a_perturbed_oracle():
    expected, rows = _state()
    expected[("r", "p1")]["offset"] = 9            # an older version won
    expected[("r", "p9")] = {"offset": 1, "sha": "x"}  # a key went missing
    del expected[("r", "p3")]                      # a deleted key came back
    assert oracle.compare_state(expected, rows) == 3


def test_query_check_counts_a_perturbed_oracle():
    from tools.check_contract import frame_hash

    rows = [(1, "a"), (2, "b")]
    want = {"q": {"rows": 2, "cols": ["k", "v"], "hash": frame_hash(["k", "v"], rows)}}
    assert oracle.check_queries(want, {"q": (["k", "v"], rows)}) == (1, 0)
    want["q"]["hash"] = frame_hash(["k", "v"], [(1, "a"), (2, "c")])
    assert oracle.check_queries(want, {"q": (["k", "v"], rows)}) == (1, 1)

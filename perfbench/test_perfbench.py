"""The benchmark's own tests: ``python -m pytest perfbench -q``.

The smoke runs start Spark, so they take a few minutes.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import numpy as np
import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from perfbench import inputs  # noqa: E402

with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
    SPEC = json.load(f)
WORKLOADS = [w["name"] for w in SPEC["workloads"]]


def _run(workload: str, trace: int, seed: int = 5) -> dict:
    out = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", str(seed),
         "--seconds", "1", "--trace", str(trace), "--scale", "0.05"],
        cwd=ROOT, capture_output=True, text=True, timeout=600, check=True,
    )
    result = json.loads(out.stdout.strip().splitlines()[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] and result["failed"] == 0 and result["attempted"] >= 1
    return result["metrics"]


def test_inputs_repeat_with_the_seed():
    sizes = [300, 40, 40]
    a = inputs.slices(inputs.generate(9, sum(sizes)), sizes)
    b = inputs.slices(inputs.generate(9, sum(sizes)), sizes)
    for x, y in zip(a, b):
        assert x.equals(y)
    assert [len(inputs.latest(x)) for x in a] == sizes
    keys = [set(zip(x["conv_id"], x["turn_idx"])) for x in a]
    assert not (keys[0] & keys[1]) and not (keys[1] & keys[2])  # appends carry new keys

    pool = inputs.query_pools()["core"]
    s1, s2 = (inputs.Stream(pool, np.random.default_rng(3)) for _ in range(2))
    drawn = [s1.next()["query_id"] for _ in range(2 * len(pool))]
    assert drawn == [s2.next()["query_id"] for _ in range(2 * len(pool))]
    assert sorted(drawn[: len(pool)]) == sorted(q["query_id"] for q in pool)


@pytest.mark.parametrize("workload", WORKLOADS)
def test_end_to_end_metrics_present_with_units_and_positive(workload):
    metrics = _run(workload, trace=0)
    assert set(metrics) == {m["name"] for m in SPEC["end_to_end"]}
    for m in SPEC["end_to_end"]:
        assert metrics[m["name"]]["unit"] == m["unit"]
        assert metrics[m["name"]]["value"] > 0, m["name"]


@pytest.mark.parametrize("workload", WORKLOADS)
def test_traced_counts_repeat_with_the_seed(workload):
    a, b = _run(workload, trace=1), _run(workload, trace=1)
    assert set(a) == {m["name"] for m in SPEC["per_layer"]}
    for m in SPEC["per_layer"]:
        assert a[m["name"]]["unit"] == m["unit"]
        if m["unit"] in ("count", "bytes"):
            assert a[m["name"]]["value"] == b[m["name"]]["value"], m["name"]

"""Smoke test of the benchmark itself, at its smallest run length.

    python3 -m pytest perfbench/test_smoke.py -q

Each case starts a Spark session (about a minute on 4 cores).
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
    SPEC = json.load(f)


def bench(*args: str) -> dict:
    out = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--seed", "7", "--seconds", "1", *args],
        cwd=ROOT, capture_output=True, text=True, timeout=300)
    assert out.returncode == 0, out.stderr[-3000:]
    return json.loads(out.stdout.strip().splitlines()[-1])


@pytest.mark.parametrize("workload", [w["name"] for w in SPEC["workloads"]])
def test_every_metric_printed_with_unit(workload):
    for trace, key in ((0, "end_to_end"), (1, "per_layer")):
        res = bench("--workload", workload, "--trace", str(trace))
        assert res["correct"] and res["failed"] == 0 and res["attempted"] >= 1
        want = {m["name"]: m["unit"] for m in SPEC[key]}
        assert {k: m["unit"] for k, m in res["metrics"].items()} == want
        if key == "end_to_end":
            assert all(m["value"] > 0 for m in res["metrics"].values())


def test_planted_wrong_result_is_counted():
    res = bench("--workload", "search_longlist", "--trace", "1", "--plant-wrong")
    assert not res["correct"] and res["failed"] == 1
    assert res["metrics"]["ops_failed_ratio"]["value"] == pytest.approx(1 / res["attempted"])


def test_fails_without_the_package(tmp_path):
    os.makedirs(tmp_path / "perfbench")
    for name in os.listdir(HERE):
        if name.endswith(".py"):
            with open(os.path.join(HERE, name)) as src, open(tmp_path / "perfbench" / name, "w") as dst:
                dst.write(src.read())
    with open(tmp_path / "BENCHMARK.json", "w") as f:
        json.dump(SPEC, f)
    out = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "search_longlist", "--seed", "1",
         "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=180)
    assert out.returncode != 0 and "correct" not in out.stdout

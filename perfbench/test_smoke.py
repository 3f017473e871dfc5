"""Smoke test of the benchmark itself, on tiny inputs (PERFBENCH_TINY=1).

    python3 -m pytest perfbench/test_smoke.py -q     # from the repo root

Checks that a run prints, as its last line, every metric BENCHMARK.json
names, with its unit, and that it fails without the package.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SPEC = json.load(open(os.path.join(ROOT, "BENCHMARK.json"), encoding="utf-8"))


def run(workload: str, trace: int) -> tuple[int, dict]:
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "7",
         "--seconds", "4", "--trace", str(trace)],
        cwd=ROOT,
        env={**os.environ, "PERFBENCH_TINY": "1"},
        capture_output=True,
        text=True,
        timeout=300,
    )
    assert p.stdout.strip(), p.stderr[-3000:]
    return p.returncode, json.loads(p.stdout.strip().splitlines()[-1])


def assert_metrics(out: dict, spec: list[dict]) -> None:
    assert set(out) == {"correct", "attempted", "failed", "metrics"}
    assert out["attempted"] >= 1 and 0 <= out["failed"] <= out["attempted"]
    got = {k: v["unit"] for k, v in out["metrics"].items()}
    assert got == {m["name"]: m["unit"] for m in spec}
    for v in out["metrics"].values():
        assert isinstance(v["value"], (int, float))


@pytest.mark.parametrize("trace", [0, 1])
def test_listed_workload_emits_every_metric(trace):
    code, out = run(SPEC["workloads"][0]["name"], trace)
    assert_metrics(out, SPEC["per_layer"] if trace else SPEC["end_to_end"])
    assert out["correct"] and code == 0


def test_exits_nonzero_without_the_package(tmp_path):
    os.makedirs(tmp_path / "perfbench")
    for f in os.listdir(os.path.join(ROOT, "perfbench")):
        if f.endswith(".py"):
            with open(os.path.join(ROOT, "perfbench", f), "rb") as src:
                (tmp_path / "perfbench" / f).write_bytes(src.read())
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", SPEC["workloads"][0]["name"],
         "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=tmp_path,
        capture_output=True,
        text=True,
        timeout=120,
    )
    assert p.returncode != 0 and not p.stdout.strip()

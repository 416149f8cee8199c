"""The benchmark's own quick test: every workload, one timed pass, on
sf0.001 and a tiny ``etl_source``, untraced and traced.

    python3 -m pytest benchmark/test_quick.py -q

Each run must check its outputs (``correct``), fail no operation and
print every metric ``BENCHMARK.json`` names: the end-to-end ones
untraced, the per-layer ones traced.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
with open(os.path.join(ROOT, "BENCHMARK.json")) as _fh:
    SPEC = json.load(_fh)


def _run(workload: str, trace: int) -> dict:
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", "3", "--seconds", "0", "--trace", str(trace),
           "--sf", "0.001", "--etl-rows", "2000", "--max-passes", "1"]
    proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
    assert proc.returncode == 0, proc.stderr[-3000:]
    return json.loads(proc.stdout.strip().splitlines()[-1])


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", [w["name"] for w in SPEC["workloads"]])
def test_workload_one_pass(workload: str, trace: int) -> None:
    res = _run(workload, trace)
    assert set(res) == {"correct", "attempted", "failed", "metrics"}
    assert res["correct"] is True
    assert res["attempted"] >= 1 and res["failed"] == 0
    wanted = SPEC["per_layer"] if trace else SPEC["end_to_end"]
    for m in wanted:
        assert m["name"] in res["metrics"], m["name"]
        got = res["metrics"][m["name"]]
        assert got["unit"] == m["unit"]
        assert isinstance(got["value"], (int, float))
    assert set(res["metrics"]) == {m["name"] for m in wanted}


def test_refuses_without_the_program() -> None:
    """In a directory holding only the benchmark's files the command
    must fail fast without printing a result."""
    import shutil

    bare = os.path.join(ROOT, ".benchrun", "bare-checkout")
    shutil.rmtree(bare, ignore_errors=True)
    shutil.copytree(HERE, os.path.join(bare, "benchmark"),
                    ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
    proc = subprocess.run(
        [sys.executable, "benchmark/run.py", "--workload", "historyload", "--seed", "1",
         "--seconds", "1", "--trace", "0"],
        cwd=bare, capture_output=True, text=True, timeout=180,
        env={k: v for k, v in os.environ.items() if k != "PYTHONPATH"},
    )
    shutil.rmtree(bare, ignore_errors=True)
    assert proc.returncode != 0
    assert '"correct"' not in proc.stdout

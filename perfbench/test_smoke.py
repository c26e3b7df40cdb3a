"""Smoke test of the benchmark: every workload at sf 0.001 for one
pass, untraced and traced. Every named metric must be present with
its unit, and no operation may fail.

    python -m pytest perfbench/test_smoke.py -q
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

from run import END_TO_END, PER_LAYER  # noqa: E402


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", ["dataprep", "txlog_cdc"])
def test_one_pass(workload: str, trace: int) -> None:
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", "3", "--seconds", "0", "--trace", str(trace),
           "--scale", "0.001"]
    p = subprocess.run(cmd, cwd=os.path.dirname(HERE), capture_output=True,
                       text=True, timeout=600)
    assert p.returncode == 0, p.stderr[-4000:]
    result = json.loads(p.stdout.strip().splitlines()[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["attempted"] >= 1
    assert result["failed"] == 0, p.stdout
    assert result["correct"], p.stdout
    want = PER_LAYER if trace else END_TO_END
    got = {k: v["unit"] for k, v in result["metrics"].items()}
    assert got == want
    for v in result["metrics"].values():
        assert isinstance(v["value"], (int, float))
    if not trace:
        assert all(v["value"] > 0 for v in result["metrics"].values())


def test_refuses_without_engine(tmp_path) -> None:
    """Outside a checkout of the engine the benchmark exits non-zero
    and prints no result."""
    bench = tmp_path / "perfbench"
    bench.mkdir()
    for name in os.listdir(HERE):
        if name.endswith(".py"):
            (bench / name).write_bytes(open(os.path.join(HERE, name), "rb").read())
    p = subprocess.run(
        [sys.executable, str(bench / "run.py"), "--workload", "txlog_cdc",
         "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=180)
    assert p.returncode != 0
    assert '"metrics"' not in p.stdout

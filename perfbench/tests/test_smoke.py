"""Smoke test of the benchmark at sf0.001 tables and a 2k-row survival table.

    python3 -m pytest perfbench/tests -q

Each case starts ``perfbench/run.py`` in its own process (about a minute
each on 4 cores) and reads the JSON result on its last stdout line.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(os.path.dirname(HERE))
sys.path.insert(0, ROOT)

from perfbench import run  # noqa: E402
from perfbench.harness import END_TO_END, per_layer_catalogue  # noqa: E402


def _run(workload: str, trace: int, *extra: str, cwd: str = ROOT) -> tuple[int, str]:
    """Run the benchmark and check that it waited for every process it
    started: this process is made the child subreaper, so a descendant the
    run left behind (the JVM, a Python worker), running or exited, would
    become a child of it."""
    run._become_subreaper()
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "3",
         "--seconds", "1", "--trace", str(trace), "--scale", "smoke", *extra],
        cwd=cwd, capture_output=True, text=True, timeout=600,
    )
    left = run._children()
    assert left == [], f"processes the benchmark did not wait for: {left}"
    return proc.returncode, proc.stdout


def _result(stdout: str) -> dict:
    return json.loads(stdout.strip().splitlines()[-1])


@pytest.mark.parametrize("workload", ["surv_local", "registry_board"])
@pytest.mark.parametrize("trace", [0, 1])
def test_every_named_metric_is_emitted(workload, trace):
    code, out = _run(workload, trace)
    assert code == 0
    res = _result(out)
    assert set(res) == {"correct", "attempted", "failed", "metrics"}
    assert res["correct"] is True and res["failed"] == 0 and res["attempted"] >= 1
    names = ([n for n, _ in END_TO_END] if trace == 0
             else [n for n, _, _ in per_layer_catalogue()])
    assert sorted(res["metrics"]) == sorted(names)
    for m in res["metrics"].values():
        assert isinstance(m["value"], (int, float)) and m["unit"]
    if trace == 0:
        assert all(m["value"] > 0 for m in res["metrics"].values())


def test_raising_row_is_counted_not_fatal():
    code, out = _run("registry_board", 1, "--fail", "km_user_lifetimes")
    assert code == 0
    res = _result(out)
    assert res["failed"] == 1 and res["correct"] is False
    assert res["metrics"]["run.failed_frac"]["value"] == pytest.approx(
        1 / res["attempted"])


def test_refuses_to_run_without_the_program(tmp_path):
    shutil.copytree(os.path.join(ROOT, "perfbench"), tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns(".work", "__pycache__"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path / "BENCHMARK.json")
    code, out = _run("surv_local", 0, cwd=str(tmp_path))
    assert code != 0
    assert out.strip() == ""

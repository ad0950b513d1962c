"""Self-test of the benchmark at smoke size: every workload completes, its
oracles pass, and the result line has the shape BENCHMARK.json promises.

    python3 -m pytest perfbench/test_smoke.py -q
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SPEC = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))


def _run(*args, cwd=ROOT):
    p = subprocess.run(
        [sys.executable, os.path.join(cwd, "perfbench", "run.py"), *args],
        cwd=cwd, capture_output=True, text=True, timeout=600)
    lines = p.stdout.strip().splitlines()
    return p.returncode, (json.loads(lines[-1]) if lines else None), p.stderr


@pytest.mark.parametrize("workload", ["topic_shell", "curate_batch",
                                      "stream_steps", "ingest_epochs"])
@pytest.mark.parametrize("trace", ["0", "1"])
def test_smoke_run(workload, trace):
    rc, out, err = _run("--workload", workload, "--seed", "7", "--seconds",
                        "1", "--trace", trace, "--smoke")
    assert rc == 0, err[-3000:]
    assert set(out) == {"correct", "attempted", "failed", "metrics"}
    assert out["correct"] and out["failed"] == 0, err[-3000:]
    want = SPEC["end_to_end" if trace == "0" else "per_layer"]
    assert set(out["metrics"]) == {m["name"] for m in want}
    if trace == "0":
        assert all(v["value"] > 0 for v in out["metrics"].values())
    else:
        m = {k: v["value"] for k, v in out["metrics"].items()}
        assert m["trace.unattributed_jobs"] == 0
        assert abs(m["trace.self_coverage"] - 1) < 0.1
        assert abs(m["trace.task_cpu_attributed"] - 1) < 0.1


def test_refuses_without_program(tmp_path):
    """In a directory holding only BENCHMARK.json and perfbench/, the
    benchmark exits non-zero and prints no result."""
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(HERE, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    rc, out, _ = _run("--workload", "topic_shell", "--seed", "1",
                      "--seconds", "1", "--trace", "0", cwd=str(tmp_path))
    assert rc != 0 and out is None

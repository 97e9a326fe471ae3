"""Tiny-N smoke test of the benchmark: every workload, untraced and traced.

    python3 -m pytest -q kgbench/smoke.py      # from the repo root

Each case runs kgbench/run.py in a subprocess at 64 pages and checks the
result line against BENCHMARK.json: every op passed its output checks and
every declared metric is present with its unit. Takes a few minutes.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
with open(os.path.join(REPO, "BENCHMARK.json"), encoding="utf-8") as _f:
    SPEC = json.load(_f)
RUN = os.path.join("kgbench", "run.py")


def _run(cwd: str, *args: str) -> subprocess.CompletedProcess:
    return subprocess.run(
        [sys.executable, RUN, "--seed", "3", "--seconds", "1", *args],
        cwd=cwd, capture_output=True, text=True, timeout=600,
    )


@pytest.mark.parametrize("trace", ["0", "1"])
@pytest.mark.parametrize("workload", ["warc_full", "table_concepts"])
def test_workload_reports_every_metric(workload, trace):
    p = _run(REPO, "--workload", workload, "--trace", trace, "--pages", "64")
    assert p.returncode == 0, p.stderr[-2000:]
    res = json.loads(p.stdout.strip().splitlines()[-1])
    assert set(res) == {"correct", "attempted", "failed", "metrics"}
    assert res["correct"] and res["failed"] == 0 and res["attempted"] >= 1
    want = SPEC["per_layer" if trace == "1" else "end_to_end"]
    assert {m["name"]: m["unit"] for m in want} == {
        k: v["unit"] for k, v in res["metrics"].items()
    }
    assert not os.path.exists(os.path.join(REPO, ".kgbench_work"))


def test_fails_without_the_library(tmp_path):
    shutil.copy(os.path.join(REPO, "BENCHMARK.json"), tmp_path)
    shutil.copytree(os.path.join(REPO, "kgbench"), tmp_path / "kgbench")
    p = _run(str(tmp_path), "--workload", "warc_full", "--trace", "0")
    assert p.returncode != 0
    assert "metrics" not in p.stdout

"""Self-test of the benchmark: every workload at its smallest size, in
both modes, reports every declared metric with its unit and passes its
checks; a deliberately corrupted program output is reported as failed;
outside a checkout the benchmark exits non-zero without a result.

    python3 -m pytest perfbench/tests -q

Takes several minutes: each case starts its own Spark driver.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(
    os.path.abspath(__file__))))
sys.path.insert(0, ROOT)

from perfbench import run as bench_run  # noqa: E402

WORKLOADS = [w["name"] for w in json.load(
    open(os.path.join(ROOT, "BENCHMARK.json")))["workloads"]]


def _declared(section: str) -> dict[str, str]:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return {m["name"]: m["unit"] for m in json.load(f)[section]}


def _run(cwd: str, workload: str, trace: int):
    return subprocess.run(
        [sys.executable, os.path.join(cwd, "perfbench", "run.py"),
         "--workload", workload, "--seed", "7", "--seconds", "1",
         "--trace", str(trace), "--small"],
        cwd=cwd, capture_output=True, text=True, timeout=900)


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", WORKLOADS)
def test_every_metric_with_its_unit(workload, trace):
    proc = _run(ROOT, workload, trace)
    assert proc.returncode == 0, proc.stderr[-3000:]
    result = json.loads(proc.stdout.strip().splitlines()[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] is True and result["failed"] == 0
    assert result["attempted"] >= 1
    section = "per_layer" if trace else "end_to_end"
    declared = _declared(section)
    assert set(result["metrics"]) == set(declared)
    for name, m in result["metrics"].items():
        assert m["unit"] == declared[name], name
        assert isinstance(m["value"], float), name
    if not trace:
        assert all(m["value"] > 0 for m in result["metrics"].values())


CORRUPT = """
import sys
from optimizerasters_spark.operators import spatial, text
# drop a few rows from every PIP join and every shard table
pip_join, pack_shards = spatial.pip_join, text.pack_shards
spatial.pip_join = lambda *a, **k: pip_join(*a, **k).where("doc_id % 97 != 7")
text.pack_shards = lambda *a, **k: pack_shards(*a, **k).where(
    "doc_id % 97 != 7")
from perfbench import worker
sys.exit(worker.main(sys.argv[1:]))
"""


@pytest.mark.parametrize("workload", WORKLOADS)
def test_corrupted_output_is_failed(workload):
    work = os.path.join(ROOT, ".perfbench", f"selftest-corrupt-{workload}")
    shutil.rmtree(work, ignore_errors=True)
    out = os.path.join(work, "result.json")
    try:
        proc = subprocess.run(
            [sys.executable, "-c", CORRUPT, "--workload", workload,
             "--seed", "7", "--seconds", "1", "--small", "--work", work,
             "--out", out],
            cwd=ROOT, env=bench_run.worker_env(work, False),
            capture_output=True, text=True, timeout=900)
        assert proc.returncode == 0, proc.stderr[-3000:]
        with open(out) as f:
            result = json.load(f)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:  # another run is using it
            pass
    assert result["correct"] is False
    assert result["failed"] >= 1
    assert result["detail"]["failures"]


def test_refuses_to_run_outside_a_checkout(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(os.path.join(ROOT, "perfbench"), tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    proc = _run(str(tmp_path), WORKLOADS[0], 0)
    assert proc.returncode != 0
    assert proc.stdout.strip() == ""

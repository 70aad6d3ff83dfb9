"""Tiny-size runs of every workload through the command line."""

import json
import os
import shutil
import subprocess
import sys

import pytest

from conftest import BENCH, ROOT

WORKLOADS = ("extract_small_pages", "extract_job_crawl", "curate_corpus")


def _bench():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def _run(cwd, workload, trace, scale="0.05"):
    return subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "3",
         "--seconds", "1", "--trace", str(trace), "--scale", scale],
        cwd=cwd, capture_output=True, text=True, timeout=180,
    )


@pytest.mark.parametrize("workload", WORKLOADS)
def test_traced_smoke_run(workload):
    out = _run(ROOT, workload, 1, "0.25" if workload == "curate_corpus" else "0.05")
    assert out.returncode == 0, out.stderr[-2000:]
    result = json.loads(out.stdout.strip().splitlines()[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] and result["failed"] == 0 and result["attempted"] >= 1
    want = {m["name"]: m["unit"] for m in _bench()["per_layer"]}
    assert {k: v["unit"] for k, v in result["metrics"].items()} == want
    assert "trace.overhead_frac" in out.stdout


def test_untraced_run_prints_every_end_to_end_metric():
    out = _run(ROOT, "extract_small_pages", 0)
    assert out.returncode == 0, out.stderr[-2000:]
    result = json.loads(out.stdout.strip().splitlines()[-1])
    want = {m["name"]: m["unit"] for m in _bench()["end_to_end"]}
    assert {k: v["unit"] for k, v in result["metrics"].items()} == want
    assert all(v["value"] > 0 for v in result["metrics"].values())
    assert "failed_frac" in out.stdout


def test_fails_without_the_program(tmp_path):
    """A directory with only BENCHMARK.json and the benchmark: no result."""
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(BENCH, tmp_path / "perfbench")
    out = _run(tmp_path, "extract_small_pages", 0)
    assert out.returncode != 0
    assert not out.stdout.strip()

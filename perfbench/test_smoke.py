"""Smoke test of the benchmark itself (not of the package).

    python3 -m pytest perfbench/test_smoke.py -q

Every workload runs end to end at the tiny size, untraced and traced, and
must emit every metric BENCHMARK.json names, with its unit. The generators
must repeat byte for byte for one seed and differ across seeds, and the
benchmark must refuse to run without the package beside it.
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
sys.path[:0] = [HERE, ROOT]

import gen  # noqa: E402
import run  # noqa: E402

#: a small stand-in for the fixture documents the dedup index is built on
BASE = [(i, " ".join(gen.VOCAB[(i + j * 7) % len(gen.VOCAB)] for j in range(50)))
        for i in range(20)]


def _run(workload: str, trace: int, cwd: str = ROOT) -> subprocess.CompletedProcess:
    return subprocess.run(
        [sys.executable, os.path.join(cwd, "perfbench", "run.py"),
         "--workload", workload, "--seed", "3", "--seconds", "1",
         "--trace", str(trace), "--tiny"],
        cwd=cwd, capture_output=True, text=True, timeout=900,
    )


@pytest.mark.parametrize("make", [
    lambda d, s: gen.CdcStream(s, 50, 7, 100, 3, 1, 0.02).write(d),
    lambda d, s: gen.DedupStream(s, BASE, 3, 10, 0.3).write(d),
], ids=["cdc", "dedup"])
def test_generators_repeat_per_seed(tmp_path, make):
    digests = []
    for i, seed in enumerate((1, 1, 2)):
        d = str(tmp_path / str(i))
        make(d, seed)
        digests.append(gen.tree_digest(d))
    assert digests[0] == digests[1] != digests[2]


def test_tree_cpu_counts_reaped_children():
    before = run.tree_cpu_s(os.getpid())
    subprocess.run(
        [sys.executable, "-c",
         "import time\nwhile time.process_time() < 0.3:\n    pass"],
        check=True, timeout=60,
    )
    assert run.tree_cpu_s(os.getpid()) - before >= 0.25


def test_permutation_is_seeded():
    names = [f"q{i}" for i in range(16)]
    assert gen.permutation(names, 1, 0) == gen.permutation(names, 1, 0)
    assert gen.permutation(names, 1, 0) != gen.permutation(names, 2, 0)
    assert sorted(gen.permutation(names, 1, 0)) == sorted(names)


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", run.listed_workloads() + run.EXTRA_WORKLOADS)
def test_workload_emits_every_metric(workload, trace):
    out = _run(workload, trace)
    assert out.returncode == 0, out.stderr[-3000:]
    lines = out.stdout.strip().splitlines()
    res = json.loads(lines[-1])
    assert set(res) == {"correct", "attempted", "failed", "metrics"}
    e2e = json.loads(lines[-2])["posture"]["end_to_end"]
    assert {"ops_per_s", "p50_s"} <= set(e2e) and min(e2e.values()) > 0
    assert res["correct"] and res["failed"] == 0 and res["attempted"] >= 1, out.stderr[-3000:]
    want = run.metric_units(bool(trace))
    assert {k: m["unit"] for k, m in res["metrics"].items()} == want
    for k, m in res["metrics"].items():
        assert isinstance(m["value"], (int, float)), k
    if trace == 0:
        assert all(m["value"] > 0 for m in res["metrics"].values())
    else:
        assert res["metrics"]["trace.attributed_frac"]["value"] >= 0.9
    assert not os.path.exists(os.path.join(ROOT, ".perfbench_work"))


def test_refuses_to_run_without_the_package(tmp_path):
    shutil.copytree(HERE, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    out = _run("analytics", 0, cwd=str(tmp_path))
    assert out.returncode != 0
    assert '"metrics"' not in out.stdout

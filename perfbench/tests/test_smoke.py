"""A small end-to-end run of every workload, traced and untraced.

``--smoke`` shrinks every input to a tenth (the read tables to
sf0.001) and keeps its own work directory.  The runs start from a
directory other than the checkout root, as a probe from elsewhere
would.
"""

import json
import subprocess
import sys

import pytest

import metrics
import workloads

from conftest import BENCH, ROOT


def run(workload: str, trace: int, cwd: str) -> dict:
    proc = subprocess.run(
        [sys.executable, f"{BENCH}/run.py", "--workload", workload,
         "--seed", "1", "--seconds", "1", "--trace", str(trace),
         "--smoke"],
        cwd=cwd, capture_output=True, text=True, timeout=600)
    assert proc.returncode == 0, proc.stderr[-3000:]
    return json.loads(proc.stdout.strip().splitlines()[-1])


@pytest.mark.parametrize("workload", sorted(workloads.WORKLOADS))
def test_untraced_smoke(workload, tmp_path):
    out = run(workload, 0, str(tmp_path))
    assert set(out) == {"correct", "attempted", "failed", "metrics"}
    assert out["correct"] and out["failed"] == 0 and out["attempted"] > 0
    assert [(k, v["unit"]) for k, v in out["metrics"].items()] == \
        metrics.END_TO_END
    assert all(v["value"] > 0 for v in out["metrics"].values())


@pytest.mark.parametrize("workload", sorted(workloads.WORKLOADS))
def test_traced_smoke(workload):
    out = run(workload, 1, ROOT)
    assert out["correct"] and out["failed"] == 0
    assert [(k, v["unit"]) for k, v in out["metrics"].items()] == \
        metrics.PER_LAYER
    m = {k: v["value"] for k, v in out["metrics"].items()}
    assert m["exec.jobs"] > 0 and m["exec.tasks"] > 0
    if workload == "ingest_5k":
        assert m["storage.snaptable.merge_s"] > 0
        assert m["sources.avro.read_s"] > 0
        assert m["ext.kernel_ops"] == 0 and m["ext.jvm_ops"] == 0
    else:
        assert m["queries.plan_s"] > 0
        assert m["storage.snaptable.merge_s"] == 0


def test_refuses_without_the_package(tmp_path):
    import shutil
    shutil.copytree(BENCH, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns(".work", "__pycache__"))
    shutil.copy(f"{ROOT}/BENCHMARK.json", tmp_path)
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "query_mix",
         "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=180)
    assert proc.returncode != 0
    assert proc.stdout.strip() == ""

"""Smoke run of every workload at sf0.001: one steady pass each, in both
modes, checking that every metric BENCHMARK.json names is printed with
its unit (and, traced, every workload-specific layer in the report line)
and that every operation passed its output check. Traced curation runs
must also name the dedup_simhash_probe check at sf0.1 among the known
defects of the report line, whether or not it still fails.

Slow (each run starts a JVM): run with ``python -m pytest perfbench/tests``.
"""

import json
import os
import subprocess
import sys

import pytest

from perfbench.reads import KNOWN_DEFECT
from perfbench.report import WORKLOAD_LAYERS

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
    SPEC = json.load(fh)


def run_bench(workload: str, trace: int) -> tuple[dict, dict]:
    cmd = SPEC["command"] + [
        "--workload", workload, "--seed", "7", "--seconds", "0.1",
        "--trace", str(trace), "--sf", "0.001",
    ]
    cmd[0] = sys.executable if cmd[0] == "python3" else cmd[0]
    proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
    assert proc.returncode == 0, proc.stderr[-3000:]
    *_, report, result = proc.stdout.strip().splitlines()
    return json.loads(result), json.loads(report)


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", [w["name"] for w in SPEC["workloads"]])
def test_every_metric_printed_with_its_unit(workload, trace):
    result, report = run_bench(workload, trace)
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["attempted"] >= 1
    assert result["correct"] and result["failed"] == 0, report["failed_ops"]
    assert report["failed_frac"] == 0 and report["failed_ops"] == []
    if trace and workload == "curation_kernels":
        assert f"{KNOWN_DEFECT}@sf0.1" in report["known_defects"]
    spec = SPEC["per_layer"] if trace else SPEC["end_to_end"]
    assert set(result["metrics"]) == {m["name"] for m in spec}
    for m in spec:
        got = result["metrics"][m["name"]]
        assert got["unit"] == m["unit"], m["name"]
        assert isinstance(got["value"], (int, float)), m["name"]
    if trace:
        assert set(report["layers"]) == set(WORKLOAD_LAYERS)

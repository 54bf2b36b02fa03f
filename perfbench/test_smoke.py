"""Smoke test of the benchmark itself, at a tiny scale factor.

    python -m pytest perfbench/test_smoke.py -q

For each workload it makes one untraced and two traced runs of the
workload's minimum timed rounds (several minutes in all). It asserts that
every metric of BENCHMARK.json is printed with its unit, that the outputs
check out, and that the traced job, stage, task and byte counts (and the
ingest's state bytes) repeat exactly.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
TINY_SF = 0.001
COUNTS = ("jobs", "stages", "tasks", "shuffle_write_bytes",
          "input_bytes")


def _run(workload: str, trace: int) -> dict:
    code = (
        "import sys; import perfbench.serve, perfbench.build, perfbench.run; "
        f"perfbench.serve.Serve.SF = perfbench.build.Build.SF = {TINY_SF}; "
        "sys.exit(perfbench.run.main(sys.argv[1:]))"
    )
    proc = subprocess.run(
        [sys.executable, "-c", code, "--workload", workload, "--seed", "3",
         "--seconds", "0", "--trace", str(trace)],
        cwd=ROOT, capture_output=True, text=True, timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    return json.loads(proc.stdout.strip().splitlines()[-1])


def _spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


@pytest.mark.parametrize("workload", ["serve", "build"])
def test_metrics_present_and_counts_repeat(workload):
    spec = _spec()
    plain = _run(workload, 0)
    traced = [_run(workload, 1), _run(workload, 1)]
    for result, names in ((plain, spec["end_to_end"]),
                          (traced[0], spec["per_layer"])):
        assert result["correct"] is True
        assert result["failed"] == 0 and result["attempted"] >= 1
        assert {m["name"]: m["unit"] for m in names} == {
            k: v["unit"] for k, v in result["metrics"].items()
        }
    for m in spec["end_to_end"]:
        assert plain["metrics"][m["name"]]["value"] > 0, m["name"]
    counts = [
        {k: v["value"] for k, v in r["metrics"].items()
         if k.rsplit(".", 1)[-1] in COUNTS or k.endswith(".state_bytes")}
        for r in traced
    ]
    assert counts[0] == counts[1]
    assert any(v > 0 for v in counts[0].values())

"""Smoke test: every workload runs briefly on the small inputs, emits every
metric BENCHMARK.json names with its unit, and passes every correctness
check; a traced run also measures the layers its workload exercises.

    python3 -m pytest perfbench/test_smoke.py -q
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
with open(os.path.join(ROOT, "BENCHMARK.json")) as _fh:
    SPEC = json.load(_fh)

# per-layer metrics that must be non-zero on the workload that exercises them
EXERCISED = {
    "facade_mix": ["api.describe_pipeline.p50_ms", "api.incubation_state.rows",
                   "api.run_single_use.p50_ms", "dispatch.submit_ms", "catalog.cache_mb"],
    "control_loop": ["incubation.add_batch_ms", "incubation.state_rows",
                     "transitions.fires", "sinks.ledger_rows"],
    "corpus_curation": ["dedup.lsh_pairs_s", "dedup.candidates", "dedup.verified_pairs",
                        "components.n_components", "curation.curate_s"],
}


def _run(workload: str, trace: int) -> dict:
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "7",
         "--seconds", "1", "--trace", str(trace), "--scale", "small"],
        cwd=ROOT, capture_output=True, text=True, timeout=300,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    return json.loads(proc.stdout.strip().splitlines()[-1])


@pytest.mark.slow
@pytest.mark.parametrize("workload", [w["name"] for w in SPEC["workloads"]])
@pytest.mark.parametrize("trace", [0, 1])
def test_workload_emits_every_metric_and_passes_checks(workload, trace):
    result = _run(workload, trace)
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] is True
    assert result["failed"] == 0 and result["attempted"] >= 1
    wanted = SPEC["per_layer"] if trace else SPEC["end_to_end"]
    assert {name: m["unit"] for name, m in result["metrics"].items()} == {
        m["name"]: m["unit"] for m in wanted
    }
    if trace:
        for name in EXERCISED[workload] + ["spark.jobs", "spark.tasks", "session.start_s"]:
            assert result["metrics"][name]["value"] > 0, name
        assert result["metrics"]["error_rate"]["value"] == 0
    else:
        for name, m in result["metrics"].items():
            assert m["value"] > 0, name

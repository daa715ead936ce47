"""Smoke test of the benchmark itself, at tiny input sizes.

    python3 -m pytest perfbench/test_smoke.py -q

For each workload, two traced runs with the same seed: both must pass
their output checks, print every metric BENCHMARK.json names (the
end-to-end ones as human-readable lines, the per-layer ones in the
JSON result), and report the same work counts.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
with open(os.path.join(ROOT, "BENCHMARK.json")) as _f:
    SPEC = json.load(_f)

# counts of work done: identical inputs must give identical counts.
# Not the Delta log's files added/removed: how many files a DML call
# writes follows Spark's split packing of the files it scans, whose
# compressed sizes follow the (unordered) row order a shuffle gave them.
# Nor the registry's action jobs, which adaptive execution submits stage
# by stage at run time: two runs of one seed counted 26 and 27.
EXACT = [
    "queries.tbl_calls",
    "queries.build_jobs",
    "plans.jobs",
    "readers.read_union_calls",
    "store.merge_calls",
    "store.merge_jobs",
    "store.files_written",
    "store.merge_recomputes",
    "enrich.transport_calls",
    "deltalog.dv_files_written",
    "deltalog.commit_retries",
]


def _run(workload: str) -> tuple[dict, dict]:
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "7",
         "--seconds", "1", "--trace", "1", "--tiny"],  # fmt: skip
        cwd=ROOT,
        capture_output=True,
        text=True,
        timeout=600,
    )
    lines = proc.stdout.strip().splitlines()
    assert proc.returncode == 0, proc.stdout[-3000:] + proc.stderr[-3000:]
    shown = {}
    for line in lines[:-1]:
        parts = line.split()
        if len(parts) in (2, 3):
            try:
                shown[parts[0]] = float(parts[1])
            except ValueError:
                pass
    return json.loads(lines[-1]), shown


@pytest.mark.parametrize("workload", [w["name"] for w in SPEC["workloads"]])
def test_every_metric_emitted_and_counts_repeat(workload):
    first, shown = _run(workload)
    second, _ = _run(workload)
    for result in (first, second):
        assert result["correct"] is True
        assert result["failed"] == 0 and result["attempted"] >= 1
        assert set(result["metrics"]) == {m["name"] for m in SPEC["per_layer"]}
    for m in SPEC["end_to_end"]:
        assert shown.get(m["name"], 0) > 0, m["name"]
    for name in EXACT:
        assert first["metrics"][name]["value"] == second["metrics"][name]["value"], name

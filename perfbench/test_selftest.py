"""Self-test of the benchmark at toy size: each workload runs a few ops in
both modes, emits every metric BENCHMARK.json names with its unit, and
fails nothing. Takes a few minutes (one Spark start per case).

    python3 perfbench/test_selftest.py      # or: pytest perfbench/test_selftest.py
"""

from __future__ import annotations

import json
import subprocess
import sys
from pathlib import Path

import pytest

ROOT = Path(__file__).resolve().parent.parent
SPEC = json.loads((ROOT / "BENCHMARK.json").read_text())
WORKLOADS = [w["name"] for w in SPEC["workloads"]]


def run_toy(workload: str, trace: int) -> tuple[dict, dict]:
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload,
         "--seed", "7", "--seconds", "1", "--trace", str(trace),
         "--scale", "toy"],
        cwd=ROOT, capture_output=True, text=True, timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-4000:]
    lines = proc.stdout.strip().splitlines()
    return json.loads(lines[-2])["report"], json.loads(lines[-1])


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", WORKLOADS)
def test_toy_run_emits_every_metric(workload: str, trace: int) -> None:
    report, result = run_toy(workload, trace)
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] is True
    assert result["failed"] == 0 and result["attempted"] >= 1
    assert report["failed_frac"] == 0
    kind = "per_layer" if trace else "end_to_end"
    want = {m["name"]: m["unit"] for m in SPEC[kind]}
    got = {k: v["unit"] for k, v in result["metrics"].items()}
    assert got == want
    for name, m in result["metrics"].items():
        assert isinstance(m["value"], float), name
    if not trace:
        assert all(m["value"] > 0 for m in result["metrics"].values())
    descriptor = report["descriptor"]
    assert {"turns", "vocabulary", "top5_df", "sum_df"} <= set(descriptor)
    assert ("term_sharing" if workload == "batch" else "upsert_share") \
        in descriptor
    assert {"steal_s", "load1_start", "load1_end"} <= set(report["noise"])
    if trace:
        spans = json.loads((ROOT / report["trace_file"]).read_text())
        assert {"name", "start", "end", "parent", "op", "self_s"} \
            <= set(spans[0])


if __name__ == "__main__":
    sys.exit(pytest.main([__file__, "-q", "-p", "no:cacheprovider"]))

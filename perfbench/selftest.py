"""Fast self-test of the benchmark.

    python3 perfbench/selftest.py

Runs every workload once untraced and once traced at sf0.001, for a
single pass each, and asserts that each run prints the result line
with every metric BENCHMARK.json names, in its unit, and no failed or
wrong operation. Every end-to-end metric must be non-zero, and so must
every per-layer metric the workload measures (its ``LAYER_METRICS`` and
the common ones), except ``ALWAYS_ZERO``. Exits non-zero on the first
violation.
"""

from __future__ import annotations

import importlib
import json
import os
import subprocess
import sys

from run import COMMON_LAYER_METRICS

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
# counts of failures: 0 on a healthy run
ALWAYS_ZERO = {"spark.failed_tasks", "error_rate"}


def check(workload: str, trace: int, spec: dict) -> None:
    cmd = [
        sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
        "--seed", "7", "--seconds", "0", "--trace", str(trace), "--sf", "0.001",
    ]
    proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
    assert proc.returncode == 0, f"{workload} trace={trace} exited {proc.returncode}:\n{proc.stderr[-3000:]}"
    info, result = (json.loads(line) for line in proc.stdout.strip().splitlines()[-2:])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}, result.keys()
    assert result["attempted"] >= 1 and result["failed"] == 0 and result["correct"], result
    wanted = spec["per_layer" if trace else "end_to_end"]
    got = result["metrics"]
    assert set(got) == {m["name"] for m in wanted}, set(got) ^ {m["name"] for m in wanted}
    for m in wanted:
        assert got[m["name"]]["unit"] == m["unit"], (m["name"], got[m["name"]])
        assert isinstance(got[m["name"]]["value"], (int, float)), m["name"]
    if trace:
        assert got["error_rate"]["value"] == 0, got["error_rate"]
        measured = set(importlib.import_module(workload).LAYER_METRICS) | set(COMMON_LAYER_METRICS)
        assert set(info["not_measured"]) == set(got) - measured, info["not_measured"]
        for name in measured - ALWAYS_ZERO:
            assert got[name]["value"] != 0, (name, got[name])
    else:
        assert got["success_rate"]["value"] == 1, got["success_rate"]
        for m in wanted:
            assert got[m["name"]]["value"] > 0, (m["name"], got[m["name"]])
    print(f"ok {workload} trace={trace} attempted={result['attempted']}", flush=True)


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    for w in spec["workloads"]:
        for trace in (0, 1):
            check(w["name"], trace, spec)
    return 0


if __name__ == "__main__":
    sys.exit(main())

"""Traced self-check of the benchmark at tiny sizes.

Runs each workload twice with ``--trace 1 --tiny`` on one seed and
asserts that:

- every per-layer metric in BENCHMARK.json is reported, with its unit;
- each metric is non-zero on every workload that uses its layer
  (layers.PER_LAYER);
- the counts documented as exact repeat across traced units and across
  two runs of one seed.

Usage (from the repository root): python3 ragbench/selfcheck.py
Exits non-zero on the first failed assertion.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from ragbench.layers import PER_LAYER  # noqa: E402

# counts that must repeat exactly between two runs of one seed
EXACT = [
    "py4j.calls",
    "dedup.closure_rounds",
    "dedup.candidate_pairs",
    "text.chunks",
    "index.partitions",
    "sinks.files_written",
]


def run(workload: str, seed: int) -> tuple[dict, dict]:
    p = subprocess.run(
        [sys.executable, os.path.join(ROOT, "ragbench", "run.py"),
         "--workload", workload, "--seed", str(seed), "--seconds", "3",
         "--trace", "1", "--tiny"],
        cwd=ROOT, capture_output=True, text=True, timeout=300,
    )
    if p.returncode != 0:
        raise SystemExit(f"{workload}: exit {p.returncode}\n{p.stderr[-3000:]}")
    result = json.loads(p.stdout.strip().splitlines()[-1])
    with open(os.path.join(ROOT, "ragbench", "results",
                           f"{workload}-seed{seed}-trace1.json")) as f:
        detail = json.load(f)
    return result, detail


def check(workload: str, result: dict, detail: dict, declared: dict) -> None:
    assert result["correct"], f"{workload}: incorrect output {detail['units']}"
    assert result["failed"] == 0, f"{workload}: {result['failed']} failed units"
    metrics = result["metrics"]
    assert set(metrics) == set(declared), (
        f"{workload}: metrics differ from BENCHMARK.json: "
        f"{sorted(set(metrics) ^ set(declared))}"
    )
    for name, (unit, uses) in PER_LAYER.items():
        m = metrics[name]
        assert m["unit"] == declared[name], f"{name}: unit {m['unit']}"
        if workload in uses:
            assert m["value"] > 0, f"{workload}: {name} is {m['value']}"
    py4j = {u["py4j"] for u in detail["units"] if u["traced"]}
    assert len(py4j) == 1, f"{workload}: py4j calls differ across units: {py4j}"


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        declared = {m["name"]: m["unit"] for m in json.load(f)["per_layer"]}
    assert set(declared) == set(PER_LAYER), "BENCHMARK.json per_layer != layers.PER_LAYER"
    for workload in ("corpus_prep", "rag_search"):
        runs = [run(workload, seed=7) for _ in range(2)]
        for result, detail in runs:
            check(workload, result, detail, declared)
        a, b = (r["metrics"] for r, _ in runs)
        for name in EXACT:
            if a[name]["value"] != b[name]["value"]:
                raise AssertionError(
                    f"{workload}: {name} differs between runs of one seed: "
                    f"{a[name]['value']} != {b[name]['value']}"
                )
        print(f"ok {workload}", flush=True)
    print("selfcheck passed")
    return 0


if __name__ == "__main__":
    sys.exit(main())

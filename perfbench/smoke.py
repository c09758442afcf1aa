#!/usr/bin/env python3
"""Smoke test of the benchmark itself, run from the repository root:

    python3 perfbench/smoke.py

It checks that ``BENCHMARK.json`` lists exactly the metrics ``run.py``
prints, with the same units; that a tiny size of every workload,
untraced and traced, exits 0 and prints every metric by name and unit;
and that a deliberately corrupted output trips the correctness gate
(non-zero exit and ``"correct": false``).  Takes about seven minutes on
4 vCPUs.
"""

from __future__ import annotations

import json
import subprocess
import sys
from pathlib import Path

BENCH = Path(__file__).resolve().parent
ROOT = BENCH.parent
sys.path.insert(0, str(BENCH))

import run  # noqa: E402


def bench(workload: str, trace: int, *extra: str) -> tuple[int, dict]:
    p = subprocess.run(
        [sys.executable, str(BENCH / "run.py"), "--workload", workload,
         "--seed", "7", "--seconds", "1", "--trace", str(trace),
         "--size", "tiny", *extra],
        cwd=ROOT, capture_output=True, text=True, timeout=600)
    lines = p.stdout.strip().splitlines()
    if not lines:
        raise AssertionError(f"{workload}: no output\n{p.stderr[-3000:]}")
    return p.returncode, json.loads(lines[-1])


def expect_metrics(result: dict, wanted: dict[str, str], label: str) -> None:
    got = {k: v["unit"] for k, v in result["metrics"].items()}
    assert got == wanted, f"{label}: metric names/units differ from BENCHMARK.json"
    for k, v in result["metrics"].items():
        assert isinstance(v["value"], (int, float)), f"{label}: {k} is not a number"


def main() -> int:
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    e2e = {m["name"]: m["unit"] for m in spec["end_to_end"]}
    layer = {m["name"]: m["unit"] for m in spec["per_layer"]}
    assert e2e == run.END_TO_END, "BENCHMARK.json end_to_end != run.END_TO_END"
    assert layer == {n: u for n, u, _ in run.per_layer_metrics()}, \
        "BENCHMARK.json per_layer != run.per_layer_metrics()"
    assert [w["name"] for w in spec["workloads"]] == list(run_workloads())

    for w in run_workloads():
        code, res = bench(w, 0)
        assert code == 0 and res["correct"] and res["failed"] == 0, (w, res)
        expect_metrics(res, e2e, f"{w} untraced")
        print(f"ok  {w} untraced: {len(e2e)} metrics", flush=True)

        code, res = bench(w, 1)
        assert code == 0 and res["correct"], (w, res)
        expect_metrics(res, layer, f"{w} traced")
        print(f"ok  {w} traced: {len(layer)} metrics", flush=True)

        code, res = bench(w, 0, "--corrupt")
        assert code != 0 and not res["correct"] and res["failed"] >= 1, (w, res)
        print(f"ok  {w} corrupted output fails the gate", flush=True)
    return 0


def run_workloads() -> list[str]:
    sys.path.insert(0, str(ROOT))
    import workloads

    return list(workloads.WORKLOADS)


if __name__ == "__main__":
    sys.exit(main())

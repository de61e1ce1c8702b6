"""Smoke test of the benchmark itself: every workload at the tiny size, one
round, untraced and traced. Checks that each run exits 0, that its last
stdout line prints every metric BENCHMARK.json names, with its unit, and
that no op failed.

    python3 perfbench/smoke.py
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def run(workload: str, trace: int) -> dict:
    cmd = [
        sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
        "--seed", "7", "--seconds", "1", "--trace", str(trace), "--size", "tiny",
    ]
    p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
    if p.returncode != 0:
        raise SystemExit(f"{workload} trace={trace} exited {p.returncode}:\n{p.stderr[-3000:]}")
    return json.loads(p.stdout.strip().splitlines()[-1])


def main() -> None:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    problems = []
    for workload in (w["name"] for w in spec["workloads"]):
        for trace, declared in ((0, spec["end_to_end"]), (1, spec["per_layer"])):
            result = run(workload, trace)
            where = f"{workload} trace={trace}"
            if set(result) != {"correct", "attempted", "failed", "metrics"}:
                problems.append(f"{where}: result keys {sorted(result)}")
            if result["failed"] != 0 or not result["correct"] or result["attempted"] < 1:
                problems.append(f"{where}: {result['failed']} of {result['attempted']} ops failed")
            want = {m["name"]: m["unit"] for m in declared}
            got = {k: v.get("unit") for k, v in result["metrics"].items()}
            if got != want:
                problems.append(f"{where}: metrics {got} differ from BENCHMARK.json {want}")
            for name, v in result["metrics"].items():
                if not isinstance(v.get("value"), (int, float)):
                    problems.append(f"{where}: {name} has no numeric value")
            print(f"ok {where}: {result['attempted']} ops", flush=True)
    if problems:
        raise SystemExit("\n".join(problems))
    print("smoke test passed")


if __name__ == "__main__":
    main()

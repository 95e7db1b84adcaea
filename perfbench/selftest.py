"""Self-test of the benchmark: every workload, traced and untraced, on a tiny
input with two measured operations. Checks that the result line has exactly
the contract's keys, that the run is correct, and that it prints every metric
``BENCHMARK.json`` names, each with its unit.

Run from the repository root:

    python3 perfbench/selftest.py

Exits 0 when every run passes; prints what failed otherwise.
"""

from __future__ import annotations

import json
import subprocess
import sys

TINY = ["--seed", "7", "--seconds", "1", "--selftest"]


def check_run(workload: str, trace: int, spec: dict) -> list[str]:
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload,
         "--trace", str(trace), *TINY],
        capture_output=True, text=True, timeout=600,
    )
    where = f"{workload} --trace {trace}"
    if proc.returncode != 0:
        return [f"{where}: exit {proc.returncode}: {proc.stderr[-2000:]}"]
    result = json.loads(proc.stdout.strip().splitlines()[-1])
    errors = []
    if set(result) != {"correct", "attempted", "failed", "metrics"}:
        errors.append(f"{where}: result keys {sorted(result)}")
    if result.get("correct") is not True or result.get("failed") != 0:
        errors.append(f"{where}: not correct: {result.get('failed')} failed")
    if result.get("attempted") != 2:
        errors.append(f"{where}: attempted {result.get('attempted')}, want 2")
    want = {m["name"]: m["unit"] for m in spec["per_layer" if trace else "end_to_end"]}
    got = {k: v.get("unit") for k, v in result.get("metrics", {}).items()}
    if got != want:
        missing = sorted(set(want) - set(got))
        extra = sorted(set(got) - set(want))
        units = sorted(k for k in set(want) & set(got) if want[k] != got[k])
        errors.append(
            f"{where}: metrics differ: missing {missing}, extra {extra}, "
            f"wrong unit {units}"
        )
    for k, v in result.get("metrics", {}).items():
        if not isinstance(v.get("value"), (int, float)):
            errors.append(f"{where}: {k} has no numeric value")
    return errors


def main() -> int:
    with open("BENCHMARK.json") as fh:
        spec = json.load(fh)
    errors = []
    for w in spec["workloads"]:
        for trace in (0, 1):
            errors += check_run(w["name"], trace, spec)
            print(f"{w['name']} --trace {trace}: done", flush=True)
    for e in errors:
        print("FAIL", e)
    print("selftest", "failed" if errors else "passed")
    return 1 if errors else 0


if __name__ == "__main__":
    sys.exit(main())

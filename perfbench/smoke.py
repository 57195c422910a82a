"""Smoke check of the benchmark itself, on the tiny sf0.001 corpus.

    python3 perfbench/smoke.py

Runs every workload briefly, untraced and traced, and checks that the last
stdout line names every metric of BENCHMARK.json with its unit, that no
query failed, and that the benchmark refuses to run (non-zero exit, no
result line) in a directory holding only BENCHMARK.json and perfbench/.
Takes about five minutes on 4 cores.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
RESULT_KEYS = {"correct", "attempted", "failed", "metrics"}


def run(cwd: str, workload: str, trace: int) -> subprocess.CompletedProcess:
    return subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "7",
         "--seconds", "1", "--trace", str(trace), "--scale", "sf0.001"],
        cwd=cwd, capture_output=True, text=True, timeout=600,
    )


def check_result(proc, declared: list, workload: str, trace: int) -> list[str]:
    where = f"{workload} --trace {trace}"
    if proc.returncode != 0:
        return [f"{where}: exit {proc.returncode}\n{proc.stderr[-2000:]}"]
    result = json.loads(proc.stdout.strip().splitlines()[-1])
    errors = []
    if set(result) != RESULT_KEYS:
        errors.append(f"{where}: result keys {sorted(result)}")
    if not result["correct"] or result["failed"] != 0 or result["attempted"] < 1:
        errors.append(f"{where}: {result['failed']} of {result['attempted']} queries failed")
    got = result["metrics"]
    for m in declared:
        if m["name"] not in got:
            errors.append(f"{where}: metric {m['name']} missing")
        elif got[m["name"]]["unit"] != m["unit"]:
            errors.append(f"{where}: metric {m['name']} unit {got[m['name']]['unit']!r}")
        elif not isinstance(got[m["name"]]["value"], (int, float)):
            errors.append(f"{where}: metric {m['name']} value {got[m['name']]['value']!r}")
    if "ok_ratio" in got and got["ok_ratio"]["value"] != 1.0:
        errors.append(f"{where}: ok_ratio {got['ok_ratio']['value']}")
    return errors


def check_bare_directory() -> list[str]:
    bare = os.path.join(HERE, ".work", "bare")
    shutil.rmtree(bare, ignore_errors=True)
    os.makedirs(bare)
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
    shutil.copytree(HERE, os.path.join(bare, "perfbench"),
                    ignore=shutil.ignore_patterns(".work", "__pycache__"))
    proc = run(bare, "batch", 0)
    shutil.rmtree(bare)
    if proc.returncode == 0 or proc.stdout.strip():
        return [f"bare directory: exit {proc.returncode}, stdout {proc.stdout[-200:]!r}"]
    return []


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    errors = check_bare_directory()
    for w in spec["workloads"]:
        for trace, key in ((0, "end_to_end"), (1, "per_layer")):
            errors += check_result(run(ROOT, w["name"], trace), spec[key], w["name"], trace)
            print(f"smoke: {w['name']} --trace {trace} done", flush=True)
    for e in errors:
        print("smoke: FAIL", e)
    print("smoke: ok" if not errors else f"smoke: {len(errors)} failures")
    return 1 if errors else 0


if __name__ == "__main__":
    sys.exit(main())

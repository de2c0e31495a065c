"""Smoke check of the harness at a tiny input size (sf0.001).

    python3 perfbench/smoke.py

Run it from the root of a checkout. For every workload in BENCHMARK.json
it runs run.py once untraced and once traced, and fails unless the last
line is a result in which every metric BENCHMARK.json names for that mode
is present with its unit, nothing else is, and no op failed. It also
checks that run.py refuses to run where the engine package is missing.
Takes about five minutes on four cores.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
import tempfile

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def run(cwd: str, workload: str, trace: int) -> subprocess.CompletedProcess:
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "7",
           "--seconds", "1", "--trace", str(trace), "--sf", "0.001"]
    return subprocess.run(cmd, cwd=cwd, capture_output=True, text=True, timeout=600)


def check_result(bench: dict, workload: str, trace: int) -> list[str]:
    proc = run(ROOT, workload, trace)
    where = f"{workload} --trace {trace}"
    if proc.returncode != 0:
        return [f"{where}: exit {proc.returncode}\n{proc.stderr[-2000:]}"]
    res = json.loads(proc.stdout.strip().splitlines()[-1])
    errors = []
    if set(res) != {"correct", "attempted", "failed", "metrics"}:
        errors.append(f"{where}: result keys {sorted(res)}")
    if not (res["correct"] and res["failed"] == 0 and res["attempted"] >= 1):
        errors.append(f"{where}: correct={res['correct']} failed={res['failed']}"
                      f" attempted={res['attempted']}")
    want = {m["name"]: m["unit"] for m in bench["per_layer" if trace else "end_to_end"]}
    got = {k: v.get("unit") for k, v in res["metrics"].items()}
    if got != want:
        missing = sorted(set(want) - set(got))
        extra = sorted(set(got) - set(want))
        wrong = sorted(k for k in set(want) & set(got) if want[k] != got[k])
        errors.append(f"{where}: missing {missing}, unexpected {extra}, wrong unit {wrong}")
    bad = [k for k, v in res["metrics"].items() if not isinstance(v.get("value"), (int, float))]
    if bad:
        errors.append(f"{where}: non-numeric values {bad}")
    return errors


def check_refuses_without_package() -> list[str]:
    """In a directory holding only BENCHMARK.json and perfbench/, run.py
    must exit non-zero without printing a result."""
    with tempfile.TemporaryDirectory(dir=ROOT, prefix=".perfbench_smoke_") as d:
        shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), d)
        shutil.copytree(HERE, os.path.join(d, "perfbench"),
                        ignore=shutil.ignore_patterns("__pycache__"))
        proc = run(d, "pgq_interactive", 0)
    if proc.returncode == 0 or proc.stdout.strip():
        return [f"bare directory: exit {proc.returncode}, stdout {proc.stdout[-200:]!r}"]
    return []


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    errors = check_refuses_without_package()
    for w in bench["workloads"]:
        for trace in (0, 1):
            errors += check_result(bench, w["name"], trace)
            print(f"smoke: {w['name']} --trace {trace} done", file=sys.stderr, flush=True)
    for e in errors:
        print(f"FAIL {e}", file=sys.stderr)
    print("smoke: ok" if not errors else f"smoke: {len(errors)} failure(s)")
    return 1 if errors else 0


if __name__ == "__main__":
    sys.exit(main())

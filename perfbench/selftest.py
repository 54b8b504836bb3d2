#!/usr/bin/env python3
"""Self-test of the benchmark at its smallest size.

    python3 perfbench/selftest.py

Run from the repository root. For every workload in BENCHMARK.json and
both trace settings it runs ``run.py --smoke`` (two queries per
workload, the sf0.001 TPC-H fixture, one-second runs) and checks that
the last stdout line is the result object, that every query passed its
oracle check, and that the metric names and units are exactly those
BENCHMARK.json declares. It then checks that the benchmark refuses to
run, without printing a result, in a directory that holds only
BENCHMARK.json and the benchmark's own files. Exits 0 when all pass.
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
RESULT_KEYS = {"correct", "attempted", "failed", "metrics"}


def run(cwd: str, workload: str, trace: int) -> subprocess.CompletedProcess:
    cmd = [
        sys.executable, os.path.join("perfbench", "run.py"),
        "--workload", workload, "--seed", "7", "--seconds", "1",
        "--trace", str(trace), "--smoke",
    ]
    return subprocess.run(cmd, cwd=cwd, capture_output=True, text=True, timeout=300)


def check_result(spec: dict, workload: str, trace: int) -> list[str]:
    proc = run(ROOT, workload, trace)
    where = f"{workload} --trace {trace}"
    if proc.returncode != 0:
        return [f"{where}: exit {proc.returncode}: {proc.stderr[-2000:]}"]
    lines = proc.stdout.strip().splitlines()
    result = json.loads(lines[-1]) if lines else {}
    errors = []
    if set(result) != RESULT_KEYS:
        errors.append(f"{where}: result keys {sorted(result)}")
        return errors
    if result["correct"] is not True or result["failed"] != 0:
        errors.append(f"{where}: not correct: {proc.stderr[-2000:]}")
    if not isinstance(result["attempted"], int) or result["attempted"] < 1:
        errors.append(f"{where}: attempted {result['attempted']!r}")
    declared = spec["per_layer" if trace else "end_to_end"]
    want = {m["name"]: m["unit"] for m in declared}
    got = {k: v.get("unit") for k, v in result["metrics"].items()}
    if got != want:
        errors.append(f"{where}: metrics {got} != BENCHMARK.json {want}")
    for name, m in result["metrics"].items():
        if not isinstance(m.get("value"), (int, float)):
            errors.append(f"{where}: {name} value {m.get('value')!r}")
    return errors


def check_bare_directory(spec: dict) -> list[str]:
    """The benchmark alone, without the program, must fail cleanly."""
    bare = tempfile.mkdtemp(prefix="bare-", dir=os.path.join(ROOT, ".perfbench"))
    try:
        shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
        for path in spec["paths"]:
            shutil.copytree(
                os.path.join(ROOT, path), os.path.join(bare, path),
                ignore=shutil.ignore_patterns("__pycache__"),
            )
        proc = run(bare, spec["workloads"][0]["name"], 0)
    finally:
        shutil.rmtree(bare, ignore_errors=True)
    errors = []
    if proc.returncode == 0:
        errors.append("bare directory: exit 0")
    if '"metrics"' in proc.stdout:
        errors.append("bare directory: printed a result")
    return errors


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    os.makedirs(os.path.join(ROOT, ".perfbench"), exist_ok=True)
    errors = []
    for w in spec["workloads"]:
        for trace in (0, 1):
            errs = check_result(spec, w["name"], trace)
            print(f"{w['name']} --trace {trace}: {'ok' if not errs else 'FAIL'}")
            errors += errs
    errs = check_bare_directory(spec)
    print(f"bare directory: {'ok' if not errs else 'FAIL'}")
    errors += errs
    for e in errors:
        print(e, file=sys.stderr)
    return 1 if errors else 0


if __name__ == "__main__":
    sys.exit(main())

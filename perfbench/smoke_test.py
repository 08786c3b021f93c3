"""Smoke test of the benchmark at tiny sizes.

    python3 perfbench/smoke_test.py            # every workload, both modes
    python3 perfbench/smoke_test.py tail_mor_mirror

Run from the root of a checkout.  For each workload it runs ``run.py`` at
``--scale 0.1 --seconds 1`` untraced and traced, and checks that the last
stdout line is the result object, that the run is correct with no failed
operation, and that every metric ``BENCHMARK.json`` names is emitted with
its unit (end-to-end metrics untraced, per-layer metrics traced).  Last, it
checks that the benchmark refuses to run, without a result, in a directory
holding only ``BENCHMARK.json`` and the benchmark's own files.  About four
minutes on 4 cores.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def run(cwd: str, workload: str, trace: int) -> subprocess.CompletedProcess:
    return subprocess.run(
        [sys.executable, os.path.join(cwd, "perfbench", "run.py"), "--workload", workload,
         "--seed", "11", "--seconds", "1", "--trace", str(trace), "--scale", "0.1"],
        cwd=cwd, capture_output=True, text=True, timeout=300,
    )


def check_run(spec: dict, workload: str, trace: int) -> list:
    p = run(ROOT, workload, trace)
    where = f"{workload} --trace {trace}"
    if p.returncode != 0:
        return [f"{where}: exit {p.returncode}\n{p.stderr[-2000:]}"]
    result = json.loads(p.stdout.strip().splitlines()[-1])
    problems = []
    if set(result) != {"correct", "attempted", "failed", "metrics"}:
        problems.append(f"{where}: result keys {sorted(result)}")
    if not result["correct"] or result["failed"] or result["attempted"] < 1:
        problems.append(f"{where}: correct={result['correct']} attempted={result['attempted']} failed={result['failed']}")
    want = {m["name"]: m["unit"] for m in spec["per_layer" if trace else "end_to_end"]}
    got = {k: v["unit"] for k, v in result["metrics"].items()}
    if got != want:
        missing = sorted(set(want) - set(got))
        extra = sorted(set(got) - set(want))
        units = sorted(k for k in set(want) & set(got) if want[k] != got[k])
        problems.append(f"{where}: missing {missing}, unexpected {extra}, wrong unit {units}")
    for k, v in result["metrics"].items():
        if not isinstance(v["value"], (int, float)):
            problems.append(f"{where}: {k} is not a number")
    return problems


def check_refuses_without_program() -> list:
    """The benchmark alone, without the package it measures, must fail."""
    bare = os.path.join(HERE, "_runs", "smoke-bare")
    shutil.rmtree(bare, ignore_errors=True)
    try:
        os.makedirs(bare)
        shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
        shutil.copytree(HERE, os.path.join(bare, "perfbench"),
                        ignore=shutil.ignore_patterns("_runs", "__pycache__"))
        p = run(bare, "tail_mor_mirror", 0)
        last = p.stdout.strip().splitlines()[-1:] if p.stdout.strip() else []
        if p.returncode == 0 or any(line.startswith("{") for line in last):
            return [f"bare directory: exit {p.returncode}, stdout tail {last}"]
        return []
    finally:
        shutil.rmtree(bare, ignore_errors=True)


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    names = sys.argv[1:] or [w["name"] for w in spec["workloads"]]
    problems = check_refuses_without_program()
    for workload in names:
        for trace in (0, 1):
            problems += check_run(spec, workload, trace)
            print(f"{workload} --trace {trace}: done", flush=True)
    for p in problems:
        print("FAIL", p)
    print("smoke test", "failed" if problems else "passed")
    return 1 if problems else 0


if __name__ == "__main__":
    sys.exit(main())

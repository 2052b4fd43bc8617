#!/usr/bin/env python3
"""Smoke-size self-test of the benchmark.

    python3 perfbench/selftest.py

Checks the format of BENCHMARK.json, then runs every
workload at the smoke size, untraced and traced, and asserts that each
run exits 0, prints a result line with exactly the four result keys, checks
its outputs without a failure, and emits every metric BENCHMARK.json names
for that mode with its unit. A run whose every measured operation throws
(--fault) must end on its own and report the failures in `failed`, not
hang or lose its result. Finally it runs the benchmark in a directory
holding only BENCHMARK.json and the benchmark's own files, where it must
fail without printing a result. Takes a few minutes (the first build
included).
"""
import json
import math
import os
import re
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
UNIT = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")


def check_spec(spec):
    assert set(spec) == {"command", "paths", "run_seconds", "workloads", "end_to_end", "per_layer"}
    assert 1 <= spec["run_seconds"] <= 60 and isinstance(spec["run_seconds"], int)
    assert 2 <= len(spec["workloads"]) <= 8
    names = []
    for w in spec["workloads"]:
        assert set(w) == {"name", "why"} and len(w["why"]) <= 200 and "\n" not in w["why"]
        names.append(w["name"])
    for m in spec["end_to_end"]:
        assert set(m) == {"name", "unit", "better", "bound"} and 0 < m["bound"] <= 0.25
    for m in spec["per_layer"]:
        assert set(m) == {"name", "unit", "better"}
    for m in spec["end_to_end"] + spec["per_layer"]:
        assert UNIT.match(m["unit"]) and m["better"] in ("lower", "higher")
        names.append(m["name"])
    assert all(NAME.match(n) for n in names) and len(names) == len(set(names)), names
    setup = [m for m in spec["end_to_end"] if m["name"] == "setup_s"]
    assert setup and setup[0]["unit"] == "s" and setup[0]["better"] == "lower"
    assert setup[0]["bound"] == max(m["bound"] for m in spec["end_to_end"])


def run(cwd, workload, trace, *extra):
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "7",
           "--seconds", "2", "--trace", str(trace), "--size", "smoke", *extra]
    return subprocess.run(cmd, cwd=cwd, stdout=subprocess.PIPE, stderr=subprocess.PIPE,
                          text=True, timeout=900)


def check_run(spec, workload, trace):
    r = run(ROOT, workload, trace)
    assert r.returncode == 0, r.stderr[-3000:]
    result = json.loads(r.stdout.strip().splitlines()[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] is True and result["failed"] == 0 and result["attempted"] >= 1, \
        r.stdout[-2000:]
    wanted = spec["per_layer"] if trace else spec["end_to_end"]
    assert set(result["metrics"]) == {m["name"] for m in wanted}
    for m in wanted:
        got = result["metrics"][m["name"]]
        assert got["unit"] == m["unit"], (m, got)
        assert isinstance(got["value"], (int, float)) and math.isfinite(got["value"]), (m, got)
        if not trace:
            assert got["value"] > 0, (m, got)
    print(f"ok  {workload} trace={trace}: {len(wanted)} metrics, "
          f"{result['attempted']} checked outcomes")


def check_fault(spec, workload):
    r = run(ROOT, workload, 0, "--fault")
    assert r.returncode == 0, r.stderr[-3000:]
    result = json.loads(r.stdout.strip().splitlines()[-1])
    assert result["correct"] is False and result["failed"] >= 1, r.stdout[-2000:]
    assert result["attempted"] >= result["failed"], result
    assert set(result["metrics"]) == {m["name"] for m in spec["end_to_end"]}
    print(f"ok  {workload} with failing operations: {result['failed']} of "
          f"{result['attempted']} outcomes failed")


def check_bare_dir(workload):
    """Only BENCHMARK.json and the benchmark's sources: no program to build."""
    bare = os.path.join(HERE, "work", "bare")
    shutil.rmtree(bare, ignore_errors=True)
    shutil.copytree(HERE, os.path.join(bare, "perfbench"),
                    ignore=shutil.ignore_patterns("target", "work", "__pycache__"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
    try:
        r = run(bare, workload, 0)
        lines = r.stdout.strip().splitlines()
        assert r.returncode != 0 and not (lines and lines[-1].startswith("{")), r.stdout
    finally:
        shutil.rmtree(bare, ignore_errors=True)
    print("ok  a directory without the program fails without a result")


def main():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    check_spec(spec)
    print("ok  BENCHMARK.json")
    for w in spec["workloads"]:
        for trace in (0, 1):
            check_run(spec, w["name"], trace)
        check_fault(spec, w["name"])
    check_bare_dir(spec["workloads"][0]["name"])


if __name__ == "__main__":
    main()

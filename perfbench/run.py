#!/usr/bin/env python3
"""Benchmark of the product DAG, end to end and per layer.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>
                             [--size full|smoke] [--fault]

Run from the root of a checkout. Builds the program and the benchmark
(perfbench/build.py), generates the workload's inputs from the seed in
one process (perfbench.Gen), runs the workload for the given seconds in
another (perfbench.Main), and prints as the last stdout line one JSON
object: {"correct", "attempted", "failed", "metrics"}. With --trace 0 the
metrics are BENCHMARK.json's end_to_end list, with --trace 1 its
per_layer list. The full run record (host, foreign CPU, spans, per-run
detail) is kept under perfbench/work/results/. --fault makes every
operation of the measurement window throw: the self-test's check that a
failing program is reported as failed operations.
"""
import argparse
import json
import math
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
import build  # noqa: E402

WORKLOADS = ["history_daily", "stream_serve"]
RUN_TIMEOUT_S = 170


def fail(msg, code=1):
    print(f"[perfbench] {msg}", file=sys.stderr)
    sys.exit(code)


def run_proc(cmd, deadline, capture):
    """Runs cmd in its own process group; kills the group at the deadline."""
    p = subprocess.Popen(cmd, stdout=subprocess.PIPE if capture else subprocess.DEVNULL,
                         text=True, start_new_session=True, cwd=ROOT)
    try:
        out, _ = p.communicate(timeout=max(1.0, deadline - time.time()))
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, 9)
        p.wait()
        fail(f"timed out: {' '.join(cmd[:1] + cmd[-12:])}")
    except BaseException:
        os.killpg(p.pid, 9)
        p.wait()
        raise
    if p.returncode != 0:
        fail(f"exit {p.returncode}: {' '.join(cmd[-12:])}")
    return out


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", required=True, choices=["0", "1"])
    ap.add_argument("--size", default="full", choices=["full", "smoke"])
    ap.add_argument("--fault", action="store_true")
    a = ap.parse_args()
    # a terminated run still stops the JVM it started (see run_proc)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    try:
        with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
            spec = json.load(f)
        jar = build.build()
        cp = build.classpath()
        archive = build.run_flags()
    except (OSError, ValueError, build.BuildError) as e:
        fail(f"cannot build: {e}", 2)
    deadline = time.time() + RUN_TIMEOUT_S

    work = os.path.join(HERE, "work", f"{a.workload}-s{a.seed}-t{a.trace}-{os.getpid()}")
    inputs, run_dir = os.path.join(work, "in"), os.path.join(work, "run")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(run_dir)
    try:
        t0 = time.time()
        run_proc(["java", "-Xmx1g", "-cp", cp, "perfbench.Gen",
                  a.workload, str(a.seed), a.size, inputs], deadline, capture=False)
        gen_s = time.time() - t0
        jvm = ["java"] + build.spark_jvm(work, archive)
        out = run_proc(jvm + ["-cp", cp, "perfbench.Main", "--workload", a.workload,
                              "--seconds", str(a.seconds), "--trace", a.trace,
                              "--in", inputs, "--work", run_dir, "--size", a.size,
                              "--fault", "1" if a.fault else "0"],
                       deadline, capture=True)
        lines = [l for l in out.splitlines() if l.strip()]
        if not lines:
            fail("no result from the benchmark run")
        result = json.loads(lines[-1])
        with open(os.path.join(run_dir, "artifact.json")) as f:
            artifact = json.load(f)
    finally:
        shutil.rmtree(inputs, ignore_errors=True)

    artifact.update(seed=a.seed, trace=int(a.trace), size=a.size, seconds=a.seconds,
                    gen_s=round(gen_s, 3), jar=os.path.relpath(jar, ROOT))
    results = os.path.join(HERE, "work", "results")
    os.makedirs(results, exist_ok=True)
    record = os.path.join(results, f"{a.workload}-s{a.seed}-t{a.trace}.json")
    with open(record, "w") as f:
        json.dump(artifact, f, indent=1)
    shutil.rmtree(work, ignore_errors=True)

    wanted = spec["per_layer"] if a.trace == "1" else spec["end_to_end"]
    metrics = {}
    for m in wanted:
        got = result["metrics"].get(m["name"])
        if got is None or got["unit"] != m["unit"] or not isinstance(got["value"], (int, float)) \
                or not math.isfinite(got["value"]):
            fail(f"metric {m['name']} missing or malformed: {got}", 3)
        metrics[m["name"]] = got
    for l in lines[:-1]:
        print(l)
    host = artifact["host"]
    if host.get("flagged"):
        print(f"[perfbench] CONTAMINATED: {host['foreign_cores']} foreign cores busy on average "
              f"over the run ({host['cores']} cores)")
    if artifact["failures"]:
        print("[perfbench] failures: " + "; ".join(artifact["failures"][:5]))
    print(f"[perfbench] record: {os.path.relpath(record, ROOT)}")
    print(json.dumps({"correct": bool(result["correct"]), "attempted": int(result["attempted"]),
                      "failed": int(result["failed"]), "metrics": metrics}))


if __name__ == "__main__":
    main()

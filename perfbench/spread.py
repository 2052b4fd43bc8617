#!/usr/bin/env python3
"""Run-to-run spread of the benchmark, and the tracing overhead.

    python3 perfbench/spread.py [--runs 10] [--seed0 100] [--workloads a,b]
                                [--traced] [--out FILE]

Runs every (or the named) workload --runs times with seeds seed0,
seed0+1, ..., untraced, for BENCHMARK.json's run_seconds. For each
end-to-end metric it reports the median and the spread: the distance
between the first and third quartile (statistics.quantiles, n=4) as a
share of the median, beside a third of the metric's bound. With --traced
it adds one traced run per workload and sets its trace.op_p50_ms,
trace.op_tail_ms and trace.work_per_s beside the untraced medians: the
tracing overhead.
--out writes every run's result and the summary as JSON.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def bench(workload, seed, seconds, trace):
    t0 = time.time()
    r = subprocess.run([sys.executable, "perfbench/run.py", "--workload", workload,
                        "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)],
                       cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True)
    wall = time.time() - t0
    lines = r.stdout.strip().splitlines()
    if r.returncode != 0 or not lines:
        return {"seed": seed, "wall_s": wall, "error": r.returncode}
    record = os.path.join(HERE, "work", "results", f"{workload}-s{seed}-t{trace}.json")
    with open(record) as f:
        rec = json.load(f)
    return {"seed": seed, "wall_s": round(wall, 1), "gen_s": rec["gen_s"], "host": rec["host"],
            **json.loads(lines[-1])}


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--seed0", type=int, default=100)
    ap.add_argument("--workloads")
    ap.add_argument("--traced", action="store_true")
    ap.add_argument("--out")
    a = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    names = a.workloads.split(",") if a.workloads else [w["name"] for w in spec["workloads"]]
    summary = {}
    for w in names:
        runs = [bench(w, a.seed0 + k, spec["run_seconds"], 0) for k in range(a.runs)]
        ok = [r for r in runs if "metrics" in r]
        s = {"runs": runs, "metrics": {}, "failed_runs": len(runs) - len(ok),
             "incorrect_runs": sum(1 for r in ok if not r["correct"] or r["failed"]),
             "flagged_runs": sum(1 for r in ok if r["host"].get("flagged")),
             "mean_wall_s": round(statistics.mean(r["wall_s"] for r in runs), 1)}
        for m in spec["end_to_end"]:
            vals = [r["metrics"][m["name"]]["value"] for r in ok]
            if len(vals) < 2:
                continue
            q1, med, q3 = statistics.quantiles(vals, n=4)
            spread = (q3 - q1) / statistics.median(vals)
            s["metrics"][m["name"]] = {"median": statistics.median(vals), "spread": round(spread, 4),
                                       "third_of_bound": round(m["bound"] / 3, 4),
                                       "steady": spread < m["bound"] / 3}
            print(f"{w:16s} {m['name']:14s} median {statistics.median(vals):12.3f} "
                  f"spread {spread:6.3f}  (bound/3 {m['bound'] / 3:.3f})"
                  f"{'' if spread < m['bound'] / 3 else '  NOT STEADY'}")
        print(f"{w:16s} {len(ok)}/{len(runs)} runs ok, {s['incorrect_runs']} incorrect, "
              f"{s['flagged_runs']} flagged, mean wall {s['mean_wall_s']} s")
        if a.traced:
            t = bench(w, a.seed0, spec["run_seconds"], 1)
            s["traced"] = t
            if "metrics" in t:
                for e2e, traced in (("op_p50_ms", "trace.op_p50_ms"), ("op_tail_ms", "trace.op_tail_ms"),
                                    ("work_per_s", "trace.work_per_s")):
                    base = s["metrics"][e2e]["median"]
                    v = t["metrics"][traced]["value"]
                    s["metrics"][e2e]["traced"] = v
                    s["metrics"][e2e]["tracing_overhead"] = round(v / base - 1, 4)
                    print(f"{w:16s} {e2e:14s} traced {v:12.3f} vs untraced median {base:12.3f} "
                          f"({v / base - 1:+.1%})")
        summary[w] = s
    if a.out:
        with open(a.out, "w") as f:
            json.dump(summary, f, indent=1)


if __name__ == "__main__":
    main()

#!/usr/bin/env python3
"""Paired A/B of the benchmark: a parent revision against this checkout.

    python3 tools/ab_perfbench.py --workload stream_serve --seeds 1-10 --parent HEAD~1 [--trace 0|1]

Exports the parent revision with `git archive` into a temporary directory,
builds both trees with their own unmodified perfbench/build.py, then runs
the unmodified perfbench/run.py once per seed on each tree, alternating
which side runs first (parent first on even pair indices, change first on
odd). The change is the working tree of this checkout, uncommitted edits
included. Run length is BENCHMARK.json's run_seconds on both sides.

Prints every run's result line as it lands, with the stolen cores
(`host.steal_cores`) and the `flagged` mark of that run's record
(perfbench/work/results/<workload>-s<seed>-t<trace>.json in the side's
tree), then per metric: the median and quartiles of each side, the
relative delta of the medians, the parent's interquartile distance
relative to its median, the pairs the change won (ties count for
neither side) and a verdict; then, for untraced runs, each side's median
micro-batch duration over the `detail.batch_ms` of its records (the
per-batch time behind a `work_per_s` move); then each side's correct
runs, failed/attempted operations and flagged runs.

The verdict has two parts. "claim met" means the change's median is
better, the change won at least nine tenths of the pairs, and the
medians differ by more than the parent's interquartile distance;
otherwise "no claim". For a metric with a `bound` in BENCHMARK.json,
"within bound" means the change's median is not worse than the parent's
by more than that fraction of it; otherwise "OUT OF BOUND".
"""
import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import tempfile

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def parse_seeds(spec):
    seeds = []
    for part in spec.split(","):
        lo, _, hi = part.partition("-")
        seeds += list(range(int(lo), int(hi or lo) + 1))
    return seeds


def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0]
    q = statistics.quantiles(xs, n=4, method="inclusive")
    return q[0], q[2]


def verdict(metric, pm, cm, p1, p3, wins, pairs):
    """Whether a gain can be claimed and whether the change keeps the bound."""
    lower = metric["better"] == "lower"
    better = cm < pm if lower else cm > pm
    claim = better and wins * 10 >= 9 * pairs and abs(cm - pm) > p3 - p1
    out = "claim met" if claim else "no claim"
    bound = metric.get("bound")
    if bound is not None and pm:
        worse = (cm - pm if lower else pm - cm) / abs(pm)
        out += ", within bound" if worse <= bound else ", OUT OF BOUND"
    return out


def build(tree):
    r = subprocess.run([sys.executable, "perfbench/build.py"], cwd=tree,
                       stdout=subprocess.PIPE, text=True)
    if r.returncode != 0:
        sys.exit(f"[ab] build failed in {tree}")


def run(tree, workload, seed, seconds, trace):
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", str(seed),
           "--seconds", str(seconds), "--trace", str(trace)]
    r = subprocess.run(cmd, cwd=tree, stdout=subprocess.PIPE, text=True)
    lines = [l for l in r.stdout.splitlines() if l.strip()]
    try:
        got = json.loads(lines[-1]) if r.returncode == 0 else None
    except (IndexError, ValueError):
        return None
    if got is not None:
        got["host"], got["batch_ms"] = record_of(tree, workload, seed, trace)
    return got


def record_of(tree, workload, seed, trace):
    """Stolen cores and the flagged mark, and the micro-batch durations,
    from the run's record."""
    record = os.path.join(tree, "perfbench", "work", "results",
                          f"{workload}-s{seed}-t{trace}.json")
    try:
        with open(record) as f:
            rec = json.load(f)
        host = rec["host"]
        return ({"steal_cores": host.get("steal_cores"), "flagged": bool(host.get("flagged"))},
                rec.get("detail", {}).get("batch_ms", []))
    except (OSError, ValueError, KeyError):
        return {"steal_cores": None, "flagged": None}, []


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", required=True, help="e.g. 1-10 or 1,4,7")
    ap.add_argument("--parent", required=True, help="git revision of the parent side")
    ap.add_argument("--trace", default="0", choices=["0", "1"])
    a = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    metrics = spec["per_layer"] if a.trace == "1" else spec["end_to_end"]
    seeds = parse_seeds(a.seeds)

    tmp = tempfile.mkdtemp(prefix="ab_parent_")
    try:
        archive = subprocess.run(["git", "archive", "--format=tar", a.parent], cwd=ROOT,
                                 stdout=subprocess.PIPE, check=True).stdout
        subprocess.run(["tar", "-x", "-C", tmp], input=archive, check=True)
        trees = {"parent": tmp, "change": ROOT}
        for side, tree in trees.items():
            print(f"[ab] building {side}", file=sys.stderr)
            build(tree)
        results = {"parent": [], "change": []}
        for i, seed in enumerate(seeds):
            order = ["parent", "change"] if i % 2 == 0 else ["change", "parent"]
            for side in order:
                got = run(trees[side], a.workload, seed, spec["run_seconds"], a.trace)
                results[side].append(got)
                host = got["host"] if got else {}
                shown = {k: v for k, v in got.items() if k != "batch_ms"} if got else None
                print(f"[ab] seed {seed} {side}: steal_cores {host.get('steal_cores')} "
                      f"flagged {host.get('flagged')}: {json.dumps(shown)}", flush=True)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)

    pairs = [(p, c) for p, c in zip(results["parent"], results["change"]) if p and c]
    print(f"\n{a.workload} trace={a.trace}: {len(pairs)} complete pairs of {len(seeds)}")
    print(f"{'metric':44} {'parent med [q1, q3]':>30} {'change med [q1, q3]':>30} "
          f"{'delta':>8} {'p.iqr':>7} {'wins':>7}  verdict")
    for m in metrics:
        name, lower = m["name"], m["better"] == "lower"
        ps = [p["metrics"][name]["value"] for p, _ in pairs]
        cs = [c["metrics"][name]["value"] for _, c in pairs]
        if not ps:
            continue
        pm, cm = statistics.median(ps), statistics.median(cs)
        (p1, p3), (c1, c3) = quartiles(ps), quartiles(cs)
        wins = sum(1 for p, c in zip(ps, cs) if (c < p if lower else c > p))
        rel = (lambda x: f"{x / pm:+.1%}") if pm else (lambda x: "-")
        print(f"{name:44} {f'{pm:.4g} [{p1:.4g}, {p3:.4g}]':>30} "
              f"{f'{cm:.4g} [{c1:.4g}, {c3:.4g}]':>30} {rel(cm - pm):>8} "
              f"{rel(p3 - p1).lstrip('+'):>7} {f'{wins}/{len(pairs)}':>7}  "
              f"{verdict(m, pm, cm, p1, p3, wins, len(pairs))}")
    if a.trace == "0":
        for i, side in enumerate(("parent", "change")):
            batches = [b for pair in pairs for b in pair[i]["batch_ms"]]
            if batches:
                print(f"{side}: micro-batch median {statistics.median(batches):.4g} ms "
                      f"over {len(batches)} batches (detail.batch_ms)")
    for side in ("parent", "change"):
        rs = results[side]
        ok = [r for r in rs if r]
        print(f"{side}: {sum(r['correct'] for r in ok)}/{len(rs)} runs correct, "
              f"{sum(r['failed'] for r in ok)}/{sum(r['attempted'] for r in ok)} operations failed, "
              f"{sum(1 for r in ok if r['host']['flagged'])}/{len(rs)} runs flagged "
              f"(steal_cores {[r['host']['steal_cores'] for r in ok]})")


if __name__ == "__main__":
    main()

#!/usr/bin/env python3
"""A/B pairs: run a parent and a change checkout alternately, per workload.

    python3 perfbench/pairs.py --parent DIR --change DIR [--pairs 10] [--first-seed 100]
                               [--workloads a,b] [--out FILE]

Both checkouts must hold the same benchmark (BENCHMARK.json and
perfbench/ byte-identical), so both sides are measured by the same code
with the same settings. Pair i uses seed first-seed+i on both sides and
alternates which side runs first. For every workload and end-to-end
metric it reports each side's median and quartiles, the change's win
fraction (ties count for neither side) and a verdict:

  gain        the change wins at least 9/10 of the pairs, the medians
              differ by more than the parent's own quartile distance, and
              no more ops fail than at the parent
  regression  the change's median is worse than the parent's by more
              than the metric's bound
  unresolved  the parent's own spread exceeds the bound, so "no change"
              cannot be told apart from noise (unless every change run
              beats every parent run)
  flat        none of the above
"""

import argparse
import hashlib
import json
import os
import statistics
import subprocess
import sys

def bench_hash(root):
    """Hash of BENCHMARK.json and the benchmark's own files, build output excluded."""
    def generated(dp):
        parts = os.path.relpath(dp, root).split(os.sep)
        return bool({"target", "__pycache__", ".bsp"} & set(parts)) or parts[:3] == ["perfbench", "project", "project"]

    h = hashlib.sha256()
    files = [os.path.join(root, "BENCHMARK.json")] + sorted(
        os.path.join(dp, f) for dp, dns, fs in os.walk(os.path.join(root, "perfbench"))
        if not generated(dp) for f in fs)
    for p in files:
        h.update(os.path.relpath(p, root).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def run(root, workload, seed):
    p = subprocess.run([sys.executable, "perfbench/run.py", "--workload", workload, "--seed", str(seed)],
                       cwd=root, capture_output=True, text=True)
    lines = p.stdout.strip().splitlines()
    if p.returncode != 0 or not lines:
        raise RuntimeError(f"{root} {workload} seed {seed}: rc={p.returncode}\n{p.stderr[-2000:]}")
    return json.loads(lines[-1])


def quartiles(xs):
    q1, q2, q3 = statistics.quantiles(xs, n=4)
    return q1, statistics.median(xs), q3


def verdict(parent, change, better, bound, more_failures):
    p1, pm, p3 = quartiles(parent)
    c1, cm, c3 = quartiles(change)
    sign = 1.0 if better == "lower" else -1.0
    wins = sum(1 for a, b in zip(parent, change) if sign * (b - a) < 0)
    worse = sign * (cm - pm) / pm  # > 0: the change is worse
    spread = (p3 - p1) / pm
    dominates = (max(change) < min(parent)) if better == "lower" else (min(change) > max(parent))
    if wins >= 0.9 * len(parent) and abs(cm - pm) > (p3 - p1) and not more_failures:
        v = "gain"
    elif worse > bound:
        v = "regression"
    elif spread > bound and not dominates:
        v = "unresolved"
    else:
        v = "flat"
    return {"parent": {"q1": p1, "median": pm, "q3": p3}, "change": {"q1": c1, "median": cm, "q3": c3},
            "win_fraction": wins / len(parent), "worse_share": worse, "parent_spread": spread,
            "bound": bound, "verdict": v}


def main():
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--parent", required=True)
    ap.add_argument("--change", required=True)
    ap.add_argument("--pairs", type=int, default=10)
    ap.add_argument("--first-seed", type=int, default=100)
    ap.add_argument("--workloads")
    ap.add_argument("--out")
    a = ap.parse_args()
    parent, change = os.path.abspath(a.parent), os.path.abspath(a.change)
    if bench_hash(parent) != bench_hash(change):
        sys.exit("pairs: the two checkouts hold different benchmark code; copy one perfbench/ "
                 "and BENCHMARK.json over the other first")
    with open(os.path.join(change, "BENCHMARK.json")) as f:
        spec = json.load(f)
    metrics = {m["name"]: m for m in spec["end_to_end"]}
    workloads = a.workloads.split(",") if a.workloads else [w["name"] for w in spec["workloads"]]
    report = {}
    for w in workloads:
        vals = {"parent": {}, "change": {}}
        failed = {"parent": 0, "change": 0}
        for i in range(a.pairs):
            seed = a.first_seed + i
            order = [("parent", parent), ("change", change)]
            for side, root in (order if i % 2 == 0 else order[::-1]):
                line = run(root, w, seed)
                failed[side] += line["failed"] + (0 if line["correct"] else 1)
                for k, m in line["metrics"].items():
                    vals[side].setdefault(k, []).append(m["value"])
            print(f"{w}: pair {i + 1}/{a.pairs} done", file=sys.stderr, flush=True)
        rows = {k: verdict(vals["parent"][k], vals["change"][k], metrics[k]["better"], metrics[k]["bound"],
                           failed["change"] > failed["parent"])
                for k in metrics}
        report[w] = {"failed": failed, "metrics": rows, "values": vals}
        for k, r in rows.items():
            print(f"{w:15s} {k:12s} parent={r['parent']['median']:.4g} "
                  f"[{r['parent']['q1']:.4g}, {r['parent']['q3']:.4g}] "
                  f"change={r['change']['median']:.4g} [{r['change']['q1']:.4g}, {r['change']['q3']:.4g}] "
                  f"wins={r['win_fraction']:.2f} -> {r['verdict']}")
        print(f"{w}: failures parent={failed['parent']} change={failed['change']}")
    if a.out:
        with open(a.out, "w") as f:
            json.dump(report, f, indent=1)


if __name__ == "__main__":
    main()

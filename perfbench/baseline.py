#!/usr/bin/env python3
"""Run every workload on several seeds and record each metric's spread.

    python3 perfbench/baseline.py [--runs 10] [--first-seed 1] [--workloads a,b] [--out FILE]

It makes two sets of runs, one after the other; each runs every workload
once per seed, on seeds the other set does not use. For every set,
workload and end-to-end metric it reports the median and the distance
between the first and third quartile as a share of the median (Python's
statistics.quantiles(values, n=4)), the figure the benchmark's bounds
are checked against, and how far the median moved from the first set to
the second, as a share of the first. Run from the root of a checkout.
"""

import argparse
import json
import os
import platform
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
# two sets of runs of the same code must agree within the bounds
SETS = 2


def one(workload, seed, seconds, trace=0):
    """(result line, run record) of one run."""
    p = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
                        "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)],
                       capture_output=True, text=True)
    lines = p.stdout.strip().splitlines()
    if p.returncode != 0 or len(lines) < 2:
        raise RuntimeError(f"{workload} seed {seed}: rc={p.returncode}\n{p.stderr[-2000:]}")
    return json.loads(lines[-1]), json.loads(lines[-2][2:])


def spread(values):
    q1, q2, q3 = statistics.quantiles(values, n=4)
    med = statistics.median(values)
    return {"median": med, "q1": q1, "q3": q3, "iqr_share": (q3 - q1) / med if med else None}


def run_set(workloads, seeds, seconds, bounds):
    out = {}
    for w in workloads:
        values, failed, ops, steal, t0 = {}, 0, [], [], time.time()
        for seed in seeds:
            line, rec = one(w, seed, seconds)
            failed += line["failed"] + (0 if line["correct"] else 1)
            ops.append(rec["ops_timed"])
            steal.append(rec["cpu_steal_share"])
            for k, m in line["metrics"].items():
                values.setdefault(k, []).append(m["value"])
        rows = {k: dict(spread(v), bound=bounds.get(k), values=v) for k, v in values.items()}
        out[w] = {"failed": failed, "wall_s": time.time() - t0, "ops_timed": ops,
                  "cpu_steal_share": steal, "metrics": rows}
        for k, r in rows.items():
            flag = "" if r["bound"] is None or r["iqr_share"] < r["bound"] / 3 else "  <-- above bound/3"
            print(f"{w:15s} {k:12s} median={r['median']:.4g} iqr/median={r['iqr_share']:.3f} "
                  f"bound={r['bound']}{flag}")
        print(f"{w}: seeds {seeds[0]}-{seeds[-1]}, {failed} failures, timed ops per run {ops}, "
              f"{time.time() - t0:.0f} s", flush=True)
    return out


def main():
    with open(os.path.join(HERE, "..", "BENCHMARK.json")) as f:
        spec = json.load(f)
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--first-seed", type=int, default=1)
    ap.add_argument("--workloads", default=",".join(w["name"] for w in spec["workloads"]))
    ap.add_argument("--out")
    a = ap.parse_args()
    bounds = {m["name"]: m["bound"] for m in spec["end_to_end"]}
    workloads = a.workloads.split(",")
    report = {"note": "A baseline for the host described here only. Records taken on other hosts or "
                      "with another harness, such as the repository's BENCH_r*.json (8 or 32 cores), "
                      "are not a baseline for it.",
              "host": {"nproc": os.cpu_count(), "machine": platform.machine(),
                       "python": platform.python_version()},
              "run_seconds": spec["run_seconds"], "runs": a.runs, "sets": []}
    for s in range(SETS):
        seeds = list(range(a.first_seed + s * a.runs, a.first_seed + (s + 1) * a.runs))
        report["sets"].append({"seeds": f"{seeds[0]}-{seeds[-1]}",
                               "workloads": run_set(workloads, seeds, spec["run_seconds"], bounds)})
    first, second = (st["workloads"] for st in report["sets"])
    report["agreement"] = {}
    for w in workloads:
        rows = {}
        for k, m1 in first[w]["metrics"].items():
            m2 = second[w]["metrics"][k]
            shift = (m2["median"] - m1["median"]) / m1["median"]
            rows[k] = {"median_first": m1["median"], "median_second": m2["median"], "shift_share": shift,
                       "spreads": [m1["iqr_share"], m2["iqr_share"]], "bound": m1["bound"]}
            print(f"{w:15s} {k:12s} median {m1['median']:.4g} -> {m2['median']:.4g} shift={shift:+.3f} "
                  f"spreads={m1['iqr_share']:.3f}/{m2['iqr_share']:.3f} bound={m1['bound']}")
        report["agreement"][w] = rows
    if a.out:
        os.makedirs(os.path.dirname(os.path.abspath(a.out)), exist_ok=True)
        with open(a.out, "w") as f:
            json.dump(report, f, indent=1)


if __name__ == "__main__":
    main()

#!/usr/bin/env python3
"""Benchmark runner: build, generate inputs, run one workload, report.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout of the repository. The first run builds
the program and the harness (perfbench/build.sbt) and caches the result
under .bench_build/, keyed by a hash of every source and build file; later
runs reuse it. The last line of standard output is one JSON object with
`correct`, `attempted`, `failed` and `metrics` (end-to-end metrics when
untraced, per-layer metrics when traced). The full run record, with its
provenance, is kept under .bench_build/results/ beside the span dump.

    python3 perfbench/run.py --self-test

runs every workload at sf0.001 for a few ops with all output checks on.
"""

import argparse
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

ROOT = os.getcwd()
BUILD = os.path.join(ROOT, ".bench_build")
HEAP = "3g"
# A fixed heap and young generation, so the JVM's peak resident memory
# depends on what the program keeps, not on how the heap happened to grow;
# no perf-data file, which the JVM would write outside the checkout.
JVM_FLAGS = [f"-Xms{HEAP}", f"-Xmx{HEAP}", "-Xmn512m", "-XX:-UsePerfData"]
# a run ends within 180 s; the first one in a checkout, which builds,
# within 900 s
RUN_LIMIT_S = 170.0
BUILD_LIMIT_S = 600.0
# (set-up repetitions, warm-up ops) per workload. The pipeline has no
# index to build, so its set-up is cheap to repeat; an index bootstrap
# costs several seconds, so the index workloads set up once. The warm-up
# counts are what it takes for the first timed op to run at the speed of
# the later ones.
WORKLOADS = {"prep_pipeline": (3, 4), "lexical_search": (1, 6), "index_ingest": (1, 1)}


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def bench_spec():
    with open(os.path.join(HERE, "..", "BENCHMARK.json")) as f:
        return json.load(f)


# ── build ─────────────────────────────────────────────────────────────

def source_stamp():
    """Hash of every file the build reads from the checkout."""
    h = hashlib.sha256()
    roots = [("build.sbt",), ("project",), ("src", "main"), ("perfbench", "build.sbt"),
             ("perfbench", "project"), ("perfbench", "src")]
    for parts in roots:
        top = os.path.join(ROOT, *parts)
        paths = [top] if os.path.isfile(top) else sorted(
            os.path.join(dp, f) for dp, dns, fs in os.walk(top)
            for f in fs if "target" not in os.path.relpath(dp, ROOT).split(os.sep)
            and "project" + os.sep + "project" not in dp)
        for p in paths:
            if not (p.endswith(".scala") or p.endswith(".sbt") or p.endswith(".properties")
                    or os.sep + "resources" + os.sep in p):
                continue
            h.update(os.path.relpath(p, ROOT).encode())
            with open(p, "rb") as f:
                h.update(hashlib.sha256(f.read()).digest())
    return h.hexdigest()


def java_cmd(launch, work, main_args):
    return (["java", *JVM_FLAGS, f"-Djava.io.tmpdir={work}/tmp",
             f"-Dspark.local.dir={work}/spark-local", f"-Dspark.sql.warehouse.dir={work}/warehouse",
             f"-Dderby.system.home={work}", *launch["opts"], "-cp", launch["cp"], "perfbench.Main",
             *main_args])


def build():
    """Compile the program and the harness once per source state; return
    the launch spec: classpath and JVM options."""
    stamp = source_stamp()
    cache = os.path.join(BUILD, "launch.json")
    if os.path.exists(cache):
        with open(cache) as f:
            got = json.load(f)
        if got.get("stamp") == stamp:
            return got
    os.makedirs(BUILD, exist_ok=True)
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    if "-Dsbt.offline" not in env.get("SBT_OPTS", ""):
        env["SBT_OPTS"] = (env.get("SBT_OPTS", "") + " -Dsbt.offline=true").strip()
    log = os.path.join(BUILD, "build.log")
    t0 = time.time()
    with open(log, "w") as out:
        try:
            rc = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "launchSpec"],
                                cwd=os.path.join(ROOT, "perfbench"), env=env, stdout=out,
                                stderr=subprocess.STDOUT, stdin=subprocess.DEVNULL,
                                timeout=BUILD_LIMIT_S).returncode
        except subprocess.TimeoutExpired:
            rc = -1
    if rc != 0:
        with open(log) as f:
            sys.stderr.write(f.read()[-4000:])
        fail(f"build failed (rc={rc}), log in {log}", 3)
    launch = {"stamp": stamp, "cp": None, "opts": []}
    with open(os.path.join(ROOT, "perfbench", "target", "launch.txt")) as f:
        for line in f.read().splitlines():
            k, _, v = line.partition("=")
            if k == "cp":
                launch["cp"] = v
            elif k == "opt":
                launch["opts"].append(v)
    launch["build_s"] = time.time() - t0
    with open(cache, "w") as f:
        json.dump(launch, f)
    return launch


# ── metrics ───────────────────────────────────────────────────────────

def quantile(xs, q):
    """Linear-interpolated quantile (the inclusive method)."""
    xs = sorted(xs)
    if len(xs) == 1:
        return xs[0]
    pos = q * (len(xs) - 1)
    lo = int(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def end_to_end(rec):
    ops = [o for o in rec["ops"] if not o["traced"]]
    walls = [o["wall_s"] for o in ops]
    return {
        "setup_s": rec["session_s"] + statistics.median(rec["setup_reps_s"]) + rec["warmup_s"],
        "op_p50_s": quantile(walls, 0.5),
        "op_p90_s": quantile(walls, 0.9),
        "items_per_s": sum(o["items"] for o in ops) / sum(walls),
        "peak_rss_mb": rec["peak_rss_mb"],
    }


def per_layer(rec, names):
    traced = [o for o in rec["ops"] if o["traced"]]
    plain = [o["wall_s"] for o in rec["ops"] if not o["traced"]]
    out = {}
    for n in names:
        if n == "trace.overhead_ratio":
            out[n] = statistics.median(o["wall_s"] for o in traced) / statistics.median(plain)
        elif n in rec.get("setup_layers", {}):
            out[n] = rec["setup_layers"][n]
        else:
            out[n] = statistics.median(o["layers"].get(n, 0.0) for o in traced)
    return out


# ── one run ───────────────────────────────────────────────────────────

def cpu_times():
    """(steal, total) jiffies of all CPUs, from /proc/stat."""
    try:
        with open("/proc/stat") as f:
            v = [int(x) for x in f.readline().split()[1:9]]
        return v[7], sum(v)
    except (OSError, ValueError, IndexError):
        return 0, 0


def git_commit():
    if os.path.isdir(os.path.join(ROOT, ".git")):
        try:
            return subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                                  text=True, timeout=10).stdout.strip() or "unknown"
        except (OSError, subprocess.SubprocessError):
            pass
    return os.environ.get("PERFBENCH_COMMIT", "unknown")


def run(workload, seed, seconds, trace, sf=0.1, max_ops=None):
    """Run one workload in a fresh JVM; return (result line, record)."""
    import inputs  # numpy, pyarrow and duckdb load only when a run needs them

    setup_reps, warmup = WORKLOADS[workload]
    t_start = time.time()
    launch = build()
    deadline = time.time() + RUN_LIMIT_S
    tag = f"{workload}-s{seed}-t{trace}-{os.getpid()}"
    work = os.path.join(BUILD, "work", tag)
    shutil.rmtree(work, ignore_errors=True)
    data = os.path.join(work, "inputs")
    os.makedirs(os.path.join(work, "tmp"))
    t0 = time.time()
    info = inputs.generate(workload, seed, sf, data, work)
    gen_s = time.time() - t0

    results = os.path.join(BUILD, "results")
    os.makedirs(results, exist_ok=True)
    out = os.path.join(work, "record.json")
    spans = os.path.join(results, f"{tag}.spans.json")
    cmd = java_cmd(launch, work,
                   ["--workload", workload, "--inputs", data, "--work", work, "--seconds", str(seconds),
                    "--trace", str(trace), "--warmup", str(warmup), "--setup-reps", str(setup_reps),
                    "--out", out, "--spans", spans] + (["--max-ops", str(max_ops)] if max_ops else []))
    log = os.path.join(work, "jvm.log")
    t_spawn = time.time()
    steal0 = cpu_times()
    with open(log, "w") as lf:
        proc = subprocess.Popen(cmd, cwd=work, stdout=lf, stderr=subprocess.STDOUT,
                                stdin=subprocess.DEVNULL)
        try:
            rc = proc.wait(timeout=max(10.0, deadline - time.time()))
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            rc = "timeout"
    if rc != 0 or not os.path.exists(out):
        with open(log) as f:
            sys.stderr.write(f.read()[-6000:])
        fail(f"{workload}: JVM exited with {rc}", 4)
    t_exit = time.time()
    steal1 = cpu_times()
    with open(out) as f:
        rec = json.load(f)
    if "fatal" in rec:
        fail(f"{workload}: {rec['fatal']}", 4)

    spec = bench_spec()
    ops = rec["ops"]
    errors = [o["error"] for o in ops if not o["ok"]] + rec["warmup_errors"]
    attempted = len(ops) + rec["warmup_ops"]
    if not ops:
        fail(f"{workload}: no op completed", 4)
    if trace:
        metrics = per_layer(rec, [m["name"] for m in spec["per_layer"]])
        units = {m["name"]: m["unit"] for m in spec["per_layer"]}
    else:
        metrics = end_to_end(rec)
        units = {m["name"]: m["unit"] for m in spec["end_to_end"]}
    line = {
        "correct": not errors,
        "attempted": attempted,
        "failed": len(errors),
        "metrics": {k: {"value": metrics[k], "unit": units[k]} for k in units},
    }
    record = {
        "workload": workload, "seed": seed, "seconds": seconds, "trace": trace, "sf": sf,
        "commit": git_commit(), "nproc": rec["nproc"], "master": rec["master"],
        "shuffle_partitions": rec["shuffle_partitions"], "heap": HEAP,
        "heap_max_mb": rec["heap_max_mb"], "spark_version": rec["spark_version"],
        "loadavg_start": rec["loadavg_start"], "loadavg_end": rec["loadavg_end"],
        "cpu_steal_share": (steal1[0] - steal0[0]) / max(1, steal1[1] - steal0[1]),
        "inputs": info, "input_gen_s": gen_s, "session_s": rec["session_s"],
        "setup_reps_s": rec["setup_reps_s"], "warmup_ops": rec["warmup_ops"],
        "warmup_s": rec["warmup_s"], "ops_timed": len([o for o in ops if not o["traced"]]),
        "ops_traced": len([o for o in ops if o["traced"]]), "errors": errors[:5],
        "run_wall_s": time.time() - t_start, "result": line,
        "phases_s": {"before_jvm": t_spawn - t_start, "jvm_launch": rec.get("jvm_start_ms", 0) / 1000 - t_spawn,
                     "load": rec.get("load_s"), "loop": rec.get("loop_s"),
                     "stop": t_exit - rec.get("record_ms", 0) / 1000, "after_jvm": time.time() - t_exit},
        "ops": [{k: o[k] for k in ("i", "wall_s", "items", "ok", "traced", "layers")} for o in ops],
    }
    with open(os.path.join(results, f"{tag}.json"), "w") as f:
        json.dump(record, f)
    shutil.rmtree(work, ignore_errors=True)
    return line, record


def self_test():
    """Every workload at sf0.001, a few ops each, traced and untraced."""
    ok = True
    for w in WORKLOADS:
        for trace in (0, 1):
            line, rec = run(w, seed=1, seconds=60, trace=trace, sf=0.001, max_ops=4)
            good = line["correct"] and line["attempted"] >= 3 and all(
                isinstance(m["value"], (int, float)) for m in line["metrics"].values())
            if trace:
                good = good and line["metrics"]["trace.coverage"]["value"] >= 0.9
            ok = ok and good
            print(f"self-test {w} trace={trace}: {'ok' if good else 'FAILED'} "
                  f"attempted={line['attempted']} failed={line['failed']} errors={rec['errors']}")
    print("self-test", "passed" if ok else "FAILED")
    return 0 if ok else 1


def main():
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=None)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--self-test", action="store_true")
    a = ap.parse_args()
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala"))):
        fail("run from the root of a checkout of the repository: no build.sbt / src/main/scala here")
    if a.self_test:
        sys.exit(self_test())
    if a.workload is None:
        fail("--workload is required")
    seconds = a.seconds if a.seconds is not None else bench_spec()["run_seconds"]
    line, rec = run(a.workload, a.seed, seconds, a.trace)
    print("# " + json.dumps({k: v for k, v in rec.items() if k not in ("ops", "result")}))
    print(json.dumps(line))


if __name__ == "__main__":
    main()

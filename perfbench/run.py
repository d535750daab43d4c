"""Benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>
    python3 perfbench/run.py --list           # every metric, by name
    python3 perfbench/run.py --self-test      # the benchmark's own tests
    python3 perfbench/run.py --overhead --workload <name> --seed <n> --seconds <s>

A run builds the program from source if needed (perfbench/build.py),
runs one workload in a fresh JVM and prints, as the last line of its
standard output, one JSON object: {"correct", "attempted", "failed",
"metrics"}. With --trace 0 the metrics are the end-to-end metrics of
BENCHMARK.json, with --trace 1 its per-layer metrics (and the run writes
its spans under <build dir>/trace). A run whose outputs fail a
correctness check still prints its result, with "correct": false, and
exits 1.
"""
import argparse
import json
import math
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
import build  # noqa: E402

WORKLOADS = ["stream_ingest_query", "sql_knn_serve", "batch_curate"]
JVM_TIMEOUT_S = 170


def load_spec():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    with open(os.path.join(HERE, "metrics.json")) as f:
        catalog = json.load(f)
    return spec, catalog


def jvm(main, args, cp, tmp, timeout):
    proc = subprocess.Popen(build.java_cmd(cp, tmp) + [main] + args,
                            stdout=sys.stderr, stderr=sys.stderr)
    try:
        return proc.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        return None


def run_once(workload, seed, seconds, trace):
    """Run one workload; return the JVM's raw result and its exit code."""
    cp = build.build()
    bdir = build.build_dir()
    work = os.path.join(bdir, "runs", f"{workload}-{seed}-{trace}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    out = os.path.join(work, "result.json")
    try:
        code = jvm("perfbench.Main",
                   [workload, str(seed), str(seconds), str(trace), work, out],
                   cp, os.path.join(work, "tmp"), JVM_TIMEOUT_S)
        if code is None or not os.path.exists(out):
            raise SystemExit(f"run: the benchmark JVM did not finish (exit {code})")
        with open(out) as f:
            raw = json.load(f)
        tdir = os.path.join(work, "trace")
        if os.path.isdir(tdir):
            dest = os.path.join(bdir, "trace")
            os.makedirs(dest, exist_ok=True)
            for name in os.listdir(tdir):
                shutil.copy(os.path.join(tdir, name), dest)
            with open(os.path.join(dest, f"{workload}-{seed}-layers.json"), "w") as f:
                json.dump(raw["layer"], f, indent=1, sort_keys=True)
        return raw, code
    finally:
        shutil.rmtree(work, ignore_errors=True)


def select_metrics(raw, workload, trace, spec, catalog):
    """The declared metric set for the mode, with units; a metric a
    workload does not exercise (per metrics.json) reads 0."""
    kind = "per_layer" if trace else "end_to_end"
    source = raw["layer"] if trace else raw["e2e"]
    metrics, missing = {}, []
    for m in spec[kind]:
        name = m["name"]
        emits = workload in catalog[kind][name]["workloads"]
        v = source.get(name) if emits else 0.0
        if v is None or (isinstance(v, float) and not math.isfinite(v)):
            missing.append(name)
            continue
        if not trace and v <= 0:
            missing.append(name)
            continue
        metrics[name] = {"value": v, "unit": m["unit"]}
    return metrics, missing


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--list", action="store_true")
    ap.add_argument("--self-test", action="store_true")
    ap.add_argument("--overhead", action="store_true")
    a = ap.parse_args()
    spec, catalog = load_spec()

    if a.list:
        for kind in ("end_to_end", "per_layer"):
            print(f"# {kind}")
            for m in spec[kind]:
                c = catalog[kind][m["name"]]
                better = m.get("better", c.get("better", ""))
                line = f"{m['name']:40s} {m['unit']:8s} {better:6s} on {','.join(c['workloads'])}"
                if "moves" in c:
                    line += " | moves " + ", ".join(f"{x['metric']}@{x['workload']}"
                                                    for x in c["moves"])
                print(line + " | " + c["definition"])
        return 0

    if a.self_test:
        cp = build.build()
        tmp = os.path.join(build.build_dir(), "selftest-tmp")
        os.makedirs(tmp, exist_ok=True)
        code = jvm("perfbench.SelfTest", [], cp, tmp, JVM_TIMEOUT_S)
        shutil.rmtree(tmp, ignore_errors=True)
        return 0 if code == 0 else 1

    if a.workload is None:
        ap.error("--workload is required")

    if a.overhead:
        plain, _ = run_once(a.workload, a.seed, a.seconds, 0)
        traced, _ = run_once(a.workload, a.seed, a.seconds, 1)
        for k in ("op_p50_ms", "throughput_per_s"):
            u, t = plain["e2e"][k], traced["layer"].get("traced." + k)
            print(f"{k}: untraced {u:.4f}, traced {t:.4f}, "
                  f"overhead {100.0 * (t - u) / u:+.2f}%")
        return 0

    raw, code = run_once(a.workload, a.seed, a.seconds, a.trace)
    metrics, missing = select_metrics(raw, a.workload, a.trace, spec, catalog)
    for v in raw.get("violations", []):
        print(f"violation: {v}", file=sys.stderr)
    if missing:
        print(f"run: metrics missing, non-finite or zero: {missing}", file=sys.stderr)
        return 1
    correct = bool(raw["correct"]) and code == 0
    print(json.dumps({"correct": correct, "attempted": int(raw["attempted"]),
                      "failed": int(raw["failed"]), "metrics": metrics}))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())

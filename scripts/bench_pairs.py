"""Paired benchmark runs of two checkouts, judged by the paired-run rule.

    python3 scripts/bench_pairs.py --parent ../graft-parent --change . \
        --workload stream_ingest_query --seeds 601-610 --seconds 10 \
        --claim throughput_per_s

Runs `perfbench/run.py --trace 0` once per seed on each checkout,
alternating which side runs first, each checkout building into its own
CARGO_TARGET_DIR (`<target-root>/parent`, `<target-root>/change`). Prints,
for every end-to-end metric of BENCHMARK.json, each side's median and
quartiles, the change/parent ratio of the medians, and how many pairs the
change won (ties count for neither side). A metric passes the gain rule
when the change wins at least nine tenths of the pairs and its median
beats the parent's by more than the parent's interquartile range; it is
within bound when its median is no worse than the parent's by more than
the bound BENCHMARK.json declares. Every run's raw result is appended to
`--out` as one JSON line. Exit status: 0, or 1 when a run failed or
answered wrong, or when a `--claim` metric misses the gain rule.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys


def seeds(spec):
    out = []
    for part in spec.split(","):
        lo, _, hi = part.partition("-")
        out.extend(range(int(lo), int(hi or lo) + 1))
    return out


def run(checkout, target, workload, seed, seconds):
    env = dict(os.environ, CARGO_TARGET_DIR=target)
    cmd = [sys.executable, os.path.join("perfbench", "run.py"),
           "--workload", workload, "--seed", str(seed),
           "--seconds", str(seconds), "--trace", "0"]
    p = subprocess.run(cmd, cwd=checkout, env=env, stdout=subprocess.PIPE,
                       stderr=subprocess.DEVNULL, text=True)
    lines = [l for l in p.stdout.splitlines() if l.startswith("{")]
    res = json.loads(lines[-1]) if lines else {}
    res["exit"] = p.returncode
    return res


def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4, method="inclusive")
    return q1, q2, q3


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--parent", required=True, help="parent checkout")
    ap.add_argument("--change", required=True, help="change checkout")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", required=True, help="e.g. 601-610 or 1,5,9")
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--target-root", default=None,
                    help="build dirs go under here (default: <change>/.bench_pairs)")
    ap.add_argument("--claim", action="append", default=[],
                    help="end-to-end metric the change claims to improve")
    ap.add_argument("--out", default=None, help="JSON-lines file of every run")
    a = ap.parse_args()

    with open(os.path.join(a.change, "BENCHMARK.json")) as f:
        spec = {m["name"]: m for m in json.load(f)["end_to_end"]}
    root = os.path.abspath(a.target_root or os.path.join(a.change, ".bench_pairs"))
    sides = {"parent": os.path.abspath(a.parent), "change": os.path.abspath(a.change)}
    vals = {s: {m: [] for m in spec} for s in sides}
    paired = {m: [] for m in spec}
    bad = 0
    for i, seed in enumerate(seeds(a.seeds)):
        order = ["parent", "change"] if i % 2 == 0 else ["change", "parent"]
        got = {}
        for side in order:
            res = run(sides[side], os.path.join(root, side), a.workload, seed,
                      a.seconds)
            got[side] = res
            ok = res.get("correct") is True and res.get("exit") == 0
            bad += not ok
            if a.out:
                with open(a.out, "a") as f:
                    f.write(json.dumps({"side": side, "seed": seed,
                                        "workload": a.workload, **res}) + "\n")
            print(f"seed {seed} {side:6s} correct={res.get('correct')} "
                  f"failed={res.get('failed')} exit={res.get('exit')}",
                  file=sys.stderr)
        for m in spec:
            v = {s: got[s].get("metrics", {}).get(m, {}).get("value") for s in sides}
            for s in sides:
                if v[s] is not None:
                    vals[s][m].append(v[s])
            if None not in v.values():
                paired[m].append((v["parent"], v["change"]))

    claim_ok = True
    print(f"{a.workload}: {len(seeds(a.seeds))} pairs, seeds {a.seeds}, "
          f"{a.seconds:g} s runs, {bad} failed or wrong runs")
    print(f"{'metric':18s} {'parent q1/med/q3':>30s} {'change q1/med/q3':>30s} "
          f"{'ratio':>7s} {'wins':>6s}  gain-rule  in-bound")
    for m, d in spec.items():
        if not vals["parent"][m] or not vals["change"][m]:
            print(f"{m:18s} missing")
            continue
        pq = quartiles(vals["parent"][m])
        cq = quartiles(vals["change"][m])
        higher = d["better"] == "higher"
        wins = sum((c > p) if higher else (c < p) for p, c in paired[m])
        n = len(paired[m])
        diff = (cq[1] - pq[1]) if higher else (pq[1] - cq[1])
        gain = n > 0 and wins >= 0.9 * n and diff > pq[2] - pq[0]
        worse = -diff / pq[1] if pq[1] else 0.0
        in_bound = worse <= d["bound"]
        if m in a.claim and not gain:
            claim_ok = False
        ratio = cq[1] / pq[1] if pq[1] else float("nan")
        fmt = lambda q: f"{q[0]:.4g}/{q[1]:.4g}/{q[2]:.4g}"
        print(f"{m:18s} {fmt(pq):>30s} {fmt(cq):>30s} {ratio:7.3f} "
              f"{wins:>3d}/{n:<2d}  {'holds' if gain else '-':9s}  "
              f"{'yes' if in_bound else 'NO'}")
    return 0 if bad == 0 and claim_ok else 1


if __name__ == "__main__":
    sys.exit(main())

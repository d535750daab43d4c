"""Paired benchmark runs of two checkouts, judged by the paired-run rule.

    python3 scripts/bench_pairs.py --parent ../graft-parent --change . \
        --workload stream_ingest_query --seeds 601-610 --seconds 10 \
        --claim throughput_per_s

`--workload` repeats: one invocation then runs the pairs of each named
workload in turn and prints one table per workload. `--claim METRIC`
applies to every workload run, `--claim WORKLOAD:METRIC` to that one.

Runs `perfbench/run.py --trace 0` once per seed on each checkout,
alternating which side runs first, each checkout building into its own
CARGO_TARGET_DIR (`<target-root>/parent`, `<target-root>/change`). Prints,
for every end-to-end metric of BENCHMARK.json, each side's median and
quartiles, the change/parent ratio of the medians, and how many pairs the
change won (ties count for neither side). A metric passes the gain rule
when the change wins at least nine tenths of the pairs and its median
beats the parent's by more than the parent's interquartile range.

The bound column reads `yes` when the change's median is no worse than
the parent's by more than the bound BENCHMARK.json declares, `NO` when it
is worse by more, and `unresolved` when its median reads worse and the
parent's own spread (IQR / median) is wider than the bound: the runs
cannot tell a slowdown from noise then. (A change whose every run beats
every parent run reads better, so it never lands there.) Each side's
failure share (failed / attempted operations, summed over its runs) is
printed too, and flagged when the change's is larger. Every run's raw
result is appended to `--out` as one JSON line. Exit status: 0, or 1 when
a run failed or answered wrong, when a metric is out of bound (`NO`), or
when a `--claim` metric misses the gain rule.

With `--trace-seed N`, after the pairs each side makes one traced run
(`--trace 1`) on seed N of every workload a `--claim` names, and the
script prints each per-layer metric of that workload side by side with
its change/parent ratio, so that a claim can name the layer that moved.
A failed traced run counts as a failed run.
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


def run(checkout, target, workload, seed, seconds, trace=0):
    env = dict(os.environ, CARGO_TARGET_DIR=target)
    cmd = [sys.executable, os.path.join("perfbench", "run.py"),
           "--workload", workload, "--seed", str(seed),
           "--seconds", str(seconds), "--trace", str(trace)]
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


def bound_verdict(worse, spread, bound):
    """`worse`: how much worse the change's median reads, as a fraction of
    the parent's (negative when better); `spread`: the parent's IQR over
    its median."""
    if worse <= 0 or (worse <= bound and spread <= bound):
        return "yes"
    return "unresolved" if spread > bound else "NO"


def claimed(claims, workload):
    """The metrics `--claim` names for this workload."""
    out = set()
    for c in claims:
        w, _, m = c.rpartition(":")
        if w in ("", workload):
            out.add(m)
    return out


def compare(a, workload, spec, sides, root):
    """Runs the alternating pairs of one workload and prints its table.
    Returns True when every run was correct, no metric is out of bound
    and every claimed metric meets the gain rule."""
    vals = {s: {m: [] for m in spec} for s in sides}
    paired = {m: [] for m in spec}
    ops = {s: [0, 0] for s in sides}  # failed, attempted
    bad = 0
    for i, seed in enumerate(seeds(a.seeds)):
        order = ["parent", "change"] if i % 2 == 0 else ["change", "parent"]
        got = {}
        for side in order:
            res = run(sides[side], os.path.join(root, side), workload, seed,
                      a.seconds)
            got[side] = res
            ok = res.get("correct") is True and res.get("exit") == 0
            bad += not ok
            ops[side][0] += int(res.get("failed") or 0)
            ops[side][1] += int(res.get("attempted") or 0)
            if a.out:
                with open(a.out, "a") as f:
                    f.write(json.dumps({"side": side, "seed": seed,
                                        "workload": workload, **res}) + "\n")
            print(f"{workload} seed {seed} {side:6s} correct={res.get('correct')} "
                  f"failed={res.get('failed')} exit={res.get('exit')}",
                  file=sys.stderr)
        for m in spec:
            v = {s: got[s].get("metrics", {}).get(m, {}).get("value") for s in sides}
            for s in sides:
                if v[s] is not None:
                    vals[s][m].append(v[s])
            if None not in v.values():
                paired[m].append((v["parent"], v["change"]))

    claims = claimed(a.claim, workload)
    claim_ok = True
    out_of_bound = False
    print(f"{workload}: {len(seeds(a.seeds))} pairs, seeds {a.seeds}, "
          f"{a.seconds:g} s runs, {bad} failed or wrong runs")
    share = {s: ops[s][0] / ops[s][1] if ops[s][1] else 0.0 for s in sides}
    print("failed/attempted: " + ", ".join(
        f"{s} {ops[s][0]}/{ops[s][1]} ({share[s]:.4g})" for s in sides) +
          ("  CHANGE FAILS MORE" if share["change"] > share["parent"] else ""))
    print(f"{'metric':18s} {'parent q1/med/q3':>30s} {'change q1/med/q3':>30s} "
          f"{'ratio':>7s} {'wins':>6s}  gain-rule  bound")
    for m, d in spec.items():
        if not vals["parent"][m] or not vals["change"][m]:
            print(f"{m:18s} missing")
            claim_ok &= m not in claims
            continue
        pq = quartiles(vals["parent"][m])
        cq = quartiles(vals["change"][m])
        higher = d["better"] == "higher"
        wins = sum((c > p) if higher else (c < p) for p, c in paired[m])
        n = len(paired[m])
        diff = (cq[1] - pq[1]) if higher else (pq[1] - cq[1])
        gain = n > 0 and wins >= 0.9 * n and diff > pq[2] - pq[0]
        worse = -diff / pq[1] if pq[1] else 0.0
        spread = (pq[2] - pq[0]) / pq[1] if pq[1] else 0.0
        verdict = bound_verdict(worse, spread, d["bound"])
        out_of_bound |= verdict == "NO"
        if m in claims and not gain:
            claim_ok = False
        ratio = cq[1] / pq[1] if pq[1] else float("nan")
        fmt = lambda q: f"{q[0]:.4g}/{q[1]:.4g}/{q[2]:.4g}"
        print(f"{m:18s} {fmt(pq):>30s} {fmt(cq):>30s} {ratio:7.3f} "
              f"{wins:>3d}/{n:<2d}  {'holds' if gain else '-':9s}  "
              f"{verdict}")
    print(flush=True)
    return bad == 0 and claim_ok and not out_of_bound


def traced(a, workload, sides, root):
    """One traced run per side on `--trace-seed`; prints the per-layer
    metrics side by side. Returns True when both runs were correct."""
    got = {}
    for side in ("parent", "change"):
        got[side] = run(sides[side], os.path.join(root, side), workload,
                        a.trace_seed, a.seconds, trace=1)
        if a.out:
            with open(a.out, "a") as f:
                f.write(json.dumps({"side": side, "seed": a.trace_seed,
                                    "workload": workload, "trace": 1,
                                    **got[side]}) + "\n")
    ok = all(r.get("correct") is True and r.get("exit") == 0
             for r in got.values())
    print(f"{workload}: traced seed {a.trace_seed}"
          + ("" if ok else ", a traced run failed or answered wrong"))
    print(f"{'per-layer metric':40s} {'parent':>12s} {'change':>12s} {'ratio':>7s}")
    m = {s: got[s].get("metrics", {}) for s in got}
    with open(os.path.join(sides["change"], "perfbench", "metrics.json")) as f:
        mine = {n for n, c in json.load(f)["per_layer"].items()
                if workload in c["workloads"]}
    for name in sorted((set(m["parent"]) | set(m["change"])) & mine):
        p = m["parent"].get(name, {}).get("value")
        c = m["change"].get(name, {}).get("value")
        ratio = f"{c / p:7.3f}" if p and c is not None else f"{'-':>7s}"
        fmt = lambda v: f"{v:12.4g}" if v is not None else f"{'missing':>12s}"
        print(f"{name:40s} {fmt(p)} {fmt(c)} {ratio}")
    print(flush=True)
    return ok


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--parent", required=True, help="parent checkout")
    ap.add_argument("--change", required=True, help="change checkout")
    ap.add_argument("--workload", required=True, action="append",
                    help="workload to compare; repeat for several")
    ap.add_argument("--seeds", required=True, help="e.g. 601-610 or 1,5,9")
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--target-root", default=None,
                    help="build dirs go under here (default: <change>/.bench_pairs)")
    ap.add_argument("--claim", action="append", default=[],
                    help="end-to-end metric the change claims to improve, as "
                         "METRIC (every workload) or WORKLOAD:METRIC")
    ap.add_argument("--out", default=None, help="JSON-lines file of every run")
    ap.add_argument("--trace-seed", type=int, default=None,
                    help="after the pairs, one traced run per side on this "
                         "seed of each claimed workload, per-layer table")
    a = ap.parse_args()

    with open(os.path.join(a.change, "BENCHMARK.json")) as f:
        spec = {m["name"]: m for m in json.load(f)["end_to_end"]}
    for c in a.claim:
        if c.rpartition(":")[2] not in spec:
            ap.error(f"--claim {c}: not an end-to-end metric of BENCHMARK.json")
    root = os.path.abspath(a.target_root or os.path.join(a.change, ".bench_pairs"))
    sides = {"parent": os.path.abspath(a.parent), "change": os.path.abspath(a.change)}
    ok = [compare(a, w, spec, sides, root) for w in a.workload]
    if a.trace_seed is not None:
        ok += [traced(a, w, sides, root) for w in a.workload
               if claimed(a.claim, w)]
    return 0 if all(ok) else 1


if __name__ == "__main__":
    sys.exit(main())

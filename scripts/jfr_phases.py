#!/usr/bin/env python3
"""Bucket the sampled stacks of a JFR recording into statement phases.

    python3 scripts/jfr_phases.py <recording.jfr> [--threads REGEX] [--frame REGEX ...]

Reads the recording's execution samples (`jfr print --events
jdk.ExecutionSample --stack-depth 400`), keeps the samples of threads
whose name matches --threads (default: the SQL benchmark's client
threads), and puts each sample in one bucket: parse, analyze, optimize,
serve, execute or client. The bucket is decided by the INNERMOST frame
that matches a phase marker (the markers are listed in PHASES); a stack
with no marker frame is client work. Physical planning counts as
execute. Prints each bucket's sample count and share of the kept
samples, then, for every --frame REGEX, the share of kept samples with
at least one frame matching it (e.g. --frame 'Predicate\\.create').

QueryPlanningTracker phases are whole milliseconds, too coarse to show a
1 ms move; sampled stacks are not. Record a benchmark run with

    JAVA_TOOL_OPTIONS="-XX:FlightRecorderOptions=stackdepth=400 \\
      -XX:StartFlightRecording=filename=rec.jfr,settings=profile" \\
        python3 perfbench/run.py --workload sql_knn_serve --seed 901 --seconds 10 --trace 0

(build first, so the recording comes from the workload JVM only; Spark
stacks are deeper than JFR's default 64 recorded frames, and a truncated
stack loses the outer frames that name its phase).
"""
import argparse
import re
import subprocess
import sys

# (bucket, frame regex); a frame is "package.Class.method(...)". Analysis
# and optimization are told apart by QueryExecution's phase closures, not
# by rule packages: the analyzer also runs rules from the optimizer
# package (OptimizeUpdateFields, ComputeCurrentTime).
PHASES = [
    ("serve", re.compile(r"graft\.store\.ColdTier\$?\.(serveLocal|searchIndexed)|"
                         r"graft\.plans\.KnnServeExec\.\S*serve\(")),
    # the session parser wrapper's own lexing, literal folding and origin
    # rebuild are parse work too
    ("parse", re.compile(r"org\.apache\.spark\.sql\.catalyst\.parser\.|"
                         r"org\.apache\.spark\.sql\.execution\.SparkSqlParser|"
                         r"graft\.plans\.VectorLiteralParser|"
                         r"org\.antlr\.")),
    ("analyze", re.compile(r"QueryExecution\.\$anonfun\$(lazyAnalyzed|analyzed)|"
                           r"QueryExecution\.assertAnalyzed|"
                           r"analysis\.Analyzer\.executeAndCheck")),
    ("optimize", re.compile(r"QueryExecution\.\$anonfun\$(lazyOptimizedPlan|optimizedPlan)")),
    ("execute", re.compile(r"org\.apache\.spark\.sql\.execution\.SparkPlan\.execute|"
                           r"QueryExecution\.\$anonfun\$(lazySparkPlan|sparkPlan|lazyExecutedPlan|executedPlan)|"
                           r"QueryExecution\$\.\S*(prepareForExecution|createSparkPlan)|"
                           r"SQLExecution\$\.|Dataset\.\S*(withAction|collectFromPlan)")),
]
BUCKETS = ["parse", "analyze", "optimize", "serve", "execute", "client"]

THREAD_RE = re.compile(r'sampledThread = "([^"]*)"')


def samples(path):
    """Yield (thread name, [frames innermost first]) per execution sample."""
    out = subprocess.run(["jfr", "print", "--events", "jdk.ExecutionSample",
                          "--stack-depth", "400", path],
                         check=True, capture_output=True, text=True).stdout
    thread, frames, in_stack = None, [], False
    for line in out.splitlines():
        s = line.strip()
        if s.startswith("jdk.ExecutionSample"):
            thread, frames, in_stack = None, [], False
        elif s.startswith("sampledThread"):
            m = THREAD_RE.search(s)
            thread = m.group(1) if m else ""
        elif s.startswith("stackTrace = ["):
            in_stack = True
        elif in_stack and s == "]":
            in_stack = False
        elif in_stack and s and s != "...":
            frames.append(s.split(" line:")[0])
        elif s == "}" and thread is not None:
            yield thread, frames
            thread = None


def bucket(frames):
    for f in frames:  # innermost first
        for name, rx in PHASES:
            if rx.search(f):
                return name
    return "client"


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("recording")
    ap.add_argument("--threads", default=r"perfbench-sql-client",
                    help="regex on the sampled thread name")
    ap.add_argument("--frame", action="append", default=[],
                    help="also report the share of samples with a frame matching this regex")
    a = ap.parse_args(argv)
    keep = re.compile(a.threads)
    counts = {b: 0 for b in BUCKETS}
    frame_rx = [(f, re.compile(f)) for f in a.frame]
    frame_hits = {f: 0 for f in a.frame}
    total = 0
    for thread, frames in samples(a.recording):
        if not keep.search(thread):
            continue
        total += 1
        counts[bucket(frames)] += 1
        for f, rx in frame_rx:
            if any(rx.search(x) for x in frames):
                frame_hits[f] += 1
    if total == 0:
        print(f"no samples on threads matching {a.threads!r}", file=sys.stderr)
        return 1
    print(f"{total} samples on threads matching {a.threads!r}")
    for b in BUCKETS:
        print(f"  {b:<9} {counts[b]:>7}  {100.0 * counts[b] / total:5.1f}%")
    for f in a.frame:
        print(f"  frame {f!r}: {frame_hits[f]} samples, "
              f"{100.0 * frame_hits[f] / total:.1f}%")
    return 0


if __name__ == "__main__":
    sys.exit(main())

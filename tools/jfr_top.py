#!/usr/bin/env python3
"""Where a Spark executor's CPU samples went, from a JFR recording.

Usage:
    python3 tools/jfr_top.py <recording.jfr> [--top N] [--frame PREFIX ...]

Reads the recording's `jdk.ExecutionSample` events through
`jfr print --stack-depth 300` (the default depth of 5 cuts the stacks
above the task's run loop, so the stage kind cannot be seen) and keeps
the samples of executor threads (`Executor task launch worker ...`).
It prints:

  * the share of samples per stage kind, told apart by the task class on
    the stack (`ShuffleMapTask` or `ResultTask`);
  * per stage kind, the top frames by self time (top of stack) and by
    inclusive time (anywhere on the stack, counted once per sample);
  * with `--frame`, the inclusive share of every frame starting with one
    of the given prefixes, e.g. `--frame graft.functions.PyRandom`.
"""
import argparse
import collections
import re
import subprocess
import sys

FRAME = re.compile(r"^\s+([\w$.<>]+)\(")
THREAD = re.compile(r'sampledThread = "([^"]*)"')
# frames on every task's stack, which say nothing about where time went
RUN_LOOP = ("java.lang.Thread.", "java.util.concurrent.", "scala.runtime.",
            "org.apache.spark.executor.", "org.apache.spark.scheduler.",
            "org.apache.spark.TaskContext", "org.apache.spark.util.", "org.apache.spark.rdd.")


def samples(path):
    """Yields (thread name, [frames, top first]) per execution sample."""
    out = subprocess.run(
        ["jfr", "print", "--events", "jdk.ExecutionSample", "--stack-depth", "300", path],
        check=True, capture_output=True, text=True).stdout
    for block in out.split("jdk.ExecutionSample {")[1:]:
        m = THREAD.search(block)
        frames = [f.group(1) for f in map(FRAME.match, block.splitlines()) if f]
        if m and frames:
            yield m.group(1), frames


def kind(frames):
    for f in frames:
        if f.startswith("org.apache.spark.scheduler.ShuffleMapTask."):
            return "ShuffleMapTask"
        if f.startswith("org.apache.spark.scheduler.ResultTask."):
            return "ResultTask"
    return "other"


def pct(c, n):
    return f"{100.0 * c / max(n, 1):5.1f}%"


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("recording")
    ap.add_argument("--top", type=int, default=15)
    ap.add_argument("--frame", action="append", default=[],
                    help="report the inclusive share of frames with this prefix")
    args = ap.parse_args()

    by_kind = collections.Counter()
    self_time = collections.defaultdict(collections.Counter)
    inclusive = collections.defaultdict(collections.Counter)
    n = 0
    for thread, frames in samples(args.recording):
        if "Executor task launch worker" not in thread:
            continue
        n += 1
        k = kind(frames)
        by_kind[k] += 1
        self_time[k][frames[0]] += 1
        for f in set(frames):
            inclusive[k][f] += 1
    if n == 0:
        sys.exit("no executor-thread samples in the recording")

    print(f"{n} executor-thread samples")
    for k, c in by_kind.most_common():
        print(f"{pct(c, n)}  {k}")
    for k, c in by_kind.most_common():
        print(f"\n== {k}: {c} samples; shares are of all executor samples")
        print("-- self")
        for f, fc in self_time[k].most_common(args.top):
            print(f"{pct(fc, n)}  {f}")
        print("-- inclusive (task run-loop frames left out)")
        shown = [(f, fc) for f, fc in inclusive[k].most_common()
                 if not f.startswith(RUN_LOOP)][:args.top]
        for f, fc in shown:
            print(f"{pct(fc, n)}  {f}")
    if args.frame:
        print("\n== frames by prefix (inclusive)")
        total = collections.Counter()
        for k in inclusive:
            for f, c in inclusive[k].items():
                if f.startswith(tuple(args.frame)):
                    total[f] += c
        for f, c in total.most_common():
            print(f"{pct(c, n)}  {f}")


if __name__ == "__main__":
    main()

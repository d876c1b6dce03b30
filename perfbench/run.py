#!/usr/bin/env python3
"""Benchmark of the deid engine: two batch workloads at local[nproc].

Usage, from the repository root:

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Workloads: deid_write, curation (see perfbench/README.md).
The first run builds the engine and the benchmark runner from source with
sbt; later runs reuse the build while the sources are unchanged. The run
writes its seeded input tables, Spark scratch space and outputs under
`.bench_build/perfbench/` and removes them when it ends. The last line of
standard output is the result as one JSON object.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

import fixtures

BENCH = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(BENCH)
BUILD = os.path.join(REPO, ".bench_build", "perfbench")

# seeded input sizes per workload
SIZES = {
    "deid_write": {"orders": (20000,)},
    "curation": {"documents": (5000,), "events": (100000, 1500)},
}

# per-layer metric groups each workload exercises; the metrics of the other
# groups read 0 in its traced runs
LAYERS = {
    "deid_write": {"host", "trace", "jvm", "spark", "extract", "detect", "resolve",
                   "functions", "redact", "pipeline", "write", "plans"},
    "curation": {"host", "trace", "jvm", "spark", "ops"},
}

# module access the engine needs on JDK 17 outside spark-submit; the same
# list as the engine's own build
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]

RUN_LIMIT_S = 170


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(1)


def source_stamp():
    """Hash of every file the build reads."""
    h = hashlib.sha256()
    roots = [os.path.join(REPO, "src", "main"), os.path.join(REPO, "project"),
             os.path.join(BENCH, "src"), os.path.join(BENCH, "project")]
    files = [os.path.join(REPO, "build.sbt"), os.path.join(BENCH, "build.sbt")]
    for root in roots:
        for d, dirs, names in os.walk(root):
            dirs[:] = sorted(x for x in dirs if x not in ("target", "project"))
            files += [os.path.join(d, n) for n in sorted(names)]
    for f in files:
        h.update(os.path.relpath(f, REPO).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()[:16]


def build():
    """Compile the engine and the runner; returns the runtime classpath.

    sbt compiles into the build's `target/` directories, which the next
    build of other sources overwrites. So the class directories are copied
    to `classes-<stamp>/` and the cached classpath names the copies: a
    classpath found for a stamp always runs the classes of that stamp.
    """
    for need in ("build.sbt", os.path.join("src", "main", "scala")):
        if not os.path.exists(os.path.join(REPO, need)):
            fail(f"engine sources not found: {need} is missing")
    stamp = source_stamp()
    cp_file = os.path.join(BUILD, f"classpath-{stamp}.txt")
    classes = os.path.join(BUILD, f"classes-{stamp}")
    if os.path.exists(cp_file) and os.path.isdir(classes):
        with open(cp_file) as fh:
            return fh.read().strip()
    os.makedirs(BUILD, exist_ok=True)
    log = os.path.join(BUILD, "build.log")
    with open(log, "w") as fh:
        rc = subprocess.run(
            ["sbt", "-batch", "-Dsbt.server.autostart=false",
             "compile", "export Runtime/fullClasspath"],
            cwd=BENCH, stdout=fh, stderr=subprocess.STDOUT,
            stdin=subprocess.DEVNULL, timeout=800).returncode
    with open(log) as fh:
        lines = fh.read().splitlines()
    cps = [l for l in lines if not l.startswith("[") and "scala-2.13/classes" in l]
    if rc != 0 or not cps:
        print("\n".join(lines[-30:]), file=sys.stderr)
        fail(f"build failed (sbt exit {rc}); log at {log}")
    shutil.rmtree(classes, ignore_errors=True)
    entries = []
    for i, entry in enumerate(cps[-1].split(os.pathsep)):
        if os.path.isdir(entry) and os.path.realpath(entry).startswith(
                os.path.realpath(REPO) + os.sep):
            copy = os.path.join(classes, str(i))
            shutil.copytree(entry, copy)
            entry = copy
        entries.append(entry)
    cp = os.pathsep.join(entries)
    with open(cp_file + ".tmp", "w") as fh:
        fh.write(cp)
    os.replace(cp_file + ".tmp", cp_file)
    return cp


def cpu_ticks():
    """(steal, total) CPU ticks of the machine since boot, or None."""
    try:
        with open("/proc/stat") as fh:
            ticks = [int(x) for x in fh.readline().split()[1:9]]
    except (OSError, ValueError):
        return None
    return ticks[7], sum(ticks)


def run_jvm(cp, args, log_path, timeout):
    heap = "3g"
    cmd = (["java", f"-Xms{heap}", f"-Xmx{heap}",
            f"-Djava.io.tmpdir={os.path.join(args.work, 'tmp')}"]
           + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", cp, "perfbench.Main",
              "--workload", args.workload, "--seed", str(args.seed),
              "--seconds", str(args.seconds), "--trace", str(args.trace),
              "--data", args.data, "--work", args.work, "--spans", args.spans])
    os.makedirs(os.path.join(args.work, "tmp"), exist_ok=True)
    with open(log_path, "w") as log:
        proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=log,
                                stdin=subprocess.DEVNULL, text=True)
        try:
            out, _ = proc.communicate(timeout=timeout)
        except subprocess.TimeoutExpired:
            fail(f"runner exceeded {timeout:.0f} s; log at {log_path}")
        finally:
            # also on a timeout or a signal: the runner never outlives this
            if proc.poll() is None:
                proc.kill()
                proc.wait()
    lines = [l for l in out.splitlines() if l.startswith("PERFBENCH_RESULT ")]
    if proc.returncode != 0 or not lines:
        with open(log_path) as fh:
            print("".join(fh.readlines()[-40:]), file=sys.stderr)
        fail(f"runner exited {proc.returncode} without a result; log at {log_path}")
    return json.loads(lines[-1][len("PERFBENCH_RESULT "):])


def oracle_failures(data, check_dir):
    """Compare each curation query that wrote a result with its DuckDB
    oracle, the way the engine's oracle gate does: columns by name, rows
    order-insensitive, values exact, dtype kinds equal."""
    import duckdb
    import pandas as pd
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    for t in ("documents", "events"):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{data}/{t}.parquet'")
    with open(os.path.join(check_dir, "oracle_sql.json")) as fh:
        oracle = json.load(fh)
    problems = []
    for name, sql in oracle.items():
        try:
            want = con.execute(sql).fetchdf()
            got = con.execute(f"SELECT * FROM '{check_dir}/{name}/*.parquet'").fetchdf()
            want = want.reindex(sorted(want.columns), axis=1)
            got = got.reindex(sorted(got.columns), axis=1)
            if list(want.columns) != list(got.columns) or len(want) != len(got):
                raise AssertionError(f"shape {got.shape} vs oracle {want.shape}")
            w = want.sort_values(by=list(want.columns)).reset_index(drop=True)
            g = got.sort_values(by=list(got.columns)).reset_index(drop=True)
            if [c.kind for c in w.dtypes] != [c.kind for c in g.dtypes]:
                raise AssertionError("dtype kinds differ")
            pd.testing.assert_frame_equal(w, g, check_dtype=False, check_exact=True)
            if len(w) == 0:
                raise AssertionError("empty result")
        except Exception as e:  # noqa: BLE001 - every failure is a wrong output
            problems.append(f"{name}: {str(e)[:300]}")
    con.close()
    return problems


def expected_metrics(trace):
    path = os.path.join(REPO, "BENCHMARK.json")
    with open(path) as fh:
        spec = json.load(fh)
    return spec["per_layer" if trace else "end_to_end"]


def main():
    p = argparse.ArgumentParser()
    p.add_argument("--workload", required=True, choices=sorted(SIZES))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args()
    # a terminated run unwinds, so it stops the runner and removes its files
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    cp = build()
    # the run limit starts after the build: only a checkout's first run builds
    started = time.monotonic()
    run_dir = os.path.join(BUILD, "run")
    shutil.rmtree(run_dir, ignore_errors=True)
    args.data = os.path.join(run_dir, "data")
    args.work = os.path.join(run_dir, "work")
    for d in ("traces", "logs"):
        os.makedirs(os.path.join(BUILD, d), exist_ok=True)
    tag = f"{args.workload}-seed{args.seed}-trace{args.trace}"
    args.spans = os.path.join(BUILD, "traces", f"{tag}.json")
    try:
        fixtures.write(args.data, args.seed, SIZES[args.workload])
        remaining = RUN_LIMIT_S - (time.monotonic() - started)
        before = cpu_ticks()
        res = run_jvm(cp, args, os.path.join(BUILD, "logs", f"{tag}.log"),
                      max(remaining, 60))
        after = cpu_ticks()
        if before and after and after[1] > before[1]:
            # CPU time the hypervisor gave to other guests while the runner
            # ran: a run with a high share was throttled
            res["host"]["cpu_steal_frac"] = (after[0] - before[0]) / (after[1] - before[1])
        oracle = []
        if args.workload == "curation":
            oracle = oracle_failures(args.data, os.path.join(args.work, "check"))
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)

    for prob in res["problems"] + oracle:
        print(f"perfbench: wrong output: {prob}", file=sys.stderr)
    failed = res["failed"] + len(oracle)
    metrics = {}
    for spec in expected_metrics(args.trace):
        name = spec["name"]
        if name in res["metrics"]:
            metrics[name] = res["metrics"][name]
        elif args.trace and name.split(".")[0] not in LAYERS[args.workload]:
            metrics[name] = {"value": 0, "unit": spec["unit"]}
        else:
            fail(f"metric {name} was not measured")
        if metrics[name]["value"] is None:
            fail(f"metric {name} has no value")
    print(json.dumps({"host": res["host"]}))
    print(json.dumps({"correct": failed == 0, "attempted": res["attempted"],
                      "failed": failed, "metrics": metrics}))

if __name__ == "__main__":
    main()

#!/usr/bin/env python3
"""graft benchmark: one workload, one seed, one cold JVM at local[4].

Usage (from the root of a checkout of the engine):
  python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Builds the engine and the harness (perfbench/harness) with sbt when their
sources are newer than the last build, then runs the workload's queries over
the sf0.1 tables in perfbench/data/sf0.1 in a closed loop with one client for
--seconds (see perfbench/README.md). Afterwards every
query's result is checked against the DuckDB oracle with
scripts/local_verify.py. The last line of stdout is one JSON object:
end-to-end metrics with --trace 0, per-layer metrics with --trace 1.
Everything the run writes stays under perfbench/.work and is removed when
the run ends, except the build and the last span file per workload.
"""
import argparse
import glob
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

import pyarrow.parquet as pq

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
HARNESS = os.path.join(HERE, "harness")
WORK = os.path.join(HERE, ".work")
DATA = os.path.join(HERE, "data", "sf0.1")
LAUNCH = os.path.join(HARNESS, "target", "launch.txt")
CORES = 4            # local[4]: this machine's nproc
SETUP_SAMPLES = 2    # cold JVMs per run whose set-up time is sampled
RUN_TIMEOUT_S = 170  # for all JVMs of one run, after the build
SBT_OPTS = "-Dsbt.override.build.repos=true -Dsbt.offline=true -Xmx2g"


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def newest_mtime(paths):
    newest = 0.0
    for p in paths:
        for d, _, files in os.walk(p):
            for f in files:
                newest = max(newest, os.path.getmtime(os.path.join(d, f)))
    return newest


def build():
    """Compiles the engine and the harness; returns (classpath, jvm options)."""
    inputs = [os.path.join(ROOT, "src", "main"), os.path.join(HARNESS, "src", "main")]
    build_files = [os.path.join(ROOT, "build.sbt"), os.path.join(HARNESS, "build.sbt")]
    if not all(os.path.isdir(p) for p in inputs) or \
            not all(os.path.isfile(f) for f in build_files):
        sys.exit("perfbench: run from the root of a checkout of the engine")
    stale = not os.path.exists(LAUNCH) or os.path.getmtime(LAUNCH) < max(
        newest_mtime(inputs), *(os.path.getmtime(f) for f in build_files))
    if stale:
        log("building engine and harness with sbt")
        env = dict(os.environ, COURSIER_MODE="offline",
                   SBT_OPTS=os.environ.get("SBT_OPTS", SBT_OPTS))
        r = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "benchLaunch"],
                           cwd=HARNESS, env=env, stdin=subprocess.DEVNULL,
                           stdout=sys.stderr, stderr=sys.stderr)
        if r.returncode != 0 or not os.path.exists(LAUNCH):
            sys.exit("perfbench: build failed")
    with open(LAUNCH) as f:
        lines = f.read().splitlines()
    return lines[0], lines[1:]


def jvm(cp, opts, run_dir, args, tag, deadline):
    """Runs one cold benchmark JVM in `run_dir` and returns its set-up time:
    from process start until the JVM prints READY. Exits on failure or when
    the JVM is still running at `deadline` (a time.monotonic() value)."""
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(run_dir, "spark-local"))
    cmd = ["java", *opts, f"-Djava.io.tmpdir={tmp}", "-cp", cp, "graftbench.Main", *args]
    with open(os.path.join(run_dir, f"{tag}.log"), "w") as err:
        t0 = time.monotonic()
        p = subprocess.Popen(cmd, cwd=run_dir, env=env, stdin=subprocess.DEVNULL,
                             stdout=subprocess.PIPE, stderr=err, text=True)
        setup = None
        try:
            for line in p.stdout:
                if setup is None and line.strip() == "READY":
                    setup = time.monotonic() - t0
                    if args[0] == "setup":  # nothing left to measure
                        p.kill()
            code = p.wait(timeout=max(1.0, deadline - time.monotonic()))
            if args[0] == "setup" and setup is not None:
                code = 0
        except subprocess.TimeoutExpired:
            code = None
        finally:
            if p.poll() is None:
                p.kill()
                p.wait()
    with open(os.path.join(run_dir, f"{tag}.log")) as f:
        jvm_log = f.read()
    if code != 0 or setup is None:
        sys.stderr.write(jvm_log[-4000:])
        sys.exit(f"perfbench: {tag} JVM failed (exit {code})")
    for line in jvm_log.splitlines():
        if line.startswith("[graftbench]"):
            print(line, file=sys.stderr)
    return setup


def verify(run_dir, names):
    """Oracle compare through scripts/local_verify.py, plus the row-count
    check for queries without an oracle row. Returns {query: reason}."""
    results = os.path.join(run_dir, "results")
    with open(os.path.join(results, "oracle_sql.json")) as f:
        oracle = json.load(f)
    failures = {}
    if oracle:
        r = subprocess.run([sys.executable, os.path.join(ROOT, "scripts", "local_verify.py"),
                            DATA, results], capture_output=True, text=True)
        seen = set()
        for line in r.stdout.splitlines():
            word, _, rest = line.partition(" ")
            name = rest.split("  ")[0]
            if word in ("PASS", "FAIL") and name in oracle:
                seen.add(name)
                if word == "FAIL":
                    failures[name] = rest[len(name):].strip()
        for name in set(oracle) - seen:
            failures[name] = "no verdict from local_verify.py: " + r.stderr[-300:]

    def rows(path):
        files = sorted(glob.glob(os.path.join(path, "part-*.parquet")))
        return sum(pq.ParquetFile(f).metadata.num_rows for f in files) if files else None

    for name in names:
        if name in oracle:
            continue
        a = rows(os.path.join(results, name))
        b = rows(os.path.join(run_dir, "repeat", name))
        if not a or a != b:
            failures[name] = f"rows {a} then {b}; expected the same count > 0"
    return failures


def fmt(v):
    """A metric for the summary; None is a time that a failed query made
    infinite, which the harness writes as null."""
    return f"{'null' if v is None else f'{v:.6f}':>16}"


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    with open(os.path.join(HERE, "workloads.json")) as f:
        workloads = json.load(f)
    if a.workload not in workloads:
        sys.exit(f"perfbench: unknown workload {a.workload}; have {sorted(workloads)}")
    w = workloads[a.workload]
    names = w["queries"]

    cp, opts = build()
    deadline = time.monotonic() + RUN_TIMEOUT_S
    run_dir = os.path.join(WORK, "runs", f"{a.workload}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(os.path.join(run_dir, "results"))
    try:
        base = [f"data={DATA}", f"cores={CORES}"]
        setups = [jvm(cp, opts, run_dir, ["run", *base, f"workload={a.workload}",
                                          f"queries={','.join(names)}", f"seed={a.seed}",
                                          f"seconds={a.seconds}", f"trace={a.trace}",
                                          f"dialect={','.join(w['dialect'])}",
                                          f"pipeline={','.join(w['pipeline'])}",
                                          f"out={run_dir}"], "run", deadline)]
        with open(os.path.join(run_dir, "result.json")) as f:
            res = json.load(f)
        failures = verify(run_dir, names)
        for e in res["verify_errors"]:
            failures[e["query"]] = e["error"]
        # set-up time is an end-to-end metric; traced runs report per-layer ones
        for i in range(0 if a.trace else SETUP_SAMPLES - 1):
            setups.append(jvm(cp, opts, run_dir, ["setup", *base], f"setup{i}", deadline))
        if a.trace:
            traces = os.path.join(WORK, "traces")
            os.makedirs(traces, exist_ok=True)
            shutil.copy(os.path.join(run_dir, "spans.json"),
                        os.path.join(traces, f"{a.workload}.json"))
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)

    for e in res["errors"]:
        log(f"FAILED {e['query']} (pass {e['pass']}): {e['error']}")
    for q, why in sorted(failures.items()):
        log(f"INCORRECT {q}: {why}")
    attempted = res["attempted"] + len(names)
    failed = res["failed"] + len(failures)
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        declared = json.load(f)["per_layer" if a.trace else "end_to_end"]
    values = res["layers"] if a.trace else dict(res["e2e"], setup_s=statistics.median(setups))
    if sorted(values) != sorted(m["name"] for m in declared):
        sys.exit(f"perfbench: measured {sorted(values)}, BENCHMARK.json declares "
                 f"{sorted(m['name'] for m in declared)}")
    n = len(res["samples"])
    counts = {"setup_s": len(setups), "pass_s": len(res["passes"]), "query_p50_s": n}
    print(f"workload {a.workload}  seed {a.seed}  queries {len(names)}  "
          f"local[{CORES}]  closed loop, 1 client  trace {a.trace}")
    for m in declared:
        note = f"  (n={counts[m['name']]})" if m["name"] in counts else ""
        print(f"  {m['name']:<30} {fmt(values[m['name']])} {m['unit']}{note}")
    if not a.trace:
        # p90 once 100 samples support it, else the highest supported percentile
        t = res["tail"]
        print(f"  {'query_p' + str(t['percentile']) + '_s':<30} {fmt(t['value'])} s  (n={n})"
              if t else f"  query tail: {n} samples support no percentile above the median")
    print(f"  {'failed_frac':<30} {failed / attempted:>16.6f}  (n={attempted})")
    metrics = {m["name"]: {"value": values[m["name"]], "unit": m["unit"]} for m in declared}
    print(json.dumps({"correct": failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": metrics}, allow_nan=False))


if __name__ == "__main__":
    main()

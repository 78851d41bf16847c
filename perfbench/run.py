#!/usr/bin/env python3
"""graft's repository benchmark: the sync lifecycle, the JDBC merge sink and
the hot analytic queries.

Usage (from the repository root):

    python3 perfbench/run.py --workload sync_parquet|sync_jdbc|queries_hot \
        --seed N --seconds S --trace 0|1

It builds the harness (perfbench/build.sbt, which depends on the library at
the repository root) on first use, makes the workload's inputs from the seed,
runs one JVM that sets up, measures for about S seconds and checks every
operation, checks the query outputs against their DuckDB SQL, and prints a
readable report followed by one JSON line:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With --trace 0 the metrics are the end-to-end metrics of BENCHMARK.json;
with --trace 1 the per-layer ones (a layer the workload does not touch reads
0). Everything the run writes stays under perfbench/.out and perfbench/.build.
"""
import argparse
import hashlib
import json
import math
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD_DIR = os.path.join(HERE, ".build")
OUT_DIR = os.path.join(HERE, ".out")
sys.path.insert(0, HERE)

import gen_tables  # noqa: E402
import checks  # noqa: E402

WORKLOADS = ("sync_parquet", "sync_jdbc", "queries_hot")

# Graded top-cost queries that fit a run, DuckDB check included, and those
# only a traced run affords (see README.md).
HOT_QUERIES = ["dd_ppjoin", "stream_mp"]
DIAGNOSTIC_QUERIES = ["inc_power_delta", "graph_louvain"]

RUN_LIMIT_S = 175          # a run must end within 180 s
BUILD_LIMIT_S = 840        # the first run of a checkout may build
HEAP = "3g"

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def cpu_count():
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


# ---- build ---------------------------------------------------------------

def _stamp():
    """Digest of every input of the build, so a changed source rebuilds."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src", "main")]
    files = [os.path.join(ROOT, "build.sbt"),
             os.path.join(ROOT, "project", "build.properties"),
             os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        for d, _, names in os.walk(r):
            files += [os.path.join(d, n) for n in names]
    for f in sorted(files):
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def sbt_env():
    env = dict(os.environ)
    env["COURSIER_MODE"] = "offline"
    if not env.get("SBT_OPTS"):
        opts = ["-Dsbt.offline=true", "-Dsbt.override.build.repos=true",
                "-Xmx2g"]
        repos = os.path.expanduser("~/.sbt/repositories")
        if os.path.exists(repos):
            opts.append(f"-Dsbt.repository.config={repos}")
        env["SBT_OPTS"] = " ".join(opts)
    return env


def build():
    """Compile the library and the harness; return the runtime classpath."""
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        fail("the graft sources (src/main/scala/graft) are not next to the "
             "benchmark; run it from a full checkout")
    os.makedirs(BUILD_DIR, exist_ok=True)
    stamp = _stamp()
    cp_file = os.path.join(BUILD_DIR, "classpath.txt")
    stamp_file = os.path.join(BUILD_DIR, "stamp.txt")
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read().strip() == stamp:
                with open(cp_file) as g:
                    return g.read().strip()
    proc = subprocess.run(
        ["sbt", "-batch", "-Dsbt.log.noformat=true", "compile",
         "export Runtime/fullClasspath"],
        cwd=HERE, env=sbt_env(), stdout=subprocess.PIPE,
        stderr=subprocess.STDOUT, text=True, timeout=BUILD_LIMIT_S)
    lines = [l.strip() for l in proc.stdout.splitlines()]
    cps = [l for l in lines if not l.startswith("[") and "scala-library" in l]
    if proc.returncode != 0 or not cps:
        sys.stderr.write(proc.stdout[-4000:])
        fail("build failed")
    with open(cp_file, "w") as f:
        f.write(cps[-1])
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return cps[-1]


def git_rev():
    try:
        out = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT,
                             stdout=subprocess.PIPE, stderr=subprocess.DEVNULL,
                             text=True, timeout=10)
        return out.stdout.strip() or "unknown"
    except (OSError, subprocess.SubprocessError):
        return "unknown"


# ---- one run -------------------------------------------------------------

def run_jvm(classpath, args, work, deadline):
    cmd = (["java", f"-Xmx{HEAP}"] +
           [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")] +
           ["-Dspark.ui.enabled=false",
            f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
            f"-Dderby.stream.error.file={os.path.join(work, 'derby.log')}",
            "-cp", classpath, "perfbench.Main"] + args)
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    log_path = os.path.join(work, "jvm.log")
    with open(log_path, "w") as log:
        proc = subprocess.Popen(cmd, cwd=work, stdout=log,
                                stderr=subprocess.STDOUT,
                                start_new_session=True)
        try:
            proc.wait(timeout=max(1.0, deadline - time.time()))
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            fail(f"the run did not finish in time (log: {log_path})")
    if proc.returncode != 0:
        with open(log_path) as f:
            sys.stderr.write(f.read()[-4000:])
        fail(f"the harness exited with {proc.returncode}")


def load_spec():
    path = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.exists(path):
        fail("BENCHMARK.json not found at the repository root")
    with open(path) as f:
        return json.load(f)


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    spec = load_spec()
    classpath = build()
    start = time.time()
    deadline = start + RUN_LIMIT_S
    cpus = cpu_count()

    work = os.path.join(OUT_DIR, f"run-{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        args = ["--workload", a.workload, "--seed", str(a.seed),
                "--seconds", str(a.seconds), "--trace", str(a.trace),
                "--cpus", str(cpus), "--work", work,
                "--out", os.path.join(work, "result.json"), "--rev", git_rev()]
        if a.workload == "queries_hot":
            data = os.path.join(work, "data")
            gen_s = []
            for _ in range(3):
                t0 = time.perf_counter()
                gen_tables.generate(data, a.seed)
                gen_s.append(time.perf_counter() - t0)
            args += ["--data", data, "--queries", ",".join(HOT_QUERIES),
                     "--diagnostic-queries", ",".join(DIAGNOSTIC_QUERIES),
                     "--gen-seconds", ",".join(f"{s:.6f}" for s in gen_s)]
        run_jvm(classpath, args, work, deadline)
        with open(os.path.join(work, "result.json")) as f:
            res = json.load(f)

        failures = list(res["failures"])
        bad = checks.check_targets(res["target_checks"])
        queries = res["oracle_checks"]
        if queries:
            bad += checks.check_queries(data, queries, cpus)
        failed = res["failed"] + len(bad)
        failures += [f"{n}: check failed: {why}" for n, why in bad]
        if a.trace == 1:
            spans = os.path.join(work, "result.json.spans.json")
            if os.path.exists(spans):
                os.makedirs(os.path.join(OUT_DIR, "traces"), exist_ok=True)
                shutil.copy(spans, os.path.join(
                    OUT_DIR, "traces", f"{a.workload}-seed{a.seed}.json"))
    finally:
        shutil.rmtree(work, ignore_errors=True)

    e2e, layer, report = res["end_to_end"], res["per_layer"], res["report"]
    attempted = max(1, res["attempted"])
    report["failed_share"] = failed / attempted

    print(f"== perfbench {a.workload} seed={a.seed} trace={a.trace}")
    for k, v in report.items():
        print(f"  {k}: {v}")
    # the end-to-end figures of a traced run, to set against untraced runs
    for k, v in e2e.items():
        print(f"  end_to_end.{k}: {v}")
    for f in failures:
        print(f"  FAILED {f}")

    if a.trace == 0:
        wanted, source = spec["end_to_end"], e2e
    else:
        wanted, source = spec["per_layer"], layer
    metrics = {}
    for m in wanted:
        name = m["name"]
        if name in source:
            value = float(source[name])
        elif a.trace == 1:
            value = 0.0  # the workload does not touch this layer
        else:
            fail(f"end-to-end metric {name} missing from the run")
        if math.isnan(value) or math.isinf(value):
            fail(f"metric {name} is not a number")
        metrics[name] = {"value": value, "unit": m["unit"]}
        print(f"  metric {name} = {value} {m['unit']}")
    print(json.dumps({"context": {k: v for k, v in report.items()
                                  if k.startswith("context.")}}))
    print(json.dumps({"correct": failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))


if __name__ == "__main__":
    main()

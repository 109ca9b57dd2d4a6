#!/usr/bin/env python3
"""Run one graft benchmark workload and print its result line.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

--workload all runs every workload in turn, one result line each (with
a "workload" key) and a readable summary on standard error.

Run from the root of a graft checkout. The first run compiles graft with
the repository's own sbt build (offline) and the benchmark program with
perfbench/build.sbt; later runs reuse the classes until a source changes.
Each run starts a fresh JVM, sets SPARK_GRAFT_CPUS to the usable core
count, and keeps every file it writes under .perfbench/ in the checkout.

The last line of standard output is the result:
    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}
--trace 0 reports the end-to-end metrics, --trace 1 the per-layer ones.
The full run record (inputs, every pass, checks, per-call latencies and,
when traced, every span) is written to .perfbench/records/.
The exit code is non-zero when a call or an output check fails.
"""

import argparse
import hashlib
import json
import os
import subprocess
import sys

# the first two are the ones BENCHMARK.json lists; index_lifecycle is opt-in
WORKLOADS = ("v2f_extract", "curate_corpus", "index_lifecycle")
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 840
HEAP = "2g"
# The throughput collector: G1's concurrent threads compete with the task
# threads for the same cores, and with G1 the steady passes of one run
# spread about twice as wide.
GC = "-XX:+UseParallelGC"

# Spark on JDK 17 needs these opens when started outside spark-submit;
# the same list graft's build.sbt passes to its forked runs.
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()
STATE = os.path.join(ROOT, ".perfbench")


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_digest():
    """Digest of everything the build reads, to decide whether to rebuild."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(BENCH_DIR, "src")]
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(ROOT, "project", "build.properties"),
             os.path.join(BENCH_DIR, "build.sbt"),
             os.path.join(BENCH_DIR, "project", "build.properties")]
    for r in roots:
        for d, _, names in os.walk(r):
            files += [os.path.join(d, n) for n in names]
    for f in sorted(files):
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build():
    """Compile graft and the benchmark; return the runtime classpath."""
    stamp = os.path.join(STATE, "build", "stamp")
    cp_file = os.path.join(STATE, "build", "classpath")
    digest = source_digest()
    if os.path.exists(stamp) and os.path.exists(cp_file):
        with open(stamp) as fh:
            if fh.read() == digest:
                with open(cp_file) as fh:
                    return fh.read()
    os.makedirs(os.path.dirname(stamp), exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = ["-Dsbt.offline=true", "-Dsbt.server.autostart=false", "-Xmx2g"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    log = os.path.join(STATE, "build", "sbt.log")
    with open(log, "w") as lf:
        try:
            p = subprocess.run(
                ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                 "export Runtime/fullClasspath"],
                cwd=BENCH_DIR, env=env, stdout=subprocess.PIPE, stderr=lf,
                timeout=BUILD_TIMEOUT_S, text=True)
        except subprocess.TimeoutExpired:
            fail(f"build timed out; see {log}")
    lf_lines = p.stdout.splitlines()
    with open(log, "a") as lf:
        lf.write(p.stdout)
    if p.returncode != 0:
        fail(f"build failed (exit {p.returncode}); see {log}")
    cp = [l for l in lf_lines if ".jar" in l and not l.startswith("[")]
    if not cp:
        fail(f"build printed no classpath; see {log}")
    with open(cp_file, "w") as fh:
        fh.write(cp[-1].strip())
    with open(stamp, "w") as fh:
        fh.write(digest)
    return cp[-1].strip()


def run_one(cp, workload, seed, seconds, trace):
    """One fresh JVM; returns (result or None, jvm exit code, log path)."""
    cores = len(os.sched_getaffinity(0))
    tmp = os.path.join(STATE, "tmp")
    work = os.path.join(STATE, "work", workload)
    name = f"{workload}-seed{seed}-trace{trace}"
    record = os.path.join(STATE, "records", f"{name}.json")
    log = os.path.join(STATE, "logs", f"{name}.log")
    os.makedirs(tmp, exist_ok=True)
    os.makedirs(os.path.dirname(log), exist_ok=True)
    env = dict(os.environ, SPARK_GRAFT_CPUS=str(cores))
    cmd = (["java"] + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")] +
           # no hsperfdata file outside the checkout
           [f"-Xms{HEAP}", f"-Xmx{HEAP}", GC, "-XX:-UsePerfData",
            f"-XX:ActiveProcessorCount={cores}",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            f"-Dspark.local.dir={tmp}", f"-Djava.io.tmpdir={tmp}",
            f"-Dspark.sql.warehouse.dir={os.path.join(STATE, 'warehouse')}",
            "-cp", cp, "graftbench.Main",
            "--workload", workload, "--seed", str(seed), "--seconds", str(seconds),
            "--trace", str(trace), "--work", work, "--record", record])
    with open(log, "w") as lf:
        try:
            p = subprocess.run(cmd, cwd=ROOT, env=env, stdout=subprocess.PIPE, stderr=lf,
                               timeout=RUN_TIMEOUT_S, text=True)
        except subprocess.TimeoutExpired:
            fail(f"run exceeded {RUN_TIMEOUT_S} s; see {log}")
    lines = [l for l in p.stdout.splitlines() if l.strip()]
    try:
        return json.loads(lines[-1]), p.returncode, log
    except (IndexError, ValueError):
        return None, p.returncode, log


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, help=f"one of {', '.join(WORKLOADS)}, or all")
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    names = WORKLOADS if a.workload == "all" else (a.workload,)
    if any(w not in WORKLOADS for w in names):
        fail(f"unknown workload {a.workload!r}; expected one of {', '.join(WORKLOADS)}, or all")
    for need in ("build.sbt", os.path.join("src", "main", "scala", "graft")):
        if not os.path.exists(os.path.join(ROOT, need)):
            fail(f"{need} not found: run from the root of a graft checkout")

    cp = build()
    ok = True
    for w in names:
        result, code, log = run_one(cp, w, a.seed, a.seconds, a.trace)
        if result is None:
            fail(f"{w}: run printed no result (exit {code}); see {log}")
        ok = ok and code == 0 and result.get("correct")
        if a.workload == "all":
            print(f"{w}:", ", ".join(f"{k} = {v['value']:.6g} {v['unit']}"
                                     for k, v in result["metrics"].items()), file=sys.stderr)
            result = dict(workload=w, **result)
        print(json.dumps(result))
    sys.exit(0 if ok else 1)


if __name__ == "__main__":
    main()

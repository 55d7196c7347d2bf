#!/usr/bin/env python3
"""Benchmark of the graft products, one workload per invocation.

Usage (from the root of a checkout):
    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Builds the harness (perfbench/build.sbt, which depends on the product
build) when the sources changed since the last build, runs the workload
in one JVM, and prints as its last stdout line one JSON object with
`correct`, `attempted`, `failed` and `metrics`: the end-to-end metrics of
BENCHMARK.json with --trace 0, the per-layer metrics with --trace 1.
Everything it writes stays under <checkout>/.bench_build: the build
stamp and classpath, logs, run records and trace files.
"""
import argparse
import hashlib
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
JAVA_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 840
HEAP = "2g"

# Spark 4 on JDK 17 outside spark-submit needs these opens; the same
# list as the product build's forked runs.
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
    sys.exit(1)


def source_digest():
    """Digest of everything the build compiles, to decide on a rebuild."""
    h = hashlib.sha256()
    tops = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")]
    files = [os.path.join(ROOT, "build.sbt"),
             os.path.join(ROOT, "project", "build.properties"),
             os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    for top in tops:
        for d, _, names in os.walk(top):
            files += [os.path.join(d, n) for n in names]
    for f in sorted(files):
        if os.path.isfile(f):
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build():
    """Compile product and harness once per source state; return the
    runtime classpath."""
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        fail("product sources (src/main/scala/graft) are missing")
    digest = source_digest()
    stamp = os.path.join(BUILD, "build.stamp")
    cp_file = os.path.join(BUILD, "classpath.txt")
    if os.path.exists(stamp) and os.path.exists(cp_file):
        with open(stamp) as f:
            if f.read().strip() == digest:
                with open(cp_file) as g:
                    return g.read().strip()
    os.makedirs(BUILD, exist_ok=True)
    log = os.path.join(BUILD, "build.log")
    with open(log, "w") as out:
        try:
            rc = subprocess.run(
                ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                 "export Runtime/fullClasspath"],
                cwd=HERE, stdout=out, stderr=subprocess.STDOUT,
                stdin=subprocess.DEVNULL, timeout=BUILD_TIMEOUT_S).returncode
        except subprocess.TimeoutExpired:
            fail(f"build timed out, see {log}")
    if rc != 0:
        fail(f"build failed, see {log}")
    with open(log) as f:
        cps = [ln.strip() for ln in f if ".jar" in ln and os.pathsep in ln
               and not ln.startswith("[")]
    if not cps:
        fail(f"no classpath in {log}")
    with open(cp_file, "w") as f:
        f.write(cps[-1])
    with open(stamp, "w") as f:
        f.write(digest)
    return cps[-1]


def git_commit():
    """The checkout's commit, or None when the checkout is no git repository."""
    if not os.path.exists(os.path.join(ROOT, ".git")):
        return None
    try:
        return subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT,
                              capture_output=True, text=True,
                              timeout=10).stdout.strip() or None
    except (OSError, subprocess.TimeoutExpired):
        return None


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    if args.workload not in [w["name"] for w in spec["workloads"]]:
        fail(f"unknown workload {args.workload}")
    declared = spec["per_layer"] if args.trace else spec["end_to_end"]

    cp = build()
    tmp = os.path.join(BUILD, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # A fixed heap with the parallel collector keeps peak RSS steady.
    # Compiler threads that stay alive keep their CPU time countable
    # (see Util.jitCpuSecs).
    cmd = (["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:+UseParallelGC",
            "-XX:-UseDynamicNumberOfCompilerThreads"]
           + [a for p in ADD_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-Dspark.ui.enabled=false",
              "-Dspark.sql.session.timeZone=UTC",
              f"-Dspark.local.dir={os.path.join(BUILD, 'spark-local')}",
              f"-Dspark.sql.warehouse.dir={os.path.join(BUILD, 'warehouse')}",
              f"-Djava.io.tmpdir={tmp}",
              f"-Dderby.system.home={tmp}",
              "-cp", cp, "perfbench.Main",
              "--workload", args.workload, "--seed", str(args.seed),
              "--seconds", str(args.seconds), "--trace", str(args.trace),
              "--root", ROOT, "--build", BUILD])
    log = os.path.join(BUILD, f"run-{args.workload}.log")
    with open(log, "w") as err:
        try:
            p = subprocess.run(cmd, cwd=BUILD, stdout=subprocess.PIPE,
                               stderr=err, stdin=subprocess.DEVNULL,
                               text=True, timeout=JAVA_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            fail(f"workload timed out after {JAVA_TIMEOUT_S} s, see {log}")
    lines = [ln for ln in p.stdout.splitlines() if ln.startswith("PERFBENCH_RESULT ")]
    if p.returncode != 0 or not lines:
        fail(f"workload exited with {p.returncode}, see {log}")
    raw = json.loads(lines[-1][len("PERFBENCH_RESULT "):])

    values = raw["metrics"]
    undeclared = sorted(set(values) - {m["name"] for m in spec["end_to_end"]}
                        - {m["name"] for m in spec["per_layer"]})
    if undeclared:
        fail(f"metrics not in BENCHMARK.json: {undeclared}")
    metrics = {}
    for m in declared:
        v = values.get(m["name"])
        if v is None:
            if not args.trace:
                fail(f"end-to-end metric {m['name']} was not measured")
            v = 0.0  # a layer this workload does not run
        metrics[m["name"]] = {"value": v, "unit": m["unit"]}

    record = dict(raw, workload=args.workload, seed=args.seed,
                  seconds=args.seconds, trace=args.trace)
    record["context"] = dict(raw["context"], git_commit=git_commit(),
                             source_digest=source_digest(), heap=HEAP)
    records = os.path.join(BUILD, "records")
    os.makedirs(records, exist_ok=True)
    with open(os.path.join(records, f"{args.workload}-seed{args.seed}"
                                    f"-trace{args.trace}.json"), "w") as f:
        json.dump(record, f, indent=1)
    for msg in raw["failures"]:
        print(f"check failed: {msg}")
    print(f"context: {json.dumps(record['context'])}")
    print(json.dumps({"correct": raw["correct"], "attempted": raw["attempted"],
                      "failed": raw["failed"], "metrics": metrics}))


if __name__ == "__main__":
    main()

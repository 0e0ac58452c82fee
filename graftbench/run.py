#!/usr/bin/env python3
"""graft's benchmark: one workload, one seed, one command.

    python3 graftbench/run.py --workload serve --seed 1 --seconds 25 --trace 0

Builds the program and the harness from source on first use (build.py),
runs the workload in one JVM against graft's public API, and prints two
JSON lines: the workload's named metrics, then the result line
{"correct", "attempted", "failed", "metrics"}. With --trace 0 the metrics
are the end-to-end metrics; with --trace 1 they are the per-layer metrics
derived (layers.py) from the trace the run writes to
.bench_build/traces/<workload>-seed<n>.jsonl. See README.md.
"""
import argparse
import glob
import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.dont_write_bytecode = True  # the checkout holds only committed files and .bench_build
import build  # noqa: E402
import layers  # noqa: E402

WORKLOADS = ("serve", "corpus_dedup")
# Spark on JDK 17 outside spark-submit (as in build.sbt's javaOptions)
ADD_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")]
# JIT and GC threads kept below the core count, beside Spark's task threads
JVM_THREADS = ["-XX:CICompilerCount=2", "-XX:ParallelGCThreads=2", "-XX:ConcGCThreads=1"]
RUN_TIMEOUT_S = 170


def harness(classpath, jvm_flags, args, log_path, extra=()):
    """Run the harness JVM in its own work directory, deleted after."""
    work = os.path.join(build.OUT, "work", f"{args.workload}-{os.getpid()}")
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    cmd = ["java", "-Xmx3g", "-XX:+UseG1GC", *JVM_THREADS, *jvm_flags, *ADD_OPENS,
           f"-Djava.io.tmpdir={work}/tmp", "-cp", classpath, "graftbench.Main",
           "--workload", args.workload, "--seed", str(args.seed), "--seconds", str(args.seconds),
           "--trace", str(args.trace), "--cores", str(args.cores), "--work", work, *extra]
    try:
        with open(log_path, "w") as log:
            return subprocess.run(cmd, stdout=subprocess.PIPE, stderr=log, text=True,
                                  timeout=RUN_TIMEOUT_S, cwd=build.ROOT)
    except subprocess.TimeoutExpired:
        return None
    finally:
        shutil.rmtree(work, ignore_errors=True)


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", required=True, type=int, choices=(0, 1))
    ap.add_argument("--cores", type=int, default=1, help="Spark local[n] threads")
    args = ap.parse_args()

    classpath, build_id = build.ensure_built()
    tag = f"{args.workload}-seed{args.seed}"
    trace_path = os.path.join(build.OUT, "traces", tag + ".jsonl")
    log_path = os.path.join(build.OUT, "logs", f"{tag}-trace{args.trace}.log")
    for d in (os.path.dirname(trace_path), os.path.dirname(log_path)):
        os.makedirs(d, exist_ok=True)
    # Class-data sharing: the first run of a workload after a build records
    # the classes it loads into an archive as it exits; later runs map it and
    # skip most of Spark's class loading.
    archive = os.path.join(build.OUT, f"cds-{args.workload}-{build_id}.jsa")
    if os.path.isfile(archive):
        cds = [f"-XX:SharedArchiveFile={archive}"]
    else:
        for old in glob.glob(os.path.join(build.OUT, f"cds-{args.workload}-*.jsa")):
            os.remove(old)
        cds = [f"-XX:ArchiveClassesAtExit={archive}"]
    extra = ["--trace-out", trace_path] if args.trace else []
    proc = harness(classpath, cds, args, log_path, extra)
    lines = [l for l in proc.stdout.splitlines() if l.startswith("{")] if proc else []
    if proc is None or proc.returncode != 0 or len(lines) < 2:
        status = "timed out" if proc is None else f"exited {proc.returncode}"
        sys.exit(f"graftbench: harness {status}; log in {log_path}")
    detail, result = json.loads(lines[-2]), json.loads(lines[-1])
    if args.trace:
        result["metrics"] = layers.per_layer(trace_path)
    print(json.dumps(detail))
    print(json.dumps(result))


if __name__ == "__main__":
    main()

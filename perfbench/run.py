#!/usr/bin/env python3
"""chdbspark benchmark: one workload, one process, one client thread.

    python3 perfbench/run.py --workload sql_analyst --seed 1 --seconds 10 --trace 0

Builds the program from source (perfbench/build.py), runs the JVM harness
(perfbench/src) on the committed sf0.01 tables, checks every answer, prints
a report and, as the last line, one JSON object:
{"correct", "attempted", "failed", "metrics"} with the end-to-end metrics
(--trace 0) or the per-layer metrics (--trace 1). See perfbench/README.md.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

BENCH = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, BENCH)
import build  # noqa: E402
from benchlib.metrics import summarize  # noqa: E402

WORKLOADS = ["sql_analyst", "llm_pipeline", "ingest_mutate"]
RUN_LIMIT_S = 170
# a fixed heap and young generation, so the resident-set peak is set by the
# workload rather than by when the collector chose to grow the heap
JVM_MEMORY = ["-Xms2g", "-Xmx2g", "-Xmn512m", "-XX:+UseParallelGC"]
JVM_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar",
]


def jvm(main, args, classes, work):
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cp = os.pathsep.join([classes, os.path.join(build.spark_jars(), "*")])
    return (["java"] + JVM_MEMORY + ["-Duser.timezone=UTC", "-Djava.io.tmpdir=" + tmp] +
            ["--add-opens=java.base/%s=ALL-UNNAMED" % p for p in JVM_OPENS] +
            ["-cp", cp, main] + [str(a) for a in args])


def run_jvm(cmd, deadline):
    """Run the harness with its stdout folded into stderr; kill its process
    group if it outlives the deadline. Returns the exit code."""
    proc = subprocess.Popen(cmd, stdout=sys.stderr, start_new_session=True)
    try:
        return proc.wait(timeout=max(1.0, deadline - time.monotonic()))
    except subprocess.TimeoutExpired:
        print("perfbench: harness exceeded its time limit", file=sys.stderr)
        return -1
    finally:
        if proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()
    try:
        classes = build.build()
    except build.BuildError as e:
        print(f"perfbench: {e}", file=sys.stderr)
        return 2
    deadline = time.monotonic() + RUN_LIMIT_S
    work = os.path.join(build.ROOT, ".bench_work", f"{a.workload}-{os.getpid()}")
    os.makedirs(work)
    try:
        out = os.path.join(work, "raw.json")
        cmd = jvm("perfbench.Main", [a.workload, a.seed, a.seconds, a.trace,
                                     os.path.join(BENCH, "data", "sf0.01"),
                                     os.path.join(BENCH, "expected", "answers.json"),
                                     work, out], classes, work)
        rc = run_jvm(cmd, deadline)
        if rc != 0 or not os.path.exists(out):
            print(f"perfbench: harness exited with {rc}", file=sys.stderr)
            return 3
        with open(out) as f:
            raw = json.load(f)
        if a.trace:
            keep = os.path.join(build.ROOT, ".bench_traces")
            os.makedirs(keep, exist_ok=True)
            shutil.copy(out, os.path.join(keep, f"{a.workload}-seed{a.seed}.json"))
    finally:
        shutil.rmtree(work, ignore_errors=True)
    metrics, report = summarize(raw)
    attempted = len(raw["ops"])
    failed = sum(1 for o in raw["ops"] if o["error"] is not None)
    print("context " + json.dumps(raw["context"], sort_keys=True))
    print("report " + json.dumps(report, sort_keys=True))
    for k, m in metrics.items():
        print(f"{a.workload} {k} = {m['value']:.6g} {m['unit']}")
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())

#!/usr/bin/env python3
"""Benchmark entry point: builds the program from source, makes the
workload's inputs from the seed, runs one workload in one JVM and prints
one JSON result line last on stdout.

    python3 perfbench/run.py --workload etl_redirects --seed 1 --seconds 10 --trace 0

Workloads: etl_redirects, query_mix (see perfbench/README.md).
`--trace 1` reports per-layer metrics and writes the run's spans to
`.bench_build/perfbench/traces/`. Exits non-zero, printing no result,
when the program cannot be built or the run does not finish.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import build  # noqa: E402

WORKLOADS = ("etl_redirects", "query_mix")
RUN_LIMIT_S = 175
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def jvm_options(work):
    opts = []
    for p in ADD_OPENS:
        opts += ["--add-opens", f"{p}=ALL-UNNAMED"]
    return opts + [
        "-Xms2g", "-Xmx2g", "-XX:+AlwaysPreTouch", "-Xss4m", "-XX:+UseG1GC",
        f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
        f"-Dlog4j2.configurationFile={os.path.join(HERE, 'log4j2.properties')}",
        f"-Dderby.stream.error.file={os.path.join(work, 'derby.log')}",
    ]


def parse_result(stdout):
    lines = [ln for ln in stdout.splitlines() if ln.strip()]
    if not lines:
        return None
    try:
        r = json.loads(lines[-1])
    except ValueError:
        return None
    if set(r) != {"correct", "attempted", "failed", "metrics"} or r["attempted"] < 1:
        return None
    return r


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args(argv)

    try:
        cp = build.build()
    except build.BuildError as e:
        print(f"[perfbench] build failed: {e}", file=sys.stderr)
        return 2

    t0 = time.monotonic()
    work = os.path.join(build.OUT, f"work-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    try:
        if a.workload == "query_mix":
            import tablegen
            tablegen.write(os.path.join(work, "tables"), a.seed, cache_dir=build.OUT)
        cmd = ["java"] + jvm_options(work) + ["-cp", cp, "perfbench.Driver",
               "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
               "--trace", str(a.trace), "--work", work,
               "--expected", os.path.join(HERE, "expected", "query_mix.json")]
        # the JVM's stdin stays open while this process lives; the JVM
        # halts when it closes, so it cannot outlive a killed launcher
        proc = subprocess.Popen(cmd, cwd=work, stdin=subprocess.PIPE,
                                stdout=subprocess.PIPE, text=True)

        def stop(signum, _frame):
            proc.kill()
            proc.wait()
            sys.exit(128 + signum)
        signal.signal(signal.SIGTERM, stop)
        signal.signal(signal.SIGINT, stop)
        chunks = []
        reader = threading.Thread(target=lambda: chunks.append(proc.stdout.read()))
        reader.start()
        try:
            proc.wait(timeout=max(1, RUN_LIMIT_S - (time.monotonic() - t0)))
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            print("[perfbench] run exceeded its time limit", file=sys.stderr)
            return 3
        finally:
            proc.stdin.close()
            reader.join()
        result = parse_result("".join(chunks))
        if proc.returncode != 0 or result is None:
            print(f"[perfbench] perfbench.Driver exited with {proc.returncode} and no result",
                  file=sys.stderr)
            return 4
        print(json.dumps(result))
        return 0
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())

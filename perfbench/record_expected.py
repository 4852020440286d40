#!/usr/bin/env python3
"""Rewrites `perfbench/expected/query_mix.json`, the row count and
order-insensitive hash of every query of the mix, from one pass over the
seed-1 tables. Table content does not depend on the seed.

    python3 perfbench/record_expected.py
"""
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import build  # noqa: E402
import run  # noqa: E402
import tablegen  # noqa: E402


def main():
    cp = build.build()
    work = os.path.join(build.OUT, f"record-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    try:
        tables = os.path.join(work, "tables")
        tablegen.write(tables, 1, cache_dir=build.OUT)
        cmd = ["java"] + run.jvm_options(work) + ["-cp", cp, "perfbench.RecordExpected",
               tables, os.path.join(HERE, "expected", "query_mix.json"), work]
        return subprocess.run(cmd, cwd=work).returncode
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())

#!/usr/bin/env python3
"""The benchmark's own tests: builds, checks the table generator here and
runs the Scala tests (`perfbench.SelfTest`) in one JVM.

    python3 perfbench/test.py
"""
import os
import shutil
import subprocess
import sys
import tempfile

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import build  # noqa: E402
import run  # noqa: E402
import tablegen  # noqa: E402


def tablegen_tests(tmp):
    import pyarrow.parquet as pq

    def read(d, name):
        with open(os.path.join(d, f"{name}.parquet"), "rb") as f:
            return f.read()
    for d, seed in (("a", 3), ("b", 3), ("c", 4)):
        tablegen.write(os.path.join(tmp, d), seed, cache_dir=tmp)
    a, b, c = (os.path.join(tmp, d) for d in "abc")
    assert read(a, "documents") == read(b, "documents"), "same seed, different tables"
    assert read(a, "documents") != read(c, "documents"), "another seed, same row order"
    ta = pq.read_table(os.path.join(a, "documents.parquet")).sort_by("doc_id")
    tc = pq.read_table(os.path.join(c, "documents.parquet")).sort_by("doc_id")
    assert ta.equals(tc), "the seed changed table contents, not only row order"
    print("ok   table generator: seed permutes rows, content fixed")


def main():
    cp = build.build()
    tmp = tempfile.mkdtemp(prefix="perfbench-test-", dir=build.OUT)
    try:
        tablegen_tests(tmp)
        os.makedirs(os.path.join(tmp, "tmp"))
        cmd = ["java"] + run.jvm_options(tmp) + ["-cp", cp, "perfbench.SelfTest", tmp]
        return subprocess.run(cmd, cwd=tmp).returncode
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())

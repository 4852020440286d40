"""Build file of the benchmark: compiles the program's main sources together
with the benchmark's own Scala sources, using the Scala compiler that ships
with the Spark distribution the program's `build.sbt` points at.

Usage: python3 perfbench/build.py      (from the root of a checkout)

Classes go to `.bench_build/perfbench/classes`. A stamp of every source's
content makes a second build with unchanged sources a no-op.
"""
import glob
import hashlib
import os
import re
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
OUT = os.path.join(ROOT, ".bench_build", "perfbench")
CLASSES = os.path.join(OUT, "classes")


class BuildError(Exception):
    pass


def spark_jars():
    """The Spark jar directory: the program's `unmanagedBase`, else
    `$SPARK_HOME/jars`."""
    sbt = os.path.join(ROOT, "build.sbt")
    if os.path.exists(sbt):
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', open(sbt).read())
        if m and os.path.isdir(m.group(1)):
            return m.group(1)
    home = os.environ.get("SPARK_HOME")
    if home and os.path.isdir(os.path.join(home, "jars")):
        return os.path.join(home, "jars")
    raise BuildError("no Spark jar directory: neither build.sbt's unmanagedBase nor $SPARK_HOME/jars")


def sources():
    prog = sorted(glob.glob(os.path.join(ROOT, "src", "main", "scala", "**", "*.scala"),
                            recursive=True))
    if not prog:
        raise BuildError("program sources (src/main/scala) not found")
    own = sorted(glob.glob(os.path.join(ROOT, "perfbench", "src", "**", "*.scala"),
                           recursive=True))
    return prog + own


def classpath():
    return CLASSES + os.pathsep + os.path.join(spark_jars(), "*")


def build(log=sys.stderr):
    """Compiles if any source changed; returns the runtime classpath."""
    jars = spark_jars()
    srcs = sources()
    h = hashlib.sha256(jars.encode())
    for s in srcs:
        h.update(s.encode())
        with open(s, "rb") as f:
            h.update(f.read())
    stamp = os.path.join(OUT, "stamp")
    if os.path.exists(stamp) and open(stamp).read() == h.hexdigest():
        return classpath()
    print(f"[perfbench] compiling {len(srcs)} sources", file=log)
    tmp = CLASSES + ".tmp"
    subprocess.run(["rm", "-rf", tmp], check=True)
    os.makedirs(tmp)
    cp = os.path.join(jars, "*")
    cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", cp, "scala.tools.nsc.Main",
           "-nowarn", "-d", tmp, "-classpath", cp] + srcs
    r = subprocess.run(cmd, stdout=log, stderr=log)
    if r.returncode != 0:
        raise BuildError(f"scalac exited with {r.returncode}")
    subprocess.run(["rm", "-rf", CLASSES], check=True)
    os.rename(tmp, CLASSES)
    with open(stamp, "w") as f:
        f.write(h.hexdigest())
    return classpath()


if __name__ == "__main__":
    try:
        print(build())
    except BuildError as e:
        print(f"[perfbench] build failed: {e}", file=sys.stderr)
        sys.exit(2)

#!/usr/bin/env python3
"""Build file of the graft benchmark.

Compiles graft (src/main/scala) together with the benchmark harness
(perfbench/harness) using the Scala compiler that ships in the Spark
distribution's jars, so no sbt and no network are needed. Output goes to
perfbench/.build/<source digest>/ and is reused while no source changes.

Usage, from the root of the repository:  python3 perfbench/build.py
It prints the classes directory.
"""
import hashlib
import os
import shutil
import subprocess
import sys

BENCH = os.path.relpath(os.path.dirname(os.path.abspath(__file__)))
BUILD = os.path.join(BENCH, ".build")


def spark_jars():
    """The jars of a Spark distribution: $SPARK_HOME's, else those of the
    first spark-submit on PATH that sits in a full distribution."""
    homes = [os.environ.get("SPARK_HOME", "")] + [
        os.path.dirname(os.path.dirname(os.path.realpath(os.path.join(d, "spark-submit"))))
        for d in os.environ.get("PATH", "").split(os.pathsep)
        if os.path.isfile(os.path.join(d, "spark-submit"))]
    for home in homes:
        if home and os.path.isdir(os.path.join(home, "jars")):
            return os.path.join(home, "jars")
    raise SystemExit("perfbench: no Spark distribution found; set SPARK_HOME")


def sources():
    found = []
    for top in ("src/main/scala", os.path.join(BENCH, "harness")):
        if not os.path.isdir(top):
            raise SystemExit(f"perfbench: {top} is missing; run from the root of a graft checkout")
        for d, _, files in os.walk(top):
            found += [os.path.join(d, f) for f in files if f.endswith(".scala")]
    return sorted(found)


def build():
    """Compile if needed; return the classes directory."""
    srcs = sources()
    jars = spark_jars()
    digest = hashlib.sha256()
    for s in srcs:
        digest.update(s.encode() + b"\0")
        with open(s, "rb") as f:
            digest.update(f.read())
    digest.update(" ".join(sorted(os.listdir(jars))).encode())
    out = os.path.join(BUILD, digest.hexdigest()[:16])
    if os.path.exists(os.path.join(out, "_BUILD_OK")):
        return out
    tmp = f"{out}.tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    cmd = ["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx2g", "-cp", os.path.join(jars, "*"),
           "scala.tools.nsc.Main", "-usejavacp", "-nowarn", "-d", tmp] + srcs
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        sys.stderr.write(r.stdout)
        raise SystemExit(f"perfbench: compile failed ({r.returncode})")
    open(os.path.join(tmp, "_BUILD_OK"), "w").close()
    for old in os.listdir(BUILD):  # earlier builds of other sources
        if os.path.join(BUILD, old) != tmp:
            shutil.rmtree(os.path.join(BUILD, old), ignore_errors=True)
    os.rename(tmp, out)
    return out


if __name__ == "__main__":
    print(build())

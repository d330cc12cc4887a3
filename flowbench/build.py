"""Compiles the program (src/main/scala) and the benchmark's Scala sources
(flowbench/src) with the Scala compiler that ships with Spark, into
.bench_build/flowbench/classes-<hash of the sources>. A second call with
unchanged sources reuses the classes.

Usage: python3 flowbench/build.py   (prints the classes directory)
"""
import fcntl
import glob
import hashlib
import os
import shutil
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
BUILD = os.path.join(ROOT, ".bench_build", "flowbench")


def spark_jars():
    jars = sorted(glob.glob(os.path.join(
        os.environ.get("SPARK_HOME", "/opt/spark"), "jars", "*.jar")))
    if not jars:
        raise SystemExit("no Spark jars found; set SPARK_HOME")
    return jars


def sources():
    found = []
    for top in ("src/main/scala", "flowbench/src"):
        for d, _, files in os.walk(os.path.join(ROOT, top)):
            found += [os.path.join(d, f) for f in files if f.endswith(".scala")]
    return sorted(found)


def build():
    srcs = sources()
    if not any("/src/main/scala/" in s for s in srcs):
        raise SystemExit(f"no program sources under {ROOT}/src/main/scala")
    jars = spark_jars()
    h = hashlib.sha256()
    for s in srcs + [os.path.basename(j) for j in jars]:
        h.update(s.encode())
        if os.path.isfile(s):
            with open(s, "rb") as f:
                h.update(f.read())
    out = os.path.join(BUILD, "classes-" + h.hexdigest()[:16])
    os.makedirs(BUILD, exist_ok=True)
    with open(os.path.join(BUILD, "build.lock"), "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        if os.path.isdir(out):
            return out
        tmp = out + ".tmp"
        shutil.rmtree(tmp, ignore_errors=True)
        os.makedirs(tmp)
        scala = [j for j in jars if os.path.basename(j).startswith(
            ("scala-compiler-", "scala-library-", "scala-reflect-"))]
        cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", ":".join(scala),
               "scala.tools.nsc.Main", "-nowarn", "-cp", ":".join(jars),
               "-d", tmp] + srcs
        if subprocess.run(cmd, stdout=sys.stderr).returncode != 0:
            shutil.rmtree(tmp, ignore_errors=True)
            raise SystemExit("compilation failed")
        os.rename(tmp, out)
    return out


if __name__ == "__main__":
    print(build())

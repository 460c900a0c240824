"""Build file of the benchmark: compiles graft's sources (src/main/scala)
together with the harness (perfbench/src) with the Scala compiler that ships
in Spark's jars (the directory build.sbt names as unmanagedBase). Output
goes to .bench_build/classes-<digest>; a build whose sources are unchanged
is reused.

Usage: python3 perfbench/build.py   (prints the class directory)
"""
import glob
import hashlib
import os
import re
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD_DIR = os.path.join(ROOT, ".bench_build")
RESOURCES = os.path.join(ROOT, "src", "main", "resources")


def spark_jars():
    """The jar directory graft builds against: build.sbt's unmanagedBase."""
    with open(os.path.join(ROOT, "build.sbt")) as f:
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
    if not m:
        raise RuntimeError("build.sbt names no unmanagedBase jar directory")
    return m.group(1)


def sources():
    main = sorted(glob.glob(os.path.join(ROOT, "src", "main", "scala", "**", "*.scala"),
                            recursive=True))
    if not main:
        raise FileNotFoundError("no graft sources under src/main/scala")
    return main + sorted(glob.glob(os.path.join(HERE, "src", "*.scala")))


def build():
    """Compile if needed; return the classpath for the harness JVM."""
    srcs = sources()
    jars = spark_jars()
    h = hashlib.sha256()
    for f in srcs:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    out = os.path.join(BUILD_DIR, "classes-" + h.hexdigest()[:16])
    if not os.path.exists(os.path.join(out, ".ok")):
        os.makedirs(out, exist_ok=True)
        cp = os.path.join(jars, "*")
        r = subprocess.run(["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx2g", "-cp", cp,
                            "scala.tools.nsc.Main",
                            "-nowarn", "-cp", cp, "-d", out] + srcs,
                           stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
        if r.returncode != 0:
            sys.stderr.write(r.stdout[-4000:])
            raise RuntimeError("compilation failed")
        open(os.path.join(out, ".ok"), "w").close()
    return os.pathsep.join([out, RESOURCES, os.path.join(jars, "*")])


if __name__ == "__main__":
    print(build())

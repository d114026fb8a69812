"""Builds the program (src/main/scala) and the benchmark's JVM side
(perfbench/scala) into one class directory with scalac.

The Scala compiler and Spark come from the jar directory the repository's
build.sbt names as `unmanagedBase`. A content stamp skips the build when no
source changed. Usage, from the repository root:

    python3 perfbench/build.py
"""
import hashlib
import os
import re
import shutil
import subprocess
import sys

BUILD_DIR = ".bench_build"


def jar_dir(root):
    """The Spark/Scala jar directory named in the repository's build.sbt."""
    with open(os.path.join(root, "build.sbt")) as f:
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
    if not m or not os.path.isdir(m.group(1)):
        raise SystemExit("build.sbt names no existing unmanagedBase jar directory")
    return m.group(1)


def _sources(root):
    dirs = [os.path.join(root, "src", "main", "scala"),
            os.path.join(os.path.dirname(os.path.abspath(__file__)), "scala")]
    out = []
    for d in dirs:
        for base, _, files in os.walk(d):
            out += [os.path.join(base, f) for f in files if f.endswith(".scala")]
    return sorted(out)


def build(root, log=sys.stderr):
    """Compiles if needed; returns the classpath to run with."""
    jars = jar_dir(root)
    sources = _sources(root)
    if not any(s.endswith(os.path.join("graft", "SparkEntry.scala")) for s in sources):
        raise SystemExit("no program sources under src/main/scala")
    digest = hashlib.sha256()
    for s in sources + [os.path.join(root, "build.sbt")]:
        digest.update(os.path.relpath(s, root).encode())
        with open(s, "rb") as f:
            digest.update(f.read())
    classes = os.path.join(root, BUILD_DIR, "classes")
    stamp = os.path.join(root, BUILD_DIR, "classes.stamp")
    if not (os.path.exists(stamp) and open(stamp).read() == digest.hexdigest()):
        shutil.rmtree(classes, ignore_errors=True)
        os.makedirs(classes)
        print(f"building {len(sources)} sources", file=log, flush=True)
        subprocess.run(
            ["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx3g", "-cp", os.path.join(jars, "*"),
             "scala.tools.nsc.Main", "-usejavacp", "-nowarn", "-d", classes] + sources,
            # scalac's default user classpath is the working directory
            cwd=classes, check=True, stdout=log, stderr=log, timeout=850)
        with open(stamp, "w") as f:
            f.write(digest.hexdigest())
    return os.path.join(jars, "*") + os.pathsep + classes


if __name__ == "__main__":
    build(os.getcwd())
